"""Incremental curation against a signature-index ledger. Every test
runs over a ledger of k=4 and of k=8 minhashes: the batch signatures
are built at the ledger's k."""

from __future__ import annotations

import pytest

from w_userflow_featurestore_spark.operators.curate import (
    incremental_curate, signature_index)

# long repeated-token texts score past the 0.5 quality floor
_BASE = ("spark shuffle partition broadcast join aggregate window "
         "filter project scan codegen stage executor driver task "
         "memory spill hash sort merge stream batch table column") * 3

K = pytest.mark.parametrize("k", [4, 8])


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@K
def test_exact_dup_of_ledger_dropped(spark, k):
    ledger = signature_index(_docs(spark, [(2, _BASE)]), k=k)
    new = _docs(spark, [(3, _BASE),                 # exact dup of corpus
                        (5, _BASE + " unique closing sentence here")])
    kept = {r.doc_id for r in incremental_curate(new, ledger).collect()}
    assert 3 not in kept


@K
def test_near_dup_of_ledger_dropped_even_with_higher_corpus_id(spark, k):
    # corpus id 100 > batch id 3: corpus still wins (no id-order rule
    # across the ledger boundary)
    ledger = signature_index(_docs(spark, [(100, _BASE)]), k=k)
    new = _docs(spark, [(3, _BASE)])
    assert incremental_curate(new, ledger).count() == 0


@K
def test_batch_internal_rules_apply(spark, k):
    ledger = signature_index(_docs(spark, [(0, "totally different corpus "
                                           "ledger text " * 20)]), k=k)
    new = _docs(spark, [(3, _BASE), (5, _BASE),     # exact dup: 5 loses
                        (7, "!!! ??? !!!")])        # quality floor
    kept = {r.doc_id for r in incremental_curate(new, ledger).collect()}
    assert kept == {3}


@K
def test_clean_batch_survives(spark, k):
    ledger = signature_index(_docs(spark, [(0, _BASE)]), k=k)
    other = ("completely unrelated vocabulary about cooking pasta "
             "tomato basil garlic oven recipe kitchen dinner salt "
             "pepper olive oil boil simmer plate serve guest") * 3
    new = _docs(spark, [(9, other)])
    got = incremental_curate(new, ledger).collect()
    assert [r.doc_id for r in got] == [9]
    assert got[0].content_hash is not None
