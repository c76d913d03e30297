"""Expression helpers take SQL fragments only, and the caller strings
they embed (seeds, salts) reach the hash exactly as written."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

import w_userflow_featurestore_spark.operators.dedup as DD
import w_userflow_featurestore_spark.operators.experiment as EXP
import w_userflow_featurestore_spark.operators.sampling as SMP
import w_userflow_featurestore_spark.operators.similarity as SIM
import w_userflow_featurestore_spark.operators.text as TX
from w_userflow_featurestore_spark.functions import bp, sql_str, whole_bits
from w_userflow_featurestore_spark.operators.sketch import cms_build

# a quote, a backslash that the SQL parser would read as ``\n``, and both
HOSTILE = ["o'k", "a\\nb", "x\\'); --"]


def h60(text: str) -> int:
    """Python twin of text_hash60: first 15 hex digits of md5."""
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


@pytest.mark.parametrize("seed", HOSTILE)
def test_seeds_and_salts_hash_their_exact_text(spark, seed):
    df = spark.createDataFrame([("x", 7)], "s string, i long")
    got = df.select(
        DD.text_hash60("s", seed=seed).alias("h"),
        SMP.hash_bucket("i", 1000, salt=seed).alias("bucket"),
        EXP.ab_assign("i", 3, salt=seed).alias("arm")).first()
    assert got["h"] == h60(f"{seed}:x")
    assert got["bucket"] == h60(f"{seed}:7") % 1000
    assert got["arm"] == h60(f"{seed}:7") % 3
    cells = cms_build(df, "s", depth=2, width=64, salt=seed).collect()
    assert sorted((r["d"], r["cell"]) for r in cells) == [
        (d, h60(f"{seed}:{d}:x") % 64) for d in range(2)]


def test_sql_str_round_trips_any_text(spark):
    values = HOSTILE + ["\\u0041", "tab\there", "line\nbreak", "\\\\", ""]
    got = spark.range(1).select(
        *[F.expr(sql_str(v)).alias(f"v{i}") for i, v in enumerate(values)]
    ).first()
    assert list(got) == values


HELPERS = [
    (DD.text_hash60, ()), (DD.normalize_text, ()), (DD.content_hash, ()),
    (DD.words, ()),
    (DD.shingles, ()), (TX.token_count_ws, ()), (TX.token_count_bpe, ()),
    (TX.lang_id, ()), (TX.quality_score, ()), (TX.doc_fingerprint, ()),
    (SIM.quantize, ()), (SIM.dot_q, ("b",)), (SIM.norm_q, ()),
    (SIM.bucket_q, ()), (SIM.l2_q, ("b",)),
    (SMP.hash_bucket, ()), (EXP.ab_assign, ()), (bp, ("a",)),
    (whole_bits, ("a",)),
]


@pytest.mark.parametrize("helper,rest", HELPERS,
                         ids=[h.__name__ for h, _ in HELPERS])
def test_fragment_helpers_reject_a_column(spark, helper, rest):
    """A Column renders into the fragment as ``Column<'a'>``, which the
    SQL parser rejects when the expression is first used."""
    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(ParseException):
        df.select(helper(F.col("a"), *rest)).schema
