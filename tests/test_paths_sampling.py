"""Transition-matrix semantics + stratified-sample determinism/plan."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from w_userflow_featurestore_spark.operators.paths import transition_matrix
from w_userflow_featurestore_spark.operators.sampling import (
    stratified_sample)
from tests.conftest import rows
from w_userflow_featurestore_spark.plans import assert_plan


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")


def test_transition_counts_and_row_normalization(spark):
    rows = [
        (1, 1, "view", _ts("2024-01-01 09:00:00")),
        (2, 1, "click", _ts("2024-01-01 09:01:00")),
        (3, 1, "view", _ts("2024-01-01 09:02:00")),
        (4, 1, "error", _ts("2024-01-01 09:03:00")),
        (5, 2, "view", _ts("2024-01-01 10:00:00")),
        (6, 2, "click", _ts("2024-01-01 10:01:00")),
    ]
    got = {(r.from_type, r.to_type): (r.n_transitions, r.prob)
           for r in transition_matrix(_events(spark, rows)).collect()}
    # view -> click twice (users 1+2), view -> error once
    assert got[("view", "click")] == (2, 0.6667)
    assert got[("view", "error")] == (1, 0.3333)
    assert got[("click", "view")] == (1, 1.0)
    # no pair across users, no self-transition invented
    assert ("error", "view") not in got


def test_transitions_do_not_cross_midnight(spark):
    rows = [
        (1, 1, "view", _ts("2024-01-01 23:59:00")),
        (2, 1, "click", _ts("2024-01-02 00:01:00")),
    ]
    assert transition_matrix(_events(spark, rows)).count() == 0


def test_stratified_sample_exact_and_stable(spark):
    rows = [(i, i, t, _ts("2024-01-01 09:00:00"))
            for i in range(300) for t in [["view", "click", "error"][i % 3]]]
    ev = _events(spark, rows)
    frac = {"view": 0.5, "click": 0.1}
    a = sorted(r.event_id for r in
               stratified_sample(ev, frac, "event_type",
                                 id_col="event_id").collect())
    b = sorted(r.event_id for r in
               stratified_sample(ev.repartition(7), frac, "event_type",
                                 id_col="event_id").collect())
    assert a == b and a                      # partitioning-independent
    kept = ev.where(F.col("event_id").isin(a))
    types = {r.event_type for r in kept.select("event_type").collect()}
    assert "error" not in types              # unlisted stratum dropped
    n_view = kept.where("event_type = 'view'").count()
    n_click = kept.where("event_type = 'click'").count()
    assert 30 <= n_view <= 70 and n_click <= 25   # ~50 and ~10 of 100


def test_stratified_sample_is_projection_only(spark):
    ev = _events(spark, [(1, 1, "view", _ts("2024-01-01 09:00:00"))])
    assert_plan(stratified_sample(ev, {"view": 0.5}, "event_type",
                                  id_col="event_id"),
                max_shuffles=0)


def test_transition_plan_shuffle_budget(spark):
    ev = _events(spark, [(1, 1, "view", _ts("2024-01-01 09:00:00")),
                         (2, 1, "click", _ts("2024-01-01 09:01:00"))])
    # lead window on (day, user) + matrix agg + tiny row-total window
    assert_plan(transition_matrix(ev), max_shuffles=3)


def test_weighted_sample_extremes_and_determinism(spark):
    from pyspark.sql import functions as F
    from w_userflow_featurestore_spark.operators.sampling import (
        weighted_sample)
    df = spark.range(500).withColumnRenamed("id", "doc_id")
    assert weighted_sample(df, F.lit(1.0)).count() == 500   # w=1 keeps all
    assert weighted_sample(df, F.lit(0.0)).count() == 0     # w=0 drops all
    half = weighted_sample(df, F.lit(0.5))
    n = half.count()
    assert 200 < n < 300                                    # ~250 expected
    # deterministic: same rows on rerun
    assert sorted(r.doc_id for r in half.collect()) == \
        sorted(r.doc_id for r in half.collect())


def test_weighted_sample_rate_tracks_weight(spark):
    from pyspark.sql import functions as F
    from w_userflow_featurestore_spark.operators.sampling import (
        weighted_sample)
    df = spark.range(2000).withColumnRenamed("id", "doc_id") \
        .withColumn("w", F.when(F.col("doc_id") < 1000, 0.1).otherwise(0.9))
    kept = weighted_sample(df, F.col("w")).groupBy("w").count().collect()
    rates = {round(r.w, 1): r["count"] for r in kept}
    assert 50 < rates[0.1] < 160 and 830 < rates[0.9] < 960


def test_weighted_sample_is_projection_only(spark):
    from pyspark.sql import functions as F
    from w_userflow_featurestore_spark.operators.sampling import (
        weighted_sample)
    from w_userflow_featurestore_spark.plans import assert_plan
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    assert_plan(weighted_sample(df, F.lit(0.5)), max_shuffles=0)


def test_behavior_diversity_gini_values(spark):
    from w_userflow_featurestore_spark.operators.paths import (
        behavior_diversity)
    ev = spark.createDataFrame(
        # user 1: 2 view + 2 click -> gini = 1 - 2*(1/2)^2 = 0.5
        [(1, 1, "view"), (2, 1, "view"), (3, 1, "click"), (4, 1, "click"),
         # user 2: monotone -> 0.0
         (5, 2, "view"), (6, 2, "view"),
         # user 3: 3 distinct of 3 -> 1 - 3*(1/3)^2 = 0.6667
         (7, 3, "view"), (8, 3, "click"), (9, 3, "purchase")],
        "event_id long, user_id long, event_type string")
    got = {r.user_id: r for r in behavior_diversity(ev).collect()}
    assert got[1].gini_impurity == 0.5 and got[1].n_behaviors == 2
    assert got[2].gini_impurity == 0.0
    assert got[3].gini_impurity == 0.6667 and got[3].n_events == 3


def test_transition_matrix_salted_identical_to_unsalted(spark):
    """Skew option for the lead-window path operator: within-block
    pairs + boundary stitching must reproduce the exact transition
    counts for aligned, misaligned, and single-event-block spans."""
    from w_userflow_featurestore_spark.sources import read_table
    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    want = rows(transition_matrix(ev))
    for span in (3_600_000, 421_000, 1_000):
        got = rows(transition_matrix(ev, salt_span_ms=span))
        assert got == want, f"span={span}"


def test_source_balanced_sample_thins_hot_sources_only(spark):
    from w_userflow_featurestore_spark.operators.sampling import (
        source_balanced_sample,
    )
    # 3 sources: 900 / 90 / 10 rows; mean = 1000/3 = 333
    data = [(i, "hot" if i < 900 else ("warm" if i < 990 else "cold"))
            for i in range(1000)]
    docs = spark.createDataFrame(data, "doc_id long, source string")
    got = source_balanced_sample(docs).groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in got}
    # keep_bp(hot) = floor(1000*1000/(3*900)) = 370 -> ~37% of 900
    assert 280 <= counts["hot"] <= 390
    # at/below the mean: everything survives (rate clamps at 1)
    assert counts["warm"] == 90 and counts["cold"] == 10
    # deterministic: rerun identical
    again = {r["source"]: r["count"]
             for r in source_balanced_sample(docs)
             .groupBy("source").count().collect()}
    assert again == counts


def test_source_balanced_sample_is_broadcast_no_corpus_shuffle(spark):
    from w_userflow_featurestore_spark.operators.sampling import (
        source_balanced_sample,
    )
    from w_userflow_featurestore_spark.plans import (
        broadcast_join_count, sort_merge_join_count,
    )
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], "doc_id long, source string")
    df = source_balanced_sample(docs)
    assert broadcast_join_count(df) >= 1
    assert sort_merge_join_count(df) == 0


def test_path_ngrams_null_step_disqualifies_gram(spark):
    """A NULL event type ANYWHERE in the window kills the gram.

    concat_ws skips NULLs, so without the per-step guard a stream
    (a, NULL, b) would yield the phantom trigram 'a>b'. The guard must
    drop grams with a NULL at any position — head, middle, or running
    off the stream end — matching the oracle's NULL-propagating ||.
    """
    import datetime as dt

    from w_userflow_featurestore_spark.operators.paths import path_ngrams

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(minutes=i), 1, et)
            for i, et in enumerate(["a", None, "b", "c", "d"])]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    paths = {r["path"]: r["n_paths"]
             for r in path_ngrams(ev, n=3, k=10).collect()}
    # only the fully-non-null window survives
    assert paths == {"b>c>d": 1}


def test_corpus_shuffle_is_a_deterministic_permutation(spark):
    from w_userflow_featurestore_spark.operators.sampling import (
        corpus_shuffle,
    )
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(40)],
                                 "doc_id long, text string")
    out = corpus_shuffle(docs, n_shards=4).collect()
    # permutation: every doc exactly once, shards in range, positions
    # dense 1..n within each shard
    assert sorted(r["doc_id"] for r in out) == list(range(40))
    per_shard: dict = {}
    for r in out:
        assert 0 <= r["shard"] < 4
        per_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    for poss in per_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic across runs; a different seed reorders
    again = corpus_shuffle(docs, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = corpus_shuffle(docs, n_shards=4, seed="epoch2").collect()
    assert {(r["doc_id"], r["shard"], r["shard_pos"]) for r in out} \
        != {(r["doc_id"], r["shard"], r["shard_pos"]) for r in other}


def test_token_budget_mix_fills_greedily_to_budget(spark):
    from w_userflow_featurestore_spark.operators.sampling import (
        token_budget_mix,
    )
    rows_in = [(i, "w " * 10, "a") for i in range(10)] \
        + [(100 + i, "w " * 10, "b") for i in range(2)]
    docs = spark.createDataFrame(rows_in,
                                 "doc_id long, text string, source string")
    out = token_budget_mix(docs, budget_tokens=35,
                           overrides={"b": 1000}).collect()
    by_src: dict = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # source a: 10 docs x 10 tokens, budget 35 -> exactly 4 kept (the
    # 4th starts at cum 30 < 35; the 5th at 40 >= 35)
    a = sorted(by_src["a"], key=lambda r: r["cum_before"])
    assert [r["kept"] for r in a] == [True] * 4 + [False] * 6
    assert [r["cum_before"] for r in a] == [i * 10 for i in range(10)]
    # kept set is a PREFIX of the hash order: no kept doc after a drop
    # override source keeps everything under its own budget
    assert all(r["kept"] for r in by_src["b"])
    # every nonempty source contributes at least one doc
    assert a[0]["kept"]


def test_token_budget_mix_is_stable_under_corpus_growth(spark):
    """Appending docs never flips an existing doc's hash position
    relative to another existing doc — kept can only change where the
    budget boundary moves; with a budget covering everything, the
    decision for old docs is unchanged."""
    from w_userflow_featurestore_spark.operators.sampling import (
        token_budget_mix,
    )
    base = [(i, "t " * 5, "s") for i in range(6)]
    small = spark.createDataFrame(base,
                                  "doc_id long, text string, source string")
    grown = spark.createDataFrame(
        base + [(50 + i, "t " * 5, "s") for i in range(3)],
        "doc_id long, text string, source string")
    got_small = {r["doc_id"]: r["cum_before"]
                 for r in token_budget_mix(small, 10 ** 6).collect()}
    got_grown = {r["doc_id"]: r["cum_before"]
                 for r in token_budget_mix(grown, 10 ** 6).collect()}
    # relative order of the original docs is preserved: cum_before
    # among originals is monotone in the same order
    orig_order_small = sorted(got_small, key=got_small.get)
    orig_order_grown = sorted((d for d in got_grown if d < 50),
                              key=got_grown.get)
    assert orig_order_small == orig_order_grown


def test_leakage_safe_split_keeps_clusters_together(spark):
    from w_userflow_featurestore_spark.operators.sampling import (
        dataset_split, leakage_safe_split,
    )
    docs = spark.createDataFrame([(i,) for i in range(30)],
                                 "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 25)],
        "doc_a long, doc_b long")
    out = {r["doc_id"]: r for r in
           leakage_safe_split(docs, pairs).collect()}
    assert len(out) == 30
    # every pair's endpoints land in the same split, via the same
    # group key (the component's smallest member)
    for a, b in [(1, 2), (2, 3), (1, 3), (10, 11), (20, 25)]:
        assert out[a]["split"] == out[b]["split"]
        assert out[a]["group_key"] == out[b]["group_key"]
    assert out[1]["group_key"] == 1 and out[20]["group_key"] == 20
    # docs outside any pair get EXACTLY the dataset_split assignment
    # (same salt, group key = own id)
    base = {r["doc_id"]: r["split"]
            for r in dataset_split(docs).collect()}
    for d, r in out.items():
        if d not in {1, 2, 3, 10, 11, 20, 25}:
            assert r["split"] == base[d] and r["group_key"] == d


def test_leakage_safe_split_string_doc_ids(spark):
    """Round-6 advice regression: a cast('long') on the group key turned
    every non-numeric string id into NULL -> hash_bucket(NULL) = NULL ->
    every doc fell through to split='test' with zero errors raised.
    String ids must split like dataset_split (non-pair docs) and keep
    clusters together, with a non-degenerate split distribution."""
    from w_userflow_featurestore_spark.operators.sampling import (
        dataset_split, leakage_safe_split,
    )
    docs = spark.createDataFrame([(f"doc-{i:03d}",) for i in range(40)],
                                 "doc_id string")
    pairs = spark.createDataFrame(
        [("doc-001", "doc-002"), ("doc-002", "doc-003"),
         ("doc-010", "doc-011")],
        "doc_a string, doc_b string")
    out = {r["doc_id"]: r for r in
           leakage_safe_split(docs, pairs).collect()}
    assert len(out) == 40
    for a, b in [("doc-001", "doc-002"), ("doc-001", "doc-003"),
                 ("doc-010", "doc-011")]:
        assert out[a]["split"] == out[b]["split"]
        assert out[a]["group_key"] == out[b]["group_key"] == min(a, b)
    base = {r["doc_id"]: r["split"] for r in dataset_split(docs).collect()}
    clustered = {"doc-001", "doc-002", "doc-003", "doc-010", "doc-011"}
    for d, r in out.items():
        if d not in clustered:
            assert r["split"] == base[d] and r["group_key"] == d
    # the failure mode was "everything lands in test": assert train
    # actually gets its ~80% share
    splits = [r["split"] for r in out.values()]
    assert splits.count("train") >= 20


def test_temperature_mix_weights_flatten_and_feed_the_fill(spark):
    """tau=1 reproduces natural token proportions; tau=2 up-weights the
    low-resource source (share strictly between its natural share and
    uniform); budgets allocate the total and feed token_budget_mix's
    overrides verbatim; non-power-of-two tau raises."""
    import pytest as _pytest

    from w_userflow_featurestore_spark.operators.sampling import (
        temperature_mix_weights, token_budget_mix,
    )
    # big: 360 tokens, small: 40 -> natural shares 90% / 10%
    docs = spark.createDataFrame(
        [(i, "tok " * 9, "big") for i in range(40)]
        + [(100 + i, "tok " * 5, "small") for i in range(8)],
        "doc_id long, text string, source string")
    nat = {r["source"]: r for r in
           temperature_mix_weights(docs, 1000, tau=1).collect()}
    assert nat["big"]["n_tokens"] == 360 and nat["small"]["n_tokens"] == 40
    # tau=1: weight_micro == n_tokens * 1e6, shares = natural proportions
    assert nat["big"]["weight_micro"] == 360 * 10 ** 6
    assert nat["big"]["share_bp"] == 9000 and nat["small"]["share_bp"] == 1000
    flat = {r["source"]: r for r in
            temperature_mix_weights(docs, 1000, tau=2).collect()}
    # sqrt flattening: small's share rises above natural (1000 bp) but
    # stays below uniform (5000 bp); shares still sum to <= 10000
    assert 1000 < flat["small"]["share_bp"] < 5000
    assert flat["big"]["share_bp"] + flat["small"]["share_bp"] <= 10000
    # budgets partition the total (floor rounding may leave a remainder
    # smaller than the number of sources)
    total = flat["big"]["budget_tokens"] + flat["small"]["budget_tokens"]
    assert 1000 - 2 <= total <= 1000
    # the budgets column IS token_budget_mix's overrides input
    overrides = {r["source"]: int(r["budget_tokens"])
                 for r in temperature_mix_weights(docs, 200, tau=2)
                 .collect()}
    filled = token_budget_mix(docs, 0, overrides=overrides)
    kept = (filled.where(F.col("kept")).groupBy("source")
            .agg(F.sum("n_tokens").alias("t")).collect())
    got = {r["source"]: r["t"] for r in kept}
    # every source contributes, and realized tokens overshoot each
    # budget by at most one doc (the fill's contract)
    for s, b in overrides.items():
        assert got[s] > 0
        per_doc = 9 if s == "big" else 5
        assert got[s] <= b + per_doc
    with _pytest.raises(ValueError):
        temperature_mix_weights(docs, 1000, tau=3)


def test_split_leakage_audit_cluster_scheme_has_no_cross_cells(spark):
    """The audit PROVES the leakage-safe split's invariant instead of
    trusting the constructor: under scheme 'cluster' every pair's
    endpoints share a component, hence a split — zero off-diagonal
    cells, ever. The doc_hash scheme on the same chain MUST show the
    contamination (endpoints hashed independently), otherwise the
    contrast the audit reports is vacuous."""
    from w_userflow_featurestore_spark.operators.sampling import (
        split_leakage_audit,
    )
    # long chains maximize independent-hash disagreement
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 399, 2)],
        "doc_a long, doc_b long")
    out = split_leakage_audit(pairs).collect()
    cluster = [r for r in out if r["scheme"] == "cluster"]
    assert cluster and all(r["split_a"] == r["split_b"] for r in cluster)
    naive_cross = sum(r["n_pairs"] for r in out
                      if r["scheme"] == "doc_hash"
                      and r["split_a"] != r["split_b"])
    assert naive_cross > 0
    # totals: every pair lands in exactly one cell per scheme
    for scheme in ("doc_hash", "cluster"):
        assert sum(r["n_pairs"] for r in out
                   if r["scheme"] == scheme) == 200


# ----------------------------------------------------------- dsir_select

def _dsir_docs(spark):
    from w_userflow_featurestore_spark.sources import read_table
    from tests.conftest import SF0001
    docs = read_table(spark, SF0001, "documents",
                      columns=["doc_id", "text", "lang"])
    return (docs.select("doc_id", "text"),
            docs.where(F.col("lang") == "en").select("text"))


def test_dsir_select_is_exact_topk(spark):
    """The histogram-threshold plan must reproduce the top-k SEMANTIC
    exactly: same rows as ORDER BY (score_bits DESC, doc_id) LIMIT k on
    the score frame, exact k rows, and the boundary score's ties
    resolved by doc_id (the smallest tie ids win)."""
    from w_userflow_featurestore_spark.operators.sampling import (
        dsir_importance, dsir_select,
    )
    raw, target = _dsir_docs(spark)
    k = 37          # deliberately not aligned to any score boundary
    got = sorted(map(tuple, dsir_select(raw, target, k).collect()))
    want = sorted(map(tuple,
                      dsir_importance(raw, target)
                      .orderBy(F.desc("score_bits"), F.asc("doc_id"))
                      .limit(k).collect()))
    assert len(got) == k
    assert got == want


def test_dsir_select_budget_over_corpus_keeps_everything(spark):
    from w_userflow_featurestore_spark.operators.sampling import (
        dsir_importance, dsir_select,
    )
    raw, target = _dsir_docs(spark)
    n = dsir_importance(raw, target).count()
    out = dsir_select(raw, target, n + 1000)
    assert out.count() == n


def test_dsir_select_tokens_matches_greedy_walk_and_keeps_small_corpus(spark):
    """The histogram-boundary plan must reproduce the greedy token walk
    exactly (keep while cum_before < budget over (score DESC, id)), and
    a corpus smaller than the budget is kept whole."""
    from w_userflow_featurestore_spark.operators.sampling import (
        dsir_importance, dsir_select_tokens,
    )
    from w_userflow_featurestore_spark.operators.text import (
        token_count_ws,
    )
    raw, target = _dsir_docs(spark)
    budget = 7_000
    got = sorted(map(tuple,
                     dsir_select_tokens(raw, target, budget).collect()))
    scored = (dsir_importance(raw, target)
              .join(raw.select("doc_id",
                               token_count_ws("text")
                               .cast("long").alias("n_tokens")),
                    "doc_id")
              .orderBy(F.desc("score_bits"), F.asc("doc_id")).collect())
    want, cum = [], 0
    for r in scored:
        if cum < budget:
            want.append((r["doc_id"], r["n_feats"], r["score_bits"],
                         r["n_tokens"]))
        cum += r["n_tokens"]
    assert got == sorted(want)
    assert 0 < len(got) < len(scored)
    everything = dsir_select_tokens(raw, target, 10**12)
    assert everything.count() == len(scored)


def test_dsir_selectors_reject_nonpositive_budgets(spark):
    import pytest
    from w_userflow_featurestore_spark.operators.sampling import (
        dsir_select, dsir_select_tokens,
    )
    raw, target = _dsir_docs(spark)
    with pytest.raises(ValueError, match="budget_docs"):
        dsir_select(raw, target, 0)
    with pytest.raises(ValueError, match="budget_tokens"):
        dsir_select_tokens(raw, target, 0)
