"""Property-based validation: the Spark sessionizer vs an independent
pure-Python model on randomized event streams (hypothesis).

The model re-implements the SEMANTICS (gap splitting, rollup, ordered
state machine) with plain dicts — no Spark, no shared code — so any
agreement bug in the DataFrame implementation shows up as a property
violation rather than an oracle coincidence.
"""

# max_examples are sized so the full Tier-1 run fits its wall-clock
# budget, and Tier-1 draws derandomized examples (tests/conftest.py).
# A deeper sweep raises max_examples locally; strategies are unchanged.


from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.operators.sessionize import (
    DEFAULT_COMPLETE_THRESHOLD, DEFAULT_GAP_MS, DEFAULT_TIMEOUT_MS,
    sessionize,
)

NOW = "2024-02-01 00:00:00"
NOW_MS = int(dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc)
             .timestamp() * 1000)
BASE = dt.datetime(2024, 1, 15, 12, 0, 0)

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")

event_strategy = st.tuples(
    st.integers(0, 2),                               # user_id
    st.integers(0, 3 * 60 * 60 * 1000),              # offset ms over 3 h
    st.sampled_from(["view", "click", "purchase", "error"]),
    st.integers(0, 12000).map(lambda c: c / 100.0),  # value, 2-decimal
)


def _python_model(events):
    """Independent sessionizer: sort per user, split on gap, classify."""
    per_user: dict[int, list] = {}
    for eid, (uid, off, etype, value) in enumerate(events):
        ts = BASE + dt.timedelta(milliseconds=off)
        per_user.setdefault(uid, []).append((ts, eid, etype, value))
    sessions = []
    for uid, evs in per_user.items():
        evs.sort()
        cur = []
        for e in evs:
            if cur and (e[0] - cur[-1][0]).total_seconds() * 1000 > DEFAULT_GAP_MS:
                sessions.append((uid, cur))
                cur = []
            cur.append(e)
        if cur:
            sessions.append((uid, cur))
    out = []
    for uid, evs in sessions:
        max_value = round(max(v for _, _, _, v in evs), 2)
        seen = {etype for _, _, etype, _ in evs}
        end_ms = int(evs[-1][0].replace(tzinfo=dt.timezone.utc)
                     .timestamp() * 1000)
        if "purchase" in seen and max_value >= DEFAULT_COMPLETE_THRESHOLD:
            state = "COMPLETE"
        elif "error" in seen:
            state = "EXIT"
        elif NOW_MS - end_ms > DEFAULT_TIMEOUT_MS:
            state = "TIMEOUT_EXIT"
        else:
            state = "IN_PROGRESS"
        out.append((uid, evs[0][0], evs[-1][0], len(evs), evs[0][2],
                    max_value, state))
    return sorted(out)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(event_strategy, min_size=1, max_size=40, unique_by=lambda e: (e[0], e[1])))
def test_sessionize_matches_independent_model(spark, events):
    rows_in = [
        (eid, BASE + dt.timedelta(milliseconds=off), uid, etype, value,
         '{"k": 1}')
        for eid, (uid, off, etype, value) in enumerate(events)]
    df = spark.createDataFrame(rows_in, EVENTS_DDL)
    got = sorted(
        (r["user_id"], r["start_time"], r["end_time"], r["n_events"],
         r["entry_event_type"], r["max_value"], r["session_state"])
        for r in sessionize(df, now=NOW).collect())
    want = _python_model(events)
    assert got == want
    # structural invariants (FIXTURES.md §2): exclusive terminal flags,
    # total event conservation
    s = sessionize(df, now=NOW).collect()
    assert sum(r["n_events"] for r in s) == len(events)
    for r in s:
        assert r["is_complete"] + r["is_exit"] <= 1
        assert r["start_time"] <= r["end_time"]
        assert (r["is_exit"] == 1) == (r["session_state"] in
                                       ("EXIT", "TIMEOUT_EXIT"))


word_strategy = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=2),
    min_size=1, max_size=30)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(word_strategy)
def test_repetition_profile_matches_counter_model(spark, words_list):
    """repetition_profile's sorted-run-length mode counts == an
    independent collections.Counter model, for arbitrary word streams."""
    from collections import Counter

    from w_userflow_featurestore_spark.operators.text import (
        repetition_profile)

    text = " ".join(words_list)
    (row,) = repetition_profile(
        spark.createDataFrame([(1, text)], "doc_id long, text string")
    ).collect()
    wc = Counter(words_list)
    n = len(words_list)
    assert row.n_words == n
    assert row.n_distinct_words == len(wc)
    top_w = max(wc.values())
    assert abs(row.top_word_frac - round(top_w / n, 4)) < 1e-9
    if n >= 2:
        bc = Counter(zip(words_list, words_list[1:]))
        assert abs(row.top_bigram_frac
                   - round(max(bc.values()) / (n - 1), 4)) < 1e-9
    else:
        assert row.top_bigram_frac == 0.0


# ---------------------------------------------------------------- pagerank

graph_strategy = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7),
              st.integers(1, 5)),                    # src, dst, weight
    min_size=1, max_size=24)


def _pagerank_model(edges, iterations=10, scale=10 ** 9):
    """Independent quantized PageRank: plain dicts, same truncating
    integer arithmetic as operators/graph.py — no Spark, no shared
    code."""
    w: dict[tuple[int, int], int] = {}
    for s, d, x in edges:
        w[(s, d)] = w.get((s, d), 0) + x
    nodes = sorted({s for s, _ in w} | {d for _, d in w})
    n = len(nodes)
    outw: dict[int, int] = {}
    for (s, _d), x in w.items():
        outw[s] = outw.get(s, 0) + x
    rq = {v: scale // n for v in nodes}
    for _ in range(iterations):
        sums = {v: 0 for v in nodes}
        for (s, d), x in w.items():
            sums[d] += (rq[s] * x) // outw[s]
        rq = {v: (15 * (scale // n)) // 100 + (85 * sums[v]) // 100
              for v in nodes}
    return rq


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=graph_strategy)
def test_pagerank_matches_independent_model(spark, edges):
    from w_userflow_featurestore_spark.operators.graph import pagerank

    # aggregate duplicate (src, dst) pairs the same way the model does
    df = (spark.createDataFrame(edges, "src long, dst long, w long")
          .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    got = {r["node"]: r["rank_q"]
           for r in pagerank(df, weight="w", iterations=10).collect()}
    assert got == _pagerank_model(edges, iterations=10)


# -------------------------------------------------------------- line_dedup

doc_strategy = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "shared line",
                              "another shared", ""]),
             min_size=1, max_size=6),
    min_size=1, max_size=8)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=doc_strategy)
def test_line_dedup_matches_counting_model(spark, docs):
    from collections import Counter

    from w_userflow_featurestore_spark.operators.text import line_dedup

    cap = 2
    rows_in = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_lines_kept"],
                         r["n_lines_dropped"])
           for r in line_dedup(df, max_occurrences=cap).collect()}
    # independent model: count trimmed non-empty lines corpus-wide
    counts = Counter(ln.strip() for _i, lines in enumerate(docs)
                     for ln in lines if ln.strip())
    for i, lines in enumerate(docs):
        trimmed = [ln.strip() for ln in lines]
        kept = [ln for ln in trimmed if ln and counts[ln] <= cap]
        if not kept:
            assert i not in got
            continue
        assert got[i] == ("\n".join(kept), len(kept),
                          len(trimmed) - len(kept))


def test_triangle_count_known_graph(spark):
    """K4 minus one edge: triangles {1,2,3} and {1,2,4} -> corners 1,2
    in both, 3 and 4 in one each; an isolated edge contributes zeros."""
    from tests.conftest import rows
    from w_userflow_featurestore_spark.operators.graph import (
        triangle_count,
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4), (2, 4),   # K4 minus (3,4)
         (3, 2), (2, 1),                           # dupes / reversed
         (9, 8)],                                  # triangle-free edge
        "src long, dst long")
    got = dict(rows(triangle_count(edges), "node", "n_triangles"))
    assert got == {1: 2, 2: 2, 3: 1, 4: 1, 8: 0, 9: 0}


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(1, 3),          # user
                          st.integers(0, 50_000),     # ms offset
                          st.sampled_from(["a", "b", "c"])),
                min_size=1, max_size=30))
def test_scd2_history_invariants(spark, obs):
    """Random observation streams: per key, versions are consecutive
    from 1, intervals chain half-open (valid_to(k) == valid_from(k+1)),
    exactly the last run is current, consecutive runs differ in value,
    and run row-counts conserve the change points."""
    from w_userflow_featurestore_spark.operators.scd import scd2_history
    rows_in = [(i, BASE + dt.timedelta(milliseconds=off), uid, val, 1.0,
                "{}")
               for i, (uid, off, val) in enumerate(obs)]
    df = spark.createDataFrame(rows_in, EVENTS_DDL)
    out = sorted(scd2_history(df).collect(),
                 key=lambda r: (r["user_id"], r["version"]))
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r["user_id"], []).append(r)
    for runs in by_key.values():
        assert [r["version"] for r in runs] == list(range(1, len(runs) + 1))
        for a, b in zip(runs, runs[1:]):
            assert a["valid_to_ms"] == b["valid_from_ms"]
            assert a["event_type"] != b["event_type"]
            assert a["is_current"] == 0
        assert runs[-1]["is_current"] == 1
        assert runs[-1]["valid_to_ms"] is None


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.sampled_from(list("abcdefgh")), min_size=1,
                max_size=60))
def test_cms_one_sided_error_property(spark, items):
    """Random streams: every CMS estimate >= the true count (one-sided
    by construction), and total over-estimate respects the worst-case
    width bound per probed item."""
    from w_userflow_featurestore_spark.operators.sketch import (
        cms_build, cms_lookup,
    )
    df = spark.createDataFrame([(i,) for i in items], "item string")
    probes = df.distinct()
    got = dict(
        (r["item"], r["cms_n"])
        for r in cms_lookup(cms_build(df, "item", depth=3, width=32),
                            probes, "item", depth=3, width=32).collect())
    true = {}
    for i in items:
        true[i] = true.get(i, 0) + 1
    for i, t in true.items():
        assert got[i] >= t                       # never underestimates
        assert got[i] - t <= len(items)          # bounded by stream mass


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(1, 3),       # user
                          st.integers(0, 9),       # day offset
                          st.integers(0, 500)),    # value cents
                min_size=1, max_size=25))
def test_feature_backfill_matches_independent_model(spark, obs):
    """Random activity: the dense grid, LOCF state, and staleness
    counters must match a from-scratch Python model."""
    from w_userflow_featurestore_spark.operators.temporal import (
        feature_backfill,
    )
    rows_in = [(i, dt.datetime(2024, 1, 1 + d, 12, 0), u, "view",
                c / 100.0, "{}")
               for i, (u, d, c) in enumerate(obs)]
    df = spark.createDataFrame(rows_in, EVENTS_DDL)
    got = {(r["user_id"], r["day"]):
           (r["n_events"], r["sum_value_cents"], r["locf_value_cents"],
            r["days_since_activity"])
           for r in feature_backfill(df).collect()}
    # independent model
    daily: dict = {}
    for i, (u, d, c) in enumerate(obs):
        k = (u, d)
        n, s = daily.get(k, (0, 0))
        daily[k] = (n + 1, s + c)
    end = max(d for _, d, _ in obs)
    want = {}
    for u in {u for u, _, _ in obs}:
        d0 = min(d for uu, d, _ in obs if uu == u)
        locf, last_active = None, None
        for d in range(d0, end + 1):
            n, s = daily.get((u, d), (0, 0))
            if n > 0:
                locf, last_active = s, d
            want[(u, f"2024-01-{1 + d:02d}")] = (n, s, locf,
                                                 d - last_active)
    assert got == want


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(1, 4),       # user
                          st.integers(0, 7)),      # day offset
                min_size=1, max_size=30))
def test_cohort_retention_matches_independent_model(spark, obs):
    """Random activity: the cohort triangle must match a from-scratch
    model (cohort = first-seen day; one count per distinct active
    (user, offset); share in floored basis points)."""
    from w_userflow_featurestore_spark.operators.metrics import (
        cohort_retention_triangle,
    )
    rows_in = [(i, dt.datetime(2024, 1, 1 + d, 12, 0), u, "view", 1.0,
                "{}")
               for i, (u, d) in enumerate(obs)]
    df = spark.createDataFrame(rows_in, EVENTS_DDL)
    got = {(r["cohort_day"], r["day_offset"]):
           (r["n_active"], r["cohort_size"], r["retention_bp"])
           for r in cohort_retention_triangle(df).collect()}
    first = {}
    for u, d in obs:
        first[u] = min(first.get(u, d), d)
    sizes: dict = {}
    for u, c in first.items():
        sizes[c] = sizes.get(c, 0) + 1
    active = {(u, d) for u, d in obs}
    counts: dict = {}
    for u, d in active:
        k = (first[u], d - first[u])
        counts[k] = counts.get(k, 0) + 1
    want = {(f"2024-01-{1 + c:02d}", off):
            (n, sizes[c], n * 10000 // sizes[c])
            for (c, off), n in counts.items()}
    assert got == want


# --------------------------------------------------------------------------
# minhash_accuracy vs an independent pure-Python model
# --------------------------------------------------------------------------

docs_strategy = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps",
                              "zeta", "eta", "theta"]),
             min_size=3, max_size=12).map(lambda ws: " ".join(ws)),
    min_size=2, max_size=8)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=docs_strategy)
def test_minhash_accuracy_matches_independent_model(spark, docs):
    """Pure-Python twin of dedup.minhash_accuracy (md5 minwise hashes,
    band buckets, integer-bp exact Jaccard) recomputed from scratch —
    any disagreement is an implementation bug, not an oracle echo."""
    import hashlib

    from w_userflow_featurestore_spark.operators.dedup import (
        minhash_accuracy,
    )

    K, BANDS = 8, 4

    def norm_words(text):
        import re as _re
        return [w for w in _re.sub(r"[^a-z0-9]+", " ", text.lower())
                .strip().split(" ") if w]

    def shingle_set(text):
        ws = norm_words(text)
        n_sh = max(len(ws) - 2, 1)
        return {" ".join(ws[i:i + 3]) for i in range(n_sh)}

    def h60(payload):
        return int(hashlib.md5(payload.encode()).hexdigest()[:15], 16)

    def signature(sset):
        return [min(h60(f"{i}:{s}") for s in sset) for i in range(K)]

    rows = [(i + 1, t) for i, t in enumerate(docs) if norm_words(t)]
    if len(rows) < 2:
        return
    sigs = {i: signature(shingle_set(t)) for i, t in rows}
    sets = {i: shingle_set(t) for i, t in rows}

    def buckets(sig):
        r = K // BANDS
        return [(b, hashlib.md5(
            ",".join(str(v) for v in sig[b * r:(b + 1) * r]).encode())
            .hexdigest()) for b in range(BANDS)]

    expected = {}
    ids = sorted(sigs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not set(buckets(sigs[a])) & set(buckets(sigs[b])):
                continue
            agree = sum(1 for i in range(K) if sigs[a][i] == sigs[b][i])
            est_bp = agree * (10000 // K)
            if est_bp < 5000:
                continue
            common = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - common
            exact_bp = (common * 10000) // union
            expected[(a, b)] = (est_bp, exact_bp, abs(est_bp - exact_bp))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): (r["est_bp"], r["exact_bp"],
                                      r["err_bp"])
           for r in minhash_accuracy(df, n=3, k=K, bands=BANDS,
                                     min_est_bp=5000,
                                     max_posting=64).collect()}
    assert got == expected


# ------------------------------------------------------------ as-of join

asof_strategy = st.tuples(
    st.lists(st.tuples(st.integers(1, 3),            # key
                       st.integers(0, 100)),         # left ts (s offset)
             min_size=1, max_size=20),
    st.lists(st.tuples(st.integers(1, 3),            # key
                       st.integers(0, 100),          # right ts
                       st.integers(0, 999)),         # payload value
             min_size=0, max_size=20,
             unique_by=lambda r: (r[0], r[1])),      # unique (key, ts):
)                                                    # no tiebreak in model


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(asof_strategy, st.booleans())
def test_asof_join_matches_independent_model(spark, data, strict):
    """Random update/observation streams, both strict and non-strict:
    every left row must see exactly the latest right payload at-or-
    before (strictly-before) its timestamp — the no-future-leakage
    contract — per key, NULL when no prior update exists."""
    from w_userflow_featurestore_spark.operators.asof import asof_join

    lefts, rights = data
    l_rows = [(k, BASE + dt.timedelta(seconds=s), i)
              for i, (k, s) in enumerate(lefts)]
    r_rows = [(k, BASE + dt.timedelta(seconds=s), v)
              for k, s, v in rights]
    ldf = spark.createDataFrame(l_rows, "k long, ts timestamp, lid long")
    rdf = spark.createDataFrame(r_rows, "k long, ts timestamp, val long")
    res = asof_join(ldf, rdf, on=["k"], strict=strict).collect()
    got = {r["lid"]: (r["val_r"], r["ts_r"]) for r in res}
    assert len(got) == len(lefts)
    for i, (k, s) in enumerate(lefts):
        cands = [(rs, v) for rk, rs, v in rights
                 if rk == k and (rs < s if strict else rs <= s)]
        if cands:
            rs, v = max(cands)
            assert got[i] == (v, BASE + dt.timedelta(seconds=rs)), \
                (i, got[i], (v, rs))
        else:
            assert got[i] == (None, None), (i, got[i])


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(1, 2), st.integers(0, 120)),
                min_size=1, max_size=15),
       st.lists(st.tuples(st.integers(1, 2), st.integers(0, 120)),
                min_size=0, max_size=15),
       st.tuples(st.integers(-20, 20), st.integers(1, 40))
       .map(lambda t: (t[0], t[0] + t[1])))
def test_interval_join_matches_bruteforce_pairs(spark, lefts, rights,
                                                bounds):
    """Random event pairs AND random window bounds (including negative
    lower bounds — lookback windows): the bucketed interval join must
    produce exactly the brute-force pair set
    {(l, r): r.ts in [l.ts + lower, l.ts + upper]} — no pair lost at
    bucket boundaries, none duplicated by the multi-bucket explode."""
    from w_userflow_featurestore_spark.operators.asof import interval_join

    lo_s, hi_s = bounds
    l_rows = [(k, BASE + dt.timedelta(seconds=s), i)
              for i, (k, s) in enumerate(lefts)]
    r_rows = [(k, BASE + dt.timedelta(seconds=s), j)
              for j, (k, s) in enumerate(rights)]
    ldf = spark.createDataFrame(l_rows, "k long, ts timestamp, lid long")
    rdf = spark.createDataFrame(r_rows, "k long, ts timestamp, rid long")
    out = interval_join(ldf, rdf, on=["k"], lower_ms=lo_s * 1000,
                        upper_ms=hi_s * 1000).collect()
    got = sorted((r["lid"], r["rid_r"]) for r in out)
    want = sorted((i, j)
                  for i, (lk, ls) in enumerate(lefts)
                  for j, (rk, rs) in enumerate(rights)
                  if lk == rk and ls + lo_s <= rs <= ls + hi_s)
    assert got == want


# ---------------------------------------------------------------- packing

pack_docs_strategy = st.lists(
    st.tuples(st.sampled_from(["en", "de"]),          # lang
              st.sampled_from(["web", "book"]),       # source
              st.lists(st.sampled_from(["alpha", "beta", "gamma", "x1"]),
                       min_size=0, max_size=9).map(" ".join)),
    min_size=1, max_size=16)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(docs=pack_docs_strategy)
def test_pack_sequences_matches_running_sum_model(spark, docs):
    """Random per-stream corpora: start offsets, pack ids, pack offsets
    and span counts must equal a from-scratch running-token-sum model
    (packing is defined per (lang, source) stream, ordered by doc_id)."""
    import re as _re

    from w_userflow_featurestore_spark.operators.packing import (
        pack_sequences,
    )
    budget = 16
    rows_in = [(i, lang, src, text)
               for i, (lang, src, text) in enumerate(docs)]
    df = spark.createDataFrame(
        rows_in, "doc_id long, lang string, source string, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["start_offset"], r["pack_id"],
                         r["pack_offset"], r["n_packs_spanned"])
           for r in pack_sequences(df, budget=budget).collect()}

    def n_tok(text):
        # mirror words(): normalize, then split on single spaces — an
        # empty normalized text still yields one (empty) token
        norm = _re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        return len(norm.split(" "))

    streams: dict = {}
    for i, (lang, src, text) in enumerate(docs):
        streams.setdefault((lang, src), []).append(i)
    want = {}
    for ids in streams.values():
        off = 0
        for i in sorted(ids):
            n = n_tok(docs[i][2])
            pack = off // budget
            last = (off + n - 1) // budget
            want[i] = (n, off, pack, off % budget, last - pack + 1)
            off += n
    assert got == want


# ----------------------------------------------------------------- funnel

funnel_events_strategy = st.lists(
    st.tuples(st.integers(1, 3),                      # user
              st.integers(0, 40),                     # ts seconds
              st.sampled_from(["view", "click", "purchase", "other"])),
    min_size=1, max_size=30)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(evs=funnel_events_strategy)
def test_funnel_progress_matches_independent_model(spark, evs):
    """Random event streams: each step's completion time must be the
    earliest event of that type at-or-after the previous step's time,
    walking (ts, event_id) order — NULLs cascade after a stall."""
    from w_userflow_featurestore_spark.operators.funnel import (
        funnel_progress,
    )
    steps = ["view", "click", "purchase"]
    rows_in = [(i, BASE + dt.timedelta(seconds=s), u, t, 1.0, "{}")
               for i, (u, s, t) in enumerate(evs)]
    df = spark.createDataFrame(rows_in, EVENTS_DDL)
    out = funnel_progress(df, steps).collect()
    got = {r["user_id"]: tuple(r[f"{s}_ts"] for s in steps) for r in out}

    want = {}
    for u in {u for u, _, _ in evs}:
        best = [None] * len(steps)
        ordered = sorted((BASE + dt.timedelta(seconds=s), i, t)
                         for i, (uu, s, t) in enumerate(evs) if uu == u)
        for ts, _i, t in ordered:
            for k, sname in enumerate(steps):
                if t != sname or best[k] is not None:
                    continue
                if k == 0 or best[k - 1] is not None:
                    best[k] = ts
        want[u] = tuple(best)
    assert got == want


# -------------------------------------------------------------- winnowing

winnow_text_strategy = st.lists(
    st.text(alphabet="ab1 .,-", min_size=0, max_size=40),
    min_size=1, max_size=6)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=winnow_text_strategy)
def test_winnow_fingerprints_matches_independent_model(spark, texts):
    """Pure-Python winnowing (Schleimer et al.): char-k-gram md5-60
    hashes, min of each w-window, distinct per doc — recomputed from
    scratch for arbitrary text incl. degenerate (< k chars / < w
    k-grams) docs; any disagreement is an implementation bug."""
    import hashlib
    import re as _re

    from w_userflow_featurestore_spark.operators.text import (
        winnow_fingerprints,
    )
    K, W = 8, 4

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def model(text):
        norm = _re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        if len(norm) >= K:
            hs = [h60(norm[i:i + K]) for i in range(len(norm) - K + 1)]
        else:
            hs = [h60(norm)]
        if len(hs) >= W:
            return {min(hs[i:i + W]) for i in range(len(hs) - W + 1)}
        return {min(hs)}

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    out = winnow_fingerprints(df, k=K, w=W).collect()
    got: dict = {}
    for r in out:
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    want = {i: model(t) for i, t in enumerate(texts)}
    assert got == want


# -------------------------------------------------------- duplicate_spans

# Small vocabulary so corpus-hot k-grams (including WITHIN-doc repeats)
# arise naturally; the explicit examples pin the two merge boundaries:
# p2 == p1 + k merges (adjacent islands touch), p2 == p1 + k + 1 splits.
span_corpus_strategy = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
             min_size=0, max_size=24),
    min_size=1, max_size=5)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists=span_corpus_strategy)
@example(token_lists=[["aa", "bb", "cc"] * 2])          # within-doc repeat
@example(token_lists=[                                   # merge boundary:
    ["aa", "bb", "cc", "dd", "aa", "bb", "cc", "dd"],    # hit gap == k
    ["aa", "bb", "cc"], ["bb", "cc", "dd"],
    ["aa", "bb", "cc"], ["bb", "cc", "dd"]])
@example(token_lists=[["aa"], [], ["aa", "bb"]])         # all docs < k
def test_duplicate_spans_matches_independent_model(spark, token_lists):
    """Pure-Python positional k-gram ExactSubstr recomputed from scratch
    (gram-string counting — no shared hashing code with the Spark
    path): corpus-hot grams -> hit positions -> gaps-and-islands merge
    with the p2 <= p1 + k rule. Exact span-set equality, including
    n_grams per island and 1-based inclusive token indices."""
    from w_userflow_featurestore_spark.operators.text import (
        duplicate_spans,
    )
    K, MIN = 3, 2

    def model(texts):
        toks = {}
        for d, t in texts.items():
            norm = __import__("re").sub(r"[^a-z0-9]+", " ",
                                        t.lower()).strip()
            toks[d] = norm.split(" ")  # "" -> [""] mirrors Spark split
        counts: dict = {}
        grams: dict = {}
        for d, ws in toks.items():
            gs = [" ".join(ws[i:i + K])
                  for i in range(len(ws) - K + 1)] if len(ws) >= K else []
            grams[d] = gs
            for g in gs:
                counts[g] = counts.get(g, 0) + 1
        spans = set()
        for d, gs in grams.items():
            hits = [i + 1 for i, g in enumerate(gs) if counts[g] >= MIN]
            if not hits:
                continue
            island = [hits[0]]
            for p in hits[1:]:
                if p - island[-1] > K:
                    spans.add((d, island[0], island[-1] + K - 1,
                               island[-1] - island[0] + K, len(island)))
                    island = [p]
                else:
                    island.append(p)
            spans.add((d, island[0], island[-1] + K - 1,
                       island[-1] - island[0] + K, len(island)))
        return spans

    texts = {i: " ".join(ws) for i, ws in enumerate(token_lists)}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"],
            r["span_tokens"], r["n_grams"])
           for r in duplicate_spans(df, k=K, min_count=MIN).collect()}
    assert got == model(texts)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists=span_corpus_strategy)
def test_incremental_duplicate_spans_equals_full_run_on_batch(
        spark, token_lists):
    """The ledger path is DEFINED as duplicate_spans(corpus UNION
    batch) restricted to the batch — gram counts are additive, so the
    incremental probe must reproduce the full-corpus result exactly on
    arbitrary even/odd splits (including empty corpus or empty batch)."""
    from w_userflow_featurestore_spark.operators.text import (
        duplicate_spans, gram_ledger, incremental_duplicate_spans,
    )
    K, MIN = 3, 2
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(token_lists)],
        "doc_id long, text string")
    corpus = df.where(F.col("doc_id") % 2 == 0)
    batch = df.where(F.col("doc_id") % 2 == 1)
    got = {tuple(r) for r in incremental_duplicate_spans(
        batch, gram_ledger(corpus, k=K), k=K, min_count=MIN).collect()}
    want = {tuple(r) for r in duplicate_spans(df, k=K, min_count=MIN)
            .where(F.col("doc_id") % 2 == 1).collect()}
    assert got == want


# ----------------------------------------------- incremental_leakage_split

# Random pair graphs over a small id space so batch pairs routinely
# MERGE previously separate corpus components (the migration case) and
# chains cross the even/odd boundary repeatedly.
pair_graph_strategy = st.tuples(
    st.integers(4, 24),                                  # n docs
    st.lists(st.tuples(st.integers(0, 23), st.integers(0, 23)),
             min_size=0, max_size=20))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(graph=pair_graph_strategy)
@example(graph=(6, [(0, 2), (1, 3), (2, 1)]))    # batch pair merges two
                                                 # corpus components
@example(graph=(4, []))                          # no pairs at all
def test_incremental_leakage_split_equals_full_run(spark, graph):
    """Star-collapse exactness: extending the corpus component LEDGER
    with batch-touching pairs must reproduce leakage_safe_split of the
    grown corpus with the FULL pair set — identical (group_key, bucket,
    split) for every doc — and the migrated flag must fire exactly on
    ledger docs whose corpus-only group key differs from the full one."""
    from w_userflow_featurestore_spark.operators.sampling import (
        component_ledger, incremental_leakage_split, leakage_safe_split,
    )
    n, raw_pairs = graph
    pairs_py = sorted({(min(a, b), max(a, b)) for a, b in raw_pairs
                       if a != b and a < n and b < n})
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(pairs_py or [(None, None)],
                                  "doc_a long, doc_b long") \
        .where(F.col("doc_a").isNotNull())
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    corpus_pairs = pairs.where((F.col("doc_a") % 2 == 0)
                               & (F.col("doc_b") % 2 == 0))
    batch_pairs = pairs.where((F.col("doc_a") % 2 == 1)
                              | (F.col("doc_b") % 2 == 1))
    ledger = component_ledger(corpus, corpus_pairs)
    prev = {r["doc_id"]: r["group_key"] for r in ledger.collect()}
    got = {r["doc_id"]: r for r in incremental_leakage_split(
        ledger, batch, batch_pairs).collect()}
    want = {r["doc_id"]: r for r in
            leakage_safe_split(docs, pairs).collect()}
    assert set(got) == set(want) == set(range(n))
    for d in want:
        assert (got[d]["group_key"], got[d]["bucket"], got[d]["split"]) \
            == (want[d]["group_key"], want[d]["bucket"], want[d]["split"])
        expect_migrated = d in prev and prev[d] != want[d]["group_key"]
        assert got[d]["migrated"] == expect_migrated, (d, got[d])


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(graph=pair_graph_strategy)
@example(graph=(6, [(0, 2), (1, 3), (2, 1)]))
def test_merge_component_ledger_equals_rebuild(spark, graph):
    """The persisted-state contract: merging a batch into the component
    ledger must equal component_ledger rebuilt FROM SCRATCH on the
    grown corpus with the full pair set — so the output of one ingest
    is a valid input ledger for the next and state never drifts."""
    from w_userflow_featurestore_spark.operators.sampling import (
        component_ledger, merge_component_ledger,
    )
    n, raw_pairs = graph
    pairs_py = sorted({(min(a, b), max(a, b)) for a, b in raw_pairs
                       if a != b and a < n and b < n})
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(pairs_py or [(None, None)],
                                  "doc_a long, doc_b long") \
        .where(F.col("doc_a").isNotNull())
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    corpus_pairs = pairs.where((F.col("doc_a") % 2 == 0)
                               & (F.col("doc_b") % 2 == 0))
    batch_pairs = pairs.where((F.col("doc_a") % 2 == 1)
                              | (F.col("doc_b") % 2 == 1))
    ledger = component_ledger(corpus, corpus_pairs)
    got = {tuple(r) for r in merge_component_ledger(
        ledger, batch, batch_pairs).collect()}
    want = {tuple(r) for r in component_ledger(docs, pairs).collect()}
    assert got == want


def test_merge_component_ledger_disjointness_assert(spark):
    """assert_disjoint=True must refuse a batch that re-ingests a
    ledger doc (the one-row-per-doc shape downstream audits assume),
    and must pass through untouched on a genuinely disjoint batch."""
    import pytest
    from w_userflow_featurestore_spark.operators.sampling import (
        component_ledger, merge_component_ledger,
    )
    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    corpus = spark.createDataFrame([(0,), (2,)], "doc_id long")
    ledger = component_ledger(corpus, empty_pairs)
    good = spark.createDataFrame([(1,), (3,)], "doc_id long")
    assert merge_component_ledger(
        ledger, good, empty_pairs, assert_disjoint=True).count() == 4
    bad = spark.createDataFrame([(2,), (5,)], "doc_id long")
    with pytest.raises(ValueError, match="disjoint"):
        merge_component_ledger(ledger, bad, empty_pairs,
                               assert_disjoint=True)
    # default trusts the caller (documented): no eager job — the
    # overlapping doc 2 rides the union twice, so the 3-distinct-doc
    # grown corpus emits 4 rows (the shape violation the check guards)
    out = merge_component_ledger(ledger, bad, empty_pairs)
    assert out.count() == 4
    assert out.select("doc_id").distinct().count() == 3


def test_temperature_mix_weights_zero_token_corpus_raises(spark):
    """A corpus where every source has zero countable tokens must fail
    loudly at execution (raise_error), never emit NULL allocations the
    int(budget_tokens) consumer would crash on later."""
    import pandas as pd
    import pytest
    from w_userflow_featurestore_spark.operators.sampling import (
        temperature_mix_weights,
    )
    docs = spark.createDataFrame(pd.DataFrame(
        {"source": ["a", "b"], "text": [None, None]}))
    with pytest.raises(Exception, match="zero countable tokens"):
        temperature_mix_weights(docs, 1000, tau=2).collect()


# ------------------------------------------------------------- bpe_train

# small alphabet so pair collisions and ties are routine (the argmax
# tie-break is where engines would diverge first)
bpe_corpus_strategy = st.lists(
    st.lists(st.text(alphabet="ab1", min_size=1, max_size=6),
             min_size=0, max_size=8),
    min_size=1, max_size=6)


def _model_bpe(word_freq: dict, k: int):
    """Independent pure-Python BPE trainer: explicit symbol lists and a
    left-to-right greedy merge scan — no strings-with-sentinels, no
    shared code with the engine's replace()-based implementation."""
    seqs = {w: list(w) for w in word_freq}
    merges = []
    for rank in range(1, k + 1):
        counts: dict = {}
        for w, f in word_freq.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get(
                    (s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, n))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=bpe_corpus_strategy)
@example(docs=[["aaa", "aa", "a"]])      # overlap: greedy scan order
@example(docs=[[], ["1a1", "111b1"]])    # round-12 batching: a pair
# DERIVED from an accepted merge (('11','1b') -> '111b' then
# ('111b','1')) ties a disjoint candidate's count and wins the lex
# tie-break — the batch must reject the tied candidate
@example(docs=[["ab", "ab", "ba"]])      # tie between (a,b) and (b,a)
@example(docs=[["a", "b"]])              # nothing mergeable
def test_bpe_train_matches_independent_model(spark, docs):
    """bpe_train vs a symbol-list Python model: identical merge list
    (pair, selection-time count, order), identical final vocabulary,
    and — the round-7 verdict's property — applying the learned merges
    reproduces the training corpus's pair statistics exactly (the
    engine's post-merge pair counts equal a recount over the model's
    post-merge symbol sequences)."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_pair_stats, bpe_train, bpe_vocab,
    )
    K = 5
    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    # model-side word frequencies over the same normalization (words
    # are [a-z0-9]+ already, so whitespace split is the whole story)
    wf: dict = {}
    for t in texts:
        for w in t.split():
            if w:
                wf[w] = wf.get(w, 0) + 1
    want_merges, want_seqs = _model_bpe(wf, K)
    got_merges, sym = bpe_train(df, n_merges=K)
    assert got_merges == want_merges
    # final vocab: freq-weighted symbol occurrences
    want_vocab: dict = {}
    for w, f in wf.items():
        for s in want_seqs[w]:
            want_vocab[s] = want_vocab.get(s, 0) + f
    got_vocab = {r["symbol"]: r["n_occurrences"]
                 for r in bpe_vocab(sym).collect()}
    assert got_vocab == want_vocab
    # post-merge pair statistics: engine recount == model recount
    want_pairs: dict = {}
    for w, f in wf.items():
        s = want_seqs[w]
        for i in range(len(s) - 1):
            want_pairs[(s[i], s[i + 1])] = want_pairs.get(
                (s[i], s[i + 1]), 0) + f
    got_pairs = {(r["left_sym"], r["right_sym"]): r["n_occurrences"]
                 for r in bpe_pair_stats(sym).collect()}
    assert got_pairs == want_pairs
    # apply half: per-doc token counts under the learned merges equal
    # encoding each doc's words with the model's symbol sequences
    from w_userflow_featurestore_spark.operators.text import bpe_apply
    df_id = spark.createDataFrame(list(enumerate(texts)),
                                  "doc_id long, text string")
    got_enc = {r["doc_id"]: (r["n_words"], r["n_tokens"],
                             r["tokens_per_word_bp"])
               for r in bpe_apply(df_id, got_merges).collect()}
    want_enc = {}
    for i, t in enumerate(texts):
        ws = [w for w in t.split() if w]
        if not ws:
            continue                     # no countable words -> no row
        n_words = len(ws)
        n_tokens = sum(len(want_seqs[w]) for w in ws)
        want_enc[i] = (n_words, n_tokens, n_tokens * 10000 // n_words)
    assert got_enc == want_enc


# ---------------------------------------------- bigram LM / CCNet buckets

bigram_corpus_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "ab", "ba", "the"]),
             min_size=0, max_size=10),
    min_size=1, max_size=8)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=bigram_corpus_strategy)
@example(docs=[["the", "the"], ["the"]])      # repeated context
@example(docs=[["a"]])                        # no bigram anywhere
def test_bigram_surprisal_matches_counting_model(spark, docs):
    """bigram_surprisal vs a dict-based python model: bits =
    (c(w1) // c(w1,w2)).bit_length() - 1 summed per doc; docs with
    fewer than two words yield no row."""
    from w_userflow_featurestore_spark.operators.text import (
        bigram_surprisal,
    )
    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    uni: dict = {}
    big: dict = {}
    for t in texts:
        ws = [w for w in t.split() if w]
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    want = {}
    for i, t in enumerate(texts):
        ws = [w for w in t.split() if w]
        if len(ws) < 2:
            continue
        bits = [(uni[a] // big[(a, b)]).bit_length() - 1
                for a, b in zip(ws, ws[1:])]
        n, s = len(bits), sum(bits)
        want[i] = (n, s, math.floor(s / n * 10000 + 0.5) / 10000)
    got = {r["doc_id"]: (r["n_bigrams"], r["sum_bits"], r["mean_bits"])
           for r in bigram_surprisal(df).collect()}
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.tuples(st.sampled_from(["en", "de"]),
              st.lists(st.sampled_from(["x", "y", "zz", "qq"]),
                       min_size=1, max_size=6)),
    min_size=1, max_size=12))
def test_perplexity_buckets_matches_threshold_model(spark, docs):
    """perplexity_buckets vs a python replay of the value-threshold
    rule: per language, t1/t2 = smallest score whose cumulative count
    reaches ceil(n/3)/ceil(2n/3); buckets by <= comparison, ties share
    a bucket. Scores come from the engine's own token_surprisal (its
    exactness is covered by the oracle gate); the property under test
    is the BUCKET rule."""
    from w_userflow_featurestore_spark.operators.text import (
        perplexity_buckets, token_surprisal,
    )
    rows = [(i, lang, " ".join(ws)) for i, (lang, ws) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    scores = {r["doc_id"]: r["mean_bits"]
              for r in token_surprisal(df).collect()}
    langs = {i: lang for i, (lang, _ws) in enumerate(docs)}
    per_lang: dict = {}
    for i, s in scores.items():
        per_lang.setdefault(langs[i], []).append(s)
    thr = {}
    for lang, vals in per_lang.items():
        vals.sort()
        n = len(vals)
        t1 = vals[-(-n // 3) - 1]
        t2 = vals[-(-2 * n // 3) - 1]
        thr[lang] = (t1, t2)
    want = {}
    for i, s in scores.items():
        t1, t2 = thr[langs[i]]
        want[i] = ("head" if s <= t1 else "middle" if s <= t2 else "tail")
    got = {r["doc_id"]: r["bucket"]
           for r in perplexity_buckets(df).collect()}
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.tuples(st.booleans(),                        # in target?
              st.lists(st.sampled_from(["x", "y", "zz", "the"]),
                       min_size=0, max_size=6)),
    min_size=1, max_size=10))
def test_dsir_importance_matches_counting_model(spark, docs):
    """dsir_importance vs a dict model replaying the exact signed
    whole-bit quantization: lb(num // den) - lb(den // num) over
    add-one smoothed hashed unigram+bigram counts. The hash is
    replayed through the engine's own text_hash60 expression (its
    md5 math is pinned by every split oracle), so the property under
    test is the counting + quantization pipeline."""
    import hashlib as _hl

    from w_userflow_featurestore_spark.operators.sampling import (
        dsir_importance,
    )
    NF = 10_000

    def h(g: str) -> int:
        return int(_hl.md5(f"dsir:{g}".encode()).hexdigest()[:15],
                   16) % NF

    def grams(ws):
        return [h(g) for g in ws + [f"{a} {b}"
                                    for a, b in zip(ws, ws[1:])]]

    rows = [(i, " ".join(ws)) for i, (_t, ws) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target_rows = [(t,) for is_t, ws in docs
                   if is_t for t in [" ".join(ws)]]
    tdf = spark.createDataFrame(target_rows or [(None,)],
                                "text string").where("text IS NOT NULL")
    tc: dict = {}
    rc: dict = {}
    for is_t, ws in docs:
        ws = [w for w in ws if w]
        for f in grams(ws):
            rc[f] = rc.get(f, 0) + 1
            if is_t:
                tc[f] = tc.get(f, 0) + 1
    T, R = sum(tc.values()), sum(rc.values())

    def lb(x: int) -> int:
        return max(x.bit_length() - 1, 0)

    wbits = {f: lb(((tc.get(f, 0) + 1) * (R + NF))
                   // ((rf + 1) * (T + NF)))
             - lb(((rf + 1) * (T + NF))
                  // ((tc.get(f, 0) + 1) * (R + NF)))
             for f, rf in rc.items()}
    want = {}
    for i, (_t, ws) in enumerate(docs):
        ws = [w for w in ws if w]
        fs = grams(ws)
        if fs:
            want[i] = (len(fs), sum(wbits[f] for f in fs))
    got = {r["doc_id"]: (r["n_feats"], r["score_bits"])
           for r in dsir_importance(df, tdf).collect()}
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists=span_corpus_strategy)
@example(token_lists=[["aa", "bb", "cc"] * 2])      # fully duplicated doc
@example(token_lists=[["aa"], [], ["aa", "bb"]])    # all docs < k
def test_remove_duplicate_spans_partitions_the_token_stream(
        spark, token_lists):
    """removed + kept PARTITION the original normalized tokens: the
    kept text is exactly the in-order complement of the union of
    duplicate_spans coverage (itself property-tested against an
    independent model), counts reconcile per doc, and every input doc
    appears in the output exactly once."""
    from w_userflow_featurestore_spark.operators.text import (
        duplicate_spans, remove_duplicate_spans,
    )
    K, MIN = 3, 2
    texts = {i: " ".join(ws) for i, ws in enumerate(token_lists)}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    spans: dict[int, set[int]] = {}
    nspans: dict[int, int] = {}
    for r in duplicate_spans(df, k=K, min_count=MIN).collect():
        spans.setdefault(r["doc_id"], set()).update(
            range(r["span_start"], r["span_end"] + 1))
        nspans[r["doc_id"]] = nspans.get(r["doc_id"], 0) + 1
    got = {r["doc_id"]: r
           for r in remove_duplicate_spans(df, k=K,
                                           min_count=MIN).collect()}
    assert set(got) == set(texts)           # every doc, exactly once
    import re as _re
    for d, t in texts.items():
        ws = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")
        cov = spans.get(d, set())
        kept = [w for i, w in enumerate(ws, start=1) if i not in cov]
        r = got[d]
        assert r["text_clean"] == " ".join(kept)
        assert r["n_tokens"] == len(ws)
        assert r["n_tokens_removed"] == len(cov)
        assert r["n_tokens"] - r["n_tokens_removed"] == len(kept)
        assert r["n_spans_removed"] == nspans.get(d, 0)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists=span_corpus_strategy)
@example(token_lists=[["aa", "bb", "cc"] * 2])      # fully duplicated doc
@example(token_lists=[["aa"], [], ["aa", "bb"]])    # all docs < k
def test_incremental_span_removed_equals_full_rewrite_on_batch(
        spark, token_lists):
    """The incremental rewrite is DEFINED as remove_duplicate_spans(
    corpus UNION batch) restricted to the batch — inherited from the
    detect-side additivity (itself property-tested above), so the
    ledger path must reproduce the full-corpus rewrite exactly on
    arbitrary even/odd splits (including empty corpus or empty
    batch, span-free docs, and fully-duplicated docs)."""
    from w_userflow_featurestore_spark.operators.text import (
        gram_ledger, incremental_span_removed, remove_duplicate_spans,
    )
    K, MIN = 3, 2
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(token_lists)],
        "doc_id long, text string")
    corpus = df.where(F.col("doc_id") % 2 == 0)
    batch = df.where(F.col("doc_id") % 2 == 1)
    got = {tuple(r) for r in incremental_span_removed(
        batch, gram_ledger(corpus, k=K), k=K, min_count=MIN).collect()}
    want = {tuple(r)
            for r in remove_duplicate_spans(df, k=K, min_count=MIN)
            .where(F.col("doc_id") % 2 == 1).collect()}
    assert got == want


# ------------------------------------------------- novelty ledger family

@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists=span_corpus_strategy)
@example(token_lists=[["aa", "bb", "cc", "dd"] * 2,
                      ["aa", "bb", "cc", "dd"]])     # mirrored batch doc
@example(token_lists=[[], ["aa", "bb"]])             # sub-shingle docs
def test_incremental_novelty_matches_model_on_random_corpora(
        spark, token_lists):
    """Randomized upgrade of the fixed-example equivalence test: the
    ledger path must reproduce the independent pure-Python hash-grain
    novelty model (tests.test_round9_overflow_ops._py_novelty — md5
    recomputed from scratch, no shared hashing code) on arbitrary
    even/odd corpus splits, including empty corpus/batch, mirrored
    docs, and docs shorter than the shingle width."""
    from tests.test_round9_overflow_ops import _py_novelty
    from w_userflow_featurestore_spark.operators.dedup import (
        incremental_novelty, shingle_ledger,
    )
    texts = {i: " ".join(ws) for i, ws in enumerate(token_lists)}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    ledger = shingle_ledger(df.where(F.col("doc_id") % 2 == 0))
    got = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_bp"])
           for r in incremental_novelty(
               df.where(F.col("doc_id") % 2 == 1), ledger).collect()}
    assert got == _py_novelty(texts, {i for i in texts if i % 2 == 1})


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists=span_corpus_strategy)
def test_ledger_merges_equal_full_rebuild_on_random_corpora(
        spark, token_lists):
    """Additivity is the load-bearing assumption under BOTH incremental
    families (spans ride per-gram occurrence counts, novelty rides
    per-doc-distinct document counts): merging per-batch ledgers must
    equal the ledger of the unioned corpus on random even/odd splits —
    not just the fixed examples the unit tests pin."""
    from w_userflow_featurestore_spark.operators.dedup import (
        merge_shingle_ledger, shingle_ledger,
    )
    from w_userflow_featurestore_spark.operators.text import (
        gram_ledger, merge_gram_ledger,
    )
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(token_lists)],
        "doc_id long, text string")
    evens = df.where(F.col("doc_id") % 2 == 0)
    odds = df.where(F.col("doc_id") % 2 == 1)
    got_g = {tuple(r) for r in merge_gram_ledger(
        gram_ledger(evens, k=3), gram_ledger(odds, k=3)).collect()}
    want_g = {tuple(r) for r in gram_ledger(df, k=3).collect()}
    assert got_g == want_g
    got_s = {tuple(r) for r in merge_shingle_ledger(
        shingle_ledger(evens), shingle_ledger(odds)).collect()}
    want_s = {tuple(r) for r in shingle_ledger(df).collect()}
    assert got_s == want_s
