"""Control plane: silver runner idempotency, completeness gate, feature
job sequencing (reference DAG behaviors as library functions)."""

from __future__ import annotations

import datetime as dt

import pytest

from tests.conftest import rows
from w_userflow_featurestore_spark.runner import (
    CompletenessError, completeness_gate, run_daily_features, run_silver,
)
from w_userflow_featurestore_spark.sources import read_path

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
NOW = "2024-02-01 00:00:00"


def _ev(eid, ts, uid, etype="view", value=1.0):
    return (eid, dt.datetime.fromisoformat(ts), uid, etype, value, '{"k": 1}')


def _write(spark, path, data):
    spark.createDataFrame(data, EVENTS_DDL).coalesce(1) \
         .write.mode("append").parquet(path)


def test_run_silver_incremental_and_idempotent(spark, tmp_path):
    events, silver, ledger = (str(tmp_path / p)
                              for p in ("events", "silver", "ledger.json"))
    _write(spark, events, [
        _ev(1, "2024-01-01 10:00:00", 1),
        _ev(2, "2024-01-01 10:05:00", 1, "purchase", 60.0),
        _ev(3, "2024-01-01 10:00:00", 2),
    ])
    r1 = run_silver(spark, events, silver, ledger, NOW)
    assert r1.mode == "full" and r1.sessions_upserted == 2
    assert spark.read.parquet(silver).count() == 2

    # no new data -> empty increment, silver unchanged
    r2 = run_silver(spark, events, silver, ledger, NOW)
    assert r2.mode == "empty"
    assert spark.read.parquet(silver).count() == 2

    # new day of events -> incremental read, upsert adds only new sessions
    _write(spark, events, [_ev(4, "2024-01-02 09:00:00", 1)])
    r3 = run_silver(spark, events, silver, ledger, NOW)
    assert r3.mode == "incremental" and r3.input_rows == 1
    got = spark.read.parquet(silver)
    assert got.count() == 3
    assert rows(got.select("datetime").distinct()) == [
        (dt.date(2024, 1, 1),), (dt.date(2024, 1, 2),)]


def test_run_silver_dirty_input_cleansed(spark, tmp_path):
    events, silver, ledger = (str(tmp_path / p)
                              for p in ("events", "silver", "ledger.json"))
    _write(spark, events, [
        _ev(1, "2024-01-01 10:00:00", 1),
        _ev(1, "2024-01-01 10:00:30", 1),          # duplicate event_id
        (2, dt.datetime.fromisoformat("2024-01-01 10:01:00"),
         None, "view", 1.0, "{}"),                 # null user -> dropped
    ])
    r = run_silver(spark, events, silver, ledger, NOW)
    assert r.input_rows == 1                        # dedup + null-drop
    assert r.sessions_upserted == 1


def test_completeness_gate(spark):
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), i) for i in range(5)]
        + [(dt.date(2024, 1, 2), 0)],
        "datetime date, x int")
    got = completeness_gate(df, "datetime", min_rows=1)
    assert got[dt.date(2024, 1, 1)] == 5
    with pytest.raises(CompletenessError, match="2024, 1, 2"):
        completeness_gate(df, "datetime", min_rows=2)
    # a required partition with no rows at all also fails
    with pytest.raises(CompletenessError):
        completeness_gate(df, "datetime", 1,
                          partitions=[dt.date(2024, 1, 3)])


def test_run_daily_features_end_to_end(spark, tmp_path):
    events, silver, ledger, gold = (str(tmp_path / p) for p in
                                    ("events", "silver", "ledger.json", "gold"))
    _write(spark, events, [
        _ev(1, "2024-01-01 10:00:00", 1),
        _ev(2, "2024-01-01 10:05:00", 1, "purchase", 60.0),
        _ev(3, "2024-01-01 11:00:00", 2, "error", 5.0),
    ])
    run_silver(spark, events, silver, ledger, NOW)
    ev_df = spark.read.parquet(events)
    written = run_daily_features(spark, silver, ev_df, gold)
    assert set(written) == {"user_daily", "item_daily", "top_item_per_day",
                            "entry_type_daily", "cohort_vs_global"}
    assert written["user_daily"] == 2               # 2 users that day
    assert written["top_item_per_day"] == 1         # one day -> one winner
    # idempotent: rerun converges to identical contents
    again = run_daily_features(spark, silver, ev_df, gold)
    assert written == again


def test_run_daily_features_for_date_matches_full_run(spark, tmp_path):
    """Day-scoped gold (the reference's per-execution-date DAG regime):
    running each date separately with for_date must converge to the
    exact same tables as one full recompute — including the
    history-dependent return-interval metrics, because the scan is
    bounded at for_date, not sliced to it."""
    events, silver, ledger = (str(tmp_path / p)
                              for p in ("events", "silver", "ledger.json"))
    _write(spark, events, [
        _ev(1, "2024-01-01 10:00:00", 1),
        _ev(2, "2024-01-01 10:05:00", 1, "purchase", 60.0),
        _ev(3, "2024-01-02 09:00:00", 1),            # day-2 return visit
        _ev(4, "2024-01-02 11:00:00", 2, "error", 5.0),
        _ev(5, "2024-01-03 08:00:00", 2, "purchase", 9.0),
    ])
    run_silver(spark, events, silver, ledger, NOW)
    ev_df = spark.read.parquet(events)
    g_full, g_daily = str(tmp_path / "g_full"), str(tmp_path / "g_daily")
    run_daily_features(spark, silver, ev_df, g_full)
    for d in ("2024-01-01", "2024-01-02", "2024-01-03"):
        run_daily_features(spark, silver, ev_df, g_daily, for_date=d)
    for t in ("user_daily", "item_daily", "top_item_per_day",
              "entry_type_daily", "cohort_vs_global"):
        full = spark.read.parquet(f"{g_full}/{t}")
        daily = spark.read.parquet(f"{g_daily}/{t}")
        cols = sorted(full.columns)
        assert sorted(map(tuple, full.select(*cols).collect())) == \
            sorted(map(tuple, daily.select(*cols).collect())), t
    # re-running one date converges (idempotent partition overwrite)
    run_daily_features(spark, silver, ev_df, g_daily,
                       for_date="2024-01-02")
    ud = spark.read.parquet(f"{g_daily}/user_daily")
    full_ud = spark.read.parquet(f"{g_full}/user_daily")
    assert ud.count() == full_ud.count()


def test_quality_gate_blocks_bad_silver(spark, tmp_path):
    """Content constraints refuse the gold write before any partition
    is touched — and the error reports EVERY failing rule."""
    import pytest as _pt

    from w_userflow_featurestore_spark.operators.quality import (
        not_null, unique,
    )
    from w_userflow_featurestore_spark.runner import (
        QualityGateError, quality_gate,
    )
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c")], "session_id long, v string")
    with _pt.raises(QualityGateError) as ei:
        quality_gate(df, [not_null("session_id"), unique("session_id")])
    msg = str(ei.value)
    assert "session_id_not_null" in msg and "session_id_unique" in msg
    # a clean frame passes silently
    ok = spark.createDataFrame([(1, "a"), (2, "b")],
                               "session_id long, v string")
    quality_gate(ok, [not_null("session_id"), unique("session_id")])


def test_open_tail_lookback_propagates_read_failures(spark, tmp_path):
    """_extend_with_open_tails treats ONLY 'table missing' as first-run.

    A corrupted silver table (or any other read failure) must raise,
    not silently skip the continuation lookback: skipping would
    re-sessionize a spanning session without its head and MERGE a
    fragment row next to the stale tail — permanent silent corruption.
    """
    import pytest as _pt

    from w_userflow_featurestore_spark.runner import _extend_with_open_tails

    events, silver = str(tmp_path / "events"), str(tmp_path / "silver")
    _write(spark, events, [_ev(1, "2024-01-01 10:00:00", 1)])
    inc = spark.read.parquet(events)

    # missing table -> first-run path, increment passes through
    out, retire = _extend_with_open_tails(spark, inc, silver, events)
    assert out.count() == inc.count() and retire is None

    # corrupted table (a non-parquet file at the path) -> must raise
    import os
    os.makedirs(silver, exist_ok=True)
    with open(os.path.join(silver, "part-00000.parquet"), "w") as fh:
        fh.write("this is not parquet")
    with _pt.raises(Exception) as ei:
        _extend_with_open_tails(spark, inc, silver, events)[0].count()
    assert "PATH_NOT_FOUND" not in str(ei.value)

    # LogTable format: zero-commit table -> first-run; corrupt log -> raise
    from w_userflow_featurestore_spark.sources import LogTable
    logdir = str(tmp_path / "logsilver")
    LogTable.create(spark, logdir, ["datetime"])
    out, retire = _extend_with_open_tails(spark, inc, logdir, events)
    assert out.count() == inc.count() and retire is None
    with open(os.path.join(logdir, "_txn_log", "00000000000000000001.json"),
              "w") as fh:
        fh.write("{corrupt json")
    with _pt.raises(Exception):
        _extend_with_open_tails(spark, inc, logdir, events)[0].count()


def _land(spark, path, data, fmt):
    """Deliver ``data`` to an events table in ``fmt``: a parquet
    directory (IncrementalPlanner) or a LogTable (LakehousePlanner)."""
    if fmt == "log":
        from w_userflow_featurestore_spark.sources import LogTable
        LogTable.create(spark, path).append(
            spark.createDataFrame(data, EVENTS_DDL))
    else:
        _write(spark, path, data)


def _retract(spark, path, event_id, fmt):
    """Delete one delivered event from the events table: the parquet
    file holding it, or a LogTable ``delete_where`` commit. Either
    breaks the planner's lineage, so the next run reads in full."""
    if fmt == "log":
        from w_userflow_featurestore_spark.sources import LogTable
        LogTable(spark, path).delete_where([("event_id", "=", event_id)])
        return
    import glob
    import os
    for f in glob.glob(os.path.join(path, "*.parquet")):
        if spark.read.parquet(f).where(f"event_id = {event_id}").count():
            os.remove(f)


def _incremental_and_full(spark, tmp_path, slices, fmt, retract=None):
    """Run silver once per arrival slice (then, with ``retract``, once
    more after that event is deleted), and once over every remaining
    event; returns the incremental silver frame and both tables as
    sorted row lists."""
    events, silver, ref = (str(tmp_path / p)
                           for p in ("events", "silver", "silver_ref"))
    ledger = str(tmp_path / "ledger.json")
    for data in slices:
        _land(spark, events, data, fmt)
        run_silver(spark, events, silver, ledger, NOW)
    if retract is not None:
        _retract(spark, events, retract, fmt)
        assert run_silver(spark, events, silver, ledger, NOW).mode == "full"
    run_silver(spark, events, ref, str(tmp_path / "ledger_ref.json"), NOW)
    inc = read_path(spark, silver)
    full = read_path(spark, ref)
    cols = sorted(full.columns)
    return inc, rows(inc, *cols), rows(full, *cols)


#: (first delivery, late delivery) pairs where the late event changes a
#: stored session's start, and with it the content-derived session id.
SUPERSEDED = {
    # within the gap before the session's start, on the same day: the
    # 10:00 session becomes the 09:50 session
    "same_day": (
        [_ev(1, "2024-01-01 10:00:00", 1), _ev(2, "2024-01-01 10:05:00", 1),
         _ev(3, "2024-01-01 12:00:00", 2)],
        [_ev(4, "2024-01-01 09:50:00", 1)]),
    # across midnight: the session moves to the previous day and leaves
    # its old day partition with no rows
    "across_midnight": (
        [_ev(1, "2024-01-02 00:05:00", 1), _ev(2, "2024-01-02 00:10:00", 1),
         _ev(3, "2024-01-01 12:00:00", 2)],
        [_ev(4, "2024-01-01 23:55:00", 1)]),
    # bridging: two sessions 45 minutes apart fuse under the first id,
    # and the second session's row must go
    "bridging": (
        [_ev(1, "2024-01-01 10:00:00", 1), _ev(2, "2024-01-01 10:05:00", 1),
         _ev(3, "2024-01-01 10:50:00", 1), _ev(4, "2024-01-01 10:55:00", 1),
         _ev(5, "2024-01-01 10:30:00", 2)],
        [_ev(6, "2024-01-01 10:28:00", 1)]),
    # retracted head: the session's first event is deleted from the
    # events table after both runs, and the full re-read that follows
    # re-derives the session from 10:10
    "retracted_head": (
        [_ev(1, "2024-01-01 10:00:00", 1)],
        [_ev(2, "2024-01-01 10:10:00", 1), _ev(3, "2024-01-01 10:20:00", 1),
         _ev(4, "2024-01-01 12:00:00", 2)]),
}


@pytest.mark.parametrize("fmt", ["parquet", "log"])
@pytest.mark.parametrize("case", sorted(SUPERSEDED))
def test_incremental_silver_retires_superseded_sessions(
        spark, tmp_path, case, fmt):
    """A late event that moves a session's start changes its id; the
    incremental merge must retire the stored session it re-derived, so
    silver equals a full recompute: one session for user 1. A full
    re-read over an existing silver retires every stored session."""
    import os

    inc, got, want = _incremental_and_full(
        spark, tmp_path, SUPERSEDED[case], fmt,
        retract=1 if case == "retracted_head" else None)
    assert got == want
    assert inc.where("user_id = 1").count() == 1
    if fmt == "parquet" and case == "across_midnight":
        assert not os.path.exists(
            os.path.join(str(tmp_path / "silver"), "datetime=2024-01-02"))


def _random_arrivals(seed: int, n_slices: int = 4):
    """A seeded event set cut into arrival slices by time, with some
    session heads and interior events delivered late and some events
    delivered twice. Also returns the late session heads that land
    after the rest of their session (the start-moving case)."""
    import random

    rng = random.Random(seed)
    sessions, eid = [], 0
    for uid in range(1, 8):
        t = dt.datetime(2024, 1, 1, 20) + dt.timedelta(
            minutes=rng.randrange(240))
        for _ in range(rng.randint(2, 4)):
            sess = []
            for _ in range(rng.randint(2, 5)):
                eid += 1
                sess.append(_ev(eid, t.isoformat(sep=" "), uid,
                                rng.choice(["view", "click", "purchase"]),
                                float(rng.randint(1, 50))))
                # a missing interior event can open a gap over 30 min
                t += dt.timedelta(minutes=rng.randint(1, 25))
            sessions.append(sess)
            t += dt.timedelta(minutes=rng.randint(31, 120))
    ordered = sorted((e for s in sessions for e in s), key=lambda e: e[1])
    size = -(-len(ordered) // n_slices)
    slot = {e[0]: i // size for i, e in enumerate(ordered)}
    heads = [s[0] for s in sessions]
    interior = [e for s in sessions for e in s[1:-1]]
    late = rng.sample(heads, 3) + rng.sample(interior, 3)
    for e in late:
        slot[e[0]] = min(n_slices - 1, slot[e[0]] + rng.randint(1, 2))
    slices = [[e for e in ordered if slot[e[0]] == i]
              for i in range(n_slices)]
    for e in rng.sample(ordered, 4):          # re-deliveries
        slices[min(n_slices - 1, slot[e[0]] + 1)].append(e)
    moved = [s[0] for s in sessions
             if s[0] in late and slot[s[0][0]] > slot[s[1][0]]]
    return slices, moved


@pytest.mark.parametrize("fmt,seed", [("parquet", 3), ("parquet", 11),
                                      ("log", 5)])
def test_incremental_silver_equals_full_on_random_arrivals(
        spark, tmp_path, fmt, seed):
    """Incremental run_silver over seeded arrival slices (duplicates,
    interior late events, start-moving late events) equals one full
    run_silver. Every row also keeps its day partition equal to the
    date of the start second inside its id — the property that lets
    the silver merge key on (session_id, datetime) with no key ever
    changing partition."""
    from pyspark.sql import functions as F

    slices, moved = _random_arrivals(seed)
    assert moved, "the seed must deliver a session head late"
    inc, got, want = _incremental_and_full(spark, tmp_path, slices, fmt)
    assert got == want
    start_day = F.to_date(F.timestamp_seconds(
        F.col("session_id") % F.lit(10_000_000_000)))
    assert inc.where(F.col("datetime") != start_day).count() == 0


@pytest.mark.parametrize("fmt,budget", [("parquet", 17), ("log", 21)])
def test_incremental_silver_tick_job_budget(spark, tmp_path, fmt, budget):
    """One steady-state incremental tick with an open-tail lookback runs
    at most ``budget`` Spark jobs. A second scan of silver for the
    lookback, or a partition-blind victim scan and emptied-partition
    collect in the parquet merge, adds jobs and fails this."""
    events, silver, ledger = (str(tmp_path / p)
                              for p in ("events", "silver", "ledger.json"))
    _land(spark, events, [
        _ev(i, f"2024-01-0{1 + i % 3} {10 + i % 8}:{i % 6}0:00", i % 7)
        for i in range(40)], fmt)
    run_silver(spark, events, silver, ledger, NOW)
    for tick in range(3):
        # each tick extends user 1's day-3 session (last event 15:50)
        # and opens a session for a new user
        _land(spark, events, [
            _ev(100 + tick, f"2024-01-03 16:{10 + 10 * tick}:00", 1),
            _ev(200 + tick, f"2024-01-03 0{tick}:00:00", 9)], fmt)
        group = f"silver-tick-budget-{fmt}-{tick}"
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            r = run_silver(spark, events, silver, ledger, NOW)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert r.mode == "incremental" and r.input_rows > 2   # lookback
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= budget, jobs


def test_split_ledger_persist_reload_extend_three_batches(spark, tmp_path):
    """The leakage-split ledger's persistence loop: three batches ingest
    through run_split_ledger_update (persist -> reload -> extend), and
    after every commit the ledger equals component_ledger rebuilt from
    scratch on everything ingested so far — state never drifts. Each
    version is one LogTable snapshot (ids 1..3) that lands only after
    its write, so a crashed run would leave the prior version live."""
    import os
    from w_userflow_featurestore_spark.operators.sampling import (
        component_ledger,
    )
    from w_userflow_featurestore_spark.runner import (
        read_split_ledger, run_split_ledger_update,
    )
    from w_userflow_featurestore_spark.sources import LogTable
    ledger_dir = str(tmp_path / "split_ledger")
    os.makedirs(ledger_dir)
    # batch i brings docs 10i..10i+9; pairs touch earlier batches so
    # merges cross ingest boundaries (the star-collapse path)
    batches = [
        (range(0, 10), [(0, 3), (4, 7)]),
        (range(10, 20), [(10, 11), (12, 3)]),     # 12 joins {0,3}'s comp
        (range(20, 30), [(20, 4), (20, 10)]),     # merges two old comps
    ]
    seen_docs, seen_pairs = [], []
    for i, (ids, prs) in enumerate(batches, start=1):
        docs = spark.createDataFrame([(d,) for d in ids], "doc_id long")
        pairs = spark.createDataFrame(prs or [(None, None)],
                                      "doc_a long, doc_b long") \
            .where("doc_a IS NOT NULL")
        res = run_split_ledger_update(spark, ledger_dir, docs, pairs)
        assert res.version == i
        assert res.mode == ("initial" if i == 1 else "incremental")
        seen_docs.extend(ids)
        seen_pairs.extend(prs)
        # on-disk protocol: version i is the ledger table's snapshot i
        assert [s.snapshot_id for s in
                LogTable(spark, ledger_dir).snapshots()] == \
            list(range(1, i + 1))
        got = {tuple(r) for r in read_split_ledger(spark, ledger_dir)
               .collect()}
        all_docs = spark.createDataFrame([(d,) for d in seen_docs],
                                         "doc_id long")
        all_pairs = spark.createDataFrame(seen_pairs,
                                          "doc_a long, doc_b long")
        want = {tuple(r)
                for r in component_ledger(all_docs, all_pairs).collect()}
        assert got == want
        assert res.n_docs == len(want)
    # doc 20's pairs merged {4,7} with {10,11}: one cross-batch
    # component keyed 4; {0,3,12} stays its own, keyed 0
    final = dict(got)
    assert {final[d] for d in (0, 3, 12)} == {0}
    assert {final[d] for d in (4, 7, 10, 11, 20)} == {4}
    # retention is the table's own: expire the history, reclaim the
    # superseded versions' files, and the current version reads the same
    lt = LogTable(spark, ledger_dir)
    assert lt.expire_snapshots(keep_last=1) == 2
    assert lt.vacuum(retention_seconds=0) >= 2
    assert {tuple(r) for r in read_split_ledger(spark, ledger_dir)
            .collect()} == got


def test_novelty_ledger_score_then_ingest_three_batches(spark, tmp_path):
    """The novelty ledger's pipeline loop: each day's batch is SCORED
    against the history ledger first, then ingested (the score-then-
    ingest order score_batch_novelty documents). After every commit the
    ledger equals shingle_ledger rebuilt from everything ingested so
    far, and each score equals incremental_novelty against an inline
    ledger of the prior batches — persistence never drifts state."""
    import os
    import pytest as _pt
    from w_userflow_featurestore_spark.operators.dedup import (
        incremental_novelty, shingle_ledger,
    )
    from w_userflow_featurestore_spark.runner import (
        read_novelty_ledger, run_novelty_ledger_update,
        score_batch_novelty,
    )
    from w_userflow_featurestore_spark.sources import LogTable
    ledger_dir = str(tmp_path / "novelty_ledger")
    os.makedirs(ledger_dir)
    with _pt.raises(FileNotFoundError):
        read_novelty_ledger(spark, ledger_dir)
    texts = {1: "a b c d e", 2: "f g h i j",        # batch 1
             3: "a b c d e", 4: "k l m n o",        # batch 2: 3 mirrors 1
             5: "f g h unique tail", 6: "p q r s"}  # batch 3: 5 overlaps 2
    mk = lambda ids: spark.createDataFrame(
        [(d, texts[d]) for d in ids], "doc_id long, text string")
    batches = [[1, 2], [3, 4], [5, 6]]
    seen: list[int] = []
    scores: dict[int, tuple] = {}
    for i, ids in enumerate(batches, start=1):
        if seen:
            got = {r["doc_id"]: (r["n_novel"], r["novelty_bp"]) for r in
                   score_batch_novelty(spark, ledger_dir,
                                       mk(ids)).collect()}
            want = {r["doc_id"]: (r["n_novel"], r["novelty_bp"]) for r in
                    incremental_novelty(mk(ids),
                                        shingle_ledger(mk(seen)))
                    .collect()}
            assert got == want
            scores.update(got)
        res = run_novelty_ledger_update(spark, ledger_dir, mk(ids))
        assert res.version == i
        assert res.mode == ("initial" if i == 1 else "incremental")
        seen.extend(ids)
        assert [s.snapshot_id for s in
                LogTable(spark, ledger_dir).snapshots()] == \
            list(range(1, i + 1))
        got_l = {tuple(r) for r in
                 read_novelty_ledger(spark, ledger_dir).collect()}
        want_l = {tuple(r) for r in shingle_ledger(mk(seen)).collect()}
        assert got_l == want_l
        assert res.n_shingles == len(want_l)
    # batch-2 scoring saw doc 3 as a full mirror of ingested doc 1;
    # batch-3 doc 6 shares nothing with any prior ingest
    assert scores[3] == (0, 0)
    assert scores[6][1] == 10000


def test_ledger_pointer_cas_rejects_the_losing_concurrent_writer(
        spark, tmp_path, monkeypatch):
    """Two concurrent ingests that both read version N must NOT both
    land — the loser's commit would silently erase the winner's counts
    from the additive ledger. A rival commits between this run's read
    of its base and its rewrite; the stale run raises
    ConcurrentCommitError, the committed ledger holds exactly the
    winner's history, and a re-run commits the next version."""
    import os
    import pytest as _pt
    from w_userflow_featurestore_spark.operators import dedup
    from w_userflow_featurestore_spark.operators.dedup import (
        shingle_ledger,
    )
    from w_userflow_featurestore_spark.runner import (
        read_novelty_ledger, run_novelty_ledger_update,
    )
    from w_userflow_featurestore_spark.sources import (
        ConcurrentCommitError, LogTable,
    )
    ledger_dir = str(tmp_path / "novelty_cas")
    os.makedirs(ledger_dir)
    texts = {1: "a b c d e", 2: "f g h i j", 3: "k l m n o"}
    mk = lambda ids: spark.createDataFrame(
        [(d, texts[d]) for d in ids], "doc_id long, text string")
    assert run_novelty_ledger_update(spark, ledger_dir, mk([1])).version == 1

    real_merge = dedup.merge_shingle_ledger
    rival: dict = {}

    def merge_then_rival_commits(prev, batch):
        # runs after this ingest read version 1: the rival (batch {2})
        # reads version 1 too and commits version 2 first
        if "version" not in rival:
            rival["version"] = None      # the rival's own merge skips this
            rival["version"] = run_novelty_ledger_update(
                spark, ledger_dir, mk([2])).version
        return real_merge(prev, batch)

    monkeypatch.setattr(dedup, "merge_shingle_ledger",
                        merge_then_rival_commits)
    with _pt.raises(ConcurrentCommitError):
        run_novelty_ledger_update(spark, ledger_dir, mk([3]))
    monkeypatch.setattr(dedup, "merge_shingle_ledger", real_merge)
    assert rival["version"] == 2
    # the winner's history is intact: ledger == batches {1} + {2}
    assert [s.snapshot_id for s in
            LogTable(spark, ledger_dir).snapshots()] == [1, 2]
    got = {tuple(r) for r in
           read_novelty_ledger(spark, ledger_dir).collect()}
    want = {tuple(r) for r in shingle_ledger(mk([1, 2])).collect()}
    assert got == want
    # and the re-run against the fresh base commits version 3
    assert run_novelty_ledger_update(spark, ledger_dir, mk([3])).version == 3
    got = {tuple(r) for r in
           read_novelty_ledger(spark, ledger_dir).collect()}
    assert got == {tuple(r)
                   for r in shingle_ledger(mk([1, 2, 3])).collect()}


def test_incremental_silver_log_tick_reads_the_log_at_most_7_times(
        spark, tmp_path):
    """One log-format incremental tick with an open-tail lookback reads
    a LogTable's whole log at most 7 times: the planner's head and
    increment (2), silver's "written yet" check and lookback read (2),
    the events lookback read (1), and the merge's stage and commit
    (2)."""
    from tests.conftest import log_scans
    events, silver, ledger = (str(tmp_path / p)
                              for p in ("events", "silver", "ledger.json"))
    _land(spark, events, [
        _ev(i, f"2024-01-0{1 + i % 3} {10 + i % 8}:{i % 6}0:00", i % 7)
        for i in range(40)], "log")
    run_silver(spark, events, silver, ledger, NOW)
    _land(spark, events, [_ev(100, "2024-01-03 16:10:00", 1),
                          _ev(200, "2024-01-03 00:00:00", 9)], "log")
    got = []
    n = log_scans(lambda: got.append(
        run_silver(spark, events, silver, ledger, NOW)))
    assert got[0].mode == "incremental" and got[0].input_rows > 2
    assert 0 < n <= 7, n
