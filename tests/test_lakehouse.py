"""LogTable transactional format + LakehousePlanner: REAL snapshot
semantics for the reference's Iceberg-backed behaviors (S6 incremental
snapshot scan, S7 ancestry walk, S9 MERGE INTO, S10 dynamic partition
overwrite — reference silver_user_session_events.py:67-76,146-186,
silver_dag.py:65-88, gold_*_metrics.py overwritePartitions)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows
from w_userflow_featurestore_spark.incremental import LakehousePlanner
from w_userflow_featurestore_spark.sources import (
    BrokenLineageError, LogTable, merge_upsert, overwrite_partitions,
)

DDL = "k long, datetime date, v string"
D1, D2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)


def _df(spark, data):
    return spark.createDataFrame(data, DDL)


@pytest.fixture
def table(spark, tmp_path):
    return LogTable.create(spark, str(tmp_path / "t"), ["datetime"])


# ------------------------------------------------------------ snapshots

def test_append_creates_snapshots_with_lineage(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    s2 = table.append(_df(spark, [(2, D2, "b")]))
    snaps = table.snapshots()
    assert [s.snapshot_id for s in snaps] == [s1, s2]
    assert snaps[0].parent_id is None and snaps[1].parent_id == s1
    assert all(s.operation == "append" for s in snaps)
    got = table.snapshots_df()
    assert got.count() == 2
    assert rows(got.where(F.col("snapshot_id") == s2), "n_added_files")[0][0] >= 1


def test_read_pins_snapshot_time_travel(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D2, "b")]))
    assert rows(table.read(), "k") == [(1,), (2,)]
    assert rows(table.read(s1), "k") == [(1,)]          # time travel


def test_read_recovers_partition_column_and_prunes(spark, table):
    table.append(_df(spark, [(1, D1, "a"), (2, D2, "b")]))
    df = table.read().where(F.col("datetime") == F.lit(D2))
    assert rows(df, "k", "datetime") == [(2, D2)]
    # partition pruning: the filter lands in the scan's PartitionFilters
    # (inputFiles() lists the relation pre-pruning, so inspect the plan)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:120]
    assert "datetime" in pf and "dynamicpruning" not in pf


def test_read_increment_between_snapshots(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    s2 = table.append(_df(spark, [(2, D1, "b")]))
    table.append(_df(spark, [(3, D2, "c")]))
    assert rows(table.read_increment(s1, s2), "k") == [(2,)]
    assert rows(table.read_increment(s1), "k") == [(2,), (3,)]
    assert rows(table.read_increment(None, s1), "k") == [(1,)]


def test_read_increment_refuses_rewrites_in_range(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    table.merge(_df(spark, [(1, D1, "A")]), keys=["k"])
    with pytest.raises(BrokenLineageError, match="non-append"):
        table.read_increment(s1)


# ---------------------------------------------------------------- merge

def test_merge_updates_inserts_file_granular(spark, table):
    table.append(_df(spark, [(1, D1, "a"), (2, D1, "b")]))
    table.append(_df(spark, [(3, D2, "c")]))
    untouched_before = [f for f in table.files() if "datetime=2024-01-02" in f]
    table.merge(_df(spark, [(2, D1, "B"), (4, D2, "d")]), keys=["k"])
    assert rows(table.read(), "k", "v") == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d")]
    # copy-on-write: file holding k=3 contains no matched key (k=4 is an
    # insert, k=2 lives in the D1 file) -> it must survive un-rewritten
    assert set(untouched_before) <= set(table.files())
    assert table.snapshots()[-1].operation == "merge"


def test_merge_idempotent_and_first_write_creates(spark, table):
    batch = _df(spark, [(1, D1, "a")])
    table.merge(batch, keys=["k"])           # empty table -> insert-only
    table.merge(batch, keys=["k"])           # replay converges
    assert rows(table.read(), "k", "v") == [(1, "a")]


def test_merge_upsert_dispatches_to_log_format(spark, tmp_path):
    path = str(tmp_path / "t")
    LogTable.create(spark, path, ["datetime"])
    merge_upsert(spark, path, _df(spark, [(1, D1, "a")]),
                 keys=["k"], partition_by=["datetime"])
    # the second call dispatches the same way: a LogTable is at path
    merge_upsert(spark, path, _df(spark, [(1, D1, "A"), (2, D2, "b")]),
                 keys=["k"], partition_by=["datetime"])
    t = LogTable(spark, path)
    assert rows(t.read(), "k", "v") == [(1, "A"), (2, "b")]
    assert len(t.snapshots()) == 2


# ---------------------------------------------- partition overwrite

def test_overwrite_partitions_atomic_commit(spark, table):
    table.append(_df(spark, [(1, D1, "a"), (2, D2, "b")]))
    table.overwrite_partitions(_df(spark, [(3, D2, "c")]))
    assert rows(table.read(), "k", "v") == [(1, "a"), (3, "c")]
    assert table.snapshots()[-1].operation == "overwrite_partitions"
    # prior snapshot still fully readable (old files only unreferenced)
    assert rows(table.read(table.snapshots()[0].snapshot_id), "k") == [
        (1,), (2,)]


def test_overwrite_partitions_helper_dispatch(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LogTable.create(spark, path, ["datetime"])
    t.append(_df(spark, [(1, D1, "a")]))
    overwrite_partitions(_df(spark, [(2, D1, "b")]), path, ["datetime"])
    assert rows(t.read(), "k", "v") == [(2, "b")]


# ------------------------------------------------- rollback / vacuum

def test_rollback_forks_lineage_and_restores_state(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    s2 = table.append(_df(spark, [(2, D2, "b")]))
    s3 = table.rollback(s1)
    assert rows(table.read(), "k") == [(1,)]
    assert table.is_ancestor(s1, s3)
    assert not table.is_ancestor(s2, s3)     # s2 is now a dead fork


def test_vacuum_drops_only_dead_files(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D2, "b")]))
    table.rollback(s1)
    assert table.vacuum(retention_seconds=0) >= 1   # the dead fork's files
    assert rows(table.read(), "k") == [(1,)]


def test_vacuum_retention_spares_staged_uncommitted_files(spark, table):
    """_stage_write lands files in data/ BEFORE the commit publishes
    them; default-retention vacuum must not delete an in-flight
    writer's staged files."""
    table.append(_df(spark, [(1, D1, "a")]))
    staged = table._stage_write(_df(spark, [(2, D2, "b")]))   # no commit yet
    assert table.vacuum() == 0               # fresh files survive default window
    s2 = table._commit("append", staged, [])
    assert rows(table.read(s2), "k") == [(1,), (2,)]   # commit still readable


def test_files_df_metadata_table(spark, table):
    """files_df: the Iceberg tbl.files analog — one row per live file
    with size, decoded partition values, and manifest stats."""
    s1 = table.append(_df(spark, [(1, D1, "a"), (2, D2, "b")]))
    table.append(_df(spark, [(3, D1, "c")]))
    got = table.files_df().collect()
    assert len(got) == len(table.files())
    assert all(r["size_bytes"] > 0 for r in got)
    assert {r["partition"]["datetime"] for r in got} == \
        {"2024-01-01", "2024-01-02"}
    old = table.files_df(s1)
    assert old.count() == len(table.files(s1))


def test_manifest_export_readable_by_external_engine(spark, table):
    """write_manifest: the symlink-manifest interop pattern — DuckDB
    (standing in for Trino) reads the snapshot from the manifest's
    file list alone, no LogTable library involved; an older snapshot's
    manifest is external time travel."""
    import duckdb

    s1 = table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D2, "b")]))
    table.merge(_df(spark, [(1, D1, "A"), (3, D2, "c")]), keys=["k"])

    def via_duckdb(manifest):
        paths = open(manifest).read().split()
        rel = duckdb.connect().execute(
            "select k, v, cast(datetime as varchar) d "
            "from read_parquet(?, hive_partitioning=true) order by k",
            [paths])
        return rel.fetchall()

    assert via_duckdb(table.write_manifest()) == [
        (1, "A", "2024-01-01"), (2, "b", "2024-01-02"),
        (3, "c", "2024-01-02")]
    assert via_duckdb(table.write_manifest(s1)) == [(1, "a", "2024-01-01")]


def test_special_char_and_null_partition_values(spark, tmp_path):
    """Hive dir escaping (%xx specials, __HIVE_DEFAULT_PARTITION__ for
    null) must round-trip through overwrite_partitions victim matching
    AND merge's _metadata.file_path URI decode — str(value)-vs-raw-dir
    comparison misses both."""
    ddl = "k long, p string, v string"
    t = LogTable.create(spark, str(tmp_path / "sp"), ["p"])
    t.append(spark.createDataFrame(
        [(1, "x:y z", "a"), (2, None, "b"), (3, "plain", "c")], ddl))
    # dynamic overwrite of the escaped and the null partitions: the old
    # files in those partitions must be REMOVED, not left as duplicates
    t.overwrite_partitions(spark.createDataFrame(
        [(1, "x:y z", "A"), (2, None, "B")], ddl))
    assert rows(t.read(), "k", "v") == [(1, "A"), (2, "B"), (3, "c")]
    # merge into the escaped partition: victim path must resolve
    t.merge(spark.createDataFrame(
        [(1, "x:y z", "AA"), (4, "x:y z", "d")], ddl), keys=["k"])
    assert rows(t.read(), "k", "v") == \
        [(1, "AA"), (2, "B"), (3, "c"), (4, "d")]


def test_commit_txn_recheck_uses_live_chain_like_append(spark, table):
    """After a rollback, a replayed txn must be RE-APPLIED by both the
    append() pre-check and _commit's post-race re-check — the dead
    fork's commit carries the token but is off-chain."""
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D2, "b")]), txn="batch-7")
    table.rollback(s1)
    # direct _commit probe: the same rule _commit applies after losing
    # a race — the dead fork's txn row must NOT short-circuit it
    staged = table._stage_write(_df(spark, [(3, D1, "c")]))
    s_new = table._commit("append", staged, [], txn="batch-7")
    assert s_new == table.latest_snapshot_id()
    assert rows(table.read(), "k") == [(1,), (3,)]
    # and a second replay on the live chain IS deduped, by both paths
    assert table.append(_df(spark, [(9, D1, "z")]), txn="batch-7") == s_new
    assert table._commit("append", [], [], txn="batch-7") == s_new


# ------------------------------------------------------------- planner

def test_lakehouse_planner_full_then_incremental_then_empty(spark, table, tmp_path):
    ledger = str(tmp_path / "ledger.json")
    p = LakehousePlanner(table, ledger)
    table.append(_df(spark, [(1, D1, "a")]))
    plan = p.plan_read(spark)
    assert plan.mode == "full" and rows(plan.df, "k") == [(1,)]
    plan.commit()

    table.append(_df(spark, [(2, D1, "b")]))
    plan2 = p.plan_read(spark)
    assert plan2.mode == "incremental" and rows(plan2.df, "k") == [(2,)]
    plan2.commit()

    assert p.plan_read(spark).mode == "empty"


def test_lakehouse_planner_uncommitted_replays(spark, table, tmp_path):
    p = LakehousePlanner(table, str(tmp_path / "ledger.json"))
    table.append(_df(spark, [(1, D1, "a")]))
    p.plan_read(spark).commit()
    table.append(_df(spark, [(2, D1, "b")]))
    p.plan_read(spark)                        # job "failed": no commit
    plan = p.plan_read(spark)
    assert plan.mode == "incremental" and rows(plan.df, "k") == [(2,)]


def test_lakehouse_planner_broken_ancestry_full_reread(spark, table, tmp_path):
    p = LakehousePlanner(table, str(tmp_path / "ledger.json"))
    table.append(_df(spark, [(1, D1, "a")]))
    s2 = table.append(_df(spark, [(2, D1, "b")]))
    sid1 = table.snapshots()[0].snapshot_id
    p.plan_read(spark).commit()               # ledger -> s2
    table.rollback(sid1)                      # s2 becomes a dead fork
    plan = p.plan_read(spark)
    assert plan.mode == "full"
    assert "lineage broken" in plan.reason
    assert rows(plan.df, "k") == [(1,)]
    assert s2 is not None


def test_lakehouse_planner_rewrite_in_range_full_reread(spark, table, tmp_path):
    p = LakehousePlanner(table, str(tmp_path / "ledger.json"))
    table.append(_df(spark, [(1, D1, "a")]))
    p.plan_read(spark).commit()
    table.merge(_df(spark, [(1, D1, "A")]), keys=["k"])   # rewrite commit
    plan = p.plan_read(spark)
    assert plan.mode == "full" and "lineage broken" in plan.reason
    assert rows(plan.df, "k", "v") == [(1, "A")]


# ----------------------------------------------------- silver binding

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")


def _events(eid, ts, uid, etype="view", value=1.0):
    return (eid, dt.datetime.fromisoformat(ts), uid, etype, value, "{}")


def test_run_silver_log_format_matches_parquet_format(spark, tmp_path):
    """The reference-shaped silver loop, both backends, same sessions."""
    from w_userflow_featurestore_spark.runner import run_silver

    batch1 = [_events(1, "2024-01-01 10:00:00", 1),
              _events(2, "2024-01-01 10:10:00", 1, "purchase", 60.0),
              _events(3, "2024-01-01 10:05:00", 2)]
    # fresh users per batch: an increment re-derives sessions from its
    # own rows only (documented run_silver semantics, both backends), so
    # reusing a user across batches would MERGE-clobber its session —
    # identically in both formats, but 4 distinct sessions reads clearer
    batch2 = [_events(4, "2024-01-01 10:12:00", 3, "error"),
              _events(5, "2024-01-02 09:00:00", 4)]
    now = "2024-01-02 12:00:00"

    # parquet emulation path
    pq_events = str(tmp_path / "pq_events")
    for b in (batch1, batch2):
        spark.createDataFrame(b, EVENTS_DDL).coalesce(1) \
            .write.mode("append").parquet(pq_events)
        run_silver(spark, pq_events, str(tmp_path / "pq_silver"),
                   str(tmp_path / "pq_ledger.json"), now)

    # LogTable path: same batches as append commits
    lt = LogTable.create(spark, str(tmp_path / "lt_events"), ["datetime"])
    for b in (batch1, batch2):
        lt.append(spark.createDataFrame(b, EVENTS_DDL)
                  .withColumn("datetime", F.to_date("ts")))
        r = run_silver(spark, lt.path, str(tmp_path / "lt_silver"),
                       str(tmp_path / "lt_ledger.json"), now)
        assert r.mode in ("full", "incremental")

    cols = ["session_id", "user_id", "start_time", "end_time", "n_events",
            "session_state", "is_complete", "is_exit"]
    want = rows(spark.read.parquet(str(tmp_path / "pq_silver")), *cols)
    got = rows(LogTable(spark, str(tmp_path / "lt_silver")).read()
               .drop("datetime"), *cols)
    assert got == want and len(got) == 4
    # second batch planned incrementally off snapshot lineage, and the
    # silver table accumulated one merge commit per run
    silver = LogTable(spark, str(tmp_path / "lt_silver"))
    assert [s.operation for s in silver.snapshots()] == ["merge", "merge"]
    assert os.path.exists(str(tmp_path / "lt_ledger.json"))


# ------------------------------------------- streaming + maintenance

def test_bronze_ingest_log_format_commits_and_dedups_replays(spark, tmp_path):
    """File stream -> LogTable bronze: each drained micro-batch is one
    append snapshot; a checkpoint-replayed batch (same txn token) must
    NOT double-append; the silver planner then reads the second commit
    as a clean increment — the reference's bronze->silver pipeline
    end-to-end on real snapshots."""
    from w_userflow_featurestore_spark.streaming import bronze_ingest

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write = lambda data: spark.createDataFrame(data, EVENTS_DDL) \
        .coalesce(1).write.mode("append").parquet(src)  # noqa: E731
    _write([_events(1, "2024-01-01 10:00:00", 1)])
    q = bronze_ingest(spark.readStream.schema(EVENTS_DDL).parquet(src),
                      out, ckpt, available_now=True, table_format="log")
    q.awaitTermination(120)
    t = LogTable(spark, out)
    assert [s.operation for s in t.snapshots()] == ["append"]
    assert t.read().count() == 1

    _write([_events(2, "2024-01-01 11:00:00", 2)])
    q2 = bronze_ingest(spark.readStream.schema(EVENTS_DDL).parquet(src),
                       out, ckpt, available_now=True, table_format="log")
    q2.awaitTermination(120)
    assert len(t.snapshots()) == 2 and t.read().count() == 2

    # simulate checkpoint-recovery replay: same txn token -> no-op
    sid = t.append(spark.createDataFrame(
        [_events(2, "2024-01-01 11:00:00", 2)], EVENTS_DDL)
        .withColumn("datetime", F.to_date("ts")),
        txn=f"bronze:{ckpt}:1")
    assert sid == t.snapshots()[1].snapshot_id      # deduped, not appended
    assert len(t.snapshots()) == 2 and t.read().count() == 2

    # silver increment off the bronze snapshots
    p = LakehousePlanner(t, str(tmp_path / "ledger.json"))
    p.plan_read(spark).commit()
    _write([_events(3, "2024-01-02 09:00:00", 3)])
    q3 = bronze_ingest(spark.readStream.schema(EVENTS_DDL).parquet(src),
                       out, ckpt, available_now=True, table_format="log")
    q3.awaitTermination(120)
    plan = p.plan_read(spark)
    assert plan.mode == "incremental"
    assert [r["event_id"] for r in plan.df.collect()] == [3]


def test_compact_single_replace_commit_triggers_full_replan(spark, table, tmp_path):
    for i in range(4):
        table.append(_df(spark, [(i, D1, "x"), (100 + i, D2, "y")]))
    p = LakehousePlanner(table, str(tmp_path / "ledger.json"))
    p.plan_read(spark).commit()
    n_before = len(table.files())
    table.compact(target_files=1)
    assert table.snapshots()[-1].operation == "replace"
    assert len(table.files()) < n_before
    assert rows(table.read(), "k") == rows(
        table.read(table.snapshots()[-2].snapshot_id), "k")  # same data
    # incremental range crossing the replace -> full replan, idempotent
    plan = p.plan_read(spark)
    assert plan.mode == "full" and "lineage broken" in plan.reason
    assert plan.df.count() == 8


def test_rewrite_changes_content_atomically_and_pins_old_readers(
        spark, table):
    """rewrite() = whole-table content replace in ONE commit: the new
    row set is whatever build returns (here: a group-sum roll-up of
    additive deltas — fewer rows, same summed view), the commit is a
    'replace' like compact's, and a reader pinned to the pre-rewrite
    snapshot still sees the original deltas."""
    table.append(_df(spark, [(1, D1, "a"), (2, D1, "b")]))
    table.append(_df(spark, [(1, D1, "c"), (3, D2, "d")]))
    pre = table.latest_snapshot_id()
    table.rewrite(lambda prev: prev.groupBy("k", "datetime").agg(
        F.count(F.lit(1)).cast("string").alias("v")))
    assert table.snapshots()[-1].operation == "replace"
    assert rows(table.read(), "k", "v") == [
        (1, "2"), (2, "1"), (3, "1")]            # rows CHANGED (rolled up)
    assert table.read().count() == 3
    assert table.read(pre).count() == 4          # old snapshot untouched


def test_rewrite_validates_the_snapshot_its_input_was_read_from(
        spark, table):
    """A rival commit landing between the read a rewrite derives from
    and its commit must fail the rewrite — validating against the
    table as it is at commit time would commit the stale frame and
    silently drop the rival's rows."""
    from w_userflow_featurestore_spark.sources import ConcurrentCommitError
    table.append(_df(spark, [(1, D1, "a")]))

    def rival_commits(prev):
        table.append(_df(spark, [(2, D2, "b")]))    # the rival
        return prev

    with pytest.raises(ConcurrentCommitError):
        table.rewrite(rival_commits)
    assert [s.snapshot_id for s in table.snapshots()] == [1, 2]
    assert rows(table.read(), "k") == [(1,), (2,)]
    # re-derived from the current snapshot, the rewrite commits
    assert table.rewrite(lambda prev: prev) == 3
    assert rows(table.read(), "k") == [(1,), (2,)]


def test_run_daily_features_log_format_matches_parquet(spark, tmp_path):
    """Gold on LogTable: same feature rows as the parquet backend, one
    atomic overwrite commit per table, idempotent on re-run."""
    from w_userflow_featurestore_spark.runner import (
        run_daily_features, run_silver,
    )

    batch = [_events(1, "2024-01-01 10:00:00", 1),
             _events(2, "2024-01-01 10:10:00", 1, "purchase", 60.0),
             _events(3, "2024-01-01 10:05:00", 2, "click")]
    now = "2024-01-02 12:00:00"
    events_df = spark.createDataFrame(batch, EVENTS_DDL)

    pq_events = str(tmp_path / "ev")
    events_df.write.parquet(pq_events)
    run_silver(spark, pq_events, str(tmp_path / "pq_silver"),
               str(tmp_path / "pq_ledger.json"), now)
    want = run_daily_features(spark, str(tmp_path / "pq_silver"),
                              events_df, str(tmp_path / "pq_gold"))

    lt = LogTable.create(spark, str(tmp_path / "lt_events"), ["datetime"])
    lt.append(events_df.withColumn("datetime", F.to_date("ts")))
    run_silver(spark, lt.path, str(tmp_path / "lt_silver"),
               str(tmp_path / "lt_ledger.json"), now)
    got = run_daily_features(spark, str(tmp_path / "lt_silver"),
                             events_df, str(tmp_path / "lt_gold"))
    assert got == want                      # same rows-written per table

    for name in want:
        t = LogTable(spark, str(tmp_path / f"lt_gold/{name}"))
        assert [s.operation for s in t.snapshots()] == [
            "overwrite_partitions"]
        pq = spark.read.parquet(str(tmp_path / f"pq_gold/{name}"))
        cols = sorted(c for c in pq.columns if c != "datetime")
        assert rows(t.read(), *cols) == rows(pq, *cols), name

    # idempotent re-run: one more atomic commit, same data
    again = run_daily_features(spark, str(tmp_path / "lt_silver"),
                               events_df, str(tmp_path / "lt_gold"))
    assert again == want
    t0 = LogTable(spark, str(tmp_path / "lt_gold/user_daily"))
    assert len(t0.snapshots()) == 2


# ------------------------------------------------------- concurrency

def test_commit_race_append_retries_rewrite_raises(spark, table):
    """Optimistic concurrency: a concurrent writer lands a commit while
    an operation is staging its files (after it captured its base
    snapshot). An append must retry onto the next sequence number; a
    merge must raise ConcurrentCommitError — its staged output was
    derived from the now-stale base — and succeed when re-run."""
    import json as _json
    import os as _os

    from w_userflow_featurestore_spark.sources import ConcurrentCommitError

    table.append(_df(spark, [(1, D1, "a")]))

    def steal_next_seq():
        seq = table.latest_snapshot_id() + 1
        body = {"snapshot_id": seq, "parent_id": table.latest_snapshot_id(),
                "committed_at_ms": 0, "operation": "append",
                "add": [], "remove": [], "txn": None}
        with open(_os.path.join(table.path, "_txn_log",
                                f"{seq:020d}.json"), "x") as fh:
            _json.dump(body, fh)
        return seq

    orig = table._stage_write
    stolen = []

    def staging_racer(df):
        out = orig(df)
        stolen.append(steal_next_seq())   # concurrent commit mid-operation
        return out

    table._stage_write = staging_racer
    try:
        s = table.append(_df(spark, [(2, D2, "b")]))
        assert s == stolen[-1] + 1                  # append retried past it
        assert rows(table.read(), "k") == [(1,), (2,)]

        with pytest.raises(ConcurrentCommitError, match="merge"):
            table.merge(_df(spark, [(1, D1, "A")]), keys=["k"])
    finally:
        table._stage_write = orig
    # re-run against the new state converges
    table.merge(_df(spark, [(1, D1, "A")]), keys=["k"])
    assert rows(table.read(), "k", "v") == [(1, "A"), (2, "b")]


def test_commit_race_txn_append_stays_idempotent(spark, table):
    """If the racing winner WAS a replay of the same txn, the loser
    must dedup instead of double-appending."""
    df = _df(spark, [(1, D1, "a")])
    sid = table.append(df, txn="t1")
    assert table.append(df, txn="t1") == sid        # plain replay dedup
    assert table.read().count() == 1


def test_read_merge_schema_additive_evolution(spark, table):
    table.append(_df(spark, [(1, D1, "a")]))
    table.append(spark.createDataFrame([(2, D2, "b", 7.5)],
                                       DDL + ", score double"))
    evolved = table.read(merge_schema=True)
    assert set(evolved.columns) == {"k", "datetime", "v", "score"}
    got = {r["k"]: r["score"] for r in evolved.collect()}
    assert got == {1: None, 2: 7.5}       # old files NULL-fill new cols
    # pinned pre-evolution snapshot still reads with the old schema
    old = table.read(table.snapshots()[0].snapshot_id, merge_schema=True)
    assert "score" not in old.columns


# ------------------------------------------------- file-skipping stats

@pytest.fixture
def stats_table(spark, tmp_path):
    """Unpartitioned table with manifest stats on k: three appends with
    disjoint k-ranges = three prunable files."""
    t = LogTable.create(spark, str(tmp_path / "st"),
                        stats_columns=["k", "v"])
    for lo in (0, 100, 200):
        t.append(_df(spark, [(lo + i, D1, f"v{lo + i:03d}")
                             for i in range(3)]).coalesce(1))
    return t


def test_commit_manifest_records_footer_stats(spark, stats_table):
    snaps = stats_table.snapshots()
    assert all(s.stats for s in snaps)
    (f,) = snaps[0].add
    # extended form [min, max, null_count, num_rows]
    assert snaps[0].stats[f]["k"] == [0, 2, 0, 3]
    assert snaps[0].stats[f]["v"] == ["v000", "v002", 0, 3]


def test_read_filters_skip_files_and_match_full_scan(spark, stats_table):
    full = stats_table.read()
    assert len(full.inputFiles()) == 3
    pruned = stats_table.read(filters=[("k", ">=", 200)])
    # manifest min/max PROVES files with k<200 are irrelevant: the scan
    # lists one file, not three-then-filter
    assert len(pruned.inputFiles()) == 1
    assert rows(pruned, "k") == rows(full.where("k >= 200"), "k")
    # equality and IN shapes prune too
    assert len(stats_table.read(
        filters=[("k", "=", 101)]).inputFiles()) == 1
    assert len(stats_table.read(
        filters=[("k", "in", (1, 2))]).inputFiles()) == 1
    # string-column stats prune as well
    assert len(stats_table.read(
        filters=[("v", "<", "v100")]).inputFiles()) == 1


def test_read_filters_residual_applies_within_kept_file(spark, stats_table):
    got = stats_table.read(filters=[("k", ">", 200)])
    # file [200..202] survives pruning; the residual filter still drops
    # the k=200 row — pruning is never the correctness mechanism
    assert rows(got, "k") == [(201,), (202,)]


def test_read_filters_without_stats_keep_everything(spark, table):
    table.append(_df(spark, [(1, D1, "a")]).coalesce(1))
    table.append(_df(spark, [(2, D2, "b")]).coalesce(1))
    # no stats_columns configured: absence of stats must mean "cannot
    # prune", never "skip" — both files stay, filter still correct
    got = table.read(filters=[("k", ">=", 2)])
    assert len(got.inputFiles()) == 2
    assert rows(got, "k") == [(2,)]


def test_read_filters_prune_partition_dirs(spark, table):
    table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D2, "b")]))
    got = table.read(filters=[("datetime", "=", D2)])
    assert all("datetime=2024-01-02" in f for f in got.inputFiles())
    assert rows(got, "k") == [(2,)]


def test_read_increment_with_filters_prunes(spark, stats_table):
    s1 = stats_table.snapshots()[0].snapshot_id
    inc = stats_table.read_increment(s1, filters=[("k", ">=", 200)])
    assert len(inc.inputFiles()) == 1          # of the 2 in range
    assert rows(inc, "k") == [(200,), (201,), (202,)]


def test_merge_preserves_stats_for_untouched_files(spark, stats_table):
    # merge rewrites only the victim file; the other two keep their
    # original manifest stats and stay prunable afterwards
    stats_table.merge(_df(spark, [(101, D1, "UPD")]), keys=["k"])
    pruned = stats_table.read(filters=[("k", ">=", 200)])
    assert len(pruned.inputFiles()) == 1
    upd = stats_table.read(filters=[("k", "=", 101)])
    assert rows(upd, "v") == [("UPD",)]


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order + manifest stats: a selective predicate on EITHER
    clustered column must skip files. The x-sorted control layout
    prunes on x but cannot prune on y — that contrast IS the feature."""
    from w_userflow_featurestore_spark.sources import zorder

    df = (spark.range(0, 20_000)
          .select((F.col("id") % 100).alias("x"),
                  ((F.col("id") / 100).cast("long") % 100).alias("y"),
                  F.col("id").alias("payload")))
    n_files = 16

    def pruned_counts(t):
        total = len(t.files())
        fx = len(t._prune(t.files(), t.files_stats(),
                          [("x", ">=", 90)]))
        fy = len(t._prune(t.files(), t.files_stats(),
                          [("y", ">=", 90)]))
        return total, fx, fy

    tz = LogTable.create(spark, str(tmp_path / "z"), [],
                         stats_columns=["x", "y"])
    tz.append(zorder(df, ["x", "y"], n_files=n_files))
    total, fx, fy = pruned_counts(tz)
    assert total >= n_files // 2
    assert fx < total and fy < total          # BOTH dimensions prune
    # values survive the re-layout intact
    got = tz.read(filters=[("x", ">=", 90), ("y", ">=", 90)])
    exp = df.where((F.col("x") >= 90) & (F.col("y") >= 90))
    assert sorted(r["payload"] for r in got.collect()) == \
        sorted(r["payload"] for r in exp.collect())

    tl = LogTable.create(spark, str(tmp_path / "lin"), [],
                         stats_columns=["x", "y"])
    tl.append(df.repartitionByRange(n_files, F.col("x"))
                .sortWithinPartitions("x"))
    ltotal, lfx, lfy = pruned_counts(tl)
    assert lfx < ltotal                       # leading column prunes
    assert lfy == ltotal                      # trailing column cannot


def test_compact_with_zorder_tightens_stats_for_both_dims(spark, tmp_path):
    """compact(zorder_by=...): the sort-order-rewrite maintenance job —
    after accreting unclustered appends, one replace commit re-lays the
    table on the Morton curve and the refreshed manifest stats prune on
    both clustered columns."""
    t = LogTable.create(spark, str(tmp_path / "cz"), [],
                        stats_columns=["x", "y"])
    df = (spark.range(0, 10_000)
          .select((F.col("id") % 100).alias("x"),
                  ((F.col("id") / 100).cast("long") % 100).alias("y"),
                  F.col("id").alias("payload")))
    # four genuinely unclustered appends (round-robin mixes the id
    # range across every file) -> stats too wide to prune anything
    for i in range(4):
        t.append(df.where(F.col("payload") % 4 == i).repartition(8))
    before = len(t._prune(t.files(), t.files_stats(), [("y", ">=", 90)]))
    assert before == len(t.files())           # no pruning pre-rewrite
    rows_before = t.read().count()
    t.compact(target_files=16, zorder_by=["x", "y"])
    assert t.snapshots()[-1].operation == "replace"
    assert t.read().count() == rows_before    # data intact
    total = len(t.files())
    fx = len(t._prune(t.files(), t.files_stats(), [("x", ">=", 90)]))
    fy = len(t._prune(t.files(), t.files_stats(), [("y", ">=", 90)]))
    assert fx < total and fy < total          # both dimensions now prune


# ------------------------------------------------------------ delete

def test_delete_where_removes_only_matching_rows(spark, table):
    table.append(_df(spark, [(1, D1, "a"), (2, D1, "b")]))
    s2 = table.append(_df(spark, [(3, D2, "c")]))
    s3 = table.delete_where([("k", "=", 2)])
    assert s3 > s2
    assert rows(table.read(), "k") == [(1,), (3,)]
    # snapshot isolation: the pre-delete snapshot still sees the row
    assert rows(table.read(s2), "k") == [(1,), (2,), (3,)]
    assert table.snapshots()[-1].operation == "delete"


def test_delete_where_untouched_files_not_rewritten(spark, table):
    """Only files CONTAINING a match are rewritten — the D2 file's
    add-name must survive the delete commit verbatim."""
    table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(3, D2, "c")]))
    d2_files = {f for f in table.files() if "2024-01-02" in f}
    table.delete_where([("datetime", "=", "2024-01-01")])
    assert {f for f in table.files()} == d2_files
    assert rows(table.read(), "k") == [(3,)]


def test_delete_where_no_match_is_noop(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    assert table.delete_where([("k", "=", 99)]) == s1
    assert len(table.snapshots()) == 1      # no empty commit
    assert rows(table.read(), "k") == [(1,)]


def test_delete_where_null_predicate_rows_kept(spark, table):
    table.append(spark.createDataFrame([(1, D1, None), (2, D1, "x")], DDL))
    table.delete_where([("v", "=", "x")])
    # NULL never satisfies '=': the NULL-v row survives (SQL DELETE)
    assert rows(table.read(), "k") == [(1,)]


def test_delete_where_incremental_reader_replans(spark, table):
    """A delete rewrites files, so an incremental reader whose range
    crosses it must NOT see a pure-append increment."""
    s1 = table.append(_df(spark, [(1, D1, "a"), (2, D1, "b")]))
    table.delete_where([("k", "=", 1)])
    with pytest.raises(BrokenLineageError):
        table.read_increment(s1, None)


def test_update_where_rewrites_matching_rows_only(spark, table):
    table.append(_df(spark, [(1, D1, "a"), (2, D1, "b")]))
    s2 = table.append(_df(spark, [(3, D2, "c")]))
    table.update_where([("datetime", "=", "2024-01-01"), ("k", ">", 1)],
                       {"v": "B"})
    assert rows(table.read(), "k", "v") == [(1, "a"), (2, "B"), (3, "c")]
    # snapshot isolation + untouched-file preservation
    assert rows(table.read(s2), "k", "v") == [(1, "a"), (2, "b"), (3, "c")]
    d2_files = {f for f in table.files() if "2024-01-02" in f}
    assert d2_files == {f for f in table.files(s2) if "2024-01-02" in f}
    assert table.snapshots()[-1].operation == "update"


def test_update_where_accepts_column_expressions(spark, table):
    table.append(_df(spark, [(1, D1, "a"), (5, D1, "b")]))
    table.update_where([("k", ">=", 5)],
                       {"v": F.concat(F.col("v"), F.lit("!")),
                        "k": F.col("k") * 10})
    assert rows(table.read(), "k", "v") == [(1, "a"), (50, "b!")]


def test_update_where_no_match_is_noop(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    assert table.update_where([("k", "=", 99)], {"v": "X"}) == s1
    assert len(table.snapshots()) == 1


# ------------------------------------------------------------ change feed

def test_change_feed_append_merge_delete_update(spark, table):
    s0 = table.append(_df(spark, [(1, D1, "a"), (2, D1, "b")]))
    table.merge(_df(spark, [(2, D1, "B"), (3, D2, "c")]), keys=["k"])
    table.delete_where([("k", "=", 1)])
    table.update_where([("k", "=", 3)], {"v": "C"})
    feed = {(r["k"], r["v"], r["_change_type"])
            for r in table.change_feed(s0).collect()}
    # u2: update pair; k1: delete; k3: insert (its later update folds
    # into the NET change since s0 — inserted as C)
    assert feed == {(2, "b", "delete"), (2, "B", "insert"),
                    (1, "a", "delete"),
                    (3, "C", "insert")}


def test_change_feed_compact_and_copied_rows_cancel(spark, table):
    table.append(_df(spark, [(1, D1, "a"), (2, D1, "b")]))
    s = table.latest_snapshot_id()
    table.compact(target_files=1)            # rewrite, identical data
    assert table.change_feed(s).count() == 0
    # a merge copies the untouched row (k=1) into a new file: the copy
    # must NOT appear as a change
    table.merge(_df(spark, [(2, D1, "B")]), keys=["k"])
    feed = {(r["k"], r["v"], r["_change_type"])
            for r in table.change_feed(s).collect()}
    assert feed == {(2, "b", "delete"), (2, "B", "insert")}


def test_change_feed_full_history_and_bad_range(spark, table):
    table.append(_df(spark, [(1, D1, "a")]))
    s1 = table.latest_snapshot_id()
    table.delete_where([("k", "=", 1)])
    # from table birth: net effect is empty (inserted then deleted)
    assert table.change_feed(None).count() == 0
    table.rollback(s1)
    with pytest.raises(BrokenLineageError):
        # the dead fork's head is not an ancestor of the new head
        table.change_feed(s1 + 1)


# --------------------------------------------------------- expire

def test_expire_snapshots_releases_history_files(spark, table):
    s1 = table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D2, "b")]))
    table.compact(target_files=1)
    assert table.vacuum(retention_seconds=0) == 0   # all reachable
    assert table.expire_snapshots(keep_last=1) == 2
    assert table.vacuum(retention_seconds=0) >= 2   # pre-compaction files
    assert rows(table.read(), "k") == [(1,), (2,)]  # current data intact
    # time travel to expired history now fails cleanly
    with pytest.raises(BrokenLineageError):
        table.read_increment(s1, None)


def test_update_where_can_relocate_partition_values(spark, table):
    """An UPDATE that changes the partition column rewrites the row
    into its new Hive dir — reads see it under the new value, and
    partition-filtered reads prune correctly afterwards."""
    table.append(_df(spark, [(1, D1, "a"), (2, D2, "b")]))
    table.update_where([("k", "=", 1)], {"datetime": F.lit(D2)})
    assert rows(table.read(), "k", "datetime") == [(1, D2), (2, D2)]
    assert table.read(filters=[("datetime", "=", str(D1))]).count() == 0
    assert rows(table.read(filters=[("datetime", "=", str(D2))]), "k") \
        == [(1,), (2,)]


def test_expire_then_txn_replay_reapplies(spark, table):
    """expire_snapshots drops the commit that carried a txn token, so
    a replay past the retention window RE-applies — the documented
    Iceberg-guidance tradeoff, pinned so it stays a known boundary."""
    table.append(_df(spark, [(1, D1, "a")]), txn="b1")
    table.append(_df(spark, [(2, D2, "b")]))
    assert table.read().count() == 2
    # replay before expire: no-op
    table.append(_df(spark, [(1, D1, "a")]), txn="b1")
    assert table.read().count() == 2
    table.expire_snapshots(keep_last=1)
    # the checkpoint rewrite preserves the full live data set
    assert rows(table.read(), "k") == [(1,), (2,)]
    # replay after expire: token history gone -> re-applied
    table.append(_df(spark, [(1, D1, "a")]), txn="b1")
    assert table.read().count() == 3


def test_compact_partition_scoped(spark, table):
    """compact(filters=...) rewrites only the targeted partition's
    files; other partitions' file names survive the replace commit."""
    table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D1, "b")]))
    table.append(_df(spark, [(3, D2, "c")]))
    d2_before = {f for f in table.files() if "2024-01-02" in f}
    n_d1_before = sum("2024-01-01" in f for f in table.files())
    assert n_d1_before == 2
    table.compact(target_files=1,
                  filters=[("datetime", "=", "2024-01-01")])
    after = table.files()
    assert {f for f in after if "2024-01-02" in f} == d2_before
    assert sum("2024-01-01" in f for f in after) == 1
    assert rows(table.read(), "k") == [(1,), (2,), (3,)]


def test_update_where_evaluates_sets_against_original_row(spark, table):
    """SQL UPDATE semantics: every SET right-hand side and the WHERE
    predicate see the PRE-update row — a column swap must work and a
    SET of a predicate column must not hide the row from other SETs."""
    table.append(_df(spark, [(1, D1, "a"), (2, D1, "b")]))
    table.update_where([("k", "=", 1)], {"k": F.lit(100), "v": "X"})
    assert rows(table.read(), "k", "v") == [(100, "X"), (2, "b")]
    # swap two columns via each other's original values
    t2 = LogTable.create(spark, table.path + "_swap", [])
    t2.append(spark.createDataFrame([(1, 2)], "a long, b long"))
    t2.update_where([("a", "=", 1)], {"a": F.col("b"), "b": F.col("a")})
    assert rows(t2.read(), "a", "b") == [(2, 1)]


def test_null_count_stats_prune_null_predicates(spark, tmp_path):
    """IS NULL / IS NOT NULL file skipping: commit manifests record
    per-file null counts alongside min/max, an all-null file prunes
    under notnull, a fully-populated file prunes under isnull, and the
    residual filter keeps results exact either way."""
    from w_userflow_featurestore_spark.sources.lakehouse import LogTable

    path = str(tmp_path / "nulltbl")
    t = LogTable.create(spark, path, stats_columns=["v"])
    dense = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    allnull = spark.createDataFrame(
        [(3, None), (4, None)], "id long, v long")
    mixed = spark.createDataFrame([(5, 50), (6, None)], "id long, v long")
    for df in (dense, allnull, mixed):
        t.append(df.coalesce(1))

    stats = t.files_stats()
    assert len(stats) == 3
    by_nulls = sorted(s["v"][2] for s in stats.values())
    assert by_nulls == [0, 1, 2]          # null counts harvested per file
    # the all-null file has no min/max but DOES carry its null count
    (an,) = [s["v"] for s in stats.values() if s["v"][2] == 2]
    assert an[0] is None and an[1] is None and an[3] == 2

    live = t.files()
    pruned_nn = t._prune(live, stats, [("v", "notnull", None)])
    assert len(pruned_nn) == 2            # all-null file skipped
    pruned_in = t._prune(live, stats, [("v", "isnull", None)])
    assert len(pruned_in) == 2            # zero-null file skipped

    got_nn = sorted(r["id"] for r in
                    t.read(filters=[("v", "notnull", None)]).collect())
    assert got_nn == [1, 2, 5]
    got_in = sorted(r["id"] for r in
                    t.read(filters=[("v", "isnull", None)]).collect())
    assert got_in == [3, 4, 6]


def test_delete_where_isnull_removes_null_rows(spark, tmp_path):
    """DELETE ... WHERE col IS NULL — the GDPR-ish scrub of rows with a
    missing value; non-null rows in the same file are carried over."""
    from w_userflow_featurestore_spark.sources.lakehouse import LogTable

    path = str(tmp_path / "deltbl")
    t = LogTable.create(spark, path, stats_columns=["v"])
    t.append(spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v long").coalesce(1))
    t.delete_where([("v", "isnull", None)])
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3]


# --- round-11 review fixes: pruning soundness + maintenance races ----


def test_partition_prune_matches_spark_dir_formatting(spark, tmp_path):
    """Partition-dir pruning must use Spark's dir formatting, not bare
    Python str(): a double partition writes p=1.0, so an int literal 1
    must match numerically (str(1) is '1' — the old comparison pruned
    EVERY file and returned an empty frame for a matching filter).
    Booleans USED to read back as STRING partition values (Spark's own
    partition inference does not infer bool); since the round-12 typed
    read (``partition_types`` stamped at first write) they read back
    as genuine BOOLEAN — bool literals filter natively, and a string
    '=' literal still coerces (Spark casts across bool/string in
    binary comparison; inside IN lists Spark refuses mixed types, so a
    string 'in' literal is a caller type error now, as on any typed
    table)."""
    td = LogTable.create(spark, str(tmp_path / "td"), ["p"])
    td.append(spark.createDataFrame([(1.0, 10), (2.5, 20)],
                                    "p double, x long"))
    assert rows(td.read(filters=[("p", "=", 1)]).select("x")) == [(10,)]
    assert rows(td.read(filters=[("p", "in", [2.5, 7])])
                .select("x")) == [(20,)]
    tb = LogTable.create(spark, str(tmp_path / "tb"), ["flag"])
    tb.append(spark.createDataFrame([(True, 1), (False, 2)],
                                    "flag boolean, x long"))
    assert dict(tb.read().dtypes)["flag"] == "boolean"
    assert rows(tb.read(filters=[("flag", "=", "true")])
                .select("x")) == [(1,)]
    assert rows(tb.read(filters=[("flag", "=", True)])
                .select("x")) == [(1,)]
    assert rows(tb.read(filters=[("flag", "in", [False])])
                .select("x")) == [(2,)]
    # and the unit predicate handles the literal forms Spark writes
    from w_userflow_featurestore_spark.sources.lakehouse import (
        _part_matches,
    )
    assert _part_matches("true", True) and _part_matches("false", False)
    assert _part_matches("1.0", 1) and not _part_matches("1.0", 2)
    assert _part_matches("2024-01-01", dt.date(2024, 1, 1))


def test_partition_prune_temporal_decimal_and_special_doubles(
        spark, tmp_path):
    """_part_matches applies the temporal normalization the stats
    path does. Without it, a tz-aware literal formatted as
    '...+00:00' via isoformat never matched the naive dir string;
    a midnight datetime vs a DATE-partitioned dir (or a date literal
    vs a TIMESTAMP dir) failed the exact string match where Spark's
    own coercion matches; Spark trims trailing zeros in the dir's
    fractional seconds ('.123', not isoformat's '.123000'); decimal
    dirs carry the FULL declared scale ('1.500' vs str(Decimal('1.5'))
    = '1.5'); and NaN = NaN is TRUE in Spark SQL. Every one of these
    pruned ALL matching files — silent empty results."""
    import decimal as dec

    utc = dt.timezone.utc
    ist = dt.timezone(dt.timedelta(hours=5, minutes=30))

    ts = LogTable.create(spark, str(tmp_path / "ts"), ["p"])
    ts.append(spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 1),
         (dt.datetime(2024, 1, 1, 0, 0, 0, 123000), 2),
         (dt.datetime(2024, 1, 2, 10, 30), 3)], "p timestamp, x long"))
    # tz-aware literal (UTC wall-clock == session tz) matches
    assert rows(ts.read(filters=[
        ("p", "=", dt.datetime(2024, 1, 1, tzinfo=utc))])
        .select("x")) == [(1,)]
    # the same instant expressed in another zone matches too
    assert rows(ts.read(filters=[
        ("p", "=", dt.datetime(2024, 1, 1, tzinfo=utc).astimezone(ist))])
        .select("x")) == [(1,)]
    # DATE literal on a timestamp partition: Spark coerces to midnight
    assert rows(ts.read(filters=[("p", "=", dt.date(2024, 1, 1))])
                .select("x")) == [(1,)]
    # trailing-zero-trimmed dir fraction ('.123') vs isoformat '.123000'
    assert rows(ts.read(filters=[
        ("p", "=", dt.datetime(2024, 1, 1, 0, 0, 0, 123000))])
        .select("x")) == [(2,)]

    dp = LogTable.create(spark, str(tmp_path / "dp"), ["p"])
    dp.append(spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1), (dt.date(2024, 1, 2), 2)],
        "p date, x long"))
    # midnight datetime literal on a DATE partition matches its day...
    assert rows(dp.read(filters=[("p", "=", dt.datetime(2024, 1, 1))])
                .select("x")) == [(1,)]
    assert rows(dp.read(filters=[
        ("p", "=", dt.datetime(2024, 1, 1, tzinfo=utc))])
        .select("x")) == [(1,)]
    # ...and a non-midnight one correctly matches nothing
    assert dp.read(filters=[
        ("p", "=", dt.datetime(2024, 1, 1, 10, 0))]).count() == 0

    dc = LogTable.create(spark, str(tmp_path / "dc"), ["p"])
    dc.append(spark.createDataFrame(
        [(dec.Decimal("1.500"), 1), (dec.Decimal("-123456.789"), 2)],
        "p decimal(9,3), x long"))
    assert rows(dc.read(filters=[("p", "=", dec.Decimal("1.5"))])
                .select("x")) == [(1,)]
    assert rows(dc.read(filters=[
        ("p", "in", [dec.Decimal("-123456.789"), dec.Decimal("9")])])
        .select("x")) == [(2,)]

    # unit predicate on the literal dir forms Spark writes
    from w_userflow_featurestore_spark.sources.lakehouse import (
        _part_matches,
    )
    assert _part_matches("NaN", float("nan"))       # Spark: NaN = NaN
    assert not _part_matches("1.5", float("nan"))
    assert not _part_matches("NaN", 1.5)
    assert _part_matches("Infinity", float("inf"))
    assert _part_matches("1.0E300", 1e300)
    assert _part_matches("2024-01-01 00:00:00.123",
                         dt.datetime(2024, 1, 1, 0, 0, 0, 123000))
    assert not _part_matches("2024-01-01 00:00:00.123",
                             dt.datetime(2024, 1, 1, 0, 0, 0, 123001))
    assert _part_matches("1.500", dec.Decimal("1.5"))
    assert not _part_matches("1.500", dec.Decimal("1.501"))
    assert not _part_matches("abc", dec.Decimal("1.5"))


def test_stats_prune_aligns_date_and_datetime_shapes():
    """A DATE column's footer stats ('2024-01-01') compared against a
    timestamp-shaped literal must follow Spark's coercion (date ->
    timestamp at midnight), not lexicographic string order — the old
    comparison pruned files whose rows all matched."""
    from w_userflow_featurestore_spark.sources.lakehouse import (
        _stat_value, _stats_exclude,
    )
    stats = ["2024-01-01", "2024-01-03"]
    assert not _stats_exclude(stats, "=", "2024-01-01 00:00:00")
    assert not _stats_exclude(stats, "<=", "2024-01-01 00:00:00")
    # and pruning still fires where it is provably sound
    assert _stats_exclude(stats, "<", "2024-01-01 00:00:00")
    assert _stats_exclude(["2024-01-01", "2024-01-01"], ">",
                          "2024-01-01 00:00:00")
    assert not _stats_exclude(stats, "in",
                              ["2024-01-03 00:00:00"])
    # tz-aware stats (parquet TIMESTAMP is adjusted-to-UTC) normalize
    # to UTC wall-clock, not a raw offset-strip
    aware = dt.datetime(2024, 1, 1, 1, 0,
                        tzinfo=dt.timezone(dt.timedelta(hours=5)))
    assert _stat_value(aware) == "2023-12-31 20:00:00"


def test_update_where_rejects_unknown_set_column(spark, table):
    table.append(_df(spark, [(1, D1, "a")]))
    with pytest.raises(ValueError, match="unknown column"):
        table.update_where([("k", "=", 1)], {"vv": F.lit("typo")})
    # the data is untouched — no empty replace commit happened
    assert rows(table.read().select("v")) == [("a",)]


def test_snapshots_tolerates_concurrent_expire_deletions(
        spark, table, monkeypatch):
    """A log entry deleted by a concurrent expire_snapshots between
    listdir and open must be skipped (the checkpoint commit that
    replaced it summarizes its state), not crash every reader."""
    table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D2, "b")]))
    real_listdir = os.listdir

    def ghosting(path):
        names = real_listdir(path)
        if path == table._log_path:
            names = sorted(set(names) | {"00000000000000000099.json"})
        return names

    monkeypatch.setattr(os, "listdir", ghosting)
    snaps = table.snapshots()
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert table.read().count() == 2


def test_snapshots_relist_closes_the_torn_expire_interleaving(
        spark, table, monkeypatch):
    """Skipping a FileNotFoundError is not enough when the reader
    already CONSUMED a pre-expire entry before the
    expire deleted it — the returned list would mix that stale entry
    (parent chain gone) with the post-expire checkpoint, and
    whole-list consumers (snapshots_df, the dead-fork scan) see a
    dangling parent. The fix re-lists when any skip happened; by then
    the expire's deletions are all visible. This test freezes the
    exact torn interleaving: listdir returns a PRE-expire listing,
    then the expire lands (checkpoint written, old entries deleted)
    while entry 1 was already readable — so the first pass reads
    stale-1, loses 2 to FileNotFoundError, and reads checkpoint-3."""
    table.append(_df(spark, [(1, D1, "a")]))
    table.append(_df(spark, [(2, D2, "b")]))
    table.append(_df(spark, [(3, D1, "c")]))
    log = table._log_path
    entries = sorted(f for f in os.listdir(log)
                     if f.endswith(".json") and not f.startswith("_"))
    e1 = os.path.join(log, entries[0])
    with open(e1) as fh:
        e1_bytes = fh.read()                 # entry 1, pre-expire
    real_listdir = os.listdir
    state = {"phase": 0}

    def torn(path):
        if path != log:
            return real_listdir(path)
        if state["phase"] == 0:
            # the reader's FIRST listing: land the expire now (its
            # own internal listings run at phase 1 and pass through),
            # then resurrect entry 1 — 'deleted only after the reader
            # consumed it' — and hand back the stale pre-expire names
            state["phase"] = 1
            table.expire_snapshots(keep_last=1)
            with open(e1, "w") as fh:
                fh.write(e1_bytes)
            state["phase"] = 2
            return entries
        if state["phase"] == 2:
            # the reader's RE-list: entry 1's deletion is now visible
            state["phase"] = 3
            if os.path.exists(e1):
                os.remove(e1)
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", torn)
    snaps = table.snapshots()
    # the torn first pass reads stale-1, loses 2 to FileNotFoundError,
    # reads checkpoint-3 — [stale-1, checkpoint-3] is what the old
    # code returned; the re-list returns the consistent post-expire log
    assert [s.snapshot_id for s in snaps] == [3]
    assert snaps[0].operation == "checkpoint"
    assert snaps[0].parent_id is None
    assert state["phase"] == 3               # the re-list happened
    monkeypatch.setattr(os, "listdir", real_listdir)
    assert table.read().count() == 3


def test_empty_read_anchor_survives_missing_dead_files(spark, table):
    """The zero-file read fallback must anchor its schema on a file
    that EXISTS — and fail with the format's own error (not a Spark
    PATH_NOT_FOUND) when every known file is gone."""
    table.append(_df(spark, [(1, D1, "a")]))
    table.delete_where([("k", ">=", 0)])
    assert table.files() == []
    # live set empty, the dead file still on disk: schema-stable empty
    got = table.read()
    assert got.count() == 0 and set(got.columns) == {"k", "datetime",
                                                     "v"}
    # remove every known data file from disk: the clear ValueError,
    # not an AnalysisException from reading a vanished path
    for root, _dirs, fs in os.walk(table._data_path):
        for f in fs:
            if f.endswith(".parquet"):
                os.remove(os.path.join(root, f))
    with pytest.raises(ValueError, match="no readable data file"):
        table.read().count()


# ------------------------------------- randomized pruning soundness
#
# Round 11's DIRECTED review of the pruning layer found three
# silent-row-loss bugs (partition str(val) vs Spark dir formatting,
# date-vs-datetime lexicographic stats compare, raw tz-strip); round
# 12's directed pass found three more (tz-aware literal isoformat,
# decimal full-scale dirs, NaN equality). The round-11 verdict (Next
# round #2) asks for the RESIDUAL class to be covered property-style:
# seeded trials generating LogTables with randomly-typed partition and
# data columns and random predicates, asserting the pruned read is
# row-identical to the same predicate applied WITHOUT pruning.
#
# Ground truth is Spark itself: `_apply_filters(read(), f)` evaluates
# the predicate over EVERY live file with Spark's own coercion
# semantics; `read(filters=f)` runs the same residual AFTER manifest
# pruning — so the only way the two can differ is a file the manifest
# wrongly dropped. (Extra KEPT files are invisible: the residual
# removes their rows on both sides. The harness therefore tests
# exactly the soundness direction, which is the one that matters —
# nothing downstream ever notices a silently-missing file.)

import decimal as _dec
import math as _math
import random as _random

# 32 trials by default keep the full Tier-1 run inside its wall-clock
# budget; the env knob raises it (e.g. 120) for a local deep sweep.
_PRUNE_TRIALS = int(os.environ.get("SPARK_GRAFT_PRUNE_TRIALS", "32"))
_TRIALS_PER_TABLE = 8
_UTC = dt.timezone.utc
_IST = dt.timezone(dt.timedelta(hours=5, minutes=30))
_PRUNE_TYPES = ["int", "bigint", "double", "string", "date",
                "timestamp", "boolean", "decimal(9,3)"]


def _value_pool(typ: str, partition: bool) -> list:
    """Candidate cell values per Spark type — deliberately nasty:
    empty + unicode + dir-escaping-required strings, negative zero,
    int-boundary values, midnight and microsecond timestamps, NaN/inf
    doubles (data columns only: a NaN partition VALUE is a
    data-modeling error, but NaN rows inside a file must never let
    footer stats prune that file)."""
    if typ in ("int", "bigint"):
        pool = [0, 1, -1, 7, 42, -2147483648, 2147483647]
        if typ == "bigint":
            pool += [2**62, -(2**62)]
        return pool
    if typ == "double":
        pool = [0.0, -0.0, 1.5, -1.5, 0.001, 1e300, -1e300]
        if not partition:
            pool += [float("nan"), float("inf"), float("-inf")]
        return pool
    if typ == "string":
        # NOTE: '' deliberately included — Spark writes an empty-string
        # partition value as __HIVE_DEFAULT_PARTITION__ and reads it
        # back as NULL (a Hive wart Spark itself owns); both the
        # pruned and the unpruned side see the same roundtrip, so the
        # differential stays consistent.
        return ["", "a", "b c", "Z", "héllo☃", "1", "1.50",
                "2024-01-01", "a=b", "x/y", "s:t", "NULL", " lead"]
    if typ == "date":
        return [dt.date(2024, 1, 1), dt.date(2024, 1, 2),
                dt.date(1999, 12, 31), dt.date(2024, 2, 29)]
    if typ == "timestamp":
        return [dt.datetime(2024, 1, 1),
                dt.datetime(2024, 1, 1, 10, 30, 0),
                dt.datetime(2024, 1, 1, 0, 0, 0, 123000),
                dt.datetime(2024, 1, 2, 23, 59, 59, 123456)]
    if typ == "boolean":
        return [True, False]
    if typ == "decimal(9,3)":
        return [_dec.Decimal("0.000"), _dec.Decimal("1.500"),
                _dec.Decimal("-123456.789"), _dec.Decimal("999999.999")]
    raise AssertionError(typ)


def _twist_literal(rng: "_random.Random", v):
    """Apply one of the cross-type coercions Spark accepts so filters
    arrive in a DIFFERENT shape than the column: date<->datetime,
    naive<->aware, int<->double, decimal->float/int."""
    if isinstance(v, bool):
        return v
    if isinstance(v, dt.datetime):
        return rng.choice([
            v.date() if (v.hour, v.minute, v.second, v.microsecond)
            == (0, 0, 0, 0) else v,
            v.replace(tzinfo=_UTC),
            v.replace(tzinfo=_UTC).astimezone(_IST),
        ])
    if isinstance(v, dt.date):
        mid = dt.datetime(v.year, v.month, v.day)
        return rng.choice([mid, mid.replace(tzinfo=_UTC),
                           mid.replace(tzinfo=_UTC).astimezone(_IST)])
    if isinstance(v, int):
        return rng.choice([v, float(v)]) if abs(v) < 2**53 else v
    if isinstance(v, float):
        return (rng.choice([v, int(v)])
                if _math.isfinite(v) and v == int(v) and abs(v) < 2**53
                else v)
    if isinstance(v, _dec.Decimal):
        return rng.choice([v, float(v)])
    return v


def _gen_filters(rng: "_random.Random", cols: dict, data: list) -> list:
    filters = []
    for _ in range(rng.randint(1, 2)):
        col = rng.choice(list(cols))
        op = rng.choice(["=", "=", "=", "in", ">", ">=", "<", "<=",
                         "isnull", "notnull"])
        if op in ("isnull", "notnull"):
            filters.append((col, op, None))
            continue

        def lit():
            present = [r[col] for r in data if r[col] is not None]
            v = (rng.choice(present) if present and rng.random() < 0.6
                 else rng.choice(_value_pool(cols[col], partition=True)))
            return _twist_literal(rng, v) if rng.random() < 0.5 else v

        if op == "in":
            filters.append((col, "in", [lit() for _ in
                                        range(rng.randint(1, 3))]))
        else:
            filters.append((col, op, lit()))
    return filters


def _canon_rows(rows_) -> list:
    """Multiset-comparable canonical form; NaN collapses to a token so
    Python's NaN != NaN doesn't break the equality the test needs."""
    out = []
    for r in rows_:
        out.append(tuple("NaN" if isinstance(v, float)
                         and _math.isnan(v) else v for v in r))
    return sorted(out, key=repr)


def test_randomized_pruning_is_row_identical_to_unpruned(spark, tmp_path):
    n_tables = max(1, (_PRUNE_TRIALS + _TRIALS_PER_TABLE - 1)
                   // _TRIALS_PER_TABLE)
    trial = 0
    for ti in range(n_tables):
        rng = _random.Random(20260816 + ti)
        pcols = {f"p{i}": rng.choice(_PRUNE_TYPES)
                 for i in range(rng.randint(1, 2))}
        dcols = {f"d{i}": rng.choice(_PRUNE_TYPES) for i in range(2)}
        cols = {**pcols, **dcols}
        ddl = ", ".join(f"{c} {t}" for c, t in cols.items())

        def cell(c, t):
            if rng.random() < 0.18:
                return None
            return rng.choice(_value_pool(t, partition=c in pcols))

        data = [{c: cell(c, t) for c, t in cols.items()}
                for _ in range(40)]
        t = LogTable.create(spark, str(tmp_path / f"pr{ti}"),
                            partition_by=list(pcols),
                            stats_columns=list(dcols))

        def mk(rows_):
            return spark.createDataFrame(
                [tuple(r[c] for c in cols) for r in rows_],
                ddl).coalesce(2)

        t.append(mk(data[:20]))        # two commits: per-commit stats,
        t.append(mk(data[20:]))        # multiple files per partition

        full = t.read().select(*cols)
        for _ in range(_TRIALS_PER_TABLE):
            trial += 1
            fl = _gen_filters(rng, cols, data)
            truth = _canon_rows(
                LogTable._apply_filters(full, fl).collect())
            got = _canon_rows(
                t.read(filters=fl).select(*cols).collect())
            assert got == truth, (
                f"pruning soundness violated (table seed "
                f"{20260816 + ti}, trial {trial}): filters={fl!r}\n"
                f"schema={cols!r}\n"
                f"pruned-read rows ({len(got)}) != unpruned "
                f"({len(truth)}); missing="
                f"{[r for r in truth if r not in got][:5]!r}")
    assert trial >= min(_PRUNE_TRIALS, 100)


# ------------------------------------- randomized mutation harness
#
# Write-path counterpart of the pruning harness above: the DML /
# maintenance surface (append, MERGE, DELETE WHERE, UPDATE WHERE,
# dynamic partition overwrite, compact, expire, vacuum, rollback) is
# exercised as a RANDOM SEQUENCE against a driver-side model of the
# table. After every commit the table read must be row-identical to
# the model, and every surviving historical snapshot must time-travel
# back to the exact state the model had when it was committed.
#
# Ground truth for the predicate-carrying ops (DELETE/UPDATE WHERE)
# is Spark itself: the set of matching keys is computed by running
# `_apply_filters` over the pre-op read — so the harness tests that
# the file-granular copy-on-write rewrite (stats-pruned candidates ->
# containment scan -> victim rewrite) implements EXACTLY the
# declarative predicate, including the rows it must NOT touch
# (NULL-predicate rows, non-matching rows co-located in victim files).

# Round 13: 5 -> 2 seeded sequences by default (env knob for deep runs)
_MUT_SEQS = int(os.environ.get("SPARK_GRAFT_MUT_SEQS", "2"))
_MUT_OPS = 14
_MUT_DDL = "k bigint, p string, v bigint, s string"
# partition pool deliberately includes dir-escaping-required values:
# merge victim resolution and overwrite dir matching must survive
# Hive escaping + the _metadata.file_path URI-encoding layer
_P_POOL = ["us", "eu:1", "ap p", "jp"]
_S_POOL = [None, "", "x", "éé", "a b"]


def _mut_df(spark, rows_):
    return spark.createDataFrame(
        [(r["k"], r["p"], r["v"], r["s"]) for r in rows_],
        _MUT_DDL).coalesce(2)


def test_randomized_mutation_sequence_matches_model(spark, tmp_path):
    for si in range(_MUT_SEQS):
        rng = _random.Random(20260817 + si)
        t = LogTable.create(spark, str(tmp_path / f"mut{si}"),
                            partition_by=["p"], stats_columns=["v"])
        model: dict = {}     # k -> (p, v, s)
        history: list = []   # (snapshot_id, canon rows) on the live chain
        ctr = [0]

        def fresh_rows(n, parts=None):
            out = []
            for _ in range(n):
                k = ctr[0]
                ctr[0] += 1
                out.append({"k": k, "p": rng.choice(parts or _P_POOL),
                            "v": rng.choice([None, rng.randint(-5, 99)]),
                            "s": rng.choice(_S_POOL)})
            return out

        def model_rows():
            return [(k, *vals) for k, vals in model.items()]

        def hit_keys(fl):
            cur = t.read().select("k", "p", "v")
            return {r["k"] for r in
                    LogTable._apply_filters(cur, fl).select("k").collect()}

        def gen_fl():
            data = [{"k": k, "p": p, "v": v}
                    for k, (p, v, _s) in model.items()] or \
                   [{"k": 0, "p": "us", "v": 0}]
            return _gen_filters(
                rng, {"k": "bigint", "p": "string", "v": "bigint"}, data)

        sid = t.append(_mut_df(spark, (first := fresh_rows(6))))
        for r in first:
            model[r["k"]] = (r["p"], r["v"], r["s"])
        history.append((sid, _canon_rows(model_rows())))

        for op_i in range(_MUT_OPS):
            op = rng.choice(
                ["append", "append_txn", "merge", "delete", "update",
                 "overwrite", "compact", "expire", "vacuum", "rollback"])
            committed = True
            if op == "append":
                rows_ = fresh_rows(rng.randint(1, 5))
                sid = t.append(_mut_df(spark, rows_))
                for r in rows_:
                    model[r["k"]] = (r["p"], r["v"], r["s"])
            elif op == "append_txn":
                rows_ = fresh_rows(rng.randint(1, 3))
                tok = f"mut{si}-{op_i}"
                df = _mut_df(spark, rows_)
                sid = t.append(df, txn=tok)
                assert t.append(df, txn=tok) == sid, \
                    "txn replay must be a no-op returning the same id"
                for r in rows_:
                    model[r["k"]] = (r["p"], r["v"], r["s"])
            elif op == "merge":
                existing = rng.sample(sorted(model),
                                      min(len(model), rng.randint(1, 4)))
                staged = fresh_rows(rng.randint(0, 3))
                for k in existing:   # update; may MOVE partition
                    staged.append({"k": k, "p": rng.choice(_P_POOL),
                                   "v": rng.choice(
                                       [None, rng.randint(-5, 99)]),
                                   "s": rng.choice(_S_POOL)})
                if not staged:
                    committed = False
                else:
                    sid = t.merge(_mut_df(spark, staged), keys=["k"])
                    for r in staged:
                        model[r["k"]] = (r["p"], r["v"], r["s"])
            elif op == "delete":
                fl = gen_fl()
                gone = hit_keys(fl)
                sid = t.delete_where(fl)
                for k in gone:
                    del model[k]
                committed = bool(gone)
            elif op == "update":
                fl = gen_fl()
                hit = hit_keys(fl)
                sets: dict = {"v": rng.choice(
                    [None, rng.randint(1000, 1999)])}
                if rng.random() < 0.4:  # partition relocation
                    sets["p"] = rng.choice(_P_POOL)
                sid = t.update_where(fl, sets)
                for k in hit:
                    p, v, s = model[k]
                    model[k] = (sets.get("p", p), sets["v"], s)
                committed = bool(hit)
            elif op == "overwrite":
                rows_ = fresh_rows(
                    rng.randint(1, 5),
                    parts=rng.sample(_P_POOL, rng.randint(1, 2)))
                parts_in_df = {r["p"] for r in rows_}
                sid = t.overwrite_partitions(_mut_df(spark, rows_))
                for k in [k for k, (p, _v, _s) in model.items()
                          if p in parts_in_df]:
                    del model[k]
                for r in rows_:
                    model[r["k"]] = (r["p"], r["v"], r["s"])
            elif op == "compact":
                sid = t.compact(target_files=rng.randint(1, 2))
            elif op == "expire":
                t.expire_snapshots(keep_last=rng.randint(2, 5))
                alive = {s.snapshot_id for s in t.snapshots()}
                history = [h for h in history if h[0] in alive]
                committed = False
            elif op == "vacuum":
                t.vacuum(retention_seconds=0.0)
                committed = False
            elif op == "rollback":
                alive = {s.snapshot_id for s in t.snapshots()}
                cands = [h for h in history if h[0] in alive]
                if len(cands) < 2 or rng.random() < 0.5:
                    committed = False  # keep rollback rare
                else:
                    target_sid, state = rng.choice(cands[:-1])
                    sid = t.rollback(target_sid)
                    model = {r[0]: (r[1], r[2], r[3]) for r in state}
                    history = [h for h in history
                               if h[0] <= target_sid]
            if committed:
                history.append((sid, _canon_rows(model_rows())))
            got = _canon_rows(
                t.read().select("k", "p", "v", "s").collect())
            want = _canon_rows(model_rows())
            assert got == want, (
                f"mutation divergence (seq seed {20260817 + si}, "
                f"op {op_i} = {op}): table rows ({len(got)}) != model "
                f"({len(want)}); extra={[r for r in got if r not in want][:5]!r} "
                f"missing={[r for r in want if r not in got][:5]!r}")

        # surviving snapshots must time-travel to their recorded state
        alive = {s.snapshot_id for s in t.snapshots()}
        cands = [h for h in history if h[0] in alive]
        for sid_, state in rng.sample(cands, min(len(cands), 4)):
            got = _canon_rows(
                t.read(snapshot_id=sid_)
                 .select("k", "p", "v", "s").collect())
            assert got == state, (
                f"time-travel divergence at snapshot {sid_} "
                f"(seq seed {20260817 + si})")


# ------------------------------------- concurrent multi-writer harness
#
# The commit protocol's concurrency story, exercised end-to-end: N
# threads run random DML sequences against ONE table concurrently,
# each owning a DISJOINT key range. Appends retry sequence numbers
# internally (CAS loop); rewrite ops (merge / delete / compact) raise
# ConcurrentCommitError when they lose a race and are re-run by the
# caller — exactly the protocol _commit documents. Because the key
# ranges are disjoint, the final state is order-independent: whatever
# the interleaving, the table must equal the union of the per-thread
# models. A lost commit, a double-applied rewrite, or a rewrite that
# clobbers a concurrent writer's files all diverge. The log must also
# come out as ONE linear chain with contiguous snapshot ids — no forks
# outside rollback, no gaps.

_CONC_THREADS = 4
# Round 13: 6 -> 3 ops/thread by default (env knob for deep runs)
_CONC_OPS = int(os.environ.get("SPARK_GRAFT_CONC_OPS", "3"))


def test_concurrent_writers_disjoint_keys_linearize(spark, tmp_path):
    import threading
    import time as _time

    from w_userflow_featurestore_spark.sources import (
        ConcurrentCommitError,
    )

    path = str(tmp_path / "conc")
    t = LogTable.create(spark, path, partition_by=["p"],
                        stats_columns=["v"])
    models: list = [dict() for _ in range(_CONC_THREADS)]
    errors: list = []

    def retry(fn, attempts=40):
        for i in range(attempts):
            try:
                return fn()
            except ConcurrentCommitError:
                _time.sleep(0.01 * (i % 5))
        raise AssertionError(f"rewrite starved after {attempts} "
                             "conflict retries")

    def worker(tid: int) -> None:
        try:
            rng = _random.Random(777 + tid)
            handle = LogTable(spark, path)
            model = models[tid]
            base = tid * 1_000_000
            ctr = [0]

            def fresh(n):
                out = []
                for _ in range(n):
                    out.append({"k": base + ctr[0],
                                "p": rng.choice(["a", "b"]),
                                "v": rng.randint(0, 99),
                                "s": rng.choice(["x", None])})
                    ctr[0] += 1
                return out

            def absorb(rows_):
                for r in rows_:
                    model[r["k"]] = (r["p"], r["v"], r["s"])

            seeded = fresh(2)
            handle.append(_mut_df(spark, seeded))
            absorb(seeded)
            for _ in range(_CONC_OPS):
                op = rng.choice(["append", "merge", "merge", "delete",
                                 "compact"])
                if op == "append":
                    rows_ = fresh(rng.randint(1, 3))
                    handle.append(_mut_df(spark, rows_))
                    absorb(rows_)
                elif op == "merge":
                    staged = fresh(rng.randint(0, 2))
                    for k in rng.sample(sorted(model),
                                        min(len(model), 2)):
                        staged.append({"k": k,
                                       "p": rng.choice(["a", "b"]),
                                       "v": rng.randint(100, 199),
                                       "s": "upd"})
                    if staged:
                        retry(lambda: handle.merge(
                            _mut_df(spark, staged), keys=["k"]))
                        absorb(staged)
                elif op == "delete":
                    if model:
                        victims = rng.sample(sorted(model),
                                             min(len(model), 2))
                        retry(lambda: handle.delete_where(
                            [("k", "in", victims)]))
                        for k in victims:
                            del model[k]
                elif op == "compact":
                    try:
                        retry(lambda: handle.compact(target_files=1),
                              attempts=8)
                    except AssertionError:
                        pass        # row-neutral; starving is harmless
        except Exception as exc:    # noqa: BLE001 — surfaced below
            errors.append((tid, exc))

    threads = [threading.Thread(target=worker, args=(i,))
               for i in range(_CONC_THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, f"worker failures: {errors!r}"

    got = _canon_rows(t.read().select("k", "p", "v", "s").collect())
    want = _canon_rows([(k, *vals) for m in models
                        for k, vals in m.items()])
    assert got == want, (
        f"concurrent divergence: table ({len(got)}) != union of "
        f"models ({len(want)}); "
        f"extra={[r for r in got if r not in want][:5]!r} "
        f"missing={[r for r in want if r not in got][:5]!r}")

    snaps = t.snapshots()
    ids = [s.snapshot_id for s in snaps]
    assert ids == list(range(1, len(ids) + 1)), \
        f"non-contiguous snapshot ids: {ids}"
    assert all(s.parent_id == (s.snapshot_id - 1 if s.snapshot_id > 1
                               else None)
               for s in snaps), "forked or re-parented chain"


# ------------------------------------------------- commit publish safety
#
# Every LogTable commit goes through sources.lakehouse._publish_exclusive:
# tmp write + fsync, then one os.link onto the sequence name (O_EXCL
# create on filesystems without hard links). These tests drive it
# through _commit with empty file lists — no Spark job runs.


def _bare_table(spark, tmp_path) -> LogTable:
    return LogTable.create(spark, str(tmp_path / "commits"))


def _log_names(t: LogTable) -> list[str]:
    return sorted(os.listdir(os.path.join(t.path, "_txn_log")))


def test_commit_readers_never_see_partial_commits(spark, tmp_path):
    """Readers calling snapshots() while writers race a 30-commit chain
    must never parse a half-written commit file: a bare
    open('x') + json.dump exposes the create-to-write window."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from w_userflow_featurestore_spark.sources import ConcurrentCommitError

    t = _bare_table(spark, tmp_path)
    stop = threading.Event()
    reader_errors: list[Exception] = []

    def reader():
        while not stop.is_set():
            try:
                for s in t.snapshots():
                    assert s.operation == "append"
            except Exception as exc:  # noqa: BLE001 — the assertion
                reader_errors.append(exc)
                return

    def writer():
        while (t.latest_snapshot_id() or 0) < 30:
            try:
                t._commit("append", [], [])
            except ConcurrentCommitError:
                continue

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)           # interleave threads finely
    try:
        with ThreadPoolExecutor(max_workers=7) as ex:
            readers = [ex.submit(reader) for _ in range(3)]
            writers = [ex.submit(writer) for _ in range(4)]
            try:
                for w in writers:
                    w.result(timeout=120)
            finally:
                stop.set()
            for r in readers:
                r.result(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not reader_errors, reader_errors[:1]
    ids = [s.snapshot_id for s in t.snapshots()]
    assert ids == list(range(1, len(ids) + 1)) and len(ids) >= 30
    assert not [n for n in _log_names(t) if n.endswith(".tmp")]


def test_commit_crash_between_tmp_write_and_link(spark, tmp_path,
                                                 monkeypatch):
    """A writer dying between its tmp write and the link publishes
    nothing: readers still see only complete commits, the retry
    commits cleanly, and vacuum reclaims an orphaned tmp."""
    t = _bare_table(spark, tmp_path)
    assert t._commit("append", [], []) == 1

    def dying_link(src, dst, **kw):
        raise KeyboardInterrupt("simulated crash before publish")

    monkeypatch.setattr(os, "link", dying_link)
    with pytest.raises(KeyboardInterrupt):
        t._commit("append", [], [])
    monkeypatch.undo()
    assert t.latest_snapshot_id() == 1
    # an in-process raise still runs the tmp cleanup; a hard kill does
    # not — plant the orphan a hard kill leaves: torn bytes under a
    # name no reader matches
    assert not [n for n in _log_names(t) if n.endswith(".tmp")]
    with open(os.path.join(t.path, "_txn_log",
                           f"{2:020d}.json.dead.tmp"), "w") as fh:
        fh.write('{"snapshot_id"')
    assert t.latest_snapshot_id() == 1
    assert t._commit("append", [], []) == 2
    assert t.vacuum(retention_seconds=0) == 1
    assert _log_names(t) == [f"{1:020d}.json", f"{2:020d}.json",
                             "_meta.json"]


def test_vacuum_sweeps_only_aged_txn_log_tmp_files(spark, tmp_path):
    """Orphaned publish tmps older than the retention window are
    deleted; younger ones may be a commit about to link and stay."""
    import time as _time
    t = _bare_table(spark, tmp_path)
    t._commit("append", [], [])
    log = os.path.join(t.path, "_txn_log")
    old, young = (os.path.join(log, f"{2:020d}.json.{tag}.tmp")
                  for tag in ("old", "young"))
    for p in (old, young):
        with open(p, "w") as fh:
            fh.write("{")
    aged = _time.time() - 7200
    os.utime(old, (aged, aged))
    assert t.vacuum(retention_seconds=3600) == 1
    assert not os.path.exists(old) and os.path.exists(young)
    assert t.latest_snapshot_id() == 1


def test_commit_falls_back_when_hard_links_unsupported(spark, tmp_path,
                                                       monkeypatch):
    """Without hard links the publish degrades to O_CREAT|O_EXCL: the
    exclusive-create race still decides the winner, no tmp leaks, and
    only link-capability errnos take the fallback — an unrelated
    OSError surfaces and publishes nothing."""
    import errno
    import json as _json

    from w_userflow_featurestore_spark.sources.lakehouse import (
        _publish_exclusive,
    )

    t = _bare_table(spark, tmp_path)

    def no_links(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(os, "link", no_links)
    assert t._commit("append", [], []) == 1
    assert [s.snapshot_id for s in t.snapshots()] == [1]
    assert not [n for n in _log_names(t) if n.endswith(".tmp")]
    first = os.path.join(t.path, "_txn_log", f"{1:020d}.json")
    with pytest.raises(FileExistsError):      # the lost race
        _publish_exclusive(first, {"snapshot_id": 1, "rival": True})
    with open(first) as fh:
        assert "rival" not in _json.load(fh)
    assert t._commit("append", [], []) == 2

    def disk_full(src, dst, **kw):
        raise OSError(errno.ENOSPC, "no space")

    monkeypatch.setattr(os, "link", disk_full)
    with pytest.raises(OSError, match="no space"):
        t._commit("append", [], [])
    assert t.latest_snapshot_id() == 2
    assert not [n for n in _log_names(t) if n.endswith(".tmp")]


def test_commit_enosys_link_failure_takes_the_fallback_path(
        spark, tmp_path, monkeypatch):
    """Several FUSE/network filesystems report an unimplemented os.link
    as ENOSYS; that errno must take the fallback path too."""
    import errno
    t = _bare_table(spark, tmp_path)

    def no_syscall(src, dst, **kw):
        raise OSError(errno.ENOSYS, "function not implemented")

    monkeypatch.setattr(os, "link", no_syscall)
    assert t._commit("append", [], []) == 1
    assert t._commit("append", [], []) == 2
    assert [s.snapshot_id for s in t.snapshots()] == [1, 2]


def test_commit_fallback_write_failure_retracts_the_published_name(
        spark, tmp_path, monkeypatch):
    """On the no-hardlink path the O_EXCL create publishes the name
    before the body is written; a write failure must retract the torn
    file, or every later read fails to parse and every retry
    misreports a lost race."""
    import errno
    import json as _json
    t = _bare_table(spark, tmp_path)

    def no_links(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(os, "link", no_links)
    assert t._commit("append", [], []) == 1
    real_dump = _json.dump
    calls = {"n": 0}

    def dump_fails_on_target(obj, fh, **kw):
        # dump #1 writes the private tmp, dump #2 the published target
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError(errno.ENOSPC, "no space left on device")
        return real_dump(obj, fh, **kw)

    monkeypatch.setattr(_json, "dump", dump_fails_on_target)
    with pytest.raises(OSError, match="no space"):
        t._commit("append", [], [])
    monkeypatch.setattr(_json, "dump", real_dump)
    assert not os.path.exists(os.path.join(t.path, "_txn_log",
                                           f"{2:020d}.json"))
    assert [s.snapshot_id for s in t.snapshots()] == [1]
    assert t._commit("append", [], []) == 2


def test_rewrite_cas_exactly_one_winner_under_real_threads(spark,
                                                           table):
    """Eight threads race a rewrite from the same base through one
    barrier (every thread has read snapshot 1 before any stages):
    exactly one wins, every loser gets ConcurrentCommitError, and the
    table holds the winner's content."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from w_userflow_featurestore_spark.sources import ConcurrentCommitError

    table.append(_df(spark, [(1, D1, "base")]))
    barrier = threading.Barrier(8, timeout=120)

    def worker(i):
        def build(prev):
            barrier.wait()
            return prev.withColumn("v", F.lit(f"w{i}"))

        try:
            table.rewrite(build)
            return i
        except ConcurrentCommitError:
            return None

    with ThreadPoolExecutor(max_workers=8) as ex:
        outcomes = list(ex.map(worker, range(8)))
    wins = [i for i in outcomes if i is not None]
    assert len(wins) == 1
    assert [s.snapshot_id for s in table.snapshots()] == [1, 2]
    assert rows(table.read(), "v") == [(f"w{wins[0]}",)]


def test_each_operation_reads_the_log_once(spark, tmp_path):
    """Every operation derives the table's files, stats, lineage and
    txn tokens from ONE read of the log; a write reads it once more in
    ``_commit``, right before it publishes (the concurrency check).
    Bronze gets a commit per micro-batch, so each extra read costs
    O(commits)."""
    from tests.conftest import log_scans
    t = LogTable.create(spark, str(tmp_path / "t"), ["datetime"],
                        stats_columns=["k"])
    s1 = t.append(_df(spark, [(1, D1, "a")]))
    t.append(_df(spark, [(2, D2, "b")]))
    planner = LakehousePlanner(t, str(tmp_path / "ledger.json"))
    planner.plan_read(spark).commit()
    t.append(_df(spark, [(3, D1, "c")]))
    plans = []
    ops = {
        "read": lambda: t.read(),
        "read(filters=)": lambda: t.read(filters=[("k", ">=", 2)]),
        "read_increment": lambda: t.read_increment(s1),
        "files": t.files,
        "files_stats": t.files_stats,
        "state": t.state,
        "plan_read": lambda: plans.append(planner.plan_read(spark)),
        "append(txn=)": lambda: t.append(_df(spark, [(4, D2, "d")]),
                                         txn="b-1"),
        "merge": lambda: t.merge(_df(spark, [(1, D1, "A")]), ["k"]),
        "merge(txn=)": lambda: t.merge(_df(spark, [(2, D2, "B")]), ["k"],
                                       txn="m-1"),
        "delete_where": lambda: t.delete_where([("k", "=", 3)]),
        "update_where": lambda: t.update_where([("k", "=", 4)],
                                               {"v": "D"}),
        "overwrite_partitions": lambda: t.overwrite_partitions(
            _df(spark, [(5, D1, "e")])),
        "expire_snapshots": lambda: t.expire_snapshots(keep_last=2),
        "rewrite": lambda: t.rewrite(lambda prev: prev),
        "vacuum": lambda: t.vacuum(retention_seconds=0),
    }
    got = {name: log_scans(op) for name, op in ops.items()}
    # a write stages from one read and commits after a second; the
    # planner reads the head, then the increment up to it
    twice = ("append(txn=)", "merge", "merge(txn=)", "delete_where",
             "update_where", "overwrite_partitions", "rewrite",
             "plan_read")
    assert got == {name: 2 if name in twice else 1 for name in ops}
    assert plans[0].mode == "incremental"
    assert rows(t.read(), "k", "v") == [(2, "B"), (4, "D"), (5, "e")]
