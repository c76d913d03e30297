"""End-to-end lifecycle: the whole engine composed as one pipeline —
streaming bronze ingest (LogTable, exactly-once) -> incremental silver
sessionization (transactional MERGE) -> quality-gated gold features ->
row-level change feed -> compaction -> vacuum, with correctness
asserted at every hop. Each piece has its own unit tests; this pins
that they COMPOSE."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows
from w_userflow_featurestore_spark.runner import (
    run_daily_features, run_silver,
)
from w_userflow_featurestore_spark.sources import LogTable
from w_userflow_featurestore_spark.streaming import bronze_ingest

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
NOW = "2024-01-05 00:00:00"


def _ev(eid, ts, uid, etype, value=1.0):
    return (eid, dt.datetime.fromisoformat(ts), uid, etype, value, '{"k": 1}')


def _write(spark, path, data):
    spark.createDataFrame(data, EVENTS_DDL).coalesce(1) \
         .write.mode("append").parquet(path)


def test_full_lifecycle_bronze_silver_gold_cdf_vacuum(spark, tmp_path):
    src, bronze, silver, ledger, gold, ck = (
        str(tmp_path / d) for d in
        ("src", "bronze", "silver", "ledger", "gold", "ck"))

    # ---- tranche 1: stream into bronze (LogTable, txn-token commits)
    _write(spark, src, [
        _ev(1, "2024-01-01 10:00:00", 1, "view"),
        _ev(2, "2024-01-01 10:05:00", 1, "purchase", 9.99),
        _ev(3, "2024-01-01 11:00:00", 2, "view"),
    ])
    q = bronze_ingest(spark.readStream.schema(EVENTS_DDL).parquet(src),
                      bronze, ck, available_now=True, table_format="log")
    q.awaitTermination(120)

    # ---- silver: incremental sessionize + transactional MERGE
    r1 = run_silver(spark, bronze, silver, ledger, now=NOW)
    assert r1.input_rows == 3 and r1.sessions_upserted == 2
    st = LogTable(spark, silver)
    silver_v1 = st.latest_snapshot_id()

    # ---- tranche 2: a brand-new u1 day-2 session AND a u2 event that
    # CONTINUES u2's still-open tranche-1 session (11:20 is within the
    # 30-min gap of 11:00) — the increment-boundary case that fragments
    # or overwrites sessions without continuation-aware ids/lookback
    _write(spark, src, [
        _ev(4, "2024-01-02 09:00:00", 1, "view"),
        _ev(5, "2024-01-02 09:10:00", 1, "error"),
        _ev(6, "2024-01-01 11:20:00", 2, "purchase", 5.00),
    ])
    q2 = bronze_ingest(spark.readStream.schema(EVENTS_DDL).parquet(src),
                       bronze, ck, available_now=True, table_format="log")
    q2.awaitTermination(120)
    r2 = run_silver(spark, bronze, silver, ledger, now=NOW)
    # input = 3 increment rows + 1 continuation-lookback row (event 3)
    assert r2.mode == "incremental" and r2.input_rows == 4

    sessions = st.read()
    assert sessions.count() == 3          # u1 day1, u2 day1 (merged), u1 day2
    u2 = sessions.where("user_id = 2").collect()[0]
    assert u2["n_events"] == 2            # tail + continuation event
    assert str(u2["start_time"]).startswith("2024-01-01 11:00")
    assert str(u2["end_time"]).startswith("2024-01-01 11:20")
    assert u2["seen_purchase"] == 1       # non-combinable flags exact

    # ---- change feed across the second silver merge: u1's new day-2
    # session inserts; u2's continued session surfaces as its CDC
    # update pair (1-event before-image deleted, 2-event after-image
    # inserted); u1's untouched day-1 session does NOT appear
    feed = st.change_feed(silver_v1)
    changes = {(r["user_id"], str(r["datetime"]), r["n_events"],
                r["_change_type"]) for r in feed.collect()}
    assert changes == {(1, "2024-01-02", 2, "insert"),
                       (2, "2024-01-01", 1, "delete"),
                       (2, "2024-01-01", 2, "insert")}

    # ---- gold: quality-gated daily features over the silver table
    from w_userflow_featurestore_spark.operators.quality import (
        min_rows, not_null, unique,
    )
    events_df = LogTable(spark, bronze).read()
    written = run_daily_features(
        spark, silver, events_df, gold,
        quality_rules=[not_null("session_id"), unique("session_id"),
                       min_rows(3)])
    assert written["user_daily"] == 3
    ud = LogTable(spark, f"{gold}/user_daily").read()
    assert rows(ud.where("user_id = 1 AND datetime = DATE '2024-01-01'"),
                "total_sessions")[0][0] == 1

    # ---- a failing constraint suite refuses the rewrite
    from w_userflow_featurestore_spark.runner import QualityGateError
    with pytest.raises(QualityGateError):
        run_daily_features(spark, silver, events_df, gold,
                           quality_rules=[min_rows(10_000)])

    # ---- maintenance: compact, expire history, vacuum; reads identical
    before = rows(st.read(), "session_id", "n_events")
    st.compact(target_files=1)
    # pre-compaction files stay time-travel-reachable -> vacuum keeps them
    assert st.vacuum(retention_seconds=0) == 0
    # history truncation (Iceberg expire_snapshots) releases them
    assert st.expire_snapshots(keep_last=1) >= 1
    assert st.vacuum(retention_seconds=0) >= 1
    assert rows(st.read(), "session_id", "n_events") == before


def test_lookback_bound_is_per_user_no_phantom_fragments(spark, tmp_path):
    """Review regression: user A has a CLOSED morning session straddling
    another user B's tail-start bound. A global-min lookback cut would
    re-admit A's mid-session events without their session head and
    mint a phantom fragment session; the per-user bound must not."""
    src, bronze, silver, ledger, ck = (
        str(tmp_path / d) for d in ("src", "bronze", "silver", "led", "ck"))
    _write(spark, src, [
        # B's open session starts 08:00 (the global min tail start)
        _ev(1, "2024-01-01 08:00:00", 20, "view"),
        _ev(2, "2024-01-01 08:20:00", 20, "view"),
        # A's CLOSED session 07:50-08:10 (head BEFORE B's tail start)
        _ev(3, "2024-01-01 07:50:00", 10, "view"),
        _ev(4, "2024-01-01 08:05:00", 10, "view"),
        _ev(5, "2024-01-01 08:10:00", 10, "view"),
        # A's open tail starting 10:00
        _ev(6, "2024-01-01 10:00:00", 10, "view"),
    ])
    q = bronze_ingest(spark.readStream.schema(EVENTS_DDL).parquet(src),
                      bronze, ck, available_now=True, table_format="log")
    q.awaitTermination(120)
    run_silver(spark, bronze, silver, ledger, now=NOW)
    # increment: continues BOTH open tails (B @ 08:20+gap, A @ 10:00+gap)
    _write(spark, src, [
        _ev(7, "2024-01-01 10:20:00", 10, "view"),
        _ev(8, "2024-01-01 08:40:00", 20, "view"),
    ])
    q2 = bronze_ingest(spark.readStream.schema(EVENTS_DDL).parquet(src),
                       bronze, ck, available_now=True, table_format="log")
    q2.awaitTermination(120)
    run_silver(spark, bronze, silver, ledger, now=NOW)
    got = {(r["user_id"], str(r["start_time"])): r["n_events"]
           for r in LogTable(spark, silver).read().collect()}
    # exactly 3 sessions; A's closed morning session keeps ALL 3 events
    # (no phantom fragment starting 08:05)
    assert got == {(10, "2024-01-01 07:50:00"): 3,
                   (10, "2024-01-01 10:00:00"): 2,
                   (20, "2024-01-01 08:00:00"): 3}
