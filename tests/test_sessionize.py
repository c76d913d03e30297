"""Sessionization + state machine — reference A1/A2 semantics
(reference silver_user_session_events.py:111-141), adapted to the generic
event stream (gap-based session assignment, purchase/error signals).

Pins the FIXTURES.md §1.2 edge cases: gap splitting, out-of-order
insensitivity, state-rule ordering & fallthrough, injected-now timeout,
fresh IN_PROGRESS.
"""

from __future__ import annotations

import datetime as dt

from tests.conftest import rows
from w_userflow_featurestore_spark.operators.sessionize import (
    assign_sessions, classify_sessions, rollup_sessions, sessionize,
)

NOW = "2024-02-01 00:00:00"


def _events(spark, data):
    """data: (event_id, ts_str, user_id, event_type, value, props)"""
    df = spark.createDataFrame(
        data, "event_id long, ts_s string, user_id long, event_type string,"
              " value double, props string")
    return df.selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts",
                         "user_id", "event_type", "value", "props")


def test_gap_splits_sessions(spark):
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, '{"k": 1}'),
        (2, "2024-01-01 10:10:00", 1, "click", 2.0, '{"k": 1}'),
        # 31 min gap -> new session
        (3, "2024-01-01 10:41:00", 1, "view", 3.0, '{"k": 2}'),
        # other user, interleaved in time -> independent sessions
        (4, "2024-01-01 10:05:00", 2, "view", 1.0, '{"k": 3}'),
    ])
    out = assign_sessions(ev)
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got[1] == got[2] != got[3]
    assert got[4] not in (got[1], got[3])


def test_gap_boundary_exact_30min_stays(spark):
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, '{"k": 1}'),
        (2, "2024-01-01 10:30:00", 1, "click", 2.0, '{"k": 1}'),  # == gap, same
        (3, "2024-01-01 11:00:01", 1, "view", 3.0, '{"k": 1}'),   # > gap, new
    ])
    got = {r["event_id"]: r["session_id"]
           for r in assign_sessions(ev).collect()}
    assert got[1] == got[2] != got[3]


def test_rollup_fields_and_order_insensitivity(spark):
    base = [
        (1, "2024-01-01 10:00:00", 1, "view", 10.0, '{"k": 1}'),
        (2, "2024-01-01 10:01:00", 1, "click", 20.0, '{"k": 2}'),
        (3, "2024-01-01 10:02:00", 1, "purchase", 60.0, '{"k": 1}'),
    ]
    for data in (base, list(reversed(base))):  # out-of-order input
        s = rollup_sessions(assign_sessions(_events(spark, data)))
        r = s.collect()[0]
        assert r["n_events"] == 3
        assert r["entry_event_type"] == "view"
        assert r["duration_ms"] == 120_000
        assert r["n_items"] == 2
        assert (r["seen_purchase"], r["seen_error"], r["seen_click"],
                r["seen_view"]) == (1, 0, 1, 1)
        assert r["max_value"] == 60.0
        assert r["sum_value"] == 90.0
        assert r["datetime"] == dt.date(2024, 1, 1)


def _one_session(spark, events):
    return classify_sessions(
        rollup_sessions(assign_sessions(_events(spark, events))), now=NOW)


def test_state_complete_beats_error(spark):
    # rule order is load-bearing: purchase>=50 wins even when an error
    # occurred in the same session (reference when-chain :125-141)
    s = _one_session(spark, [
        (1, "2024-01-01 10:00:00", 1, "purchase", 60.0, '{"k": 1}'),
        (2, "2024-01-01 10:01:00", 1, "error", 0.0, '{"k": 1}'),
    ])
    r = s.collect()[0]
    assert r["session_state"] == "COMPLETE"
    assert (r["is_complete"], r["is_exit"]) == (1, 0)


def test_state_purchase_below_threshold_falls_through(spark):
    # purchase with max_value < 50 does NOT complete; error -> EXIT
    s = _one_session(spark, [
        (1, "2024-01-01 10:00:00", 1, "purchase", 10.0, '{"k": 1}'),
        (2, "2024-01-01 10:01:00", 1, "error", 0.0, '{"k": 1}'),
    ])
    assert s.collect()[0]["session_state"] == "EXIT"


def test_state_timeout_exit_uses_injected_now(spark):
    # ended > 600 s before NOW, no terminal signal -> TIMEOUT_EXIT, counts
    # as exit (reference :135,139-141)
    s = _one_session(spark, [
        (1, "2024-01-31 23:00:00", 1, "view", 1.0, '{"k": 1}'),
    ])
    r = s.collect()[0]
    assert r["session_state"] == "TIMEOUT_EXIT"
    assert (r["is_complete"], r["is_exit"]) == (0, 1)


def test_state_fresh_session_in_progress(spark):
    # ended within 600 s of NOW -> IN_PROGRESS
    s = _one_session(spark, [
        (1, "2024-01-31 23:55:00", 1, "view", 1.0, '{"k": 1}'),
    ])
    r = s.collect()[0]
    assert r["session_state"] == "IN_PROGRESS"
    assert (r["is_complete"], r["is_exit"]) == (0, 0)


def test_timeout_boundary_exactly_600s_is_in_progress(spark):
    # strict > comparison: exactly 600 s old is still IN_PROGRESS
    s = _one_session(spark, [
        (1, "2024-01-31 23:50:00", 1, "view", 1.0, '{"k": 1}'),
    ])
    assert s.collect()[0]["session_state"] == "IN_PROGRESS"


def test_sessionize_one_row_per_session(spark):
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, '{"k": 1}'),
        (2, "2024-01-01 10:01:00", 1, "view", 1.0, '{"k": 1}'),
        (3, "2024-01-01 12:00:00", 1, "view", 1.0, '{"k": 1}'),
        (4, "2024-01-01 10:00:00", 2, "view", 1.0, '{"k": 1}'),
    ])
    s = sessionize(ev, now=NOW)
    assert s.count() == 3
    assert s.select("session_id").distinct().count() == 3


def test_sub_second_gap_rejected(spark):
    """Epoch-second session ids require gap_ms >= 1000: two sessions of
    one user starting within the same second would silently merge under
    one content-derived id and corrupt MERGE upserts. Both the batch
    and streaming sessionizers refuse the parameter up front."""
    import pytest as _pt

    from w_userflow_featurestore_spark.operators.sessionize import (
        assign_sessions,
    )
    from w_userflow_featurestore_spark.streaming.stateful import (
        stateful_sessionize,
    )
    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string")
    with _pt.raises(ValueError, match="gap_ms"):
        assign_sessions(ev, gap_ms=500)
    with _pt.raises(ValueError, match="gap_ms"):
        stateful_sessionize(ev, gap_ms=999)
    # the boundary value itself is legal
    assign_sessions(ev, gap_ms=1000)


def test_entry_type_carry_matches_min_by_reference(spark):
    """Round-12: assign_sessions carries the session's first event type
    (window last-over-boundary) so rollup groups on it instead of a
    SortAggregate-forcing min_by. Pin value equivalence against the
    min_by reference on the hostile edges: NULL type AT the session
    head (must stay NULL, not borrow a neighbor), equal-timestamp ties
    (event_id breaks them), multi-session users, interleaved users."""
    from pyspark.sql import functions as F

    data = [
        # user 1, session A: tie at 10:00:00 -> event_id 1 wins (NULL!)
        (2, "2024-01-01 10:00:00", 1, "click", 2.0, '{"k": 1}'),
        (1, "2024-01-01 10:00:00", 1, None, 1.0, '{"k": 1}'),
        (3, "2024-01-01 10:05:00", 1, "purchase", 60.0, '{"k": 2}'),
        # user 1, session B after 31-min gap: head type 'view'
        (4, "2024-01-01 10:36:00", 1, "view", 1.0, '{"k": 1}'),
        (5, "2024-01-01 10:37:00", 1, "error", 0.0, '{"k": 1}'),
        # user 2 interleaved, single event with NULL type
        (6, "2024-01-01 10:02:00", 2, None, 5.0, '{"k": 9}'),
        # user 3: two sessions, both non-null heads
        (7, "2024-01-01 09:00:00", 3, "view", 1.0, '{"k": 1}'),
        (8, "2024-01-01 09:40:00", 3, "click", 1.0, '{"k": 1}'),
    ]
    assigned = assign_sessions(_events(spark, data))
    assert "_first_event_type" in assigned.columns
    got = {(r["session_id"], r["user_id"]): r["entry_event_type"]
           for r in rollup_sessions(assigned).collect()}
    ref = {(r["session_id"], r["user_id"]): r["e"]
           for r in assigned.groupBy("session_id", "user_id")
           .agg(F.min_by("event_type",
                         F.struct(F.col("ts"), F.col("event_id")))
                .alias("e")).collect()}
    assert got == ref
    # and the hostile specifics explicitly: NULL heads stay NULL
    by_user = {}
    for (sid, uid), e in sorted(got.items()):
        by_user.setdefault(uid, []).append(e)
    assert by_user[1] == [None, "view"]
    assert by_user[2] == [None]
    assert by_user[3] == ["view", "click"]


def test_backtick_column_names_give_the_same_sessions(spark):
    """User, timestamp and tie-break names are spliced into parsed SQL
    fragments; an embedded backtick is escaped, so renamed columns give
    exactly the sessions of the plain-named data."""
    ev = _events(spark, [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, '{"k": 1}'),
        (2, "2024-01-01 10:10:00", 1, "click", 2.0, '{"k": 2}'),
        (3, "2024-01-01 10:41:00", 1, "view", 3.0, '{"k": 2}'),
        (4, "2024-01-01 10:05:00", 2, "purchase", 9.0, '{"k": 3}'),
        (5, "2024-01-01 10:05:00", 2, "view", 1.0, '{"k": 3}'),
    ])
    odd = (ev.withColumnRenamed("user_id", "u`id")
             .withColumnRenamed("ts", "t``s")
             .withColumnRenamed("event_id", "e`) id"))
    plain = assign_sessions(ev)
    got = assign_sessions(odd, user_col="u`id", ts_col="t``s",
                          order_tiebreak="e`) id")
    assert rows(got.withColumnRenamed("e`) id", "event_id"),
                "event_id", "session_id", "_first_event_type") == \
        rows(plain, "event_id", "session_id", "_first_event_type")
    cols = ("session_id", "user_id", "start_time", "end_time",
            "n_events", "entry_event_type")
    got = got.withColumnRenamed("e`) id", "event_id")
    # both rollup paths: the entry-type carry and the generic min_by
    for drop in ([], ["_first_event_type"]):
        want = rows(rollup_sessions(plain.drop(*drop)), *cols)
        rolled = rollup_sessions(got.drop(*drop), user_col="u`id",
                                 ts_col="t``s")
        assert rows(rolled.withColumnRenamed("u`id", "user_id"),
                    *cols) == want
