"""Sessionization + session-state classification (the silver layer).

The reference sessionizes by grouping on a client-supplied ``session_id``
(reference silver_user_session_events.py:111-123 — a 9-key groupBy, NOT a
gaps-and-islands window) and then classifies each session with an ordered
when-chain state machine (:125-141). The generic event stream in this
engine has no client session id, so sessionization itself is derived with
the classic gaps-and-islands pattern (a new session starts when the gap to
the previous event of the same user exceeds ``gap_ms``); the rollup and the
state machine then mirror the reference's semantics exactly:

- rollup = min/max timestamps, duration, presence flags via max(when...)
  (silver_user_session_events.py:114-123)
- ordered state rules COMPLETE -> EXIT -> TIMEOUT_EXIT -> IN_PROGRESS with
  an injected ``now`` (the reference uses wall-clock current_timestamp(),
  :135, which makes it non-deterministic — here "now" is a parameter,
  SURVEY.md §7.4).

Scale notes: both steps shuffle once on ``user_id`` (the window and the
groupBy share the partitioning, so Catalyst reuses the exchange). No
Python crosses the row path — everything is whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import sql_ident, sql_str

DEFAULT_GAP_MS = 30 * 60 * 1000          # 30 min inactivity starts a new session
DEFAULT_TIMEOUT_MS = 600 * 1000          # reference: 600 s idle => TIMEOUT_EXIT
                                         # (silver_user_session_events.py:135)
DEFAULT_COMPLETE_THRESHOLD = 50.0        # analog of scroll_ratio >= 0.95 (:128)


def assign_sessions(events: DataFrame, user_col: str = "user_id",
                    ts_col: str = "ts", order_tiebreak: str = "event_id",
                    gap_ms: int = DEFAULT_GAP_MS) -> DataFrame:
    """Gaps-and-islands session assignment: adds a ``session_id`` column.

    session boundary  <=>  first event of a user OR gap > gap_ms
    session_id = user_id * 1e10 + epoch-SECOND of the session's first
    event — CONTENT-derived, so the id of a session is a function of
    (user, session start) alone, identical no matter which batch or
    increment computes it. A batch-positional id (user * K + running
    boundary count, the obvious formulation) silently COLLIDES across
    incremental runs: the increment's first session of a user takes
    position 1 again and its MERGE overwrites a different, earlier
    session. Two sessions of one user start > gap apart (minutes), so
    epoch-second granularity cannot collide; unique across users for
    user_id < ~9.2e8 (long headroom above the 1e10 multiplier).

    When the input has an ``event_type`` column the output ALSO
    carries ``_first_event_type`` — the session's entry event type,
    constant across every row of a session BY CONSTRUCTION here. It
    is an internal carry for :func:`rollup_sessions` (which groups on
    it to stay a HashAggregate); drop it before handing the frame to
    an external sink that selects ``*``. Do not fabricate the column
    yourself: :func:`rollup_sessions` trusts it to be session-constant
    and a non-constant value silently splits a session into duplicate
    rollup rows.
    """
    if gap_ms < 1000:
        raise ValueError(
            f"gap_ms={gap_ms} < 1000: the content-derived session id uses "
            "epoch-SECOND of the session start, so a sub-second gap could "
            "start two sessions of one user within the same second and "
            "silently merge them under one id (corrupting MERGE upserts)")
    # The whole window chain renders as SQL fragments parsed by ONE
    # F.expr per output column: the Column-API form costs ~80 ms of
    # py4j roundtrips per construction, paid inside every
    # session-derived query. The parsed trees are the same Catalyst
    # expressions as the Column form, so runtime plans and values are
    # unchanged. The lag fragment is written out twice below; the
    # analyzer collapses equal window expressions, so one Window
    # operator (and one user-keyed exchange) remains.
    user, ts = sql_ident(user_col), sql_ident(ts_col)
    order_sql = (f"PARTITION BY {user} ORDER BY {ts} ASC,"
                 f" {sql_ident(order_tiebreak)} ASC")
    cum_sql = (f"{order_sql} ROWS BETWEEN UNBOUNDED PRECEDING"
               f" AND CURRENT ROW")
    lag_sql = f"lag(unix_millis({ts})) OVER ({order_sql})"
    is_new_sql = (f"(CASE WHEN (({lag_sql}) IS NULL"
                  f" OR (unix_millis({ts}) - ({lag_sql})"
                  f" > {int(gap_ms)})) THEN 1 ELSE 0 END)")
    # running last-boundary timestamp: same single (user) exchange as
    # the lag — no extra shuffle for the session-start lookup
    start_sql = (f"max(CASE WHEN {is_new_sql} = 1 THEN"
                 f" unix_millis({ts}) END) OVER ({cum_sql})")
    out = events.withColumn(
        "session_id",
        F.expr(f"CAST({user} * 10000000000 +"
               f" floor(({start_sql}) / 1000) AS BIGINT)"))
    if "event_type" in events.columns:
        # The session's ENTRY event type, carried forward from the
        # boundary row over the SAME window frame: every row
        # of a session then holds its session's first event's type, so
        # rollup_sessions can GROUP on it instead of aggregating it
        # with min_by(event_type, struct(ts, event_id)) — a struct
        # buffer that forces the whole rollup into SortAggregate (an
        # extra sort on every session-derived query). The struct
        # wrapper keeps a NULL type at the session head NULL (bare
        # last(..., ignorenulls) would borrow the previous session's
        # type); the window's (ts, tiebreak) order IS min_by's
        # struct(ts, event_id) tie-break, so values are identical —
        # oracle- and property-pinned.
        out = out.withColumn(
            "_first_event_type",
            F.expr(f"(last(CASE WHEN {is_new_sql} = 1 THEN"
                   f" named_struct('v', `event_type`) END, true)"
                   f" OVER ({cum_sql})).v"))
    return out


def rollup_sessions(events_with_sessions: DataFrame,
                    user_col: str = "user_id", ts_col: str = "ts") -> DataFrame:
    """Event -> session-grain rollup (reference A1,
    silver_user_session_events.py:111-123).

    One row per session: time bounds, duration, entry event, value
    aggregates, distinct item count, and 0/1 presence flags per event type
    (the reference's seen_enter/seen_scroll/seen_complete/seen_exit).

    Contract on ``_first_event_type``: when present it must be the
    :func:`assign_sessions` carry (session-constant) — the fast path
    below groups on it, so a caller-fabricated non-constant value
    would split sessions into duplicate rows. Frames whose session
    ids were assigned elsewhere (no carry column) take the generic
    min_by path, which derives the entry type itself.
    """
    e = events_with_sessions
    # Aggregates render as SQL fragments parsed by one F.expr each (the
    # Column-API list costs ~100 ms of py4j per construction). Fragments
    # mirror functions.exact_sum / fround / presence_flag EXACTLY
    # (double literals suffixed D so the parser does not widen to
    # DECIMAL), so the parsed trees equal the Column form's.
    def _seen(v: str) -> str:
        return (f"max(CASE WHEN `event_type` = '{v}' THEN 1 ELSE 0 END)")

    # fround(x, 2) == (FLOOR(x * 100.0D + 0.5D) / 100.0D)
    _sum_scaled = "sum(CAST(FLOOR(`value` * 100.0D + 0.5D) AS BIGINT))"
    ts = sql_ident(ts_col)
    aggs = [
        F.expr(f"min({ts})").alias("start_time"),
        F.expr(f"max({ts})").alias("end_time"),
        F.expr(f"unix_millis(max({ts})) -"
               f" unix_millis(min({ts}))").alias("duration_ms"),
        F.expr("count(1)").alias("n_events"),
        F.expr(f"FLOOR(({_sum_scaled} / 100.0D) * 100.0D + 0.5D)"
               " / 100.0D").alias("sum_value"),
        F.expr("FLOOR(max(`value`) * 100.0D + 0.5D) / 100.0D")
         .alias("max_value"),
        F.expr("count(DISTINCT from_json(`props`, 'k INT').k)")
         .alias("n_items"),          # schema-ful JSON decode (S2)
        F.expr(_seen("purchase")).alias("seen_purchase"),
        F.expr(_seen("error")).alias("seen_error"),
        F.expr(_seen("click")).alias("seen_click"),
        F.expr(_seen("view")).alias("seen_view"),
    ]
    # entry type = the FIRST event's type by (ts, event_id) —
    # deterministic under equal timestamps, and a NULL type at the
    # session head stays NULL (the honest answer) instead of silently
    # borrowing the next event's type. The oracle's
    # list(... ORDER BY ts, event_id)[1] mirrors both behaviors
    # (DuckDB's arg_min would skip NULLs — caught by the randomized
    # parity harness).
    if "_first_event_type" in e.columns:
        # assign_sessions carried the entry type to every session row
        # (constant within the group), so it joins the GROUP KEY —
        # with the min_by struct gone every aggregate has a mutable
        # buffer and the rollup plans as a HashAggregate instead of
        # Sort + SortAggregate on every session-derived query
        # (value-identical, oracle-pinned).
        user = F.col(sql_ident(user_col))
        g = (e.groupBy(F.col("session_id"), user,
                       F.col("_first_event_type")
                        .alias("entry_event_type"))
             .agg(*aggs))
        cols = ["session_id", user, "start_time", "end_time",
                "duration_ms", "n_events", "entry_event_type",
                "sum_value", "max_value", "n_items", "seen_purchase",
                "seen_error", "seen_click", "seen_view"]
        return g.select(*cols).withColumn("datetime",
                                          F.to_date("start_time"))
    # generic path for callers that assigned session ids elsewhere:
    # min_by over the (ts, id) struct pins the same tie-break
    entry = F.expr(f"min_by(`event_type`, named_struct("
                   f"'ts', {ts}, 'event_id', `event_id`))") \
        .alias("entry_event_type")
    return (
        e.groupBy(F.col("session_id"), F.col(sql_ident(user_col)))
         .agg(*aggs[:4], entry, *aggs[4:])
         .withColumn("datetime", F.to_date("start_time"))
    )


def classify_sessions(sessions: DataFrame, now: str,
                      complete_threshold: float = DEFAULT_COMPLETE_THRESHOLD,
                      timeout_ms: int = DEFAULT_TIMEOUT_MS) -> DataFrame:
    """Ordered session-state machine (reference A2,
    silver_user_session_events.py:125-141):

      1. COMPLETE      seen terminal-success AND measure >= threshold
      2. EXIT          seen failure signal (falls through rule 1)
      3. TIMEOUT_EXIT  now - end_time > timeout  (now is INJECTED, not
                       wall-clock — reference quirk P9 fixed)
      4. IN_PROGRESS   otherwise

    Then 0/1 ints is_complete / is_exit, with TIMEOUT_EXIT counted as exit
    (:139-141). Rule order is load-bearing: a session with both purchase
    and error is COMPLETE, matching the reference's when-chain.
    """
    # one parsed expr per output column; the float threshold is suffixed
    # D (so the parser does not widen it to DECIMAL) and ``now`` is
    # quoted by sql_str
    state_sql = (
        "CASE WHEN (`seen_purchase` = 1 AND `max_value` >="
        f" {float(complete_threshold)}D) THEN 'COMPLETE'"
        " WHEN `seen_error` = 1 THEN 'EXIT'"
        f" WHEN (unix_millis(to_timestamp({sql_str(now)})) -"
        f" unix_millis(`end_time`)) > {int(timeout_ms)}"
        " THEN 'TIMEOUT_EXIT' ELSE 'IN_PROGRESS' END")
    return (sessions
            .withColumn("session_state", F.expr(state_sql))
            .withColumn("is_complete",
                        F.expr("CASE WHEN `session_state` = 'COMPLETE'"
                               " THEN 1 ELSE 0 END"))
            .withColumn("is_exit",
                        F.expr("CASE WHEN `session_state` IN"
                               " ('EXIT', 'TIMEOUT_EXIT')"
                               " THEN 1 ELSE 0 END")))


def sessionize(events: DataFrame, now: str,
               gap_ms: int = DEFAULT_GAP_MS,
               complete_threshold: float = DEFAULT_COMPLETE_THRESHOLD,
               timeout_ms: int = DEFAULT_TIMEOUT_MS) -> DataFrame:
    """Full event -> classified-session pipeline (the silver layer)."""
    return classify_sessions(
        rollup_sessions(assign_sessions(events, gap_ms=gap_ms)),
        now=now, complete_threshold=complete_threshold, timeout_ms=timeout_ms)
