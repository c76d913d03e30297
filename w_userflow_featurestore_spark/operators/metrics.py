"""Gold-layer daily feature aggregations (reference A3-A16).

Each function is a pure DataFrame -> DataFrame transform over the
classified session table (operators/sessionize.py) or the raw events —
the reference implements these as five script jobs
(reference src/spark/gold/*.py); here they are composable operators with
the same semantics: conditional count-distincts, guarded rounded ratios,
lag/lead windows, leave-one-out gap windows, two-level re-aggregation and
both retention directions (yesterday-anchored A11 vs today-anchored A16 —
the asymmetry is intentional, SURVEY.md §7.4).

Scale notes: every aggregation is a single hash-agg shuffle on its group
key; joins back to the base grain are on (datetime, dim) keys and the
small sides (per-day globals, top-1 rows) auto-broadcast under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import (
    bucket_count,
    clamp_nonneg,
    count_distinct_when,
    epoch_ms,
    exact_avg,
    fround,
    rate,
    safe_div,
    scaled_long,
)

BOUNCE_MS = 10_000   # reference: duration <= 10s counts as bounce
                     # (gold_user_daily_metrics.py:61)


def user_daily(sessions: DataFrame,
               extra_aggs: list | None = None) -> DataFrame:
    """Per-(datetime, user) daily metrics — reference A3
    (gold_user_daily_metrics.py:53-67).

    countDistinct over a struct, conditional sums, avg-based rates, bounce
    ratio, and derived completion/exit rates divided by total sessions.
    ``extra_aggs`` lets callers ride additional aggregate Columns on the
    same (datetime, user_id) hash-agg instead of a second pass + join
    (user_daily_full fuses the return-interval average this way).
    """
    # The input is SESSION grain (rollup_sessions groups by (session_id,
    # user_id)), so within any (datetime, user_id) group every row's
    # session_id is distinct — including at most one NULL. The
    # reference's two session-id count-distincts therefore reduce to
    # plain conditional counts with IDENTICAL values:
    #   count_distinct(struct(session_id)) == count(1)   (the struct
    #     wrapper counted NULL ids; count(1) counts those rows too), and
    #   count_distinct(when(complete, session_id)) == sum(when(complete
    #     AND session_id IS NOT NULL, 1))  (the bare-column distinct
    #     SKIPPED a NULL id; the isNotNull term preserves that).
    # Why it matters at scale: three distinct aggregates in
    # one groupBy plan as an Expand that multiplies every session row 4x
    # through the exchange; with only the entry-type distinct left, the
    # aggregate plans without the Expand. Values are oracle-pinned
    # unchanged (the DuckDB SQL still states the count-distinct form).
    g = (sessions.groupBy("datetime", "user_id").agg(
        F.count(F.lit(1)).alias("total_sessions"),
        F.sum("is_complete").alias("complete_sessions"),
        F.sum("is_exit").alias("exit_sessions"),
        F.sum(F.when(F.col("session_state") == "IN_PROGRESS", 1).otherwise(0))
         .alias("in_progress_sessions"),
        exact_avg(F.col("max_value")).alias("avg_max_value"),
        fround(F.sum("duration_ms") / F.count("duration_ms"), 2)
         .alias("avg_duration_ms"),
        fround(F.sum(F.when(F.col("duration_ms") <= BOUNCE_MS, 1).otherwise(0))
               / F.count(F.lit(1)), 2).alias("bounce_ratio"),
        F.count_distinct("entry_event_type").alias("unique_entry_types"),
        F.count(F.when((F.col("is_complete") == 1)
                       & F.col("session_id").isNotNull(), F.lit(1)))
         .alias("completed_session_cnt"),
        *(extra_aggs or []),
    ))
    return (g
            .withColumn("completion_rate",
                        rate(F.col("complete_sessions"), F.col("total_sessions")))
            .withColumn("exit_rate",
                        rate(F.col("exit_sessions"), F.col("total_sessions")))
            .withColumn("multi_session_flag",
                        F.when(F.col("total_sessions") >= 2, 1).otherwise(0)))


def _with_return_interval(sessions: DataFrame):
    """``(sessions + return_interval_ms, avg aggregate)`` — reference A4
    (gold_user_daily_metrics.py:70-78): lag(end_time) over user ordered
    by start_time, clamp negatives to 0, NULL for the first session;
    the aggregate is the per-group avg in seconds with
    coalesce(...,0.0)."""
    w = Window.partitionBy("user_id").orderBy("start_time", "session_id")
    prev_end = F.lag("end_time").over(w)
    interval_ms = clamp_nonneg(epoch_ms(F.col("start_time")) - epoch_ms(prev_end))
    avg_s = fround(F.coalesce(
        F.sum("return_interval_ms") / F.lit(1000.0)
        / F.count("return_interval_ms"), F.lit(0.0)), 2)
    return (sessions.withColumn("return_interval_ms", interval_ms),
            avg_s.alias("avg_return_interval_s"))


def return_intervals(sessions: DataFrame) -> DataFrame:
    """Average seconds between consecutive sessions per user per day
    (reference A4, see :func:`_with_return_interval`)."""
    s, avg_s = _with_return_interval(sessions)
    return s.groupBy("datetime", "user_id").agg(avg_s)


def repeat_events(events: DataFrame, event_type: str = "purchase") -> DataFrame:
    """Repeat-action count — reference A5 (gold_user_daily_metrics.py:85-94):
    two-level agg: count per (day,user,item); repeat = greatest(cnt-1, 0);
    sum per (day,user). 'Item' is the JSON props.k decoded JVM-side.
    """
    item = F.from_json(F.col("props"), "k INT")["k"]
    per_item = (events
                .where(F.col("event_type") == event_type)
                .withColumn("item_k", item)
                .withColumn("datetime", F.to_date("ts"))
                .groupBy("datetime", "user_id", "item_k")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .withColumn("repeat_cnt", clamp_nonneg(F.col("cnt") - 1)))
    return (per_item.groupBy("datetime", "user_id")
            .agg(F.sum("repeat_cnt").alias("repeat_purchase_cnt")))


def user_daily_full(sessions: DataFrame, events: DataFrame) -> DataFrame:
    """user_daily + return-interval average + repeat_events — reference
    J1/J2 left joins on (datetime, user_id) with metric NULLs filled to 0
    (gold_user_daily_metrics.py:80-99).

    The return-interval branch is FUSED into user_daily's hash aggregate
    instead of joined: the lag window partitions by user_id, which also
    satisfies the (datetime, user_id) groupBy's clustering, so the whole
    session side is one scan + one exchange (the reference's separate
    A4 pass + J1 join recomputed sessionization — at scale that doubles
    the dominant cost for identical values; both group the same session
    rows by the same key, so the left join can never miss)."""
    s, ret_avg = _with_return_interval(sessions)
    out = (user_daily(s, extra_aggs=[ret_avg])
           .join(repeat_events(events), ["datetime", "user_id"], "left")
           .fillna({"repeat_purchase_cnt": 0}))
    # keep the historical column order (aggregate-fused avg_return_interval_s
    # would otherwise move before the derived rate columns)
    cols = [c for c in out.columns if c != "avg_return_interval_s"]
    cols.insert(cols.index("repeat_purchase_cnt"), "avg_return_interval_s")
    return out.select(*cols)


def item_daily(events: DataFrame,
               buckets: tuple[float, ...] = (0.0, 40.0, 80.0, 120.0, 160.0)) -> DataFrame:
    """Per-(datetime, item) metrics with a conditional-aggregation value
    histogram — reference A6 (gold_webtoon_episode_daily_metrics.py:61-83).
    Buckets are half-open [lo, hi) except the LAST which is closed upward
    (the reference's 5th scroll bucket includes 1.0).
    """
    item = F.from_json(F.col("props"), "k INT")["k"]
    e = (events.withColumn("item_k", item)
               .withColumn("datetime", F.to_date("ts")))
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("unique_users"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .alias("purchases"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .alias("errors"),
        exact_avg(F.col("value")).alias("avg_value"),
        F.coalesce(
            exact_avg(F.when(F.col("event_type") == "error", F.col("value"))),
            F.lit(0.0)).alias("error_value_point"),
    ]
    edges = list(buckets)
    for i, lo in enumerate(edges):
        hi = edges[i + 1] if i + 1 < len(edges) else None
        aggs.append(bucket_count(F.col("value"), lo, hi).alias(f"value_bucket_{i + 1}"))
    g = e.groupBy("datetime", "item_k").agg(*aggs)
    return (g.withColumn("purchase_rate", rate(F.col("purchases"), F.col("n_events")))
             .withColumn("error_rate", rate(F.col("errors"), F.col("n_events"))))


def item_continuation(events: DataFrame) -> DataFrame:
    """Item-continuation index — reference A7
    (gold_webtoon_episode_daily_metrics.py:86-111):

    distinct purchased (day,type,item,user) rows; lead(item) per
    (day,type,user) ordered by item **as a string** (the reference orders
    episode_id lexicographically — 'ep_10' < 'ep_2' — and that quirk is
    part of parity, SURVEY.md §2.4 A7); continued=1 when a next item
    exists; per item: distinct continuing users / distinct users.
    """
    item = F.from_json(F.col("props"), "k INT")["k"]
    base = (events
            .where(F.col("event_type") == "purchase")
            .withColumn("item_k", item)
            .withColumn("item_s", item.cast("string"))  # lexicographic on purpose
            .withColumn("datetime", F.to_date("ts"))
            .dropDuplicates(["datetime", "item_k", "user_id"]))
    # asc_nulls_last: a NULL item (unknown id) sorts LAST in both
    # engines (bare asc would be nulls-first in Spark, nulls-last in
    # SQL — randomized-parity finding), so real items chain among
    # themselves and the unknown-item row is never counted as continued
    w = (Window.partitionBy("datetime", "user_id")
         .orderBy(F.asc_nulls_last("item_s")))
    flagged = base.withColumn(
        "continued", F.when(F.lead("item_s").over(w).isNotNull(), 1).otherwise(0))
    g = (flagged.groupBy("datetime", "item_k").agg(
        F.count_distinct("user_id").alias("unique_users"),
        count_distinct_when(F.col("continued") == 1, F.col("user_id"))
            .alias("continuing_users")))
    return g.withColumn(
        "continuation_index", rate(F.col("continuing_users"), F.col("unique_users")))


def entry_type_daily(sessions: DataFrame) -> DataFrame:
    """Per-(datetime, entry_event_type) session metrics — reference A8
    (gold_webtoon_daily_metrics.py:55-71). Conditional countDistincts;
    dropoff point deliberately left NULL when no exits (the reference omits
    coalesce here, unlike A6 — keep the asymmetry)."""
    g = (sessions.groupBy("datetime", "entry_event_type").agg(
        F.count(F.lit(1)).alias("total_sessions"),
        F.sum("is_complete").alias("complete_sessions"),
        F.sum("is_exit").alias("exit_sessions"),
        F.sum(F.when(F.col("session_state") == "IN_PROGRESS", 1).otherwise(0))
            .alias("in_progress_sessions"),
        F.count_distinct("user_id").alias("unique_users"),
        count_distinct_when(F.col("is_complete") == 1, F.col("user_id"))
            .alias("unique_complete_users"),
        count_distinct_when(F.col("is_exit") == 1, F.col("user_id"))
            .alias("unique_exit_users"),
        exact_avg(F.col("max_value")).alias("avg_max_value"),
        fround(F.sum("duration_ms") / F.count("duration_ms"), 2)
            .alias("avg_duration_ms"),
        fround(F.sum(F.when(F.col("duration_ms") <= BOUNCE_MS, 1).otherwise(0))
               / F.count(F.lit(1)), 2).alias("bounce_ratio"),
        exact_avg(F.when(F.col("is_exit") == 1, F.col("max_value")))
            .alias("exit_value_point"),   # NULL when no exits (A8 quirk)
        F.sum(F.when(F.col("session_state") == "TIMEOUT_EXIT", 1).otherwise(0))
            .alias("timeout_exit_sessions"),
    ))
    return (g.withColumn("completion_rate",
                         rate(F.col("complete_sessions"), F.col("total_sessions")))
             .withColumn("exit_rate",
                         rate(F.col("exit_sessions"), F.col("total_sessions")))
             .withColumn("timeout_exit_rate",
                         rate(F.col("timeout_exit_sessions"), F.col("total_sessions"))))


def top_item_per_day(item_metrics: DataFrame) -> DataFrame:
    """Top-1-per-group idiom — reference A9 (gold_webtoon_daily_metrics.py:74-85):
    row_number over (partition by day order by avg_value desc, item asc) == 1."""
    # asc_nulls_last, not bare asc: Spark sorts NULLS FIRST ascending
    # while SQL engines default NULLS LAST, so a NULL-item row tied at
    # the top would win here and lose in the oracle (randomized-parity
    # finding). A real item beats an unknown one at equal value.
    w = Window.partitionBy("datetime").orderBy(
        F.col("avg_value").desc(), F.asc_nulls_last("item_k"))
    return (item_metrics
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("datetime", F.col("item_k").alias("top_item"),
                    F.col("avg_value").alias("top_item_avg_value")))


def binge_ratio(events: DataFrame, min_items: int = 2) -> DataFrame:
    """Share of users touching >= N distinct items per (day, event_type) —
    reference A10 (gold_webtoon_daily_metrics.py:88-101): two-level agg
    with a guarded ratio.

    The second level's inputs are keyed BY user (one row per
    (day, type, user) from the first groupBy), so the reference's two
    user count-distincts reduce to plain conditional counts with
    IDENTICAL values — count_distinct(user) == count(user) over
    user-unique rows, and the conditional distinct likewise. Why it
    matters at scale: two distinct aggregates
    in one groupBy plan as an Expand that doubles every per-user row
    through the exchange; the plain-count form aggregates map-side
    with no row multiplication. Values are oracle-pinned unchanged
    (the DuckDB SQL still states the count-distinct form)."""
    item = F.from_json(F.col("props"), "k INT")["k"]
    per_user = (events
                .withColumn("item_k", item)
                .withColumn("datetime", F.to_date("ts"))
                .groupBy("datetime", "event_type", "user_id")
                .agg(F.count_distinct("item_k").alias("n_items")))
    return (per_user.groupBy("datetime", "event_type").agg(
                F.count("user_id").alias("unique_users"),
                F.count(F.when(F.col("n_items") >= min_items,
                               F.col("user_id"))).alias("binge_users"))
            .withColumn("binge_ratio",
                        rate(F.col("binge_users"), F.col("unique_users"))))


def retention_yesterday_anchored(sessions: DataFrame, dim: str) -> DataFrame:
    """D1 retention, yesterday-anchored — reference A11
    (gold_webtoon_daily_metrics.py:104-133): yesterday's distinct
    (dim,user) LEFT JOIN today's; retained = users seen again.

    Generalized over every consecutive day pair (the reference runs one
    day at a time with a driver-side date_add; doing all days in one plan
    removes the driver round-trip, SURVEY.md P7 note). Output row = the
    *today* date, ratio = retained / yesterday_users.

    Plan shape: the reference's self-join is
    replaced by ONE pass over the distinct (day, dim, user) frame — a
    user active on day d is retained iff their NEXT active day (lead
    over the per-(dim, user) day sequence) is d+1, which is exactly
    when the self-join's probe row exists. The rows are distinct per
    (dim, user, day), so the join's two count_distincts reduce to plain
    conditional counts — no second corpus-wide exchange for the join
    and no Expand for the double distinct; values are oracle-pinned
    unchanged (the DuckDB SQL still states the join + count-distinct
    form).
    """
    days = sessions.select(F.col("datetime"), F.col(dim), F.col("user_id")).distinct()
    w = Window.partitionBy(dim, "user_id").orderBy("datetime")
    nxt = F.lead("datetime").over(w)
    # dim IS NOT NULL guard: the join form never matches a NULL dim
    # (NULL != NULL in the ON clause), while the window partition
    # groups NULL dims together — without the guard a NULL-dim user
    # active on consecutive days would count as retained here but not
    # in the join/oracle form
    return (days.withColumn("_retained",
                            (nxt == F.date_add(F.col("datetime"), 1))
                            & F.col(dim).isNotNull())
            .groupBy(F.date_add(F.col("datetime"), 1).alias("datetime"),
                     F.col(dim))
            .agg(F.count("user_id").alias("yesterday_users"),
                 F.count(F.when(F.col("_retained"), F.col("user_id")))
                  .alias("retained_users"))
            .withColumn("retention_rate",
                        rate(F.col("retained_users"), F.col("yesterday_users"))))


def retention_today_anchored(sessions: DataFrame, dim: str) -> DataFrame:
    """D1 retention, today-anchored with new-user split — reference A16
    (gold_country_daily_metrics.py:100-128): today's distinct (dim,user)
    LEFT JOIN yesterday's; returning = matched, new = today - returning.
    Note the direction is the OPPOSITE of A11 — both are kept as-is.

    Plan shape: the same single-pass window rewrite
    as :func:`retention_yesterday_anchored`, with ``lag`` — a user is
    returning on day d iff their PREVIOUS active day is d-1. The
    NULL-dim guard mirrors the join's NULL != NULL non-match; values
    are oracle-pinned unchanged (the DuckDB SQL still states the
    join + count-distinct form)."""
    days = sessions.select(F.col("datetime"), F.col(dim), F.col("user_id")).distinct()
    w = Window.partitionBy(dim, "user_id").orderBy("datetime")
    prv = F.lag("datetime").over(w)
    g = (days.withColumn("_returning",
                         (prv == F.date_sub(F.col("datetime"), 1))
                         & F.col(dim).isNotNull())
         .groupBy("datetime", dim)
         .agg(F.count("user_id").alias("today_users"),
              F.count(F.when(F.col("_returning"), F.col("user_id")))
               .alias("returning_users")))
    return (g.withColumn("new_users", F.col("today_users") - F.col("returning_users"))
             .withColumn("returning_ratio",
                         rate(F.col("returning_users"), F.col("today_users")))
             .withColumn("new_ratio",
                         rate(F.col("new_users"), F.col("today_users"))))


def cohort_vs_global(sessions: DataFrame, n_cohorts: int = 5) -> DataFrame:
    """Per-cohort metrics re-aggregated against a per-day global, with
    gap and index features — reference A14+A15
    (gold_country_daily_metrics.py:59-96): weighted global completion
    (sum/sum), session-weighted global averages (sum(avg*n)/sum(n)), then
    a left join back on datetime (1-row-per-day build side — broadcasts)
    and guarded gap/index derivations."""
    s = sessions.withColumn("cohort", (F.col("user_id") % n_cohorts).cast("int"))
    per = (s.groupBy("datetime", "cohort").agg(
        F.count(F.lit(1)).alias("total_sessions"),
        F.count_distinct("user_id").alias("unique_users"),
        F.sum("is_complete").alias("complete_sessions"),
        exact_avg(F.col("max_value")).alias("avg_max_value"),
        fround(F.sum("duration_ms") / F.count("duration_ms"), 2)
            .alias("avg_duration_ms"),
    ).withColumn("completion_rate",
                 rate(F.col("complete_sessions"), F.col("total_sessions")))
     .withColumn("sessions_per_user",
                 rate(F.col("total_sessions"), F.col("unique_users"))))
    glob = (per.groupBy("datetime").agg(
        fround(safe_div(F.sum("complete_sessions"), F.sum("total_sessions")), 2)
            .alias("global_completion_rate"),
        # session-weighted means over already-2-decimal inputs: integer-cent
        # weighted sums are exact, so partial-agg order cannot perturb them
        F.when(F.sum("total_sessions") > 0,
               fround(F.sum(scaled_long(F.col("avg_max_value"))
                            * F.col("total_sessions")) / F.lit(100.0)
                      / F.sum("total_sessions"), 2))
            .alias("global_avg_max_value"),
        F.when(F.sum("total_sessions") > 0,
               fround(F.sum(scaled_long(F.col("avg_duration_ms"))
                            * F.col("total_sessions")) / F.lit(100.0)
                      / F.sum("total_sessions"), 2))
            .alias("global_avg_duration_ms"),
    ))
    j = per.join(F.broadcast(glob), "datetime", "left")
    return (j.withColumn("completion_gap",
                         fround(F.col("completion_rate")
                                 - F.col("global_completion_rate"), 2))
             .withColumn("completion_index",
                         rate(F.col("completion_rate"),
                              F.col("global_completion_rate")))
             .withColumn("duration_gap",
                         fround(F.col("avg_duration_ms")
                                 - F.col("global_avg_duration_ms"), 2)))


def dimension_gap_features(df: DataFrame, time_col: str, dims: list[str],
                           metrics: list[str]) -> DataFrame:
    """Leave-one-out spread features — reference A13
    (gold_platform_device_daily_metrics.py:69-102): for each dimension d,
    a window partitioned by (time, all dims except d) with the default
    whole-partition frame; feature = max(metric) - min(metric) over that
    window. The reference computes three windowed frames and left-joins
    them back on all keys; expressing them directly as analytic columns
    on the base frame is plan-equivalent minus three self-joins."""
    out = df
    for left_out in dims:
        others = [d for d in dims if d != left_out]
        w = Window.partitionBy(time_col, *others)
        for m in metrics:
            out = out.withColumn(
                f"{m}_gap_across_{left_out}",
                fround(F.max(m).over(w) - F.min(m).over(w), 2))
    return out


def cohort_retention_triangle(events: DataFrame, key_col: str = "user_id",
                              ts_col: str = "ts") -> DataFrame:
    """Classic cohort-retention triangle: users grouped by first-seen
    day, then for every (cohort_day, day_offset) the share of the
    cohort active ``offset`` days later, in exact basis points — the
    canonical growth-analytics readout the per-day retention metrics
    (A11/A16) can't show because they only look one day back.

    Plan: first-seen day per key (one hash agg), distinct activity
    days per key (one hash agg over the same shuffle key), broadcast
    the per-cohort sizes onto the (cohort, offset) counts — per-row
    state never exceeds the (cohort x offset) triangle, which is
    O(days^2) regardless of user or event count."""
    days = (events.select(F.col(key_col).alias("key"),
                          F.to_date(ts_col).alias("day"))
                  .distinct())
    first = days.groupBy("key").agg(F.min("day").alias("cohort_day"))
    sizes = (first.groupBy("cohort_day")
                  .agg(F.count(F.lit(1)).alias("cohort_size")))
    act = (days.join(first, "key")
               .groupBy("cohort_day",
                        F.datediff("day", "cohort_day").alias("day_offset"))
               .agg(F.count(F.lit(1)).cast("long").alias("n_active")))
    return (act.join(F.broadcast(sizes), "cohort_day")
               .select(F.date_format("cohort_day", "yyyy-MM-dd")
                        .alias("cohort_day"),
                       F.col("day_offset").cast("long").alias("day_offset"),
                       "n_active",
                       F.col("cohort_size").cast("long").alias("cohort_size"),
                       F.floor(F.col("n_active") * 10000
                               / F.col("cohort_size")).cast("long")
                        .alias("retention_bp")))
