"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline (events -> sessions -> user daily
features) on sf0.001. ``queries()`` — one callable per implemented
operator from SURVEY.md §2 (plus the 100 TB extension ops);
``oracle_sql()`` — the DuckDB-equivalent SQL for each.

Column names are aliased identically on both sides; floating-point
outputs are rounded (2 decimals for rates/averages, as the reference
does — e.g. reference silver_user_session_events.py:118) so the driver's
order-insensitive value hash is stable across engines. Timestamps are
emitted as epoch-millisecond BIGINTs (epoch_ms / unix_millis) to avoid
cross-engine timestamp serialization differences.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.conf import SESSION_SQL_CONF, session_cache
from w_userflow_featurestore_spark.functions import (
    epoch_ms, exact_avg, exact_sum, fround,
)
from w_userflow_featurestore_spark.operators import dedup as DD
from w_userflow_featurestore_spark.operators import metrics as M
from w_userflow_featurestore_spark.operators import multimodal as MM
from w_userflow_featurestore_spark.operators import relational as REL
from w_userflow_featurestore_spark.operators import sampling as SMP
from w_userflow_featurestore_spark.operators import temporal as TMP
from w_userflow_featurestore_spark.operators import similarity as SIM
from w_userflow_featurestore_spark.operators import text as TX
from w_userflow_featurestore_spark.operators.cleanse import dedup_latest
from w_userflow_featurestore_spark.operators.sessionize import sessionize
from w_userflow_featurestore_spark.sources import read_table

# Injected "now" for the TIMEOUT_EXIT rule (reference quirk P9 fixed:
# silver_user_session_events.py:135 uses wall-clock; we parameterize).
NOW = "2024-02-01 00:00:00"

SF001 = "/root/testdata/sf0.001"

#: session_cache flag for sessions already configured — _ensure_conf runs
#: inside EVERY queries() callable, and its conf.set py4j roundtrips per
#: construction add up over a 156-query bench (the conf is
#: session-sticky; one pass suffices).
_CONF_APPLIED = "entry.conf_applied"


def _ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply ``conf.SESSION_SQL_CONF`` to a session the driver hands in
    (``conf.get_spark``'s other defaults only cover sessions built here)."""
    memo = session_cache(spark)
    if memo.get(_CONF_APPLIED):
        return spark
    for k, v in SESSION_SQL_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:   # noqa: BLE001 — a locked conf: keep going
            pass
    memo[_CONF_APPLIED] = True
    return spark


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_events(spark, sf_dir), now=NOW)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events -> cleanse -> sessionize/classify -> user daily
    features (the reference's bronze->silver->gold spine in one plan)."""
    _ensure_conf(spark)
    sessions = _sessions(spark, SF001)
    return M.user_daily_full(sessions, _events(spark, SF001))


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2: gap sessionization + ordered state machine (silver layer)."""
    s = _sessions(spark, sf_dir)
    return s.select(
        "session_id", "user_id", "datetime",
        epoch_ms(F.col("start_time")).alias("start_ms"),
        epoch_ms(F.col("end_time")).alias("end_ms"),
        "duration_ms", "n_events", "entry_event_type", "sum_value",
        "max_value", "n_items", "seen_purchase", "seen_error", "seen_click",
        "seen_view", "session_state", "is_complete", "is_exit")


def q_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4+A5 with J1/J2 left joins: per-(day,user) feature vector."""
    return M.user_daily_full(_sessions(spark, sf_dir), _events(spark, sf_dir))


def q_item_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-(day,item) metrics + conditional-agg value histogram."""
    return M.item_daily(_events(spark, sf_dir))


def q_item_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: lead()-based continuation index (lexicographic item order)."""
    return M.item_continuation(_events(spark, sf_dir))


def q_entry_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-(day, entry type) session metrics w/ conditional distincts."""
    return M.entry_type_daily(_sessions(spark, sf_dir))


def q_top_item_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W2: top-1-per-group via row_number."""
    return M.top_item_per_day(M.item_daily(_events(spark, sf_dir)))


def q_binge_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: two-level distinct aggregation with guarded ratio."""
    return M.binge_ratio(_events(spark, sf_dir))


def q_retention_yesterday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: yesterday-anchored D1 retention per entry type."""
    return M.retention_yesterday_anchored(_sessions(spark, sf_dir),
                                          dim="entry_event_type")


def q_retention_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: today-anchored retention + new-user split (opposite direction
    of A11 — the asymmetry is reference parity)."""
    return M.retention_today_anchored(_sessions(spark, sf_dir),
                                      dim="entry_event_type")


def q_cohort_vs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14+A15: cohort metrics + weighted global re-agg + gap/index."""
    return M.cohort_vs_global(_sessions(spark, sf_dir))


def q_dim_gap_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12+A13: per-(day, 2-dim cohort) metrics + leave-one-out gap
    features (unordered whole-partition max-min windows)."""
    s = _sessions(spark, sf_dir).withColumn(
        "cohort", (F.col("user_id") % 3).cast("int"))
    base = s.groupBy("datetime", "entry_event_type", "cohort").agg(
        F.count(F.lit(1)).alias("total_sessions"),
        fround(F.when(F.count(F.lit(1)) > 0,
                      F.sum("is_complete") / F.count(F.lit(1))), 2)
         .alias("completion_rate"),
        fround(F.sum("duration_ms") / F.count("duration_ms"), 2)
         .alias("avg_duration_ms"))
    return M.dimension_gap_features(
        base, "datetime", ["entry_event_type", "cohort"],
        ["completion_rate", "avg_duration_ms"])


def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: keep-latest-by-key dedup (latest event per user x type)."""
    d = dedup_latest(_events(spark, sf_dir),
                     key=["user_id", "event_type"],
                     order_by=["ts", "event_id"])
    return d.select("user_id", "event_type", "event_id",
                    epoch_ms(F.col("ts")).alias("ts_ms"), "value")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical wide hash-aggregate
    (partial+final, no join) — the bench workhorse."""
    # ts_filter pushes the shipdate bound to the raw nano column so it
    # reaches the parquet scan (PushedFilters row-group pruning)
    li = read_table(spark, sf_dir, "lineitem",
                    ts_filter=("l_shipdate", None, "2000-12-01 00:00:00"))
    return (li.groupBy("l_returnflag", "l_linestatus")
              .agg(exact_sum(F.col("l_quantity")).alias("sum_qty"),
                   exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
                   exact_sum(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")), scale=4)
                    .alias("sum_disc_price"),
                   exact_sum(F.col("l_extendedprice")
                             * (1 - F.col("l_discount"))
                             * (1 + F.col("l_tax")), scale=6).alias("sum_charge"),
                   exact_avg(F.col("l_quantity")).alias("avg_qty"),
                   exact_avg(F.col("l_extendedprice")).alias("avg_price"),
                   exact_avg(F.col("l_discount"), out_scale=4).alias("avg_disc"),
                   F.count(F.lit(1)).alias("count_order")))


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 4-way star join (broadcast dims) + agg."""
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(customer, orders.o_custkey == customer.c_custkey)
              .join(F.broadcast(nation),
                    customer.c_nationkey == nation.n_nationkey)
              .join(F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey)
              .where(F.col("r_name").isin("ASIA", "EUROPE"))
              .groupBy("r_name", "n_name")
              .agg(exact_sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount")), scale=4)
                    .alias("revenue"),
                   F.count_distinct("o_orderkey").alias("n_orders")))


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo share by ship month: medium-dim join
    (lineitem x part on partkey — too big to broadcast at 100 TB, so a
    shuffle join that AQE/bloom-prunes) + conditional aggregation. The
    promo share is integer basis points from exact scaled-cents sums —
    (promo div total) in pure integer space, engine-exact."""
    from w_userflow_featurestore_spark.functions import scaled_long
    # ts_filter bounds are INCLUSIVE; shipdates are midnight-aligned, so
    # the 23:59:59 upper bound is exactly "within 1996"
    li = read_table(spark, sf_dir, "lineitem",
                    ts_filter=("l_shipdate", "1996-01-01 00:00:00",
                               "1996-12-31 23:59:59"))
    part = read_table(spark, sf_dir, "part")
    disc = scaled_long(F.col("l_extendedprice")
                       * (1 - F.col("l_discount")), 4)
    cents = (li.join(part, li.l_partkey == part.p_partkey)
               .groupBy(F.date_format("l_shipdate", "yyyy-MM")
                        .alias("ship_month"))
               .agg(F.sum(F.when(F.col("p_type") == "PROMO", disc)
                          .otherwise(F.lit(0))).alias("_promo_c"),
                    F.sum(disc).alias("_total_c")))
    return cents.select(
        "ship_month",
        fround(F.col("_promo_c") / 1e4, 2).alias("promo_revenue"),
        fround(F.col("_total_c") / 1e4, 2).alias("total_revenue"),
        F.expr("(_promo_c * 10000) div _total_c").cast("long")
         .alias("promo_bp"))


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style cross-nation shipping volume: revenue by
    (supplier nation, customer nation, ship year) for one nation pair.

    Scale shape: BOTH dims are semi-pruned to the two
    relevant nations BEFORE touching the fact — the nation filter folds
    into the broadcast supplier build, so lineitem shrinks ~2/25
    *before* the orders shuffle, and customer shrinks ~2/25 before its
    shuffle join. Only the OR-pair *residual* (which of the two cross
    pairs) is evaluated post-join; the membership part of the predicate
    is fully pushed. At 100 TB the avoided volume through the two
    fact-side exchanges is the point."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    nation = (read_table(spark, sf_dir, "nation")
              .where(F.col("n_name").isin("NATION_1", "NATION_2")))
    # fold the 2-nation filter into each dim (nation is tiny: the
    # pruned-dim joins collapse into the dims' own broadcast builds)
    sup = (read_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nation),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (read_table(spark, sf_dir, "customer")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    # residual: exclude the two same-nation combinations that survive
    # the membership prune
    pair = (((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1")))
    return (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, F.col("o_custkey") == cust.c_custkey)
              .where(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").cast("long").alias("ship_year"))
              .agg(exact_sum(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")), scale=4)
                   .alias("revenue"),
                   F.count(F.lit(1)).alias("n_lineitems")))


def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: HAVING-derived key set joined back to the fact
    (the aggregate-IN-subquery shape). lineitem aggregates ONCE on its
    natural key; the surviving key set is tiny after HAVING, so it
    broadcasts onto orders instead of re-shuffling the fact."""
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_orderkey", "l_quantity"])
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer",
                      columns=["c_custkey", "c_name"])
    big = (li.groupBy("l_orderkey")
             .agg(exact_sum(F.col("l_quantity"), scale=2).alias("sum_qty"))
             .where(F.col("sum_qty") > 250))
    return (orders.join(F.broadcast(big),
                        orders.o_orderkey == big.l_orderkey)
                  .join(cust, orders.o_custkey == cust.c_custkey)
                  .select("c_name", "c_custkey", "o_orderkey",
                          epoch_ms(F.col("o_orderdate").cast("timestamp"))
                          .alias("o_orderdate_ms"),
                          "o_totalprice", "sum_qty"))


def q_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shape, rewritten aggregation-first: among completed
    multi-supplier orders where EXACTLY ONE supplier shipped returned
    lines, charge that order's returned lines to the lone supplier.

    The textbook formulation is two correlated self-joins over the fact
    (EXISTS another-supplier / NOT EXISTS another-returning-supplier —
    the oracle SQL is that literal form). At 100 TB those are two extra
    full shuffles of lineitem; here ONE groupBy(l_orderkey) computes
    both existentials as distinct-supplier counts, the fact shuffles
    once, and the supplier dim broadcasts onto the tiny survivor set."""
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_orderkey", "l_suppkey", "l_returnflag"])
    orders = (read_table(spark, sf_dir, "orders",
                         columns=["o_orderkey", "o_orderstatus"])
              .where(F.col("o_orderstatus") == "F"))
    sup = read_table(spark, sf_dir, "supplier",
                     columns=["s_suppkey", "s_name"])
    ret_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = (li.join(orders, li.l_orderkey == orders.o_orderkey,
                         "left_semi")
                   .groupBy("l_orderkey")
                   .agg(F.count_distinct("l_suppkey").alias("n_supp"),
                        F.count_distinct(ret_supp).alias("n_ret_supp"),
                        F.max(ret_supp).alias("ret_supp"),
                        F.sum(F.when(F.col("l_returnflag") == "R", 1)
                              .otherwise(0)).alias("n_ret_lines")))
    blamed = per_order.where((F.col("n_supp") > 1)
                             & (F.col("n_ret_supp") == 1))
    return (blamed.join(F.broadcast(sup),
                        blamed.ret_supp == sup.s_suppkey)
                  .groupBy("s_suppkey", "s_name")
                  .agg(F.sum("n_ret_lines").cast("long").alias("numwait"),
                       F.count(F.lit(1)).cast("long").alias("n_orders")))


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shape: scalar-subquery threshold + anti join + rollup.
    Customers richer than the positive-balance average with NO ORDER
    since 2000-01-01 (dormant), by nation. The threshold comparison
    stays in pure integer space (cents * count > sum-of-cents) so the
    boundary is engine-exact — no float average ever materializes. The
    1-row aggregate broadcasts; orders is touched only as an anti-join
    key ledger with the date predicate pushed to its scan."""
    from w_userflow_featurestore_spark.functions import scaled_long
    cust = read_table(spark, sf_dir, "customer",
                      columns=["c_custkey", "c_nationkey", "c_acctbal"])
    orders = read_table(spark, sf_dir, "orders",
                        columns=["o_custkey", "o_orderdate"],
                        ts_filter=("o_orderdate", "2000-01-01 00:00:00",
                                   None)).select("o_custkey")
    nation = read_table(spark, sf_dir, "nation")
    pos_avg = (cust.where(F.col("c_acctbal") > 0)
                   .agg(F.sum(scaled_long(F.col("c_acctbal"), 2))
                        .alias("sum_c"),
                        F.count(F.lit(1)).alias("n_c")))
    rich = (cust.join(F.broadcast(pos_avg))
                .where(scaled_long(F.col("c_acctbal"), 2) * F.col("n_c")
                       > F.col("sum_c")))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey,
                     "left_anti")
    return (idle.join(F.broadcast(nation),
                      idle.c_nationkey == nation.n_nationkey)
                .groupBy("n_name")
                .agg(F.count(F.lit(1)).cast("long").alias("numcust"),
                     exact_sum(F.col("c_acctbal"), scale=2)
                     .alias("total_acctbal")))


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shape: quarter revenue per supplier, keeping the
    supplier(s) whose revenue EQUALS the global max — the
    scalar-aggregate equality join. The per-supplier aggregate computes
    ONCE; the 1-row max and the supplier dim broadcast onto it (the
    classic view-reuse formulation, no second pass over the fact).
    Revenue compares in exact integer ten-thousandths so the argmax
    boundary is engine-exact."""
    from w_userflow_featurestore_spark.functions import scaled_long
    li = read_table(spark, sf_dir, "lineitem",
                    ts_filter=("l_shipdate", "1996-01-01 00:00:00",
                               "1996-03-31 23:59:59"))
    sup = read_table(spark, sf_dir, "supplier",
                     columns=["s_suppkey", "s_name"])
    rev = (li.groupBy("l_suppkey")
             .agg(F.sum(scaled_long(F.col("l_extendedprice")
                                    * (1 - F.col("l_discount")), 4))
                  .alias("rev_c")))
    # the per-supplier aggregate feeds BOTH the scalar max and the
    # equality join; without a lineage cut each branch re-scans the
    # fact — materialize the supplier-cardinality intermediate once
    rev = rev.localCheckpoint(eager=True)
    mx = rev.agg(F.max("rev_c").alias("max_c"))
    return (rev.join(F.broadcast(mx), rev.rev_c == mx.max_c)
               .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
               .select("s_suppkey", "s_name",
                       fround(F.col("rev_c") / 1e4, 2)
                       .alias("total_revenue")))


def q_bulk_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shape: nested semi-join chain — suppliers with >= 1
    'widget' part whose total shipped quantity exceeds 50. Decorrelated
    bottom-up: name-filtered parts broadcast-semi-filter the fact, one
    (part, supplier) aggregate applies the HAVING, and the surviving
    DISTINCT supplier keyset left-semi joins the dim — the correlated
    EXISTS-with-GROUP-BY never touches the fact twice. Quantities
    compare in exact integer centi-units."""
    from w_userflow_featurestore_spark.functions import scaled_long
    part = (read_table(spark, sf_dir, "part",
                       columns=["p_partkey", "p_name"])
            .where(F.col("p_name").contains("widget")))
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_partkey", "l_suppkey", "l_quantity"])
    sup = read_table(spark, sf_dir, "supplier")
    bulk = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey,
                    "left_semi")
              .groupBy("l_partkey", "l_suppkey")
              .agg(F.sum(scaled_long(F.col("l_quantity"), 2))
                   .alias("qty_c"))
              .where(F.col("qty_c") > 5000)
              .select("l_suppkey").distinct())
    return (sup.join(bulk, sup.s_suppkey == bulk.l_suppkey, "left_semi")
               .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))


_SMALL_QTY_BRANDS = ["Brand#13", "Brand#19", "Brand#22",
                     "Brand#25", "Brand#7"]


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shape, PER BRAND: revenue locked in small-quantity
    orders across a 5-brand watchlist, one row per brand plus a
    ROLLUP total row (brand = 'ALL'): the per-brand rows give
    cross-brand contrast while the total row pins the whole-watchlist
    aggregate. The correlated scalar
    subquery (qty < 0.2 x the part's own avg qty) stays decorrelated
    into one per-part aggregate joined back, and the brand IN-list
    still broadcast-prunes the fact FIRST (each part has exactly one
    brand, so per-part stats are unchanged by widening the list).
    The 0.2x-avg predicate cross-multiplies to pure integers:
    qty < 0.2 * (sum/cnt)  <=>  5 * qty_c * cnt < sum_c — no division,
    no float, engine-exact at any scale."""
    from w_userflow_featurestore_spark.functions import scaled_long
    part = (read_table(spark, sf_dir, "part",
                       columns=["p_partkey", "p_brand"])
            .where(F.col("p_brand").isin(_SMALL_QTY_BRANDS))
            .select("p_partkey", "p_brand"))
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_partkey", "l_quantity",
                             "l_extendedprice"])
    fact = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .select("l_partkey", "p_brand",
                      scaled_long(F.col("l_quantity"), 2).alias("qty_c"),
                      scaled_long(F.col("l_extendedprice"), 2)
                       .alias("price_c")))
    stats = (fact.groupBy("l_partkey")
                 .agg(F.sum("qty_c").alias("sum_q"),
                      F.count(F.lit(1)).alias("cnt")))
    # No broadcast hint on the rejoin: `stats` is one row per
    # brand-filtered part — dimension-proportional, NOT bounded. At
    # 100-TB TPC-H proportions that's millions of rows an explicit hint
    # would force past the broadcast threshold. The join key is the
    # groupBy key, so the shuffle exchange is reused (or AQE picks a
    # broadcast at runtime when the brand slice really is small).
    return (fact.join(stats, "l_partkey")
                .where(5 * F.col("qty_c") * F.col("cnt")
                       < F.col("sum_q"))
                .rollup("p_brand")
                .agg(fround(F.sum("price_c") / 700.0, 2)
                      .alias("avg_yearly"),
                     F.count(F.lit(1)).cast("long").alias("n_lines"),
                     F.grouping("p_brand").alias("_g"))
                .select(F.when(F.col("_g") == 1, F.lit("ALL"))
                        .otherwise(F.col("p_brand")).alias("brand"),
                        "avg_yearly", "n_lines"))


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shape: discounted revenue under an OR of three
    (brand, size-range, quantity-range) brackets. The partkey equi-join
    stays an equi-join with the OR disjunction as a post-join residual
    (never a nested-loop); the common p_size <= 40 hull is ALSO applied
    part-side pre-join so the broadcast build prunes before shipping.
    Revenue in exact 4-decimal scaled integers."""
    from w_userflow_featurestore_spark.functions import scaled_long
    part = (read_table(spark, sf_dir, "part",
                       columns=["p_partkey", "p_brand", "p_size"])
            .where(F.col("p_size").between(1, 40)))
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_partkey", "l_quantity",
                             "l_extendedprice", "l_discount"])
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty = F.col("l_quantity")
    bracket = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15)
         & qty.between(1, 15))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(10, 25)
           & qty.between(10, 30))
        | ((F.col("p_brand") == "Brand#25") & F.col("p_size").between(20, 40)
           & qty.between(25, 50)))
    disc = scaled_long(F.col("l_extendedprice")
                       * (1 - F.col("l_discount")), 4)
    return (j.where(bracket)
             .agg(fround(F.sum(disc) / 1e4, 2).alias("revenue"),
                  F.count(F.lit(1)).cast("long").alias("n_lines")))


MARKET_REGIONS = ("AMERICA", "ASIA", "EUROPE")


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shape: one supplier nation's share of THREE regional
    markets for one part type, by (market, order year). The
    region->nation membership is folded into the CUSTOMER dim pre-join
    (the volume_shipping lesson: the market filter prunes the fact
    before its shuffles — 3/5 of customers here), the part type filter
    semi-prunes lineitem via the broadcast part build, and the share is
    a conditional sum over ONE aggregation — numerator flagged by
    supplier nation, never a second fact pass or a per-market pass.
    Three markets: a single market yields 2 rows, a shape class where
    a group-collapsing GROUP BY bug could still hash-match; (market,
    year) yields 6 rows at
    every fixture SF, and the cross-market contrast (NATION_2 sits in
    ASIA, so its AMERICA/EUROPE share is structurally 0 bp) is itself
    pinned by the oracle. Share emitted as exact integer basis points
    of exact cent sums; the bp numerator is widened to DECIMAL(38,0)
    before the *10000 because a BIGINT cent sum * 10000 wraps around
    SF~100 (yearly market revenue in cents crosses 9.2e14 there) —
    non-ANSI Spark would wrap silently, so the widening keeps the
    exact-integer contract at the scales the query is designed for.
    DuckDB mirrors with HUGEINT."""
    from w_userflow_featurestore_spark.functions import scaled_long
    nation = read_table(spark, sf_dir, "nation")
    region = (read_table(spark, sf_dir, "region")
              .where(F.col("r_name").isin(*MARKET_REGIONS)))
    # market label = the customer nation's region; a nation has exactly
    # one region, so the inner joins relabel without fan-out and the
    # customer-derived frame stays 3/5 of the customer table at any
    # scale. NO broadcast hint on it: customer is SF-proportional, so a
    # forced hint would ship millions of rows per executor at SF~100 —
    # AQE picks broadcast while it fits the threshold and falls back to
    # a 3/5-pruned shuffle join beyond
    mkt_nations = (nation.join(F.broadcast(region),
                               F.col("n_regionkey") == F.col("r_regionkey"))
                   .select(F.col("n_nationkey").alias("_mk"),
                           F.col("r_name").alias("market")))
    cust = (read_table(spark, sf_dir, "customer",
                       columns=["c_custkey", "c_nationkey"])
            .join(F.broadcast(mkt_nations),
                  F.col("c_nationkey") == F.col("_mk"))
            .select("c_custkey", "market"))
    part = (read_table(spark, sf_dir, "part",
                       columns=["p_partkey", "p_type"])
            .where(F.col("p_type") == "PROMO")
            .select("p_partkey"))
    sup = (read_table(spark, sf_dir, "supplier",
                      columns=["s_suppkey", "s_nationkey"])
           .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    orders = read_table(spark, sf_dir, "orders",
                        columns=["o_orderkey", "o_custkey", "o_orderdate"],
                        ts_filter=("o_orderdate", "1995-01-01 00:00:00",
                                   "1996-12-31 23:59:59"))
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_orderkey", "l_partkey", "l_suppkey",
                             "l_extendedprice", "l_discount"])
    disc = scaled_long(F.col("l_extendedprice")
                       * (1 - F.col("l_discount")), 4)
    agg = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey,
                   "left_semi")
             .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
             .join(orders, li.l_orderkey == orders.o_orderkey)
             .join(cust, F.col("o_custkey") == cust.c_custkey)
             .groupBy("market",
                      F.year("o_orderdate").cast("long").alias("o_year"))
             .agg(F.sum(F.when(F.col("supp_nation") == "NATION_2", disc)
                        .otherwise(F.lit(0))).alias("_nat_c"),
                  F.sum(disc).alias("_tot_c")))
    return agg.select(
        "market", "o_year",
        fround(F.col("_nat_c") / 1e4, 2).alias("nation_revenue"),
        fround(F.col("_tot_c") / 1e4, 2).alias("market_revenue"),
        F.expr("CAST((CAST(_nat_c AS DECIMAL(38,0)) * 10000)"
               " DIV _tot_c AS BIGINT)")
         .alias("mkt_share_bp"))


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shape profit rollup by supplier nation x order year for
    a part-name family. The testdata has no partsupp, so cost =
    p_retailprice * l_quantity (same join/arithmetic shape as
    ps_supplycost; documented oracle-side too). Both terms are exact
    4-decimal scaled integers, so profit is an exact integer sum; the
    name filter semi-prunes the fact through the broadcast part build
    BEFORE the orders shuffle."""
    from w_userflow_featurestore_spark.functions import scaled_long
    part = (read_table(spark, sf_dir, "part",
                       columns=["p_partkey", "p_name", "p_retailprice"])
            .where(F.col("p_name").like("%widget%"))
            .select("p_partkey", "p_retailprice"))
    nation = read_table(spark, sf_dir, "nation")
    sup = (read_table(spark, sf_dir, "supplier",
                      columns=["s_suppkey", "s_nationkey"])
           .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("nation")))
    orders = read_table(spark, sf_dir, "orders",
                        columns=["o_orderkey", "o_orderdate"])
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_orderkey", "l_partkey", "l_suppkey",
                             "l_quantity", "l_extendedprice",
                             "l_discount"])
    profit_c = (scaled_long(F.col("l_extendedprice")
                            * (1 - F.col("l_discount")), 4)
                - scaled_long(F.col("p_retailprice")
                              * F.col("l_quantity"), 4))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .groupBy("nation",
                       F.year("o_orderdate").cast("long").alias("o_year"))
              .agg(fround(F.sum(profit_c) / 1e4, 2).alias("profit"),
                   F.count(F.lit(1)).cast("long").alias("n_lines")))


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shape: top-20 customers by revenue lost to returns in
    one quarter. The quarter filter pushes to the orders scan, the
    returnflag filter to the lineitem scan; one custkey aggregation,
    then the top-20 rides TakeOrderedAndProject (per-partition limit +
    merge, never a global sort) with c_custkey as the deterministic
    tie-break."""
    from w_userflow_featurestore_spark.functions import scaled_long
    orders = read_table(spark, sf_dir, "orders",
                        columns=["o_orderkey", "o_custkey", "o_orderdate"],
                        ts_filter=("o_orderdate", "1995-10-01 00:00:00",
                                   "1995-12-31 23:59:59"))
    li = (read_table(spark, sf_dir, "lineitem",
                     columns=["l_orderkey", "l_extendedprice",
                              "l_discount", "l_returnflag"])
          .where(F.col("l_returnflag") == "R"))
    cust = read_table(spark, sf_dir, "customer",
                      columns=["c_custkey", "c_name", "c_acctbal",
                               "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation")
    disc = scaled_long(F.col("l_extendedprice")
                       * (1 - F.col("l_discount")), 4)
    top = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .groupBy("o_custkey")
             .agg(fround(F.sum(disc) / 1e4, 2).alias("revenue"),
                  F.count(F.lit(1)).cast("long").alias("n_return_lines"))
             .orderBy(F.desc_nulls_last("revenue"),
                      F.asc_nulls_last("o_custkey"))
             .limit(20))
    # top-20 resolves BEFORE the dim joins: 20 rows broadcast onto
    # customer instead of shuffling the full customer table
    return (cust.join(F.broadcast(top),
                      cust.c_custkey == top.o_custkey)
                .join(F.broadcast(nation),
                      cust.c_nationkey == nation.n_nationkey)
                .select(F.col("c_custkey"), F.col("c_name"),
                        F.col("n_name").alias("nation"),
                        fround(F.col("c_acctbal"), 2).alias("acctbal"),
                        "revenue", "n_return_lines"))


def q_discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shape, PER DISCOUNT BAND: potential revenue from
    lineitems in one ship year under a quantity cap, grouped by the
    whole-percent discount band with a ROLLUP grand-total row
    (band_pct = -1): one row per band plus the grand total. The pure
    scan-pushdown
    query: date + quantity predicates reach the parquet scan
    (pinned), zero joins, one (rollup) aggregation whose output is
    bounded by the 11-value discount domain. The band computes in
    exact integer basis points (floor(d*10000+0.5) DIV 100) — a raw
    double BETWEEN on a 2-decimal column is the classic ulp trap."""
    from w_userflow_featurestore_spark.functions import scaled_long
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_shipdate", "l_quantity", "l_discount",
                             "l_extendedprice"],
                    ts_filter=("l_shipdate", "1995-01-01 00:00:00",
                               "1995-12-31 23:59:59"))
    disc_bp = scaled_long(F.col("l_discount"), 4)
    return (li.where(F.col("l_quantity") < 24)
              .select(disc_bp.alias("disc_bp"),
                      scaled_long(F.col("l_extendedprice")
                                  * F.col("l_discount"), 4)
                      .alias("rev_c"))
              .withColumn("band_pct",
                          F.expr("disc_bp DIV 100").cast("long"))
              .rollup("band_pct")
              .agg(fround(F.sum("rev_c") / 1e4, 2).alias("revenue"),
                   F.count(F.lit(1)).cast("long").alias("n_lines"),
                   F.grouping("band_pct").alias("_g"))
              .select(F.when(F.col("_g") == 1, F.lit(-1))
                      .otherwise(F.col("band_pct")).cast("long")
                      .alias("band_pct"),
                      "revenue", "n_lines"))


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shape: the distribution of orders-per-customer
    INCLUDING zero-order customers (the left-outer + double-aggregate
    shape; customers_no_orders only finds the zeros). First aggregate
    orders by custkey (fact-sized shuffle), then count customers per
    order-count over the customer-left-join (second aggregate is
    order-count-cardinality sized — tiny)."""
    orders = read_table(spark, sf_dir, "orders",
                        columns=["o_custkey"])
    cust = read_table(spark, sf_dir, "customer", columns=["c_custkey"])
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("_n"))
    return (cust.join(per_cust,
                      cust.c_custkey == per_cust.o_custkey, "left")
                .select(F.coalesce(F.col("_n"), F.lit(0)).cast("long")
                         .alias("n_orders"))
                .groupBy("n_orders")
                .agg(F.count(F.lit(1)).cast("long").alias("n_customers")))


def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality gate for MinHash-LSH: estimated vs EXACT
    Jaccard per candidate pair in integer basis points (operator
    docstring: operators/dedup.py minhash_accuracy). The dedup analog
    of ann_recall_gate — certifies the ESTIMATOR, not just the plumbing."""
    return DD.minhash_accuracy(read_table(spark, sf_dir, "documents"),
                               n=3, k=8, bands=4, min_est_bp=5000,
                               max_posting=64)


# ---------------------------------------------------------------------------
# 100 TB extension ops: dedup / text analysis / similarity search
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groups + canonical-survivor flag."""
    return DD.exact_dedup(read_table(spark, sf_dir, "documents"))


def q_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup dashboard (operators/dedup.py
    dedup_rate_report): doc count, within-source distinct content,
    global survivors, within-source dup rate in exact basis points —
    quality_rule_report's twin for the dedup family; the within-group
    vs global-survivor contrast separates self-repeating sources from
    source-mirroring. One content-hash shuffle + one group-domain
    rollup."""
    return DD.dedup_rate_report(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text", "source"]))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash: 8 seeded minwise hashes over 3-gram shingles."""
    return DD.minhash_signatures(read_table(spark, sf_dir, "documents"),
                                 n=3, k=8)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (4 bands x 2 rows)."""
    return DD.minhash_lsh_dedup(read_table(spark, sf_dir, "documents"),
                                n=3, k=8, bands=4, min_est_jaccard=0.5)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph:
    component = smallest reachable doc id, keep = one survivor per
    component. Iterative min-label propagation (O(diameter) joins);
    oracle = a recursive CTE over the same pairs."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    return DD.connected_components(pairs)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs via shingle inverted index (>= 0.8).
    max_posting=64 (mirrored in the oracle) drops stop-shingle posting
    lists before the self-join — the same always-on hot-key cap as
    fingerprint_pairs; at the test corpora no posting exceeds it
    (max 25 at sf0.1), so parity is exact, and at 100 TB it is what
    keeps the join sub-quadratic."""
    return DD.ngram_jaccard_pairs(read_table(spark, sf_dir, "documents"),
                                  n=3, threshold=0.8, max_posting=64)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document."""
    return DD.simhash(read_table(spark, sf_dir, "documents"), n=3, bits=32)


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded hamming join, distance <= 3."""
    sigs = DD.simhash(read_table(spark, sf_dir, "documents"), n=3, bits=32)
    return DD.simhash_near_pairs(sigs, bits=32, chunks=4, max_hamming=3)


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc language-ID / quality / token-count / fingerprint profile."""
    return TX.text_profile(read_table(spark, sf_dir, "documents"))


def q_corpus_language_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted-language rollup with exact-avg quality, sliced by the
    LABELED language: |labeled x predicted| cells with cross-group
    contrast — the labeled-vs-predicted dashboard a curation run
    actually reads."""
    return TX.corpus_language_stats(read_table(spark, sf_dir, "documents"),
                                    extra_dims=["lang"])


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: distinct-word ratio, top word /
    bigram fractions, repetitive flag (see operators/text.py)."""
    return TX.repetition_profile(read_table(spark, sf_dir, "documents"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/IP/phone redaction with per-type counts — row-local regexp
    chain over the documents corpus (see operators/text.py)."""
    return TX.pii_scrub(read_table(spark, sf_dir, "documents"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-slice context packing per (lang, source) stream —
    partitioned running-sum window (see operators/packing.py)."""
    from w_userflow_featurestore_spark.operators.packing import (
        pack_sequences,
    )
    return pack_sequences(read_table(spark, sf_dir, "documents"),
                          budget=2048)


def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above 1.5x their customer's average order value —
    correlated scalar subquery decorrelated to agg + equi-join, with the
    comparison in integer-cents space (operators/relational.py)."""
    return REL.above_group_avg(
        read_table(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    ).select("o_orderkey", "o_custkey", "o_totalprice",
             F.col("group_avg").alias("avg_order_value"))


def q_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens — vocab heavy hitters, deterministic
    tie-break on the token string (operators/text.py)."""
    return TX.frequent_tokens(read_table(spark, sf_dir, "documents"), k=20)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs weighted by word frequency —
    the BPE tokenizer-training counting step (first merge iteration),
    computed over DISTINCT words so corpus size enters only through
    the frequency aggregate."""
    return TX.bpe_pair_counts(read_table(spark, sf_dir, "documents"), k=20)


N_BPE_MERGES = 8


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training, 8 merge rounds: count-pairs ->
    merge the argmax pair (count DESC, pair ASC tie-break) -> recount
    (operators/text.py bpe_train) — the missing middle of the tokenizer
    story between bpe_pair_counts (one counting step) and
    tokenizer_fertility (a finished tokenizer's cost). Output = the
    ordered merge list (part='merge': rank, pair, merged symbol, and
    the pair's corpus count at selection time) UNION the final symbol
    vocabulary (part='vocab': every post-merge symbol with its
    freq-weighted corpus occurrence count) — so the certificate pins
    the whole trajectory AND the end state. The oracle replays the
    same deterministic loop in DuckDB as 8 unrolled CTE steps over the
    identical wrapped-symbol string representation."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_train, bpe_vocab,
    )
    merges, sym = bpe_train(
        read_table(spark, sf_dir, "documents", columns=["text"]),
        n_merges=N_BPE_MERGES)
    mdf = spark.createDataFrame(
        merges, "merge_rank long, left_sym string, right_sym string,"
                " merged string, n_occurrences long") \
        .select(F.lit("merge").alias("part"), "merge_rank", "left_sym",
                "right_sym", "merged", "n_occurrences")
    v = bpe_vocab(sym).select(
        F.lit("vocab").alias("part"),
        F.lit(None).cast("long").alias("merge_rank"),
        F.lit(None).cast("string").alias("left_sym"),
        F.lit(None).cast("string").alias("right_sym"),
        F.col("symbol").alias("merged"),
        "n_occurrences")
    return mdf.unionByName(v)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned 8-merge BPE tokenizer to every document — the
    missing APPLY half of the tokenizer story (counts -> train ->
    apply -> fertility): per-doc word and learned-subword counts plus
    the tokens-per-word ratio in exact basis points, the quantity
    per-document token budgets are actually denominated in
    (operators/text.py bpe_apply). Words are encoded once at the
    (doc, distinct-word) grain; the oracle trains via the same 8
    unrolled CTE steps and encodes through the identical wrapped
    representation."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_apply, bpe_train,
    )
    docs = read_table(spark, sf_dir, "documents",
                      columns=["doc_id", "text"])
    merges, _ = bpe_train(docs, n_merges=N_BPE_MERGES)
    return bpe_apply(docs, merges)


def q_bpe_encode_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> PUBLISH -> load -> encode: the tokenizer-registry
    round-trip (operators/text.py bpe_save/bpe_load/bpe_apply_from).
    The trained merge list is committed to a versioned LogTable
    artifact (append-only version registry, manifest stats on
    tokenizer_version for pruned loads — the ivf_index_build pattern),
    then the encode reads the PUBLISHED artifact rather than the
    in-memory list, proving train and apply can run as different jobs.
    Output must hash-match bpe_encode exactly — persistence changes
    where the model lives, not what the plan computes — so the oracle
    is bpe_encode's, verbatim."""
    import os
    import tempfile
    from w_userflow_featurestore_spark.operators.text import (
        bpe_apply_from, bpe_save, bpe_train,
    )
    docs = read_table(spark, sf_dir, "documents",
                      columns=["doc_id", "text"])
    merges, _ = bpe_train(docs, n_merges=N_BPE_MERGES)
    path = os.path.join(tempfile.mkdtemp(prefix="bpe_registry_"),
                        "tokenizer")
    version, _snap = bpe_save(spark, path, merges)
    return bpe_apply_from(spark, path, docs, version=version)


N_BPE_MERGES_OLD = 4


def q_tokenizer_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-upgrade impact report (operators/text.py
    bpe_version_drift): publish the 4-merge tokenizer as registry v1
    and its 8-merge extension as v2 (greedy BPE is prefix-stable, so
    training once to 8 yields both), then encode the corpus with each
    and report per-doc token drift in exact basis points — the
    re-pricing audit a team runs before swapping tokenizers, and the
    registry's cross-version consumer. The oracle replays ONE 8-step
    merge chain and reads the 4-step prefix state for v1."""
    import os
    import tempfile
    from w_userflow_featurestore_spark.operators.text import (
        bpe_save, bpe_train, bpe_version_drift,
    )
    docs = read_table(spark, sf_dir, "documents",
                      columns=["doc_id", "text"])
    merges, _ = bpe_train(docs, n_merges=N_BPE_MERGES)
    path = os.path.join(tempfile.mkdtemp(prefix="bpe_registry_"),
                        "tokenizer")
    v_old, _ = bpe_save(spark, path, merges[:N_BPE_MERGES_OLD])
    v_new, _ = bpe_save(spark, path, merges)
    return bpe_version_drift(spark, path, docs, v_old, v_new)


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM surprisal in whole bits — the context-aware
    upgrade of token_surprisal (CCNet filters on a real n-gram LM; a
    unigram model can't see that 'the the' is surprising). Bigrams are
    built row-locally from each doc's word array (no self-join, no
    window); bits = bit_length(c(w1) DIV c(w1,w2)) - 1, exact integer
    arithmetic (operators/text.py bigram_surprisal)."""
    from w_userflow_featurestore_spark.operators.text import (
        bigram_surprisal,
    )
    return bigram_surprisal(
        read_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020 §4.4): per
    language, documents bucketed into thirds of the LM-surprisal
    distribution by VALUE thresholds from a (lang, score) histogram —
    no per-language global sort (the token_budget_mix scale lesson);
    the corpus never sorts, thresholds broadcast back
    (operators/text.py perplexity_buckets). Docs with a NULL language
    are excluded by both engines (inner threshold join)."""
    from w_userflow_featurestore_spark.operators.text import (
        perplexity_buckets,
    )
    return perplexity_buckets(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text", "lang"]))


def q_quality_filter_verdict(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The curation rules engine: per-doc keep/drop with PER-RULE
    attribution (length / quality / repetition / language) — the
    RedPajama/Gopher-style filter layer as ONE zero-shuffle row-local
    projection that pipelines into the scan (operators/text.py
    quality_filter_verdict). Rule hit-rates are the curation
    dashboard; the oracle recomputes every rule from the same
    normalized text."""
    from w_userflow_featurestore_spark.operators.text import (
        quality_filter_verdict,
    )
    return quality_filter_verdict(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text"]))


def q_quality_rule_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE rule-attribution rollup over the rules engine: each
    rule's marginal failure rate + the end-to-end keep rate in exact
    basis points (operators/text.py quality_rule_report) — the alerting
    query the verdict's docstring promises (a rule suddenly dropping
    40% of one crawl is an incident signal), and the certificate that
    pins the verdict's marginal distributions rather than just 500
    boolean rows. Source rides the zero-shuffle verdict projection as a
    carry column; the rollup is one group-domain-sized hash-agg."""
    from w_userflow_featurestore_spark.operators.text import (
        quality_rule_report,
    )
    return quality_rule_report(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text", "source"]),
        group_col="source")


def q_ccnet_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet policy wired end-to-end (operators/text.py
    ccnet_curate): a doc survives iff the quality rules pass AND its
    perplexity bucket admits it — head outright, middle hash-sampled at
    500/1000 by deterministic content hash, tail dropped. Gives
    perplexity_buckets a consumer the way mixture_weights feeds
    token_budget_mix; thresholds broadcast, corpus never sorts, the
    composition is one doc-keyed semi join against the lineage-cut
    kept-id set."""
    from w_userflow_featurestore_spark.operators.text import ccnet_curate
    return ccnet_curate(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text", "lang"]))


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023): score every document by how much its
    hashed unigram+bigram features look like the English-language
    subset — importance = sum of signed whole-bit quantized smoothed
    log(p_target(f)/p_raw(f)) over 10k hashed feature buckets
    (operators/sampling.py dsir_importance). Feature counts are
    bounded hash-aggs; the <=10k-row weight table broadcasts onto the
    doc-feature stream, so the corpus never shuffles for scoring."""
    docs = read_table(spark, sf_dir, "documents",
                      columns=["doc_id", "text", "lang"])
    # target stated as a predicate over the SAME frame: the target
    # feature counts derive from the shared (doc, f) partial aggregate
    # — one gram explode pass over the corpus instead of two
    return SMP.dsir_importance(docs, None,
                               target_pred=F.col("lang") == "en")


N_DSIR_BUDGET = 200


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's resampling half: the 200 documents most like the
    English-language target by importance score — exact top-k by
    (score_bits DESC, doc_id) WITHOUT a corpus sort: the cut threshold
    comes from a bounded (score_bits, count) histogram and only the
    boundary score's ties pay a row_number (operators/sampling.py
    dsir_select). Completes score -> selection the way mixture_weights
    feeds token_budget_mix; the oracle is the dsir_importance pipeline
    + ORDER BY ... LIMIT, which is exactly the semantic the
    histogram-threshold plan must reproduce."""
    docs = read_table(spark, sf_dir, "documents",
                      columns=["doc_id", "text", "lang"])
    # one-pass target counts via predicate (see q_dsir_importance)
    return SMP.dsir_select(docs, None, budget_docs=N_DSIR_BUDGET,
                           target_pred=F.col("lang") == "en")


N_DSIR_BUDGET_TOKENS = 10_000


def q_dsir_select_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection under a TOKEN budget — the unit a training run is
    actually provisioned in (operators/sampling.py dsir_select_tokens):
    walk the corpus in (score_bits DESC, doc_id) order, keep while the
    cumulative token count BEFORE the doc is under 10k
    (token_budget_mix's boundary rule — overshoot <= 1 doc). Same
    histogram-threshold plan as dsir_select with token mass for
    weights; only the single boundary score's ties pay an ordered
    prefix sum. The oracle states the semantic directly as a cumulative
    window over (score DESC, doc_id)."""
    docs = read_table(spark, sf_dir, "documents",
                      columns=["doc_id", "text", "lang"])
    # one-pass target counts via predicate (see q_dsir_importance)
    return SMP.dsir_select_tokens(docs, None,
                                  budget_tokens=N_DSIR_BUDGET_TOKENS,
                                  target_pred=F.col("lang") == "en")


def q_token_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram surprisal vs the corpus LM, quantized to whole
    bits (integer-exact CCNet-style perplexity-filter signal)."""
    return TX.token_surprisal(read_table(spark, sf_dir, "documents"))


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-64-token chunks with 16-token overlap per document — the
    context-window / retrieval-index chunker (operators/text.py)."""
    return TX.chunk_documents(read_table(spark, sf_dir, "documents"),
                              chunk_tokens=64, overlap=16)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for query vectors vec_id < 5."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(emb, emb.where(F.col("vec_id") < 5), k=5)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining for anchor vectors vec_id < 5:
    the 5 nearest DIFFERENT-label neighbors per anchor (cosine DESC,
    null-safe label inequality) — the near-miss negatives that make a
    triplet/InfoNCE batch informative, upgrading the random
    negative_samples draw (operators/similarity.py
    hard_negative_mining). Linear in the corpus for a bounded anchor
    set: labels ride the scan projections, anchors broadcast."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SIM.hard_negative_mining(emb, emb.where(F.col("vec_id") < 5),
                                    k=5)


def q_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-agreement@10 audit over the vec_id < 50 audit sample: the
    share of each vector's 10 exact nearest neighbors carrying its own
    label, in exact basis points — the Confident-Learning-style
    mislabeled-example signal (operators/similarity.py
    knn_label_agreement). One broadcast-anchored corpus scan + a
    |Q|-way rollup; nothing rejoins the corpus by id."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SIM.knn_label_agreement(emb, emb.where(F.col("vec_id") < 50),
                                   k=10)


def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (8 planes, index build)."""
    return SIM.lsh_bucket_assignments(read_table(spark, sf_dir, "embeddings"),
                                      planes=8)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (4 planes), exact-cosine re-rank."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=5, planes=4)


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH candidates (4 tables x 4
    planes), exact quantized cosine >= 0.4 verify. (The fixture
    embeddings are random — max pair cosine ~0.51 — so the threshold is
    set below the usual 0.9 to exercise a non-trivial pair set; the
    oracle mirrors the bucket filter, so parity is recall-independent.)"""
    return SIM.embedding_near_pairs(read_table(spark, sf_dir, "embeddings"),
                                    threshold=0.4, planes=4, tables=4)


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup survivor set (higher id of each pair dropped)."""
    return SIM.embedding_dedup(read_table(spark, sf_dir, "embeddings"),
                               threshold=0.4, planes=4, tables=4)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic dedup: 16 IVF cells
    (in-cell pairwise work scales 1/n_centroids — the paper's lever),
    in-cell exact-cosine pairs only, lowest-id survivor per
    neighborhood. Threshold 0.35 because the fixture embeddings are
    random (see q_embedding_near_pairs note) — the oracle mirrors the
    cell scoping, so parity is threshold-independent."""
    return SIM.semantic_dedup(read_table(spark, sf_dir, "embeddings"),
                              threshold=0.35, n_centroids=16)


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster-balanced sampling: 8 coarse cells, 5
    hash-ranked representatives per cell, full occupancy reported."""
    return SIM.cluster_balanced_sample(read_table(spark, sf_dir,
                                                  "embeddings"),
                                       per_cluster=5, n_centroids=8)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level boilerplate removal: any trimmed line
    occurring more than twice across the corpus is removed from every
    document; empty docs drop out."""
    return TX.line_dedup(read_table(spark, sf_dir, "documents"),
                         max_occurrences=2)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (ExactSubstr k-gram approximation): maximal
    spans of 6-token grams occurring 2+ times corpus-wide. k=6 because
    the fixture docs are short template sentences — real corpora use
    k~50 tokens (Lee et al. 2022 use 50 BPE tokens)."""
    return TX.duplicate_spans(read_table(spark, sf_dir, "documents"),
                              k=6, min_count=2)


def q_span_removed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr-REWRITTEN corpus (Lee et al. 2022: the output
    of substring dedup is the corpus with matched spans EXCISED, not a
    span report): every document reassembled from the complement of
    its ``duplicate_spans`` islands, same k=6 / min_count=2 as the
    span query so the two certify the same pipeline end to end."""
    return TX.remove_duplicate_spans(
        read_table(spark, sf_dir, "documents"), k=6, min_count=2)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: 8 deterministic coarse centroids, 2-cell
    probe, exact-cosine re-rank."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=5,
                        n_centroids=8, nprobe=2)


# recall@5 floor in basis points. The fixture embeddings are RANDOM
# vectors — the worst case for LSH/IVF (near-uniform pairwise cosine, so
# the true top-5 barely concentrates in any bucket); measured recall is
# 0.56-0.60 at sf0.001, 0.40 at sf0.01, 0.32-0.36 at sf0.1. The floor
# sits under all of those: it is a structural-regression tripwire (a
# broken bucket/probe function sends recall toward k/N ~ 0), while the
# recall_bp VALUE is pinned exactly by the oracle hash.
ANN_RECALL_FLOOR_BP = 3000


def q_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 gate for the approximate ANN indexes vs exact brute
    force — the check a value oracle alone cannot see (an LSH/IVF
    index can stay hash-green while silently returning garbage
    neighbors only if its own results change; this query pins recall
    itself). recall_bp = floor(hits * 10000 / total) is exact integer
    math, so the DuckDB oracle reproduces the VALUE, and recall_ok
    additionally pins the floor: if an index regression drops recall
    below ANN_RECALL_FLOOR_BP, recall_ok flips and the driver row goes
    red."""
    emb = read_table(spark, sf_dir, "embeddings")
    # the 5-vector query set feeds all three pipelines; materialize it
    # once (bounded frame) so each pipeline doesn't re-derive it from
    # the corpus scan
    qs = emb.where(F.col("vec_id") < 5).localCheckpoint(eager=True)
    brute = SIM.brute_force_topk(emb, qs, k=5).select("q_id", "n_id")
    lsh = SIM.lsh_topk(emb, qs, k=5, planes=4).select("q_id", "n_id") \
        .withColumn("_l", F.lit(1))
    ivf = SIM.ivf_topk(emb, qs, k=5, n_centroids=8, nprobe=2) \
        .select("q_id", "n_id").withColumn("_i", F.lit(1))
    j = (brute.join(lsh, ["q_id", "n_id"], "left")
              .join(ivf, ["q_id", "n_id"], "left")
              .agg(F.count(F.lit(1)).alias("_n"),
                   F.count("_l").alias("_lh"),
                   F.count("_i").alias("_ih")))

    def row(method: str, hits: Column) -> Column:
        bp = F.floor(hits * 10000 / F.col("_n")).cast("long")
        return F.struct(F.lit(method).alias("method"),
                        bp.alias("recall_bp"),
                        (bp >= ANN_RECALL_FLOOR_BP).alias("recall_ok"))
    return (j.select(F.explode(F.array(
                row("ivf", F.col("_ih")),
                row("lsh", F.col("_lh")))).alias("r"))
             .select("r.method", "r.recall_bp", "r.recall_ok"))


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc coverage of the corpus top-100 vocabulary in exact basis
    points (operators/text.py vocab_coverage) — curation quality signal
    + tokenizer-coverage estimate."""
    return TX.vocab_coverage(read_table(spark, sf_dir, "documents"),
                             vocab_k=100)


def q_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day per-event-type volume-shift flags
    (operators/temporal.py daily_volume_anomaly) — the ingest-health
    monitor; exact integer ratios, NULL-baseline first days."""
    return TMP.daily_volume_anomaly(_events(spark, sf_dir))


def q_source_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-balancing downsample (operators/sampling.py
    source_balanced_sample): over-represented sources thinned to the
    per-source mean by deterministic hash threshold — the data-mixing
    step; membership exact-oracle-able."""
    return SMP.source_balanced_sample(
        read_table(spark, sf_dir, "documents")).select("doc_id", "source")


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: shard + within-shard
    position from a salted content hash — the global permutation a
    training run reads, with no global sort anywhere
    (operators/sampling.py corpus_shuffle). 16 shards here so every
    shard holds rows at sf0.001."""
    return SMP.corpus_shuffle(read_table(spark, sf_dir, "documents"),
                              n_shards=16)


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture fill: greedy hash-ordered fill of a 300-token
    budget per source (src1 pinned to 900) — every doc returned with
    its n_tokens / cum_before / kept decision so the selection
    boundary itself is oracled (operators/sampling.py
    token_budget_mix)."""
    return SMP.token_budget_mix(read_table(spark, sf_dir, "documents"),
                                budget_tokens=300,
                                overrides={"src1": 900})


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join of orders to customer. Oracle =
    the plain unsalted JOIN, so row-identical equivalence is enforced
    by the correctness gate (same contract as salted_user_agg)."""
    from w_userflow_featurestore_spark.operators.skew import salted_join
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    return salted_join(orders, cust, ["o_custkey"], buckets=8) \
        .select("o_orderkey", "o_custkey", "c_nationkey", "o_totalprice")


def q_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: 3 highest-quality docs per source (row_number over
    quality desc with doc_id tie-break — generalizes the reference's
    top-1-per-group idiom, SURVEY A9/W2)."""
    from pyspark.sql import Window
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id"))
    return (docs.select("doc_id", "source",
                        TX.quality_score("text").alias("quality"))
            .withColumn("rank_in_source",
                        F.row_number().over(w).cast("long"))
            .where(F.col("rank_in_source") <= 3))


def q_salted_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted two-phase aggregation. Oracle = a plain
    GROUP BY: algebraic partials must combine to the identical result,
    so equivalence is enforced by the correctness gate itself."""
    from w_userflow_featurestore_spark.operators.skew import salted_agg
    from w_userflow_featurestore_spark.functions import scaled_long
    e = _events(spark, sf_dir)
    out = salted_agg(
        e, ["user_id"],
        {"n_events": ("event_id", "count"),
         # integer-cent sum: exact under any partial-agg order
         "sum_value_c": (scaled_long(F.col("value")), "sum"),
         "max_value": ("value", "max"),
         "first_ts_ms": (epoch_ms(F.col("ts")), "min")},
        buckets=16)
    return out.withColumn("sum_value",
                          fround(F.col("sum_value_c") / 100.0, 2)) \
              .drop("sum_value_c")


def q_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of session duration per day —
    distribution features (Spark percentile == DuckDB quantile_cont)."""
    s = _sessions(spark, sf_dir)
    return s.groupBy("datetime").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        fround(F.expr("percentile(duration_ms, 0.5)"), 2).alias("p50_ms"),
        fround(F.expr("percentile(duration_ms, 0.9)"), 2).alias("p90_ms"),
        fround(F.expr("percentile(duration_ms, 0.99)"), 2).alias("p99_ms"))


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (approx_percentile's GK summaries —
    the 100 TB path where an exact percentile's global sort is the
    bottleneck) gated against exact, the cardinality_sketch treatment:
    the sketch value is engine- and merge-order-specific, so the
    output carries exact_p50_ms plus rank_err_ok — the TRUE GK
    rank-error criterion: the sketch median (always an actual data
    value) must have a tie-aware rank interval [n_lt, n_le]
    overlapping [0.4n, 0.6n], checked in exact integer arithmetic.
    A 0.1 rank band is far looser than GK's 1/accuracy guarantee, so
    any merge order passes while a degraded sketch flips the value
    hash red. (A check of the sketch value against the INTERPOLATED
    exact [p40, p60] value band would be wrong: for a 2-element group
    that band excludes every actual data value, so a perfectly healthy
    sketch would fail.)"""
    # ONE datetime-keyed exchange shared by both aggregate branches:
    # repartition establishes the clustering
    # both groupBys need, so the sessionize subtree — the dominant
    # cost — plans into a single exchange both branches read (AQE
    # ReusedExchange), instead of running once per branch. The
    # rank-gate is tie-aware and merge-order-robust by construction
    # (see above), so the partitioning change cannot flip it.
    s = (_sessions(spark, sf_dir)
         .select("datetime", "duration_ms")
         .repartition(F.col("datetime")))
    agg = (s.groupBy("datetime")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 fround(F.expr("percentile(duration_ms, 0.5)"), 2)
                  .alias("exact_p50_ms"),
                 F.expr("approx_percentile(duration_ms, 0.5, 1000)")
                  .alias("_a50")))
    ranks = (s.join(F.broadcast(agg.select("datetime", "_a50")),
                    "datetime")
              .groupBy("datetime")
              .agg(F.sum((F.col("duration_ms") <= F.col("_a50"))
                         .cast("long")).alias("_n_le"),
                   F.sum((F.col("duration_ms") < F.col("_a50"))
                         .cast("long")).alias("_n_lt")))
    return (agg.join(F.broadcast(ranks), "datetime")
               .select("datetime", "n_sessions", "exact_p50_ms",
                       ((F.col("_n_le") * 10 >= F.col("n_sessions") * 4)
                        & (F.col("_n_lt") * 10 <= F.col("n_sessions") * 6))
                       .alias("rank_err_ok")))


def q_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality features: approx_count_distinct per (day, type),
    gated against exact. The raw sketch estimate is engine-specific (no
    cross-engine oracle can pin it), so the output carries the
    engine-portable pair instead: ``exact_users`` plus ``rel_err_ok`` —
    whether the HLL estimate landed within a 5% band of exact. The
    oracle pins rel_err_ok=TRUE, so a degraded sketch flips the value
    hash red. 5%, not rsd: rsd=0.02 is a standard error, not a bound —
    observed per-group max is 4.1% at sf0.01 — and HLL on fixed data is
    deterministic, so the band is stable, not flaky."""
    e = (_events(spark, sf_dir)
         .withColumn("datetime", F.to_date("ts")))
    return (e.groupBy("datetime", "event_type")
             .agg(F.count_distinct("user_id").alias("exact_users"),
                  F.approx_count_distinct("user_id", rsd=0.02)
                   .alias("_approx"))
             .select("datetime", "event_type", "exact_users",
                     (F.abs(F.col("_approx") - F.col("exact_users"))
                      <= 0.05 * F.col("exact_users")).alias("rel_err_ok")))


def q_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE cardinality: per-(event_type, day) Datasketches HLL
    sketches of the user set, unioned into one per-event-type estimate
    — the 100 TB rollup path where per-partition sketches combine
    without rescanning (hll_sketch_agg -> hll_union_agg; what
    approx_count_distinct alone can't do across independently-built
    aggregates). Sketch bytes are engine-specific, so the output is
    the portable gate per event type: exact distinct users, n_days
    merged, and whether the UNIONED estimate lands within 5% of exact
    — a broken merge path flips the hash red. Per-event-type, not one
    corpus row: a 1-row result cannot distinguish a group-collapsing
    bug from the real rollup — 5 independently merged rollup chains
    can."""
    e = (_events(spark, sf_dir)
         .withColumn("datetime", F.to_date("ts")))
    daily = (e.groupBy("event_type", "datetime")
              .agg(F.hll_sketch_agg("user_id").alias("sk")))
    merged = (daily.groupBy("event_type")
              .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                   F.hll_sketch_estimate(F.hll_union_agg("sk"))
                    .alias("_est")))
    exact = (e.groupBy(F.col("event_type").alias("_et"))
              .agg(F.count_distinct("user_id").alias("exact_users")))
    # null-safe join key: a NULL event_type forms a group in both
    # aggregates (and in the one-GROUP-BY oracle), so the gate join
    # must not drop it — <=> instead of = (the random-parity harness's
    # NULL-flag divergence class)
    return (merged.join(F.broadcast(exact),
                        merged["event_type"].eqNullSafe(exact["_et"]))
            .select("event_type", "n_days", "exact_users",
                    (F.abs(F.col("_est") - F.col("exact_users"))
                     <= 0.05 * F.col("exact_users")).alias("rel_err_ok")))


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: quality floor -> exact dedup -> LSH near-dup
    removal. The oracle is the composition of the stage oracles."""
    from w_userflow_featurestore_spark.operators.curate import curate_corpus
    return curate_corpus(read_table(spark, sf_dir, "documents"),
                         min_quality=0.5, near_threshold=0.5)


def q_asof_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct AS-OF join (feature serving): every event
    gets the user's latest purchase value/timestamp at-or-before its own
    timestamp — never a later one (training-leakage guard). Oracle =
    DuckDB's native ASOF LEFT JOIN."""
    from w_userflow_featurestore_spark.operators.asof import asof_join
    e = _events(spark, sf_dir)
    left = e.select("event_id", "ts", "user_id", "event_type", "value")
    right = (e.where(F.col("event_type") == "purchase")
              .select("user_id", "ts", "value"))
    return (asof_join(left, right, on=["user_id"])
            .withColumnRenamed("ts_r", "last_purchase_ts")
            .withColumnRenamed("value_r", "last_purchase_value"))


def q_interval_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: errors within 10 minutes AFTER each purchase,
    counted per purchase (zero kept). The time-bucket equi-join replaces
    the quadratic per-key cross Spark would plan for a raw range
    predicate; the oracle is the raw range predicate."""
    from w_userflow_featurestore_spark.operators.asof import interval_join
    e = _events(spark, sf_dir)
    p = (e.where(F.col("event_type") == "purchase")
          .select("event_id", "user_id", "ts"))
    err = e.where(F.col("event_type") == "error").select("user_id", "ts")
    counts = (interval_join(p, err, on=["user_id"], upper_ms=600_000)
              .groupBy("event_id")
              .agg(F.count(F.lit(1)).alias("n_errors_10m")))
    return (p.join(counts, "event_id", "left")
             .fillna({"n_errors_10m": 0})
             .select("event_id", "user_id", "ts", "n_errors_10m"))


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (80/10/10):
    shuffle-free projection, stable under reruns/growth/engines."""
    return SMP.dataset_split(
        read_table(spark, sf_dir, "documents", columns=["doc_id", "lang"]))


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: BPE-ish subwords per
    whitespace word — the multilingual budget planner's metric (a
    high-fertility language pays more subword tokens per word, so it
    burns token budget faster; read together with mixture_weights).
    Composes the two existing tokenizers (operators/text.py
    token_count_ws / token_count_bpe) in ONE language-keyed aggregate;
    fertility lands in integer basis points via DECIMAL(38,0) floor
    division (exabyte-proof, the market_share discipline)."""
    d = read_table(spark, sf_dir, "documents", columns=["lang", "text"])
    return (d.groupBy("lang")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum(TX.token_count_ws("text").cast("long"))
                   .cast("long").alias("n_words"),
                  F.sum(TX.token_count_bpe("text").cast("long"))
                   .cast("long").alias("n_subwords"))
             .select("lang", "n_docs", "n_words", "n_subwords",
                     F.expr("CAST((CAST(n_subwords AS DECIMAL(38,0))"
                            " * 10000) DIV n_words AS BIGINT)")
                      .alias("fertility_bp")))


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-contamination audit: near-dup pair counts per unordered
    (split, split) cell under the naive doc-hash split AND the
    cluster-aware leakage-safe split — the ('cluster','test','train')
    cell is structurally zero (pinned by unit test), while the
    doc_hash rows measure the eval contamination a naive split leaves.
    The corpus table never participates — every audited endpoint is in
    the pair graph by definition, so the audit costs pair-graph work
    at any corpus size (operators/sampling.py split_leakage_audit)."""
    # one pair frame feeds the cluster labeling's CC iterations AND
    # both cell counts — materialize the LSH subplan once
    pairs = q_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    return SMP.split_leakage_audit(pairs)


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (tau=2) source sampling weights and the
    per-source token budgets they imply for a 500k-token mixture —
    the mT5/XLM-R mixing rule whose budget_tokens column feeds
    token_budget_mix's overrides: weights SAY the mixture, the fill
    ENFORCES it (operators/sampling.py temperature_mix_weights).
    n^(1/2) rides one correctly-rounded IEEE sqrt, floored to integer
    micro-units before the exact DECIMAL divisions — engine-exact."""
    return SMP.temperature_mix_weights(
        read_table(spark, sf_dir, "documents",
                   columns=["source", "text"]),
        budget_tokens=500_000, tau=2)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: assignment is by NEAR-DUP
    CLUSTER (MinHash-LSH pair graph -> connected components -> hash
    the component's smallest id), so near-duplicates can never
    straddle the train/test boundary; docs outside any pair get
    exactly the dataset_split assignment
    (operators/sampling.py leakage_safe_split)."""
    docs = read_table(spark, sf_dir, "documents", columns=["doc_id"])
    return SMP.leakage_safe_split(docs,
                                  q_minhash_lsh_pairs(spark, sf_dir))


def q_incremental_leakage_split(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Split stability under corpus growth: odd-id docs arrive as the
    new batch; the even-id corpus is represented ONLY by its persisted
    component ledger (doc_id -> group_key), and the batch brings the
    pairs an LSH probe would yield (pairs touching >= 1 batch doc).
    Result = the full leakage_safe_split of the grown corpus (exact,
    by star-collapse — operators/sampling.py), plus a ``migrated``
    flag on every corpus doc whose group key changed — the audit
    signal that a doc's train/test assignment moved between runs.
    The oracle recomputes BOTH component sets from scratch (full and
    corpus-only recursive CTEs), so the driver row certifies the
    star-collapse equivalence itself, not just the glue."""
    docs = read_table(spark, sf_dir, "documents", columns=["doc_id"])
    # pair-graph-proportional frame consumed by BOTH the ledger build
    # and the batch probe (and each CC iteration above them) —
    # materialize the LSH subplan once instead of twice
    pairs = q_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    even = F.col("doc_id") % 2 == 0
    corpus_pairs = pairs.where((F.col("doc_a") % 2 == 0)
                               & (F.col("doc_b") % 2 == 0))
    batch_pairs = pairs.where((F.col("doc_a") % 2 == 1)
                              | (F.col("doc_b") % 2 == 1))
    # the ledger IS a persisted table in production; derived inline
    # here, so materialize it once (same rationale as
    # q_incremental_duplicate_spans' gram ledger)
    ledger = SMP.component_ledger(docs.where(even), corpus_pairs) \
        .localCheckpoint(eager=True)
    return SMP.incremental_leakage_split(ledger, docs.where(~even),
                                         batch_pairs)


def q_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split balance check stratified by language."""
    return SMP.split_summary(
        read_table(spark, sf_dir, "documents", columns=["doc_id", "lang"]),
        strata_col="lang")


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(day, event_type): leaf + per-day + grand-total subtotals in
    ONE Expand+HashAggregate pass (vs the reference's one-job-per-level +
    join-back shape)."""
    return REL.rollup_daily(_events(spark, sf_dir))


def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(day, event_type): all four grouping sets, single shuffle."""
    return REL.cube_daily(_events(spark, sf_dir))


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide pivot with an explicit vocabulary (single-pass
    conditional aggregate, no value-discovery job)."""
    return REL.pivot_counts(_events(spark, sf_dir), EVENT_TYPES)


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): dormant customers — no order since
    1999-01-01 — the membership-ledger exclusion idiom. The date bound
    rides ``ts_filter`` so it prunes the orders scan (PushedFilters on
    the raw nano-epoch), and it keeps the result non-empty: "never
    ordered at all" is TRUE of zero sf0.01 customers, so that form's
    driver row could only ever prove empty == empty. This horizon
    yields rows at
    every fixture SF (6 / 29 / 305 at sf0.001/0.01/0.1)."""
    return REL.anti_join_keys(
        read_table(spark, sf_dir, "customer",
                   columns=["c_custkey", "c_name", "c_mktsegment"]),
        read_table(spark, sf_dir, "orders", columns=["o_custkey"],
                   ts_filter=("o_orderdate", "1999-01-01 00:00:00", None)),
        "c_custkey", "o_custkey")


def q_big_spender_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS): customers with >= 1 order over 300k — match
    presence only, no duplication on multi-match."""
    orders = read_table(spark, sf_dir, "orders",
                        columns=["o_custkey", "o_totalprice"])
    return REL.semi_join_keys(
        read_table(spark, sf_dir, "customer",
                   columns=["c_custkey", "c_name", "c_nationkey"]),
        orders.where(F.col("o_totalprice") > 300000),
        "c_custkey", "o_custkey")


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS): min-hash per sliding window of
    char-8-gram hashes — the copy-detection inverted index."""
    return TX.winnow_fingerprints(read_table(spark, sf_dir, "documents"))


def q_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-detection pairs: documents sharing >= 2 winnowing
    fingerprints, with the shared count (operators/text.py
    fingerprint_pairs) — surfaces copied spans set-based MinHash
    misses. The stop-fingerprint cap (max_doc_freq=64, mirrored in the
    oracle SQL) bounds per-bucket join work to 64^2 pairs: without it a
    corpus-hot boilerplate print lands in thousands of docs and the
    inverted-index self-join goes quadratic in corpus size (and runs
    out of memory at sf0.1)."""
    return TX.fingerprint_pairs(read_table(spark, sf_dir, "documents"),
                                min_shared=2, max_doc_freq=64)


def q_rolling_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day per-user features via RANGE frame over epoch-day —
    calendar-gap-correct, O(days) window state after daily pre-agg."""
    return TMP.rolling_daily_features(_events(spark, sf_dir))


def q_event_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1 h event-time windows per type — batch twin of the
    streaming windowed-aggregation plan."""
    return TMP.tumbling_window_counts(_events(spark, sf_dir))


def q_event_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1 h / 30 min windows (2 copies per event pre-shuffle)."""
    return TMP.sliding_window_counts(_events(spark, sf_dir))


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization (one hash-agg, the streaming
    operator's batch twin); oracle = gaps-and-islands SQL."""
    return TMP.session_window_rollup(_events(spark, sf_dir))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + deterministic top-10
    (TakeOrderedAndProject — sort+limit without a global sort)."""
    cust = read_table(spark, sf_dir, "customer",
                      columns=["c_custkey", "c_mktsegment"])
    orders = read_table(spark, sf_dir, "orders",
                        ts_filter=("o_orderdate", None, "1995-03-15 00:00:00"))
    li = read_table(spark, sf_dir, "lineitem",
                    ts_filter=("l_shipdate", "1995-03-15 00:00:00", None))
    return (li.where(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
              .join(orders.where(F.col("o_orderdate")
                                 < F.lit("1995-03-15").cast("timestamp")),
                    F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
                    F.col("o_custkey") == F.col("c_custkey"))
              .groupBy("l_orderkey",
                       epoch_ms(F.col("o_orderdate").cast("timestamp"))
                       .alias("o_orderdate_ms"))
              .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                             scale=4).alias("revenue"))
              .orderBy(F.desc("revenue"), "o_orderdate_ms", "l_orderkey")
              .limit(10))


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority in a one-quarter window that
    have >=1 LATE line item (shipped >30 days after order) — the
    EXISTS decorrelated to a left-semi join; the quarter predicate
    pushes to the orders scan."""
    o = (read_table(spark, sf_dir, "orders",
                    ts_filter=("o_orderdate", "1995-01-01 00:00:00",
                               "1995-04-01 00:00:00"))
         .where(F.col("o_orderdate")
                < F.lit("1995-04-01").cast("timestamp")))
    li = read_table(spark, sf_dir, "lineitem",
                    columns=["l_orderkey", "l_shipdate"])
    late = (o.join(li, (F.col("l_orderkey") == F.col("o_orderkey"))
                   & (F.col("l_shipdate")
                      > F.date_add(F.col("o_orderdate"), 30)
                        .cast("timestamp")),
                   "left_semi"))
    return (late.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
                .orderBy("o_orderpriority"))


def q_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting baseline: each day's revenue vs the
    value 7 calendar days earlier (exact-cents calendar self-join, not
    a row-offset lag that smears across gaps), absolute error and
    error in basis points — the sanity baseline every real forecast
    must beat, and a drift alarm when APE spikes."""
    daily = (_events(spark, sf_dir)
             .where(F.col("event_type") == "purchase")
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))
                        .cast("long")).alias("rev_cents")))
    prior = daily.select(F.date_add("day", 7).alias("day"),
                         F.col("rev_cents").alias("forecast_cents"))
    return (daily.join(prior, "day", "left")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "rev_cents", "forecast_cents",
                    F.abs(F.col("rev_cents") - F.col("forecast_cents"))
                     .cast("long").alias("abs_err_cents"),
                    F.when(F.col("forecast_cents") > 0,
                           F.floor(F.abs(F.col("rev_cents")
                                         - F.col("forecast_cents"))
                                   * 10000 / F.col("forecast_cents")))
                     .cast("long").alias("ape_bp")))


def q_user_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: (purchasers ∪ signups) ∩ clickers − RECENT-error
    users — UNION / INTERSECT / EXCEPT with SQL set-distinct semantics.
    The excluded cohort is errors since 2024-01-24 (the fixtures' final
    week), not all-time errors: at sf0.01 every (purchase∪signup)∩click
    user also has SOME error event, so an all-time EXCEPT would empty
    the result and its driver row could prove only empty == empty.
    The date bound
    rides ``ts_filter`` so it prunes the error leg's scan; non-empty at
    every fixture SF (2 / 9 / 64 rows)."""
    e = _events(spark, sf_dir)

    def users(t: str) -> DataFrame:
        return e.where(F.col("event_type") == t).select("user_id")

    recent_errors = (read_table(spark, sf_dir, "events",
                                columns=["user_id", "event_type"],
                                ts_filter=("ts", "2024-01-24 00:00:00",
                                           None))
                     .where(F.col("event_type") == "error")
                     .select("user_id"))
    return (users("purchase").union(users("signup"))
            .intersect(users("click"))
            .subtract(recent_errors))


def q_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time training-set assembly: purchase-label spine AS-OF
    joined to three feature groups (last view / click / error state at
    label time) — leakage-free multi-group feature serving."""
    from w_userflow_featurestore_spark.operators.asof import (
        build_training_set,
    )
    e = _events(spark, sf_dir)
    spine = (e.where(F.col("event_type") == "purchase")
              .select("event_id", "user_id", "ts",
                      F.col("value").alias("label_value")))

    def grp(t: str) -> DataFrame:
        return (e.where(F.col("event_type") == t)
                 .select("user_id", "ts", "value"))

    out = build_training_set(
        spine, {"view": grp("view"), "click": grp("click"),
                "error": grp("error")}, on=["user_id"])
    return out.select(
        "event_id", "user_id", epoch_ms(F.col("ts")).alias("ts_ms"),
        "label_value",
        epoch_ms(F.col("ts_view")).alias("view_ts_ms"), "value_view",
        epoch_ms(F.col("ts_click")).alias("click_ts_ms"), "value_click",
        epoch_ms(F.col("ts_error")).alias("error_ts_ms"), "value_error")


def q_funnel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence view->click->purchase funnel per day: one
    shuffle + one sort for all three steps (chained running-min
    windows; see operators/funnel.py)."""
    from w_userflow_featurestore_spark.operators.funnel import funnel_daily
    return funnel_daily(_events(spark, sf_dir),
                        ["view", "click", "purchase"])


def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day event-type distribution drift: per-category
    chi-square terms floor-quantized to micro-units and integer-summed
    (see operators/temporal.py for the exact-parity discipline)."""
    return TMP.distribution_drift(_events(spark, sf_dir))


def q_item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the item-transition graph (consecutive items per
    user in event order), 5 integer-quantized iterations — the
    iterative-algorithm family WITH a full value oracle (a generated
    chain of per-iteration SQL CTEs); see operators/graph.py for why
    quantization makes that possible."""
    from pyspark.sql import Window

    from w_userflow_featurestore_spark.operators.graph import pagerank

    ev = _events(spark, sf_dir)
    item = F.from_json(F.col("props"), "k INT")["k"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (ev.select("user_id", "ts", "event_id", item.alias("k"))
               .withColumn("prev_k", F.lag("k").over(w))
               .where(F.col("prev_k").isNotNull())
               .groupBy("prev_k", "k")
               .agg(F.count(F.lit(1)).alias("w"))
               .select(F.col("prev_k").alias("src"),
                       F.col("k").alias("dst"), "w"))
    return pagerank(edges, weight="w", iterations=5, id_out="item")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order-Markov transition matrix of consecutive event types
    per user-day, row-normalized (see operators/paths.py)."""
    from w_userflow_featurestore_spark.operators.paths import (
        transition_matrix,
    )
    return transition_matrix(_events(spark, sf_dir))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-event-type downsample (hash-threshold
    sampleBy): keep 50% of views, 10% of clicks, all purchases —
    projection-only, rerun- and growth-stable."""
    from w_userflow_featurestore_spark.operators.sampling import (
        stratified_sample,
    )
    return stratified_sample(
        _events(spark, sf_dir),
        {"view": 0.5, "click": 0.1, "purchase": 1.0},
        strata_col="event_type", id_col="event_id",
    ).select("event_id", "user_id", "event_type")


def q_incremental_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-update curation: odd-id docs arrive as the new batch and
    are curated against the even-id corpus represented ONLY by its
    signature-index ledger (content hash + minhashes) — the corpus text
    is never rescanned (see operators/curate.py)."""
    from w_userflow_featurestore_spark.operators.curate import (
        incremental_curate, signature_index,
    )
    docs = read_table(spark, sf_dir, "documents")
    # In production the ledger IS a persisted table (LogTable /
    # parquet); here it's derived inline, so materialize it once —
    # otherwise each of its three consumers (hash anti-join, banded
    # probe, signature verify) re-derives it from the corpus text,
    # which is exactly what the ledger exists to avoid.
    ledger = signature_index(docs.where(F.col("doc_id") % 2 == 0)) \
        .localCheckpoint(eager=True)
    return incremental_curate(docs.where(F.col("doc_id") % 2 == 1), ledger)


def q_incremental_duplicate_spans(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Daily-update substring dedup: odd-id docs arrive as the new
    batch and are span-deduped against the even-id corpus represented
    ONLY by its persisted per-gram occurrence ledger (gram_ledger) —
    corpus text is never rescanned. Same k=6/min_count=2 as
    duplicate_spans; by construction the result equals the full-corpus
    run restricted to the batch (operators/text.py)."""
    docs = read_table(spark, sf_dir, "documents")
    # the ledger IS a persisted table in production; derived inline
    # here, so materialize it once for its single probe consumer
    # (same rationale as q_incremental_curate's signature ledger)
    ledger = TX.gram_ledger(docs.where(F.col("doc_id") % 2 == 0), k=6) \
        .localCheckpoint(eager=True)
    return TX.incremental_duplicate_spans(
        docs.where(F.col("doc_id") % 2 == 1), ledger, k=6, min_count=2)


def q_incremental_span_removed(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Daily-update ExactSubstr REWRITE: the odd-id batch excised
    against the even-id corpus represented ONLY by its persisted
    gram_ledger — corpus text never rescanned, batch text moved once.
    Same k=6/min_count=2 as the span family; by construction equals
    the full-corpus rewrite restricted to the batch
    (operators/text.py)."""
    docs = read_table(spark, sf_dir, "documents")
    # the ledger IS a persisted table in production; derived inline
    # here, so materialize it once for its single probe consumer
    # (same rationale as q_incremental_duplicate_spans)
    ledger = TX.gram_ledger(docs.where(F.col("doc_id") % 2 == 0), k=6) \
        .localCheckpoint(eager=True)
    return TX.incremental_span_removed(
        docs.where(F.col("doc_id") % 2 == 1), ledger, k=6, min_count=2)


def q_time_decay_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency-weighted value sum: integer right-shift decay
    (half-life 1 day, anchored at the corpus max event date) — exact
    under any partitioning (operators/temporal.py)."""
    return TMP.time_decay_features(_events(spark, sf_dir))


def q_behavior_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: Gini impurity over event types —
    exact rational of integer counts (operators/paths.py)."""
    from w_userflow_featurestore_spark.operators.paths import (
        behavior_diversity,
    )
    return behavior_diversity(_events(spark, sf_dir))


def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, active-day) churn label: 1 iff no event in the next
    7 days — forward-looking RANGE window, leakage-safe by construction
    (operators/temporal.py)."""
    return TMP.churn_labels(_events(spark, sf_dir))


def q_capped_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most 5 events per user, deterministic hash order — the
    anti-bot per-entity cap (operators/sampling.py)."""
    from w_userflow_featurestore_spark.operators.sampling import (
        cap_group_rows,
    )
    return cap_group_rows(_events(spark, sf_dir), ["user_id"], n=5) \
        .select("event_id", "user_id", "event_type")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsample: each document kept with probability
    equal to its quality score — per-row hash threshold, zero shuffle
    (see operators/sampling.py)."""
    from w_userflow_featurestore_spark.operators.sampling import (
        weighted_sample,
    )
    docs = read_table(spark, sf_dir, "documents")
    return weighted_sample(
        docs, TX.quality_score("text"), id_col="doc_id"
    ).select("doc_id", "lang",
             TX.quality_score("text").alias("quality"))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: 5-gram collision of every train-split
    document against the broadcast test-split gram set (see
    operators/contamination.py)."""
    from w_userflow_featurestore_spark.operators.contamination import (
        contamination_check,
    )
    from w_userflow_featurestore_spark.operators.sampling import (
        dataset_split,
    )
    s = dataset_split(read_table(spark, sf_dir, "documents"))
    return contamination_check(s.where(F.col("split") == "train"),
                               s.where(F.col("split") == "test"), n=5)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 over the documents corpus for a 4-term query —
    ranked retrieval with integer-micros scores (exact under any
    partitioning; see operators/retrieval.py)."""
    from w_userflow_featurestore_spark.operators.retrieval import bm25_topk
    return bm25_topk(read_table(spark, sf_dir, "documents"),
                     ["spark", "hash", "join", "vector"], k=10)


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    top-10 with the exact-cosine semantic top-10 for query vector 0
    (vec_id doubles as doc_id in the fixtures). Integer-nanos RRF
    contributions keep the fused scores engine-exact
    (operators/retrieval.py rrf_fuse)."""
    from pyspark.sql import Window

    from w_userflow_featurestore_spark.operators.retrieval import (
        bm25_topk, rrf_fuse,
    )
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["spark", "hash", "join", "vector"], k=10)
    wlex = Window.orderBy(F.desc("score_micros"), F.asc("doc_id"))
    lex_r = lex.select(
        "doc_id", F.row_number().over(wlex).cast("long").alias("rank"))
    sem_r = (SIM.brute_force_topk(emb, emb.where(F.col("vec_id") == 0),
                                  k=10)
             .select(F.col("n_id").alias("doc_id"), F.col("rank")))
    return rrf_fuse([lex_r, sem_r], k=10)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving fit-resize geometry for image payloads
    (operators/multimodal.py resize_images) — mapInPandas Arrow stage
    with pure-integer output geometry, so even the Python path carries
    a full value oracle."""
    return MM.resize_images(
        MM.multimodal_features(read_table(spark, sf_dir, "documents")),
        target_w=224, target_h=224)


def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping audio windowing (1 -> N fan-out; the STFT framing
    step) over decoded audio rows — deterministic per-window checksums
    keep the Arrow stage value-oracle-able."""
    return MM.audio_windows(
        MM.multimodal_features(read_table(spark, sf_dir, "documents")),
        window_ms=1000, hop_ms=500)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads -> typed features through the Arrow mapInPandas
    path (deterministic fake decode; the plumbing under test is real)."""
    return MM.multimodal_features(read_table(spark, sf_dir, "documents"))


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (1 video row -> N frame rows) via
    mapInPandas."""
    return MM.sample_frames(
        MM.multimodal_features(read_table(spark, sf_dir, "documents")))


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 validity intervals of each user's event-type state
    (operators/scd.py scd2_history): one row per maximal run with
    half-open [valid_from, valid_to) epoch-ms bounds, per-key version,
    is_current — the mutable-attribute history that AS-OF feature
    serving reads. One shuffle, two windows over change rows only."""
    from w_userflow_featurestore_spark.operators.scd import scd2_history
    return scd2_history(_events(spark, sf_dir))


def q_feature_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-(user, day) grid with gap-fill (operators/temporal.py
    feature_backfill): inactive days materialized with n_events=0,
    LOCF value state in exact cents, days-since-activity — the
    feature-matrix densification step before sequence models."""
    return TMP.feature_backfill(_events(spark, sf_dir))


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based negative sampling over (user, item)
    positives (operators/sampling.py negative_samples): k=4 catalog
    draws per positive pair, true interactions anti-joined out —
    rerun-stable, engine-replayable (md5 oracle twin)."""
    item = F.from_json(F.col("props"), "k INT")["k"]
    pos = (_events(spark, sf_dir)
           .select("user_id", item.alias("item_k"))
           .where(F.col("item_k").isNotNull()))
    return SMP.negative_samples(pos, k=4)


def q_frequency_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch over the corpus token stream
    (operators/sketch.py), probed at the exact top-20 tokens. CMS is
    built from the repo's own md5 hash families, so unlike the
    HLL/GK gates the ESTIMATES are engine-deterministic — the oracle
    pins cms_n itself, plus the classic one-sided bound flag
    (exact <= estimate <= exact + 2N/width)."""
    from w_userflow_featurestore_spark.operators.dedup import words
    from w_userflow_featurestore_spark.operators.sketch import (
        cms_build, cms_lookup,
    )
    from w_userflow_featurestore_spark.sources import fan_out
    docs = read_table(spark, sf_dir, "documents")
    toks = (fan_out(docs.select("text"))
            .select(F.explode(words("text")).alias("token"))
            .where(F.col("token") != ""))
    sketch = cms_build(toks, "token", depth=4, width=1024)
    probes = TX.frequent_tokens(docs, k=20)
    est = cms_lookup(sketch, probes, "token", depth=4, width=1024)
    total = toks.groupBy().agg(F.count(F.lit(1)).alias("_n_tok"))
    bound = F.floor(F.lit(2.0) * F.col("_n_tok") / 1024).cast("long")
    return (est.crossJoin(F.broadcast(total))
               .select("token", "n_occurrences", "cms_n",
                       ((F.col("cms_n") >= F.col("n_occurrences"))
                        & ((F.col("cms_n") - F.col("n_occurrences"))
                           <= bound)).cast("int").alias("bound_ok")))


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type [p01, p99] winsorization of value
    (operators/features.py): exact percentile bounds from one
    group-grain aggregate broadcast onto the scan — outlier capping
    without a global sort."""
    from w_userflow_featurestore_spark.operators.features import (
        winsorize,
    )
    return (winsorize(_events(spark, sf_dir), "value", "event_type")
            .select("event_id", "event_type", "value_w", "clipped"))


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against value with
    additive smoothing (operators/features.py) — the leakage-safe
    high-cardinality categorical encoding, exact integer cents
    throughout with one mirrored double division."""
    from w_userflow_featurestore_spark.operators.features import (
        target_encode,
    )
    return (target_encode(_events(spark, sf_dir), "event_type", "value")
            .select("event_id", "event_type", "te_event_type"))


def q_behavior_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral trigrams (operators/paths.py path_ngrams):
    path DISCOVERY one order above the transition matrix — n-1 lead
    windows over ONE entity-partitioned sort, no sequence self-joins."""
    from w_userflow_featurestore_spark.operators.paths import path_ngrams
    return path_ngrams(_events(spark, sf_dir), n=3, k=20)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attributed to the user's
    most recent click within a 30-minute lookback (AS-OF join +
    tolerance filter) — the marketing/ads counterpart of point-in-time
    feature serving; clicks outside the window leave the purchase
    unattributed rather than matching stale touches."""
    from w_userflow_featurestore_spark.operators.asof import asof_join
    e = _events(spark, sf_dir)
    purchases = (e.where(F.col("event_type") == "purchase")
                  .select("event_id", "user_id", "ts"))
    clicks = (e.where(F.col("event_type") == "click")
               .groupBy("user_id", "ts")
               .agg(F.max("event_id").alias("click_id")))
    j = asof_join(purchases, clicks, on=["user_id"], suffix="_c")
    lat = epoch_ms(F.col("ts")) - epoch_ms(F.col("ts_c"))
    ok = F.col("ts_c").isNotNull() & (lat <= 30 * 60 * 1000)
    return j.select(
        "event_id", "user_id", epoch_ms(F.col("ts")).alias("ts_ms"),
        F.when(ok, F.col("click_id_c")).alias("click_event_id"),
        F.when(ok, lat).cast("long").alias("latency_ms"),
        ok.cast("int").alias("attributed"))


def q_item_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per item over the co-view graph (items
    sharing a user-day; operators/graph.py triangle_count) — the
    cohesion metric for recommendation clusters; oriented-wedge join,
    each triangle found exactly once."""
    from w_userflow_featurestore_spark.operators.graph import (
        triangle_count,
    )
    item = F.from_json(F.col("props"), "k INT")["k"]
    ui = (_events(spark, sf_dir)
          .select(F.to_date("ts").alias("day"), "user_id",
                  item.alias("i"))
          .where(F.col("i").isNotNull()).distinct())
    pairs = (ui.alias("l")
             .join(ui.alias("r"), ["day", "user_id"])
             .where(F.col("l.i") < F.col("r.i"))
             .select(F.col("l.i").alias("src"), F.col("r.i").alias("dst"))
             .distinct())
    return triangle_count(pairs)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention triangle (operators/metrics.py
    cohort_retention_triangle): first-seen-day cohorts x day offset,
    retention in exact basis points — the growth-analytics readout the
    one-day-back retention metrics can't show."""
    return M.cohort_retention_triangle(_events(spark, sf_dir))


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-assigned A/B arms + two-proportion z-test on purchase
    conversion (operators/experiment.py): exact integer counts,
    IEEE-exact inference floor-quantized to micro-units — the
    chi-square drift discipline applied to experiment analysis."""
    from w_userflow_featurestore_spark.operators.experiment import (
        ab_test_summary,
    )
    return ab_test_summary(_events(spark, sf_dir))


def q_user_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family over per-(event_type, user) exact value
    totals: rank, dense_rank, ntile(4), percent_rank and cume_dist in
    integer basis points — the leaderboard/quartile-bucketing shapes
    (completes W-coverage beyond row_number/lag/lead). Deterministic
    unique ordering (cents desc, user asc) so every engine agrees."""
    from w_userflow_featurestore_spark.functions import scaled_long
    daily = (_events(spark, sf_dir)
             .groupBy("event_type", "user_id")
             .agg(F.sum(scaled_long(F.col("value"))).alias("v_cents")))
    w = (Window.partitionBy("event_type")
               .orderBy(F.desc("v_cents"), F.asc("user_id")))
    return daily.select(
        "event_type", "user_id", "v_cents",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("dense_rnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.floor(F.percent_rank().over(w) * 10000).cast("long")
         .alias("pct_rank_bp"),
        F.floor(F.cume_dist().over(w) * 10000).cast("long")
         .alias("cume_dist_bp"))


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct actives per day (operators/temporal.py
    rolling_active_users) — the rolling-DAU/WAU metric that RANGE
    frames can't express; contribution-explode keeps it hash-agg-only."""
    return TMP.rolling_active_users(_events(spark, sf_dir))


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint suite over events in ONE aggregation
    pass (operators/quality.py): completeness, uniqueness, bounds,
    domain membership, volume floor — one row per rule with its
    violation count."""
    from w_userflow_featurestore_spark.operators.quality import (
        bounds, in_set, min_rows, not_null, quality_report, unique,
    )
    return quality_report(_events(spark, sf_dir), [
        not_null("event_id"),
        unique("event_id"),
        not_null("user_id"),
        not_null("ts"),
        bounds("value", lo=0, hi=1000),
        in_set("event_type",
               ["click", "error", "purchase", "signup", "view"]),
        min_rows(1000),
    ])


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew profiler on events.user_id
    (operators/skew.py key_skew_profile): top-20 hottest keys, exact
    counts, share in basis points — the pre-flight diagnostic for
    salting/broadcast decisions. TakeOrdered top-k, no global sort."""
    from w_userflow_featurestore_spark.operators.skew import (
        key_skew_profile,
    )
    return key_skew_profile(_events(spark, sf_dir), "user_id", top_k=20)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF keywords (operators/text.py
    tfidf_top_terms): whole-bit IDF = bit_length(N DIV df) - 1 keeps
    the score exact integer arithmetic (the token_surprisal trick on
    the document-frequency axis); top-k per doc by (score_bits DESC,
    term ASC). Two token-grain hash aggregates, a vocab-keyed join, a
    1-row N broadcast, a doc-partitioned window — no corpus sort."""
    return TX.tfidf_top_terms(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text"]), top_k=3)


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by whole-bit PMI
    (operators/text.py pmi_collocations): bigrams built row-locally,
    counts in two hash aggregates, PMI = bit_length((c_xy*T) DIV
    (c_x*c_y)) - 1 with the products in DECIMAL(38,0) (BIGINT-exact
    ratio, overflow-safe at the 100 TB design point), min_count=5
    suppressing the rare-pair explosion, positive-PMI only. The final
    top-20 is a TakeOrderedAndProject, never a full sort."""
    return TX.pmi_collocations(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text"]), top_k=20, min_count=5)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty (operators/dedup.py ngram_novelty):
    share of the doc's distinct shingles with corpus document
    frequency 1, in exact basis points — the shingle-grain twin of
    dedup_rate_report. One shingle hash-aggregate, the df tag rides
    the same exchange as a window, one doc rollup."""
    return DD.ngram_novelty(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text"]), n=3)


def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mirroring matrix (operators/dedup.py
    cross_source_overlap): distinct shared content units + unit
    Jaccard in basis points per unordered source pair. The unit is the
    winnowing bottom-1 fingerprint (text.doc_fingerprint) rather than
    the exact content hash, so lightly-edited mirrors count — and the
    certificate stays non-vacuous at sf0.01, where the fixtures carry
    near-mirrors but zero byte-identical cross-source dups. The
    self-join runs AFTER the (unit, source) distinct collapse, so
    per-unit fan-out is bounded by the source domain, not dup-group
    size."""
    from w_userflow_featurestore_spark.operators.text import (
        doc_fingerprint,
    )
    return DD.cross_source_overlap(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text", "source"]),
        unit=doc_fingerprint("text"))


def q_d4_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 data selection (operators/similarity.py d4_select): SemDeDup
    drop (16 cells, cosine >= 0.35, lowest-id survivor) THEN
    cluster-balanced diversification over the survivors (re-fit 8-cell
    quantizer, hash-ranked 5 per cell) — dedup alone over-samples
    dense regions, diversification alone keeps duplicates; D4 is the
    composition. Dropped vectors carry NULL re-clustering columns and
    selected=false. Oracle composes the semantic_dedup and
    cluster_balanced_sample CTE chains over the same survivor set."""
    return SIM.d4_select(
        read_table(spark, sf_dir, "embeddings",
                   columns=["vec_id", "embedding"]),
        threshold=0.35, per_cluster=5, sem_centroids=16,
        sample_centroids=8)


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (operators/sampling.py
    curriculum_order): 4 difficulty stages by unigram-LM surprisal —
    VALUE thresholds from a score histogram (the perplexity_buckets
    rule, global), never a corpus sort — with corpus_shuffle's sharded
    deterministic permutation within each stage; the reader consumes
    (stage, shard, shard_pos) lexicographically for easy-to-hard
    training with locally unbiased order."""
    return SMP.curriculum_order(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text"]),
        n_stages=4, n_shards=8)


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID accuracy audit (operators/text.py
    lang_id_confusion): labeled lang vs the stopword-profile
    prediction, within-language shares in exact basis points — the
    eval for the heuristic the language filter rule trusts (zh mass
    lands on 'und' by design: normalization strips CJK). Row-local
    prediction + one |langs|^2 hash-agg; the per-language total is a
    window over that tiny frame."""
    return TX.lang_id_confusion(
        read_table(spark, sf_dir, "documents",
                   columns=["lang", "text"]))


def q_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@5 vs nprobe tuning curve (operators/similarity.py
    ivf_recall_sweep): ann_recall_gate pins ONE operating point
    against a floor; this sweeps nprobe over {1, 2, 4} against the
    same exact brute-force baseline and emits the whole curve —
    recall_bp non-decreasing in nprobe by construction (unit-pinned).
    Brute baseline computed once and lineage-cut; one ivf_topk
    pipeline per point folded to a 1-row aggregate."""
    emb = read_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).localCheckpoint(eager=True)
    return SIM.ivf_recall_sweep(emb, qs, k=5, n_centroids=8,
                                nprobes=(1, 2, 4))


def q_incremental_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-update novelty scoring: odd-id docs arrive as the new
    batch and are scored against the even-id corpus represented ONLY
    by its persisted shingle-df ledger (operators/dedup.py
    shingle_ledger / incremental_novelty) — corpus text is never
    rescanned. By construction the result equals the full hash-grain
    novelty of corpus+batch restricted to the batch (property-tested);
    the gram_ledger discipline applied to the novelty signal."""
    docs = read_table(spark, sf_dir, "documents",
                      columns=["doc_id", "text"])
    # the ledger IS a persisted table in production; derived inline
    # here, so materialize it once for its single probe consumer
    ledger = DD.shingle_ledger(docs.where(F.col("doc_id") % 2 == 0),
                               n=3).localCheckpoint(eager=True)
    return DD.incremental_novelty(docs.where(F.col("doc_id") % 2 == 1),
                                  ledger, n=3)


def q_quality_survivor_dedup(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Near-dup dedup keeping the highest-quality doc per cluster
    (operators/dedup.py quality_survivor_dedup): components over the
    same MinHash-LSH pair graph as dedup_components, survivor =
    argmax(distinct-word count, doc_id ASC tie-break) via one
    component-partitioned window; singleton docs are their own
    component (leakage_safe_split's coalesce-to-self convention)."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    return DD.quality_survivor_dedup(
        read_table(spark, sf_dir, "documents",
                   columns=["doc_id", "text"]), pairs=pairs)


# driver-walk order: the correctness harness certifies entries
# front-to-back and stops at 50, so the registry is kept in
# least-recently-certified order (the rebuild from _ROUND12_WINDOW
# below sets the physical order). Every query, inside the window or
# past it, is re-verified against the DuckDB oracle at sf0.001 by
# tests/test_oracle_parity.py on every pytest run.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ab_test": q_ab_test,
    "behavior_trigrams": q_behavior_trigrams,
    "curate_corpus": q_curate_corpus,
    "sessions": q_sessions,
    "event_type_pivot": q_event_type_pivot,
    "top_item_per_day": q_top_item_per_day,
    "item_continuation": q_item_continuation,
    "cohort_vs_global": q_cohort_vs_global,
    "promo_revenue": q_promo_revenue,
    "minhash_accuracy": q_minhash_accuracy,
    "large_volume_orders": q_large_volume_orders,
    "sole_return_supplier": q_sole_return_supplier,
    "idle_customer_balance": q_idle_customer_balance,
    "top_revenue_supplier": q_top_revenue_supplier,
    "bulk_part_suppliers": q_bulk_part_suppliers,
    "cluster_balanced_sample": q_cluster_balanced_sample,
    "bracket_revenue": q_bracket_revenue,
    "doc_chunks": q_doc_chunks,
    "ann_cosine_topk": q_ann_cosine_topk,
    "hard_negatives": q_hard_negatives,
    "knn_label_agreement": q_knn_label_agreement,
    "ann_lsh_bucket": q_ann_lsh_bucket,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_recall_gate": q_ann_recall_gate,
    "vocab_coverage": q_vocab_coverage,
    "volume_anomaly": q_volume_anomaly,
    "embedding_near_pairs": q_embedding_near_pairs,
    "embedding_dedup": q_embedding_dedup,
    "asof_features": q_asof_features,
    "interval_features": q_interval_features,
    "event_rollup": q_event_rollup,
    "event_cube": q_event_cube,
    "doc_fingerprints": q_doc_fingerprints,
    "rolling_user_features": q_rolling_user_features,
    "event_time_windows": q_event_time_windows,
    "event_sliding_windows": q_event_sliding_windows,
    "session_windows": q_session_windows,
    "training_set": q_training_set,
    "bm25_topk": q_bm25_topk,
    "hybrid_search": q_hybrid_search,
    "hll_union_rollup": q_hll_union_rollup,
    "market_share": q_market_share,
    "mixture_weights": q_mixture_weights,
    "incremental_leakage_split": q_incremental_leakage_split,
    "bpe_merges": q_bpe_merges,
    "bpe_encode": q_bpe_encode,
    "bpe_encode_persisted": q_bpe_encode_persisted,
    "tokenizer_drift": q_tokenizer_drift,
    "bigram_surprisal": q_bigram_surprisal,
    "perplexity_buckets": q_perplexity_buckets,
    "dsir_importance": q_dsir_importance,
    "dsir_select": q_dsir_select,
    "dsir_select_tokens": q_dsir_select_tokens,
    "quality_filter_verdict": q_quality_filter_verdict,
    "quality_rule_report": q_quality_rule_report,
    "ccnet_curate": q_ccnet_curate,
    "funnel_daily": q_funnel_daily,
    "event_transitions": q_event_transitions,
    "incremental_curate": q_incremental_curate,
    "behavior_diversity": q_behavior_diversity,
    "contamination": q_contamination,
    "shipping_priority": q_shipping_priority,
    "churn_labels": q_churn_labels,
    "time_decay_features": q_time_decay_features,
    "big_spender_customers": q_big_spender_customers,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_frames": q_multimodal_frames,
    "salted_user_agg": q_salted_user_agg,
    "salted_join": q_salted_join,
    "top_docs_per_source": q_top_docs_per_source,
    "duration_percentiles": q_duration_percentiles,
    "volume_shipping": q_volume_shipping,
    "small_quantity_revenue": q_small_quantity_revenue,
    "duplicate_spans": q_duplicate_spans,
    "incremental_duplicate_spans": q_incremental_duplicate_spans,
    "product_profit": q_product_profit,
    "returned_item_customers": q_returned_item_customers,
    "discount_band_revenue": q_discount_band_revenue,
    "order_count_distribution": q_order_count_distribution,
    "user_daily": q_user_daily,
    "item_daily": q_item_daily,
    "entry_type_daily": q_entry_type_daily,
    "binge_ratio": q_binge_ratio,
    "retention_yesterday": q_retention_yesterday,
    "retention_today": q_retention_today,
    "dim_gap_features": q_dim_gap_features,
    "exact_dedup": q_exact_dedup,
    "dedup_rate_report": q_dedup_rate_report,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dedup_components": q_dedup_components,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "simhash": q_simhash,
    "simhash_near_pairs": q_simhash_near_pairs,
    "text_profile": q_text_profile,
    "corpus_language_stats": q_corpus_language_stats,
    "repetition_profile": q_repetition_profile,
    "pii_scrub": q_pii_scrub,
    "fingerprint_pairs": q_fingerprint_pairs,
    "cardinality_sketch": q_cardinality_sketch,
    "semantic_dedup": q_semantic_dedup,
    "line_dedup": q_line_dedup,
    "token_surprisal": q_token_surprisal,
    "item_pagerank": q_item_pagerank,
    "distribution_drift": q_distribution_drift,
    "bpe_pair_counts": q_bpe_pair_counts,
    "quantile_sketch": q_quantile_sketch,
    "scd2_history": q_scd2_history,
    "feature_backfill": q_feature_backfill,
    "negative_samples": q_negative_samples,
    "key_skew_profile": q_key_skew_profile,
    "frequency_sketch": q_frequency_sketch,
    "rolling_active_users": q_rolling_active_users,
    "quality_report": q_quality_report,
    "user_value_ranks": q_user_value_ranks,
    "cohort_retention": q_cohort_retention,
    "item_triangles": q_item_triangles,
    "attribution": q_attribution,
    "winsorize": q_winsorize,
    "target_encode": q_target_encode,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_audio_windows": q_multimodal_audio_windows,
    "order_priority_counts": q_order_priority_counts,
    "forecast_baseline": q_forecast_baseline,
    "token_budget_mix": q_token_budget_mix,
    "leakage_safe_split": q_leakage_safe_split,
    "corpus_shuffle": q_corpus_shuffle,
    "dataset_split": q_dataset_split,
    "split_summary": q_split_summary,
    "stratified_sample": q_stratified_sample,
    "weighted_sample": q_weighted_sample,
    "capped_user_events": q_capped_user_events,
    "source_balanced_sample": q_source_balanced_sample,
    "user_cohort_setops": q_user_cohort_setops,
    "customers_no_orders": q_customers_no_orders,
    "tokenizer_fertility": q_tokenizer_fertility,
    "split_leakage_audit": q_split_leakage_audit,
    "dedup_latest": q_dedup_latest,
    "above_avg_orders": q_above_avg_orders,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "pack_sequences": q_pack_sequences,
    "frequent_tokens": q_frequent_tokens,
    "tfidf_top_terms": q_tfidf_top_terms,
    "pmi_collocations": q_pmi_collocations,
    "ngram_novelty": q_ngram_novelty,
    "cross_source_overlap": q_cross_source_overlap,
    "quality_survivor_dedup": q_quality_survivor_dedup,
    "d4_select": q_d4_select,
    "curriculum_order": q_curriculum_order,
    "lang_id_confusion": q_lang_id_confusion,
    "ivf_recall_sweep": q_ivf_recall_sweep,
    "incremental_novelty": q_incremental_novelty,
    "span_removed_corpus": q_span_removed_corpus,
    "incremental_span_removed": q_incremental_span_removed,
}

# Certification window: the driver certifies the FIRST 50 entries of
# QUERIES. At 156 registered queries a 50-slot window needs a four-pass
# cycle (3 x 50 = 150 < 156). Displaced, reshaped and never-certified
# queries lead; the rest follow in least-recently-certified order.
# tests/test_cert_window.py pins this list's composition, and the
# rebuild below makes it the driver's physical certification order
# (the dict literal above only registers the queries).
_ROUND12_WINDOW = [
    # the 9 leads, in exactly this order: 8 queries displaced by the
    # four-pass cycle (in their last certification order), then the
    # never-certified incremental_span_removed
    "mixture_weights", "incremental_leakage_split", "bpe_merges",
    "bpe_encode", "bigram_surprisal", "perplexity_buckets",
    "dsir_importance", "funnel_daily", "incremental_span_removed",
    # then least-recently-certified: the first 41 of the 47 queries
    # last certified together, in that run's certification order
    "event_transitions", "incremental_curate", "behavior_diversity",
    "contamination", "shipping_priority", "churn_labels",
    "time_decay_features", "big_spender_customers", "multimodal_decode",
    "multimodal_frames", "salted_user_agg", "salted_join",
    "top_docs_per_source", "duration_percentiles", "volume_shipping",
    "duplicate_spans", "incremental_duplicate_spans", "product_profit",
    "returned_item_customers", "order_count_distribution", "user_daily",
    "item_daily", "entry_type_daily", "binge_ratio",
    "retention_yesterday", "retention_today", "dim_gap_features",
    "exact_dedup", "minhash_signatures", "minhash_lsh_pairs",
    "dedup_components", "ngram_jaccard_pairs", "simhash",
    "simhash_near_pairs", "text_profile", "repetition_profile",
    "market_share", "quality_filter_verdict", "bpe_encode_persisted",
    "dsir_select", "dsir_select_tokens",
    # the 6 that do not fit (quality_rule_report, ccnet_curate,
    # hard_negatives, knn_label_agreement, dedup_rate_report,
    # tokenizer_drift) lead the next window
]

QUERIES = {name: QUERIES[name] for name in
           _ROUND12_WINDOW + [n for n in QUERIES
                              if n not in _ROUND12_WINDOW]}


def _datestr(df: DataFrame) -> DataFrame:
    """Emit DATE columns as 'yyyy-MM-dd' strings: DATE values serialize
    differently across Spark/DuckDB client libraries; strings hash
    identically. Applied symmetrically in oracle_sql() via * REPLACE."""
    if "datetime" in df.columns:
        df = df.withColumn("datetime", F.date_format("datetime", "yyyy-MM-dd"))
    return df


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: (lambda s, d, _fn=fn: _datestr(_fn(_ensure_conf(s), d)))
            for name, fn in QUERIES.items()}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

# Shared sessionization CTE mirroring operators/sessionize.py exactly
# (gaps-and-islands -> rollup -> ordered state machine, now injected).
_SESSIONS_CTE = """
WITH seq AS (
  SELECT e.*,
         CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
              THEN 1 ELSE 0 END AS is_new
  FROM events e
),
numbered AS (
  SELECT *,
         CAST(user_id * 10000000000
              + CAST(floor(max(CASE WHEN is_new = 1 THEN epoch_ms(ts) END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) / 1000)
                     AS BIGINT) AS BIGINT) AS session_id
  FROM seq
),
roll AS (
  SELECT session_id, user_id,
         min(ts) AS start_time,
         max(ts) AS end_time,
         epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms,
         count(*) AS n_events,
         (list(event_type ORDER BY ts, event_id))[1] AS entry_event_type,
         round(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_value,
         round(max(value), 2) AS max_value,
         count(DISTINCT CAST(regexp_extract(props, '[0-9]+') AS INTEGER)) AS n_items,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS seen_purchase,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS seen_error,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS seen_click,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS seen_view,
         CAST(min(ts) AS DATE) AS datetime
  FROM numbered
  GROUP BY session_id, user_id
),
staged AS (
  SELECT *,
         CASE WHEN seen_purchase = 1 AND max_value >= 50.0 THEN 'COMPLETE'
              WHEN seen_error = 1 THEN 'EXIT'
              WHEN epoch_ms(TIMESTAMP '2024-02-01 00:00:00') - epoch_ms(end_time) > 600000 THEN 'TIMEOUT_EXIT'
              ELSE 'IN_PROGRESS' END AS session_state
  FROM roll
),
sessions AS (
  SELECT *,
         CASE WHEN session_state = 'COMPLETE' THEN 1 ELSE 0 END AS is_complete,
         CASE WHEN session_state IN ('EXIT', 'TIMEOUT_EXIT') THEN 1 ELSE 0 END AS is_exit
  FROM staged
)
"""

_ITEM_EVENTS_CTE = """
WITH ev AS (
  SELECT *,
         CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS item_k,
         CAST(ts AS DATE) AS datetime
  FROM events
)
"""

ORACLES: dict[str, str] = {}

ORACLES["sessions"] = _SESSIONS_CTE + """
SELECT session_id, user_id, datetime,
       epoch_ms(start_time) AS start_ms, epoch_ms(end_time) AS end_ms,
       duration_ms, n_events, entry_event_type, sum_value, max_value,
       n_items, seen_purchase, seen_error, seen_click, seen_view,
       session_state, is_complete, is_exit
FROM sessions
"""

ORACLES["user_daily"] = _SESSIONS_CTE + """
, core AS (
  SELECT datetime, user_id,
         count(DISTINCT session_id) AS total_sessions,
         CAST(sum(is_complete) AS BIGINT) AS complete_sessions,
         CAST(sum(is_exit) AS BIGINT) AS exit_sessions,
         CAST(sum(CASE WHEN session_state = 'IN_PROGRESS' THEN 1 ELSE 0 END) AS BIGINT) AS in_progress_sessions,
         CASE WHEN count(max_value) > 0 THEN round(sum(CAST(floor((max_value) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(max_value), 2) END AS avg_max_value,
         round(sum(duration_ms) / CAST(count(duration_ms) AS DOUBLE), 2) AS avg_duration_ms,
         round(sum(CASE WHEN duration_ms <= 10000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 2) AS bounce_ratio,
         count(DISTINCT entry_event_type) AS unique_entry_types,
         count(DISTINCT CASE WHEN is_complete = 1 THEN session_id END) AS completed_session_cnt
  FROM sessions
  GROUP BY datetime, user_id
),
core2 AS (
  SELECT *,
         CASE WHEN total_sessions > 0 THEN round(complete_sessions / CAST(total_sessions AS DOUBLE), 2) END AS completion_rate,
         CASE WHEN total_sessions > 0 THEN round(exit_sessions / CAST(total_sessions AS DOUBLE), 2) END AS exit_rate,
         CASE WHEN total_sessions >= 2 THEN 1 ELSE 0 END AS multi_session_flag
  FROM core
),
ret AS (
  SELECT datetime, user_id,
         round(coalesce(sum(return_interval_ms) / 1000.0 / count(return_interval_ms), 0.0), 2) AS avg_return_interval_s
  FROM (
    SELECT datetime, user_id,
           greatest(epoch_ms(start_time) - epoch_ms(lag(end_time) OVER (
               PARTITION BY user_id ORDER BY start_time, session_id)), 0) AS return_interval_ms
    FROM sessions
  )
  GROUP BY datetime, user_id
),
rep AS (
  SELECT datetime, user_id, CAST(sum(repeat_cnt) AS BIGINT) AS repeat_purchase_cnt
  FROM (
    SELECT CAST(ts AS DATE) AS datetime, user_id,
           CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS item_k,
           greatest(count(*) - 1, 0) AS repeat_cnt
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1, 2, 3
  )
  GROUP BY datetime, user_id
)
SELECT c.*,
       coalesce(r.avg_return_interval_s, 0.0) AS avg_return_interval_s,
       coalesce(p.repeat_purchase_cnt, 0) AS repeat_purchase_cnt
FROM core2 c
LEFT JOIN ret r USING (datetime, user_id)
LEFT JOIN rep p USING (datetime, user_id)
"""

ORACLES["item_daily"] = _ITEM_EVENTS_CTE + """
, g AS (
  SELECT datetime, item_k,
         count(*) AS n_events,
         count(DISTINCT user_id) AS unique_users,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
         CASE WHEN count(value) > 0 THEN round(sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(value), 2) END AS avg_value,
         coalesce(CASE WHEN count(CASE WHEN event_type = 'error' THEN value END) > 0 THEN round(sum(CAST(floor((CASE WHEN event_type = 'error' THEN value END) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(CASE WHEN event_type = 'error' THEN value END), 2) END, 0.0) AS error_value_point,
         coalesce(CAST(sum(CASE WHEN value >= 0.0 AND value < 40.0 THEN 1 END) AS BIGINT), 0) AS value_bucket_1,
         coalesce(CAST(sum(CASE WHEN value >= 40.0 AND value < 80.0 THEN 1 END) AS BIGINT), 0) AS value_bucket_2,
         coalesce(CAST(sum(CASE WHEN value >= 80.0 AND value < 120.0 THEN 1 END) AS BIGINT), 0) AS value_bucket_3,
         coalesce(CAST(sum(CASE WHEN value >= 120.0 AND value < 160.0 THEN 1 END) AS BIGINT), 0) AS value_bucket_4,
         coalesce(CAST(sum(CASE WHEN value >= 160.0 THEN 1 END) AS BIGINT), 0) AS value_bucket_5
  FROM ev
  GROUP BY datetime, item_k
)
SELECT *,
       CASE WHEN n_events > 0 THEN round(purchases / CAST(n_events AS DOUBLE), 2) END AS purchase_rate,
       CASE WHEN n_events > 0 THEN round(errors / CAST(n_events AS DOUBLE), 2) END AS error_rate
FROM g
"""

ORACLES["item_continuation"] = _ITEM_EVENTS_CTE + """
, base AS (
  SELECT DISTINCT datetime, item_k, CAST(item_k AS VARCHAR) AS item_s, user_id
  FROM ev WHERE event_type = 'purchase'
),
flagged AS (
  SELECT *,
         CASE WHEN lead(item_s) OVER (PARTITION BY datetime, user_id ORDER BY item_s ASC NULLS LAST) IS NOT NULL
              THEN 1 ELSE 0 END AS continued
  FROM base
),
g AS (
  SELECT datetime, item_k,
         count(DISTINCT user_id) AS unique_users,
         count(DISTINCT CASE WHEN continued = 1 THEN user_id END) AS continuing_users
  FROM flagged GROUP BY datetime, item_k
)
SELECT *,
       CASE WHEN unique_users > 0 THEN round(continuing_users / CAST(unique_users AS DOUBLE), 2) END AS continuation_index
FROM g
"""

ORACLES["entry_type_daily"] = _SESSIONS_CTE + """
, g AS (
  SELECT datetime, entry_event_type,
         count(*) AS total_sessions,
         CAST(sum(is_complete) AS BIGINT) AS complete_sessions,
         CAST(sum(is_exit) AS BIGINT) AS exit_sessions,
         CAST(sum(CASE WHEN session_state = 'IN_PROGRESS' THEN 1 ELSE 0 END) AS BIGINT) AS in_progress_sessions,
         count(DISTINCT user_id) AS unique_users,
         count(DISTINCT CASE WHEN is_complete = 1 THEN user_id END) AS unique_complete_users,
         count(DISTINCT CASE WHEN is_exit = 1 THEN user_id END) AS unique_exit_users,
         CASE WHEN count(max_value) > 0 THEN round(sum(CAST(floor((max_value) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(max_value), 2) END AS avg_max_value,
         round(sum(duration_ms) / CAST(count(duration_ms) AS DOUBLE), 2) AS avg_duration_ms,
         round(sum(CASE WHEN duration_ms <= 10000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 2) AS bounce_ratio,
         CASE WHEN count(CASE WHEN is_exit = 1 THEN max_value END) > 0 THEN round(sum(CAST(floor((CASE WHEN is_exit = 1 THEN max_value END) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(CASE WHEN is_exit = 1 THEN max_value END), 2) END AS exit_value_point,
         CAST(sum(CASE WHEN session_state = 'TIMEOUT_EXIT' THEN 1 ELSE 0 END) AS BIGINT) AS timeout_exit_sessions
  FROM sessions
  GROUP BY datetime, entry_event_type
)
SELECT *,
       CASE WHEN total_sessions > 0 THEN round(complete_sessions / CAST(total_sessions AS DOUBLE), 2) END AS completion_rate,
       CASE WHEN total_sessions > 0 THEN round(exit_sessions / CAST(total_sessions AS DOUBLE), 2) END AS exit_rate,
       CASE WHEN total_sessions > 0 THEN round(timeout_exit_sessions / CAST(total_sessions AS DOUBLE), 2) END AS timeout_exit_rate
FROM g
"""

ORACLES["top_item_per_day"] = ORACLES["item_daily"].replace(
    "SELECT *,\n       CASE WHEN n_events > 0 THEN round(purchases / CAST(n_events AS DOUBLE), 2) END AS purchase_rate,\n       CASE WHEN n_events > 0 THEN round(errors / CAST(n_events AS DOUBLE), 2) END AS error_rate\nFROM g",
    """SELECT datetime, item_k AS top_item, avg_value AS top_item_avg_value
FROM (SELECT *, row_number() OVER (PARTITION BY datetime ORDER BY avg_value DESC, item_k ASC NULLS LAST) AS rn FROM g)
WHERE rn = 1""")

ORACLES["binge_ratio"] = _ITEM_EVENTS_CTE + """
, per_user AS (
  SELECT datetime, event_type, user_id, count(DISTINCT item_k) AS n_items
  FROM ev GROUP BY datetime, event_type, user_id
),
g AS (
  SELECT datetime, event_type,
         count(DISTINCT user_id) AS unique_users,
         count(DISTINCT CASE WHEN n_items >= 2 THEN user_id END) AS binge_users
  FROM per_user GROUP BY datetime, event_type
)
SELECT *,
       CASE WHEN unique_users > 0 THEN round(binge_users / CAST(unique_users AS DOUBLE), 2) END AS binge_ratio
FROM g
"""

ORACLES["retention_yesterday"] = _SESSIONS_CTE + """
, days AS (SELECT DISTINCT datetime, entry_event_type, user_id FROM sessions),
j AS (
  SELECT y.datetime + 1 AS datetime, y.entry_event_type,
         y.user_id AS y_user, t.user_id AS t_user
  FROM days y
  LEFT JOIN days t
    ON t.entry_event_type = y.entry_event_type
   AND t.user_id = y.user_id
   AND t.datetime = y.datetime + 1
),
g AS (
  SELECT datetime, entry_event_type,
         count(DISTINCT y_user) AS yesterday_users,
         count(DISTINCT t_user) AS retained_users
  FROM j GROUP BY datetime, entry_event_type
)
SELECT *,
       CASE WHEN yesterday_users > 0 THEN round(retained_users / CAST(yesterday_users AS DOUBLE), 2) END AS retention_rate
FROM g
"""

ORACLES["retention_today"] = _SESSIONS_CTE + """
, days AS (SELECT DISTINCT datetime, entry_event_type, user_id FROM sessions),
j AS (
  SELECT t.datetime, t.entry_event_type,
         t.user_id AS t_user, y.user_id AS y_user
  FROM days t
  LEFT JOIN days y
    ON y.entry_event_type = t.entry_event_type
   AND y.user_id = t.user_id
   AND y.datetime = t.datetime - 1
),
g AS (
  SELECT datetime, entry_event_type,
         count(DISTINCT t_user) AS today_users,
         count(DISTINCT y_user) AS returning_users
  FROM j GROUP BY datetime, entry_event_type
)
SELECT *,
       today_users - returning_users AS new_users,
       CASE WHEN today_users > 0 THEN round(returning_users / CAST(today_users AS DOUBLE), 2) END AS returning_ratio,
       CASE WHEN today_users > 0 THEN round((today_users - returning_users) / CAST(today_users AS DOUBLE), 2) END AS new_ratio
FROM g
"""

ORACLES["cohort_vs_global"] = _SESSIONS_CTE + """
, per AS (
  SELECT datetime, CAST(user_id % 5 AS INTEGER) AS cohort,
         count(*) AS total_sessions,
         count(DISTINCT user_id) AS unique_users,
         CAST(sum(is_complete) AS BIGINT) AS complete_sessions,
         CASE WHEN count(max_value) > 0 THEN round(sum(CAST(floor((max_value) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(max_value), 2) END AS avg_max_value,
         round(sum(duration_ms) / CAST(count(duration_ms) AS DOUBLE), 2) AS avg_duration_ms
  FROM sessions GROUP BY 1, 2
),
per2 AS (
  SELECT *,
         CASE WHEN total_sessions > 0 THEN round(complete_sessions / CAST(total_sessions AS DOUBLE), 2) END AS completion_rate,
         CASE WHEN unique_users > 0 THEN round(total_sessions / CAST(unique_users AS DOUBLE), 2) END AS sessions_per_user
  FROM per
),
glb AS (
  SELECT datetime,
         CASE WHEN sum(total_sessions) > 0 THEN round(sum(complete_sessions) / CAST(sum(total_sessions) AS DOUBLE), 2) END AS global_completion_rate,
         CASE WHEN sum(total_sessions) > 0 THEN round(sum(CAST(floor(avg_max_value * 100.0 + 0.5) AS BIGINT) * total_sessions) / 100.0 / sum(total_sessions), 2) END AS global_avg_max_value,
         CASE WHEN sum(total_sessions) > 0 THEN round(sum(CAST(floor(avg_duration_ms * 100.0 + 0.5) AS BIGINT) * total_sessions) / 100.0 / sum(total_sessions), 2) END AS global_avg_duration_ms
  FROM per2 GROUP BY datetime
)
SELECT p.*,
       g.global_completion_rate, g.global_avg_max_value, g.global_avg_duration_ms,
       round(p.completion_rate - g.global_completion_rate, 2) AS completion_gap,
       CASE WHEN g.global_completion_rate > 0 THEN round(p.completion_rate / g.global_completion_rate, 2) END AS completion_index,
       round(p.avg_duration_ms - g.global_avg_duration_ms, 2) AS duration_gap
FROM per2 p LEFT JOIN glb g USING (datetime)
"""

def _gap_cols() -> str:
    """Leave-one-out gap window columns mirroring
    operators/metrics.dimension_gap_features over dims
    (entry_event_type, cohort)."""
    out = []
    dims = ["entry_event_type", "cohort"]
    for left_out in dims:
        others = [d for d in dims if d != left_out]
        part = ", ".join(["datetime"] + others)
        for metric in ("completion_rate", "avg_duration_ms"):
            out.append(
                f"round(max({metric}) OVER (PARTITION BY {part}) - "
                f"min({metric}) OVER (PARTITION BY {part}), 2) "
                f"AS {metric}_gap_across_{left_out}")
    return ",\n       ".join(out)


ORACLES["dim_gap_features"] = _SESSIONS_CTE + f"""
, base AS (
  SELECT datetime, entry_event_type, CAST(user_id % 3 AS INTEGER) AS cohort,
         count(*) AS total_sessions,
         CASE WHEN count(*) > 0
              THEN round(CAST(sum(is_complete) AS BIGINT)
                         / CAST(count(*) AS DOUBLE), 2) END AS completion_rate,
         round(sum(duration_ms) / CAST(count(duration_ms) AS DOUBLE), 2) AS avg_duration_ms
  FROM sessions GROUP BY 1, 2, 3
)
SELECT *,
       {_gap_cols()}
FROM base
"""

ORACLES["dedup_latest"] = """
SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
"""

ORACLES["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_qty,
       round(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_base_price,
       round(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS BIGINT)) / 10000.0, 2) AS sum_disc_price,
       round(sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 2) AS sum_charge,
       CASE WHEN count(l_quantity) > 0 THEN round(sum(CAST(floor((l_quantity) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(l_quantity), 2) END AS avg_qty,
       CASE WHEN count(l_extendedprice) > 0 THEN round(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(l_extendedprice), 2) END AS avg_price,
       CASE WHEN count(l_discount) > 0 THEN round(sum(CAST(floor((l_discount) * 100.0 + 0.5) AS BIGINT)) / 100.0 / count(l_discount), 4) END AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["revenue_by_nation"] = """
SELECT r_name, n_name,
       round(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS BIGINT)) / 10000.0, 2) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY r_name, n_name
"""

ORACLES["promo_revenue"] = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       round(sum(CASE WHEN p_type = 'PROMO'
                      THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                      * 10000.0 + 0.5) AS BIGINT)
                      ELSE 0 END) / 10000.0, 2) AS promo_revenue,
       round(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                            * 10000.0 + 0.5) AS BIGINT)) / 10000.0, 2)
         AS total_revenue,
       CAST((sum(CASE WHEN p_type = 'PROMO'
                      THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                      * 10000.0 + 0.5) AS BIGINT)
                      ELSE 0 END) * 10000)
            // sum(CAST(floor(l_extendedprice * (1 - l_discount)
                              * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS promo_bp
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <= TIMESTAMP '1996-12-31 23:59:59'
GROUP BY 1
"""

ORACLES["volume_shipping"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       round(sum(CAST(floor((l_extendedprice * (1 - l_discount))
                            * 10000.0 + 0.5) AS BIGINT)) / 10000.0, 2)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""

ORACLES["large_volume_orders"] = """
WITH big AS (
  SELECT l_orderkey,
         round(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT))
               / 100.0, 2) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum_qty > 250)
SELECT c_name, c_custkey, o_orderkey,
       epoch_ms(o_orderdate) AS o_orderdate_ms, o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""

# the literal correlated-EXISTS form the Spark side decorrelates into
# one groupBy(l_orderkey); granularity of numwait = qualifying RETURNED
# LINES (the outer query's row), n_orders = distinct qualifying orders
ORACLES["sole_return_supplier"] = """
SELECT s.s_suppkey, s.s_name,
       CAST(count(*) AS BIGINT) AS numwait,
       CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS n_orders
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1, 2
"""

ORACLES["idle_customer_balance"] = """
WITH t AS (
  SELECT sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS sum_c,
         count(*) AS n_c
  FROM customer WHERE c_acctbal > 0)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
             / 100.0, 2) AS total_acctbal
FROM customer c
CROSS JOIN t
JOIN nation ON c_nationkey = n_nationkey
WHERE CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) * n_c > sum_c
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1
"""

ORACLES["top_revenue_supplier"] = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(floor(l_extendedprice * (1 - l_discount)
                        * 10000.0 + 0.5) AS BIGINT)) AS rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <= TIMESTAMP '1996-03-31 23:59:59'
  GROUP BY 1)
SELECT s_suppkey, s_name, round(rev_c / 10000.0, 2) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_c = (SELECT max(rev_c) FROM rev)
"""

# the literal correlated EXISTS-with-GROUP-BY the Spark side
# decorrelates into one (part, supplier) aggregate + semi joins
ORACLES["bulk_part_suppliers"] = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM lineitem l JOIN part p ON l_partkey = p_partkey
  WHERE l.l_suppkey = s.s_suppkey AND p.p_name LIKE '%widget%'
  GROUP BY l.l_partkey
  HAVING sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) > 5000)
"""

# Q17-shape: the correlated 0.2*avg predicate in cross-multiplied
# integer form (5 * qty_c * cnt < sum_c) on BOTH sides
ORACLES["small_quantity_revenue"] = """
WITH f AS (
  SELECT l_partkey, p_brand,
         CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qty_c,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS price_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN ('Brand#13', 'Brand#19', 'Brand#22',
                    'Brand#25', 'Brand#7')
),
s AS (SELECT l_partkey, sum(qty_c) AS sum_q, count(*) AS cnt
      FROM f GROUP BY 1)
SELECT CASE WHEN GROUPING(p_brand) = 1 THEN 'ALL' ELSE p_brand END
         AS brand,
       round(sum(price_c) / 700.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lines
FROM f JOIN s USING (l_partkey)
WHERE 5 * qty_c * cnt < sum_q
GROUP BY ROLLUP(p_brand)
HAVING count(*) > 0
"""

ORACLES["bracket_revenue"] = """
SELECT round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0
                            + 0.5) AS BIGINT)) / 10000.0, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 40
       AND l_quantity BETWEEN 25 AND 50)
"""

ORACLES["discount_band_revenue"] = """
WITH f AS (
  SELECT CAST(floor(l_discount * 10000.0 + 0.5) AS BIGINT) // 100
           AS band_pct,
         CAST(floor(l_extendedprice * l_discount * 10000.0
                    + 0.5) AS BIGINT) AS rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <= TIMESTAMP '1995-12-31 23:59:59'
    AND l_quantity < 24
)
SELECT CAST(CASE WHEN GROUPING(band_pct) = 1 THEN -1
            ELSE band_pct END AS BIGINT) AS band_pct,
       round(sum(rev_c) / 10000.0, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM f GROUP BY ROLLUP(band_pct)
HAVING count(*) > 0
"""
# ^ HAVING: DuckDB materializes the () grouping set over EMPTY input
# as one (-1, NULL, 0) row where Spark's rollup yields zero rows;
# count(*)=0 can only be that artifact, so the HAVING restores
# cross-engine parity without touching real groups (same guard on the
# small_quantity_revenue rollup below).

ORACLES["order_count_distribution"] = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey)
SELECT CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY coalesce(n, 0)
"""

ORACLES["market_share"] = """
WITH f AS (
  SELECT r_name AS market, year(o_orderdate) AS y,
         CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
              AS BIGINT) AS c,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
             AND r_name IN ('AMERICA', 'ASIA', 'EUROPE')
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
)
SELECT market, CAST(y AS BIGINT) AS o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_2' THEN c ELSE 0 END)
             / 10000.0, 2) AS nation_revenue,
       round(sum(c) / 10000.0, 2) AS market_revenue,
       CAST((CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN c ELSE 0 END)
                  AS HUGEINT) * 10000)
            // CAST(sum(c) AS HUGEINT) AS BIGINT) AS mkt_share_bp
FROM f GROUP BY market, y
"""

# cost proxy: p_retailprice * l_quantity stands in for the absent
# partsupp.ps_supplycost — same join/arithmetic shape as TPC-H Q9
ORACLES["product_profit"] = """
SELECT sn.n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0
                            + 0.5) AS BIGINT)
                 - CAST(floor(p_retailprice * l_quantity * 10000.0 + 0.5)
                        AS BIGINT)) / 10000.0, 2) AS profit,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY sn.n_name, year(o_orderdate)
"""

ORACLES["returned_item_customers"] = """
WITH agg AS (
  SELECT o_custkey,
         round(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                              * 10000.0 + 0.5) AS BIGINT)) / 10000.0, 2)
           AS revenue,
         CAST(count(*) AS BIGINT) AS n_return_lines
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1995-10-01'
    AND o_orderdate <= TIMESTAMP '1995-12-31 23:59:59'
  GROUP BY o_custkey
),
top AS (SELECT * FROM agg
        ORDER BY revenue DESC NULLS LAST, o_custkey NULLS LAST LIMIT 20)
SELECT c_custkey, c_name, n_name AS nation,
       round(c_acctbal, 2) AS acctbal, revenue, n_return_lines
FROM top
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
"""


# --- extension-op oracles (documents / embeddings) -------------------------
# Shared primitives mirror operators/dedup.py exactly:
#   hash60(x)  = first 15 md5 hex chars as BIGINT (engine-portable)
#   shingles   = distinct word 3-grams over normalized text

def _h60(x: str) -> str:
    return f"CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

_SHINGLE_CTE = f"""
WITH w AS (
  SELECT doc_id, text,
         string_split({_NORM}, ' ') AS ws
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
             i -> array_to_string(ws[i:i+2], ' '))) AS sset
  FROM w
),
shex AS (SELECT doc_id, unnest(sset) AS shingle FROM sh)
"""

ORACLES["exact_dedup"] = f"""
WITH d AS (SELECT doc_id, md5({_NORM}) AS content_hash FROM documents)
SELECT doc_id, content_hash,
       count(*) OVER (PARTITION BY content_hash) AS dup_count,
       CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY content_hash)
            THEN 1 ELSE 0 END AS keep
FROM d
"""

# per-source dedup dashboard: within-group distinct vs global survivor
# (min doc_id over the GLOBAL hash group); HUGEINT mirrors DECIMAL(38,0)
ORACLES["dedup_rate_report"] = f"""
WITH d AS (SELECT doc_id, source, md5({_NORM}) AS content_hash
           FROM documents),
t AS (SELECT doc_id, source, content_hash,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY
                                                  content_hash)
                  THEN 1 ELSE 0 END AS keep
      FROM d)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT content_hash) AS BIGINT) AS n_unique,
       CAST(sum(keep) AS BIGINT) AS n_global_survivors,
       CAST((CAST(count(*) - count(DISTINCT content_hash) AS HUGEINT)
             * 10000) // count(*) AS BIGINT) AS dup_rate_bp
FROM t
GROUP BY source
"""

_MH_COLS = ",\n       ".join(
    "min({}) AS mh{}".format(_h60("'{}:' || shingle".format(i)), i)
    for i in range(8))

ORACLES["minhash_signatures"] = _SHINGLE_CTE + f"""
SELECT doc_id, {_MH_COLS}
FROM shex GROUP BY doc_id
"""

_SIG_CTE = _SHINGLE_CTE + f""",
sig AS (SELECT doc_id, {_MH_COLS} FROM shex GROUP BY doc_id)
"""

_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5(CAST(mh{2 * b} AS VARCHAR) || ',' || CAST(mh{2 * b + 1} AS VARCHAR)) AS bucket "
    f"FROM sig"
    for b in range(4))

_AGREE = " + ".join(f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
                    for i in range(8))

ORACLES["minhash_lsh_pairs"] = _SIG_CTE + f""",
bands AS ({_BANDS_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, est_jaccard FROM (
  SELECT doc_a, doc_b, round(({_AGREE}) / 8.0, 2) AS est_jaccard
  FROM pairs
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
)
WHERE est_jaccard >= 0.5
"""

ORACLES["ngram_jaccard_pairs"] = _SHINGLE_CTE + """,
sizes AS (SELECT doc_id, len(sset) AS sz FROM sh),
okp AS (SELECT shingle FROM shex
        GROUP BY shingle HAVING count(*) <= 64),
shc AS (SELECT shex.doc_id, shex.shingle
        FROM shex JOIN okp USING (shingle)),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shc a JOIN shc b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         round(common / CAST(sa.sz + sb.sz - common AS DOUBLE), 2) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
WHERE jaccard >= 0.8
"""

# minhash_accuracy: LSH candidates -> est_bp (agree * 10000/k) vs
# exact_bp ((common * 10000) floor-div union) — all-integer arithmetic,
# candidate-restricted exact side, posting cap mirrored at 64.
ORACLES["minhash_accuracy"] = _SIG_CTE + f""",
bands AS ({_BANDS_SQL}),
cpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
estk AS (
  SELECT doc_a, doc_b, est_bp FROM (
    SELECT doc_a, doc_b, CAST(({_AGREE}) * 1250 AS BIGINT) AS est_bp
    FROM cpairs
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
  ) WHERE est_bp >= 5000
),
cids AS (
  SELECT doc_a AS doc_id FROM estk
  UNION
  SELECT doc_b AS doc_id FROM estk
),
csizes AS (
  SELECT sh.doc_id, len(sset) AS sz FROM sh JOIN cids USING (doc_id)
),
shc0 AS (
  SELECT shex.doc_id, shex.shingle FROM shex JOIN cids USING (doc_id)
),
okp AS (SELECT shingle FROM shc0 GROUP BY shingle HAVING count(*) <= 64),
shc AS (SELECT shc0.doc_id, shc0.shingle FROM shc0 JOIN okp USING (shingle)),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS common
  FROM shc a JOIN shc b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, est_bp,
       exact_bp,
       CAST(abs(est_bp - exact_bp) AS BIGINT) AS err_bp
FROM (
  SELECT e.doc_a, e.doc_b, e.est_bp,
         CAST((COALESCE(c.common, 0) * 10000)
              // (sa.sz + sb.sz - COALESCE(c.common, 0)) AS BIGINT)
           AS exact_bp
  FROM estk e
  LEFT JOIN common c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
  JOIN csizes sa ON sa.doc_id = e.doc_a
  JOIN csizes sb ON sb.doc_id = e.doc_b
)
"""

_SIMHASH_SUMS = ",\n       ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(32))
_SIMHASH_SIG = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for b in range(32))

_SIMHASH_CTE = _SHINGLE_CTE + f""",
hs AS (SELECT doc_id, {_h60('shingle')} AS h FROM shex),
g AS (SELECT doc_id, {_SIMHASH_SUMS} FROM hs GROUP BY doc_id),
sims AS (SELECT doc_id, {_SIMHASH_SIG} AS simhash FROM g)
"""

ORACLES["simhash"] = _SIMHASH_CTE + "SELECT doc_id, simhash FROM sims"

_SIM_BANDS = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {c} AS chunk, (simhash >> {c * 8}) & 255 AS val FROM sims"
    for c in range(4))

ORACLES["simhash_near_pairs"] = _SIMHASH_CTE + f""",
bands AS ({_SIM_BANDS}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming FROM pairs
)
WHERE hamming <= 3
"""


def _lang_sql() -> tuple[str, str]:
    """(hit-count select list, argmax CASE expression) for language ID,
    mirroring operators/text.py LANG_PROFILES + tie-break order."""
    from w_userflow_featurestore_spark.operators.text import LANG_PROFILES
    hits = []
    for lang, prof in LANG_PROFILES.items():
        lst = "[" + ", ".join(f"'{w}'" for w in prof) + "]"
        hits.append(f"len(list_filter(ws, x -> list_contains({lst}, x))) AS hits_{lang}")
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in LANG_PROFILES) + ")"
    pred = "'und'"
    for lang in reversed(list(LANG_PROFILES)):
        pred = (f"CASE WHEN hits_{lang} > 0 AND hits_{lang} = {best} "
                f"THEN '{lang}' ELSE {pred} END")
    return ",\n         ".join(hits), pred


_LANG_HITS, _LANG_PRED = _lang_sql()

_FP5 = ("list_min(list_transform(range(1, greatest(len(ws) - 4, 1) + 1), "
        "i -> " + _h60("array_to_string(ws[i:i+4], ' ')") + "))")

_PROFILE_CTE = f"""
WITH w AS (
  SELECT doc_id, text, {_NORM} AS norm,
         string_split({_NORM}, ' ') AS ws
  FROM documents
),
p AS (
  SELECT doc_id, text, norm, ws, len(ws) AS n_tok,
         {_LANG_HITS}
  FROM w
),
prof AS (
  SELECT doc_id,
         n_tok AS n_tokens_ws,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_tokens_bpe,
         length(text) AS n_chars_raw,
         {_LANG_PRED} AS lang_pred,
         round(0.35 * least(n_tok / 64.0, 1.0)
               + 0.25 * (length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                         / CAST(length(text) AS DOUBLE))
               + 0.25 * (CASE WHEN (length(norm) - (n_tok - 1)) / CAST(n_tok AS DOUBLE) >= 3.0
                               AND (length(norm) - (n_tok - 1)) / CAST(n_tok AS DOUBLE) <= 8.0
                              THEN 1.0 ELSE 0.5 END)
               + 0.15 * least(hits_en * 8.0 / n_tok, 1.0), 2) AS quality,
         {_FP5} AS fingerprint,
         md5(norm) AS content_hash
  FROM p
)
"""

ORACLES["text_profile"] = _PROFILE_CTE + """
SELECT doc_id, n_tokens_ws, n_tokens_bpe, n_chars_raw, lang_pred, quality,
       fingerprint, content_hash
FROM prof
"""

ORACLES["repetition_profile"] = f"""
WITH w AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
ex AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS wd FROM w),
wc AS (SELECT doc_id, max(n) AS n, count(*) AS c
       FROM ex GROUP BY doc_id, wd),
wa AS (SELECT doc_id, max(n) AS n, count(*) AS n_distinct,
              max(c) AS top_w
       FROM wc GROUP BY doc_id),
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, len(ws)),
                     i -> ws[i] || ' ' || ws[i+1])) AS b
       FROM w WHERE len(ws) >= 2),
bc AS (SELECT doc_id, count(*) AS c FROM bg GROUP BY doc_id, b),
ba AS (SELECT doc_id, max(c) AS top_b FROM bc GROUP BY doc_id)
SELECT wa.doc_id,
       CAST(n AS BIGINT) AS n_words,
       CAST(n_distinct AS BIGINT) AS n_distinct_words,
       round(CAST(n_distinct AS DOUBLE) / n, 4) AS distinct_word_ratio,
       round(CAST(top_w AS DOUBLE) / n, 4) AS top_word_frac,
       round(coalesce(CAST(top_b AS DOUBLE) / (n - 1), 0.0), 4)
         AS top_bigram_frac,
       CAST((CAST(top_w AS DOUBLE) / n > 0.2)
            OR (coalesce(CAST(top_b AS DOUBLE) / (n - 1), 0.0) > 0.18)
            OR (CAST(n_distinct AS DOUBLE) / n < 0.3) AS INT)
         AS repetitive
FROM wa LEFT JOIN ba USING (doc_id)
"""

ORACLES["pack_sequences"] = f"""
WITH t AS (
  SELECT doc_id, lang, source,
         CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, lang, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY lang, source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start_offset
  FROM t)
SELECT doc_id, lang, source, n_tokens, start_offset,
       CAST(floor(start_offset / 2048.0) AS BIGINT) AS pack_id,
       CAST(start_offset % 2048 AS BIGINT) AS pack_offset,
       CAST(floor((start_offset + n_tokens - 1) / 2048.0) AS BIGINT)
         - CAST(floor(start_offset / 2048.0) AS BIGINT) + 1
         AS n_packs_spanned
FROM o
"""

ORACLES["above_avg_orders"] = """
WITH a AS (
  SELECT o_custkey,
         sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS s,
         count(*) AS n
  FROM orders GROUP BY o_custkey)
SELECT o_orderkey, o_custkey, o_totalprice,
       round(s / 100.0 / n, 2) AS avg_order_value
FROM orders JOIN a USING (o_custkey)
WHERE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) * n * 2 > s * 3
"""

ORACLES["frequent_tokens"] = f"""
SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
FROM (SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 20
"""

# BPE pair counting: adjacent char pairs of DISTINCT words weighted by
# word frequency (Sennrich et al. 2016's training inner loop)
ORACLES["bpe_pair_counts"] = f"""
WITH wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents)
  WHERE w <> ''
  GROUP BY w),
p AS (
  SELECT substring(w, i, 1) || ' ' || substring(w, i + 1, 1) AS pair,
         freq
  FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM wf)
  WHERE length(w) >= 2)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM p GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT 20
"""


def _bpe_chain_sql(k: int) -> str:
    """Replay bpe_train's merge loop as ``k`` unrolled CTE steps over
    the SAME wrapped-symbol representation (\\x01sym\\x02 via chr(1)/
    chr(2)): per step, pair counts from the symbol string -> 1-row
    argmax with the (count DESC, pair ASC) tie-break -> one LITERAL
    replace() (both engines scan left-to-right non-overlapping = the
    greedy BPE merge order; the wrappers make adjacent matches share
    no characters). An empty argmax (fully fused corpus) passes the
    state through via LEFT JOIN ON TRUE, mirroring the Spark loop's
    early break. The chain carries the original word ``w`` so
    consumers can join encodings back to documents (bpe_encode)."""
    steps = [f"""WITH w0 AS (
  SELECT w,
         regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g')
           AS syms,
         CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w)"""]
    for i in range(1, k + 1):
        steps.append(f""",
p{i} AS (
  SELECT list_extract(sl, j) AS l, list_extract(sl, j + 1) AS r,
         CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT sl, freq, unnest(range(1, len(sl))) AS j
        FROM (SELECT string_split(substring(syms, 2, length(syms) - 2),
                                  chr(2) || chr(1)) AS sl, freq
              FROM w{i - 1}))
  GROUP BY l, r),
b{i} AS (SELECT l, r, n FROM p{i} ORDER BY n DESC, l ASC, r ASC LIMIT 1),
w{i} AS (
  SELECT w, CASE WHEN l IS NULL THEN syms
         ELSE replace(syms,
                      chr(1) || l || chr(2) || chr(1) || r || chr(2),
                      chr(1) || l || r || chr(2)) END AS syms, freq
  FROM w{i - 1} LEFT JOIN b{i} ON TRUE)""")
    return "".join(steps)


def _bpe_merges_oracle_sql(k: int) -> str:
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT 'merge' AS part, CAST({i} AS BIGINT) AS merge_rank,"
        f" l AS left_sym, r AS right_sym, l || r AS merged,"
        f" n AS n_occurrences FROM b{i}"
        for i in range(1, k + 1))
    vocab = f"""SELECT 'vocab' AS part, CAST(NULL AS BIGINT) AS merge_rank,
       CAST(NULL AS VARCHAR) AS left_sym, CAST(NULL AS VARCHAR) AS right_sym,
       s AS merged, CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM (SELECT unnest(string_split(substring(syms, 2, length(syms) - 2),
                                 chr(2) || chr(1))) AS s, freq
      FROM w{k})
GROUP BY s"""
    return (_bpe_chain_sql(k) + "\n" + merge_rows + "\nUNION ALL\n"
            + vocab)


def _bpe_encode_oracle_sql(k: int) -> str:
    """Train via the shared chain, then encode every document at the
    (doc, distinct-word) grain — mirrors operators/text.py bpe_apply."""
    return _bpe_chain_sql(k) + f""",
enc AS (
  SELECT w,
         CAST(len(string_split(substring(syms, 2, length(syms) - 2),
                               chr(2) || chr(1))) AS BIGINT) AS n_syms
  FROM w{k}),
dw AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY doc_id, w)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_words,
       CAST(sum(cnt * n_syms) AS BIGINT) AS n_tokens,
       CAST((CAST(sum(cnt * n_syms) AS HUGEINT) * 10000)
            // sum(cnt) AS BIGINT) AS tokens_per_word_bp
FROM dw JOIN enc USING (w)
GROUP BY doc_id"""


def _bpe_drift_oracle_sql(k_old: int, k_new: int) -> str:
    """Two encodes off ONE unrolled chain: greedy BPE is prefix-stable
    (merge i depends only on merges 1..i-1), so the k_new chain's
    w{k_old} state IS the old tokenizer — exactly how the Spark side
    publishes merges[:k_old] as registry v1."""
    def enc(name: str, state: str) -> str:
        return f"""{name} AS (
  SELECT w,
         CAST(len(string_split(substring(syms, 2, length(syms) - 2),
                               chr(2) || chr(1))) AS BIGINT) AS n_syms
  FROM {state})"""
    return _bpe_chain_sql(k_new) + f""",
{enc("enc_old", f"w{k_old}")},
{enc("enc_new", f"w{k_new}")},
dw AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY doc_id, w),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_words,
         CAST(sum(cnt * enc_old.n_syms) AS BIGINT) AS old_tokens,
         CAST(sum(cnt * enc_new.n_syms) AS BIGINT) AS new_tokens
  FROM dw JOIN enc_old USING (w) JOIN enc_new USING (w)
  GROUP BY doc_id)
SELECT doc_id, n_words, old_tokens, new_tokens,
       CAST((CAST(old_tokens AS HUGEINT) * 10000) // n_words AS BIGINT)
         AS old_bp,
       CAST((CAST(new_tokens AS HUGEINT) * 10000) // n_words AS BIGINT)
         AS new_bp,
       CAST((CAST(old_tokens AS HUGEINT) * 10000) // n_words
            - (CAST(new_tokens AS HUGEINT) * 10000) // n_words
            AS BIGINT) AS drift_bp
FROM per_doc"""


ORACLES["bpe_merges"] = _bpe_merges_oracle_sql(N_BPE_MERGES)
ORACLES["tokenizer_drift"] = _bpe_drift_oracle_sql(N_BPE_MERGES_OLD,
                                                   N_BPE_MERGES)
ORACLES["bpe_encode"] = _bpe_encode_oracle_sql(N_BPE_MERGES)
# the persisted-registry round-trip must be indistinguishable from the
# in-memory encode — same oracle, verbatim, is the contract
ORACLES["bpe_encode_persisted"] = _bpe_encode_oracle_sql(N_BPE_MERGES)

# unigram surprisal in whole bits: floor(log2(N/n_t)) via binary-string
# length — integer-exact, no floating-point log in either engine
ORACLES["token_surprisal"] = f"""
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
    FROM documents)
  WHERE token <> ''),
lm AS (SELECT token, count(*) AS n_t FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_total FROM lm),
bits AS (
  SELECT token,
         CAST(length(format('{{:b}}', n_total // n_t)) - 1 AS BIGINT)
           AS b
  FROM lm CROSS JOIN tot)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(b) AS BIGINT) AS sum_bits,
       round(sum(b) * 1.0 / count(*), 4) AS mean_bits
FROM tok JOIN bits USING (token)
GROUP BY doc_id
"""

# rules-engine verdict: prof supplies quality/lang, the repetition
# CTEs (r-prefixed to avoid _PROFILE_CTE's w/p names) supply the
# unrounded fraction signals; every rule recomputed independently.
# Shared CTE (appends to _PROFILE_CTE) — the verdict query, the
# per-rule rate rollup and the ccnet policy all read `verdict`
_VERDICT_CTES = f"""
rw AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
rex AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS wd FROM rw),
rwc AS (SELECT doc_id, max(n) AS n, count(*) AS c
        FROM rex GROUP BY doc_id, wd),
rwa AS (SELECT doc_id, max(n) AS n, count(*) AS n_distinct,
               max(c) AS top_w
        FROM rwc GROUP BY doc_id),
rbg AS (SELECT doc_id,
               unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i+1])) AS b
        FROM rw WHERE len(ws) >= 2),
rbc AS (SELECT doc_id, count(*) AS c FROM rbg GROUP BY doc_id, b),
rba AS (SELECT doc_id, max(c) AS top_b FROM rbc GROUP BY doc_id),
verdict AS (
  SELECT prof.doc_id,
         CAST(rwa.n AS BIGINT) AS n_words,
         prof.quality,
         prof.lang_pred,
         rwa.n >= 20 AS pass_length,
         CASE WHEN prof.quality IS NULL OR isnan(prof.quality)
              THEN FALSE ELSE prof.quality >= 0.5 END AS pass_quality,
         NOT ((CAST(top_w AS DOUBLE) / rwa.n > 0.2)
              OR (coalesce(CAST(top_b AS DOUBLE) / (rwa.n - 1), 0.0)
                  > 0.18)
              OR (CAST(n_distinct AS DOUBLE) / rwa.n < 0.3))
           AS pass_repetition,
         prof.lang_pred <> 'und' AS pass_lang
  FROM prof JOIN rwa ON prof.doc_id = rwa.doc_id
  LEFT JOIN rba ON prof.doc_id = rba.doc_id)"""

ORACLES["quality_filter_verdict"] = _PROFILE_CTE + "," + _VERDICT_CTES + """
SELECT doc_id, n_words, quality, lang_pred,
       pass_length, pass_quality, pass_repetition, pass_lang,
       (pass_length AND pass_quality AND pass_repetition AND pass_lang)
         AS keep
FROM verdict
"""

# per-rule failure rates + keep rate in exact basis points, grouped by
# the document's source — HUGEINT mirrors the DECIMAL(38,0) widening
ORACLES["quality_rule_report"] = _PROFILE_CTE + "," + _VERDICT_CTES + """
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST((CAST(sum(CASE WHEN NOT pass_length THEN 1 ELSE 0 END)
             AS HUGEINT) * 10000) // count(*) AS BIGINT)
         AS fail_length_bp,
       CAST((CAST(sum(CASE WHEN NOT pass_quality THEN 1 ELSE 0 END)
             AS HUGEINT) * 10000) // count(*) AS BIGINT)
         AS fail_quality_bp,
       CAST((CAST(sum(CASE WHEN NOT pass_repetition THEN 1 ELSE 0 END)
             AS HUGEINT) * 10000) // count(*) AS BIGINT)
         AS fail_repetition_bp,
       CAST((CAST(sum(CASE WHEN NOT pass_lang THEN 1 ELSE 0 END)
             AS HUGEINT) * 10000) // count(*) AS BIGINT)
         AS fail_lang_bp,
       CAST((CAST(sum(CASE WHEN pass_length AND pass_quality
                            AND pass_repetition AND pass_lang
                       THEN 1 ELSE 0 END)
             AS HUGEINT) * 10000) // count(*) AS BIGINT)
         AS keep_bp
FROM verdict v JOIN documents d ON v.doc_id = d.doc_id
GROUP BY d.source
"""


def _dsir_grams_sql(source_sql: str, *cols: str) -> str:
    """Hashed unigram+bigram feature stream for DSIR — the same gram
    construction over a given document source, mirrored from
    operators/sampling.py dsir_importance."""
    sel = ", ".join(cols) + ", " if cols else ""
    return f"""
  SELECT {sel}{_h60("'dsir:' || g")} % 10000 AS f FROM (
    SELECT {sel}unnest(string_split({_NORM}, ' ')) AS g
    FROM ({source_sql})
    UNION ALL
    SELECT {sel}list_extract(ws, i) || ' ' || list_extract(ws, i + 1)
             AS g
    FROM (SELECT {sel}ws, unnest(range(1, len(ws))) AS i
          FROM (SELECT {sel}string_split({_NORM}, ' ') AS ws
                FROM ({source_sql})))
  ) WHERE g <> ''"""


# DSIR importance: signed whole-bit quantization of the smoothed
# target/raw feature-probability log-ratio — lb(num DIV den) -
# lb(den DIV num) with lb(x) = bit-length - 1 (lb(0) = 0); HUGEINT
# mirrors the Spark side's DECIMAL(38,0) widening
_DSIR_SCORE_CTE = f"""
WITH rawg AS ({_dsir_grams_sql("SELECT doc_id, text FROM documents",
                               "doc_id")}),
tg AS ({_dsir_grams_sql(
    "SELECT text FROM documents WHERE lang = 'en'")}),
tc AS (SELECT f, CAST(count(*) AS BIGINT) AS t_f FROM tg GROUP BY f),
rc AS (SELECT f, CAST(count(*) AS BIGINT) AS r_f FROM rawg GROUP BY f),
tt AS (SELECT coalesce(sum(t_f), 0) AS tot_t FROM tc),
rt AS (SELECT coalesce(sum(r_f), 0) AS tot_r FROM rc),
w AS (
  SELECT f,
         CAST((length(format('{{:b}}', CAST(num // den AS BIGINT))) - 1)
              - (length(format('{{:b}}', CAST(den // num AS BIGINT))) - 1)
              AS BIGINT) AS w_bits
  FROM (
    SELECT rc.f,
           CAST(coalesce(t_f, 0) + 1 AS HUGEINT) * (tot_r + 10000)
             AS num,
           CAST(r_f + 1 AS HUGEINT) * (tot_t + 10000) AS den
    FROM rc LEFT JOIN tc USING (f), tt, rt)),
dsir_scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(w_bits) AS BIGINT) AS score_bits
  FROM rawg JOIN w USING (f)
  GROUP BY doc_id)"""

ORACLES["dsir_importance"] = _DSIR_SCORE_CTE + """
SELECT doc_id, n_feats, score_bits FROM dsir_scored
"""

# the selection half: DuckDB states the top-k SEMANTIC directly
# (ORDER BY score DESC, doc_id LIMIT k) — exactly what the Spark
# side's histogram-threshold plan must reproduce without the sort
ORACLES["dsir_select"] = _DSIR_SCORE_CTE + f"""
SELECT doc_id, n_feats, score_bits FROM dsir_scored
ORDER BY score_bits DESC, doc_id
LIMIT {N_DSIR_BUDGET}
"""

# the token-budget variant: keep while the cumulative token count
# BEFORE the doc (importance order) is under the budget — stated
# directly as a cumulative window over (score DESC, doc_id)
ORACLES["dsir_select_tokens"] = _DSIR_SCORE_CTE + f""",
dsir_tok AS (
  SELECT s.doc_id, s.n_feats, s.score_bits,
         CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens
  FROM dsir_scored s JOIN documents USING (doc_id)),
dsir_cum AS (
  SELECT doc_id, n_feats, score_bits, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                 ORDER BY score_bits DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM dsir_tok)
SELECT doc_id, n_feats, score_bits, n_tokens
FROM dsir_cum
WHERE cum_before < {N_DSIR_BUDGET_TOKENS}
"""

# bigram LM surprisal: bits = floor(log2(c1/c2)) via binary-string
# length — same integer-exact treatment as token_surprisal; bigrams
# from the word array by index, pairs with an empty side dropped
ORACLES["bigram_surprisal"] = f"""
WITH arr AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws
             FROM documents),
big AS (
  SELECT doc_id, list_extract(ws, i) AS w1, list_extract(ws, i + 1) AS w2
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM arr)
  WHERE list_extract(ws, i) <> '' AND list_extract(ws, i + 1) <> ''),
uni AS (
  SELECT w1, count(*) AS c1 FROM (
    SELECT unnest(string_split({_NORM}, ' ')) AS w1 FROM documents)
  WHERE w1 <> '' GROUP BY w1),
lm2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
bits AS (
  SELECT w1, w2,
         CAST(length(format('{{:b}}', c1 // c2)) - 1 AS BIGINT) AS b
  FROM lm2 JOIN uni USING (w1))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(b) AS BIGINT) AS sum_bits,
       round(sum(b) * 1.0 / count(*), 4) AS mean_bits
FROM big JOIN bits USING (w1, w2)
GROUP BY doc_id
"""

# CCNet head/middle/tail: value thresholds from a (lang, score)
# histogram; ceilings as (n + 2) // 3 with POSITIVE operands only
# (Spark DIV truncates, DuckDB // floors — they diverge on negatives)
_CCNET_CTES = f"""tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
    FROM documents)
  WHERE token <> ''),
lm AS (SELECT token, count(*) AS n_t FROM tok GROUP BY token),
tottok AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_total FROM lm),
tbits AS (
  SELECT token,
         CAST(length(format('{{:b}}', n_total // n_t)) - 1 AS BIGINT)
           AS b
  FROM lm CROSS JOIN tottok),
ts AS (
  SELECT doc_id, round(sum(b) * 1.0 / count(*), 4) AS mean_bits
  FROM tok JOIN tbits USING (token) GROUP BY doc_id),
scored AS (
  SELECT d.doc_id, d.lang, t.mean_bits
  FROM ts t JOIN documents d ON t.doc_id = d.doc_id),
hist AS (SELECT lang, mean_bits, count(*) AS n
         FROM scored GROUP BY lang, mean_bits),
cum AS (
  SELECT lang, mean_bits,
         sum(n) OVER (PARTITION BY lang ORDER BY mean_bits) AS c,
         sum(n) OVER (PARTITION BY lang) AS tot
  FROM hist),
thr AS (
  SELECT lang,
         min(CASE WHEN c >= (tot + 2) // 3 THEN mean_bits END) AS t1,
         min(CASE WHEN c >= (2 * tot + 2) // 3 THEN mean_bits END) AS t2
  FROM cum GROUP BY lang),
bucketed AS (
  SELECT doc_id, lang, mean_bits,
         CASE WHEN mean_bits <= t1 THEN 'head'
              WHEN mean_bits <= t2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM scored JOIN thr USING (lang))"""

ORACLES["perplexity_buckets"] = "WITH " + _CCNET_CTES + """
SELECT doc_id, lang, mean_bits, bucket FROM bucketed
"""

# the CCNet POLICY: verdict rules AND bucket admission — head outright,
# middle hash-sampled at 500/1000 (same md5 family as the Spark side's
# hash_bucket(doc_id, 1000, 'ccnet')), tail dropped
ORACLES["ccnet_curate"] = (_PROFILE_CTE + "," + _VERDICT_CTES + ","
                           + _CCNET_CTES) + f"""
SELECT b.doc_id, b.lang, b.mean_bits, b.bucket
FROM bucketed b JOIN verdict v ON b.doc_id = v.doc_id
WHERE (v.pass_length AND v.pass_quality AND v.pass_repetition
       AND v.pass_lang)
  AND (b.bucket = 'head'
       OR (b.bucket = 'middle'
           AND {_h60("'ccnet:' || CAST(b.doc_id AS VARCHAR)")} % 1000
               < 500))
"""

ORACLES["source_balanced_sample"] = f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n,
               CAST(count(*) AS BIGINT) AS n_sources FROM counts),
rates AS (
  SELECT source,
         least(CAST(1000 AS BIGINT),
               CAST(floor(1000 * total_n / (n_sources * n)) AS BIGINT))
           AS keep_bp
  FROM counts, tot)
SELECT doc_id, source
FROM documents JOIN rates USING (source)
WHERE {_h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000 < keep_bp
"""

ORACLES["corpus_shuffle"] = f"""
WITH h AS (
  SELECT doc_id,
         {_h60("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS hh
  FROM documents)
SELECT doc_id, CAST(hh % 16 AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY hh % 16
                               ORDER BY hh, doc_id) AS BIGINT)
         AS shard_pos
FROM h
"""

ORACLES["token_budget_mix"] = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens,
         {_h60("'mixfill:' || CAST(doc_id AS VARCHAR)")} AS hh
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                 PARTITION BY source ORDER BY hh, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM t)
SELECT doc_id, source, n_tokens, cum_before,
       cum_before < (CASE WHEN source = 'src1' THEN 900 ELSE 300 END)
         AS kept
FROM c
"""

# sqrt + multiply are correctly-rounded IEEE-754 double ops, so
# floor(sqrt(n) * 1e6) is bit-identical across engines; every division
# happens AFTER the integer quantization, in exact HUGEINT/DECIMAL
ORACLES["mixture_weights"] = f"""
WITH c AS (
  SELECT source,
         CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS weight_micro
  FROM c),
t AS (SELECT sum(weight_micro) AS tot FROM w)
SELECT source, n_tokens, weight_micro,
       CAST((CAST(weight_micro AS HUGEINT) * 10000) // tot AS BIGINT)
         AS share_bp,
       CAST((CAST(weight_micro AS HUGEINT) * 500000) // tot AS BIGINT)
         AS budget_tokens
FROM w, t
"""

ORACLES["tokenizer_fertility"] = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT) AS n_words,
       CAST(sum(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT)
         AS n_subwords,
       CAST((CAST(sum(len(regexp_extract_all(lower(text),
                          '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS HUGEINT)
             * 10000)
            // sum(len(string_split({_NORM}, ' '))) AS BIGINT)
         AS fertility_bp
FROM documents GROUP BY lang
"""

ORACLES["vocab_coverage"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
toks2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
vocab AS (
  SELECT token, 1 AS _v FROM (
    SELECT token, count(*) AS n FROM toks2 GROUP BY token
    ORDER BY n DESC, token ASC LIMIT 100)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(v._v) AS BIGINT) AS n_covered,
       CAST(floor(count(v._v) * 10000 / count(*)) AS BIGINT) AS coverage_bp
FROM toks2 t LEFT JOIN vocab v USING (token)
GROUP BY doc_id
"""

ORACLES["volume_anomaly"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS datetime, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT datetime, event_type, n_events,
       prev_n_events,
       CAST(floor(n_events * 10000 / prev_n_events) AS BIGINT) AS ratio_bp,
       CASE WHEN prev_n_events IS NULL THEN NULL
            ELSE CAST(floor(n_events * 10000 / prev_n_events) < 5000
                      OR floor(n_events * 10000 / prev_n_events) > 20000
                      AS INT) END AS is_anomaly
FROM (
  SELECT *, lag(n_events) OVER (PARTITION BY event_type
                                ORDER BY datetime) AS prev_n_events
  FROM daily)
"""

_PII_EMAIL = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d -]{7,}\d"

ORACLES["pii_scrub"] = f"""
WITH t0 AS (SELECT doc_id, text AS t FROM documents),
t1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
                AS n_emails,
              regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
       FROM t0),
t2 AS (SELECT doc_id, n_emails,
              CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT)
                AS n_ips,
              regexp_replace(t, '{_PII_IP}', '<IP>', 'g') AS t
       FROM t1),
t3 AS (SELECT doc_id, n_emails, n_ips,
              CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
                AS n_phones,
              regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS t
       FROM t2)
SELECT doc_id, n_emails, n_ips, n_phones, t AS text_clean,
       CAST(n_emails + n_ips + n_phones > 0 AS INT) AS has_pii
FROM t3
"""

ORACLES["corpus_language_stats"] = _PROFILE_CTE + """
SELECT d.lang, lang_pred, count(*) AS n_docs,
       CASE WHEN count(quality) > 0
            THEN round(sum(CAST(floor(quality * 100.0 + 0.5) AS BIGINT)) / 100.0
                       / count(quality), 2) END AS avg_quality,
       CAST(sum(n_tokens_ws) AS BIGINT) AS total_tokens
FROM prof JOIN documents d USING (doc_id)
GROUP BY d.lang, lang_pred
"""

# quantized-embedding primitives (mirror operators/similarity.py: exact
# integer dot products — sums of integral doubles < 2^53 are exact in any
# order, so Spark partial aggregation and DuckDB agree bit-for-bit)
_QVEC = ("list_transform(embedding, "
         "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")


def _qdot(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


_COSINE = (f"round(CAST({_qdot('qv', 'nv')} AS DOUBLE)"
           f" / (sqrt(CAST({_qdot('qv', 'qv')} AS DOUBLE))"
           f" * sqrt(CAST({_qdot('nv', 'nv')} AS DOUBLE))), 4)")

ORACLES["ann_cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS q_id, {_QVEC} AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS n_id, {_QVEC} AS nv FROM embeddings),
scored AS (
  SELECT q_id, n_id, {_COSINE} AS cosine
  FROM c CROSS JOIN q
  WHERE n_id <> q_id
)
SELECT q_id, n_id, cosine, "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS "rank"
  FROM scored)
WHERE "rank" <= 5
"""


# hard negatives: nearest different-label neighbors; IS DISTINCT FROM
# mirrors the Spark side's null-safe label inequality
ORACLES["hard_negatives"] = f"""
WITH q AS (SELECT vec_id AS q_id, label AS q_label, {_QVEC} AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS n_id, label AS n_label, {_QVEC} AS nv
      FROM embeddings),
scored AS (
  SELECT q_id, q_label, n_id, n_label, {_COSINE} AS cosine
  FROM c CROSS JOIN q
  WHERE n_id <> q_id AND n_label IS DISTINCT FROM q_label
)
SELECT q_id, q_label, n_id, n_label, cosine, neg_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, n_id ASC)
                 AS BIGINT) AS neg_rank
  FROM scored)
WHERE neg_rank <= 5
"""

# label-agreement@k: IS NOT DISTINCT FROM mirrors null-safe equality;
# HUGEINT mirrors the DECIMAL(38,0) widening of the bp numerator
ORACLES["knn_label_agreement"] = f"""
WITH q AS (SELECT vec_id AS q_id, label AS q_label, {_QVEC} AS qv
           FROM embeddings WHERE vec_id < 50),
c AS (SELECT vec_id AS n_id, label AS n_label, {_QVEC} AS nv
      FROM embeddings),
scored AS (
  SELECT q_id, q_label, n_id, n_label, {_COSINE} AS cosine
  FROM c CROSS JOIN q
  WHERE n_id <> q_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, n_id ASC) AS rk
    FROM scored)
  WHERE rk <= 10)
SELECT q_id, q_label,
       CAST(count(*) AS BIGINT) AS n_neighbors,
       CAST(sum(CASE WHEN n_label IS NOT DISTINCT FROM q_label
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST((CAST(sum(CASE WHEN n_label IS NOT DISTINCT FROM q_label
                           THEN 1 ELSE 0 END) AS HUGEINT) * 10000)
            // count(*) AS BIGINT) AS agreement_bp
FROM topk
GROUP BY q_id, q_label
"""

ORACLES["hybrid_search"] = f"""
WITH lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_micros DESC, doc_id ASC)
              AS BIGINT) AS rnk
  FROM ({{BM25}})),
q0 AS (SELECT vec_id AS q_id, {_QVEC} AS qv
       FROM embeddings WHERE vec_id = 0),
c0 AS (SELECT vec_id AS n_id, {_QVEC} AS nv FROM embeddings),
scored0 AS (
  SELECT q_id, n_id, {_COSINE} AS cosine
  FROM c0 CROSS JOIN q0 WHERE n_id <> q_id),
sem AS (
  SELECT n_id AS doc_id, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT n_id,
           row_number() OVER (ORDER BY cosine DESC, n_id ASC) AS rnk
    FROM scored0)
  WHERE rnk <= 10),
u AS (
  SELECT doc_id, CAST(floor(1000000000 / (60 + rnk)) AS BIGINT) AS s
  FROM lex
  UNION ALL
  SELECT doc_id, CAST(floor(1000000000 / (60 + rnk)) AS BIGINT) AS s
  FROM sem)
SELECT doc_id, CAST(sum(s) AS BIGINT) AS rrf_nanos,
       CAST(count(*) AS BIGINT) AS n_systems
FROM u GROUP BY doc_id
ORDER BY rrf_nanos DESC, doc_id ASC
LIMIT 10
"""


def _bucket_sql(vec: str, planes: int, table: int = 0) -> str:
    from w_userflow_featurestore_spark.operators.similarity import plane_signs
    terms = []
    for p in range(planes):
        signs = "[" + ", ".join(
            str(s) for s in plane_signs(table * planes + p, 64)) + "]"
        proj = (f"list_sum(list_transform(range(1, 65), "
                f"i -> {vec}[i] * (CAST({signs} AS BIGINT[]))[i]))")
        terms.append(f"(CASE WHEN {proj} > 0 THEN CAST({2 ** p} AS BIGINT) "
                     f"ELSE CAST(0 AS BIGINT) END)")
    return " + ".join(terms)


ORACLES["ann_lsh_bucket"] = f"""
WITH c AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings)
SELECT vec_id, {_bucket_sql('qv', 8)} AS bucket FROM c
"""

_LSH_TABLES = 4
_LSH_BUCKET_COLS_Q = ",\n                  ".join(
    f"{_bucket_sql(_QVEC, 4, t)} AS qb{t}" for t in range(_LSH_TABLES))
_LSH_MATCH = " OR ".join(f"c.qb{t} = q.qb{t}" for t in range(_LSH_TABLES))

# multi-table OR-amplified LSH: candidate iff buckets collide in ANY of
# the 4 independent tables (the Spark side is a (tbl, bucket) equi-join +
# distinct; at DuckDB's fixture scale the OR-filtered cross join is the
# same candidate set)
ORACLES["ann_lsh_topk"] = f"""
WITH q AS (SELECT vec_id AS q_id, {_QVEC} AS qv,
                  {_LSH_BUCKET_COLS_Q}
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS n_id, {_QVEC} AS nv,
                  {_LSH_BUCKET_COLS_Q}
      FROM embeddings),
scored AS (
  SELECT q_id, n_id, {_COSINE} AS cosine
  FROM c CROSS JOIN q
  WHERE n_id <> q_id AND ({_LSH_MATCH})
)
SELECT q_id, n_id, cosine, "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS "rank"
  FROM scored)
WHERE "rank" <= 5
"""


# embedding-cosine near-dup pairs: same 4x4 AND/OR bucket filter as
# ann_lsh_topk, a < b ordering, exact-cosine verify at 0.4
ORACLES["embedding_near_pairs"] = f"""
WITH a AS (SELECT vec_id AS doc_a, {_QVEC} AS qv,
                  {_LSH_BUCKET_COLS_Q.replace('qb', 'ab')}
           FROM embeddings),
b AS (SELECT vec_id AS doc_b, {_QVEC} AS nv,
                  {_LSH_BUCKET_COLS_Q.replace('qb', 'bb')}
      FROM embeddings)
SELECT doc_a, doc_b, cosine FROM (
  SELECT doc_a, doc_b, {_COSINE} AS cosine
  FROM a JOIN b ON a.doc_a < b.doc_b
   AND ({' OR '.join(f'a.ab{t} = b.bb{t}' for t in range(_LSH_TABLES))})
)
WHERE cosine >= 0.4
"""

ORACLES["embedding_dedup"] = f"""
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT doc_b FROM ({ORACLES['embedding_near_pairs']}))
"""

# IVF: centroids = the 8 corpus vectors with smallest md5-hash of
# 'ivf:'||vec_id (mirrors similarity.ivf_fit_centroids), assignment and
# probe = exact integer L2 argmin with (dist, cell) tie-break
_IVF_K, _IVF_NPROBE = 8, 2


def _l2_sql(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(1, 65), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")


def _ivf_topk_sql(nprobe: int) -> str:
    """The IVF top-k oracle chain parametrized by nprobe — shared by
    ann_ivf_topk (nprobe=2), the recall gate, and the recall sweep."""
    return f"""
WITH c AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
cent AS (
  SELECT row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id) - 1
         AS cell, qv AS cv
  FROM c
  QUALIFY row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id)
          <= {_IVF_K}
),
assign AS (
  SELECT vec_id, qv, cell FROM (
    SELECT c.vec_id, c.qv, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_l2_sql('c.qv', 'cent.cv')}, cent.cell)
           AS rn
    FROM c CROSS JOIN cent)
  WHERE rn = 1
),
probe AS (
  SELECT vec_id AS q_id, qv AS pqv, cell FROM (
    SELECT c.vec_id, c.qv, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_l2_sql('c.qv', 'cent.cv')}, cent.cell)
           AS rn
    FROM c CROSS JOIN cent
    WHERE c.vec_id < 5)
  WHERE rn <= {nprobe}
),
scored AS (
  SELECT q_id, n_id, {_COSINE} AS cosine FROM (
    SELECT p.q_id, a.vec_id AS n_id, p.pqv AS qv, a.qv AS nv
    FROM assign a JOIN probe p USING (cell)
    WHERE a.vec_id <> p.q_id)
)
SELECT q_id, n_id, cosine, "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS "rank"
  FROM scored)
WHERE "rank" <= 5
"""


ORACLES["ann_ivf_topk"] = _ivf_topk_sql(_IVF_NPROBE)

# SemDeDup: same deterministic centroid fit + assignment rule as the
# IVF oracle but its own (larger) centroid count; pairs exist only
# within a cell; survivor = no lower-id cell-mate with cosine >=
# threshold
_SEM_K = 16

ORACLES["semantic_dedup"] = f"""
WITH c AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
cent AS (
  SELECT row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id) - 1
         AS cell, qv AS cv
  FROM c
  QUALIFY row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id)
          <= {_SEM_K}
),
assign AS (
  SELECT vec_id, qv, cell FROM (
    SELECT c.vec_id, c.qv, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_l2_sql('c.qv', 'cent.cv')}, cent.cell)
           AS rn
    FROM c CROSS JOIN cent)
  WHERE rn = 1
),
victims AS (
  SELECT DISTINCT b.vec_id AS b_id
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(CAST({_qdot('a.qv', 'b.qv')} AS DOUBLE)
              / (sqrt(CAST({_qdot('a.qv', 'a.qv')} AS DOUBLE))
                 * sqrt(CAST({_qdot('b.qv', 'b.qv')} AS DOUBLE))), 4)
        >= 0.35
)
SELECT vec_id, cell,
       vec_id NOT IN (SELECT b_id FROM victims) AS is_kept
FROM assign
"""

# cluster_balanced_sample: same deterministic centroid fit + nearest-
# cell assignment as the IVF/semantic oracles (hash-least ids as
# centroids, l2 tie-break on cell), then hash-ranked top-5 per cell
ORACLES["cluster_balanced_sample"] = f"""
WITH c AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
cent AS (
  SELECT row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id) - 1
         AS cell, qv AS cv
  FROM c
  QUALIFY row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id)
          <= 8
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_l2_sql('c.qv', 'cent.cv')}, cent.cell)
           AS rn
    FROM c CROSS JOIN cent)
  WHERE rn = 1
),
rk AS (
  SELECT vec_id, cell,
         row_number() OVER (
           PARTITION BY cell
           ORDER BY {_h60("'cbs:' || CAST(vec_id AS VARCHAR)")}, vec_id)
         AS rn,
         count(*) OVER (PARTITION BY cell) AS n
  FROM assign
)
SELECT vec_id, cell, CAST(n AS BIGINT) AS cluster_size,
       rn <= 5 AS sampled
FROM rk
"""

# C4 boilerplate-line rule: trimmed-line occurrence count over the
# corpus via the shared 60-bit hash; survivors rejoin in position order
# duplicate_spans: positional 6-gram postings -> corpus-hot grams ->
# hit positions -> gaps-and-islands span merge. Same normalize/split and
# 60-bit hash as the Spark side; window framing (default RANGE vs rows)
# is equivalent here because pos is unique per doc.
ORACLES["duplicate_spans"] = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws
           FROM documents),
posting AS (
  SELECT doc_id, i AS pos,
         {_h60("array_to_string(ws[i:i+5], ' ')")} AS gh
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 4)) AS i
        FROM w WHERE len(ws) >= 6)
),
hot AS (SELECT gh FROM posting GROUP BY gh HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM posting JOIN hot USING (gh)),
isl AS (SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         IS NULL
                    OR pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) > 6
                    THEN 1 ELSE 0 END AS brk
        FROM hits),
grp AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 5 AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + 6 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_grams
FROM grp GROUP BY doc_id, island
"""

# incremental substring dedup: the ledger path is DEFINED to equal the
# full-corpus run restricted to the batch (gram counts are additive
# across corpus + batch), so the oracle is literally the batch slice of
# the duplicate_spans oracle — any mismatch localizes to the ledger
# probe / hot-set union glue in operators/text.py
ORACLES["incremental_duplicate_spans"] = f"""
SELECT * FROM ({ORACLES['duplicate_spans']}) WHERE doc_id % 2 = 1
"""

# the ExactSubstr REWRITE: every doc reassembled from the complement
# of its duplicate_spans islands (same k=6/min_count=2 CTE chain);
# kept + removed partition the token stream, span-free docs pass
# through whole, fully-duplicated docs survive as ''
ORACLES["span_removed_corpus"] = f"""
WITH spans AS (
  SELECT doc_id, span_start AS s, span_end AS e
  FROM ({ORACLES['duplicate_spans']})
),
w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
cov AS (SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS pos
        FROM spans),
tok AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w),
kept AS (SELECT t.doc_id, t.i, t.ws[t.i] AS tok
         FROM tok t LEFT JOIN cov c
           ON t.doc_id = c.doc_id AND t.i = c.pos
         WHERE c.pos IS NULL),
k2 AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean,
              count(*) AS n_kept
       FROM kept GROUP BY doc_id),
nsp AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
SELECT w.doc_id,
       coalesce(k2.text_clean, '') AS text_clean,
       CAST(len(w.ws) AS BIGINT) AS n_tokens,
       CAST(len(w.ws) - coalesce(k2.n_kept, 0) AS BIGINT)
         AS n_tokens_removed,
       CAST(coalesce(nsp.n_spans, 0) AS BIGINT) AS n_spans_removed
FROM w
LEFT JOIN k2 ON w.doc_id = k2.doc_id
LEFT JOIN nsp ON w.doc_id = nsp.doc_id
"""

# incremental rewrite: the ledger path is DEFINED to equal the
# full-corpus rewrite restricted to the batch (inherited from the
# detect-side additivity of gram counts), so the oracle is literally
# the batch slice of the span_removed_corpus oracle — any mismatch
# localizes to the ledger probe / excise glue in operators/text.py
ORACLES["incremental_span_removed"] = f"""
SELECT * FROM ({ORACLES['span_removed_corpus']}) WHERE doc_id % 2 = 1
"""

ORACLES["line_dedup"] = f"""
WITH ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr
            FROM documents),
ln AS (SELECT doc_id, i AS pos, trim(arr[i + 1]) AS line
       FROM (SELECT doc_id, arr, unnest(range(0, len(arr))) AS i
             FROM ls)),
ne AS (SELECT doc_id, pos, line,
              count(*) OVER (PARTITION BY {_h60('line')}) AS occ
       FROM ln WHERE line <> ''),
kept AS (SELECT doc_id, pos, line FROM ne WHERE occ <= 2),
tot AS (SELECT doc_id, count(*) AS n_tot FROM ln GROUP BY doc_id),
agg AS (SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT agg.doc_id, clean_text,
       CAST(n_kept AS BIGINT) AS n_lines_kept,
       CAST(n_tot - n_kept AS BIGINT) AS n_lines_dropped
FROM agg JOIN tot USING (doc_id)
"""

# recall@5 of the approximate indexes vs brute force, in exact integer
# basis points — composes the three already-oracled ANN subqueries, so a
# recall regression in EITHER engine's pipeline breaks the match; the
# boolean additionally pins the floor
ORACLES["ann_recall_gate"] = f"""
WITH brute AS (SELECT q_id, n_id FROM ({ORACLES['ann_cosine_topk']})),
l AS (SELECT q_id, n_id FROM ({ORACLES['ann_lsh_topk']})),
i AS (SELECT q_id, n_id FROM ({ORACLES['ann_ivf_topk']})),
s AS (SELECT count(*) AS n,
             count(l.n_id) AS lh
      FROM brute LEFT JOIN l USING (q_id, n_id)),
si AS (SELECT count(i.n_id) AS ih
       FROM brute LEFT JOIN i USING (q_id, n_id))
SELECT method, recall_bp, recall_bp >= {ANN_RECALL_FLOOR_BP} AS recall_ok
FROM (
  SELECT 'ivf' AS method,
         CAST(floor(ih * 10000 / n) AS BIGINT) AS recall_bp FROM s, si
  UNION ALL
  SELECT 'lsh' AS method,
         CAST(floor(lh * 10000 / n) AS BIGINT) AS recall_bp FROM s
)
"""

ORACLES["salted_user_agg"] = """
SELECT user_id,
       count(event_id) AS n_events,
       round(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_value,
       max(value) AS max_value,
       min(epoch_ms(ts)) AS first_ts_ms
FROM events
GROUP BY user_id
"""

ORACLES["duration_percentiles"] = _SESSIONS_CTE + """
SELECT datetime,
       count(*) AS n_sessions,
       round(quantile_cont(duration_ms, 0.5), 2) AS p50_ms,
       round(quantile_cont(duration_ms, 0.9), 2) AS p90_ms,
       round(quantile_cont(duration_ms, 0.99), 2) AS p99_ms
FROM sessions GROUP BY datetime
"""

# GK quantile sketch gate, same treatment as cardinality_sketch below:
# the oracle pins exact p50 + rank_err_ok=TRUE
ORACLES["quantile_sketch"] = _SESSIONS_CTE + """
SELECT datetime,
       count(*) AS n_sessions,
       round(quantile_cont(duration_ms, 0.5), 2) AS exact_p50_ms,
       TRUE AS rank_err_ok
FROM sessions GROUP BY datetime
"""

# The sketch estimate itself is engine-specific; the portable contract
# is exact_users + "HLL landed within the 5% band" — the oracle pins
# the band check TRUE, so a degraded sketch hash-mismatches.
ORACLES["cardinality_sketch"] = """
SELECT CAST(ts AS DATE) AS datetime, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS rel_err_ok
FROM events GROUP BY 1, 2
"""

ORACLES["hll_union_rollup"] = """
SELECT event_type,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS rel_err_ok
FROM events GROUP BY event_type
"""

# multimodal fake-decode oracle: the payload is md5-derived, so the
# mapInPandas byte arithmetic is reproducible in pure SQL — the oracle
# checks the Python/Arrow path end-to-end, not just the JVM plan
_MM_BYTE = "CAST('0x' || substr(hh, ({i} - 1) * 2 + 1, 2) AS INT)"
_MM_CHECKSUM = ("list_sum(list_transform(range(1, 33), "
                "i -> CAST('0x' || substr(hh, (i - 1) * 2 + 1, 2) AS INT)))")

_MM_CTE = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         md5(text) || md5(text || ':2') AS hh
  FROM documents
),
decoded AS (
  SELECT media_id, kind,
         32 AS n_bytes,
         CAST(CASE WHEN kind IN ('image', 'video')
              THEN ({_MM_BYTE.format(i=1)} * 256 + {_MM_BYTE.format(i=2)}) % 1024 + 16
              ELSE 0 END AS INT) AS width,
         CAST(CASE WHEN kind IN ('image', 'video')
              THEN ({_MM_BYTE.format(i=3)} * 256 + {_MM_BYTE.format(i=4)}) % 1024 + 16
              ELSE 0 END AS INT) AS height,
         CAST(CASE WHEN kind IN ('audio', 'video')
              THEN ({_MM_BYTE.format(i=5)} * 256 + {_MM_BYTE.format(i=6)}) * 10
              ELSE 0 END AS BIGINT) AS duration_ms,
         CAST({_MM_CHECKSUM} AS BIGINT) AS checksum
  FROM m
)
"""

ORACLES["multimodal_resize"] = _MM_CTE + """
SELECT media_id, width, height,
       CAST(CASE WHEN width <= 224 AND height <= 224 THEN width
                 WHEN width * 224 >= height * 224
                 THEN 224
                 ELSE greatest(1, (width * 224) // height) END AS INT)
         AS out_width,
       CAST(CASE WHEN width <= 224 AND height <= 224 THEN height
                 WHEN width * 224 >= height * 224
                 THEN greatest(1, (height * 224) // width)
                 ELSE 224 END AS INT) AS out_height,
       CAST(width > 224 OR height > 224 AS INT) AS resized,
       CAST(checksum
            + (CASE WHEN width <= 224 AND height <= 224 THEN width
                    WHEN width * 224 >= height * 224 THEN 224
                    ELSE greatest(1, (width * 224) // height) END) * 31
            + (CASE WHEN width <= 224 AND height <= 224 THEN height
                    WHEN width * 224 >= height * 224
                    THEN greatest(1, (height * 224) // width)
                    ELSE 224 END) AS BIGINT) AS resize_checksum
FROM decoded WHERE kind = 'image'
"""

ORACLES["multimodal_audio_windows"] = _MM_CTE + """
SELECT media_id, CAST(window_idx AS INT) AS window_idx,
       CAST(window_idx * 500 AS BIGINT) AS start_ms,
       CAST(least(window_idx * 500 + 1000, duration_ms) AS BIGINT)
         AS end_ms,
       CAST(checksum + window_idx * 500
            + least(window_idx * 500 + 1000, duration_ms) * 7 AS BIGINT)
         AS window_checksum
FROM (
  SELECT media_id, checksum, duration_ms,
         unnest(range(0, CASE WHEN duration_ms <= 1000 THEN 1
                              ELSE (duration_ms - 1000) // 500 + 1
                         END)) AS window_idx
  FROM decoded WHERE kind = 'audio'
)
"""

ORACLES["multimodal_decode"] = _MM_CTE + """
SELECT media_id, kind, n_bytes, width, height, duration_ms, checksum
FROM decoded
"""

ORACLES["multimodal_frames"] = _MM_CTE + """
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(checksum + frame_idx AS BIGINT) AS frame_checksum
FROM (
  SELECT media_id, checksum,
         unnest(range(0, greatest(least(CAST(floor(duration_ms / 1000.0) AS BIGINT), 5), 1))) AS frame_idx
  FROM decoded WHERE kind = 'video'
)
"""


# recursive transitive closure over the (symmetric) near-dup pair graph:
# component = min reachable id; tiny components keep the recursion shallow
ORACLES["dedup_components"] = f"""
WITH RECURSIVE lsh_pairs AS ({ORACLES['minhash_lsh_pairs']}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
  UNION
  SELECT doc_b, doc_a FROM lsh_pairs
),
reach(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON e.s = r.m
)
SELECT n AS doc_id, min(m) AS component,
       CAST(CASE WHEN n = min(m) THEN 1 ELSE 0 END AS INT) AS keep
FROM reach GROUP BY n
"""

# composed oracle: the dedup_components recursive CTE supplies the
# cluster labels; the dataset_split bucket rule is applied to the GROUP
# key — any mismatch localizes to the label-join glue in sampling.py
ORACLES["leakage_safe_split"] = f"""
WITH RECURSIVE lsh_pairs AS ({ORACLES['minhash_lsh_pairs']}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
  UNION
  SELECT doc_b, doc_a FROM lsh_pairs
),
reach(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON e.s = r.m
),
comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
g AS (
  SELECT d.doc_id,
         CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS group_key
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
SELECT doc_id, group_key, bucket,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id, group_key,
         {_h60("'split:' || CAST(group_key AS VARCHAR)")} % 1000
           AS bucket
  FROM g)
"""

# Independent check of the star-collapse equivalence: the Spark side
# extends a corpus component LEDGER with batch pairs; this oracle
# recomputes components twice from scratch — over ALL pairs (the new
# group keys) and over corpus-only pairs (the previous group keys the
# migrated flag compares against).
ORACLES["incremental_leakage_split"] = f"""
WITH RECURSIVE lsh_pairs AS ({ORACLES['minhash_lsh_pairs']}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
  UNION
  SELECT doc_b, doc_a FROM lsh_pairs
),
reach(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON e.s = r.m
),
comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
cedges AS (
  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
  WHERE doc_a % 2 = 0 AND doc_b % 2 = 0
  UNION
  SELECT doc_b, doc_a FROM lsh_pairs
  WHERE doc_a % 2 = 0 AND doc_b % 2 = 0
),
creach(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM cedges)
  UNION
  SELECT r.n, e.d FROM creach r JOIN cedges e ON e.s = r.m
),
ccomp AS (SELECT n AS doc_id, min(m) AS component FROM creach GROUP BY n),
g AS (
  SELECT d.doc_id,
         CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS group_key,
         CAST(coalesce(cc.component, d.doc_id) AS BIGINT) AS prev_gk,
         d.doc_id % 2 = 0 AS in_ledger
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.doc_id
  LEFT JOIN ccomp cc ON d.doc_id = cc.doc_id)
SELECT doc_id, group_key, bucket,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split,
       in_ledger AND prev_gk <> group_key AS migrated
FROM (
  SELECT doc_id, group_key, in_ledger, prev_gk,
         {_h60("'split:' || CAST(group_key AS VARCHAR)")} % 1000
           AS bucket
  FROM g)
"""

# composed oracle: both split labelings re-derived from scratch (doc
# hash rule; component group-key rule), pair cells counted unordered
ORACLES["split_leakage_audit"] = f"""
WITH RECURSIVE lsh_pairs AS ({ORACLES['minhash_lsh_pairs']}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
  UNION
  SELECT doc_b, doc_a FROM lsh_pairs
),
reach(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON e.s = r.m
),
comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
labeled AS (
  SELECT d.doc_id,
         CASE WHEN nb < 800 THEN 'train'
              WHEN nb < 900 THEN 'val' ELSE 'test' END AS naive_split,
         CASE WHEN gb < 800 THEN 'train'
              WHEN gb < 900 THEN 'val' ELSE 'test' END AS safe_split
  FROM (
    SELECT d.doc_id,
           {_h60("'split:' || CAST(d.doc_id AS VARCHAR)")} % 1000 AS nb,
           {_h60("'split:' || CAST(coalesce(c.component, d.doc_id) AS VARCHAR)")}
             % 1000 AS gb
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id) d
),
np AS (
  SELECT 'doc_hash' AS scheme,
         least(a.naive_split, b.naive_split) AS split_a,
         greatest(a.naive_split, b.naive_split) AS split_b,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM lsh_pairs p
  JOIN labeled a ON p.doc_a = a.doc_id
  JOIN labeled b ON p.doc_b = b.doc_id
  GROUP BY 2, 3
),
cp AS (
  SELECT 'cluster' AS scheme,
         least(a.safe_split, b.safe_split) AS split_a,
         greatest(a.safe_split, b.safe_split) AS split_b,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM lsh_pairs p
  JOIN labeled a ON p.doc_a = a.doc_id
  JOIN labeled b ON p.doc_b = b.doc_id
  GROUP BY 2, 3
)
SELECT * FROM np UNION ALL SELECT * FROM cp
"""

ORACLES["training_set"] = """
SELECT s.event_id, s.user_id, epoch_ms(s.ts) AS ts_ms,
       s.value AS label_value,
       epoch_ms(v.ts) AS view_ts_ms, v.value AS value_view,
       epoch_ms(c.ts) AS click_ts_ms, c.value AS value_click,
       epoch_ms(x.ts) AS error_ts_ms, x.value AS value_error
FROM (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase') s
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'view') v
  ON s.user_id = v.user_id AND s.ts >= v.ts
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'click') c
  ON s.user_id = c.user_id AND s.ts >= c.ts
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'error') x
  ON s.user_id = x.user_id AND s.ts >= x.ts
"""

ORACLES["event_transitions"] = """
WITH p AS (
  SELECT CAST(ts AS DATE) AS datetime, user_id,
         event_type AS from_type,
         lead(event_type) OVER (PARTITION BY CAST(ts AS DATE), user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
c AS (
  SELECT datetime, from_type, to_type,
         CAST(count(*) AS BIGINT) AS n_transitions
  FROM p WHERE to_type IS NOT NULL
  GROUP BY datetime, from_type, to_type)
SELECT datetime, from_type, to_type, n_transitions,
       round(CAST(n_transitions AS DOUBLE)
             / sum(n_transitions) OVER (PARTITION BY datetime, from_type),
             4) AS prob
FROM c
"""

# item_pagerank: fixed-iteration integer-quantized PageRank — one CTE
# pair (contribution sum, damped mix) generated per iteration, exactly
# mirroring operators/graph.py's loop. Aggregates are over exact longs,
# so iteration 10's vector is bit-identical in both engines.
def _pagerank_sql(iterations: int = 10, damping: int = 85,
                  scale: int = 10 ** 9) -> str:
    head = f"""
WITH ed AS (
  SELECT prev_k AS src, k AS dst, CAST(count(*) AS BIGINT) AS w FROM (
    SELECT CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS k,
           lag(CAST(regexp_extract(props, '[0-9]+') AS INTEGER))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
    FROM events)
  WHERE prev_k IS NOT NULL
  GROUP BY prev_k, k),
nodes AS (SELECT src AS n FROM ed UNION SELECT dst FROM ed),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM ed
         GROUP BY src),
r0 AS (SELECT n, {scale} // n_nodes AS rq FROM nodes CROSS JOIN nn)"""
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(f""",
s{i} AS (SELECT ed.dst AS n,
                CAST(sum((r.rq * ed.w) // o.outw) AS BIGINT) AS s
         FROM ed JOIN {prev} r ON ed.src = r.n
                 JOIN outw o ON ed.src = o.src
         GROUP BY ed.dst),
r{i} AS (SELECT nodes.n,
                ({100 - damping} * ({scale} // nn.n_nodes)) // 100
                + ({damping} * coalesce(s{i}.s, 0)) // 100 AS rq
         FROM nodes CROSS JOIN nn
         LEFT JOIN s{i} ON nodes.n = s{i}.n)""")
        prev = f"r{i}"
    tail = f"""
SELECT n AS item, rq AS rank_q,
       round(rq / {float(scale)}, 6) AS rank
FROM {prev}
"""
    return head + "".join(steps) + tail


ORACLES["item_pagerank"] = _pagerank_sql(5)

# distribution_drift: per-category chi-square terms from exact integer
# counts — each term's double ops are IEEE-identical in both engines,
# floor-quantized to micro-units, then INTEGER-summed (order-free)
ORACLES["distribution_drift"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS datetime, event_type AS category,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT datetime, CAST(sum(n) AS BIGINT) AS n_day
        FROM daily GROUP BY datetime),
dp AS (SELECT datetime, n_day,
              lag(datetime) OVER (ORDER BY datetime) AS prev_date,
              lag(n_day) OVER (ORDER BY datetime) AS n_prev
       FROM tot),
j AS (SELECT c.datetime, c.category, c.n, dp.n_day, dp.prev_date,
             dp.n_prev, p.n AS n_p
      FROM daily c JOIN dp USING (datetime)
      LEFT JOIN daily p ON p.datetime = dp.prev_date
                       AND p.category = c.category),
pd AS (
  SELECT datetime,
         sum(CASE WHEN n_p IS NOT NULL THEN CAST(floor(
               ((n * 1.0 / n_day - n_p * 1.0 / n_prev)
                * (n * 1.0 / n_day - n_p * 1.0 / n_prev)
                / (n_p * 1.0 / n_prev)) * 1000000.0) AS BIGINT) END)
           AS chi2raw,
         CAST(count(*) AS BIGINT) AS n_categories,
         CAST(sum(CASE WHEN n_p IS NULL AND prev_date IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_categories,
         max(prev_date) AS pdate
  FROM j GROUP BY datetime)
SELECT datetime,
       CASE WHEN pdate IS NULL THEN NULL
            ELSE coalesce(chi2raw, 0) END AS chi2_micro,
       n_categories, n_new_categories,
       CASE WHEN pdate IS NULL THEN NULL
            ELSE CAST(coalesce(chi2raw, 0) > 100000 AS INTEGER) END
         AS is_drift
FROM pd
"""

ORACLES["funnel_daily"] = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS datetime, user_id, event_type, ts, event_id
  FROM events),
w1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS v_ts
  FROM e
  WINDOW w AS (PARTITION BY datetime, user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= v_ts THEN ts END)
            OVER w AS c_ts
  FROM w1
  WINDOW w AS (PARTITION BY datetime, user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= c_ts THEN ts END)
            OVER w AS p_ts
  FROM w2
  WINDOW w AS (PARTITION BY datetime, user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
prog AS (
  SELECT datetime, user_id,
         max(v_ts) AS v, max(c_ts) AS c, max(p_ts) AS p
  FROM w3 GROUP BY datetime, user_id)
SELECT datetime,
       CAST(count(v) AS BIGINT) AS reached_view,
       CAST(count(c) AS BIGINT) AS reached_click,
       CAST(count(p) AS BIGINT) AS reached_purchase,
       CASE WHEN count(v) > 0
            THEN round(CAST(count(c) AS DOUBLE) / count(v), 4) END
         AS conv_view_to_click,
       CASE WHEN count(c) > 0
            THEN round(CAST(count(p) AS DOUBLE) / count(c), 4) END
         AS conv_click_to_purchase,
       CASE WHEN count(v) > 0
            THEN round(CAST(count(p) AS DOUBLE) / count(v), 4) END
         AS conv_overall
FROM prog GROUP BY datetime
"""

ORACLES["bm25_topk"] = f"""
WITH p AS (
  SELECT doc_id,
         len(list_filter(string_split({_NORM}, ' '), w -> w <> '')) AS dl,
         unnest(string_split({_NORM}, ' ')) AS term
  FROM documents),
f AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM p WHERE term IN ('hash', 'join', 'spark', 'vector')
  GROUP BY doc_id, dl, term),
d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM f GROUP BY term),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM (SELECT doc_id,
               len(list_filter(string_split({_NORM}, ' '), w -> w <> '')) AS dl
        FROM documents)),
c AS (
  SELECT doc_id,
         CAST(floor(1000000.0
           * ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                / (CAST(df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(tf AS DOUBLE) * 2.2
              / (CAST(tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
           AS BIGINT) AS c
  FROM f, d, s WHERE f.term = d.term)
SELECT doc_id, CAST(count(*) AS BIGINT) AS matched_terms,
       CAST(sum(c) AS BIGINT) AS score_micros
FROM c GROUP BY doc_id
ORDER BY score_micros DESC, doc_id LIMIT 10
"""

# hybrid_search's lexical arm is the bm25_topk oracle verbatim; the
# placeholder is resolved here because bm25's SQL is defined after the
# hybrid template above
ORACLES["hybrid_search"] = ORACLES["hybrid_search"].replace(
    "{BM25}", ORACLES["bm25_topk"])

ORACLES["asof_features"] = """
SELECT l.event_id, l.ts, l.user_id, l.event_type, l.value,
       r.ts AS last_purchase_ts, r.value AS last_purchase_value
FROM events l ASOF LEFT JOIN
     (SELECT user_id, ts, value FROM events
      WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


ORACLES["interval_features"] = """
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
     e AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
SELECT p.event_id, p.user_id, p.ts,
       count(e.ts) AS n_errors_10m
FROM p LEFT JOIN e
  ON p.user_id = e.user_id
 AND epoch_ms(e.ts) BETWEEN epoch_ms(p.ts) AND epoch_ms(p.ts) + 600000
GROUP BY p.event_id, p.user_id, p.ts
"""


# shared 60-bit hash (spark: conv(substr(md5,1,15),16,10); duckdb below)
_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

ORACLES["dataset_split"] = f"""
SELECT doc_id, lang, bucket,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         {_H60.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 1000
           AS bucket
  FROM documents)
"""

ORACLES["stratified_sample"] = f"""
SELECT event_id, user_id, event_type
FROM (
  SELECT event_id, user_id, event_type,
         {_H60.format(x="'strat:' || CAST(event_id AS VARCHAR)")} % 1000 AS b
  FROM events)
WHERE (event_type = 'view' AND b < 500)
   OR (event_type = 'click' AND b < 100)
   OR (event_type = 'purchase' AND b < 1000)
"""

ORACLES["doc_chunks"] = f"""
WITH w AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws,
         len(string_split({_NORM}, ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id, ws,
         CASE WHEN n <= 64 THEN 1
              ELSE CAST(floor((n - 64 + 47) / 48.0) AS BIGINT) + 1 END
           AS n_chunks
  FROM w)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(len(ws[i * 48 + 1 : i * 48 + 64]) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(ws[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
FROM (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS i FROM c)
"""

ORACLES["salted_join"] = """
SELECT o_orderkey, o_custkey, c_nationkey, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
"""

ORACLES["top_docs_per_source"] = _PROFILE_CTE + """
SELECT doc_id, source, quality, rank_in_source
FROM (
  SELECT d.doc_id, d.source, prof.quality,
         CAST(row_number() OVER (
             PARTITION BY d.source
             ORDER BY prof.quality DESC, d.doc_id ASC) AS BIGINT)
           AS rank_in_source
  FROM prof JOIN documents d USING (doc_id))
WHERE rank_in_source <= 3
"""

ORACLES["time_decay_features"] = """
WITH r AS (SELECT max(CAST(ts AS DATE)) AS ref FROM events),
a AS (
  SELECT user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT)
           >> least(date_diff('day', CAST(ts AS DATE),
                              (SELECT ref FROM r)), 40) AS dec
  FROM events)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(dec) AS BIGINT) AS decayed_value_c
FROM a GROUP BY user_id
"""

ORACLES["behavior_diversity"] = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type)
SELECT user_id,
       CAST(sum(c) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_behaviors,
       round(CAST(sum(c) * sum(c) - sum(c * c) AS DOUBLE)
             / (sum(c) * sum(c)), 4) AS gini_impurity
FROM c GROUP BY user_id
"""

ORACLES["churn_labels"] = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS activity_date FROM events),
n AS (
  SELECT user_id, activity_date,
         date_diff('day', DATE '1970-01-01', activity_date) AS ed
  FROM d)
SELECT user_id, strftime(activity_date, '%Y-%m-%d') AS activity_date,
       CAST(count(*) OVER (
           PARTITION BY user_id ORDER BY ed
           RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING) = 0 AS INT)
         AS churned
FROM n
"""

ORACLES["capped_user_events"] = f"""
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type,
         row_number() OVER (
             PARTITION BY user_id
             ORDER BY {_H60.format(x="'cap:' || CAST(event_id AS VARCHAR)")},
                      event_id) AS rn
  FROM events)
WHERE rn <= 5
"""

ORACLES["weighted_sample"] = _PROFILE_CTE + f"""
SELECT d.doc_id, d.lang, prof.quality
FROM prof JOIN documents d USING (doc_id)
WHERE {_H60.format(x="'wsamp:' || CAST(d.doc_id AS VARCHAR)")} % 1000
      < CAST(floor(prof.quality * 1000 + 0.5) AS BIGINT)
"""

ORACLES["contamination"] = f"""
WITH sp AS ({ORACLES['dataset_split']}),
w AS (
  SELECT d.doc_id, sp.split, string_split({_NORM}, ' ') AS ws
  FROM documents d JOIN sp USING (doc_id)),
sh AS (
  SELECT doc_id, split,
         list_distinct(list_transform(range(1, greatest(len(ws) - 4, 1) + 1),
             i -> array_to_string(ws[i:i+4], ' '))) AS sset
  FROM w),
eg AS (
  SELECT DISTINCT {_H60.format(x="shingle")} AS gh
  FROM (SELECT unnest(sset) AS shingle FROM sh WHERE split = 'test')),
dg AS (
  SELECT doc_id, {_H60.format(x="shingle")} AS gh
  FROM (SELECT doc_id, unnest(sset) AS shingle FROM sh
        WHERE split = 'train'))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS total_ngrams,
       CAST(count(eg.gh) AS BIGINT) AS hit_ngrams,
       round(CAST(count(eg.gh) AS DOUBLE) / count(*), 4)
         AS contamination_ratio,
       CAST(count(eg.gh) >= count(*) * CAST(0.1 AS DOUBLE) AS INT)
         AS contaminated
FROM dg LEFT JOIN eg USING (gh)
GROUP BY doc_id
"""

ORACLES["split_summary"] = f"""
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_rows
FROM ({ORACLES['dataset_split']})
GROUP BY split, lang
"""

_DAY_EVENTS_CTE = """
WITH de AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type AS dim,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events)
"""

ORACLES["event_rollup"] = _DAY_EVENTS_CTE + """
SELECT day, dim, CAST(GROUPING(day, dim) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(cents) / 100.0, 2) AS sum_value
FROM de GROUP BY ROLLUP(day, dim)
"""

ORACLES["event_cube"] = _DAY_EVENTS_CTE + """
SELECT day, dim, CAST(GROUPING(day, dim) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(cents) / 100.0, 2) AS sum_value
FROM de GROUP BY CUBE(day, dim)
"""

ORACLES["event_type_pivot"] = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
       CAST(count(*) AS BIGINT) AS n_total
FROM events GROUP BY user_id
"""

ORACLES["customers_no_orders"] = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
"""

ORACLES["big_spender_customers"] = """
SELECT c_custkey, c_name, c_nationkey
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""

# winnowing: k=8 char-grams, window w=4; same normalize as the Spark side
_WINNOW_SQL = f"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents),
h AS (
  SELECT doc_id,
         CASE WHEN length(t) - 7 >= 1 THEN
           list_transform(generate_series(1, length(t) - 7),
                          i -> {_H60.format(x="substr(t, CAST(i AS INT), 8)")})
         ELSE [{_H60.format(x="t")}] END AS hs
  FROM n)
SELECT doc_id,
       unnest(CASE WHEN len(hs) - 3 >= 1 THEN
                list_distinct(list_transform(
                  generate_series(1, len(hs) - 3),
                  i -> list_min(hs[CAST(i AS INT):CAST(i AS INT) + 3])))
              ELSE [list_min(hs)] END) AS fingerprint
FROM h
"""

ORACLES["doc_fingerprints"] = _WINNOW_SQL

# stop-fingerprint cap mirrors fingerprint_pairs(max_doc_freq=64):
# fingerprints are distinct per doc on both sides (array_distinct /
# list_distinct), so count(*) per fingerprint IS document frequency.
ORACLES["fingerprint_pairs"] = f"""
WITH fp0 AS ({_WINNOW_SQL}),
ok AS (SELECT fingerprint FROM fp0
       GROUP BY fingerprint HAVING count(*) <= 64),
fp AS (SELECT fp0.doc_id, fp0.fingerprint
       FROM fp0 JOIN ok USING (fingerprint))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""

ORACLES["rolling_user_features"] = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS v_cents,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
  FROM events GROUP BY user_id, CAST(ts AS DATE))
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
       CAST(sum(n_events) OVER w AS BIGINT) AS n_events_7d,
       round(sum(v_cents) OVER w / 100.0, 2) AS sum_value_7d,
       CAST(count(*) OVER w AS BIGINT) AS active_days_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

ORACLES["event_time_windows"] = """
SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
       event_type AS dim, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0, 2)
         AS sum_value
FROM events GROUP BY 1, 2
"""

# sliding 1h/30min: each event belongs to starts {floor30(ts)-n*30min}
# for n in {0,1}; epoch integer math = Spark's epoch-aligned windows
ORACLES["event_sliding_windows"] = """
SELECT (epoch_ms(ts) // 1800000) * 1800000 - n * 1800000 AS window_start_ms,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0, 2)
         AS sum_value
FROM events CROSS JOIN (VALUES (0), (1)) s(n)
GROUP BY 1
"""


# gaps-and-islands twin of session_window: break when diff > gap —
# Spark merges windows that touch (next.start <= prev.end, boundary
# INCLUSIVE, pinned by test_session_window_exact_gap_merges); end = last
# event + gap
ORACLES["session_windows"] = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (
                     PARTITION BY user_id ORDER BY ts)) > 1800000
              THEN 1 ELSE 0 END AS brk
  FROM events),
g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
       epoch_ms(max(ts)) + 1800000 AS session_end_ms,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0, 2)
         AS sum_value
FROM g GROUP BY user_id, sid
"""

ORACLES["shipping_priority"] = """
SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
       round(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000.0
                            + 0.5) AS BIGINT)) / 10000.0, 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate_ms, l_orderkey
LIMIT 10
"""

ORACLES["user_cohort_setops"] = """
(SELECT user_id FROM events WHERE event_type = 'purchase'
 UNION
 SELECT user_id FROM events WHERE event_type = 'signup')
INTERSECT
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-24'
"""


# composed oracle: literally the composition of the three stage oracles
# (DuckDB allows WITH inside derived tables) — any mismatch localizes to
# the Spark-side glue in operators/curate.py
ORACLES["incremental_curate"] = f"""
SELECT p.doc_id, p.lang_pred, p.quality, p.n_tokens_ws, p.content_hash
FROM ({ORACLES['text_profile']}) p
WHERE p.doc_id % 2 = 1
  AND p.quality >= 0.5
  AND NOT EXISTS (
    SELECT 1 FROM (SELECT doc_id, md5({_NORM}) AS h FROM documents) b
    WHERE b.h = p.content_hash
      AND (b.doc_id % 2 = 0 OR b.doc_id < p.doc_id))
  AND p.doc_id NOT IN (
    SELECT v FROM (
      SELECT doc_b AS v FROM ({ORACLES['minhash_lsh_pairs']})
      UNION ALL
      SELECT doc_a AS v FROM ({ORACLES['minhash_lsh_pairs']})
      WHERE doc_b % 2 = 0))
"""

ORACLES["curate_corpus"] = f"""
SELECT p.doc_id, p.lang_pred, p.quality, p.n_tokens_ws, p.content_hash
FROM ({ORACLES['text_profile']}) p
JOIN ({ORACLES['exact_dedup']}) d ON d.doc_id = p.doc_id
WHERE d.keep = 1
  AND p.quality >= 0.5
  AND p.doc_id NOT IN (SELECT doc_b FROM ({ORACLES['minhash_lsh_pairs']}))
"""


ORACLES["scd2_history"] = """
WITH obs AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), chg AS (
  SELECT user_id, ts, event_id, event_type
  FROM obs WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type,
       epoch_ms(ts) AS valid_from_ms,
       epoch_ms(lead(ts) OVER w) AS valid_to_ms,
       CAST(row_number() OVER w AS BIGINT) AS version,
       CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
FROM chg
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

ORACLES["feature_backfill"] = """
WITH daily AS (
  SELECT user_id AS key, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS v_cents
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT key, min(day) AS d0 FROM daily GROUP BY 1),
maxd AS (SELECT max(day) AS dmax FROM daily),
grid AS (
  SELECT b.key,
         CAST(unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
                                     CAST(m.dmax AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds b CROSS JOIN maxd m
),
g AS (
  SELECT grid.key, grid.day, daily.n_events, daily.v_cents
  FROM grid LEFT JOIN daily
    ON daily.key = grid.key AND daily.day = grid.day
)
SELECT key AS user_id,
       strftime(day, '%Y-%m-%d') AS day,
       CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
       CAST(coalesce(v_cents, 0) AS BIGINT) AS sum_value_cents,
       CAST(last_value(v_cents IGNORE NULLS) OVER w AS BIGINT)
         AS locf_value_cents,
       CAST(date_diff('day',
                      last_value(CASE WHEN n_events IS NOT NULL
                                      THEN day END IGNORE NULLS) OVER w,
                      day) AS BIGINT) AS days_since_activity
FROM g
WINDOW w AS (PARTITION BY key ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

# hash draw mirrors sampling.negative_samples: 60-bit md5 of
# "neg:user:item:draw" mod |catalog|; k=4 draws, positives anti-joined
ORACLES["negative_samples"] = f"""
WITH ev AS (
  SELECT user_id,
         CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS item_k
  FROM events
),
pos AS (
  SELECT DISTINCT user_id AS u, item_k AS i
  FROM ev WHERE item_k IS NOT NULL
),
bkt AS (
  SELECT i, CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
  FROM (SELECT DISTINCT i FROM pos)
),
ranked AS (
  SELECT i, b,
         CAST(row_number() OVER (PARTITION BY b ORDER BY i) - 1
              AS BIGINT) AS rn
  FROM bkt
),
offs AS (
  SELECT b,
         CAST(coalesce(sum(cnt) OVER (ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM (SELECT b, count(*) AS cnt FROM bkt GROUP BY 1)
),
cat AS (
  SELECT r.i AS cat_item, o.off + r.rn AS idx
  FROM ranked r JOIN offs o USING (b)
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM cat),
draws AS (
  SELECT p.u, p.i, d.draw,
         {_H60.format(x="'neg:' || CAST(p.u AS VARCHAR) || ':' || "
                        "CAST(p.i AS VARCHAR) || ':' || "
                        "CAST(d.draw AS VARCHAR)")} % n.n_items AS idx
  FROM pos p
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS draw) d
  CROSS JOIN n
),
cand AS (
  SELECT draws.u, draws.i, draws.draw, cat.cat_item AS neg
  FROM draws JOIN cat USING (idx)
)
SELECT u AS user_id, i AS item_k, CAST(draw AS BIGINT) AS draw,
       neg AS neg_item_k
FROM cand c
WHERE NOT EXISTS (SELECT 1 FROM pos p2 WHERE p2.u = c.u AND p2.i = c.neg)
"""

ORACLES["behavior_trigrams"] = """
WITH s AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1 || '>' || e2 || '>' || e3 AS path,
       CAST(count(*) AS BIGINT) AS n_paths
FROM s WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1 ORDER BY n_paths DESC, path ASC LIMIT 20
"""

ORACLES["winsorize"] = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS lo,
         quantile_cont(value, 0.99) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       round(least(greatest(e.value, b.lo), b.hi), 2) AS value_w,
       CAST(e.value < b.lo OR e.value > b.hi AS INT) AS clipped
FROM events e JOIN b USING (event_type)
"""

# exact-cents LOO numerator, one mirrored double division chain
ORACLES["target_encode"] = """
WITH c AS (
  SELECT *, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
),
s AS (
  SELECT event_type,
         CAST(sum(cents) AS BIGINT) AS csum,
         CAST(count(*) AS BIGINT) AS cn
  FROM c GROUP BY 1
),
g AS (
  SELECT CAST(sum(cents) AS BIGINT) AS gsum,
         CAST(count(*) AS BIGINT) AS gn
  FROM c
)
SELECT c.event_id, c.event_type,
       round((c2.csum - c.cents
              + CAST(floor(g.gsum / g.gn) AS BIGINT) * 20)
             / (c2.cn - 1 + 20) / 100.0, 2) AS te_event_type
FROM c JOIN s c2 USING (event_type) CROSS JOIN g
"""

ORACLES["attribution"] = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, max(event_id) AS click_id FROM events
  WHERE event_type = 'click' GROUP BY 1, 2
),
j AS (
  SELECT p.event_id, p.user_id, p.ts,
         c.ts AS cts, c.click_id
  FROM p ASOF LEFT JOIN c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
       CASE WHEN cts IS NOT NULL
             AND epoch_ms(ts) - epoch_ms(cts) <= 1800000
            THEN click_id END AS click_event_id,
       CAST(CASE WHEN cts IS NOT NULL
                  AND epoch_ms(ts) - epoch_ms(cts) <= 1800000
                 THEN epoch_ms(ts) - epoch_ms(cts) END AS BIGINT)
         AS latency_ms,
       CAST(cts IS NOT NULL
            AND epoch_ms(ts) - epoch_ms(cts) <= 1800000 AS INT)
         AS attributed
FROM j
"""

ORACLES["item_triangles"] = """
WITH ui AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id,
         CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS i
  FROM events
),
edges AS (
  SELECT DISTINCT l.i AS a, r.i AS b
  FROM ui l JOIN ui r
    ON l.day = r.day AND l.user_id = r.user_id AND l.i < r.i
),
wedge AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
),
tri AS (
  SELECT w.x, w.y, w.z
  FROM wedge w JOIN edges e ON e.a = w.x AND e.b = w.z
),
pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
  GROUP BY 1
),
nodes AS (SELECT a AS node FROM edges UNION SELECT b FROM edges)
SELECT node, CAST(coalesce(n, 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN pn USING (node)
"""

ORACLES["cohort_retention"] = """
WITH days AS (
  SELECT DISTINCT user_id AS key, CAST(ts AS DATE) AS day FROM events
),
firstd AS (SELECT key, min(day) AS cohort_day FROM days GROUP BY 1),
sizes AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
  FROM firstd GROUP BY 1
),
act AS (
  SELECT f.cohort_day,
         date_diff('day', f.cohort_day, d.day) AS day_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM days d JOIN firstd f USING (key)
  GROUP BY 1, 2
)
SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(a.day_offset AS BIGINT) AS day_offset,
       a.n_active, s.cohort_size,
       CAST(floor(a.n_active * 10000 / s.cohort_size) AS BIGINT)
         AS retention_bp
FROM act a JOIN sizes s USING (cohort_day)
"""

# arm = 60-bit md5 of "ab:user" mod 2 (the dataset_split idiom); the z
# statistic mirrors experiment.ab_test_summary's exact op order
ORACLES["ab_test"] = f"""
WITH conv AS (
  SELECT user_id AS uid,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY 1
),
assigned AS (
  SELECT {_H60.format(x="'ab:' || CAST(uid AS VARCHAR)")} % 2 AS arm,
         converted
  FROM conv
),
counts AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 THEN converted END) AS BIGINT)
           AS conv_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 1 THEN converted END) AS BIGINT)
           AS conv_b
  FROM assigned
),
stats AS (
  SELECT *,
         (conv_a + conv_b) / (n_a + n_b) AS p,
         sqrt(((conv_a + conv_b) / (n_a + n_b))
              * (1 - (conv_a + conv_b) / (n_a + n_b))
              * (1.0 / n_a + 1.0 / n_b)) AS se
  FROM counts
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(floor(conv_a / n_a * 10000) AS BIGINT) AS rate_a_bp,
       CAST(floor(conv_b / n_b * 10000) AS BIGINT) AS rate_b_bp,
       CASE WHEN se > 0
            THEN CAST(floor((conv_a / n_a - conv_b / n_b) / se * 1e6)
                      AS BIGINT) END AS z_micro,
       CASE WHEN se > 0
            THEN CAST(floor(abs((conv_a / n_a - conv_b / n_b) / se) * 1e6)
                      >= 1960000 AS INT) END AS significant
FROM stats
"""

ORACLES["order_priority_counts"] = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1995-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY 1 ORDER BY 1
"""

ORACLES["forecast_baseline"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       d.rev_cents,
       p.rev_cents AS forecast_cents,
       CAST(abs(d.rev_cents - p.rev_cents) AS BIGINT) AS abs_err_cents,
       CASE WHEN p.rev_cents > 0
            THEN CAST(floor(abs(d.rev_cents - p.rev_cents) * 10000
                            / p.rev_cents) AS BIGINT) END AS ape_bp
FROM daily d
LEFT JOIN daily p ON p.day = d.day - INTERVAL 7 DAY
"""

ORACLES["user_value_ranks"] = """
WITH daily AS (
  SELECT event_type, user_id,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS v_cents
  FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, v_cents,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS dense_rnk,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       CAST(floor(percent_rank() OVER w * 10000) AS BIGINT)
         AS pct_rank_bp,
       CAST(floor(cume_dist() OVER w * 10000) AS BIGINT)
         AS cume_dist_bp
FROM daily
WINDOW w AS (PARTITION BY event_type
             ORDER BY v_cents DESC, user_id ASC)
"""

ORACLES["rolling_active_users"] = """
WITH pairs AS (
  SELECT DISTINCT user_id AS key, CAST(ts AS DATE) AS day FROM events
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM pairs),
contrib AS (
  SELECT DISTINCT key, w_end FROM (
    SELECT key,
           CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                       CAST(day AS TIMESTAMP)
                                         + INTERVAL 6 DAY,
                                       INTERVAL 1 DAY)) AS DATE) AS w_end
    FROM pairs)
),
dau AS (
  SELECT day AS w_end, CAST(count(*) AS BIGINT) AS n_active_1d
  FROM pairs GROUP BY 1
),
roll AS (
  SELECT w_end, CAST(count(*) AS BIGINT) AS n_active_7d
  FROM contrib GROUP BY 1
)
SELECT strftime(r.w_end, '%Y-%m-%d') AS day,
       CAST(coalesce(d.n_active_1d, 0) AS BIGINT) AS n_active_1d,
       r.n_active_7d,
       CAST(date_diff('day', b.d0, r.w_end) >= 6 AS INT)
         AS is_complete_window
FROM roll r
CROSS JOIN bounds b
LEFT JOIN dau d ON d.w_end = r.w_end
WHERE r.w_end <= b.d1
"""

ORACLES["quality_report"] = """
WITH m AS (
  SELECT
    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m0,
    CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT) AS m1,
    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m2,
    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m3,
    CAST(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END)
         AS BIGINT) AS m4,
    CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                  ('click','error','purchase','signup','view')
             THEN 1 ELSE 0 END) AS BIGINT) AS m5,
    CAST(greatest(1000 - count(*), 0) AS BIGINT) AS m6
  FROM events
)
SELECT 'event_id_not_null' AS rule, 'event_id' AS col,
       m0 AS n_violations, CAST(m0 = 0 AS INT) AS passed FROM m
UNION ALL SELECT 'event_id_unique', 'event_id', m1,
       CAST(m1 = 0 AS INT) FROM m
UNION ALL SELECT 'user_id_not_null', 'user_id', m2,
       CAST(m2 = 0 AS INT) FROM m
UNION ALL SELECT 'ts_not_null', 'ts', m3, CAST(m3 = 0 AS INT) FROM m
UNION ALL SELECT 'value_bounds', 'value', m4,
       CAST(m4 = 0 AS INT) FROM m
UNION ALL SELECT 'event_type_in_set', 'event_type', m5,
       CAST(m5 = 0 AS INT) FROM m
UNION ALL SELECT 'min_rows', '*', m6, CAST(m6 = 0 AS INT) FROM m
"""

# CMS cells mirror sketch.cms_build: 60-bit md5 of "cms:d:token" mod
# width over DISTINCT-token counts; estimates = min over depth rows
ORACLES["frequency_sketch"] = f"""
WITH toks AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents
), live AS (
  SELECT token FROM toks WHERE token <> ''
), tc AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM live GROUP BY token
), dd AS (SELECT unnest(generate_series(0, 3)) AS d),
cells AS (
  SELECT dd.d,
         {_H60.format(x="'cms:' || CAST(dd.d AS VARCHAR) || ':' || "
                        "tc.token")} % 1024 AS cell,
         CAST(sum(tc.n) AS BIGINT) AS n
  FROM tc CROSS JOIN dd GROUP BY 1, 2
), top AS (
  SELECT token, n AS n_occurrences FROM tc
  ORDER BY n DESC, token ASC LIMIT 20
), total AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM live),
probed AS (
  SELECT t.token, t.n_occurrences,
         CAST(min(coalesce(c.n, 0)) AS BIGINT) AS cms_n
  FROM top t CROSS JOIN dd
  LEFT JOIN cells c
    ON c.d = dd.d
   AND c.cell = {_H60.format(x="'cms:' || CAST(dd.d AS VARCHAR) || "
                               "':' || t.token")} % 1024
  GROUP BY 1, 2
)
SELECT p.token, p.n_occurrences, p.cms_n,
       CAST(p.cms_n >= p.n_occurrences
            AND (p.cms_n - p.n_occurrences)
                <= CAST(floor(2.0 * total.n_tok / 1024) AS BIGINT)
            AS INT) AS bound_ok
FROM probed p CROSS JOIN total
"""

ORACLES["key_skew_profile"] = """
WITH counts AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
total AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM counts),
ranked AS (
  SELECT key, n_rows,
         CAST(row_number() OVER (ORDER BY n_rows DESC,
                                 key ASC NULLS FIRST) AS BIGINT) AS rank
  FROM counts
)
SELECT key, n_rows,
       CAST(floor(n_rows * 10000 / t) AS BIGINT) AS share_bp, rank
FROM ranked CROSS JOIN total
WHERE rank <= 20
"""


def _lower_rounds(sql: str) -> str:
    """Rewrite every ``round(expr, n)`` into ``floor((expr)*10^n + 0.5)/10^n``.

    Mirrors functions.fround on the Spark side: native round() differs
    between engines on half-way doubles (Spark rounds the shortest decimal
    representation, DuckDB the binary value), so both sides use the same
    IEEE-exact floor formula.
    """
    out = []
    i = 0
    low = sql.lower()
    while True:
        j = low.find("round(", i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        # find matching close paren
        depth = 0
        k = j + len("round(")
        start = k
        while True:
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            k += 1
        inner = sql[start:k]
        # split off the trailing ", n" scale argument at depth 0
        d = 0
        split_at = None
        for m, ch in enumerate(inner):
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            elif ch == "," and d == 0:
                split_at = m
        expr, scale = inner[:split_at], int(inner[split_at + 1:])
        p = 10 ** scale
        out.append(f"floor(({_lower_rounds(expr)}) * {p} + 0.5) / {p}")
        i = k + 1
    return "".join(out)


# --- text-statistics, data-selection and index-tuning oracles -------------

# TF-IDF keywords: whole-bit IDF = floor(log2(N/df)) via binary-string
# length (token_surprisal's trick on the document-frequency axis)
ORACLES["tfidf_top_terms"] = f"""
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
    FROM documents)
  WHERE token <> ''),
tf AS (SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, token),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
idf AS (
  SELECT term,
         CAST(length(format('{{:b}}', n_docs // df)) - 1 AS BIGINT)
           AS idf_bits
  FROM dfr CROSS JOIN nd),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, idf.idf_bits,
         CAST(tf.tf * idf.idf_bits AS BIGINT) AS score_bits
  FROM tf JOIN idf USING (term))
SELECT doc_id, term, tf, idf_bits, score_bits, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_bits DESC, term ASC)
              AS rank
      FROM scored)
WHERE rank <= 3
"""

# PMI collocations: T summed BEFORE the min_count filter; products in
# HUGEINT (mirrors Spark's DECIMAL(38,0)); positive-PMI only so the
# whole-bit log's domain stays >= 1
ORACLES["pmi_collocations"] = f"""
WITH arr AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws
             FROM documents),
big AS (
  SELECT list_extract(ws, i) AS w1, list_extract(ws, i + 1) AS w2
  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM arr)
  WHERE list_extract(ws, i) <> '' AND list_extract(ws, i + 1) <> ''),
uni AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w),
cxy_all AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
            FROM big GROUP BY w1, w2),
tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS t_total FROM cxy_all),
cxy AS (SELECT * FROM cxy_all WHERE n_pair >= 5),
j AS (
  SELECT c.w1, c.w2, c.n_pair,
         CAST(c.n_pair AS HUGEINT) * t.t_total AS num,
         CAST(u1.c AS HUGEINT) * u2.c AS den
  FROM cxy c CROSS JOIN tot t
  JOIN uni u1 ON u1.w = c.w1
  JOIN uni u2 ON u2.w = c.w2)
SELECT w1, w2, n_pair,
       -- the HUGEINT ratio is <= T (c_xy <= c_x*c_y), so the BIGINT
       -- cast is exact; format's :b needs an integral <= 64 bits
       CAST(length(format('{{:b}}', CAST(num // den AS BIGINT))) - 1
            AS BIGINT) AS pmi_bits
FROM j
WHERE num >= den
ORDER BY pmi_bits DESC, n_pair DESC, w1 ASC, w2 ASC
LIMIT 20
"""

# per-doc shingle novelty: df over the per-doc-distinct shingle rows
# counts DOCUMENTS; novelty = df-1 share in exact basis points
ORACLES["ngram_novelty"] = _SHINGLE_CTE + """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS HUGEINT)
             * 10000) // count(*) AS BIGINT) AS novelty_bp
FROM (SELECT doc_id, count(*) OVER (PARTITION BY shingle) AS df
      FROM shex)
GROUP BY doc_id
"""

# source-mirroring matrix over distinct (unit, source) rows; the unit
# is the winnowing bottom-1 fingerprint (_FP5 — near-dup-sensitive,
# non-vacuous at sf0.01 where exact cross-source dups don't exist)
ORACLES["cross_source_overlap"] = f"""
WITH w AS (SELECT string_split({_NORM}, ' ') AS ws, source
           FROM documents),
d AS (SELECT DISTINCT {_FP5} AS content_hash, source FROM w),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM d a JOIN d b
    ON a.content_hash = b.content_hash AND a.source < b.source
  GROUP BY a.source, b.source),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hashes
        FROM d GROUP BY source)
SELECT source_a, source_b, n_shared,
       CAST((CAST(n_shared AS HUGEINT) * 10000)
            // (pa.n_hashes + pb.n_hashes - n_shared) AS BIGINT)
         AS jaccard_bp
FROM shared
JOIN per pa ON pa.source = source_a
JOIN per pb ON pb.source = source_b
"""

# quality-argmax survivor per near-dup component: the
# dedup_components recursive CTE supplies the labels, distinct-word
# count the quality, row_number the election
ORACLES["quality_survivor_dedup"] = f"""
WITH RECURSIVE lsh_pairs AS ({{LSH_PAIRS}}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
  UNION
  SELECT doc_b, doc_a FROM lsh_pairs
),
reach(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON e.s = r.m
),
comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
q AS (
  SELECT doc_id,
         CAST(len(list_distinct(list_filter(
             string_split({_NORM}, ' '), x -> x <> ''))) AS BIGINT)
           AS n_distinct_words
  FROM documents),
lab AS (
  SELECT q.doc_id,
         CAST(coalesce(c.component, q.doc_id) AS BIGINT) AS component,
         q.n_distinct_words
  FROM q LEFT JOIN comp c ON c.doc_id = q.doc_id)
SELECT doc_id, component, n_distinct_words,
       CAST(CASE WHEN row_number() OVER (
                     PARTITION BY component
                     ORDER BY n_distinct_words DESC, doc_id ASC) = 1
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM lab
"""
ORACLES["quality_survivor_dedup"] = (
    ORACLES["quality_survivor_dedup"]
    .replace("{LSH_PAIRS}", ORACLES["minhash_lsh_pairs"]))

# D4 = the semantic_dedup chain, then the cluster_balanced_sample
# chain RE-FIT over the survivor set; dropped vectors keep NULL
# re-clustering columns and selected=false
ORACLES["d4_select"] = f"""
WITH c AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
cent AS (
  SELECT row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id) - 1
         AS cell, qv AS cv
  FROM c
  QUALIFY row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id)
          <= {_SEM_K}
),
assign AS (
  SELECT vec_id, qv, cell FROM (
    SELECT c.vec_id, c.qv, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_l2_sql('c.qv', 'cent.cv')}, cent.cell)
           AS rn
    FROM c CROSS JOIN cent)
  WHERE rn = 1
),
victims AS (
  SELECT DISTINCT b.vec_id AS b_id
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(CAST({_qdot('a.qv', 'b.qv')} AS DOUBLE)
              / (sqrt(CAST({_qdot('a.qv', 'a.qv')} AS DOUBLE))
                 * sqrt(CAST({_qdot('b.qv', 'b.qv')} AS DOUBLE))), 4)
        >= 0.35
),
sd AS (
  SELECT vec_id, cell AS sem_cell,
         vec_id NOT IN (SELECT b_id FROM victims) AS is_kept
  FROM assign
),
kc AS (SELECT c.vec_id, c.qv FROM c
       JOIN sd ON sd.vec_id = c.vec_id
       WHERE sd.is_kept),
cent2 AS (
  SELECT row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id) - 1
         AS cell, qv AS cv
  FROM kc
  QUALIFY row_number() OVER (
           ORDER BY {_h60("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id)
          <= 8
),
assign2 AS (
  SELECT vec_id, cell FROM (
    SELECT kc.vec_id, cent2.cell,
           row_number() OVER (PARTITION BY kc.vec_id
                              ORDER BY {_l2_sql('kc.qv', 'cent2.cv')},
                                       cent2.cell)
           AS rn
    FROM kc CROSS JOIN cent2)
  WHERE rn = 1
),
rk AS (
  SELECT vec_id, cell,
         row_number() OVER (
           PARTITION BY cell
           ORDER BY {_h60("'cbs:' || CAST(vec_id AS VARCHAR)")}, vec_id)
         AS rn,
         count(*) OVER (PARTITION BY cell) AS n
  FROM assign2
)
SELECT sd.vec_id, sd.sem_cell, sd.is_kept,
       rk.cell, CAST(rk.n AS BIGINT) AS cluster_size,
       coalesce(rk.rn <= 5, false) AS selected
FROM sd LEFT JOIN rk ON rk.vec_id = sd.vec_id
"""

# curriculum: the token_surprisal chain, global histogram VALUE
# thresholds (ceil(s*n/4) as (s*n+3)//4, positive operands), then the
# corpus_shuffle hash permutation within each (stage, shard)
ORACLES["curriculum_order"] = f"""
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
    FROM documents)
  WHERE token <> ''),
lm AS (SELECT token, count(*) AS n_t FROM tok GROUP BY token),
tottok AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_total FROM lm),
tbits AS (
  SELECT token,
         CAST(length(format('{{:b}}', n_total // n_t)) - 1 AS BIGINT)
           AS b
  FROM lm CROSS JOIN tottok),
ts AS (
  SELECT doc_id, round(sum(b) * 1.0 / count(*), 4) AS mean_bits
  FROM tok JOIN tbits USING (token) GROUP BY doc_id),
hist AS (SELECT mean_bits, count(*) AS _n FROM ts GROUP BY mean_bits),
cum AS (
  SELECT mean_bits,
         sum(_n) OVER (ORDER BY mean_bits
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS _cum,
         sum(_n) OVER () AS _tot
  FROM hist),
th AS (
  SELECT min(CASE WHEN _cum >= (1 * _tot + 3) // 4
                  THEN mean_bits END) AS _t1,
         min(CASE WHEN _cum >= (2 * _tot + 3) // 4
                  THEN mean_bits END) AS _t2,
         min(CASE WHEN _cum >= (3 * _tot + 3) // 4
                  THEN mean_bits END) AS _t3
  FROM cum),
st AS (
  SELECT ts.doc_id, ts.mean_bits,
         CAST(CASE WHEN ts.mean_bits <= th._t1 THEN 1
                   WHEN ts.mean_bits <= th._t2 THEN 2
                   WHEN ts.mean_bits <= th._t3 THEN 3
                   ELSE 4 END AS INT) AS stage,
         {_h60("'curriculum:' || CAST(doc_id AS VARCHAR)")} AS _h
  FROM ts CROSS JOIN th)
SELECT doc_id, mean_bits, stage,
       CAST(_h % 8 AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY stage, _h % 8
                               ORDER BY _h, doc_id) AS BIGINT)
         AS shard_pos
FROM st
"""

# lang-ID confusion: prof supplies the prediction; the per-language
# total is a window over the aggregated (lang, lang_pred) frame
ORACLES["lang_id_confusion"] = _PROFILE_CTE + """
SELECT d.lang, prof.lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST((CAST(count(*) AS HUGEINT) * 10000)
            // sum(count(*)) OVER (PARTITION BY d.lang) AS BIGINT)
         AS share_bp
FROM prof JOIN documents d USING (doc_id)
GROUP BY d.lang, prof.lang_pred
"""

# IVF recall/nprobe tuning curve: one parametrized IVF chain per sweep
# point against the shared brute-force baseline (the recall gate's
# arithmetic, swept)
ORACLES["ivf_recall_sweep"] = (
    "WITH brute AS (SELECT q_id, n_id FROM ("
    + ORACLES["ann_cosine_topk"] + "))\n"
    + "\nUNION ALL\n".join(
        f"""SELECT CAST({p} AS INT) AS nprobe,
       CAST(floor(count(i.n_id) * 10000 / count(*)) AS BIGINT)
         AS recall_bp
FROM brute LEFT JOIN (SELECT q_id, n_id FROM ({_ivf_topk_sql(p)})) i
  USING (q_id, n_id)"""
        for p in (1, 2, 4)))

# incremental novelty: even-id corpus enters ONLY via its hash-keyed
# shingle-df ledger; batch df is a window over batch rows alone
ORACLES["incremental_novelty"] = _SHINGLE_CTE + f""",
hx AS (SELECT doc_id, {_h60('shingle')} AS sh FROM shex),
cdf AS (SELECT sh, count(*) AS n FROM hx WHERE doc_id % 2 = 0
        GROUP BY sh),
b AS (SELECT doc_id, sh FROM hx WHERE doc_id % 2 = 1),
bdf AS (SELECT doc_id, sh,
               count(*) OVER (PARTITION BY sh) AS _bdf
        FROM b),
t AS (SELECT doc_id, _bdf + coalesce(cdf.n, 0) AS df
      FROM bdf LEFT JOIN cdf USING (sh))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS HUGEINT)
             * 10000) // count(*) AS BIGINT) AS novelty_bp
FROM t
GROUP BY doc_id
"""

# queries whose output contains the DATE column `datetime`
_DATE_QUERIES = {
    "sessions", "user_daily", "item_daily", "item_continuation",
    "entry_type_daily", "top_item_per_day", "binge_ratio",
    "retention_yesterday", "retention_today", "cohort_vs_global",
    "dim_gap_features", "duration_percentiles", "funnel_daily",
    "event_transitions", "volume_anomaly", "cardinality_sketch",
    "distribution_drift", "quantile_sketch",
}


def oracle_sql() -> dict[str, str]:
    out = {}
    for name, sql in ORACLES.items():
        sql = _lower_rounds(sql)
        if name in _DATE_QUERIES:
            sql = (f"SELECT * REPLACE (strftime(datetime, '%Y-%m-%d') AS datetime) "
                   f"FROM (\n{sql}\n)")
        out[name] = sql
    return out
