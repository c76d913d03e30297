"""Multi-level & reshaping relational operators: ROLLUP / CUBE subtotal
aggregates, fixed-vocabulary pivot, and semi/anti key-membership joins.

The reference's gold jobs compute each aggregation level as a separate
job + join (SURVEY.md A14+A15: cohort agg then global re-agg then join
back). At 100 TB the idiomatic Spark form is ONE pass: `rollup`/`cube`
produce every subtotal level inside a single Expand + HashAggregate —
one shuffle total, versus one shuffle per level plus a join. These are
the general forms; `metrics.cohort_vs_global` keeps the reference's
two-level shape for parity.

Scale notes:
- Expand multiplies input rows by the number of grouping sets (rollup on
  2 cols = 3×) BEFORE the shuffle, but partial aggregation collapses
  each set map-side, so shuffled bytes stay proportional to the DISTINCT
  group count — same as running the levels separately, minus the extra
  stages.
- `pivot` with an explicit value list is a plain hash-aggregate of
  conditional aggregands (no second pass to discover values, no driver
  collect) — always pass the vocabulary at scale.
- semi/anti joins ship only the key column of the probe side and never
  duplicate matches: the right plan shape for "train-set filter by
  membership ledger" (e.g. drop documents already consumed upstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import (
    exact_sum, fround, scaled_long,
)


def _day(ts_col: str) -> F.Column:
    # string day (not DATE) so subtotal NULLs are unambiguous cross-engine
    return F.date_format(F.col(ts_col), "yyyy-MM-dd")


def rollup_daily(events: DataFrame, ts_col: str = "ts",
                 dim_col: str = "event_type",
                 value_col: str = "value") -> DataFrame:
    """Hierarchical subtotals (day, dim) -> (day) -> grand total in one
    Expand+HashAggregate pass; `gid` is the grouping bitmask (0 = leaf,
    1 = per-day subtotal, 3 = grand total), identical to DuckDB's
    GROUPING(day, dim)."""
    base = events.select(_day(ts_col).alias("day"), F.col(dim_col).alias("dim"),
                         F.col(value_col).alias("v"))
    return (base.rollup("day", "dim")
                .agg(F.grouping_id().cast("long").alias("gid"),
                     F.count(F.lit(1)).alias("n_events"),
                     exact_sum(F.col("v")).alias("sum_value")))


def cube_daily(events: DataFrame, ts_col: str = "ts",
               dim_col: str = "event_type",
               value_col: str = "value") -> DataFrame:
    """All 4 grouping sets of (day, dim) — adds the per-dim marginal
    (gid=2) that rollup omits. Same single-shuffle Expand plan."""
    base = events.select(_day(ts_col).alias("day"), F.col(dim_col).alias("dim"),
                         F.col(value_col).alias("v"))
    return (base.cube("day", "dim")
                .agg(F.grouping_id().cast("long").alias("gid"),
                     F.count(F.lit(1)).alias("n_events"),
                     exact_sum(F.col("v")).alias("sum_value")))


def pivot_counts(events: DataFrame, values: list[str],
                 key_col: str = "user_id",
                 dim_col: str = "event_type") -> DataFrame:
    """Long->wide reshape: one row per key, one count column per
    vocabulary entry (missing combinations = 0) plus the TRUE row total
    — count(*) per key, so rows whose ``dim_col`` is NULL or outside
    the vocabulary still count toward ``n_total`` (they are invisible
    in the per-value columns but they happened). Written as one
    conditional aggregate rather than ``.pivot()``: same single-pass
    plan with explicit values, and the total can see every row —
    ``pivot()`` would drop out-of-vocabulary rows before any aggregate
    runs (caught by the randomized cross-engine parity harness on
    NULL-typed events)."""
    aggs = [F.sum(F.when(F.col(dim_col) == v, 1).otherwise(0))
            .cast("long").alias(f"n_{v}") for v in values]
    return (events.groupBy(key_col)
                  .agg(*aggs,
                       F.count(F.lit(1)).cast("long").alias("n_total")))


def semi_join_keys(probe: DataFrame, ledger: DataFrame,
                   probe_key: str, ledger_key: str) -> DataFrame:
    """Rows of `probe` whose key EXISTS in `ledger` (left_semi): match
    presence only — no column pollution, no row duplication on multi-
    match, ledger reduced to its key column before the shuffle."""
    keys = ledger.select(F.col(ledger_key).alias(probe_key))
    return probe.join(keys, on=probe_key, how="left_semi")


def anti_join_keys(probe: DataFrame, ledger: DataFrame,
                   probe_key: str, ledger_key: str) -> DataFrame:
    """Rows of `probe` whose key is ABSENT from `ledger` (left_anti) —
    NOT EXISTS. The curation idiom for "docs not yet ingested"."""
    keys = ledger.select(F.col(ledger_key).alias(probe_key))
    return probe.join(keys, on=probe_key, how="left_anti")


def above_group_avg(df: DataFrame, group_col: str, value_col: str,
                    factor_num: int = 3, factor_den: int = 2,
                    scale: int = 2) -> DataFrame:
    """Rows whose ``value_col`` exceeds ``factor_num/factor_den`` times
    their group's average — the correlated-scalar-subquery pattern
    (``WHERE v > 1.5 * (SELECT avg(v) ... WHERE g = outer.g)``),
    decorrelated into one group aggregate plus an equi-join so Catalyst
    plans two hash-partition shuffles instead of a per-row subquery.

    Exactness: the comparison runs in INTEGER space —
    ``cents * n * factor_den > sum_cents * factor_num`` — so the kept
    row set is bit-identical across engines and partition orders (no
    double-precision average on either side of the ``>``); the average
    is rescaled to a display column only after the filter.
    """
    p = float(10 ** scale)
    per_group = df.groupBy(group_col).agg(
        F.sum(scaled_long(F.col(value_col), scale)).alias("__sum_c"),
        F.count(F.lit(1)).alias("__n"))
    keep = (scaled_long(F.col(value_col), scale) * F.col("__n")
            * F.lit(factor_den)) > (F.col("__sum_c") * F.lit(factor_num))
    return (df.join(per_group, group_col)
            .where(keep)
            .withColumn("group_avg",
                        fround(F.col("__sum_c") / p / F.col("__n"), scale))
            .drop("__sum_c", "__n"))
