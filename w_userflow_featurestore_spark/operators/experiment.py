"""Deterministic experiment analysis: hash-based arm assignment and a
two-proportion z-test summary.

The reference computes per-dimension daily aggregates; an
experimentation readout needs the next step — assignment plus
inference. Both follow the repo's cross-engine disciplines:
arm assignment is the dataset_split content-hash idiom (stable across
reruns, engines, and corpus growth — users never switch arms when new
users arrive), and the z statistic is built from exact integer counts
through individually-IEEE-exact double ops (subtract, multiply,
divide, sqrt — all correctly rounded in any IEEE-754 engine), then
floor-quantized to micro-units, the same order-free exact-parity
treatment as the chi-square drift monitor.

Scale shape: per-user conversion flags are one hash aggregate over
events; the arm rollup is 2 rows; inference is row-local arithmetic on
a 1-row frame. Nothing downstream of the first aggregate ever sees
more than |arms| rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.operators.dedup import text_hash60


def ab_assign(col: str, n_arms: int = 2, salt: str = "ab") -> Column:
    """Deterministic arm index in [0, n_arms) of the SQL fragment
    ``col``: 60-bit md5 of "salt:id" mod n_arms — the dataset_split
    idiom, so assignment is rerun-stable and engine-replayable."""
    return F.pmod(text_hash60(f"CAST({col} AS STRING)", seed=salt),
                  F.lit(n_arms)).cast("int")


def ab_test_summary(events: DataFrame, id_col: str = "user_id",
                    event_type_col: str = "event_type",
                    conversion_event: str = "purchase",
                    salt: str = "ab",
                    z_crit_micro: int = 1_960_000) -> DataFrame:
    """Two-proportion z-test between hash-assigned arms on a
    user-level conversion flag. One row: per-arm sizes and converter
    counts, conversion rates in basis points, the pooled z statistic
    floor-quantized to micro-units, and the significance flag at
    ``z_crit_micro`` (default |z| >= 1.96). Degenerate pooled rates
    (0% or 100% -> zero standard error) yield NULL z and flag."""
    users = (events
             # when/otherwise, not a bare boolean cast: a NULL event
             # type must count as non-converting 0, never poison the
             # user's flag to NULL (randomized-parity finding)
             .groupBy(F.col(id_col).alias("uid"))
             .agg(F.max(F.when(F.col(event_type_col) == conversion_event,
                               1).otherwise(0)).alias("converted"))
             .select(ab_assign("uid", 2, salt).alias("arm"),
                     "converted"))
    arms = (users.groupBy("arm")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("converted").alias("conv")))
    row = arms.groupBy().agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv"))).alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv"))).alias("conv_b"))
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    p = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z_micro = F.when(se > 0, F.floor((p_a - p_b) / se * 1e6)
                     .cast("long"))
    # Significance quantizes the MAGNITUDE: floor(|z| * 1e6). Flooring
    # the signed z first would be asymmetric at the boundary — a
    # negative z in (-1.96, -1.959999] floors past the threshold and
    # flags significant while the mirrored positive z does not. The
    # signed floor stays in z_micro for reporting only.
    absz_micro = F.when(se > 0, F.floor(F.abs((p_a - p_b) / se) * 1e6)
                        .cast("long"))
    return row.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_b").cast("long").alias("conv_b"),
        F.floor(p_a * 10000).cast("long").alias("rate_a_bp"),
        F.floor(p_b * 10000).cast("long").alias("rate_b_bp"),
        z_micro.alias("z_micro"),
        F.when(absz_micro.isNotNull(),
               (absz_micro >= z_crit_micro).cast("int"))
         .alias("significant"))
