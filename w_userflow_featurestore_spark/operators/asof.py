"""Temporal joins: point-in-time AS-OF and bucketed range (interval) join.

The reference serves daily-grain features, so its joins are all equi
(SURVEY.md §2.5: no range/as-of joins anywhere). But the defining
operation of a feature STORE is the point-in-time lookup: for every
observation (event, label, training example) at time t, attach the
latest feature value with feature_ts <= t — never a later one, or the
training set leaks the future. Spark has no ASOF JOIN; this implements
it as a composition of built-in operators.

Scale design — union + keyed window, NOT a range join:
the naive formulation (join on key AND l.ts >= r.ts, then max-by) builds
|left| x |right-per-key| intermediate pairs — quadratic per key, fatal
when a hot key has millions of feature updates. Instead both sides are
unioned and sorted once per key: right rows carry their payload, left
rows carry null, and ``last(payload, ignorenulls=True)`` over
(key ORDER BY ts, right-first) rows-between(unboundedPreceding,
currentRow) gives every left row the most recent right payload in ONE
shuffle + one sort — the same work as a sort-merge join of the two
inputs, independent of temporal fan-in. At 100 TB both sides shuffle
hash(key) once; AQE skew-split handles hot keys.

The DuckDB oracle is the native ``ASOF LEFT JOIN`` — semantics pinned
value-for-value at the gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_ts: str = "ts", right_ts: str = "ts",
              suffix: str = "_r", strict: bool = False) -> DataFrame:
    """Backward as-of left join: each left row gets the right row with
    the greatest ``right_ts`` <= its ``left_ts`` (strictly < when
    ``strict``), matching on the ``on`` keys; right value columns are
    appended with ``suffix`` (the right timestamp too), NULL when no
    prior right row exists.
    """
    key_cols = list(on)
    r_payload = [c for c in right.columns if c not in key_cols]
    if right_ts not in r_payload:
        raise ValueError(f"right_ts={right_ts!r} must not be a join key")

    r2 = (right
          .withColumn("_t", F.col(right_ts))
          .withColumn("_side", F.lit(1))
          .withColumn("_p", F.struct(*[F.col(c) for c in r_payload]))
          .select(*key_cols, "_t", "_side", "_p"))
    l2 = (left
          .withColumn("_t", F.col(left_ts))
          .withColumn("_side", F.lit(0))
          .withColumn("_p", F.lit(None).cast(
              r2.schema["_p"].dataType))
          .select(*key_cols, "_t", "_side",
                  F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
                  "_p"))
    r2 = r2.withColumn("_l", F.lit(None).cast(l2.schema["_l"].dataType)) \
           .select(*key_cols, "_t", "_side", "_l", "_p")
    both = l2.select(*key_cols, "_t", "_side", "_l", "_p").unionByName(r2)

    # at equal _t a right row must precede (backward join includes it)
    # unless strict; _side orders right(1) before/after left(0) accordingly
    side_order = F.col("_side").desc() if not strict else F.col("_side").asc()
    # trailing _p tiebreak: two right rows with identical ts resolve to the
    # greatest payload struct (field-lexicographic) instead of racing
    w = (Window.partitionBy(*key_cols)
               .orderBy(F.col("_t").asc(), side_order, F.col("_p").asc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (both
               .withColumn("_m", F.last("_p", ignorenulls=True).over(w))
               .where(F.col("_side") == 0))
    out_cols = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    out_cols += [F.col(f"_m.{c}").alias(f"{c}{suffix}") for c in r_payload]
    return matched.select(*out_cols)


def interval_join(left: DataFrame, right: DataFrame, on: list[str],
                  left_ts: str = "ts", right_ts: str = "ts",
                  lower_ms: int = 0, upper_ms: int = 600_000,
                  suffix: str = "_r") -> DataFrame:
    """Range (interval) join: pair each left row with every right row of
    the same keys whose ``right_ts`` lies in
    [left_ts + lower_ms, left_ts + upper_ms], both bounds inclusive.

    Spark plans a bare ``ON key AND r.ts BETWEEN ...`` as an equi-join
    followed by a per-key cross of all temporal combinations — quadratic
    in events-per-key. This instead BUCKETS time by the window width W =
    upper_ms - lower_ms: each right row lands in exactly one bucket
    (floor(ts/W)), each left row explodes to the <= 2 buckets its window
    overlaps, and the join becomes a plain equi-join on (keys, bucket)
    plus an exact range filter. A (left, right) pair can only meet in the
    right row's single bucket, so no dedup is needed; work scales with
    rows-per-(key, W-window), never rows-per-key squared.
    """
    if upper_ms <= lower_ms:
        raise ValueError(f"empty interval: upper_ms={upper_ms} must exceed"
                         f" lower_ms={lower_ms}")
    width = upper_ms - lower_ms
    key_cols = list(on)
    r_payload = [c for c in right.columns if c not in key_cols]

    l_ms = F.unix_millis(F.col(left_ts))
    lo, hi = l_ms + F.lit(lower_ms), l_ms + F.lit(upper_ms)
    l2 = (left
          .withColumn("_lo", lo).withColumn("_hi", hi)
          .withColumn("_bkt", F.explode(F.sequence(
              F.floor(F.col("_lo") / width), F.floor(F.col("_hi") / width)))))
    r_ms = F.unix_millis(F.col(right_ts))
    r2 = (right
          .select(*key_cols,
                  *[F.col(c).alias(f"{c}{suffix}") for c in r_payload])
          .withColumn("_rms", F.unix_millis(F.col(f"{right_ts}{suffix}")))
          .withColumn("_bkt", F.floor(F.col("_rms") / width)))
    return (l2.join(r2, key_cols + ["_bkt"])
              .where(F.col("_rms").between(F.col("_lo"), F.col("_hi")))
              .drop("_lo", "_hi", "_bkt", "_rms"))


def build_training_set(spine: DataFrame, feature_groups: dict[str, DataFrame],
                       on: list[str], spine_ts: str = "ts",
                       group_ts: str = "ts") -> DataFrame:
    """Point-in-time training-set assembly — THE feature-store serving
    operator: a label spine (entity keys + label timestamp) left-AS-OF
    joined against every feature group, so each training row sees exactly
    the feature values that were current at its label time and nothing
    later (no leakage). Each group's payload columns arrive suffixed
    ``_<group>``.

    Plan shape: one union+keyed-window shuffle PER GROUP (asof_join),
    every shuffle on the same entity keys — at scale the exchanges reuse
    the spine's partitioning rather than re-keying, and each group's
    window state is O(rows per entity), never a range-pair blowup. With
    G groups that is G linear passes; the alternative single-pass form
    (union all groups, one window with G last(ignorenulls) columns)
    trades shuffle count for state width — both beat per-pair range
    joins by construction.
    """
    out = spine
    for name, grp in feature_groups.items():
        out = asof_join(out, grp, on=on, left_ts=spine_ts,
                        right_ts=group_ts, suffix=f"_{name}")
    return out
