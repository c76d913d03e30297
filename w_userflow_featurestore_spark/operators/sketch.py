"""Count-min sketch: mergeable frequency estimation.

Completes the engine's mergeable-sketch family — HLL for cardinality
(`cardinality_sketch`), GK summaries for quantiles (`quantile_sketch`),
CMS for per-item frequency. The 100 TB use case: per-shard/per-day
sketches of a token or key stream are tiny ``depth x width`` count
grids that union + re-sum into the corpus sketch — no re-scan, no
giant exact count table shipped between stages — and any consumer can
probe item frequencies with a guaranteed one-sided error
(estimate >= true count; overcount <= e/width * N with prob 1-1/e^depth,
Cormode & Muthukrishnan 2005).

Unlike HLL/GK (engine-specific binary sketches, gated by accuracy
booleans), this CMS is built from the repo's own md5 hash families
(operators.dedup.text_hash60), so every cell — and therefore every
estimate — is bit-identical in any engine: the DuckDB oracle pins the
ESTIMATES, not just a tolerance band.

Scale shape: the item stream collapses to (item, n) first (one
hash-agg whose map-side partial combine absorbs heavy hitters), the
depth-way expansion runs over DISTINCT items (the bpe_pair_counts
discipline), and the finished sketch is depth*width rows — broadcast
material for any probe join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import sql_ident, sql_str
from w_userflow_featurestore_spark.operators.dedup import text_hash60


def _cell(item: str, d: str, width: int, salt: str) -> Column:
    """Row ``d``'s counter cell of the SQL fragment ``item``: the 60-bit
    md5 of "salt:d:item" mod ``width``."""
    return F.pmod(
        text_hash60(f"concat_ws(':', {sql_str(salt)}, CAST({d} AS STRING),"
                    f" CAST({item} AS STRING))"),
        F.lit(width)).cast("long")


def cms_build(df: DataFrame, item_col: str, depth: int = 4,
              width: int = 1024, salt: str = "cms") -> DataFrame:
    """Sketch an item stream into (d, cell, n) counts.

    Mergeable: sketches of disjoint slices built with the same
    (depth, width, salt) combine by ``cms_merge`` (union + re-sum)
    into exactly the sketch of the concatenated stream — the property
    that lets per-day/per-shard sketches roll up without rescanning.
    """
    counts = (df.groupBy(F.col(item_col).alias("item"))
                .agg(F.count(F.lit(1)).alias("n")))
    d = F.posexplode(F.array(*[F.lit(i) for i in range(depth)]))
    return (counts
            .select("item", "n", d.alias("d", "_z"))
            .select(F.col("d").cast("int").alias("d"),
                    _cell("item", "d", width, salt)
                    .alias("cell"), "n")
            .groupBy("d", "cell").agg(F.sum("n").alias("n")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Combine same-shaped sketches: union + per-cell re-sum."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "cell").agg(F.sum("n").alias("n"))


def cms_lookup(sketch: DataFrame, probes: DataFrame, item_col: str,
               depth: int = 4, width: int = 1024,
               salt: str = "cms") -> DataFrame:
    """Estimate each probe item's frequency: min over the sketch's
    ``depth`` rows of the counter at that row's hash cell. The sketch
    side is depth*width rows — broadcast, so probing never shuffles
    the probe set. A probe item hashing to cells no stream item
    touched gets estimate 0 (empty cells hold no row -> coalesce)."""
    d = F.posexplode(F.array(*[F.lit(i) for i in range(depth)]))
    probed = (probes
              .select("*", d.alias("d", "_z"))
              .select("*",
                      _cell(sql_ident(item_col), "d", width, salt)
                      .alias("cell")))
    return (probed.join(F.broadcast(sketch), ["d", "cell"], "left")
                  .groupBy(*probes.columns)
                  .agg(F.min(F.coalesce("n", F.lit(0)))
                        .alias("cms_n")))
