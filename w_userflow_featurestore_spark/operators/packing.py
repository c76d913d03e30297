"""Sequence packing: map documents to fixed-token-budget training packs.

Pretraining pipelines concatenate documents (within a stream such as a
language/source shard) and slice the token stream into fixed-size
context windows. This operator computes, per document, where it lands in
that packed stream: its start offset, the pack (context window) its
first token falls into, its offset within that pack, and how many packs
it spans — the metadata a loader needs to materialize packed examples.

Scale design: packing is defined PER (lang, source) stream, so the
running token sum is a window partitioned on the stream key — one hash
shuffle plus per-partition sort, never a global single-partition
window. Streams are independent, so a 100 TB corpus packs with
per-stream parallelism; skewed mega-streams can be subdivided by adding
a salt column to ``part_cols`` (pack ids then being per-shard, exactly
like sharded tokenizer runs).

Everything is integer arithmetic over exact token counts — the DuckDB
oracle is the identical window SQL, bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import sql_ident
from w_userflow_featurestore_spark.operators.text import token_count_ws
from w_userflow_featurestore_spark.sources import fan_out

__all__ = ["pack_sequences"]


def pack_sequences(docs: DataFrame, budget: int = 2048,
                   text_col: str = "text", id_col: str = "doc_id",
                   part_cols: tuple[str, ...] = ("lang", "source"),
                   ) -> DataFrame:
    """Chunked (concat-and-slice) packing: documents ordered by
    ``id_col`` within each ``part_cols`` stream are laid end-to-end;
    packs are consecutive ``budget``-token windows of that stream.
    Documents may span packs (``n_packs_spanned``); loaders that forbid
    splitting can filter to ``n_packs_spanned == 1`` and re-pack the
    remainder.
    """
    docs = fan_out(docs.select(F.col(id_col), *[F.col(c) for c in part_cols],
                               F.col(text_col)))
    prev = (Window.partitionBy(*part_cols).orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1))
    toks = token_count_ws(sql_ident(text_col)).cast("long")
    out = (docs.withColumn("n_tokens", toks)
           .withColumn("start_offset",
                       F.coalesce(F.sum("n_tokens").over(prev), F.lit(0))
                       .cast("long")))
    start, n = F.col("start_offset"), F.col("n_tokens")
    pack = F.floor(start / budget).cast("long")
    last_pack = F.floor((start + n - 1) / budget).cast("long")
    return out.select(
        F.col(id_col), *[F.col(c) for c in part_cols],
        "n_tokens", "start_offset",
        pack.alias("pack_id"),
        (start % budget).cast("long").alias("pack_offset"),
        (last_pack - pack + 1).alias("n_packs_spanned"))
