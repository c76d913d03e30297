"""Eval-set contamination check: n-gram collision against a benchmark.

Before training on a curated corpus, every serious pipeline asks: which
training documents contain verbatim n-grams from my evaluation sets?
(The GPT-3/PaLM-style "13-gram overlap" decontamination step.) This is
the retrieval dual of near-dup dedup: instead of corpus x corpus, it is
corpus x small-eval-set, which changes the right plan entirely.

Scale design: eval sets are tiny (10^3-10^5 docs) next to a 100 TB
corpus, so the distinct eval n-gram set is BROADCAST — the corpus side
streams through its scan, explodes its shingles, and hash-joins against
the in-memory gram set with zero corpus shuffles before the per-doc
rollup. Grams travel as the repo-wide 60-bit md5 ints, never strings
(8x narrower rows through the explode). The only full shuffle is the
final per-doc aggregate, keyed on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import fround, sql_ident
from w_userflow_featurestore_spark.operators.dedup import (
    shingles, text_hash60)
from w_userflow_featurestore_spark.sources import fan_out

__all__ = ["contamination_check"]


def contamination_check(corpus: DataFrame, eval_set: DataFrame, *,
                        n: int = 5, text_col: str = "text",
                        id_col: str = "doc_id",
                        flag_ratio: float = 0.1) -> DataFrame:
    """Per corpus document: distinct word-``n``-gram overlap with the
    union of ``eval_set``'s n-grams.

    Returns (doc_id, total_ngrams, hit_ngrams, contamination_ratio,
    contaminated) — ratio = hits/total over the doc's DISTINCT grams
    (shingles() is set-valued); ``contaminated`` (0/1) flags
    hit_ngrams >= total_ngrams * flag_ratio, compared in integer-vs-
    double form rather than on the rounded ratio so the flag is
    independent of the display rounding. Docs shorter than ``n`` words
    degrade to whole-text comparison, inheriting shingles()' short-doc
    rule.
    """
    eval_grams = F.broadcast(
        eval_set.select(
            F.explode(shingles(sql_ident(text_col), n)).alias("g"))
        .select(text_hash60("g").alias("gh"))
        .distinct())
    doc_grams = (fan_out(corpus.select(F.col(id_col), F.col(text_col)))
                 .select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(sql_ident(text_col), n)).alias("g"))
        .select("doc_id", text_hash60("g").alias("gh")))
    hits = (doc_grams.join(eval_grams.withColumn("_hit", F.lit(1)),
                           "gh", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("total_ngrams"),
                 F.count("_hit").alias("hit_ngrams")))
    ratio = fround(F.col("hit_ngrams").cast("double")
                   / F.col("total_ngrams"), 4)
    return hits.select(
        "doc_id", "total_ngrams", "hit_ngrams",
        ratio.alias("contamination_ratio"),
        (F.col("hit_ngrams") >= F.col("total_ngrams") * F.lit(flag_ratio))
        .cast("int").alias("contaminated"))
