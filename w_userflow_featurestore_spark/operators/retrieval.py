"""Ranked text retrieval: corpus statistics + BM25 top-k scoring.

The query-side complement of the dedup/quality family: given terms, rank
the `documents` corpus by Okapi BM25. The reference has no retrieval
surface (its text grain is user events, `src/kafka/faker_producer.py`);
this is part of the 100 TB training-data extension (SURVEY.md §7.2 M6) —
corpus curation pipelines use exactly this shape for quality-by-query
probes and contamination checks against eval sets.

Scale design:
- Per-document work (tokenize, length) is row-local column expressions
  in the same scan as any pushed filter.
- The posting explode is filtered to the query's terms BEFORE the
  term-frequency aggregate, so the shuffled volume is O(matching
  postings), not O(corpus tokens) — with Q query terms that is the same
  id-only discipline as the LSH band joins.
- Corpus stats (N, avg doc length) ride a broadcast 1-row frame (the
  reference's global-join idiom, `gold_country_daily_metrics.py:80-96`)
  — no driver collect, one plan.
- Scores are integer micros: each (doc, term) contribution is floored to
  1e-6 then integer-summed, so the total is exact under any partitioning
  or order (doubles would make the sum order-dependent). The double
  arithmetic INSIDE a contribution is a fixed expression tree, and IEEE
  +,-,*,/ are correctly rounded in every engine, so contributions are
  bit-reproducible too (`ln` alone differs across engines in the last
  ulp; at 1e6 scale a flip at the floor boundary needs that ~1e-10
  coincidence — accepted and documented).
- Top-k is a deterministic (score desc, doc_id) order + limit, which
  Spark executes as TakeOrderedAndProject (per-partition heap + merge),
  never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import sql_ident
from w_userflow_featurestore_spark.operators.dedup import words

__all__ = ["bm25_topk"]


def bm25_topk(docs: DataFrame, query_terms: list[str], *,
              text_col: str = "text", id_col: str = "doc_id",
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-``k`` documents by Okapi BM25 for a bag of ``query_terms``.

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   (the +1 form: never
    negative, so common terms dilute rather than invert the score);
    tf-part = tf * (k1+1) / (tf + k1 * (1 - b + b * dl / avgdl)).

    Returns (doc_id, matched_terms, score_micros) — score in integer
    micros (see module docstring for why not a double).
    """
    terms = sorted(set(query_terms))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(words(sql_ident(text_col)),
                        lambda w: w != F.lit(""))).alias("dl"))

    # broadcast 1-row corpus stats: N docs, total token count
    stats = F.broadcast(
        base.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")))

    # dl rides the postings (functionally dependent on doc_id), so the
    # scoring path never joins back to the corpus — one shuffle on
    # (doc_id, term), nothing keyed on the full document set
    postings = (docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(words(sql_ident(text_col)),
                        lambda w: w != F.lit(""))).alias("dl"),
        F.explode(words(sql_ident(text_col))).alias("term"))
        .where(F.col("term").isin(terms)))
    tf = (postings.groupBy("doc_id", "dl", "term")
          .agg(F.count("*").alias("tf")))

    # Document frequency per query term (<= Q rows -> broadcast back).
    # Catalyst re-computes the tf subtree here (no cross-branch plan
    # sharing), costing one extra filtered scan — deliberate: the
    # alternative, count(doc) as a window PARTITION BY term over tf,
    # funnels every posting of a hot term into one partition (a
    # stopword-ish query term = single-task cliff), while this re-agg
    # keeps map-side partial combine on both branches.
    df_t = F.broadcast(
        tf.groupBy("term").agg(F.count("*").alias("df")))

    n = F.col("n_docs").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    # expression trees mirrored textually in the DuckDB oracle — IEEE
    # ops are deterministic, so keep the shapes identical on both sides
    idf = F.log((n - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)) + F.lit(1.0))
    tf_part = (tfd * F.lit(k1 + 1.0)
               / (tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)))
    contrib = F.floor(F.lit(1e6) * idf * tf_part).cast("long")

    scored = (tf.join(df_t, "term")
                .crossJoin(stats)
                .select("doc_id", "term", contrib.alias("c")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("matched_terms"),
                 F.sum("c").alias("score_micros"))
            .orderBy(F.col("score_micros").desc(), "doc_id")
            .limit(k))


def rrf_fuse(rankings: list[DataFrame], id_col: str = "doc_id",
             k: int = 10, c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of any number
    of (id, rank) rankings — the standard lexical+semantic hybrid-search
    combiner: score(d) = sum over systems of 1/(c + rank_s(d)), docs
    absent from a system contribute nothing.

    Contributions are integer NANOS (floor(1e9/(c+rank))) so the fused
    score is an exact integer sum — immune to partial-agg order and
    engine float quirks, same contract as BM25's micro scores. Plan:
    union of the tiny per-system rank lists, one hash agg, TakeOrdered
    top-k — the fusion cost is O(k x systems) regardless of corpus size.
    """
    from functools import reduce

    contribs = [
        r.select(F.col(id_col),
                 F.floor(F.lit(1_000_000_000) / (F.lit(c) + F.col("rank")))
                 .cast("long").alias("__rrf"))
        for r in rankings]
    fused = (reduce(lambda a, b: a.unionByName(b), contribs)
             .groupBy(id_col)
             .agg(F.sum("__rrf").alias("rrf_nanos"),
                  F.count(F.lit(1)).alias("n_systems"))
             .orderBy(F.desc("rrf_nanos"), F.asc(id_col))
             .limit(k))
    return fused
