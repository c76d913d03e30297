"""End-to-end corpus curation: the composition the dedup/text operators
exist for.

The canonical large-scale training-data pass:

    profile -> quality floor -> exact dedup (canonical survivor)
            -> near-dup removal (MinHash-LSH victims dropped)

Each stage is an already-oracled operator; this module only composes
them, so the composed driver query's oracle is literally the composition
of the stage oracles — any disagreement localizes to the glue.

Scale notes: the profile is row-local and fuses into the scan; the
quality filter runs BEFORE both dedup shuffles, shrinking them; exact
dedup shuffles on the 16-byte content hash; the LSH victim set joins
back as a left-anti on doc_id. Nothing is ever collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.operators.dedup import (
    exact_dedup, lsh_candidate_pairs, minhash_signatures,
)
from w_userflow_featurestore_spark.operators.text import text_profile


def curate_corpus(docs: DataFrame, min_quality: float = 0.5,
                  near_threshold: float = 0.5,
                  id_col: str = "doc_id") -> DataFrame:
    """Curated document set: one row per surviving doc with its profile.

    Drop order (deterministic):
    1. quality < min_quality
    2. exact duplicates — every doc except the lowest-id of its
       content-hash group
    3. near duplicates — the HIGHER id of every LSH candidate pair with
       estimated Jaccard >= near_threshold (the lower id survives,
       consistent with rule 2's lowest-id-wins)

    Near-dup candidates are computed on the full corpus (not the
    quality-filtered one) so the survivor set is stable under
    min_quality changes — a curation rerun with a laxer floor never
    flips which of two near-dups is canonical.
    """
    prof = text_profile(docs)
    keep = exact_dedup(docs).where(F.col("keep") == 1).select(id_col)
    # Signatures feed the band self-join (x2) and the agreement rejoin
    # (x2); lineage-cut the ~100 B/doc frame so the corpus text is
    # shingled ONCE, not four times (same bounded materialization the
    # signature_index ledger gets in the incremental path).
    sigs = minhash_signatures(docs, id_col=id_col) \
        .localCheckpoint(eager=True)
    victims = (lsh_candidate_pairs(sigs, id_col,
                                   min_est_jaccard=near_threshold)
               .select(F.col("doc_b").alias(id_col)).distinct())
    return (prof
            .where(F.col("quality") >= min_quality)
            .join(keep, id_col, "left_semi")
            .join(victims, id_col, "left_anti")
            .select(id_col, "lang_pred", "quality", "n_tokens_ws",
                    "content_hash"))


def signature_index(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 3,
                    k: int = 8) -> DataFrame:
    """The persistable curation ledger for an ingested corpus: one row
    per document with its content hash and k-wide minhash signature
    (doc_id, content_hash, mh0..mh{k-1}).

    This is the ONLY state incremental curation needs — ~100 bytes/doc,
    so the ledger for a 100 TB corpus is ~100 GB: joinable, even
    broadcastable in shards, while the corpus text never gets rescanned.
    """
    from w_userflow_featurestore_spark.operators.dedup import (
        _hash60_sql, _norm_sql, _shingles_sql)
    from w_userflow_featurestore_spark.sources import fan_out
    # content_hash rides the minhash aggregate as a second GROUP KEY
    # (it is functionally dependent on the document, so the grouping is
    # unchanged) instead of a separate scan + doc-keyed join: one pass
    # over the corpus text, one exchange, zero joins. The
    # hash projection sits BELOW the shingle explode (computed once per
    # doc, replicated per shingle row), and the map-side partial
    # aggregate collapses the rows again before the exchange.
    base = fan_out(docs.select(F.col(id_col), F.col(text_col)))
    sh = base.select(
        F.col(id_col),
        F.expr(f"md5({_norm_sql(f'`{text_col}`')})").alias("content_hash"),
        F.expr(f"explode({_shingles_sql(f'`{text_col}`', n)})")
         .alias("shingle"))
    aggs = [F.expr(f"min({_hash60_sql('shingle', seed=i)})").alias(f"mh{i}")
            for i in range(k)]
    return (sh.groupBy(id_col, "content_hash").agg(*aggs)
            .select(id_col, "content_hash",
                    *[f"mh{i}" for i in range(k)]))


def incremental_curate(new_docs: DataFrame, ledger: DataFrame,
                       min_quality: float = 0.5,
                       near_threshold: float = 0.5,
                       id_col: str = "doc_id", n: int = 3, k: int = 8,
                       bands: int = 4) -> DataFrame:
    """Curate a NEW batch against an already-ingested corpus without
    touching the corpus text — the daily-update form of
    :func:`curate_corpus`.

    The corpus is represented solely by its :func:`signature_index`
    ledger. Drop rules, in order, mirroring curate_corpus with
    "corpus always wins":

    1. quality < min_quality (batch profile, survivors only — victims
       for rules 2-4 are computed pre-filter, same stability contract
       as curate_corpus)
    2. exact duplicate of ANY ledger row (content-hash anti-join), or
       of a lower-id batch doc
    3. LSH near-duplicate (est_jaccard >= near_threshold) of ANY ledger
       row — the new doc is always the victim regardless of id order
    4. LSH near-duplicate of a lower-id batch doc

    Scale design: batch-side work is proportional to the BATCH (profile
    + signatures are row-local), and the corpus probe is a (band,
    bucket) equi-join of the batch's banded signatures against the
    banded ledger — candidates meet only inside shared buckets, then
    the k-wide signatures verify. Three hash-partition shuffles total
    (bucket probe, batch self-probe, id-keyed victim anti-joins),
    none proportional to corpus text.
    """
    from pyspark.sql import Window

    from w_userflow_featurestore_spark.operators.dedup import (
        band_buckets, minhash_signatures)

    prof = text_profile(new_docs)
    # Lineage cut: the batch signatures feed SIX downstream branches
    # (banded probe, batch self-probe x2, signature verify x3); without
    # it each branch re-shingles the batch text from source. The frame
    # is batch-proportional and ~100 bytes/doc — the same bounded
    # executor-local materialization the ledger gets in production by
    # being a real table.
    new_sigs = minhash_signatures(new_docs, id_col=id_col, n=n, k=k) \
        .localCheckpoint(eager=True)

    # rule 2: exact dups — vs ledger, then lowest-id-wins inside batch
    keep = (prof
            .join(ledger.select("content_hash").distinct(),
                  "content_hash", "left_anti")
            .withColumn("__min_id",
                        F.min(id_col).over(Window.partitionBy("content_hash")))
            .where(F.col(id_col) == F.col("__min_id"))
            .drop("__min_id"))

    # rules 3+4 share one banded batch subplan and one signature
    # projection — the minhash aggregation's exchange is identical in
    # every reuse, so Spark replays it instead of re-shingling the batch
    from w_userflow_featurestore_spark.functions import fround
    nb = band_buckets(new_sigs, id_col, k=k, bands=bands)
    cb = band_buckets(ledger, id_col, k=k, bands=bands) \
        .select(F.col(id_col).alias("__cid"), "band", "bucket")
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(k)])
    nsig = new_sigs.select(F.col(id_col), sig_arr.alias("__sig"))
    csig = ledger.select(F.col(id_col).alias("__cid"),
                         sig_arr.alias("__csig"))

    def _agree(a: str, b: str):
        return F.size(F.filter(
            F.zip_with(a, b, lambda x, y: x == y), lambda e: e))

    # rule 3: near-dup vs corpus — banded probe + signature verify
    cand = (nb.join(cb, ["band", "bucket"])
            .select(id_col, "__cid").dropDuplicates([id_col, "__cid"]))
    corpus_victims = (cand.join(nsig, id_col).join(csig, "__cid")
                      .where(fround(_agree("__sig", "__csig")
                                    / F.lit(float(k)), 2) >= near_threshold)
                      .select(id_col).distinct())

    # rule 4: near-dup inside the batch — higher id loses (same
    # candidates + verify as lsh_candidate_pairs, on the shared subplans)
    a, b = nb.alias("a"), nb.alias("b")
    bpairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
              .select(F.col(f"a.{id_col}").alias("__wa"),
                      F.col(f"b.{id_col}").alias("__wb"))
              .dropDuplicates(["__wa", "__wb"]))
    batch_victims = (bpairs
                     .join(nsig.select(F.col(id_col).alias("__wa"),
                                       F.col("__sig").alias("__sa")),
                           "__wa")
                     .join(nsig.select(F.col(id_col).alias("__wb"),
                                       F.col("__sig").alias("__sb")),
                           "__wb")
                     .where(fround(_agree("__sa", "__sb")
                                   / F.lit(float(k)), 2) >= near_threshold)
                     .select(F.col("__wb").alias(id_col)).distinct())

    return (keep
            .where(F.col("quality") >= min_quality)
            .join(corpus_victims, id_col, "left_anti")
            .join(batch_victims, id_col, "left_anti")
            .select(id_col, "lang_pred", "quality", "n_tokens_ws",
                    "content_hash"))
