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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import fround, sql_ident
from w_userflow_featurestore_spark.operators.dedup import (
    _agreement, _minhash_aggs, _signature_k, band_buckets,
    content_hash, exact_dedup, lsh_candidate_pairs, minhash_signatures,
    shingles,
)
from w_userflow_featurestore_spark.operators.text import text_profile
from w_userflow_featurestore_spark.sources import fan_out


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
        content_hash(sql_ident(text_col)),
        F.explode(shingles(sql_ident(text_col), n)).alias("shingle"))
    return sh.groupBy(id_col, "content_hash").agg(*_minhash_aggs(k))


def incremental_curate(new_docs: DataFrame, ledger: DataFrame,
                       min_quality: float = 0.5,
                       near_threshold: float = 0.5,
                       id_col: str = "doc_id", n: int = 3,
                       bands: int = 4) -> DataFrame:
    """Curate a NEW batch against an already-ingested corpus without
    touching the corpus text — the daily-update form of
    :func:`curate_corpus`.

    The corpus is represented solely by its :func:`signature_index`
    ledger; the batch signatures are built at the ledger's ``k`` (its
    number of ``mh`` columns). Drop rules, in order, mirroring
    curate_corpus with "corpus always wins":

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
    prof = text_profile(new_docs)
    k = _signature_k(ledger)
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

    # rule 3: near-dup vs corpus — banded probe + signature verify. The
    # batch's banded subplan and signature projection are the same
    # plans rule 4 builds, so Spark reuses their exchanges.
    cb = band_buckets(ledger, id_col, bands) \
        .select(F.col(id_col).alias("__cid"), "band", "bucket")
    cand = (band_buckets(new_sigs, id_col, bands).join(cb, ["band", "bucket"])
            .select(id_col, "__cid").dropDuplicates([id_col, "__cid"]))
    corpus_victims = (_agreement(cand, new_sigs, ledger, id_col,
                                 a=id_col, b="__cid")
                      .where(fround(F.col("n_agree") / F.lit(float(k)), 2)
                             >= near_threshold)
                      .select(id_col).distinct())

    # rule 4: near-dup inside the batch — higher id loses
    batch_victims = (lsh_candidate_pairs(new_sigs, id_col, bands,
                                         near_threshold)
                     .select(F.col("doc_b").alias(id_col)).distinct())

    return (keep
            .where(F.col("quality") >= min_quality)
            .join(corpus_victims, id_col, "left_anti")
            .join(batch_victims, id_col, "left_anti")
            .select(id_col, "lang_pred", "quality", "n_tokens_ws",
                    "content_hash"))
