"""Deduplication operators for large-scale training-data pipelines.

The reference's dedup surface is keep-latest-by-key over events
(reference silver_user_session_events.py:87-92 — see operators/cleanse.py);
this module adds the document-level dedup family a 100 TB corpus needs:

- exact dedup           — content-hash groupBy (one shuffle on the hash)
- MinHash signatures    — shingle -> k minwise hashes, one explode+agg
- MinHash-LSH pairs     — band -> bucket self-join (candidates only meet
                          inside a bucket; never O(n^2))
- n-gram Jaccard pairs  — EXACT Jaccard via a shingle inverted index
                          (posting-list join; quadratic only within a
                          shingle's posting list, use as verify stage)
- SimHash + near-dup    — per-bit majority signature, banded hamming join

Everything is built from deterministic, engine-portable primitives
(md5-derived 60-bit integers — identical in Spark and DuckDB, so every op
here has a full value-level oracle) and stays JVM-side: no Python UDFs,
shingling via split/transform/sequence higher-order functions.

Every pairwise op is filter-and-refine, one function per step: the
exact-dup key ``content_hash``, the k min-hash aggregates
``_minhash_aggs``, the bucket self-join ``_bucket_pairs``, the signature
verify ``_agreement`` (agreeing minhashes, scaled by each caller; a
signature's k is its count of mh columns) and the posting-list pair
count ``_posting_pairs`` with its stop-posting cap.

Scale design (100 TB): every op is one explode + one hash-partition
shuffle on a derived key (content hash / band hash / shingle). Posting
lists and buckets bound the join fan-out; skewed mega-postings (stop-word
shingles) are dropped with ``max_posting`` before the pair join — the
standard guard in web-scale dedup pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import (
    bp, fround, sql_ident, sql_str,
)
from w_userflow_featurestore_spark.sources import fan_out

# ---------------------------------------------------------------------------
# portable primitives
# ---------------------------------------------------------------------------


# Expression helpers take a SQL fragment (a backticked column name or an
# expression) and return a Column parsed by one ``F.expr``.


def _hash60_sql(payload: str, seed: int | str | None = None) -> str:
    if seed is not None:
        payload = f"concat({sql_str(f'{seed}:')}, {payload})"
    return f"CAST(conv(substring(md5({payload}), 1, 15), 16, 10) AS BIGINT)"


def _norm_sql(x: str) -> str:
    return f"trim(regexp_replace(lower({x}), '[^a-z0-9]+', ' '))"


def _words_sql(x: str) -> str:
    return f"split({_norm_sql(x)}, ' ')"


def _shingles_sql(x: str, n: int = 3) -> str:
    ws = _words_sql(x)
    k = f"greatest(size({ws}) - {n - 1}, 1)"
    return (f"array_distinct(transform(sequence(1, {k}),"
            f" i -> concat_ws(' ', slice({ws}, i, {n}))))")


def text_hash60(col: str, seed: int | str | None = None) -> Column:
    """Deterministic 60-bit non-negative integer hash of a string.

    First 15 hex chars of md5 parsed as an integer — both engines compute
    md5 identically, and 15 hex digits (60 bits) always fit a signed
    BIGINT. DuckDB twin: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT).
    Seeded variants hash the payload prefixed with ``"{seed}:"``, giving
    k independent hash families for minwise hashing. The seed's STRING
    FORM is part of the cross-engine hash contract (mirrored literally in
    every DuckDB oracle), so int and str seeds are both first-class:
    hash(seed=1) == hash(seed="1"), and a named seed like "shuffle" is
    just another family. Any seed text is quoted exactly (sql_str).
    """
    return F.expr(_hash60_sql(col, seed))


def normalize_text(col: str) -> Column:
    """Canonical text form shared by all dedup/text ops: lowercase,
    non-alphanumerics collapsed to single spaces, trimmed."""
    return F.expr(_norm_sql(col))


def content_hash(col: str) -> Column:
    """``content_hash``: md5 of the normalized text, the exact-dup key."""
    return F.expr(f"md5({_norm_sql(col)})").alias("content_hash")


def words(col: str) -> Column:
    """Normalized token array."""
    return F.expr(_words_sql(col))


def shingles(col: str, n: int = 3) -> Column:
    """Array of word n-gram shingles (distinct, order-free set).

    slice/transform/sequence higher-order functions — evaluated inside
    codegen, no UDF. A document shorter than ``n`` words yields its whole
    text as the single shingle.
    """
    return F.expr(_shingles_sql(col, n))


def exploded_shingles(docs: DataFrame, text_col: str, id_col: str,
                      n: int) -> DataFrame:
    """(id, shingle) rows: narrow-project, fan out across cores, explode.

    The fan_out matters because shingling + hashing is the compute-dense
    part of every dedup op: without it a single-split input would pin the
    whole stage to one core (no-op at real scale — see sources.fan_out).
    """
    base = fan_out(docs.select(F.col(id_col), F.col(text_col)))
    return base.select(
        F.col(id_col),
        F.explode(shingles(sql_ident(text_col), n)).alias("shingle"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Content-hash exact dedup: every doc tagged with its normalized
    content hash, the group size, and ``keep`` (1 for the lowest id of
    each group — the canonical survivor).

    One shuffle on the 128-bit content hash; at 100 TB this is the
    standard first pass (hash is tiny vs text, so the exchange moves
    ~16 bytes/doc + id).
    """
    d = fan_out(docs.select(F.col(id_col), F.col(text_col))) \
        .select(F.col(id_col), content_hash(sql_ident(text_col)))
    w = Window.partitionBy("content_hash")
    return (d
            .withColumn("dup_count", F.count(F.lit(1)).over(w))
            .withColumn("keep",
                        F.when(F.col(id_col) == F.min(id_col).over(w), 1)
                         .otherwise(0)))


# ---------------------------------------------------------------------------
# near-duplicate core: candidates meet in a bucket or a posting list,
# then one exact verify
# ---------------------------------------------------------------------------


def _self_join(rows: DataFrame, id_col: str, keys: tuple[str, ...],
               carry: tuple[str, ...] = ()
               ) -> tuple[DataFrame, list[Column]]:
    """``rows`` joined to itself on all ``keys`` with a.id < b.id, and
    the pair columns doc_a, doc_b, then ``{c}_a``, ``{c}_b`` per carry."""
    a, b = rows.alias("a"), rows.alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in keys]
    on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    cols = [F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}")
              for c in carry for s in "ab"]]
    return a.join(b, on), cols


def _bucket_pairs(banded: DataFrame, id_col: str, keys: tuple[str, ...],
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """Distinct pairs sharing >= 1 bucket (``keys``): only keys, id and
    carry move through the bucket shuffle."""
    joined, cols = _self_join(banded, id_col, keys, carry)
    return joined.select(*cols).dropDuplicates(["doc_a", "doc_b"])


def _posting_pairs(postings: DataFrame, id_col: str, key: str,
                   max_posting: int | None = None,
                   carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_a, doc_b, carry..., common): how many ``key`` values each
    pair shares. ``max_posting`` first drops every key held by more rows
    (a stop-shingle in 1 M docs is 10^12 pairs and no information);
    carry columns depend on the id alone, so they widen no group."""
    if max_posting is not None:
        ok = (postings.groupBy(key).agg(F.count(F.lit(1)).alias("pl"))
                      .where(F.col("pl") <= max_posting))
        postings = postings.join(ok.select(key), key, "left_semi")
    joined, cols = _self_join(postings, id_col, (key,), carry)
    return joined.groupBy(*cols).agg(F.count(F.lit(1)).alias("common"))


def _signature_k(signatures: DataFrame) -> int:
    """A signature frame's k: its number of mh0..mh{k-1} columns."""
    cols = signatures.columns
    return next(k for k in range(len(cols) + 1) if f"mh{k}" not in cols)


def _minhash_aggs(k: int) -> list[Column]:
    """The k seeded min-hash aggregates over a ``shingle`` column."""
    return [F.expr(f"min({_hash60_sql('shingle', seed=i)})").alias(f"mh{i}")
            for i in range(k)]


def _agreement(pairs: DataFrame, sigs_a: DataFrame, sigs_b: DataFrame,
               id_col: str, a: str = "doc_a",
               b: str = "doc_b") -> DataFrame:
    """``pairs`` with ``n_agree``, the number of equal minhashes in the
    signatures of ``a`` and ``b``. Each side's signature rejoins by id
    once (a broadcast at small scale), never x bands through the bucket
    join."""
    sig = F.array(*[F.col(f"mh{i}") for i in range(_signature_k(sigs_a))])
    return (pairs
            .join(sigs_a.select(F.col(id_col).alias(a), sig.alias("sig_a")), a)
            .join(sigs_b.select(F.col(id_col).alias(b), sig.alias("sig_b")), b)
            .withColumn("n_agree", F.size(F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda e: e))))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       k: int = 8) -> DataFrame:
    """k-permutation MinHash signature per document.

    explode(shingles) -> groupBy(doc) with k min(hash_i) aggregates: one
    shuffle keyed on the doc id, k columns wide. The k hash families are
    seeded md5s — portable and independent-enough for Jaccard estimation
    (k=8 default keeps the driver-oracle SQL tractable; production would
    use 128).
    """
    sh = exploded_shingles(docs, text_col, id_col, n)
    return sh.groupBy(id_col).agg(*_minhash_aggs(k))


def band_buckets(signatures: DataFrame, id_col: str = "doc_id",
                 bands: int = 4) -> DataFrame:
    """(id, band, bucket) rows from a minhash-signature table — the
    LSH index in its PERSISTABLE form. A band's bucket key is the md5 of
    its ``k/bands`` concatenated minhashes (k: the mh column count); two
    docs are candidates iff they share >=1 (band, bucket). Written to a
    ledger table, this is what lets a new batch probe a 100 TB corpus
    without rescanning it (see operators/curate.py incremental_curate)."""
    k = _signature_k(signatures)
    if bands < 1 or k < 1 or k % bands:
        raise ValueError(f"bands={bands} must divide the signature's k={k}")
    r = k // bands
    structs = ",".join(
        "named_struct('band', {b}, 'bucket', md5(concat_ws(',', {cols})))"
        .format(b=b, cols=",".join(f"CAST(mh{i} AS STRING)"
                                   for i in range(b * r, (b + 1) * r)))
        for b in range(bands))
    return signatures.select(
        F.col(id_col),
        F.expr(f"explode(array({structs}))").alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def _lsh_agreement(signatures: DataFrame, id_col: str,
                   bands: int) -> DataFrame:
    """The banded candidate pairs of ``signatures``, with n_agree."""
    pairs = _bucket_pairs(band_buckets(signatures, id_col, bands), id_col,
                          ("band", "bucket"))
    return _agreement(pairs, signatures, signatures, id_col)


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        bands: int = 4,
                        min_est_jaccard: float = 0.5) -> DataFrame:
    """MinHash-LSH candidate pairs: signatures -> bands -> bucket join.

    Each signature is cut into ``bands`` bands of k/bands rows; a band's
    bucket key is the md5 of its concatenated minhashes. Two docs meet
    iff they collide in >=1 band — the join is on (band_idx, bucket), so
    work scales with bucket sizes, never n^2. Pair output carries the
    full-signature agreement fraction (the Jaccard estimate), filtered
    at ``min_est_jaccard``.
    """
    k = float(_signature_k(signatures))
    return (_lsh_agreement(signatures, id_col, bands)
            .withColumn("est_jaccard", fround(F.col("n_agree") / F.lit(k), 2))
            .where(F.col("est_jaccard") >= min_est_jaccard)
            .select("doc_a", "doc_b", "est_jaccard"))


def minhash_lsh_dedup(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3, k: int = 8,
                      bands: int = 4,
                      min_est_jaccard: float = 0.5) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pair detection."""
    sigs = minhash_signatures(docs, text_col, id_col, n=n, k=k)
    return lsh_candidate_pairs(sigs, id_col, bands=bands,
                               min_est_jaccard=min_est_jaccard)


def minhash_accuracy(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3, k: int = 8,
                     bands: int = 4, min_est_bp: int = 5000,
                     max_posting: int = 64) -> DataFrame:
    """Estimator-quality eval: MinHash estimate vs EXACT Jaccard per
    LSH candidate pair — the dedup analog of the ANN recall gate. A
    hash-green LSH pipeline can still ship a useless estimator (too few
    permutations, broken hash family); this query makes the estimation
    error itself a certified value.

    All outputs are integer basis points built from pure integer
    arithmetic (counts, multiply, floor-div) so the value oracle is
    engine-exact with no float-parity treatment:
      est_bp   = agreeing-minhash count * (10000 / k)
      exact_bp = (|A ∩ B| * 10000) div (|A| + |B| - |A ∩ B|)
      err_bp   = |est_bp - exact_bp|

    Scale shape: the exact side is computed ONLY for candidate-pair
    members (a semi-join keeps the shingle explode proportional to the
    candidate set, not the corpus), and the inverted-index join carries
    the same always-on ``max_posting`` stop-shingle cap as
    ngram_jaccard_pairs — per-bucket work stays <= cap^2 at any corpus
    size. Set sizes are measured BEFORE the cap so exact_bp is the true
    Jaccard whenever no posting overflows (all test corpora).
    """
    if 10000 % k:
        raise ValueError(f"k={k} must divide 10000 for exact basis points")
    sigs = minhash_signatures(docs, text_col, id_col, n=n, k=k)
    est = (_lsh_agreement(sigs, id_col, bands)
           .withColumn("est_bp",
                       (F.col("n_agree") * F.lit(10000 // k)).cast("long"))
           .where(F.col("est_bp") >= min_est_bp)
           .select("doc_a", "doc_b", "est_bp"))
    # Materialize the two SMALL intermediates executor-locally: est
    # (candidate pairs) and the candidates' shingles both feed multiple
    # downstream branches (cand-id union, sizes, the capped self-join's
    # two aliases, the final join), and without a lineage cut Spark
    # recomputes each branch from the RAW CORPUS — measured 58 corpus
    # scans at fixture scale, i.e. dozens at 100 TB. Both frames are
    # candidate-proportional (never corpus-proportional), the same
    # bounded-materialization call incremental_curate makes for its
    # ledger probes.
    est = est.localCheckpoint(eager=True)

    cand_ids = (est.select(F.col("doc_a").alias(id_col))
                .unionByName(est.select(F.col("doc_b").alias(id_col)))
                .distinct())
    sh = (exploded_shingles(docs, text_col, id_col, n)
          .join(cand_ids, id_col, "left_semi")
          .localCheckpoint(eager=True))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    common = _posting_pairs(sh, id_col, "shingle", max_posting)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (est
            .join(common, ["doc_a", "doc_b"], "left")
            .withColumn("common", F.coalesce(F.col("common"), F.lit(0)))
            .join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("exact_bp",
                        F.expr("(common * 10000) div "
                               "(sz_a + sz_b - common)").cast("long"))
            .withColumn("err_bp", F.abs(F.col("est_bp") - F.col("exact_bp"))
                        .cast("long"))
            .select("doc_a", "doc_b", "est_bp", "exact_bp", "err_bp"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verify stage)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_posting: int | None = None) -> DataFrame:
    """EXACT n-gram-set Jaccard for every pair sharing >=1 shingle.

    Inverted-index join: explode distinct shingles, self-join posting
    lists, count common shingles per pair, then
    J = common / (|A| + |B| - common). At scale, ``max_posting`` drops
    degenerate stop-shingles whose posting lists would blow up the join
    (a shingle shared by 1 M docs contributes 10^12 pairs but zero
    information); the planted-near-dup recall loss is negligible.

    Scale shape: |A| is ``size()`` of the distinct-shingle array,
    computed ROW-LOCALLY in the same projection that explodes it, and
    ridden through the posting self-join as one extra integer per side
    — no separate sizes aggregate (a second explode pass + an id-keyed
    exchange) and no join-backs of the pair frame. The sizes are functionally
    dependent on the pair key, so they join the groupBy key for free
    (no extra groups, no aggregate buffer).
    """
    # The (array, size) pair is built behind a one-element-array
    # explode, deliberately: with the array in a plain projected column
    # the optimizer infers a size()>0 filter from the shingle explode,
    # collapses the projection into it, and pushes the full shingle
    # construction BELOW fan_out's repartition — the compute-dense
    # expression then runs twice per row on the unspread scan
    # (measured 3x slower at sf0.1). A Generate is a collapse/pushdown
    # barrier, so behind it the construction stays post-spread and
    # codegen's subexpression elimination evaluates it once; the
    # inferred filter for the real explode lands on the cheap struct
    # field instead.
    a_sql = _shingles_sql(sql_ident(text_col), n)
    wrapped = F.expr(f"explode(array(struct({a_sql} AS a,"
                     f" size({a_sql}) AS n)))").alias("_w")
    sh = (fan_out(docs.select(F.col(id_col), F.col(text_col)))
          .select(F.col(id_col), wrapped)
          .select(F.col(id_col), F.col("_w.n").alias("sz"),
                  F.explode("_w.a").alias("shingle")))
    return (_posting_pairs(sh, id_col, "shingle", max_posting, carry=("sz",))
            .withColumn("jaccard",
                        fround(F.col("common")
                               / (F.col("sz_a") + F.col("sz_b")
                                  - F.col("common")), 2))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n: int = 3, bits: int = 32) -> DataFrame:
    """SimHash signature: for each bit b, sum +-1 over the document's
    shingle hashes (bit set -> +1), bit b of the signature = 1 iff the
    sum is positive.

    One explode + one wide conditional aggregate (``bits`` sums) — same
    shuffle shape as MinHash. 32 bits keeps the oracle SQL readable;
    production uses 64.
    """
    sh = exploded_shingles(docs, text_col, id_col, n)
    h = _hash60_sql("shingle")
    bit_sums = [
        F.expr(f"sum(CASE WHEN (shiftright({h}, {b}) & 1) = 1"
               f" THEN 1 ELSE -1 END)").alias(f"s{b}")
        for b in range(bits)]
    g = sh.groupBy(id_col).agg(*bit_sums)
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)" for b in range(bits))
    return g.select(F.col(id_col), F.expr(sig).alias("simhash"))


def connected_components(pairs: DataFrame, id_a: str = "doc_a",
                         id_b: str = "doc_b",
                         max_iter: int = 50) -> DataFrame:
    """Connected components over near-duplicate pairs: (doc_id,
    component, keep) for every document appearing in >= 1 pair, where
    ``component`` is the smallest doc id reachable through the pair graph
    and ``keep`` marks that one survivor per component.

    Why: dropping the higher id of each PAIR under-merges transitive
    clusters (a~b, b~c but not a~c keeps both a and c only if b is
    dropped consistently) — production dedup clusters the pair graph and
    keeps one doc per component. This is the engine's iterative-algorithm
    pattern: min-label propagation, each round one join + one min-agg,
    converging in O(graph diameter) rounds. The driver loop only reads a
    scalar convergence count per round (no data collect); each round
    localCheckpoints the label table to keep lineage flat at scale.
    Near-dup components are tiny and shallow (diameter ~2-3), so 3-4
    rounds is typical regardless of corpus size.

    A graph whose diameter exceeds ``max_iter`` (a pathological chain —
    not a realistic near-dup cluster) RAISES instead of silently
    returning partially-merged labels: under-merged components would
    quietly keep duplicates, the worst failure mode for a dedup
    pipeline. Callers with genuinely deep graphs pass a larger
    ``max_iter`` (cost is linear in rounds).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (edges.select("src").distinct()
                   .withColumn("comp", F.col("src")))
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, "src")
                        .groupBy(F.col("dst").alias("src"))
                        .agg(F.min("comp").alias("nbr_comp")))
        new = (labels.join(nbr_min, "src", "left")
                     .select("src",
                             F.least("comp", F.coalesce("nbr_comp", "comp"))
                              .alias("comp"),
                             (F.coalesce("nbr_comp", "comp")
                              < F.col("comp")).cast("int").alias("_chg")))
        # LAZY checkpoint + the convergence count in ONE action: the
        # count job materializes the checkpoint as its side effect, so
        # each round schedules one Spark job instead of two (eager
        # materialize + separate count); the loop is barrier-bound, so
        # per-round job count IS its cost
        new = new.localCheckpoint(eager=False)
        changed = new.agg(F.sum("_chg")).first()[0] or 0
        labels = new.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: {changed} label(s) still changing "
            f"after max_iter={max_iter} rounds — graph diameter exceeds "
            f"the round budget; raise max_iter")
    return labels.select(
        F.col("src").alias("doc_id"), F.col("comp").alias("component"),
        F.when(F.col("src") == F.col("comp"), 1).otherwise(0).alias("keep"))


def simhash_near_pairs(signatures: DataFrame, id_col: str = "doc_id",
                       bits: int = 32, chunks: int = 4,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by banded hamming join over SimHash signatures.

    Pigeonhole: two signatures within hamming distance d < chunks must
    agree on >=1 of ``chunks`` bit-chunks, so candidates only meet inside
    a chunk-value bucket (same LSH shape as MinHash banding). Verified
    with bit_count(xor) <= max_hamming.
    """
    w = bits // chunks
    mask = (1 << w) - 1
    structs = ",".join(
        f"named_struct('chunk', {c}, 'val',"
        f" shiftright(simhash, {c * w}) & {mask})"
        for c in range(chunks))
    banded = signatures.select(
        F.col(id_col), F.col("simhash"),
        F.expr(f"explode(array({structs}))").alias("cb")
    ).select(id_col, "simhash", "cb.chunk", "cb.val")
    pairs = _bucket_pairs(banded, id_col, ("chunk", "val"),
                          carry=("simhash",))
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (pairs.withColumn("hamming", hamming.cast("long"))
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def dedup_rate_report(docs: DataFrame, group_col: str = "source",
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """The dedup DASHBOARD over :func:`exact_dedup` — per ``group_col``
    (source, crawl snapshot, ...): document count, distinct content
    count WITHIN the group, global survivors (the corpus-wide canonical
    copy landing in this group), and the within-group duplicate rate in
    exact integer basis points. The curation twin of
    ``quality_rule_report``: a source whose dup rate jumps is a
    re-crawl/ingest-loop incident signal, and the within-group vs
    global-survivor contrast separates "this source repeats itself"
    from "this source mirrors another source" — the two have different
    fixes (dedup config vs source selection).

    Returns (group_col, n_docs, n_unique, n_global_survivors,
    dup_rate_bp) with dup_rate_bp = (n_docs - n_unique) * 10000 DIV
    n_docs over within-group distinct hashes.

    Scale shape: :func:`exact_dedup`'s one content-hash shuffle (its
    window already computes the global survivor), the group column
    rides the hashed projection (~16 bytes + group key per doc through
    the exchange), and the rollup is one group-domain-sized hash-agg
    with a distinct on (group, hash) — bounded by the distinct-content
    count, with map-side partial aggregation.
    """
    d = fan_out(docs.select(F.col(id_col), F.col(text_col),
                            F.col(group_col))) \
        .select(F.col(id_col), F.col(group_col),
                content_hash(sql_ident(text_col)))
    w = Window.partitionBy("content_hash")
    tagged = d.withColumn(
        "keep", F.when(F.col(id_col) == F.min(id_col).over(w), 1)
                 .otherwise(0))
    return (tagged.groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.countDistinct("content_hash").cast("long")
                  .alias("n_unique"),
                 F.sum("keep").cast("long").alias("n_global_survivors"))
            .select(group_col, "n_docs", "n_unique",
                    "n_global_survivors",
                    bp("n_docs - n_unique", "n_docs").alias("dup_rate_bp")))


def ngram_novelty(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: what share of a document's distinct
    word n-gram shingles appear in NO other document. The
    contribution-scoring signal a curation pipeline uses to rank
    near-the-threshold documents — a doc whose shingles are all shared
    adds nothing a dedup pass wouldn't keep anyway, while a
    high-novelty doc is irreplaceable — and the corpus-health twin of
    :func:`dedup_rate_report` at the shingle grain instead of the
    whole-document grain.

    A shingle is "novel" when its document frequency is exactly 1
    (``shingles`` are per-doc distinct, so df counts documents, not
    occurrences). Returns (doc_id, n_shingles, n_novel, novelty_bp)
    with novelty_bp = n_novel / n_shingles in exact basis points.

    Scale shape: one shingle-grain hash-aggregate builds the df table
    (map-side combine absorbs hot boilerplate shingles), a window
    partitioned by the shingle key tags each (doc, shingle) row — the
    same exchange the aggregate already forced, no extra shuffle — and
    one doc-keyed aggregate emits the profile. Shingle strings never
    carry document text through the exchanges.
    """
    ex = exploded_shingles(docs, text_col, id_col, n)
    w = Window.partitionBy("shingle")
    tagged = ex.withColumn(
        "novel", F.when(F.count(F.lit(1)).over(w) == 1, 1).otherwise(0))
    return (tagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                 F.sum("novel").cast("long").alias("n_novel"))
            .select(F.col(id_col), "n_shingles", "n_novel",
                    bp("n_novel", "n_shingles").alias("novelty_bp")))


def cross_source_overlap(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         group_col: str = "source",
                         unit: Column | None = None) -> DataFrame:
    """Source-mirroring matrix: for every pair of sources, how many
    distinct content UNITS they SHARE, plus the unit Jaccard in exact
    basis points. :func:`dedup_rate_report` separates self-repeating
    sources from source-mirroring ones but can't say WHICH sources
    mirror each other — this is that report: two crawl feeds with high
    content Jaccard are the same upstream (drop one), and a benchmark
    source overlapping a training source is a contamination incident.

    ``unit`` is the per-document content key compared across sources —
    the exact normalized-content md5 by default (byte-level mirrors
    only); pass a near-dup-sensitive key like
    ``text.doc_fingerprint(col)`` (the winnowing bottom-1 shingle
    hash) to catch lightly-edited mirrors the exact hash misses — the
    unit the entry query uses, since a near-mirror is the common case.

    Returns (source_a, source_b, n_shared, jaccard_bp) for every
    UNORDERED source pair with n_shared >= 1, source_a < source_b.

    Scale shape: docs collapse to distinct (unit, source) rows first
    (one unit-grain exchange — the dedup pass's own shuffle), so the
    self-join on the unit fans out at most |sources| rows per unit
    side — bounded by the source DOMAIN (dozens), not by dup-group
    size: a unit duplicated a million times inside one source
    contributes exactly one row per side. Per-source distinct-unit
    counts ride a broadcast join onto the source-pair-grain result
    (|sources|^2 rows at most).
    """
    if unit is None:
        unit = content_hash(sql_ident(text_col))
    # Lineage cut: the distinct (unit, source) frame feeds THREE
    # consumers (both self-join sides + the per-source totals); without
    # it each consumer recomputes the unit expression over the corpus —
    # ruinous for shingle-derived units like the winnowing fingerprint.
    # The frame is two narrow columns at <= corpus cardinality.
    d = (fan_out(docs.select(F.col(id_col), F.col(text_col),
                             F.col(group_col)))
         .select(unit.alias("content_hash"),
                 F.col(group_col).alias("src"))
         .distinct()
         .localCheckpoint(eager=True))
    a = d.select("content_hash", F.col("src").alias("source_a"))
    b = d.select("content_hash", F.col("src").alias("source_b"))
    shared = (a.join(b, "content_hash")
              .where(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))
    per_src = d.groupBy("src").agg(F.count(F.lit(1)).cast("long")
                                    .alias("n_hashes"))
    return (shared
            .join(F.broadcast(per_src.select(
                F.col("src").alias("source_a"),
                F.col("n_hashes").alias("ua"))), "source_a")
            .join(F.broadcast(per_src.select(
                F.col("src").alias("source_b"),
                F.col("n_hashes").alias("ub"))), "source_b")
            .select("source_a", "source_b", "n_shared",
                    bp("n_shared", "ua + ub - n_shared").alias("jaccard_bp")))


def quality_survivor_dedup(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           pairs: DataFrame | None = None,
                           **lsh_kwargs) -> DataFrame:
    """Near-dup dedup that keeps the BEST document of each cluster, not
    the lowest-id one. :func:`connected_components`' min-id survivor is
    the right canonical label but the wrong editorial policy — when a
    cluster holds a clean original and a truncated mirror, production
    dedup (RefinedWeb, FineWeb) keeps the higher-quality copy. Quality
    here is the distinct-word count (lexical richness — the truncated
    or boilerplate-padded copy of a near-dup cluster has fewer distinct
    words), with doc_id ASC as the deterministic tie-break.

    Every document gets a row: docs in no near-dup pair are their own
    singleton component (the :func:`leakage_safe_split`
    coalesce-to-self convention) and survive trivially.

    Returns (doc_id, component, n_distinct_words, keep).

    Scale shape: the pair graph comes from banded MinHash-LSH (never
    all-pairs), components from min-label propagation (O(diameter)
    rounds), and the survivor election is one window partitioned by
    component — near-dup clusters are tiny, singletons dominate, so the
    partition key is ~corpus-cardinality with no skew. The quality
    column is row-local (size(array_distinct(words))) — no token
    explode, no extra shuffle.
    """
    if pairs is None:
        pairs = minhash_lsh_dedup(docs, text_col=text_col, id_col=id_col,
                                  **lsh_kwargs)
    comp = connected_components(pairs).select(
        F.col("doc_id").alias(id_col), "component")
    quality = F.expr(f"CAST(size(array_distinct(filter("
                     f"{_words_sql(sql_ident(text_col))}, w -> w != '')))"
                     f" AS BIGINT)")
    scored = (fan_out(docs.select(F.col(id_col), F.col(text_col)))
              .select(F.col(id_col), quality.alias("n_distinct_words")))
    labeled = (scored.join(comp, id_col, "left")
               .select(F.col(id_col),
                       F.coalesce("component", F.col(id_col))
                        .alias("component"),
                       "n_distinct_words"))
    w = Window.partitionBy("component").orderBy(
        F.col("n_distinct_words").desc(), F.col(id_col).asc())
    return (labeled
            .withColumn("keep",
                        F.when(F.row_number().over(w) == 1, 1)
                         .otherwise(0))
            .select(F.col(id_col), "component", "n_distinct_words",
                    "keep"))


def shingle_ledger(docs: DataFrame, n: int = 3, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """The persistable novelty state for an ingested corpus: one row
    per distinct 60-bit shingle HASH with the count of documents
    carrying it (sh, n_docs) — :func:`ngram_novelty`'s document-
    frequency table in ledger form, the same state discipline as
    ``text.gram_ledger`` (substring spans) and ``curate.
    signature_index`` (minhash bands).

    Hash-keyed on purpose: ~16 bytes per distinct shingle, a single
    BIGINT key (bucketable in production), vs carrying the shingle
    strings themselves. A 60-bit collision can only merge two shingles'
    counts (novel -> non-novel, the conservative direction), at ~1e-18
    per pair — the standard fingerprint trade every hash-keyed ledger
    in this engine makes. Per-doc-distinct shingles mean ``n_docs``
    counts documents, not occurrences, so it is additive under
    ingestion of DISJOINT batches (:func:`merge_shingle_ledger`).
    """
    ex = exploded_shingles(docs, text_col, id_col, n)
    return (ex.select(text_hash60("shingle").alias("sh"))
              .groupBy("sh")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))


def merge_shingle_ledger(ledger: DataFrame, batch: DataFrame) -> DataFrame:
    """Ledger after ingesting a batch: per-doc-distinct document counts
    are additive across disjoint doc sets, so the update is a union +
    re-aggregate on the hash key — no corpus rescan, partition-local
    when both sides are bucketed by ``sh``."""
    return (ledger.unionByName(batch)
                  .groupBy("sh")
                  .agg(F.sum("n_docs").cast("long").alias("n_docs")))


def incremental_novelty(new_docs: DataFrame, ledger: DataFrame,
                        n: int = 3, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Per-document shingle novelty for a NEW batch against an
    already-ingested corpus represented ONLY by its
    :func:`shingle_ledger` — the daily-update form of
    :func:`ngram_novelty`: score an incoming crawl batch's novelty
    against the corpus HISTORY without rescanning corpus text, the
    ledger discipline ``incremental_duplicate_spans`` applies to
    spans, applied to the novelty signal.

    A batch shingle is novel iff its document frequency across
    corpus + batch is exactly 1 — i.e. the result equals the full
    hash-grain novelty of ``corpus UNION batch`` restricted to batch
    documents (property-tested), computed from ~16 bytes of state per
    distinct corpus shingle.

    Returns (doc_id, n_shingles, n_novel, novelty_bp) — the
    :func:`ngram_novelty` schema at the hash grain.

    Scale shape: batch postings and their within-batch counts are
    batch-proportional; the corpus probe is one INNER equi-join of the
    ledger against the batch's distinct hash set (Catalyst broadcasts
    the small batch side — ledger work is a scan + bucket-local probe,
    never a corpus-sized shuffle); one doc rollup emits the profile.
    """
    ex = exploded_shingles(new_docs, text_col, id_col, n)
    posting = ex.select(F.col(id_col),
                        text_hash60("shingle").alias("sh")) \
        .localCheckpoint(eager=True)
    wsh = Window.partitionBy("sh")
    batch_df = posting.withColumn("_bdf", F.count(F.lit(1)).over(wsh))
    probe = (ledger.join(
        posting.select("sh").distinct(), "sh")
        .select("sh", F.col("n_docs").alias("_cdf")))
    tagged = (batch_df.join(probe, "sh", "left")
              .withColumn("_df", F.col("_bdf")
                          + F.coalesce("_cdf", F.lit(0))))
    return (tagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                 F.sum(F.when(F.col("_df") == 1, 1).otherwise(0))
                  .cast("long").alias("n_novel"))
            .select(F.col(id_col), "n_shingles", "n_novel",
                    bp("n_novel", "n_shingles").alias("novelty_bp")))
