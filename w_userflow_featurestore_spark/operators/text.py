"""Text-analysis operators: language ID, quality scoring, repetition and
PII signals, document fingerprinting and span dedup, and corpus
statistics (token counts, surprisal, BPE, TF-IDF, PMI).

The per-document signals (SURVEY.md §7.2 M6) are ROW-LOCAL — pure
column expressions, no shuffle, no UDF — so they scale linearly and
pipeline into the same scan as any downstream filter (a
quality-threshold filter composes into the parquet scan's predicate
pushdown). The corpus-statistics operators share one private path per
step: ``_tokens``, ``_counts``, ``_top_tokens``, ``_bigrams``,
``_surprisal_profile`` and the ``_bpe_*`` encoder.

All primitives are engine-portable (split/filter/transform higher-order
functions + md5 hashing) so each op has a full DuckDB value oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import (
    bp, exact_avg, fround, sql_ident, whole_bits,
)
from w_userflow_featurestore_spark.operators.dedup import (
    _hash60_sql, _norm_sql, _words_sql, content_hash, normalize_text,
    text_hash60, words,
)
from w_userflow_featurestore_spark.sources import LogTable, fan_out

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic. Order is the deterministic tie-break (earlier wins).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "que"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que"),
}

# BPE-ish token pattern: letter runs | digit runs | any single symbol.
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


# Expression helpers take a SQL fragment (a backticked column name or an
# expression) and return a Column parsed by one ``F.expr``; double
# literals carry the ``D`` suffix so the parser does not widen them to
# DECIMAL.


def _stop_hits_sql(ws: str, stopwords: tuple[str, ...]) -> str:
    """Frequency-sensitive stopword hit count of a word array."""
    arr = ",".join(f"'{w}'" for w in stopwords)
    return f"size(filter({ws}, w -> array_contains(array({arr}), w)))"


def token_count_ws(col: str) -> Column:
    """Whitespace token count over the normalized text."""
    return F.expr(f"size({_words_sql(col)})")


def token_count_bpe(col: str) -> Column:
    """BPE-ish subword proxy: count of letter-run / digit-run / symbol
    matches in the RAW lowercased text (punctuation counts, as a real
    byte-pair pretokenizer would see it)."""
    pat = BPE_TOKEN_RE.replace("\\", "\\\\")
    return F.expr(f"regexp_count(lower({col}), '{pat}')")


def lang_id(col: str) -> Column:
    """Stopword-profile language ID: argmax of per-language hit counts,
    'und' (undetermined) when nothing matches. Deterministic tie-break =
    LANG_PROFILES order. Accuracy is corpus-dependent (it is a heuristic);
    the contract is determinism + zero shuffle."""
    ws = _words_sql(col)
    hits = {lang: _stop_hits_sql(ws, prof)
            for lang, prof in LANG_PROFILES.items()}
    best = "greatest({})".format(",".join(hits.values()))
    out = "'und'"
    for lang in reversed(list(LANG_PROFILES)):      # earlier profile wins ties
        out = (f"CASE WHEN ((({hits[lang]}) > 0) AND (({hits[lang]}) ="
               f" ({best}))) THEN '{lang}' ELSE {out} END")
    return F.expr(out)


def quality_score(col: str) -> Column:
    """Composite [0,1] quality heuristic from length, alpha ratio, mean
    word length, and stopword density — the standard cheap pre-filter for
    training-corpus curation. Weights are fixed; each component is a pure
    arithmetic expression of the raw text, rounded with fround's
    floor(x * 100 + 0.5) / 100."""
    ws = _words_sql(col)
    n_tok = f"size({ws})"
    n_alpha = f"length(regexp_replace(lower({col}), '[^a-z0-9]', ''))"
    # mean word length over normalized text: chars minus separators / tokens
    mean_wl = f"((length({_norm_sql(col)}) - ({n_tok} - 1)) / {n_tok})"
    len_score = f"least({n_tok} / 64.0D, 1.0D)"
    alpha_ratio = f"({n_alpha} / length({col}))"
    stop = _stop_hits_sql(ws, LANG_PROFILES["en"])
    stop_density = f"least((({stop}) * 8.0D) / {n_tok}, 1.0D)"
    wl_score = (f"CASE WHEN (({mean_wl} >= 3.0D) AND ({mean_wl} <= 8.0D))"
                f" THEN 1.0D ELSE 0.5D END")
    q = (f"(((0.35D * {len_score}) + (0.25D * {alpha_ratio}))"
         f" + (0.25D * ({wl_score}))) + (0.15D * {stop_density})")
    return F.expr(f"floor((({q}) * 100.0D) + 0.5D) / 100.0D")


def doc_fingerprint(col: str, n: int = 5) -> Column:
    """Bottom-1 rolling fingerprint: min 60-bit hash over word n-gram
    shingles (array_min(transform(...)) — per-row, no explode). Two docs
    sharing their minimal shingle collide — the winnowing building block."""
    ws = _words_sql(col)
    k = f"greatest(size({ws}) - {n - 1}, 1)"
    sh = (f"transform(sequence(1, {k}),"
          f" i -> concat_ws(' ', slice({ws}, i, {n})))")
    return F.expr(f"array_min(transform({sh}, s -> {_hash60_sql('s')}))")


def winnow_fingerprints(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm): hash every char k-gram of the normalized text, then
    keep the minimum hash of each sliding window of ``w`` consecutive
    k-gram hashes. Guarantees every match of length >= k+w-1 shares a
    fingerprint, with ~2/(w+1) selection density.

    All row-local higher-order functions (sequence/transform/slice/
    array_min) until the final explode — fingerprint generation runs
    inside the scan stage with zero shuffle; the exploded output is the
    (fingerprint -> doc) inverted index used for copy detection.
    Degenerate docs (< k chars / < w k-grams) contribute their single
    minimum hash.
    """
    # Each intermediate is MATERIALIZED as a projection column before the
    # next HOF consumes it. HOF lambdas are interpreted (no codegen) and
    # do NOT common-subexpression-eliminate: inlining `norm` into the
    # per-position lambda re-runs the regex over the whole document at
    # every position — O(len^2) interpreted regex work per doc (measured:
    # a single such task ran 25+ min over sf0.1's documents).
    m = f"length(__winnow_norm) - {k - 1}"
    gram = _hash60_sql(f"substring(__winnow_norm, i, {k})")
    hs = F.expr(f"CASE WHEN {m} >= 1 THEN transform(sequence(1, {m}),"
                f" i -> {gram}) ELSE array({_hash60_sql('__winnow_norm')})"
                f" END")
    nwin = f"size(__winnow_hs) - {w - 1}"
    fps = F.expr(f"CASE WHEN {nwin} >= 1 THEN array_distinct(transform("
                 f"sequence(1, {nwin}),"
                 f" i -> array_min(slice(__winnow_hs, i, {w}))))"
                 f" ELSE array(array_min(__winnow_hs)) END")
    return (fan_out(docs.select(F.col(id_col), F.col(text_col)))
            .withColumn("__winnow_norm", normalize_text(f"`{text_col}`"))
            .withColumn("__winnow_hs", hs)
            .select(F.col(id_col), F.explode(fps).alias("fingerprint")))


def text_profile(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Full per-document profile: one narrow projection, zero shuffles
    (fan_out spreads the projection across cores when the input is a
    single split; no-op at scale)."""
    docs = fan_out(docs.select(F.col(id_col), F.col(text_col)))
    c = f"`{text_col}`"
    # long casts: DuckDB's len()/count() yield BIGINT, Spark's size()/
    # regexp_count() yield INT — align so schema comparison is width-proof
    return docs.select(
        F.col(id_col),
        token_count_ws(c).cast("long").alias("n_tokens_ws"),
        token_count_bpe(c).cast("long").alias("n_tokens_bpe"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_raw"),
        lang_id(c).alias("lang_pred"),
        quality_score(c).alias("quality"),
        doc_fingerprint(c).alias("fingerprint"),
        content_hash(c),
    )


# PII patterns engine-portable between Java regex (Spark) and RE2
# (DuckDB): no backreferences/lookaround, no alternation whose
# first-match semantics could diverge. Counts are taken on the
# PROGRESSIVELY scrubbed text (emails first, then IPs, then phone-like
# digit runs) so a digits-and-dots email never double-counts as an IP.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d -]{7,}\d", "<PHONE>"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact emails / IPv4s / phone-like digit runs, returning the
    scrubbed text plus per-type match counts and a ``has_pii`` flag.

    Row-local regexp chain — zero shuffles, pipelines into the scan like
    every other pre-filter; at 100 TB this runs inside the same stage as
    quality/repetition scoring with no extra pass over the corpus.
    """
    docs = fan_out(docs.select(F.col(id_col), F.col(text_col)))
    out = docs.withColumn("__t", F.col(text_col))
    counts = []
    for name, pat, repl in PII_PATTERNS:
        out = (out.withColumn(f"__n_{name}",
                              F.regexp_count(F.col("__t"), F.lit(pat))
                              .cast("long"))
               .withColumn("__t", F.regexp_replace("__t", pat, repl)))
        counts.append(F.col(f"__n_{name}").alias(f"n_{name}s"))
    total = sum((F.col(f"__n_{n}") for n, _, _ in PII_PATTERNS), F.lit(0))
    return out.select(F.col(id_col), *counts,
                      F.col("__t").alias("text_clean"),
                      (total > 0).cast("int").alias("has_pii"))


def _max_run(sorted_arr: str) -> Column:
    """Count of the most frequent element of a SORTED array = longest run
    of equal adjacent elements — one linear ``aggregate()`` pass per row.
    This turns "mode count", normally an explode + groupBy shuffle, into
    a row-local expression: the per-doc sort is O(n log n) inside codegen
    and the corpus never shuffles."""
    run = "CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END"
    return F.expr(f"aggregate({sorted_arr},"
                  f" named_struct('prev', '', 'run', 0, 'best', 0),"
                  f" (acc, x) -> named_struct('prev', x, 'run', {run},"
                  f" 'best', greatest(acc.best, {run})),"
                  f" acc -> acc.best)")


def _top_fracs(ws: str, n: str) -> tuple[Column, Column]:
    """(top_word, top_bigram) over the word-array column ``ws`` of size
    ``n``: the most frequent word's share of the words and the most
    frequent bigram's share of the ``n - 1`` bigrams, unrounded. A doc
    with a single word has no bigrams and scores 0 (never a descending
    ``sequence(1, 0)``)."""
    bigrams = (f"CASE WHEN {n} >= 2 THEN transform(sequence(1, {n} - 1),"
               f" i -> concat_ws(' ', slice({ws}, i, 2)))"
               f" ELSE CAST(array() AS ARRAY<STRING>) END")
    top_word = _max_run(f"array_sort({ws})").cast("double") / F.col(n)
    top_bigram = F.coalesce(
        _max_run(f"array_sort({bigrams})").cast("double")
        / F.nullif(F.col(n) - 1, F.lit(0)), F.lit(0.0))
    return top_word, top_bigram


def _repetition(n: Column, n_distinct: Column, top_word: Column,
                top_bigram: Column, top_word_max: float,
                top_bigram_max: float,
                distinct_min: float) -> tuple[Column, Column]:
    """(distinct_ratio, repetitive): the distinct-word ratio and the
    repetition flag, set when any of the three unrounded signals
    crosses its threshold."""
    distinct_ratio = n_distinct.cast("double") / n
    return distinct_ratio, ((top_word > F.lit(top_word_max))
                            | (top_bigram > F.lit(top_bigram_max))
                            | (distinct_ratio < F.lit(distinct_min)))


def repetition_profile(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", *,
                       top_word_max: float = 0.20,
                       top_bigram_max: float = 0.18,
                       distinct_min: float = 0.30) -> DataFrame:
    """Gopher/MassiveText-style repetition quality signals per document:
    distinct-word ratio, most-frequent-word fraction, most-frequent-
    bigram fraction, and a ``repetitive`` 0/1 flag when any signal
    crosses its threshold (compared on the UNROUNDED fractions, so the
    flag is independent of display rounding).

    Scale design: entirely row-local (sorted-run-length mode counts via
    :func:`_max_run`), so the op is a zero-shuffle projection that
    pipelines into the document scan — the cheap pre-filter runs before
    any shuffle-bearing dedup stage. Docs with a single word have no
    bigrams: ``top_bigram_frac`` is 0 there.
    """
    docs = fan_out(docs.select(F.col(id_col), F.col(text_col)))
    top_word, top_bigram = _top_fracs("__ws", "__n")
    out = (docs.withColumn("__ws", words(sql_ident(text_col)))
           .withColumn("__n", F.size(F.col("__ws")))
           .withColumn("__nd", F.size(F.array_distinct(F.col("__ws"))))
           .withColumn("__tw", top_word)
           .withColumn("__tb", top_bigram))
    n, tw, tb = F.col("__n"), F.col("__tw"), F.col("__tb")
    distinct_ratio, repetitive = _repetition(
        n, F.col("__nd"), tw, tb, top_word_max, top_bigram_max,
        distinct_min)
    return out.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.col("__nd").cast("long").alias("n_distinct_words"),
        fround(distinct_ratio, 4).alias("distinct_word_ratio"),
        fround(tw, 4).alias("top_word_frac"),
        fround(tb, 4).alias("top_bigram_frac"),
        repetitive.cast("int").alias("repetitive"))


def corpus_language_stats(docs: DataFrame, text_col: str = "text",
                          extra_dims: list[str] | None = None
                          ) -> DataFrame:
    """Predicted-language rollup with mean quality — the corpus-curation
    dashboard aggregate (one hash-agg shuffle on the tiny lang key).

    ``extra_dims`` prepends metadata grouping columns (e.g. the
    LABELED language, or the crawl source) so the dashboard slices by
    prediction WITHIN each metadata cell — still one hash aggregate,
    output cardinality = |dims x predicted langs| (dashboard-sized at
    any corpus scale)."""
    dims = list(extra_dims or [])
    docs = fan_out(docs.select(*[F.col(c) for c in dims],
                               F.col(text_col)))
    p = docs.select(*dims,
                    lang_id(f"`{text_col}`").alias("lang_pred"),
                    quality_score(f"`{text_col}`").alias("quality"),
                    token_count_ws(f"`{text_col}`").alias("n_tokens_ws"))
    return (p.groupBy(*dims, "lang_pred")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  # exact_avg: quality is 2-decimal; integer-scaled sum is
                  # immune to partial-agg summation order
                  exact_avg(F.col("quality")).alias("avg_quality"),
                  F.sum("n_tokens_ws").alias("total_tokens")))


def _tokens(docs: DataFrame, text_col: str, *carry: str) -> DataFrame:
    """(*carry, token): one row per non-empty normalized word of each
    document, the ``carry`` columns riding along."""
    return (fan_out(docs.select(*carry, text_col))
            .select(*carry,
                    F.explode(words(sql_ident(text_col))).alias("token"))
            .where(F.col("token") != ""))


def _counts(grams: DataFrame, n: str, *keys: str) -> DataFrame:
    """(*keys, n): occurrences of each distinct ``keys`` tuple; the
    map-side partial combine absorbs hot grams before the shuffle."""
    return grams.groupBy(*keys).agg(F.count(F.lit(1)).alias(n))


def _top_tokens(toks: DataFrame, k: int, n: str) -> DataFrame:
    """The ``k`` most frequent (token, n) of a token stream as a
    TakeOrdered top-k; ties break on the token, so the boundary is
    deterministic in any engine."""
    return (_counts(toks, n, "token")
            .orderBy(F.desc(n), F.asc("token"))
            .limit(k))


def _bigrams(docs: DataFrame, text_col: str, *carry: str) -> DataFrame:
    """(*carry, w1, w2): every adjacent word pair of each document,
    built row-locally from its word array (no self-join, no window);
    documents with fewer than two words yield none."""
    ws = words(sql_ident(text_col))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: F.struct(F.element_at(ws, i).alias("w1"),
                           F.element_at(ws, i + 1).alias("w2")))
    return (fan_out(docs.select(*carry, text_col))
            .where(F.size(ws) >= 2)      # sequence(1,0) would descend
            .select(*carry, F.explode(pairs).alias("p"))
            .select(*carry, F.col("p.w1").alias("w1"),
                    F.col("p.w2").alias("w2"))
            .where((F.col("w1") != "") & (F.col("w2") != "")))


def _surprisal_profile(counts: DataFrame, bits: DataFrame,
                       on: list[str], id_col: str, n: str) -> DataFrame:
    """(doc, n, sum_bits, mean_bits) from the (doc, *on, _c) gram counts
    and the (*on, bits) whole-bit weights: joined on the gram, summed
    per document, mean_bits = sum_bits / n rounded to 4 decimals (one
    exact division of two integers)."""
    return (counts.join(bits, on)
            .groupBy(id_col)
            .agg(F.sum("_c").alias(n),
                 F.sum(F.col("_c") * F.col("bits")).alias("sum_bits"))
            .select(F.col(id_col),
                    F.col(n).cast("long"),
                    F.col("sum_bits").cast("long"),
                    fround(F.col("sum_bits") / F.col(n), 4)
                     .alias("mean_bits")))


def frequent_tokens(docs: DataFrame, k: int = 20,
                    text_col: str = "text") -> DataFrame:
    """Corpus-wide top-``k`` tokens by document-stream frequency — the
    vocab/heavy-hitter extraction step before tokenizer training.

    One explode + one hash aggregate (map-side partial combine absorbs
    the heavy hitters before the shuffle, so skewed tokens like "the"
    never concentrate raw rows on one reducer), then a TakeOrdered top-k
    — no global sort materialization. Ties break on the token string so
    the boundary of the top-k set is deterministic in any engine."""
    return _top_tokens(_tokens(docs, text_col), k, "n_occurrences")


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    chunker feeding context-window training and retrieval indexes.

    Chunk ``i`` covers normalized words ``[i*stride, i*stride+chunk)``
    with ``stride = chunk_tokens - overlap``; the last chunk starts at
    the final stride boundary and may be short (it is never padded, and
    a doc shorter than one chunk yields itself whole). Row-local
    sequence/slice HOFs + one explode — no shuffle; chunk counts scale
    the output linearly, exactly like the shingle explode.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    docs = fan_out(docs.select(F.col(id_col), F.col(text_col)))
    out = (docs.withColumn("__ws", words(f"`{text_col}`"))
           .withColumn("__n", F.size(F.col("__ws"))))
    n, ws = F.col("__n"), F.col("__ws")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.floor((n - chunk_tokens + stride - 1) / stride).cast("long") + 1)
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.slice(ws, i * stride + 1, chunk_tokens))
    return (out
            .select(F.col(id_col),
                    F.posexplode(chunks).alias("chunk_id", "__cw"))
            .select(F.col(id_col),
                    F.col("chunk_id").cast("long"),
                    F.size("__cw").cast("long").alias("n_chunk_tokens"),
                    F.concat_ws(" ", "__cw").alias("chunk_text")))


def vocab_coverage(docs: DataFrame, vocab_k: int = 100,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document vocabulary coverage: the fraction of token
    occurrences covered by the corpus's top-``vocab_k`` tokens, in
    exact basis points — a standard curation quality signal (documents
    far off the corpus vocabulary are boilerplate, code dumps, or
    another language) and the coverage estimate tokenizer training
    reads.

    Plan: one explode feeds BOTH the vocab heavy-hitter aggregate
    (map-side partial combine absorbs hot tokens before the shuffle)
    and the per-doc rollup; the vocab (``vocab_k`` rows by
    construction) broadcasts back, so corpus-side cost is two hash
    aggregates and zero sort-merge joins at any scale. The vocab
    boundary ties break on the token string, and coverage_bp =
    floor(hits * 10000 / total) is integer math — both
    engine-portable, so the value oracle holds exactly. Docs with zero
    tokens have no occurrences to cover and yield no row (mirrors the
    oracle's inner unnest)."""
    toks = _tokens(docs, text_col, id_col)
    vocab = (_top_tokens(toks, vocab_k, "_n")
             .select("token", F.lit(1).alias("_v")))
    return (toks.join(F.broadcast(vocab), "token", "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.count("_v").alias("n_covered"))
            .select(F.col(id_col), "n_tokens", "n_covered",
                    F.floor(F.col("n_covered") * 10000 / F.col("n_tokens"))
                     .cast("long").alias("coverage_bp")))


def fingerprint_pairs(docs: DataFrame, min_shared: int = 2,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = 8, w: int = 4,
                      max_doc_freq: int | None = 64) -> DataFrame:
    """Copy-detection pairs from the winnowing index: document pairs
    sharing >= ``min_shared`` fingerprints, with the shared count —
    winnowing guarantees any common substring of length >= k+w-1 shares
    a fingerprint, so this surfaces cross-document COPIED SPANS
    (boilerplate, license blocks, mirrored paragraphs) that set-based
    MinHash misses when the rest of the documents differ.

    Scale shape: candidates meet only inside a fingerprint bucket, and
    the stop-fingerprint cap ``max_doc_freq`` is ON BY DEFAULT — a
    print appearing in more than ``max_doc_freq`` documents is dropped
    before any pair is formed, so a corpus-wide boilerplate print
    cannot explode one bucket into O(n^2) pairs (the same hot-key
    discipline as the LSH band join; a print shared by a large corpus
    fraction carries no copy-detection signal anyway, so dropping it
    is the algorithmically right choice). The capped path runs in TWO
    shuffles total: one exchange on fingerprint feeds a window
    doc-frequency count (mega-hot prints spill in the window operator
    instead of exploding a join), the surviving rows collect into a
    per-print id array WITHOUT re-exchanging (partitioning is
    preserved), pairs are generated row-locally from the sorted array
    (<= max_doc_freq^2/2 per print, ~16 KiB of structs at the default
    cap), and one final exchange aggregates shared counts per pair.
    Pass ``max_doc_freq=None`` only for exhaustive runs on corpora
    known to be bounded — it skips only the document-frequency filter,
    so the hottest print's pair expansion is quadratic in its posting
    list."""
    fp = winnow_fingerprints(docs, text_col, id_col, k, w)
    if max_doc_freq is not None:
        win = Window.partitionBy("fingerprint")
        fp = (fp.withColumn("_df", F.count(F.lit(1)).over(win))
                .where(F.col("_df") <= max_doc_freq))
    ids = F.array_sort(F.collect_list(id_col)).alias("ids")
    arr, n = F.col("ids"), F.size("ids")
    pairs = F.flatten(F.transform(
        arr, lambda x, i: F.transform(
            F.slice(arr, i + 2, n),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))
    return (fp.groupBy("fingerprint").agg(ids)
            .select(F.explode(pairs).alias("p"))
            .select(F.col("p.doc_a"), F.col("p.doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def line_dedup(docs: DataFrame, max_occurrences: int = 2,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-level line deduplication — the C4 boilerplate rule
    (Raffel et al. 2020 §2.2 apply it to three-sentence spans; CCNet /
    RefinedWeb to paragraphs and lines): a trimmed line occurring more
    than ``max_occurrences`` times ACROSS THE CORPUS is boilerplate
    (nav bars, cookie banners, license headers) and is removed from
    every document. Empty-after-trim lines are always removed.
    Documents with no surviving lines drop out entirely.

    Returns (doc_id, clean_text, n_lines_kept, n_lines_dropped) with
    surviving lines rejoined in original order.

    Scale shape: explode -> occurrence counts as a hash AGGREGATE over
    the 60-bit line hash (map-side partial combine absorbs corpus-hot
    boilerplate lines — no single reducer ever sees all copies of one
    line, unlike a count-window over the hash), filter that aggregate
    down to the HOT set (lines over the cap — at most N/cap rows, in
    practice the boilerplate heavy-hitters), and drop survivors via a
    hash-keyed ANTI-join, where AQE's skew split can fan a mega-hot
    probe key across tasks. Surviving lines then reassemble with one
    doc-keyed exchange (collect_list + array_sort by position). Line
    TEXT rides only the data exchanges; the aggregate and the
    anti-join carry hashes.
    """
    # The per-doc TOTAL line count rides every exploded row as a
    # row-local size(): it is functionally dependent on the doc, so it
    # joins the reassembly GROUP KEY for free instead of a second full
    # explode pass, an id-keyed aggregate and a join. The doc text's
    # split() is evaluated twice per row (size + the generator), far
    # cheaper than that extra pass.
    lines = (fan_out(docs.select(F.col(id_col), F.col(text_col)))
             .select(F.col(id_col),
                     F.size(F.split(F.col(text_col), "\n"))
                      .cast("long").alias("_n_total"),
                     F.posexplode(F.split(F.col(text_col), "\n"))
                      .alias("pos", "_raw"))
             .select(F.col(id_col), "_n_total", "pos",
                     F.trim(F.col("_raw")).alias("line")))
    nonempty = (lines.where(F.col("line") != "")
                     .withColumn("_lh", text_hash60("line")))
    hot = (nonempty.groupBy("_lh")
                   .agg(F.count(F.lit(1)).alias("_occ"))
                   .where(F.col("_occ") > max_occurrences)
                   .select("_lh"))
    kept = nonempty.join(hot, "_lh", "left_anti")
    return (kept.groupBy(id_col, "_n_total")
                .agg(F.array_sort(F.collect_list(
                         F.struct("pos", "line"))).alias("_ordered"))
                .select(F.col(id_col),
                        F.array_join(
                            F.transform(F.col("_ordered"),
                                        lambda s: s["line"]),
                            "\n").alias("clean_text"),
                        F.size("_ordered").cast("long")
                         .alias("n_lines_kept"),
                        (F.col("_n_total")
                         - F.size("_ordered")).cast("long")
                         .alias("n_lines_dropped")))


def duplicate_spans(docs: DataFrame, k: int = 8, min_count: int = 2,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Substring-level duplicate detection — the positional-k-gram
    approximation of suffix-array ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": any
    token span occurring verbatim elsewhere in the corpus is training
    redundancy, even when the DOCUMENTS containing it are unique).
    This is the granularity between :func:`exact_dedup` (whole-doc)
    and :func:`line_dedup` (corpus-hot lines): a duplicated QUOTE or
    pasted paragraph inside an otherwise-unique document.

    A token position ``p`` (1-based over the normalized words) is
    duplicated iff the k-gram starting at ``p`` occurs ``min_count``+
    times across the corpus (within-doc repeats count, matching
    ExactSubstr's self-repetition semantics). Overlapping/adjacent
    duplicated grams merge into maximal spans (hits ``p1 < p2`` merge
    iff ``p2 <= p1 + k``). Returns one row per span:
    (doc_id, span_start, span_end, span_tokens, n_grams), token
    indices 1-based inclusive.

    Scale shape — contrast with the pairwise family: postings NEVER
    pair documents, so there is no bucket-occupancy blowup to cap.
    One hash aggregate over the 60-bit gram hash finds corpus-hot
    grams (map-side combine absorbs boilerplate heavy hitters), one
    equi-join marks hit positions (id+pos payloads only; AQE skew
    split fans a mega-hot gram), and one per-doc window merges islands
    (state bounded by a single document's hits). Linear in corpus
    tokens end to end — this is why the k-gram approximation, not the
    suffix array, is the 100 TB shape.
    """
    posting = _gram_postings(docs, k, text_col, id_col)
    hot = (posting.groupBy("gh")
                  .agg(F.count(F.lit(1)).alias("_occ"))
                  .where(F.col("_occ") >= min_count)
                  .select("gh"))
    hits = posting.join(hot, "gh").select(id_col, "pos")
    return _merge_islands(hits, k, id_col)


def remove_duplicate_spans(docs: DataFrame, k: int = 8,
                           min_count: int = 2, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """The REWRITTEN corpus after excising duplicated spans — the
    actual output of ExactSubstr dedup (Lee et al. 2022 §3: the
    deduplicated dataset has the matched substrings REMOVED, not the
    containing documents dropped). :func:`duplicate_spans` finds the
    maximal duplicated spans; this operator reassembles each
    document from the span COMPLEMENT of its normalized token stream.

    Returns one row per input document:
    (doc_id, text_clean, n_tokens, n_tokens_removed, n_spans_removed)
    — ``text_clean`` is the kept tokens joined by single spaces (the
    normalized-word stream is the unit the spans index, exactly as
    Lee et al. rewrite the token stream, not raw bytes); documents
    with no duplicated spans pass through whole, and a fully-
    duplicated document survives as an empty string (span removal
    never drops rows — composing with a min-length filter is the
    caller's curation policy). Kept + removed token counts partition
    ``n_tokens`` by construction (property-tested).

    Scale shape: rides the :func:`duplicate_spans` pipeline
    unchanged (postings never pair documents), then ONE id-grain
    span rollup that reuses the island window's id-hash exchange
    (HashPartitioning(id) satisfies the (id)-clustered aggregate —
    no new shuffle) and ONE join back to the corpus, which is the
    only place document text moves. The complement itself is
    row-local higher-order functions: spans arrive merged and
    disjoint, so the per-token membership test is O(spans-in-doc)
    with spans bounded by n_tokens/k — no explode of token rows, no
    UDF, whole-stage codegen end to end.
    """
    spans = duplicate_spans(docs, k, min_count, text_col, id_col)
    return _excise_spans(docs, spans, text_col, id_col)


def _excise_spans(docs: DataFrame, spans: DataFrame, text_col: str,
                  id_col: str) -> DataFrame:
    """Reassemble each document from the complement of its (merged,
    disjoint) duplicate spans — the rewrite stage shared by the batch
    (:func:`remove_duplicate_spans`) and incremental
    (:func:`incremental_span_removed`) ExactSubstr paths, so 'the
    tokens a span keeps' is one code path. One id-grain span rollup
    (rides the island window's id-hash exchange), one join back to
    ``docs`` (the only place text moves), then row-local HOFs."""
    per_doc = (spans.groupBy(id_col)
               .agg(F.collect_list(
                        F.struct(F.col("span_start").alias("s"),
                                 F.col("span_end").alias("e")))
                    .alias("_spans")))
    base = (fan_out(docs.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), words(f"`{text_col}`").alias("_ws")))
    j = (base.join(per_doc, id_col, "left")
             .withColumn("_spans",
                         F.coalesce(F.col("_spans"),
                                    F.expr("CAST(array() AS "
                                           "array<struct<s:bigint,"
                                           "e:bigint>>)"))))
    n = F.size("_ws")
    kept = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: ~F.exists(F.col("_spans"),
                            lambda s: (i >= s["s"]) & (i <= s["e"])))
    return (j.select(
        F.col(id_col),
        F.concat_ws(" ", F.transform(kept,
                                     lambda i: F.element_at("_ws", i)))
         .alias("text_clean"),
        n.cast("long").alias("n_tokens"),
        (n - F.size(kept)).cast("long").alias("n_tokens_removed"),
        F.size("_spans").cast("long").alias("n_spans_removed")))


def _gram_postings(docs: DataFrame, k: int, text_col: str,
                   id_col: str) -> DataFrame:
    """(id, pos, gh): one 60-bit hash per positional word k-gram,
    1-based positions. Shared by batch and incremental substring dedup
    so their notion of 'the k-gram at position p' is one code path."""
    if k < 2:
        raise ValueError("k-gram spans need k >= 2")
    base = fan_out(docs.select(F.col(id_col), F.col(text_col)))
    ws = _words_sql(sql_ident(text_col))
    gram = _hash60_sql(f"concat_ws(' ', slice({ws}, i, {k}))")
    grams = F.expr(f"CASE WHEN size({ws}) >= {k} THEN transform(sequence(1,"
                   f" CAST(size({ws}) - {k} + 1 AS INT)), i -> {gram})"
                   f" ELSE CAST(array() AS ARRAY<BIGINT>) END")
    return (base.select(F.col(id_col),
                        F.posexplode(grams).alias("p0", "gh"))
                .select(F.col(id_col),
                        (F.col("p0") + 1).alias("pos"), "gh"))


def _merge_islands(hits: DataFrame, k: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of duplicated gram positions into maximal
    spans (hits p1 < p2 merge iff p2 <= p1 + k); state bounded by one
    document's hits."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.lag("pos").over(w).isNull()
                 | ((F.col("pos") - F.lag("pos").over(w)) > k), 1) \
           .otherwise(0)
    grp = (hits.withColumn("_brk", brk)
               .withColumn("_island",
                           F.sum("_brk").over(
                               w.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow))))
    return (grp.groupBy(id_col, "_island")
               .agg(F.min("pos").alias("_s"),
                    F.max("pos").alias("_e"),
                    F.count(F.lit(1)).alias("n_grams"))
               .select(F.col(id_col),
                       F.col("_s").cast("long").alias("span_start"),
                       (F.col("_e") + k - 1).cast("long")
                        .alias("span_end"),
                       (F.col("_e") - F.col("_s") + k).cast("long")
                        .alias("span_tokens"),
                       F.col("n_grams").cast("long")))


def gram_ledger(docs: DataFrame, k: int = 8, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """The persistable substring-dedup state for an ingested corpus:
    one row per DISTINCT k-gram hash with its corpus occurrence count
    (gh, occ) — the hot-gram twin of :func:`~w_userflow_featurestore_spark.operators.curate.signature_index`'s
    minhash ledger (reference discipline: ancestry-gated incremental
    loads, ``airflow/dags/silver_dag.py:65-88``).

    This is the ONLY state :func:`incremental_duplicate_spans` needs:
    ~16 bytes per distinct gram, linear in corpus tokens, keyed by a
    single BIGINT — in production a table bucketed by ``gh`` so the
    batch probe is a bucket-local join, and mergeable under ingestion
    by summing ``occ`` (counts are additive; see
    :func:`merge_gram_ledger`). The corpus TEXT is never rescanned.
    """
    return (_gram_postings(docs, k, text_col, id_col)
            .groupBy("gh")
            .agg(F.count(F.lit(1)).cast("long").alias("occ")))


def merge_gram_ledger(ledger: DataFrame, batch: DataFrame) -> DataFrame:
    """Ledger after ingesting a batch: occurrence counts are additive,
    so the update is a union + re-aggregate on the gram hash — no
    corpus rescan, and in production a partition-local combine when
    both sides are bucketed by ``gh``."""
    return (ledger.unionByName(batch)
                  .groupBy("gh")
                  .agg(F.sum("occ").cast("long").alias("occ")))


def incremental_duplicate_spans(new_docs: DataFrame, ledger: DataFrame,
                                k: int = 8, min_count: int = 2,
                                text_col: str = "text",
                                id_col: str = "doc_id") -> DataFrame:
    """Substring-level duplicate spans for a NEW batch against an
    already-ingested corpus represented ONLY by its :func:`gram_ledger`
    — the daily-update form of :func:`duplicate_spans`, matching the
    incremental-curation ledger discipline (``operators/curate.py``).

    A batch position ``p`` is duplicated iff its k-gram's occurrence
    count across corpus + batch reaches ``min_count`` — i.e. the result
    is EXACTLY ``duplicate_spans(corpus UNION batch)`` restricted to
    batch documents (the equivalence is property-tested), computed
    without touching corpus text.

    Scale shape: batch postings and their gram counts are
    batch-proportional; the corpus probe is an INNER equi-join of the
    ledger against the batch's distinct gram counts — Catalyst
    broadcasts the (small) batch side, so ledger work is a scan +
    bucket-local probe, never a corpus-sized shuffle. Grams hot within
    the batch alone skip the ledger entirely; the two hot sets are
    disjoint by construction (no distinct needed). Island merge is
    per-batch-doc windowing, identical to the batch path.
    """
    # Lineage cut: the batch postings feed THREE branches (batch gram
    # counts, the ledger probe's counts, the hit-position rejoin);
    # without it each branch re-shingles the batch text from source.
    # The frame is (id, pos, gh) — ~24 bytes per BATCH token, never
    # corpus-proportional — the same bounded materialization
    # incremental_curate gives its batch signatures.
    posting = _gram_postings(new_docs, k, text_col, id_col) \
        .localCheckpoint(eager=True)
    bcounts = posting.groupBy("gh").agg(
        F.count(F.lit(1)).alias("_bocc"))
    hot_batch = bcounts.where(F.col("_bocc") >= min_count).select("gh")
    hot_corpus = (ledger.join(bcounts, "gh")
                        .where((F.col("_bocc") < min_count)
                               & (F.col("occ") + F.col("_bocc")
                                  >= min_count))
                        .select("gh"))
    hits = (posting.join(hot_batch.unionByName(hot_corpus), "gh")
                   .select(id_col, "pos"))
    return _merge_islands(hits, k, id_col)


def incremental_span_removed(new_docs: DataFrame, ledger: DataFrame,
                             k: int = 8, min_count: int = 2,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """The ExactSubstr REWRITE for a NEW batch against an
    already-ingested corpus represented ONLY by its
    :func:`gram_ledger` — the daily-update twin of
    :func:`remove_duplicate_spans` and the rewrite half of
    :func:`incremental_duplicate_spans`, so a growing corpus never
    re-pays the whole-complement rewrite each batch.

    Returns the batch rewritten: one row per batch document with
    (doc_id, text_clean, n_tokens, n_tokens_removed, n_spans_removed)
    — by construction EXACTLY ``remove_duplicate_spans(corpus UNION
    batch)`` restricted to batch documents (inherited from the
    detect-side equivalence, both property-tested), computed without
    touching corpus text. Deployment shape: rewrite-on-ingest — each
    batch is excised once against the merged ledger
    (:func:`merge_gram_ledger` afterwards ingests the batch's grams),
    so corpus text is written once and never rescanned.

    Scale shape: the span detect rides
    :func:`incremental_duplicate_spans` unchanged (batch-proportional
    postings, broadcast-side ledger probe, per-batch-doc island
    merge); the rewrite is the shared :func:`_excise_spans` stage —
    one id-grain span rollup on the island window's existing id-hash
    exchange, one join back to the BATCH (the only text movement,
    batch-sized not corpus-sized), then row-local HOF complement. No
    token explode, no UDF, whole-stage codegen end to end."""
    spans = incremental_duplicate_spans(new_docs, ledger, k, min_count,
                                        text_col, id_col)
    return _excise_spans(new_docs, spans, text_col, id_col)


def token_surprisal(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram surprisal under the corpus's own language
    model — the CCNet/Gopher perplexity-filter signal (Wenzek et al.
    2020 rank documents by LM perplexity; low-surprisal docs are
    boilerplate-ish, high-surprisal docs are noise), with surprisal
    QUANTIZED TO WHOLE BITS so the value is exact integer arithmetic:
    a token occurring n_t times in a corpus of N tokens contributes
    ``whole_bits(N, n_t)`` = floor(log2(N/n_t)) bits
    (:func:`~w_userflow_featurestore_spark.functions.whole_bits`) — no
    floating-point log whose last-ulp libm differences could break
    cross-engine parity.

    Returns (doc_id, n_tokens, sum_bits, mean_bits) with mean_bits =
    sum_bits / n_tokens rounded to 4 decimals (one exact division of
    two integers).

    Scale shape: one token hash-aggregate builds the unigram LM
    (map-side combine absorbs hot tokens), the scalar N rides a 1-row
    broadcast (above_avg_orders' global-aggregate pattern), per-token
    bits join back to the token stream on the token key, and one
    doc-keyed aggregate emits the profile. Token strings never carry
    vectors or doc text through the exchanges.
    """
    # (doc, token, count) grain FIRST: the LM aggregate and the scoring
    # join then read the SAME (id, token)-keyed partial aggregate, so
    # its exchange plans once and replays as a ReusedExchange — the
    # token explode + normalization runs ONE map pass instead of two
    # (operations keyed the same way share one exchange).
    toks_cnt = _counts(_tokens(docs, text_col, id_col), "_c",
                       id_col, "token")
    lm = toks_cnt.groupBy("token").agg(F.sum("_c").alias("n_t"))
    total = lm.agg(F.sum("n_t").alias("n_total"))
    bits = (lm.crossJoin(F.broadcast(total))
              .select("token", whole_bits("n_total", "n_t")
                      .cast("long").alias("bits")))
    return _surprisal_profile(toks_cnt, bits, ["token"], id_col,
                              "n_tokens")


def quality_filter_verdict(docs: DataFrame, *,
                           min_words: int = 20,
                           quality_min: float = 0.5,
                           top_word_max: float = 0.20,
                           top_bigram_max: float = 0.18,
                           distinct_min: float = 0.30,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """The curation RULES ENGINE: per-document keep/drop verdict with
    PER-RULE attribution — the RedPajama/Gopher-style filter layer
    where a production pipeline needs to know not just that a document
    was dropped but WHY (rule hit-rates are the curation dashboard;
    a rule that suddenly drops 40% of a crawl is an incident signal).

    Four rules, every flag emitted alongside the verdict:
      pass_length     — >= ``min_words`` whitespace words,
      pass_quality    — heuristic :func:`quality_score` >= ``quality_min``
                        (compared on the published 2-decimal score),
      pass_repetition — none of :func:`repetition_profile`'s three
                        signals crosses its threshold (same unrounded
                        fractions, same defaults),
      pass_lang       — :func:`lang_id` identified a language ('und'
                        fails).
    ``keep`` = all four.

    Returns (doc_id, n_words, quality, lang_pred, pass_length,
    pass_quality, pass_repetition, pass_lang, keep).

    Scale shape: ONE row-local projection — the length/quality/
    repetition/language expressions all pipeline into the document
    scan with zero shuffles (repetition's mode counts via
    :func:`_max_run`'s sorted-run trick), so the complete rules engine
    costs one pass and composes as the pre-filter stage in front of
    any shuffle-bearing dedup (the same position curate_corpus gives
    its quality floor).

    ``carry_cols`` pass extra document columns (source, lang, ...)
    through the projection unchanged — so a downstream rollup like
    :func:`quality_rule_report` groups without joining the verdict
    back to the corpus (the zero-shuffle property is the point of the
    rules engine; a carry column is free, a doc-keyed rejoin is not).
    """
    docs = fan_out(docs.select(F.col(id_col), F.col(text_col),
                               *[F.col(c) for c in carry_cols]))
    c = f"`{text_col}`"
    out = (docs.withColumn("__ws", words(c))
               .withColumn("__n", F.size(F.col("__ws")))
               .withColumn("__q", quality_score(c))
               .withColumn("__lang", lang_id(c)))
    n = F.col("__n")
    _, repetitive = _repetition(
        n, F.size(F.array_distinct("__ws")), *_top_fracs("__ws", "__n"),
        top_word_max, top_bigram_max, distinct_min)
    # degenerate-doc guard: quality_score on an empty/whitespace text
    # divides by zero — Spark emits NULL where DuckDB emits NaN (and
    # DuckDB orders NaN ABOVE every number, so a bare `>=` would pass
    # there and NULL out here). An unscorable doc fails the rule,
    # explicitly, in both engines.
    q_ok = F.when(F.col("__q").isNull() | F.isnan("__q"),
                  F.lit(False)).otherwise(F.col("__q") >= quality_min)
    flags = {
        "pass_length": n >= min_words,
        "pass_quality": q_ok,
        "pass_repetition": ~repetitive,
        "pass_lang": F.col("__lang") != "und",
    }
    keep = flags["pass_length"]
    for f in list(flags.values())[1:]:
        keep = keep & f
    return out.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        n.cast("long").alias("n_words"),
        F.col("__q").alias("quality"),
        F.col("__lang").alias("lang_pred"),
        *[expr.alias(name) for name, expr in flags.items()],
        keep.alias("keep"))


def bigram_surprisal(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document BIGRAM surprisal under the corpus's own 2-gram MLE
    language model — the context-aware upgrade of
    :func:`token_surprisal` (CCNet's filter is a real n-gram LM; a
    unigram model can't see that "the the" is surprising), with the
    same whole-bit quantization: a bigram (a, b) occurring c2 times
    under a context ``a`` occurring c1 times contributes
    ``whole_bits(c1, c2)`` = floor(log2(c1/c2)) bits — exact integer
    arithmetic, never a float log.
    c1 >= c2 always (every bigram occurrence contains its context), so
    bits >= 0.

    Returns (doc_id, n_bigrams, sum_bits, mean_bits) for every doc
    with >= 2 countable words (a doc with fewer has no bigram to
    score; it gets no row — compose with token_surprisal for a
    backstop signal).

    Scale shape: bigrams are built ROW-LOCALLY from each doc's word
    array (transform over sequence — no self-join, no window, no
    per-token shuffle); one bigram hash-aggregate builds the LM
    (map-side combine), the per-bigram bits join back on the bigram
    key, and one doc-keyed aggregate emits the profile. The context
    counts reuse the same token stream (unigram hash-agg), joined into
    the LM on the context word.
    """
    uni = (_counts(_tokens(docs, text_col), "c1", "token")
           .withColumnRenamed("token", "w1"))
    # (doc, bigram, count) grain FIRST — the LM aggregate and the
    # scoring join share the (id, w1, w2) partial aggregate's exchange
    # (ReusedExchange), so the bigram build runs one map pass instead
    # of two (same shape as token_surprisal/dsir).
    big_cnt = _counts(_bigrams(docs, text_col, id_col), "_c",
                      id_col, "w1", "w2")
    lm2 = big_cnt.groupBy("w1", "w2").agg(F.sum("_c").alias("c2"))
    bits = (lm2.join(uni, "w1")
               .select("w1", "w2", whole_bits("c1", "c2")
                       .cast("long").alias("bits")))
    return _surprisal_profile(big_cnt, bits, ["w1", "w2"], id_col,
                              "n_bigrams")


def perplexity_buckets(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       lang_col: str = "lang") -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4): per
    language, bucket documents into thirds of the LM-surprisal
    distribution — 'head' (lowest surprisal, most fluent) typically
    kept outright, 'middle' kept or sampled, 'tail' dropped or
    down-weighted. Scores come from :func:`token_surprisal` (whole-bit
    quantized, cross-engine exact).

    Bucket rule — VALUE thresholds, not row-number tertiles: per
    language, t1 = the smallest score value whose cumulative doc count
    reaches ceil(n/3), t2 = likewise for ceil(2n/3); bucket = head iff
    score <= t1, middle iff score <= t2, else tail. Ties share a
    bucket (the CCNet semantic is "where does my score sit in the
    distribution", and value thresholds are what a percentile cut
    gives), so bucket sizes are exact thirds only up to ties.

    Returns (doc_id, lang, mean_bits, bucket).

    Scale shape — NO per-language global sort (a window partitioned
    by a handful of languages routes each language's corpus to one
    task). mean_bits is
    quantized to 4 decimals, so the score domain is small and
    bounded: the thresholds come from a (lang, score) HISTOGRAM — one
    hash-aggregate whose output is value-domain-sized, a window over
    that tiny frame, and a broadcast of ~2 rows per language back onto
    the scored docs. The corpus-sized frame never sorts and never
    shuffles beyond token_surprisal's own aggregates.
    """
    # Lineage cut: the scored frame feeds BOTH the histogram chain and
    # the final bucket assignment; without it the whole surprisal
    # subtree (two LM joins + a doc aggregate) runs twice. The
    # materialized frame is three narrow columns per doc — the same
    # bounded trade incremental_duplicate_spans makes for its postings.
    scored = (token_surprisal(docs, text_col, id_col)
              .join(docs.select(F.col(id_col), F.col(lang_col)), id_col)
              .select(F.col(id_col), F.col(lang_col).alias("lang"),
                      "mean_bits")
              .localCheckpoint(eager=True))
    hist = (scored.groupBy("lang", "mean_bits")
                  .agg(F.count(F.lit(1)).alias("_n")))
    w = (Window.partitionBy("lang").orderBy("mean_bits")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = Window.partitionBy("lang")
    cum = (hist.withColumn("_cum", F.sum("_n").over(w))
               .withColumn("_tot", F.sum("_n").over(tot)))
    # smallest value reaching ceil(n/3) / ceil(2n/3); ceiling as
    # (n + 2) DIV 3 — POSITIVE operands only, because Spark's DIV
    # truncates toward zero while DuckDB's // floors, and the two
    # diverge exactly on negative operands
    thresholds = (cum.groupBy("lang")
                  .agg(F.min(F.when(F.expr("_cum >= (_tot + 2) DIV 3"),
                                    F.col("mean_bits"))).alias("_t1"),
                       F.min(F.when(F.expr("_cum >= (2 * _tot + 2) DIV 3"),
                                    F.col("mean_bits"))).alias("_t2")))
    return (scored.join(F.broadcast(thresholds), "lang")
            .select(id_col, "lang", "mean_bits",
                    F.when(F.col("mean_bits") <= F.col("_t1"), "head")
                     .when(F.col("mean_bits") <= F.col("_t2"), "middle")
                     .otherwise("tail").alias("bucket")))


def bpe_pair_counts(docs: DataFrame, k: int = 20,
                    text_col: str = "text") -> DataFrame:
    """The inner counting step of BPE tokenizer training (Sennrich et
    al. 2016): corpus-wide frequencies of ADJACENT symbol pairs, with
    each word weighted by its corpus frequency — the quantity argmaxed
    to pick the next merge. This engine computes one counting pass
    (symbols = characters, i.e. the first BPE iteration); a trainer
    loops it, applying the chosen merge between rounds.

    Returns the top-``k`` (pair, n_occurrences) of :func:`bpe_pair_stats`
    over the unmerged words, with deterministic lexicographic
    tie-break, pair printed as "left right".

    Scale shape: the pair explode runs over DISTINCT words (the
    standard BPE-training trick — corpus size only enters through the
    word-frequency aggregate, so a trillion-token corpus with a 10M
    vocabulary explodes 10M words, not 1e12), one hash aggregate with
    map-side combine, TakeOrdered top-k. All row-local HOFs, no UDFs.
    """
    return (bpe_pair_stats(_bpe_symbolized(docs, text_col))
            .select(F.concat_ws(" ", "left_sym", "right_sym").alias("pair"),
                    "n_occurrences")
            .orderBy(F.desc("n_occurrences"), F.asc("pair"))
            .limit(k))


#: BPE symbol sentinels: every symbol in the working representation is
#: wrapped \x01sym\x02, so one merge application is ONE literal (never
#: regex) string replace — "\x01a\x02\x01b\x02" -> "\x01ab\x02". The
#: wrapper guarantees exact symbol boundaries (no partial match inside a
#: longer symbol) and that adjacent matches share no characters, making
#: engine-native left-to-right non-overlapping replace() EXACTLY the
#: greedy merge order BPE specifies ("aaa" + merge(a,a) -> "aa","a" —
#: Sennrich et al. 2016's learn_bpe applies the same scan order). The
#: sentinels cannot collide with content: symbols are [a-z0-9]+ only
#: (the words() normalization strips everything else).
BPE_OPEN, BPE_CLOSE = "\x01", "\x02"


def _bpe_symbols_sql(syms: str) -> str:
    """Symbol array from the wrapped representation: strip the leading
    \\x01 and trailing \\x02, split on the \\x02\\x01 seam (the
    sentinels are embedded as raw characters in the parsed literal)."""
    return (f"split(CAST(substring({syms}, 2, length({syms}) - 2)"
            f" AS STRING), '{BPE_CLOSE}{BPE_OPEN}')")


def _bpe_symbols(syms: str) -> Column:
    """:func:`_bpe_symbols_sql` as a Column."""
    return F.expr(_bpe_symbols_sql(syms))


def _bpe_wrap_sql(word: str) -> str:
    """The word fragment ``word`` as wrapped single-character symbols:
    BPE's unmerged representation."""
    return f"regexp_replace({word}, '(.)', '{BPE_OPEN}$1{BPE_CLOSE}')"


def _bpe_merge(syms: str, merges: list[tuple]) -> str:
    """The wrapped symbol fragment ``syms`` after ``merges`` in rank
    order: one literal replace per merge, nested into one parsed
    expression (not py4j round trips per merge)."""
    S, E = BPE_OPEN, BPE_CLOSE
    for _, a, b, _, _ in merges:
        syms = f"replace({syms}, '{S}{a}{E}{S}{b}{E}', '{S}{a}{b}{E}')"
    return syms


def _bpe_symbolized(docs: DataFrame, text_col: str) -> DataFrame:
    """(syms, freq): every distinct corpus word, unmerged, with its
    corpus frequency — the state BPE training starts from. Corpus size
    enters only through this one word-frequency aggregate."""
    return (_counts(_tokens(docs, text_col), "freq", "token")
            .select(F.expr(_bpe_wrap_sql("token")).alias("syms"), "freq"))


def _bpe_doc_tokens(docs: DataFrame, text_col: str, id_col: str,
                    encodings: dict[str, list[tuple]]) -> DataFrame:
    """(doc, n_words, <name>, ...): each document's word count and its
    token count under each named merge list. Words are encoded once per
    (doc, distinct word) and multiplied by their count; the merge lists
    ride the plan as literals. Docs with no countable word get no row."""
    enc = _counts(_tokens(docs, text_col, id_col), "cnt", id_col, "token")
    word = _bpe_wrap_sql("token")
    for name, merges in encodings.items():
        enc = enc.withColumn(
            f"_n_{name}",
            F.size(_bpe_symbols(_bpe_merge(word, merges))).cast("long"))
    return enc.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n_words"),
        *[F.sum(F.col("cnt") * F.col(f"_n_{name}")).cast("long")
          .alias(name) for name in encodings])


def bpe_pair_stats(symbolized: DataFrame) -> DataFrame:
    """Corpus-wide adjacent-pair frequencies of a symbolized word-freq
    frame (syms, freq) — the quantity :func:`bpe_train` argmaxes each
    round. Returns (left_sym, right_sym, n_occurrences); one hash
    aggregate with map-side combine over the DISTINCT-word frame."""
    # the symbol array is split once per word, not once per position;
    # a guard, not a filter: a filter on a word-frequency aggregate's
    # key is pushed below it, to run once per corpus token
    pairs = ("CASE WHEN size(_s) >= 2 THEN"     # sequence(1,0) descends
             " transform(sequence(1, size(_s) - 1),"
             " i -> named_struct('left_sym', element_at(_s, i),"
             " 'right_sym', element_at(_s, i + 1))) END")
    return (symbolized
            .select(_bpe_symbols("syms").alias("_s"), "freq")
            .select(F.expr(f"explode({pairs})").alias("p"), "freq")
            .groupBy(F.col("p.left_sym").alias("left_sym"),
                     F.col("p.right_sym").alias("right_sym"))
            .agg(F.sum("freq").cast("long").alias("n_occurrences")))


def bpe_vocab(symbolized: DataFrame) -> DataFrame:
    """Final symbol vocabulary of a symbolized word-freq frame: every
    occurrence of a symbol weighted by its word's corpus frequency.
    Returns (symbol, n_occurrences)."""
    return (symbolized
            .select(F.explode(_bpe_symbols("syms"))
                     .alias("symbol"), "freq")
            .groupBy("symbol")
            .agg(F.sum("freq").cast("long").alias("n_occurrences")))


def bpe_train(docs: DataFrame, n_merges: int = 8,
              text_col: str = "text") -> tuple[list[tuple], DataFrame]:
    """Iterative BPE merge training (Sennrich et al. 2016): ``n_merges``
    rounds of count-pairs -> merge the argmax pair -> recount — the
    loop :func:`bpe_pair_counts` computes one step of and
    ``tokenizer_fertility`` measures the end product of.

    Returns ``(merges, symbolized)``:

    * ``merges`` — the ordered merge list, a driver-side list of
      ``(rank, left_sym, right_sym, merged, n_occurrences)`` where
      ``n_occurrences`` is the pair's corpus count AT SELECTION TIME
      (the argmaxed quantity). It is k scalars — the trained artifact
      itself, like a model's weights — never row data.
    * ``symbolized`` — the (syms, freq) distinct-word frame after all
      merges, for :func:`bpe_vocab` / :func:`bpe_pair_stats`.

    Determinism: the argmax tie-break is (count DESC, left ASC,
    right ASC) — total, content-only, engine-portable. Training stops
    early if no adjacent pair remains (every word fused to one symbol).

    Scale shape — the engine's iterative pattern (cf.
    ``dedup.connected_components``), tuned for a barrier-bound loop:
    the working state is the DISTINCT word-frequency frame (the
    standard BPE-training trick — a trillion-token corpus with a
    10M-word vocabulary iterates over 10M rows; corpus size enters
    only through the one up-front frequency aggregate), materialized
    ONCE. Each round's symbol state is the checkpointed base plus the
    merges so far as NESTED row-local literal replaces — a pure
    projection chain that costs less to recompute per round than a
    per-round materialization would cost to write (k is small, the
    replaces pipeline inside one codegen stage, and lineage depth
    stays k). Per round exactly ONE job: hash aggregate with map-side
    combine -> TakeOrdered(1) -> a 1-row driver collect (the argmax —
    scalar-only, like connected_components' convergence count). The
    k-round sequence is inherently sequential (merge i+1's counts are
    defined on the post-merge-i corpus) — k driver barriers IS the
    algorithm, not an implementation artifact.
    """
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    base = _bpe_symbolized(docs, text_col).localCheckpoint(eager=True)

    def symbolize(upto: list[tuple]):
        return base.select(F.expr(_bpe_merge("syms", upto)).alias("syms"),
                           "freq")

    # One merge per counting round, on purpose. Accepting several
    # top-K pairs per counting round is only
    # sequential-exact when a candidate's count strictly dominates
    # every fetched pair sharing a symbol with the accepted set —
    # including TIES sorted after it, because a pair derived from an
    # accepted merge can tie the candidate and steal the
    # (count, left, right) tie-break (hypothesis-found, pinned as the
    # "1a1/111b1" @example on test_bpe_train_matches_independent_
    # model). Under that sound condition, char-level pair counts —
    # whose top pairs all share a handful of hot symbols — accept one
    # pair per round anyway (measured 8 rounds for 8 merges on the
    # fixture corpus), so batching buys nothing over this loop.
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        best = (bpe_pair_stats(symbolize(merges))
                .orderBy(F.desc("n_occurrences"), F.asc("left_sym"),
                         F.asc("right_sym"))
                .limit(1).collect())
        if not best:
            break                        # fully fused: nothing to merge
        a, b, n = (best[0]["left_sym"], best[0]["right_sym"],
                   best[0]["n_occurrences"])
        merges.append((rank, a, b, a + b, int(n)))
    return merges, symbolize(merges)


def bpe_apply(docs: DataFrame, merges: list[tuple],
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Encode every document with a LEARNED BPE merge list — the apply
    half of the tokenizer story (:func:`bpe_train` produces the
    merges; this is what a production tokenizer does to the corpus,
    and what per-document token budgets are actually denominated in).

    Per doc: the symbol count of each word after applying the merges
    in order (same wrapped-representation literal replaces as
    training, so apply ≡ train's own encoding by construction).
    Returns (doc_id, n_words, n_tokens, tokens_per_word_bp) with the
    ratio in exact integer basis points; documents with no countable
    words yield no row.

    Scale shape: words are encoded ONCE at the (doc, distinct-word)
    grain — the nested replaces and the symbol-count split run on the
    grouped frame, so a word repeated a thousand times in a doc is
    encoded once and multiplied by its count. Two hash aggregates
    (per-(doc, word) counts -> per-doc rollup), zero joins, zero UDFs;
    the merge list rides the plan as literals.
    """
    return (_bpe_doc_tokens(docs, text_col, id_col, {"n_tokens": merges})
            .select(F.col(id_col), "n_words", "n_tokens",
                    bp("n_tokens", "n_words").alias("tokens_per_word_bp")))

BPE_MERGE_SCHEMA = ("tokenizer_version long, merge_rank long,"
                    " left_sym string, right_sym string,"
                    " merged string, n_occurrences long")


def _registry_max_version(live: dict) -> int | None:
    """Exact ``max(tokenizer_version)`` over files' MANIFEST stats
    (``{rel_path: {col: [min, max, ...]}}``, as in
    :meth:`LogTable.files_stats`) — pure driver-side metadata, no Spark
    job (instead of a full table read+agg+collect per bpe_save/bpe_load
    call). Sound because every
    publish stamps the version onto every row of its single file and
    the table declares ``stats_columns=["tokenizer_version"]``, so
    max-over-file-maxes is the column max. Returns None whenever ANY
    file lacks a usable max stat (absent column, refused type,
    all-null) — the caller then falls back to the read path; the
    probe is an optimization, never a second source of truth."""
    if not live:
        return None
    hi = None
    for fs in live.values():
        cs = fs.get("tokenizer_version")
        if not cs or cs[1] is None:
            return None
        if hi is None or cs[1] > hi:
            hi = cs[1]
    return int(hi)


def _registry_version(live: dict, read) -> int | None:
    """max(tokenizer_version) of the files in ``live``: their manifest
    stats, else the max over ``read()``, the frame of their rows; None
    when they hold no version."""
    v = _registry_max_version(live)
    if v is None:                        # manifest stats unusable
        v = read().agg(
            F.max("tokenizer_version").alias("v")).collect()[0]["v"]
    return None if v is None else int(v)


def bpe_save(spark, table_path: str, merges: list[tuple],
             txn: str | None = None) -> tuple[int, int]:
    """Persist a trained BPE merge list as a VERSIONED LogTable artifact
    — the tokenizer registry that lets train and apply run in different
    jobs (the production split: one training job a week, every
    downstream encode reading the published artifact), with the same
    build-once/query-many pattern as the persisted IVF index
    (:func:`~w_userflow_featurestore_spark.operators.similarity.ivf_index_build`).

    Append-only version registry: each save appends the COMPLETE merge
    list stamped with ``tokenizer_version`` = previous max + 1, as one
    atomic commit. Old versions stay readable (a training run pinned to
    tokenizer v3 keeps resolving v3 forever — tokenizer changes silently
    re-segmenting a corpus mid-run is a classic reproducibility bug),
    manifest min/max stats on ``tokenizer_version`` let
    :func:`bpe_load` prune straight to one version's files, and
    LogTable's snapshot machinery gives rollback/time-travel for free.
    ``txn`` makes replayed saves idempotent (same token -> same commit).
    The append commits only on the snapshot the version was read from:
    a rival publish in between raises ``ConcurrentCommitError`` (re-run
    to publish the next version), so no version is published twice.

    Every version carries a HEADER row (merge_rank = 0, n_occurrences =
    merge count) besides its merge rows — so an EMPTY merge list (a
    corpus that fused completely, or trained with n_merges=0) is still
    a real, loadable published version rather than zero rows that make
    the version indistinguishable from never-saved.

    Returns ``(tokenizer_version, snapshot_id)``. The merge list is the
    trained model — k driver-side rows, never row data."""
    t = LogTable.create(spark, table_path, [],
                        stats_columns=["tokenizer_version"])
    # one log read serves the empty check, the txn lookup and the
    # version stats; append() below reads it again to commit on it
    st = t.state()
    done = st.txn_commit(txn)
    if done is not None:
        # replayed publish (checkpoint-recovery re-delivery): the
        # append would no-op on the matching txn token, but a freshly
        # computed max+1 would then LIE about which version the
        # original commit published — return ITS version, read off the
        # replayed commit's own manifest stats
        v = _registry_version(
            {f: done.stats.get(f, {}) for f in done.add},
            lambda: t.read_increment(done.parent_id, done.snapshot_id))
        return v, done.snapshot_id
    version = 1
    if st.snapshot_id is not None:
        version = (_registry_version(st.live, t.read) or 0) + 1
    rows = [(version, 0, None, None, None, len(merges))]
    rows += [(version, int(r), a, b, m, int(n))
             for r, a, b, m, n in merges]
    # JVM-side literal relation, NOT createDataFrame(rows): a local-list
    # DataFrame is a pickled Python RDD whose first action pays a
    # multi-second Python-worker spin-up — for a k-row model artifact
    # the write should cost one tiny JVM job (measured: ~4 s -> ~0.3 s)
    structs = [F.struct(
        F.lit(tv).cast("long").alias("tokenizer_version"),
        F.lit(mr).cast("long").alias("merge_rank"),
        F.lit(ls).cast("string").alias("left_sym"),
        F.lit(rs).cast("string").alias("right_sym"),
        F.lit(mg).cast("string").alias("merged"),
        F.lit(no).cast("long").alias("n_occurrences"))
        for tv, mr, ls, rs, mg, no in rows]
    df = spark.range(1).select(
        F.inline(F.array(*structs))).coalesce(1)
    return version, t.append(df, txn=txn, expected_base=st.snapshot_id)


def bpe_load(spark, table_path: str,
             version: int | None = None) -> list[tuple]:
    """Load a persisted BPE merge list back into :func:`bpe_apply`'s
    driver-side ``merges`` form — ordered by ``merge_rank`` (merge
    order IS the model; applying them out of order is a different,
    wrong tokenizer). ``version=None`` resolves the latest published
    version; a pinned version replays exactly, via manifest-stat file
    pruning on ``tokenizer_version``. Model-sized driver work only
    (k rows per version, one scalar max for the latest-version probe)."""
    t = LogTable(spark, table_path)
    if version is None:
        version = _registry_version(t.files_stats(), t.read)
        if version is None:
            raise ValueError(f"no tokenizer versions at {table_path}")
    rows = (t.read(filters=[("tokenizer_version", "=", int(version))])
             .orderBy("merge_rank").collect())
    if not rows:
        raise ValueError(
            f"tokenizer version {version} not found at {table_path}")
    # rows[0] is the version header (merge_rank 0); sanity-pin the
    # merge count against it so a partial read can never load silently
    merges = [(r["merge_rank"], r["left_sym"], r["right_sym"],
               r["merged"], r["n_occurrences"])
              for r in rows if r["merge_rank"] >= 1]
    header = rows[0]
    if header["merge_rank"] != 0 or len(merges) != header["n_occurrences"]:
        raise ValueError(
            f"tokenizer version {version} at {table_path} is corrupt: "
            f"header promises {header['n_occurrences']} merges, "
            f"read {len(merges)}")
    return merges


def bpe_apply_from(spark, table_path: str, docs: DataFrame,
                   version: int | None = None,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Encode a corpus with a PUBLISHED tokenizer artifact —
    :func:`bpe_load` + :func:`bpe_apply` in one call, the read side of
    the registry. Output is byte-identical to applying the in-memory
    merge list the artifact was saved from (the merges ride the plan as
    literals either way; persistence changes where the model lives, not
    what the plan computes)."""
    return bpe_apply(docs, bpe_load(spark, table_path, version),
                     text_col, id_col)


def quality_rule_report(docs: DataFrame, group_col: str = "source", *,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        **verdict_kwargs) -> DataFrame:
    """The curation DASHBOARD over :func:`quality_filter_verdict`: per
    ``group_col`` (source, lang, crawl snapshot, ...), each rule's
    failure rate and the end-to-end keep rate in exact integer basis
    points — the quantity the verdict's own docstring promises ("a rule
    that suddenly drops 40% of a crawl is an incident signal"; this is
    the query you alert on). Rates are per-rule marginal failure counts
    (a doc failing two rules counts in both), so the report also pins
    each rule's marginal distribution rather than just the conjunction.

    Returns (group_col, n_docs, fail_length_bp, fail_quality_bp,
    fail_repetition_bp, fail_lang_bp, keep_bp); bp = count * 10000 DIV
    n_docs, exact integer arithmetic (DECIMAL(38,0) widening so the
    *10000 cannot wrap at any corpus size).

    Scale shape: the verdict frame is ONE zero-shuffle projection —
    ``group_col`` rides through it as a carry column (never a doc-keyed
    rejoin) — and the rollup is one bounded hash-aggregate with
    map-side combine, output sized by the group domain. Total: one
    shuffle, group-domain-sized.
    """
    v = quality_filter_verdict(docs, text_col=text_col, id_col=id_col,
                               carry_cols=(group_col,), **verdict_kwargs)
    counts = v.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(~F.col("pass_length"), 1).otherwise(0))
         .cast("long").alias("_f_len"),
        F.sum(F.when(~F.col("pass_quality"), 1).otherwise(0))
         .cast("long").alias("_f_q"),
        F.sum(F.when(~F.col("pass_repetition"), 1).otherwise(0))
         .cast("long").alias("_f_rep"),
        F.sum(F.when(~F.col("pass_lang"), 1).otherwise(0))
         .cast("long").alias("_f_lang"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
         .cast("long").alias("_n_keep"))

    return counts.select(
        group_col, "n_docs",
        bp("_f_len", "n_docs").alias("fail_length_bp"),
        bp("_f_q", "n_docs").alias("fail_quality_bp"),
        bp("_f_rep", "n_docs").alias("fail_repetition_bp"),
        bp("_f_lang", "n_docs").alias("fail_lang_bp"),
        bp("_n_keep", "n_docs").alias("keep_bp"))


def ccnet_curate(docs: DataFrame, *, middle_keep_bp: int = 500,
                 sample_buckets: int = 1000,
                 salt: str = "ccnet",
                 text_col: str = "text",
                 id_col: str = "doc_id",
                 lang_col: str = "lang") -> DataFrame:
    """The CCNet selection POLICY end-to-end (Wenzek et al. 2020): keep
    a document iff it passes the :func:`quality_filter_verdict` rules
    AND its :func:`perplexity_buckets` bucket admits it — 'head' kept
    outright, 'middle' hash-sampled at ``middle_keep_bp`` per
    ``sample_buckets`` (deterministic content hash, the
    :func:`~w_userflow_featurestore_spark.operators.sampling.hash_bucket`
    family — rerun-stable, no RNG state), 'tail' dropped. This gives
    the bucketing a consumer the way mixture_weights feeds
    token_budget_mix: the labels become a corpus.

    Returns the selected rows (doc_id, lang, mean_bits, bucket).

    Scale shape: the verdict side is the zero-shuffle rules projection,
    lineage-cut to a kept-id set (see inline comment for why the cut is
    load-bearing); the bucket side is perplexity_buckets' histogram
    plan (tertile thresholds broadcast back, corpus never sorts);
    composing them costs one doc-keyed LEFT SEMI join of two
    corpus-grain frames — the two signals come from different subtrees
    (a row-local projection vs an LM aggregate), so the join IS the
    composition. The middle-bucket sample is a row-local hash
    predicate, no added shuffle.
    """
    from w_userflow_featurestore_spark.operators.sampling import (
        hash_bucket,
    )
    buckets = perplexity_buckets(docs, text_col, id_col, lang_col)
    # The rules side reduces to a kept-id set BEFORE the join (left
    # semi) — and the verdict is LINEAGE-CUT before the keep filter
    # touches it. Any filter on `keep` (before or after the join)
    # hands the verdict's whole rule expression to the optimizer as a
    # predicate, which pushes it into the document scan as a
    # pre-codegen per-row DataFilter and re-evaluates the heaviest
    # row-local expression in the engine a second time (measured ~8x
    # the verdict's own cost at sf0.1). Cut, the projection runs once
    # in its own codegen'd plan and the filter is a boolean test on a
    # materialized 2-column frame (~17 B/doc — the perplexity side
    # already makes the same bounded trade for its scored frame).
    kept_ids = (quality_filter_verdict(docs, text_col=text_col,
                                       id_col=id_col)
                .select(id_col, "keep")
                .localCheckpoint(eager=True)
                .where(F.col("keep")).select(id_col))
    admit = (F.when(F.col("bucket") == "head", F.lit(True))
              .when(F.col("bucket") == "middle",
                    hash_bucket(sql_ident(id_col), sample_buckets, salt)
                    < middle_keep_bp)
              .otherwise(F.lit(False)))
    return (buckets.join(kept_ids, id_col, "left_semi")
            .where(admit)
            .select(id_col, "lang", "mean_bits", "bucket"))


def bpe_version_drift(spark, table_path: str, docs: DataFrame,
                      v_old: int, v_new: int,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Tokenizer-UPGRADE impact report — the cross-version consumer of
    the :func:`bpe_save` registry: encode the same corpus with two
    published tokenizer versions and report the per-document token
    drift. This is the query a team runs before swapping tokenizers:
    token budgets, packing density and per-doc costs are denominated in
    tokens of a SPECIFIC tokenizer, and an upgrade silently re-pricing
    every document is exactly the incident the versioned registry
    exists to make visible (and the pinned-version load to prevent).

    Returns (doc_id, n_words, old_tokens, new_tokens, old_bp, new_bp,
    drift_bp) with *_bp = tokens-per-word in exact basis points and
    drift_bp = old_bp - new_bp (>= 0 when the new version extends the
    old merge list — more merges never split a word further).

    Scale shape: ONE pass of :func:`bpe_apply`'s (doc, distinct-word)
    encoder with both versions' symbol counts side by side in the same
    projection (the replace chains ride as literals; when the new
    version extends the old, codegen shares the old chain as the new
    chain's prefix subexpression), then one per-doc rollup, instead of
    two full :func:`bpe_apply` passes joined on the doc key. Output is
    bit-identical to that form — same counts, same DECIMAL basis-point
    arithmetic.
    """
    enc = _bpe_doc_tokens(docs, text_col, id_col, {
        "old_tokens": bpe_load(spark, table_path, v_old),
        "new_tokens": bpe_load(spark, table_path, v_new)})
    return (enc
            .select(F.col(id_col), "n_words", "old_tokens", "new_tokens",
                    bp("old_tokens", "n_words").alias("old_bp"),
                    bp("new_tokens", "n_words").alias("new_bp"))
            .withColumn("drift_bp",
                        (F.col("old_bp") - F.col("new_bp"))
                        .cast("long")))


def tfidf_top_terms(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", top_k: int = 3) -> DataFrame:
    """Per-document top-k keywords by TF-IDF — the classic keyword
    extractor a curation dashboard uses to label what a document (or a
    crawl slice) is ABOUT, and the cheapest per-doc topic signal for
    stratifying a pretraining mix.

    IDF is quantized to whole bits so the score stays exact integer
    arithmetic cross-engine: a term appearing in ``df`` of the corpus's
    ``N`` documents carries ``whole_bits(N, df)`` =
    floor(log2(N/df)) idf bits (the :func:`token_surprisal` trick,
    applied to the document-frequency axis instead of the token axis);
    ``score_bits = tf * idf_bits``. A term in more than half the corpus
    scores 0 — whole-bit IDF's built-in stopword suppression. Top-k per
    document by (score_bits DESC, term ASC), fully deterministic.

    Returns (doc_id, term, tf, idf_bits, score_bits, rank), ``top_k``
    rows per document (fewer when the doc has fewer distinct terms).

    Scale shape: one (doc, term) hash-aggregate builds the tf frame
    (map-side combine), the df frame re-aggregates it on the term key
    (already partitioned by a (doc, term) hash — one vocab-grain
    exchange), the scalar N rides a 1-row broadcast, and the per-term
    idf joins back on the term key. The top-k window partitions by
    doc_id — doc-grain keys, no skew, no corpus-wide sort.
    """
    tf = _counts(_tokens(docs, text_col, id_col), "tf", id_col, "token")
    n_docs = docs.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    idf = (_counts(tf, "df", "token")
           .crossJoin(F.broadcast(n_docs))
           .select("token", whole_bits("n_docs", "df")
                   .cast("long").alias("idf_bits")))
    scored = (tf.join(idf, "token")
              .withColumn("score_bits",
                          (F.col("tf") * F.col("idf_bits")).cast("long")))
    w = Window.partitionBy(id_col).orderBy(F.col("score_bits").desc(),
                                           F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select(F.col(id_col), F.col("token").alias("term"),
                    F.col("tf").cast("long"),
                    "idf_bits", "score_bits",
                    F.col("rank").cast("int")))


# pmi_collocations overflow envelope: products are <= T*T, so keeping
# the total bigram count T <= 4e18 keeps every DECIMAL(38,0) product
# under 1.6e37 (< 1e38-1). Module-level so tests can shrink it to
# exercise the guard without 4e18 rows.
_PMI_T_MAX = 4_000_000_000_000_000_000


def pmi_collocations(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", top_k: int = 20,
                     min_count: int = 5) -> DataFrame:
    """Corpus-level collocation mining: the top-k adjacent word pairs
    by pointwise mutual information — the phrase detector (Mikolov et
    al. 2013 word2vec phrases; Church & Hanks 1990 PMI) a tokenizer or
    vocab builder runs to decide which multi-word units deserve a
    single token, and a drift signal for what a crawl's recurring
    phrases are.

    PMI is quantized to whole bits in EXACT integer arithmetic:
    pmi = log2(P(xy) / (P(x)P(y))) = log2(c_xy * T / (c_x * c_y)) for
    bigram count c_xy, unigram counts c_x/c_y and total bigram count T.
    The products run in DECIMAL(38,0) (c_xy*T overflows a BIGINT at
    the 100 TB design point: T ~ 1e13, c_xy up to T), and the whole-bit
    value is ``whole_bits(num, den)`` — the ratio is <= T (since
    c_xy <= c_x*c_y), so the DIV result always fits a BIGINT exactly.
    The envelope itself is ENFORCED: T > ``_PMI_T_MAX`` (4e18, where
    T*T approaches DECIMAL(38,0)'s 38 digits and non-ANSI overflow
    would start silently NULLing — i.e. dropping — the hottest pairs)
    raises at execution time instead of losing rows; a NULL T with a
    nonempty pair table (the SUM itself overflowing past ~1e38
    events) raises through the same guard rather than falling to the
    ELSE arm.
    Only POSITIVE-PMI pairs survive (num >= den): negative PMI means
    "co-occur less than chance", never a collocation, and keeping the
    domain >= 1 keeps the log integral. ``min_count`` suppresses the
    rare-pair PMI explosion (a pair seen once between two hapaxes
    maxes the score), the standard collocation-mining guard.

    Returns at most ``top_k`` rows (w1, w2, n_pair, pmi_bits) ordered
    by (pmi_bits DESC, n_pair DESC, w1, w2) — a fully deterministic
    tie-break: fewer when fewer positive-PMI pairs reach
    ``min_count``, none on an empty corpus.

    Scale shape: bigrams are built ROW-LOCALLY from each doc's word
    array (:func:`bigram_surprisal`'s transform-over-sequence — no
    self-join, no window), one bigram hash-aggregate and one unigram
    hash-aggregate build the count tables, the scalar T rides a 1-row
    broadcast, and the two unigram joins key on w1/w2 (vocab-grain).
    The final top-k is a LIMIT over the surviving pair frame — the
    orderBy feeds a TakeOrderedAndProject, never a full sort.
    """
    uni = _counts(_tokens(docs, text_col), "c", "token")
    cxy_all = _counts(_bigrams(docs, text_col, id_col), "n_pair",
                      "w1", "w2")
    # T is the total bigram EVENT count — summed before the min_count
    # filter (dropping rare pairs from the denominator would inflate
    # every survivor's PMI). Summed in DECIMAL(38,0) (a long sum wraps
    # silently in non-ANSI Spark) and GUARDED against the envelope the
    # arithmetic below assumes: every product is <= T*T, so T <= 4e18
    # keeps c_xy*T and c1*c2 under 1.6e37 < DECIMAL(38,0)'s 1e38-1.
    # Past that, non-ANSI decimal overflow yields NULL, which would
    # silently DROP the hottest pairs from the ranking — fail loudly
    # at execution time instead (raise_error keeps the plan lazy and
    # costs nothing on in-envelope corpora; 4e18 bigram events is
    # ~3 PB of pure text, far beyond the 100 TB design point).
    total = (cxy_all
             .agg(F.sum(F.col("n_pair").cast("decimal(38,0)"))
                   .alias("_t"),
                  F.count(F.lit(1)).alias("_np"))
             .select(F.expr(
                 # _t IS NULL AND _np > 0: the DECIMAL(38,0) sum
                 # ITSELF overflowed (>1e38 events — non-ANSI Spark
                 # nulls it); without the IS NULL arm the NULL
                 # comparison falls to ELSE and silently corrupts
                 # t_total. The _np > 0 conjunct
                 # keeps a legitimately EMPTY bigram corpus (sum over
                 # zero rows is also NULL) from tripping the guard —
                 # the broadcast build evaluates this projection even
                 # when the probe side is empty.
                 f"CASE WHEN (_t IS NULL AND _np > 0)"
                 f" OR _t > CAST({_PMI_T_MAX} AS"
                 " DECIMAL(38,0)) THEN CAST(raise_error("
                 "'pmi_collocations: total bigram count exceeds the"
                 " 4e18 DECIMAL(38,0) overflow envelope - rerun with"
                 " a sharded corpus') AS BIGINT) "
                 "ELSE CAST(_t AS BIGINT) END").alias("t_total")))
    cxy = cxy_all.where(F.col("n_pair") >= min_count)
    joined = (cxy.crossJoin(F.broadcast(total))
              .join(uni.select(F.col("token").alias("w1"),
                               F.col("c").alias("c1")), "w1")
              .join(uni.select(F.col("token").alias("w2"),
                               F.col("c").alias("c2")), "w2"))
    num = "CAST(n_pair AS DECIMAL(38,0)) * CAST(t_total AS DECIMAL(38,0))"
    den = "CAST(c1 AS DECIMAL(38,0)) * CAST(c2 AS DECIMAL(38,0))"
    return (joined
            .where(F.expr(f"{num} >= {den}"))
            .withColumn("pmi_bits", whole_bits(num, den).cast("long"))
            .select("w1", "w2", F.col("n_pair").cast("long"), "pmi_bits")
            .orderBy(F.col("pmi_bits").desc(), F.col("n_pair").desc(),
                     F.col("w1").asc(), F.col("w2").asc())
            .limit(top_k))


def lang_id_confusion(docs: DataFrame, text_col: str = "text",
                      label_col: str = "lang") -> DataFrame:
    """Language-ID confusion matrix: labeled language vs
    :func:`lang_id`'s prediction, with the within-language share in
    exact basis points — the standard accuracy audit for the heuristic
    that `quality_filter_verdict`'s language rule and
    `corpus_language_stats`' rollup both trust. The diagonal row per
    language IS its recall; a language whose mass sits on 'und' tells
    you the stopword profile doesn't cover it (zh here — the
    normalize-to-ascii pipeline strips CJK, by design), which is
    exactly what a curation team needs to know before acting on a
    language filter.

    Returns (lang, lang_pred, n_docs, share_bp) — share_bp sums to
    <= 10000 per language (floor division).

    Scale shape: prediction is row-local (stopword hit counts — zero
    shuffle, pipelines into the scan); one hash-aggregate onto the
    (lang, lang_pred) key — a |langs|^2-bounded frame — and the
    per-language total rides a window over that tiny frame, never a
    second corpus pass.
    """
    p = (fan_out(docs.select(F.col(label_col), F.col(text_col)))
         .select(F.col(label_col).alias("lang"),
                 lang_id(f"`{text_col}`").alias("lang_pred")))
    g = (p.groupBy("lang", "lang_pred")
          .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    w = Window.partitionBy("lang")
    return (g.withColumn("_tot", F.sum("n_docs").over(w))
            .select("lang", "lang_pred", "n_docs",
                    bp("n_docs", "_tot").alias("share_bp")))
