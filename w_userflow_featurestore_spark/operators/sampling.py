"""Deterministic sampling & dataset splitting for training pipelines.

Train/val/test assignment at 100 TB must be (a) shuffle-free, (b) stable
across reruns and engines, and (c) independent of row order/partitioning.
`sample()`/`randomSplit()` fail (b)+(c) — they depend on partition seeds.
The standard fix is content hashing: split = f(hash(stable_id)), a pure
projection that composes into the scan (zero shuffle, reproducible
anywhere, and any engine — here DuckDB — can recompute it bit-for-bit).

Hash = the repo-wide 60-bit md5 prefix (operators.dedup.text_hash60), so
buckets are uniform and the oracle twin is one CAST expression.

One selection core: the operators share one private path per step —
the salted id hash (``_salted_hash``; ``hash_bucket`` takes it mod n),
the split rule (``_split_of``), the hash-threshold keep (``_hash_keep``),
the token count (``_n_tokens``), the sharded permutation
(``_shard_order``), the bucketed exclusive prefix sum
(``_bucketed_exclusive_sum``), the weighted budget cut (``_budget_cut``)
and the value-quantile cut (``text._quantile_stage``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import (
    bp, sql_ident, sql_str, whole_bits,
)
from w_userflow_featurestore_spark.operators.dedup import (
    _hash60_sql, _words_sql, connected_components, text_hash60,
)
from w_userflow_featurestore_spark.operators.text import (
    _quantile_stage, token_count_ws, token_surprisal,
)
from w_userflow_featurestore_spark.sources import fan_out

N_BUCKETS = 1000


def hash_bucket(col: str, n_buckets: int = N_BUCKETS,
                salt: str = "split") -> Column:
    """Stable bucket in [0, n_buckets) of the SQL fragment ``col``: 60-bit
    md5 of "salt:value" mod n. The salt decorrelates this partition from
    every other hash use of the same id (dedup survivors, LSH bands, ...)."""
    return F.pmod(_salted_hash(col, salt), F.lit(n_buckets)).cast("long")


def _salted_hash(col: str, salt: str) -> Column:
    """60-bit md5 hash of "salt:value" for the SQL fragment ``col``."""
    return text_hash60(f"CAST({col} AS STRING)", seed=salt)


def _split_of(bucket: Column, train: int, val: int) -> Column:
    """[0,train) -> train, [train,train+val) -> val, rest -> test."""
    return (F.when(bucket < train, "train")
             .when(bucket < train + val, "val")
             .otherwise("test"))


def _hash_keep(df: DataFrame, id_col: str, n_buckets: int, salt: str,
               threshold: Column) -> DataFrame:
    """Rows of ``df`` whose salted id bucket is below ``threshold``."""
    return df.where(hash_bucket(sql_ident(id_col), n_buckets, salt)
                    < threshold)


def _n_tokens(text_col: str) -> Column:
    """Per-doc whitespace token count as BIGINT."""
    return token_count_ws(sql_ident(text_col)).cast("long")


def _shard_order(df: DataFrame, id_col: str, n_shards: int, seed: str,
                 *keys: str) -> DataFrame:
    """``df`` plus the salted id hash ``_h``, ``shard = _h % n_shards``
    and ``shard_pos`` = row_number over (_h, id) inside each
    (``keys``, shard) — independent in-shard sorts after one hash
    exchange, never a global sort."""
    w = Window.partitionBy(*keys, "shard").orderBy("_h", id_col)
    return (df.withColumn("_h", _salted_hash(sql_ident(id_col), seed))
              .withColumn("shard", (F.col("_h") % n_shards).cast("long"))
              .withColumn("shard_pos", F.row_number().over(w).cast("long")))


def _bucketed_exclusive_sum(df: DataFrame, keys: list[str],
                            order: list[str], weight: Column,
                            out: str) -> DataFrame:
    """``df`` plus ``out``: the sum of ``weight`` over the rows before
    each row in (``_b``, ``order``) order within its ``keys`` group.

    ``df`` carries a bucket column ``_b``. Pass 1 is a window over
    (keys, _b) — within-bucket exclusive prefix sums, one sorting task
    per bucket instead of one per group; pass 2 sums each (keys, _b)
    bucket, turns the tiny totals frame into exclusive per-bucket
    offsets and broadcasts them back. out = offset + within-bucket
    prefix, exact for any bucketing."""
    w = (Window.partitionBy(*keys, "_b").orderBy(*order)
               .rowsBetween(Window.unboundedPreceding, -1))
    within = df.withColumn(
        "_cumb", F.coalesce(F.sum(weight).over(w), F.lit(0)).cast("long"))
    totals = df.groupBy(*keys, "_b").agg(F.sum(weight).alias("_bt"))
    woff = (Window.partitionBy(*keys).orderBy("_b")
                  .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        *keys, "_b",
        F.coalesce(F.sum("_bt").over(woff), F.lit(0)).cast("long")
         .alias("_off"))
    return (within.join(F.broadcast(offsets), [*keys, "_b"])
                  .withColumn(out, (F.col("_off") + F.col("_cumb"))
                                   .cast("long")))


def _budget_cut(scores: DataFrame, id_col: str, weight: Column,
                budget: int) -> DataFrame:
    """Rows of ``scores`` kept by walking it in (score_bits DESC, id ASC)
    order while the ``weight`` summed over the rows BEFORE each row is
    under ``budget``; a frame whose total weight is under the budget is
    kept whole. A unit weight keeps exactly the top ``budget`` rows.

    No corpus sort: a (score_bits, weight mass) histogram and a
    descending cumulative window over that value-domain-sized frame
    find the one BOUNDARY score (mass strictly above it is under the
    budget, adding its own mass crosses); higher scores keep whole,
    lower ones drop whole, and only the boundary score's ties pay an
    id-ordered prefix sum."""
    hist = (scores.groupBy("score_bits")
                  .agg(F.sum(weight).cast("long").alias("_tmass")))
    wd = (Window.orderBy(F.desc("score_bits"))
                .rowsBetween(Window.unboundedPreceding, -1))
    cum = hist.withColumn(
        "_above", F.coalesce(F.sum("_tmass").over(wd),
                             F.lit(0)).cast("long"))
    crosses = ((F.col("_above") < budget)
               & (F.col("_above") + F.col("_tmass") >= budget))
    bound = cum.agg(
        F.max(F.when(crosses, F.col("score_bits"))).alias("_t"),
        F.max(F.when(crosses, F.col("_above"))).alias("_gt"))
    base = scores.crossJoin(F.broadcast(bound))
    kept = base.where(F.col("_t").isNull()
                      | (F.col("score_bits") > F.col("_t")))
    wt = (Window.partitionBy("score_bits").orderBy(F.col(id_col).asc())
                .rowsBetween(Window.unboundedPreceding, -1))
    tie_kept = (base.where(F.col("score_bits") == F.col("_t"))
                .withColumn("_cumb",
                            F.col("_gt")
                            + F.coalesce(F.sum(weight).over(wt),
                                         F.lit(0)).cast("long"))
                .where(F.col("_cumb") < budget))
    cols = scores.columns
    return kept.select(*cols).unionByName(tie_kept.select(*cols))


def dataset_split(df: DataFrame, id_col: str = "doc_id",
                  train: int = 800, val: int = 100,
                  n_buckets: int = N_BUCKETS,
                  salt: str = "split") -> DataFrame:
    """Assign train/val/test by hash bucket: [0,train) -> train,
    [train,train+val) -> val, rest -> test. Pure projection — no shuffle,
    no sort, no state; the assignment of a row never changes when the
    corpus grows, which incremental pipelines rely on (new docs land in
    the same proportions without reshuffling old ones)."""
    b = hash_bucket(sql_ident(id_col), n_buckets, salt)
    return (df.withColumn("bucket", b)
              .withColumn("split", _split_of(F.col("bucket"), train, val)))


def split_summary(df: DataFrame, id_col: str = "doc_id",
                  strata_col: str | None = None, **kw) -> DataFrame:
    """Per-split (optionally per-stratum) row counts — the balance check
    run after any split change. One small hash-agg."""
    s = dataset_split(df, id_col, **kw)
    keys = ["split"] + ([strata_col] if strata_col else [])
    return s.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      strata_col: str, id_col: str = "doc_id",
                      n_buckets: int = N_BUCKETS,
                      salt: str = "strat") -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its hash
    bucket falls below round(fraction * n_buckets) for its stratum
    (strata absent from ``fractions`` are dropped — the rebalance
    contract: you state what you keep).

    This is `sampleBy()` minus its seeded-partition nondeterminism —
    same projection-only plan as `dataset_split`, so it composes into
    the scan (zero shuffle), keeps a row's fate stable as the corpus
    grows, and rates are exact-in-expectation with hash uniformity.
    Class rebalancing (downweight boilerplate, keep all rare positives)
    is the canonical 100 TB use.
    """
    thresholds = F.create_map(*[
        lit for k, frac in sorted(fractions.items())
        for lit in (F.lit(k), F.lit(int(round(frac * n_buckets))))])
    return _hash_keep(df, id_col, n_buckets, salt,
                      thresholds[F.col(strata_col)])


def weighted_sample(df: DataFrame, weight: Column, id_col: str = "doc_id",
                    n_buckets: int = N_BUCKETS,
                    salt: str = "wsamp") -> DataFrame:
    """Per-row weighted downsampling: keep a row with probability equal
    to its (row-computed, [0,1]) ``weight`` — e.g. a quality score, so
    high-quality documents survive curation proportionally more often.

    Same deterministic hash-threshold machinery as
    :func:`stratified_sample`, with the threshold computed per ROW from
    the weight instead of per stratum: keep iff
    ``hash_bucket(id) < floor(weight * n_buckets + 0.5)`` — an
    integer-vs-integer compare, so the kept set is identical in any
    engine and stable under corpus growth / reruns. Projection-only:
    composes into the scan with zero shuffles.
    """
    return _hash_keep(df, id_col, n_buckets, salt,
                      F.floor(weight * n_buckets + F.lit(0.5)).cast("long"))


def cap_group_rows(df: DataFrame, group_cols: list[str], n: int,
                   id_col: str = "event_id",
                   salt: str = "cap") -> DataFrame:
    """Keep at most ``n`` rows per group, chosen by deterministic hash
    order (hash of the row id, id tie-break) — the per-entity event cap
    that stops bots/power users from dominating training features.

    Unlike ``ORDER BY rand() LIMIT``-style capping this is rerun-stable
    and growth-stable: a row's survival flips only if enough new
    lower-hash rows arrive in ITS group. One hash-partition shuffle on
    the group key; the hot group's rows all visit one reducer but are
    cut to ``n`` there, so downstream stages see bounded groups —
    the cap IS the skew fix for whatever follows it.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        _salted_hash(sql_ident(id_col), salt), F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= n).drop("__rn"))


def source_balanced_sample(df: DataFrame, source_col: str = "source",
                           id_col: str = "doc_id",
                           n_buckets: int = N_BUCKETS,
                           salt: str = "mix") -> DataFrame:
    """Deterministic source-balancing downsample — the data-mixing step
    before training: over-represented sources are thinned toward the
    per-source mean so no single crawl/domain dominates the corpus.

    keep_rate(source s) = min(1, (N/S) / n_s) in exact fixed point
    (``floor(n_buckets * N / (S * n_s))`` — pure BIGINT arithmetic), and
    a row survives iff its salted hash bucket falls under its source's
    rate: the same shuffle-free hash-threshold machinery as
    stratified_sample, so membership is stable under reruns, corpus
    growth, and engine choice. Plan: one small per-source count
    aggregate broadcasts back onto the scan — the corpus itself never
    shuffles. Sources at or below the mean keep everything (rate
    clamps at 1).
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    tot = counts.agg(F.sum("_n").alias("_total"),
                     F.count(F.lit(1)).alias("_nsrc"))
    rates = (counts.crossJoin(F.broadcast(tot))
             .select(F.col(source_col),
                     F.least(F.lit(n_buckets).cast("long"),
                             F.floor(F.lit(n_buckets) * F.col("_total")
                                     / (F.col("_nsrc") * F.col("_n")))
                              .cast("long")).alias("_keep_bp")))
    return (_hash_keep(df.join(F.broadcast(rates), source_col), id_col,
                       n_buckets, salt, F.col("_keep_bp"))
            .drop("_keep_bp"))


def leakage_safe_split(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id", pair_a: str = "doc_a",
                       pair_b: str = "doc_b", train: int = 800,
                       val: int = 100, n_buckets: int = N_BUCKETS,
                       salt: str = "split") -> DataFrame:
    """Dedup-aware train/val/test assignment: the unit of splitting is
    the NEAR-DUP CLUSTER, not the document, so two near-duplicates can
    never straddle the train/test boundary (the eval-contamination
    path a doc-hash split leaves open — Lee et al. 2022 §6.2 measure
    exactly this train/test overlap).

    ``pairs`` is any near-dup pair set (LSH candidates, embedding
    pairs, ...). Each doc's group key = its connected component's
    smallest member id (singletons: the doc's own id), and the
    :func:`dataset_split` hash-bucket rule is applied to the GROUP
    key — so for the ~99% of docs outside any pair the assignment is
    IDENTICAL to dataset_split with the same salt, and membership
    stays stable as the corpus grows.

    Returns (id, group_key, bucket, split) for every input doc.

    SCHEMA NOTE: ``group_key``'s type FOLLOWS the id type (string ids
    yield string group keys). A cast('long') would turn every
    non-numeric string id into NULL and silently dump the whole corpus
    into 'test'; a consumer that persisted an older BIGINT schema must
    migrate the column type.

    Scale shape: component labels are pair-graph-proportional (near-dup
    docs only), so the label join touches a small fraction of the
    corpus; the split itself stays a projection (hash mod), no sort,
    no global state.
    """
    ledger = component_ledger(docs, pairs, id_col, pair_a, pair_b)
    return (dataset_split(ledger, "group_key", train, val, n_buckets, salt)
            .select(id_col, "group_key", "bucket", "split"))


def component_ledger(docs: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id", pair_a: str = "doc_a",
                     pair_b: str = "doc_b") -> DataFrame:
    """(doc_id, group_key) for every corpus doc — the persistable state
    behind :func:`leakage_safe_split`, following the engine's ledger
    discipline (``gram_ledger``/``signature_index``): ~16 bytes per doc,
    keyed by the doc id, and sufficient to extend the split to a new
    batch WITHOUT recomputing corpus-internal near-dup pairs (see
    :func:`incremental_leakage_split`). group_key = the doc's connected
    component's smallest member id; singletons map to themselves."""
    comp = (connected_components(pairs, pair_a, pair_b)
            .select(F.col("doc_id").alias(id_col), "component"))
    # no cast on the group key: connected_components preserves the id
    # type (component = min member id), so coalesce is already
    # homogeneous — a cast("long") here turned every non-numeric string
    # id into NULL and silently dumped the whole corpus into 'test'
    # (hash_bucket(NULL) = NULL fails every threshold)
    return (docs.select(id_col)
                .join(comp, id_col, "left")
                .withColumn("group_key",
                            F.coalesce("component", F.col(id_col)))
                .select(id_col, "group_key"))


def merge_component_ledger(ledger: DataFrame, batch_docs: DataFrame,
                           batch_pairs: DataFrame,
                           id_col: str = "doc_id",
                           pair_a: str = "doc_a", pair_b: str = "doc_b",
                           assert_disjoint: bool = False) -> DataFrame:
    """The grown corpus's :func:`component_ledger` — the persistable
    state update after ingesting a batch, the component-graph twin of
    ``operators/text.py::merge_gram_ledger`` (gram counts are additive;
    component labels instead re-propagate over star ∪ batch edges).

    Returns (doc_id, group_key) for every doc in ledger ∪ batch,
    bit-identical to ``component_ledger`` rebuilt from scratch on the
    grown corpus with the full pair set (the star-collapse argument on
    :func:`incremental_leakage_split`; property-tested) — so the OUTPUT
    of one ingest is the INPUT ledger of the next, and state never
    drifts from the from-scratch truth across any number of batches.

    PRECONDITION — ledger and batch doc ids must be DISJOINT. A batch
    doc already present in the ledger yields duplicate output rows
    (union without distinct), breaking the one-row-per-doc shape every
    downstream audit assumes. The union is deliberately NOT distinct'd:
    dedup here would add a corpus-sized shuffle to pay, on every
    ingest, for a caller bug that the ingest pipeline (new docs = docs
    not in the ledger, by construction) never exhibits. Pass
    ``assert_disjoint=True`` to verify eagerly — one semi-join probe of
    the ledger against the (small, broadcastable) batch id set,
    early-exiting on the first overlap — where the batch's provenance
    is untrusted.
    """
    if assert_disjoint:
        overlap = (ledger.select(id_col)
                   .join(F.broadcast(batch_docs.select(id_col)), id_col,
                         "left_semi")
                   .limit(1).count())
        if overlap:
            raise ValueError(
                "merge_component_ledger: batch doc ids overlap the "
                "ledger — the ledger-disjoint-batch precondition is "
                "violated (re-ingesting a doc would duplicate its "
                "ledger row); filter the batch to genuinely new docs")
    old_edges = (ledger.where(F.col(id_col) != F.col("group_key"))
                       .select(F.col(id_col).alias(pair_a),
                               F.col("group_key").alias(pair_b)))
    return component_ledger(
        ledger.select(id_col).unionByName(batch_docs.select(id_col)),
        old_edges.unionByName(
            batch_pairs.select(F.col(pair_a), F.col(pair_b))),
        id_col, pair_a, pair_b)


def incremental_leakage_split(ledger: DataFrame, batch_docs: DataFrame,
                              batch_pairs: DataFrame,
                              id_col: str = "doc_id",
                              pair_a: str = "doc_a", pair_b: str = "doc_b",
                              train: int = 800, val: int = 100,
                              n_buckets: int = N_BUCKETS,
                              salt: str = "split") -> DataFrame:
    """Leakage-safe split of corpus ∪ batch from the corpus's persisted
    :func:`component_ledger` — corpus-internal near-dup pairs are NEVER
    recomputed; only ``batch_pairs`` (pairs touching the batch:
    new-vs-new plus new-vs-corpus probes, exactly what an LSH index
    probe of the batch yields) are consumed.

    Exactness by star-collapse: every ledger component is replaced by a
    star of edges (member -> group_key). The star preserves both the
    component's connectivity and its minimum (the group key IS the min
    member), so connected components over star ∪ batch_pairs equal
    components over old_pairs ∪ batch_pairs — the result is
    bit-identical to :func:`leakage_safe_split` on the grown corpus
    with the full pair set (property-tested).

    Returns (doc_id, group_key, bucket, split, migrated) for every doc
    in ledger ∪ batch. ``migrated`` is the split-stability audit
    signal: true iff the doc held a DIFFERENT group key in the ledger —
    i.e. a batch doc (or a batch-discovered pair) merged two previously
    separate clusters, which is precisely when a doc's train/test
    assignment can silently move between runs and eval contamination
    can enter retroactively. Batch docs are never flagged (no prior
    assignment to migrate from).

    PRECONDITION: ledger and batch doc ids disjoint — see
    :func:`merge_component_ledger` (which computes the keyed frame and
    owns the contract + the opt-in eager check).

    Scale shape: star edges are ledger-row-bounded and batch pairs are
    probe-bounded, so the component recompute touches the pair graph,
    never corpus text; the split stays a pure hash projection.
    """
    # the merged ledger IS the keyed frame: persisting it makes the
    # next ingest incremental too (see runner.run_split_ledger_update)
    keyed = merge_component_ledger(ledger, batch_docs, batch_pairs,
                                   id_col, pair_a, pair_b)
    out = dataset_split(keyed, "group_key", train, val, n_buckets, salt)
    prev = ledger.select(F.col(id_col),
                         F.col("group_key").alias("_prev_gk"))
    return (out.join(prev, id_col, "left")
               .withColumn("migrated",
                           F.coalesce(F.col("_prev_gk")
                                      != F.col("group_key"),
                                      F.lit(False)))
               .select(id_col, "group_key", "bucket", "split",
                       "migrated"))


def split_leakage_audit(pairs: DataFrame,
                        pair_a: str = "doc_a", pair_b: str = "doc_b",
                        train: int = 800, val: int = 100,
                        n_buckets: int = N_BUCKETS,
                        salt: str = "split") -> DataFrame:
    """Evaluation-integrity audit: count near-dup pairs by the
    unordered (split, split) cell they land in, under BOTH the naive
    per-document hash split and the cluster-aware leakage-safe split.

    The number this MEASURES is Lee et al. 2022 §6.2's train/test
    contamination: every ('doc_hash', 'test', 'train') pair is a
    near-duplicate of an eval document sitting in the training set.
    Under scheme 'cluster' that cell is structurally zero — both
    endpoints of any pair share a connected component, hence a group
    key, hence a split — which is exactly the invariant
    :func:`leakage_safe_split` exists to provide, and this audit is
    the query that PROVES it on a given corpus rather than trusting
    the constructor (both endpoints are labeled independently; the
    diagonal is measured, never assumed).

    Returns (scheme, split_a, split_b, n_pairs) with split_a <=
    split_b lexicographically (cells are unordered).

    Scale shape — the CORPUS TABLE NEVER PARTICIPATES: every audited
    endpoint is by definition in the pair graph, its doc_hash split is
    a pure hash projection of its id (identical to dataset_split), and
    its cluster split hashes its component's min member (identical to
    leakage_safe_split's group key for in-pair docs). So the whole
    audit costs pair-graph-proportional work — component propagation
    plus two label joins — no matter how large the corpus is.
    """
    def split_of(col: str) -> Column:
        return _split_of(hash_bucket(col, n_buckets, salt), train, val)

    def cells(sa: Column, sb: Column, scheme: str,
              frame: DataFrame) -> DataFrame:
        return (frame.select(F.lit(scheme).alias("scheme"),
                             F.least(sa, sb).alias("split_a"),
                             F.greatest(sa, sb).alias("split_b"))
                     .groupBy("scheme", "split_a", "split_b")
                     .agg(F.count(F.lit(1)).cast("long")
                           .alias("n_pairs")))

    p = pairs.select(pair_a, pair_b)
    naive = cells(split_of(sql_ident(pair_a)), split_of(sql_ident(pair_b)),
                  "doc_hash", p)
    comp = connected_components(pairs, pair_a, pair_b)
    ca = comp.select(F.col("doc_id").alias(pair_a),
                     F.col("component").alias("_ga"))
    cb = comp.select(F.col("doc_id").alias(pair_b),
                     F.col("component").alias("_gb"))
    labeled = p.join(ca, pair_a).join(cb, pair_b)
    cluster = cells(split_of("_ga"), split_of("_gb"),
                    "cluster", labeled)
    return naive.unionByName(cluster)


def corpus_shuffle(df: DataFrame, n_shards: int = 256,
                   id_col: str = "doc_id",
                   seed: str = "shuffle") -> DataFrame:
    """Deterministic training-order shuffle: assign every document a
    shard and a position within it, both derived from a salted content
    hash — the global random permutation a training run reads, without
    a global sort.

    A single ORDER BY rand() is a one-reducer scale cliff; the sharded
    form is how large corpora are actually shuffled for training
    (shard files + within-shard order): ``shard = h % n_shards`` routes
    rows in-scan, and ``shard_pos`` is a row_number over (h, id) INSIDE
    each shard — n_shards independent sorts of ~N/n_shards rows, one
    hash-partition exchange total. Reading shards in index order yields
    a deterministic pseudo-random permutation of the corpus; reruns,
    retries, and engine choice all reproduce it (hash is md5-based, no
    RNG state). Changing ``seed`` gives an independent epoch order.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    return (_shard_order(df.select(id_col), id_col, n_shards, seed)
            .select(id_col, "shard", "shard_pos"))


def token_budget_mix(docs: DataFrame, budget_tokens: int,
                     overrides: dict[str, int] | None = None,
                     source_col: str = "source",
                     id_col: str = "doc_id", text_col: str = "text",
                     seed: str = "mixfill",
                     n_range_buckets: int = 64) -> DataFrame:
    """Greedy per-source fill toward a TOKEN budget — the data-mixture
    step stated in the units that matter for training (tokens, not
    docs; cf. source_balanced_sample's doc-count thinning).

    Docs are ordered inside each source by a salted content hash (a
    deterministic pseudo-random order, stable under reruns and corpus
    growth-by-append at the tail) and kept while the cumulative token
    count BEFORE the doc is under the source's budget — so every
    source with any data contributes at least one doc, and the
    realized total overshoots each budget by at most one document.
    ``overrides`` pins per-source budgets; everything else gets
    ``budget_tokens``.

    Returns every input doc with its decision — (doc_id, source,
    n_tokens, cum_before, kept) — so the selection boundary is
    auditable (and oracle-testable) rather than implicit.

    Scale shape — :func:`_bucketed_exclusive_sum`. A training mixture
    has a handful of sources, so a window partitioned by ``source``
    alone would sort each source's ENTIRE multi-TB row set in one task.
    Instead the per-source hash order is range-bucketed:
    ``_b = _h div ceil(2^60/B)`` is order-preserving in ``_h`` (equal
    hashes share a bucket), so cum_before = per-bucket offset (a window
    over the tiny S*B totals frame, broadcast back) + within-bucket
    prefix (a window over (source, _b), the one big-side exchange).
    The result is bit-identical for any ``n_range_buckets`` >= 1 and
    budgets stay a literal CASE. Max rows per sorting task drops from
    n_source to ~n_source/B; raise ``n_range_buckets`` to match
    cluster parallelism at larger scale.
    """
    if n_range_buckets < 1:
        raise ValueError("n_range_buckets must be >= 1")
    ov = dict(overrides or {})
    budget = F.lit(int(budget_tokens)).cast("long")
    for s, b in sorted(ov.items()):
        budget = F.when(F.col(source_col) == s,
                        F.lit(int(b)).cast("long")).otherwise(budget)
    # integer div, not float /: _h spans 60 bits, past double's 53-bit
    # mantissa, so float bucketing could misplace boundary rows
    width = -(-(1 << 60) // n_range_buckets)
    base = (docs.select(F.col(id_col), F.col(source_col),
                        _n_tokens(text_col).alias("n_tokens"),
                        _salted_hash(sql_ident(id_col), seed).alias("_h"))
                .withColumn("_b", F.expr(f"_h div {width}")))
    return (_bucketed_exclusive_sum(base, [source_col], ["_h", id_col],
                                    F.col("n_tokens"), "cum_before")
            .withColumn("kept", F.col("cum_before") < budget)
            .select(id_col, source_col, "n_tokens", "cum_before", "kept"))


def temperature_mix_weights(docs: DataFrame, budget_tokens: int,
                            tau: int = 2, source_col: str = "source",
                            text_col: str = "text") -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual /
    multi-domain mixing rule of mT5 (Xue et al. 2021 §3.3) and XLM-R:
    sample source s with probability ∝ n_s^(1/tau), flattening the
    natural token distribution so low-resource sources are up-weighted
    without letting any single crawl dominate. tau=1 reproduces natural
    proportions; larger tau flattens toward uniform.

    Exact cross-engine arithmetic: ``tau`` must be a power of two, so
    n^(1/tau) is log2(tau) iterated IEEE-754 sqrts — sqrt and multiply
    are correctly-rounded double ops, bit-identical in every engine
    (never pow(x, 0.37)-style libm territory) — floored to integer
    micro-units BEFORE any division; shares and budgets are then pure
    integer floor divisions, widened to DECIMAL(38,0) so the *10000 /
    *budget products cannot wrap at exabyte-scale token counts (the
    market_share lesson).

    Returns one row per source: (source, n_tokens, weight_micro,
    share_bp, budget_tokens). The budget_tokens column is the
    per-source allocation of the given total — exactly the
    ``overrides`` dict :func:`token_budget_mix` consumes: weights SAY
    the mixture, the fill ENFORCES it.

    Scale shape: one source-keyed count aggregate (map-side combine
    absorbs the corpus; S rows out) + a broadcast 1-row total. The
    corpus itself never shuffles.
    """
    if tau < 1 or (tau & (tau - 1)):
        raise ValueError("tau must be a power of two (1, 2, 4, ...)")
    counts = (docs.groupBy(source_col)
                  .agg(F.sum(_n_tokens(text_col)).cast("long")
                        .alias("n_tokens")))
    scaled = F.col("n_tokens").cast("double")
    t = tau
    while t > 1:
        scaled = F.sqrt(scaled)
        t //= 2
    weights = counts.withColumn(
        "weight_micro",
        F.floor(scaled * F.lit(1_000_000.0)).cast("long"))
    tot = weights.agg(F.sum("weight_micro").alias("_tot"))
    # degenerate-corpus guard: if every source has zero (or all-NULL)
    # tokens, _tot is 0 and the DIVs below would emit NULL share/budget
    # rows that crash the documented int(r['budget_tokens']) consumer
    # later and further away — fail HERE, loudly, at execution time
    # (raise_error keeps the function lazy; the branch costs nothing on
    # healthy corpora)
    guard = F.expr(
        "CASE WHEN _tot IS NULL OR _tot = 0 THEN CAST(raise_error("
        "'temperature_mix_weights: every source has zero countable "
        "tokens - no mixture is definable') AS BIGINT) "
        "ELSE _tot END")
    return (weights.crossJoin(F.broadcast(tot))
            .withColumn("_tot", guard)
            .select(source_col, "n_tokens", "weight_micro",
                    bp("weight_micro", "_tot").alias("share_bp"),
                    F.expr(f"CAST((CAST(weight_micro AS DECIMAL(38,0))"
                           f" * {int(budget_tokens)}) DIV _tot AS BIGINT)")
                     .alias("budget_tokens")))


def dsir_importance(docs: DataFrame, target: DataFrame | None,
                    n_features: int = 10_000,
                    text_col: str = "text",
                    id_col: str = "doc_id", *,
                    target_pred: Column | None = None) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023):
    score every raw document by how much its hashed n-gram features
    look like a TARGET domain sample — importance =
    sum_f count_f(doc) * log(p_target(f) / p_raw(f)) over hashed
    unigram+bigram features — the principled replacement for
    classifier-based quality filtering when "quality" means "like this
    domain". High scores feed :func:`weighted_sample`-style keeps or a
    top-k cut.

    Exact cross-engine arithmetic: the log-ratio is quantized to
    SIGNED WHOLE BITS, ``whole_bits(num, den) - whole_bits(den, num)``
    (:func:`~w_userflow_featurestore_spark.functions.whole_bits`, which
    is 0 when its quotient is 0), where
    num = (t_f + 1) * (R + n_features) and
    den = (r_f + 1) * (T + n_features) — add-one smoothed target/raw
    feature probabilities cross-multiplied into integers, widened to
    DECIMAL(38,0) so the count*total products cannot wrap at corpus
    scale. The quantization is a documented symmetric floor (for
    ratios < 1 it rounds toward zero, i.e. -lb(1/x) instead of
    -ceil(log2(1/x))) — deterministic and identical in both engines,
    which is the contract that matters for a ranking signal.

    Returns (doc_id, n_feats, score_bits): feature occurrences (with
    multiplicity) and the summed signed-bit importance.

    Scale shape: features hash into ``n_features`` buckets, so the
    count aggregates are bounded-output hash-aggs with map-side
    combine, the weight table is at most n_features rows and
    BROADCASTS onto the doc-feature stream (the corpus never shuffles
    for the scoring join), and one doc-keyed aggregate emits the
    score. Grams are built row-locally from each doc's word array and
    collapsed to the (doc, feature, count) grain in ONE partial
    aggregate whose exchange both consumers (the r_f re-aggregate and
    the scoring join) share as a ReusedExchange — one gram+hash map
    pass over the corpus, no token-grain materialization and no
    recomputation of the token-grain subtree per consumer.
    """
    def grams(frame: DataFrame, *extra_cols: str) -> DataFrame:
        # single parsed expression per projection: a Column-API form
        # of this builder costs ~160 py4j roundtrips per construction
        ws = _words_sql(sql_ident(text_col))
        bigrams = (f"transform(sequence(1, size({ws}) - 1),"
                   f" i -> concat_ws(' ', element_at({ws}, i),"
                   f" element_at({ws}, i + 1)))")
        allgrams = (f"CASE WHEN size({ws}) >= 2"
                    f" THEN concat({ws}, {bigrams}) ELSE {ws} END")
        g = (fan_out(frame.select(*extra_cols, F.col(text_col)))
             .select(*extra_cols,
                     F.expr(f"explode({allgrams})").alias("_g"))
             .where(F.col("_g") != ""))
        return g.select(*extra_cols,
                        F.expr("pmod({h}, {n})".format(
                            h=_hash60_sql("concat('dsir:', _g)"),
                            n=n_features)).alias("f"))

    if (target is None) == (target_pred is None):
        raise ValueError("dsir_importance: pass exactly one of "
                         "target / target_pred")
    # (doc, f, count) grain FIRST: both consumers (the r_f re-aggregate
    # and the scoring join) then read the SAME (id, f)-keyed partial
    # aggregate subtree, so its exchange plans once and the second
    # consumer replays it as a ReusedExchange — the corpus gram explode
    # + 60-bit hashing runs ONE map pass instead of two, without
    # materializing token-grain state.
    if target_pred is not None:
        # target ⊆ docs stated as a predicate: the target feature
        # counts are then sums of the per-doc counts over the flagged
        # docs — derived from the SAME (doc, f) partial aggregate, so
        # the target side costs zero extra corpus passes (the
        # separate-frame path below pays a second gram explode over
        # the target sample). The flag is per-doc
        # constant, so adding it to the group key changes no group.
        base = docs.select(F.col(id_col), F.col(text_col),
                           F.coalesce(target_pred, F.lit(False))
                            .alias("_tgt"))
        doc_feats_t = (grams(base, id_col, "_tgt")
                       .groupBy(id_col, "_tgt", "f")
                       .agg(F.count(F.lit(1)).cast("long").alias("_c")))
        t_counts = (doc_feats_t.where(F.col("_tgt")).groupBy("f")
                    .agg(F.sum("_c").cast("long").alias("t_f")))
        doc_feats = doc_feats_t.drop("_tgt")
    else:
        t_counts = (grams(target).groupBy("f")
                    .agg(F.count(F.lit(1)).cast("long").alias("t_f")))
        doc_feats = (grams(docs, id_col)
                     .groupBy(id_col, "f")
                     .agg(F.count(F.lit(1)).cast("long").alias("_c")))
    r_counts = (doc_feats.groupBy("f")
                .agg(F.sum("_c").cast("long").alias("r_f")))
    t_tot = t_counts.agg(F.coalesce(F.sum("t_f"), F.lit(0))
                         .alias("_T"))
    r_tot = r_counts.agg(F.coalesce(F.sum("r_f"), F.lit(0))
                         .alias("_R"))
    num = (f"CAST(coalesce(t_f, 0) + 1 AS DECIMAL(38,0))"
           f" * (_R + {n_features})")
    den = (f"CAST(coalesce(r_f, 0) + 1 AS DECIMAL(38,0))"
           f" * (_T + {n_features})")
    weights = (r_counts.join(t_counts, "f", "full_outer")
               .crossJoin(F.broadcast(t_tot))
               .crossJoin(F.broadcast(r_tot))
               .select("f",
                       (whole_bits(num, den) - whole_bits(den, num))
                       .cast("long").alias("w_bits")))
    return (doc_feats.join(F.broadcast(weights), "f")
            .groupBy(id_col)
            .agg(F.sum("_c").cast("long").alias("n_feats"),
                 F.sum(F.col("_c") * F.col("w_bits")).cast("long")
                  .alias("score_bits")))


def dsir_select(docs: DataFrame, target: DataFrame | None,
                budget_docs: int, n_features: int = 10_000,
                text_col: str = "text",
                id_col: str = "doc_id", *,
                target_pred: Column | None = None) -> DataFrame:
    """The RESAMPLING half of DSIR (Xie et al. 2023): keep the
    ``budget_docs`` documents whose :func:`dsir_importance` score says
    they look most like the target domain — exact top-k by
    (score_bits DESC, doc_id ASC), completing the score -> selection
    composition the same way :func:`temperature_mix_weights` feeds
    :func:`token_budget_mix`. Returns the selected rows
    (doc_id, n_feats, score_bits); fewer than ``budget_docs`` docs
    means everything is kept.

    Scale shape — NO corpus-sized sort (the perplexity_buckets trick):
    score_bits is a whole-bit integer, so its value domain is small
    and bounded. The selection is :func:`_budget_cut` with a weight of
    one per doc: a (score_bits, count) HISTOGRAM and a descending
    cumulative window over that tiny frame find the boundary score;
    every doc scoring ABOVE it is kept outright, and the exact-k
    remainder is resolved by doc_id among the BOUNDARY SCORE'S ties
    only — the id-ordered prefix window sees just the tie rows (one
    score value), never the corpus, the same bounded-worst-case trade
    TakeOrdered makes. The scored frame is lineage-cut (three narrow
    columns per doc) because three consumers read it and its subtree
    is the full DSIR scoring pipeline.
    """
    if budget_docs <= 0:
        raise ValueError("budget_docs must be > 0 — an empty selection "
                         "is never what a resampling run means")
    scores = dsir_importance(docs, target, n_features, text_col,
                             id_col, target_pred=target_pred) \
        .localCheckpoint(eager=True)
    return _budget_cut(scores, id_col, F.lit(1), budget_docs)


def dsir_select_tokens(docs: DataFrame, target: DataFrame | None,
                       budget_tokens: int, n_features: int = 10_000,
                       text_col: str = "text",
                       id_col: str = "doc_id", *,
                       target_pred: Column | None = None) -> DataFrame:
    """:func:`dsir_select` restated in the units a training budget is
    actually denominated in — TOKENS, not documents (the same
    doc-count -> token-count upgrade :func:`token_budget_mix` makes
    over source_balanced_sample): walk the corpus in importance order
    (score_bits DESC, doc_id ASC) and keep each doc while the
    cumulative token count BEFORE it is under ``budget_tokens`` —
    token_budget_mix's exact boundary rule, so the realized total
    overshoots by at most one document and a corpus smaller than the
    budget is kept whole.

    Returns the selected rows (doc_id, n_feats, score_bits, n_tokens).

    Scale shape — the same :func:`_budget_cut` as :func:`dsir_select`,
    weighted by token mass instead of one per doc: only the boundary
    score's ties pay an id-ordered token prefix sum, and the corpus
    never sorts; per-doc token counts are a row-local projection
    joined onto the scored frame by doc_id.
    """
    if budget_tokens <= 0:
        # the no-boundary case of the cut means "the corpus fits the
        # budget"; a zero/negative budget would alias onto it and keep
        # everything — the exact opposite of what was asked
        raise ValueError("budget_tokens must be > 0")
    scores = (dsir_importance(docs, target, n_features,
                              text_col, id_col,
                              target_pred=target_pred)
              .join(docs.select(F.col(id_col),
                                _n_tokens(text_col).alias("n_tokens")),
                    id_col)
              .localCheckpoint(eager=True))
    return _budget_cut(scores, id_col, F.col("n_tokens"), budget_tokens)


def negative_samples(positives: DataFrame, user_col: str = "user_id",
                     item_col: str = "item_k", k: int = 4,
                     salt: str = "neg") -> DataFrame:
    """Deterministic negative sampling for (user, item) training pairs.

    For every distinct positive pair, draw ``k`` pseudo-random items
    from the observed item catalog by content hash (draw i of pair p =
    hash(salt:user:item:i) mod |catalog|), then anti-join out anything
    the user actually interacted with. Collisions between draws and
    true positives are dropped, not re-drawn — so a pair yields AT MOST
    k negatives; the draw set never changes when the corpus grows rows
    for other users (rerun-stable, like dataset_split), and any engine
    can replay the exact sample from the md5 expression (the DuckDB
    oracle does).

    Scale shape: the catalog's dense 0..n-1 index is the bucketed
    exclusive prefix sum of one per item (per-bucket prefix window +
    broadcast bucket offsets — never a single-partition global sort);
    the k-way expansion is a row-local posexplode of a literal range
    (projection, no shuffle); the only other shuffles are the two
    distincts and the anti-join, all on the same (user, item)-family
    keys. No RNG state, no driver-side sampling loops. The finished
    catalog still broadcasts, which bounds it at broadcast scale — the
    same envelope any hash-negative-sampling scheme needs.
    """
    pos = positives.select(F.col(user_col).alias("_u"),
                           F.col(item_col).alias("_i")).distinct()
    # dense 0..n-1 catalog index WITHOUT a single-partition global
    # sort: the bucketed exclusive prefix count of the distinct items
    n_rank_buckets = 64
    items = (pos.select("_i").distinct()
                .withColumn("_b", F.pmod(text_hash60("CAST(_i AS STRING)"),
                                         F.lit(n_rank_buckets))))
    catalog = (_bucketed_exclusive_sum(items, [], ["_i"], F.lit(1), "_idx")
               .select(F.col("_i").alias("_cat_item"), "_idx"))
    n_items = catalog.groupBy().agg(
        F.count(F.lit(1)).alias("_n_items"))
    draws = (pos.crossJoin(F.broadcast(n_items))
                .select("_u", "_i",
                        F.posexplode(F.array(*[F.lit(i) for i in range(k)]))
                         .alias("draw", "_z"),
                        "_n_items")
                .select("_u", "_i", "draw",
                        F.pmod(text_hash60(
                            f"concat_ws(':', {sql_str(salt)}, _u, _i, draw)"),
                            F.col("_n_items")).alias("_idx")))
    cand = (draws.join(F.broadcast(catalog), "_idx")
                 .select(F.col("_u"), F.col("_i"), F.col("draw"),
                         F.col("_cat_item").alias("_neg")))
    out = cand.join(pos.select(F.col("_u"), F.col("_i").alias("_neg")),
                    ["_u", "_neg"], "left_anti")
    return out.select(F.col("_u").alias(user_col),
                      F.col("_i").alias(item_col),
                      F.col("draw").cast("long").alias("draw"),
                      F.col("_neg").alias("neg_" + item_col))


def curriculum_order(docs: DataFrame, n_stages: int = 4,
                     n_shards: int = 16, text_col: str = "text",
                     id_col: str = "doc_id",
                     seed: str = "curriculum") -> DataFrame:
    """Curriculum training order (Bengio et al. 2009, applied the way
    data-ordering papers schedule LLM pretraining): documents are
    bucketed into ``n_stages`` difficulty stages by LM surprisal —
    stage 1 = most fluent, trained first — and randomized WITHIN each
    stage by :func:`corpus_shuffle`'s sharded deterministic
    permutation, so the reader consumes (stage, shard, shard_pos) in
    lexicographic order and gets easy-to-hard globally with unbiased
    order locally. The consumer composition over
    ``token_surprisal`` that :func:`token_budget_mix` is over
    ``temperature_mix_weights``.

    Stage thresholds are VALUE thresholds from a score HISTOGRAM
    (the ``perplexity_buckets`` rule, global instead of per-language):
    t_s = the smallest 4-decimal-quantized mean_bits whose cumulative
    doc count reaches ceil(s*n/n_stages); ties share a stage. A doc
    with zero countable tokens has no surprisal and gets no row (the
    ``bigram_surprisal`` precedent — compose with a metadata backstop
    if such docs must train).

    Returns (doc_id, mean_bits, stage, shard, shard_pos).

    Scale shape: surprisal is two token-grain hash aggregates; the
    scored frame is lineage-cut once and never globally sorts —
    thresholds come from a value-domain histogram
    (``text._quantile_stage``) and ride a 1-row broadcast; the
    within-stage permutation (``_shard_order``, as in
    :func:`corpus_shuffle`) is ``n_stages x n_shards`` independent
    row_number sorts of ~n/(stages*shards) rows each after ONE hash
    exchange. No RangePartitioning anywhere.
    """
    if n_stages < 2:
        raise ValueError("n_stages must be >= 2")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    scored = (token_surprisal(docs, text_col, id_col)
              .select(F.col(id_col), "mean_bits")
              .localCheckpoint(eager=True))
    staged = _quantile_stage(scored, "mean_bits",
                             list(range(1, n_stages + 1)), [], "stage")
    return (_shard_order(staged, id_col, n_shards, seed, "stage")
            .select(id_col, "mean_bits", "stage", "shard", "shard_pos"))
