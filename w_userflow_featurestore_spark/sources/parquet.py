"""Batch sources/sinks over partitioned parquet.

The reference uses Iceberg for every table (scan S5, MERGE S9, dynamic
partition overwrite S10 — reference src/spark/silver/silver_user_session_events.py:67,146-186
and src/spark/gold/*_metrics.py writeTo(...).overwritePartitions()).
This module provides the same three idempotency primitives in a
format-agnostic way so the engine runs on plain parquet in tests and on
Iceberg/Delta in production (swap the writer, keep the call sites):

- ``read_table``            — pruned scan (S5): filters passed here reach the
                              parquet reader as PushedFilters / partition pruning.
- ``read_path``             — the live rows of a pipeline table. A path
                              holding a LogTable log is a LogTable, any
                              other a parquet directory; the two writers
                              below decide the format the same way.
- ``overwrite_partitions``  — dynamic partition overwrite (S10): replace only
                              the partitions present in the result.
- ``merge_upsert``          — MERGE INTO semantics (S9) as an anti-join +
                              union partition rewrite for formats without a
                              transactional MERGE.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from w_userflow_featurestore_spark.conf import session_cache
from w_userflow_featurestore_spark.sources.lakehouse import (
    LogTable, _part_matches,
)

# Timestamp columns in the fixture tables. They are stored as parquet
# TIMESTAMP(NANOS); with spark.sql.legacy.parquet.nanosAsLong=true they
# arrive as nanosecond BIGINTs and are normalized here to TimestampType at
# microsecond precision — exactly what DuckDB's parquet reader yields, so
# oracle epoch math agrees to the microsecond.
_NANO_TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

#: session_cache key: {table path: (stat signature, inferred
#: StructType)}. Re-inferring the schema costs a footer read +
#: datasource resolution per call (~40-80 ms per call); pinning the
#: memoized schema via .schema(...) skips it while producing the
#: IDENTICAL relation. The entry is served only while the path's stat
#: signature is unchanged: a table rewritten at the same path (a
#: regenerated fixture, a randomized test instance) may change a
#: column's type, and a stale pinned schema then fails the scan.
_SCHEMA_MEMO = "parquet.schema"


def _stat_signature(path: str) -> tuple | None:
    """(mtime_ns, size) of a local table file or directory; None when
    it cannot be stat'ed (e.g. a remote URI)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def read_table(spark: SparkSession, sf_dir: str, name: str,
               where: Column | None = None,
               columns: list[str] | None = None,
               ts_filter: tuple[str, str | None, str | None] | None = None,
               ) -> DataFrame:
    """Scan one fixture table, pushing filter + projection into the scan.

    Express pruning declaratively — Catalyst pushes both into the parquet
    reader (verify with .explain: PushedFilters / ReadSchema).

    CAVEAT — timestamp predicates: the nanos->timestamp conversion below
    is a projection, so a ``where`` on the converted column CANNOT reach
    the scan (Catalyst will not push a filter through
    ``timestamp_micros(x div 1000)``). For time-range pruning use
    ``ts_filter=(col, min_ts, max_ts)`` (inclusive ISO bounds, None =
    unbounded): it is applied to the RAW nano-epoch BIGINT *before* the
    conversion and shows up in PushedFilters — i.e. row-group min/max
    pruning keeps working. At 100 TB this is the difference between a
    pruned scan and a full one. (Tables already stored as TIMESTAMP_MICROS
    take the normal pushdown path; the nanos detour exists only because
    Spark's vectorized reader rejects parquet TIMESTAMP(NANOS).)
    """
    path = f"{sf_dir}/{name}.parquet"
    memo = session_cache(spark).setdefault(_SCHEMA_MEMO, {})
    sig = _stat_signature(path)
    hit = memo.get(path)
    if hit is None or hit[0] != sig:
        df = spark.read.parquet(path)
        memo[path] = (sig, df.schema)
    else:
        df = spark.read.schema(hit[1]).parquet(path)
    if ts_filter is not None:
        c, lo, hi = ts_filter
        raw = df.schema[c].dataType

        def bound(iso: str) -> Column:
            if isinstance(raw, T.LongType):
                epoch_ns = int(_dt.datetime.fromisoformat(iso)
                               .replace(tzinfo=_dt.timezone.utc)
                               .timestamp() * 1_000_000) * 1_000
                return F.lit(epoch_ns)
            if isinstance(raw, T.TimestampNTZType):
                # literal must match the column's NTZ type or the
                # comparison won't push down (and may not analyze)
                return F.lit(iso).cast("timestamp_ntz")
            return F.lit(iso).cast("timestamp")

        if lo is not None:
            df = df.where(F.col(c) >= bound(lo))
        if hi is not None:
            df = df.where(F.col(c) <= bound(hi))
    for c in _NANO_TS_COLS.get(name, []):
        if isinstance(df.schema[c].dataType, T.LongType):
            # integer `div` (not `/`): float division of 1.7e18-scale nanos
            # would lose sub-millisecond precision past double's 53-bit mantissa
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif isinstance(df.schema[c].dataType, T.TimestampNTZType):
            # fixture encodings vary by generator version: TIMESTAMP(NANOS)
            # arrives as BIGINT (branch above), TIMESTAMP_MICROS with
            # isAdjustedToUTC=false arrives as TIMESTAMP_NTZ. Normalize to
            # TimestampType so epoch math (unix_millis etc.) analyzes; with
            # session tz pinned to UTC (conf.py) the NTZ->LTZ cast maps the
            # naive wall time to the identical instant DuckDB's reader
            # yields, so oracle epoch math still agrees to the microsecond.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if where is not None:
        df = df.where(where)
    if columns:
        df = df.select(*columns)
    return df


#: session_cache key: {analyzed-plan semanticHash: partition count}.
_FANOUT_PARTS_MEMO = "parquet.fanout_parts"


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a CPU-heavy narrow stage across all cores.

    Parallelism of a narrow (shuffle-free) stage is fixed by the scan's
    split count. At 100 TB a table is thousands of splits and this is a
    no-op; at test scale a 5 k-row table is ONE parquet split, so a
    compute-dense projection chain (shingling, md5 minhashing, vector
    quantization, Arrow decode) would otherwise run on a single core of
    local[32]. Round-robin repartition only when the input has fewer
    partitions than the target (default: sparkContext.defaultParallelism)
    — the shuffle moves the small input once, and the expensive
    expressions stay ABOVE the exchange (Catalyst's column pruning pushes
    attributes, not computation, through a Repartition), so the heavy
    work lands on every core.

    The partition count is ``df.rdd.getNumPartitions()``, which plans
    the subtree physically (~100 ms). It is memoized per session on the
    analyzed plan's ``semanticHash``, so repeated constructions of the
    same query (warm-up + timed repeats) size the frame once.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    memo = session_cache(spark).setdefault(_FANOUT_PARTS_MEMO, {})
    try:
        key = df.semanticHash()
    except Exception:  # noqa: BLE001 — unanalyzable: size it uncached
        key = None
    if key is not None and key in memo:
        n = memo[key]
    else:
        n = df.rdd.getNumPartitions()
        if key is not None:
            memo[key] = n
    if n >= target:
        return df
    return df.repartition(target)


def write_partitioned(df: DataFrame, path: str, partition_by: list[str],
                      mode: str = "overwrite") -> None:
    """Write a day-partitioned table (all reference tables are
    PARTITIONED BY days(datetime); bronze_load_raw_data.py:62)."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def is_written(spark: SparkSession, path: str) -> bool:
    """Whether the table at ``path`` holds a write: a LogTable with at
    least one commit, or a parquet directory with a data file outside
    Spark's hidden ``_``/``.`` dirs (``merge_upsert`` removes emptied
    partition dirs, and a crashed first write leaves only
    ``_temporary``). The one "not written yet" test: a read failure of
    a written table propagates. The walk stops at the first data
    file."""
    if LogTable.is_log_table(path):
        return LogTable(spark, path).latest_snapshot_id() is not None
    for _root, dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
    return False


def read_path(spark: SparkSession, path: str,
              filters: list[tuple] | None = None,
              schema: T.StructType | None = None) -> DataFrame:
    """The live rows of the table at ``path``: a LogTable's current
    snapshot, or a parquet directory read with ``schema`` pinned when
    given (no footer-read job). ``filters`` are ``(col, op, value)``
    conjuncts as :meth:`LogTable.read` takes them; on a LogTable they
    also skip files by manifest statistics."""
    if LogTable.is_log_table(path):
        return LogTable(spark, path).read(filters=filters)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return LogTable._apply_filters(reader.parquet(path), filters or [])


def overwrite_partitions(df: DataFrame, path: str,
                         partition_by: list[str]) -> None:
    """Dynamic partition overwrite (S10): replaces only partitions present
    in ``df`` — the gold layer's idempotent recovery unit
    (reference gold_user_daily_metrics.py:104 `.overwritePartitions()`).

    A LogTable at ``path`` gets one atomic commit instead of an
    in-place directory rewrite.
    """
    if LogTable.is_log_table(path):
        LogTable(df.sparkSession, path).overwrite_partitions(df)
        return
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_by)
       .parquet(path))


def write_bucketed(df: DataFrame, table: str, keys: list[str],
                   buckets: int = 32, path: str | None = None,
                   sort: bool = True, mode: str = "overwrite") -> None:
    """Write a bucketed (hash-clustered) parquet table.

    Bucketing pre-partitions data by ``hash(keys) % buckets`` at WRITE
    time, so every later join or aggregation on ``keys`` between
    co-bucketed tables plans with ZERO exchanges — the shuffle is paid
    once at ingest instead of per query. This is the standard layout for
    a 100 TB fact table that joins repeatedly on the same key (events x
    sessions on user_id, documents x signatures on doc_id): at that scale
    a sort-merge join's two full shuffles dominate the query, and
    bucketing removes both (sortBy additionally removes the per-query
    Sort). Spark only attaches bucketing metadata through the catalog, so
    this writes a TABLE (``saveAsTable``), not a bare path; pass ``path``
    to control file placement (external table).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def _delete_partition_dirs(target_path: str, partition_by: list[str],
                           part_rows: list[dict]) -> None:
    """Remove the Hive partition directories matching ``part_rows``.

    Matching parses each dir segment (unquote + null sentinel) and
    compares through :func:`lakehouse._part_matches` — the same
    formatting/coercion rules the pruning layer uses — instead of
    re-implementing Spark's dir-name escaping for the write direction.
    Local-filesystem paths only, like the rest of the plain-parquet
    fallback (the transactional LogTable format owns remote/production
    storage and deletes by commit, not by directory).
    """
    import shutil
    from urllib.parse import unquote

    cands = [target_path]
    for col in partition_by:            # walk nested hive levels in order
        nxt = []
        for base in cands:
            try:
                segs = os.listdir(base)
            except FileNotFoundError:
                continue
            nxt.extend(os.path.join(base, seg) for seg in segs
                       if seg.startswith(f"{col}="))
        cands = nxt
    for d in cands:
        vals: dict = {}
        for seg in os.path.relpath(d, target_path).split(os.sep):
            c, v = seg.split("=", 1)
            vals[c] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                       else unquote(v))
        for row in part_rows:
            if all(_part_matches(vals[c], row[c]) for c in partition_by):
                shutil.rmtree(d, ignore_errors=True)
                break


def _part_set(types: dict) -> Column:
    """Observed metric: the partitions a frame's rows land in. Each
    value is cast to its merged type and rendered as text, so the sets
    observed on the target read (inferred partition types) and on the
    merged write compare the way the written directory names do: NULL
    and NaN included, and an inferred int 1 equal to a written '1'."""
    return F.collect_set(F.struct(*[
        F.col(c).cast(t).cast("string") for c, t in types.items()
    ])).alias("p")


def _observed_parts(obs: Observation) -> set[tuple]:
    """The partition tuples a ``_part_set`` observation collected."""
    return {tuple(r) for r in obs.get["p"]}


def merge_upsert(spark: SparkSession, target_path: str, staged: DataFrame,
                 keys: list[str], partition_by: list[str],
                 retire: DataFrame | None = None) -> None:
    """MERGE INTO semantics (S9), format-dispatched.

    Reference: silver stages sessions as a temp view and MERGEs on the full
    session key — matched rows updated, new rows inserted
    (silver_user_session_events.py:146-186).

    ``retire`` (a frame holding the ``keys`` columns) names target rows
    to delete unless ``staged`` carries their key: MERGE's ``WHEN NOT
    MATCHED BY SOURCE ... THEN DELETE``, restricted to those keys. The
    silver runner retires the stored sessions it re-derived, whose ids
    a late event may have changed.

    A LogTable at ``target_path`` takes the transactional commit-log
    merge: file-granular copy-on-write with an atomic commit
    (sources/lakehouse.py). The plain-parquet
    fallback gets the same end state idempotently by rewriting only the
    partitions the staged and retired keys touch:

      new_target_partition = staged ∪ (target_partition ⟕anti keys)

    The rewrite is scoped to affected partitions (same recovery unit as the
    reference's day partitions), so repeated runs converge.
    """
    if LogTable.is_log_table(target_path):
        LogTable(spark, target_path).merge(staged, keys, retire=retire)
        return
    if not is_written(spark, target_path):
        write_partitioned(staged, target_path, partition_by)
        return
    # a read failure of an existing table propagates: a torn or
    # unreadable target is never replaced by the staged batch alone
    target = spark.read.parquet(target_path)
    skey = staged.select(*keys)
    if retire is not None:
        skey = skey.unionByName(retire.select(*keys))
    skey = skey.distinct()
    moves_possible = not set(partition_by) <= set(keys)
    if moves_possible:
        # A staged row may MOVE a key into a different partition; the
        # key's old row then lives in a partition the staged batch does
        # not mention, and scoping the rewrite to staged partitions
        # alone would leave it alive — a duplicate key after the merge
        # (LogTable.merge is immune by construction: its victim scan is
        # file-granular on keys, partition-blind). Partitions holding a
        # matched key therefore join the rewrite set. Skipped when the
        # merge key contains every partition column: key equality then
        # pins the partition, so the keys name every partition the
        # merge rewrites and the scan stays partition-scoped, with no
        # extra pass over the target.
        victim_parts = (target.join(skey.hint("broadcast"), on=keys,
                                    how="left_semi")
                        .select(*partition_by))
        parts = staged.select(*partition_by).unionByName(victim_parts)
    else:
        parts = skey.select(*partition_by)
    parts = parts.distinct()
    # eqNullSafe: a NULL partition value (__HIVE_DEFAULT_PARTITION__)
    # must still match its own partition, or its non-matched rows are
    # dropped by the dynamic overwrite of that directory
    pa = parts.hint("broadcast").alias("__parts")
    cond = None
    for c in partition_by:
        eq = F.col(f"__t.{c}").eqNullSafe(F.col(f"__parts.{c}"))
        cond = eq if cond is None else (cond & eq)
    affected = target.alias("__t").join(pa, on=cond, how="left_semi")
    # Dynamic overwrite replaces only partitions PRESENT in the output —
    # it cannot express "replace with nothing". A rewritten partition
    # whose every row was matched (its keys moved elsewhere or were
    # retired) has zero merged rows, so its stale files would survive
    # the write. Two observed metrics name those partitions without an
    # extra action: the partitions the rewrite read, and the ones it
    # wrote; the difference is dropped after the write lands. A crash
    # between the write and the sweep leaves the stale rows, and
    # re-running the same merge converges: the stale keys still match,
    # re-electing the same partitions. Without moves or retired keys
    # every rewritten partition receives staged rows, so no observation
    # is needed.
    may_empty = moves_possible or retire is not None
    if may_empty:
        read_parts, written_parts = Observation(), Observation()
        types = {f.name: f.dataType for f in
                 target.select(*partition_by)
                 .unionByName(staged.select(*partition_by)).schema}
        affected = affected.observe(read_parts, _part_set(types))
    merged = (affected.join(skey, on=keys, how="left_anti")
              .select(*staged.columns).unionByName(staged))
    if may_empty:
        merged = merged.observe(written_parts, _part_set(types))
    # localCheckpoint breaks lineage so the overwrite of the target files
    # cannot race a scan feeding it (read-before-overwrite hazard): the
    # kept rows read the target, and so may the staged or retired keys.
    merged = merged.localCheckpoint(eager=True)
    overwrite_partitions(merged, target_path, partition_by)
    if may_empty:
        emptied = (_observed_parts(read_parts)
                   - _observed_parts(written_parts))
        if emptied:
            _delete_partition_dirs(
                target_path, partition_by,
                [dict(zip(partition_by, p)) for p in emptied])


def compact_partitions(spark: SparkSession, path: str,
                       partition_by: list[str],
                       target_file_bytes: int = 128 * 1024 * 1024,
                       partitions: list[dict] | None = None) -> int:
    """Small-file compaction: rewrite each partition of a day-partitioned
    table into ~``target_file_bytes``-sized files. Returns the number of
    partitions rewritten.

    Streaming sinks and frequent MERGE runs accrete many small files per
    partition (every micro-batch/upsert commits at least one); at 100 TB
    the resulting scan-task explosion and namenode/list pressure dominate
    read cost, so compaction is a standing maintenance job (the same role
    Iceberg's rewrite_data_files action plays for the reference's
    tables). Per-partition rewrite keeps the unit of work (and of
    failure/recovery) identical to the pipeline's — one day partition —
    and ``overwrite_partitions`` makes each rewrite idempotent; a crash
    mid-compaction leaves untouched partitions readable and compacted
    ones complete.

    ``partitions`` narrows the sweep (e.g. yesterday only, the steady-
    state mode); None compacts every partition.
    """
    df = spark.read.parquet(path)
    if partitions is None:
        partitions = [r.asDict()
                      for r in df.select(*partition_by).distinct().collect()]
    n = 0
    for part in partitions:
        pred = None
        for k, v in part.items():
            # eqNullSafe: `col == NULL` is never true, so a plain
            # equality would silently skip the __HIVE_DEFAULT_PARTITION__
            # (NULL) partition every sweep while still counting it
            c = F.col(k).eqNullSafe(F.lit(v))
            pred = c if pred is None else (pred & c)
        chunk = df.where(pred)
        # size the output by actual partition bytes via the scan stats
        stat_bytes = (chunk._jdf.queryExecution().optimizedPlan()
                      .stats().sizeInBytes())
        n_files = max(1, int(min(stat_bytes, 2**53)
                             // target_file_bytes))
        overwrite_partitions(chunk.repartition(n_files), path, partition_by)
        n += 1
    return n
