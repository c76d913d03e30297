"""SparkSession construction with scale-oriented defaults.

The reference tunes AQE + shuffle partitions via spark-submit conf
(reference: airflow/dags/silver_dag.py:171-181, gold_daily_dag.py:23-33).
Here the same knobs live in one builder so every entry point — tests,
bench, driver — gets identical, scale-ready settings.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs every query depends on. ``get_spark``
#: applies them with the other defaults; the driver applies exactly
#: these (and no sizing default) to a session it does not build.
SESSION_SQL_CONF = {
    # The fixture parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as nanosecond longs and convert in the reader
    # (sources/parquet.py normalizes to TimestampType at micro precision,
    # matching what DuckDB's reader does).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics for oracle parity: DuckDB reads the
    # parquet TIMESTAMP as naive; interpreting it as UTC makes epoch math agree.
    "spark.sql.session.timeZone": "UTC",
    # Classic (non-ANSI) SQL semantics: NULL on bad casts etc. All divisions
    # in this library are explicitly guarded, so either mode is correct, but
    # classic matches the reference's Spark 3.5 behavior exactly.
    "spark.sql.ansi.enabled": "false",
    # AQE: runtime re-planning from actual shuffle sizes.
    # (reference enables the same flags: silver_dag.py:177-179, gold_daily_dag.py:29-31)
    "spark.sql.adaptive.enabled": "true",
    # Join strategy: let the planner choose shuffled-hash over
    # sort-merge when its build-side size conditions hold (1.2-1.7x on
    # this engine's equi-join shapes — the sort dominates small-to-mid
    # per-partition builds), and let
    # AQE convert SMJ->SHJ at runtime from ACTUAL post-shuffle
    # partition sizes (64m per-partition build ceiling — conservative
    # against executor heaps; sort-merge remains the fallback whenever
    # either check fails, so the spill-graceful path is never lost).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
}

# Defaults sized for the local[N] test harness; on a real cluster the same
# code runs with whatever --conf the submitter provides (getOrCreate reuses).
_DEFAULTS = {
    **SESSION_SQL_CONF,
    # AQE partition coalescing and skew-join splitting.
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime Bloom-filter join pruning: on a selective shuffle join,
    # Spark builds a Bloom filter from the small side and pre-filters
    # the big side BEFORE its shuffle — a major IO/shuffle saver at
    # 100 TB. Injection conditions (scan-size and selectivity
    # estimates) only materialize at real scale; at fixture scale the
    # rule declines and the conf is inert, so enabling is pure upside.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow for the few pandas-UDF extension ops (multimodal / ANN refine).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.showConsoleProgress": "false",
    # Driver heap for self-built local[N] sessions. Local mode runs every
    # executor thread inside the driver JVM, so the default ~1g heap is the
    # whole engine's memory; 8g gives shuffle/window spill buffers headroom
    # in the 128 GiB sandbox. Honored only at JVM launch (pyspark passes it
    # to spark-submit) — a getOrCreate() against a live JVM ignores it, and
    # cluster submitters override it with their own --conf as usual.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "w-userflow-featurestore-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[N]`` where N = $SPARK_GRAFT_CPUS or '*'.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None:
        master = "local[*]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: session -> that session's memo dict. Weakly keyed on the session
#: OBJECT, so an entry dies with its session: a later session can never
#: inherit one, as it could from a memo keyed on a reused ``id()``.
_SESSION_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def session_cache(spark: SparkSession) -> dict:
    """The memo dict scoped to ``spark``. Holds plan METADATA only
    (inferred schemas, split estimates, applied confs) — never row data
    or results, the same class of state Spark's own FileStatusCache
    keeps per session."""
    return _SESSION_CACHE.setdefault(spark, {})
