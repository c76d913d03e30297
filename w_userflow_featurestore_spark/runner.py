"""Job-level control plane: layer runners, completeness gate, sequencing.

The reference orchestrates with Airflow: a Silver DAG every 10 minutes
(snapshot bookkeeping -> sessionize -> MERGE -> record snapshot,
reference airflow/dags/silver_dag.py) and a daily Gold DAG that first
gates on Silver completeness (>=140 parquet files in yesterday's
partition, gold_daily_dag.py:49-64) then runs five feature jobs in
sequence (episode before webtoon — a cross-job data dependency,
:146). This module is that control plane as a library: no scheduler
dependency, every step a plain function the caller can cron/airflow/
dagster however they like.

- ``run_silver``        — incremental-or-full events read (incremental
                          planner ledger) -> cleanse -> sessionize ->
                          idempotent MERGE into the session table;
                          ledger committed only after the write lands.
- ``completeness_gate`` — row-count-per-partition check generalizing the
                          reference's file-count proxy (counts are what
                          you actually mean; file counts were a stand-in).
- ``run_daily_features``— the feature jobs in dependency order, each
                          written with dynamic partition overwrite (the
                          reference's idempotent recovery unit).

- ``run_split_ledger_update`` / ``run_novelty_ledger_update`` — the
                          leakage-split component ledger and the
                          shingle-novelty ledger, each a LogTable whose
                          snapshot id is the ledger version; a batch
                          commits one compare-and-swap ``rewrite``.
                          Retention is ``LogTable.expire_snapshots``
                          then ``LogTable.vacuum``.

Every step is re-runnable: a crashed run leaves the ledger uncommitted
(next run replays the increment) and partition overwrite converges.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.incremental import (
    IncrementalPlanner, LakehousePlanner,
)
# dedup is called through the module so its ledger steps stay
# substitutable at call time (the concurrent-commit tests patch them)
from w_userflow_featurestore_spark.operators import dedup
from w_userflow_featurestore_spark.operators import metrics as M
from w_userflow_featurestore_spark.operators.cleanse import (
    dedup_latest, drop_null_keys,
)
from w_userflow_featurestore_spark.operators.quality import quality_report
from w_userflow_featurestore_spark.operators.sampling import (
    component_ledger, merge_component_ledger,
)
from w_userflow_featurestore_spark.operators.sessionize import (
    DEFAULT_GAP_MS, sessionize,
)
from w_userflow_featurestore_spark.sources import (
    LogTable, is_written, merge_upsert, overwrite_partitions, read_path,
)


class CompletenessError(RuntimeError):
    """Raised when an upstream partition fails the completeness gate."""


def completeness_gate(df: DataFrame, partition_col: str, min_rows: int,
                      partitions: list | None = None) -> dict:
    """Require every (listed) partition to hold >= min_rows rows.

    Generalizes the reference's >=140-parquet-files S3 listing check
    (gold_daily_dag.py:49-64) to the quantity it proxied. One count
    aggregation — no driver-side file walking.
    """
    counts = df.groupBy(partition_col).agg(F.count(F.lit(1)).alias("n"))
    if partitions is not None:
        counts = counts.where(F.col(partition_col).isin(partitions))
    got = {r[partition_col]: r["n"] for r in counts.collect()}
    missing = {} if partitions is None else {
        p: 0 for p in partitions if p not in got}
    thin = {p: n for p, n in got.items() if n < min_rows} | missing
    if thin:
        raise CompletenessError(
            f"partitions below {min_rows} rows: {sorted(thin.items())}")
    return got


class QualityGateError(RuntimeError):
    """Raised when a content-constraint suite fails before a write."""


def quality_gate(df: DataFrame, rules: list[dict]) -> None:
    """Evaluate a quality_report constraint suite and REFUSE the write
    on any violation — the content-level upgrade of completeness_gate
    (which only counts rows, the reference's file-count proxy). One
    aggregation pass; the error carries every failing rule with its
    violation count so the on-call sees the whole blast radius at once,
    not just the first failed assert."""
    bad = [(r["rule"], r["n_violations"])
           for r in quality_report(df, rules).collect()
           if r["passed"] == 0]
    if bad:
        raise QualityGateError(f"constraints failed: {bad}")


@dataclass
class SilverResult:
    mode: str            # incremental | full | empty
    input_rows: int
    sessions_upserted: int


def _stored_silver(spark: SparkSession, silver_path: str
                   ) -> DataFrame | None:
    """The stored silver sessions, or None before silver's first write
    (``sources.is_written``: a LogTable with zero commits, or no parquet
    data file). Any read failure (corrupt log JSON, transient FS error)
    PROPAGATES: skipping the stored sessions would write a fragment or
    superseded session next to the stale one — silent corruption
    instead of a visible failed run."""
    if not is_written(spark, silver_path):
        return None
    return read_path(spark, silver_path)


def _extend_with_open_tails(spark: SparkSession, increment: DataFrame,
                            silver_path: str, events_path: str,
                            ) -> tuple[DataFrame, DataFrame | None]:
    """run_silver's continuation lookback (see its docstring).

    Returns ``(events, retire)``: the increment unioned with the raw
    events of its users' open tail sessions, and the ``(session_id,
    datetime)`` keys of the stored sessions those events re-derive
    (None when no stored session qualifies).

    A tail of user u is a stored session whose end_time lies within the
    session gap of u's first new event; sessions of one user never
    overlap, so these are exactly u's sessions starting at or after
    ``_tail_start``, the earliest tail start. One eager pass
    materializes them, one row per user (a few sessions each), and
    observes the earliest tail start on the way. That scalar bounds
    the events re-read (partition/stat-prunable), the per-user tail
    start is a broadcast join, and the retire keys are the stored
    sessions, so neither silver nor the increment is scanned again.
    """
    silver = _stored_silver(spark, silver_path)
    if silver is None:
        return increment, None
    first_new = (increment.groupBy("user_id")
                 .agg(F.min("ts").alias("_new_ts")))
    earliest = Observation()
    tails = (silver.join(first_new, "user_id")
                   .where(F.col("end_time") >=
                          F.col("_new_ts")
                          - F.expr(f"interval {DEFAULT_GAP_MS // 1000} "
                                   "seconds"))
                   .groupBy("user_id")
                   .agg(F.min("start_time").alias("_tail_start"),
                        F.collect_list(F.struct("session_id", "datetime"))
                        .alias("_sessions"))
                   .observe(earliest, F.min("_tail_start").alias("ts"))
                   .localCheckpoint(eager=True))
    bound = earliest.get["ts"]
    if bound is None:
        return increment, None
    # the increment's schema is the table's: no footer-read job
    hist = read_path(spark, events_path, filters=[("ts", ">=", bound)],
                     schema=increment.schema)
    # the global bound only PRUNES the scan; membership is per-user —
    # ts >= that user's own qualifying tail start. A global-min cut
    # would admit another user's mid-session events without their
    # session head and re-sessionize them into a phantom fragment.
    starts = F.broadcast(tails.select("user_id", "_tail_start"))
    lookback = (hist.join(starts, "user_id")
                    .where(F.col("ts") >= F.col("_tail_start")))
    return (increment.unionByName(lookback.select(*increment.columns)),
            tails.select(F.inline("_sessions")))


def run_silver(spark: SparkSession, events_path: str, silver_path: str,
               ledger_path: str, now: str) -> SilverResult:
    """Events -> classified sessions, MERGEd by session key.

    CONTINUATION-AWARE incremental sessionization: a session can span
    increments (its tail is still open when the increment is cut), and
    recomputing only the new rows would fragment it. Before
    sessionizing, the increment is extended with a LOOKBACK: silver
    sessions of the increment's users whose end_time is within the
    session gap of that user's first new event are identified, and the
    raw events from the earliest such tail's start_time onward (for
    those users only — a partition/stat-prunable time filter plus a
    user semi-join, never a full history re-read) are unioned back in.
    Re-sessionizing the union reproduces each tail session WITH its new
    events, so all rollup columns, including non-combinable ones like
    distinct item counts, come out exact. The reference sidesteps this
    only because its events carry client-assigned session ids
    (silver_user_session_events.py:146-186); this engine derives
    sessions, so the continuation logic is the price of
    gaps-and-islands semantics.

    The tail pass runs once: ``_extend_with_open_tails`` materializes
    the tails (one row per increment user) and derives the scan bound,
    the per-user lookback join and the retire keys from that result.

    MERGE key ``(session_id, datetime)``: a session id is user * 1e10 +
    the epoch second of the session's start, and ``datetime`` is the
    UTC date of that same start (conf.py pins the session time zone),
    so no key can ever change partition. The merge therefore rewrites
    only the day partitions its keys name, with no partition-blind
    victim scan over the whole table.

    Superseded sessions: a late event that moves a session's start (an
    event in the gap before it, one across midnight, one bridging two
    sessions) changes the content-derived id, so the re-derived session
    does not replace the stored one by key. Every stored tail session
    was re-derived from raw events, so the merge RETIRES all of them
    and inserts what the re-sessionization produced; a day partition
    left with no rows is removed. A full re-read (no ledger, or broken
    lineage) re-derives every session, so it retires every stored one:
    a session whose head event was retracted from the events table
    does not survive under its old id.

    Formats are read off the tables: when ``events_path`` is a LogTable
    the increment comes from real snapshot lineage (LakehousePlanner)
    and silver is a LogTable too, so the MERGE is a file-granular
    copy-on-write commit — the reference's actual Iceberg semantics
    (S6/S7/S9) rather than the parquet emulation.

    Durability note: the one-pass diagnostics below use
    ``localCheckpoint`` (EXECUTOR-local storage). On local[N] that is
    free; on a real cluster an executor loss between the checkpoint and
    the merge write fails the run — acceptable because the run is
    re-entrant (ledger uncommitted => the increment replays and the
    merge converges), but latency-sensitive cluster deployments should
    swap in a reliable ``checkpoint()`` dir or persist(DISK_ONLY_2).
    """
    if LogTable.is_log_table(events_path):
        planner = LakehousePlanner(LogTable(spark, events_path), ledger_path)
        LogTable.create(spark, silver_path, ["datetime"])
    else:
        planner = IncrementalPlanner(events_path, ledger_path)
    plan = planner.plan_read(spark)
    if plan.mode == "empty":
        plan.commit()
        return SilverResult("empty", 0, 0)
    if plan.mode == "incremental":
        raw, retire = _extend_with_open_tails(spark, plan.df, silver_path,
                                              events_path)
    else:
        raw, retire = plan.df, _stored_silver(spark, silver_path)
        if retire is not None:
            retire = retire.select("session_id", "datetime")
    events = drop_null_keys(
        dedup_latest(raw, key=["event_id"], order_by=["ts"]),
        ["event_id", "user_id", "ts"])
    # Diagnostics ride the data pass (A17 "counts in ONE pass"): observe()
    # attaches CollectMetrics nodes that are harvested by the single eager
    # materialization below — zero extra Spark actions, unlike a count()
    # which would re-run the dedup+sessionize subtree per diagnostic.
    obs_in, obs_out = Observation(), Observation()
    events = events.observe(obs_in, F.count(F.lit(1)).alias("rows"))
    sessions = sessionize(events, now=now).observe(
        obs_out, F.count(F.lit(1)).alias("rows"))
    # One materialization: collects both observations AND hands merge_upsert
    # a lineage-free input, so the merge's partition rewrite never recomputes
    # (or double-scans, which would double-count the metrics) this subtree.
    sessions = sessions.localCheckpoint(eager=True)
    merge_upsert(spark, silver_path, sessions,
                 keys=["session_id", "datetime"], partition_by=["datetime"],
                 retire=retire)
    plan.commit()        # ledger moves only after the table write landed
    return SilverResult(plan.mode, int(obs_in.get["rows"]),
                        int(obs_out.get["rows"]))


def _read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    """The latest snapshot of a ledger's LogTable; ``FileNotFoundError``
    before the first commit."""
    if not is_written(spark, ledger_dir):
        raise FileNotFoundError(f"no committed ledger in {ledger_dir}")
    return LogTable(spark, ledger_dir).read()


def _commit_ledger(spark: SparkSession, ledger_dir: str,
                   build) -> tuple[int, str, int]:
    """Commit the next ledger version: ONE ``LogTable.rewrite`` calls
    ``build(prev)`` with the current version (``None`` on an empty
    table) and replaces it, validated against the snapshot ``prev``
    was read from. A rival commit after the read raises
    ``ConcurrentCommitError`` instead of silently dropping the rival's
    batch; a crash before the commit leaves the previous version live.
    Returns (snapshot id, mode, rows committed)."""
    obs, initial = Observation(), []

    def observed(prev):
        initial.append(prev is None)
        return build(prev).observe(obs, F.count(F.lit(1)).alias("rows"))

    version = LogTable.create(spark, ledger_dir).rewrite(observed)
    return (version, "initial" if initial[0] else "incremental",
            int(obs.get["rows"]))


@dataclass
class SplitLedgerResult:
    version: int         # committed ledger snapshot id after this run
    mode: str            # initial | incremental
    n_docs: int          # rows in the committed ledger


def read_split_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    """The CURRENT committed component ledger (doc_id, group_key): the
    latest snapshot of the ledger's LogTable, so uncommitted or crashed
    writes are invisible by construction. Raises ``FileNotFoundError``
    before the first commit. Retention is the table's own:
    ``LogTable.expire_snapshots`` then ``LogTable.vacuum``."""
    return _read_ledger(spark, ledger_dir)


def run_split_ledger_update(spark: SparkSession, ledger_dir: str,
                            batch_docs: DataFrame, batch_pairs: DataFrame,
                            id_col: str = "doc_id",
                            pair_a: str = "doc_a",
                            pair_b: str = "doc_b") -> SplitLedgerResult:
    """Ingest a batch into the persisted leakage-split component ledger
    — the state behind ``operators/sampling.py::
    incremental_leakage_split`` — as the next snapshot of the ledger's
    LogTable (see :func:`_commit_ledger`). A crashed run is re-entrant:
    replaying the batch converges on the same content
    (merge_component_ledger is deterministic); a run that loses a
    commit race raises ``ConcurrentCommitError`` and re-runs against
    the new current version.

    First run (empty table) builds the ledger from the batch alone;
    later runs extend via :func:`~w_userflow_featurestore_spark.operators.sampling.merge_component_ledger`,
    so corpus-internal pairs are never recomputed. ``batch_pairs`` =
    pairs touching >= 1 batch doc (an LSH probe of the batch), per the
    star-collapse contract.

    Scale note: each commit rewrites the full (doc_id, group_key)
    ledger — ~16 bytes/doc, the deliberate cost of an always-consistent
    snapshot. A deployment hot enough to feel that rewrite should
    bucket the ledger by hash(doc_id) and rewrite only buckets holding
    changed rows (a ``LogTable.merge`` on doc_id).
    """

    def build(prev):
        if prev is None:
            return component_ledger(batch_docs, batch_pairs,
                                    id_col, pair_a, pair_b)
        return merge_component_ledger(prev, batch_docs, batch_pairs,
                                      id_col, pair_a, pair_b)

    return SplitLedgerResult(*_commit_ledger(spark, ledger_dir, build))


@dataclass
class NoveltyLedgerResult:
    version: int         # committed ledger snapshot id after this run
    mode: str            # initial | incremental
    n_shingles: int      # distinct shingle hashes in the committed ledger


def read_novelty_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    """The CURRENT committed shingle-df ledger (sh, n_docs) — the
    corpus-history state :func:`score_batch_novelty` probes. Same
    LogTable storage and retention as :func:`read_split_ledger`."""
    return _read_ledger(spark, ledger_dir)


def score_batch_novelty(spark: SparkSession, ledger_dir: str,
                        batch_docs: DataFrame, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Novelty-score an incoming batch against the corpus HISTORY in
    the persisted ledger — run BEFORE :func:`run_novelty_ledger_update`
    ingests the same batch: ``incremental_novelty`` counts batch
    occurrences itself, so a ledger that already contains the batch
    would double-count them (the score-then-ingest order is the
    pipeline contract, demonstrated in the runner test)."""
    return dedup.incremental_novelty(
        batch_docs, read_novelty_ledger(spark, ledger_dir),
        n, text_col, id_col)


def run_novelty_ledger_update(spark: SparkSession, ledger_dir: str,
                              batch_docs: DataFrame, n: int = 3,
                              text_col: str = "text",
                              id_col: str = "doc_id"
                              ) -> NoveltyLedgerResult:
    """Ingest a batch into the persisted shingle-df ledger — the state
    behind :func:`score_batch_novelty` — with the commit protocol of
    :func:`run_split_ledger_update`.

    Batches must be doc-DISJOINT from prior ingests (the additivity
    precondition ``merge_shingle_ledger`` documents) — replaying the
    SAME batch would double its counts; production keys ingestion by
    snapshot range (``LakehousePlanner``) exactly to guarantee this.
    The compare-and-swap commit enforces the SERIAL half of that
    precondition: two concurrent ingests that both read snapshot N
    cannot both commit — the loser raises ``ConcurrentCommitError``.
    Each commit rewrites the full (sh, n_docs) ledger, the same
    always-consistent-snapshot trade the component ledger makes.
    """
    batch = dedup.shingle_ledger(batch_docs, n, text_col, id_col)

    def build(prev):
        return (batch if prev is None
                else dedup.merge_shingle_ledger(prev, batch))

    return NoveltyLedgerResult(*_commit_ledger(spark, ledger_dir, build))


# feature jobs in dependency order; item_daily feeds top_item_per_day the
# way the reference's episode job feeds the webtoon job
# (gold_webtoon_daily_metrics.py:74-85, gold_daily_dag.py:146)
def run_daily_features(spark: SparkSession, silver_path: str, events: DataFrame,
                       out_dir: str, min_rows_per_day: int = 1,
                       for_date: str | None = None,
                       quality_rules: list[dict] | None = None) -> dict[str, int]:
    """All gold-grain feature tables, gated then written idempotently.
    Gold takes silver's format: when silver is a LogTable, each gold
    table is one too, and its daily overwrite is one atomic remove+add
    commit (reference S10 on a real format).

    Returns rows WRITTEN per table by THIS run (observed on the write
    action itself). Under dynamic partition overwrite that is the row
    count of the partitions this run produced — prior-day partitions
    remain in the table but are deliberately not re-counted (a total-
    table count would cost a full re-read per table; callers wanting
    totals can count the table on read).

    ``for_date`` (``YYYY-MM-DD``) = the reference's daily-DAG regime
    (gold_daily_dag.py runs per execution date): inputs are bounded to
    ``datetime <= for_date`` — a partition-pruned upper scan bound, so
    history-dependent metrics (user return intervals) see exactly the
    history they would have seen on that day — and only the
    ``for_date`` partition of each table is produced and overwritten.
    At 100 TB this is THE difference between a daily job that touches
    one day's partitions and one that rewrites the table: recompute
    cost tracks history size read-only, write cost tracks one day.
    Re-running any date converges (same inputs -> same partition)."""
    sessions = read_path(spark, silver_path)
    log_format = LogTable.is_log_table(silver_path)
    if for_date is not None:
        d = F.lit(for_date).cast("date")
        sessions = sessions.where(F.col("datetime") <= d)
        # raw-ts bound (not to_date(ts) <= d) so the predicate pushes
        # to the events parquet scan instead of hiding behind a cast
        events = events.where(
            F.col("ts") < F.date_add(d, 1).cast("timestamp"))
    completeness_gate(
        sessions, "datetime", min_rows_per_day,
        partitions=([_dt.date.fromisoformat(for_date)]
                    if for_date else None))
    if quality_rules:
        # content constraints on the silver input, same fail-fast spot
        # as the volume gate (before any gold partition is touched)
        quality_gate(sessions, quality_rules)

    item = M.item_daily(events)
    outputs: dict[str, DataFrame] = {
        "user_daily": M.user_daily_full(sessions, events),
        "item_daily": item,
        "top_item_per_day": M.top_item_per_day(item),   # consumes item_daily
        "entry_type_daily": M.entry_type_daily(sessions),
        "cohort_vs_global": M.cohort_vs_global(sessions),
    }
    written: dict[str, int] = {}
    for name, df in outputs.items():
        if for_date is not None:
            df = df.where(F.col("datetime")
                          == F.lit(for_date).cast("date"))
        # rows-written diagnostic rides the write action itself (observe,
        # not a post-hoc re-read+count of the table we just wrote)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        path = f"{out_dir}/{name}"
        if log_format:
            LogTable.create(spark, path, ["datetime"])
        overwrite_partitions(df, path, ["datetime"])
        written[name] = int(obs.get["rows"])
    return written
