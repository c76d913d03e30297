"""LogTable: a transactional table format on parquet (mini-lakehouse).

The reference runs every table on Iceberg and leans on four format
capabilities the plain-parquet fallback can only emulate:

- snapshot lineage (``snapshots`` metadata table with ``parent_id``
  chains, walked by the Airflow ancestry check —
  reference airflow/dags/silver_dag.py:65-88, :102-107)
- snapshot-range incremental reads (``start-snapshot-id`` /
  ``end-snapshot-id`` scan options —
  reference src/spark/silver/silver_user_session_events.py:67-76)
- transactional MERGE INTO (copy-on-write of matched files —
  reference silver_user_session_events.py:146-186)
- dynamic partition overwrite as an atomic commit
  (reference src/spark/gold/*_metrics.py ``overwritePartitions()``)

No Iceberg/Delta runtime ships in this environment, so this module
implements the format itself — the same public protocol shape those
formats use (an append-only commit log of add/remove file actions;
Delta's ``_delta_log`` and Iceberg's snapshot+manifest model are both
published designs): data lives in immutable parquet files, table STATE
is the file set reachable from a commit-log snapshot, and every write
is an atomic commit of ``add``/``remove`` actions. Readers pin a
snapshot's exact file list, so concurrent writers never tear a scan,
history stays time-travelable, and an increment between two snapshots
is well-defined — for real, not by directory-diff heuristics.

Scale notes: the log is driver-side control plane — O(files) JSON, the
same metadata-scaling regime as Delta's JSON log before checkpointing.
The DATA path stays fully distributed: reads hand Spark the pinned
file list (partition pruning + predicate pushdown intact via
Hive-style partition dirs under one ``basePath``), and MERGE rewrites
only the files that actually contain matched keys (file-granular
copy-on-write, strictly finer than the parquet fallback's
partition-granular rewrite).

Commit protocol: a commit is ONE file ``_txn_log/<seq>.json`` published
exclusively (:func:`_publish_exclusive`) — concurrent committers race
on the same sequence number and exactly one wins (optimistic
concurrency, as in Delta). The body is written and fsynced to a private
tmp file before one ``os.link`` publishes it, so a reader never parses
a half-written commit, and a crashed writer leaves only orphaned tmp
and staging files (``vacuum`` reclaims both), never a partial commit.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import errno as _errno
import json
import math as _math
import os
import re as _re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.functions import sql_ident

__all__ = ["LogTable", "BrokenLineageError", "ConcurrentCommitError",
           "Snapshot"]

_LOG_DIR = "_txn_log"
_DATA_DIR = "data"

# os.link errnos meaning "this filesystem has no hard links" (some
# NFS configs, FUSE/object-store mounts, FAT; several FUSE and network
# filesystems report an unimplemented link as ENOSYS)
_LINK_UNSUPPORTED = {getattr(_errno, n, None) for n in (
    "EPERM", "EACCES", "ENOTSUP", "EOPNOTSUPP", "EMLINK", "ENOSYS")} - {None}


def _dump_durable(fh, body: dict) -> None:
    json.dump(body, fh)
    fh.flush()
    os.fsync(fh.fileno())


def _replace_json(target: str, body: dict) -> None:
    """Write ``target`` as JSON via a uuid-suffixed tmp + ``os.replace``
    (atomic overwrite; concurrent writers never share a tmp)."""
    tmp = f"{target}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(body, fh)
    os.replace(tmp, target)


def _publish_exclusive(target: str, body: dict) -> None:
    """Create ``target`` holding ``body`` as JSON, or raise
    :class:`FileExistsError` if it exists — the log's commit primitive.
    The fsynced tmp + ``os.link`` is as exclusive as ``open(target,
    "x")``, but no reader ever sees the name before its bytes are
    complete. Without hard links it degrades to ``O_CREAT|O_EXCL`` +
    write + fsync (exclusivity holds; the no-torn-read guarantee
    narrows to the create-to-write window), and a write failure there
    retracts the published name so a torn file never poisons reads or
    makes a retry misreport a lost race."""
    tmp = f"{target}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        _dump_durable(fh, body)
    try:
        os.link(tmp, target)
    except OSError as exc:
        if exc.errno not in _LINK_UNSUPPORTED:
            raise               # FileExistsError = lost race; or a real error
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            with os.fdopen(fd, "w") as fh:
                _dump_durable(fh, body)
        except BaseException:
            try:
                os.unlink(target)
            except OSError:
                pass
            raise
    finally:
        os.unlink(tmp)


def _stat_value(v):
    """Normalize a parquet-footer statistic into a JSON-storable,
    order-preserving value; None = type we refuse to prune on.

    date/datetime normalize to ISO strings (fixed-prefix format, so
    lexicographic order == chronological order even when the
    fractional-seconds part is absent); Decimal and raw binary are
    skipped — float-rounding a Decimal could prune a file that
    actually matches, and pruning must never be unsound.

    Timestamp convention: tz-AWARE datetimes (parquet TIMESTAMP is
    adjusted-to-UTC, so pyarrow footer stats arrive aware) convert to
    UTC before the offset is dropped — stored stats are UTC
    wall-clock. Naive filter literals compare directly against them
    because the engine PINS ``spark.sql.session.timeZone=UTC``
    (conf.py): Spark interprets a naive literal as session-local =
    UTC, the same wall-clock. A deployment that overrides the session
    timezone must convert its filter literals to UTC (or pass aware
    datetimes, which are converted here)."""
    if isinstance(v, bool) or v is None:
        return None                      # bool min/max carries no signal
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc)
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _comparable(a, b) -> bool:
    num = (int, float)
    return (isinstance(a, num) and isinstance(b, num)) or \
           (isinstance(a, str) and isinstance(b, str))


_DATE_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}$")
_DATETIME_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:")


def _parse_dir_temporal(pv: str) -> _dt.datetime | None:
    """A partition-dir string as a naive-UTC datetime, when it parses
    as ISO date or timestamp (Spark writes both shapes as ISO text,
    timestamps with the fractional part trailing-zero-trimmed —
    '.123', not '.123000' — which is why string equality is the wrong
    comparison and a PARSED compare is used). A date-only dir value
    parses to midnight — exactly Spark's DATE->TIMESTAMP coercion, so
    the date-vs-datetime shape mismatch the stats path needed
    ``_align_date_shape`` for is handled here by construction. An
    offset-bearing value (not a shape Spark's dir writer emits, but a
    STRING partition column may hold one) converts to UTC wall-clock —
    the same convention ``_stat_value`` documents."""
    try:
        d = _dt.datetime.fromisoformat(pv)
    except ValueError:
        return None
    if d.tzinfo is not None:
        d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return d


def _part_matches(pv: str | None, val) -> bool:
    """Does a Hive partition-dir STRING value match a filter literal
    under Spark's own dir formatting and coercion? Spark writes
    booleans as true/false (str(True) is 'True' — comparing that
    wrongly pruned every file), dates/timestamps as ISO text, doubles
    as '1.0'/'1.0E300'/'Infinity'/'NaN' (an int literal 1 must still
    match '1.0'), and decimals at FULL declared scale ('1.500' for a
    decimal(9,3) literal 1.5 — str(Decimal) compare wrongly pruned
    every file). Temporals compare PARSED, not as strings: a tz-aware
    literal normalizes to UTC wall-clock (isoformat would embed
    '+00:00' and never match), a date literal against a
    timestamp-partitioned dir (and vice versa) compares at midnight —
    Spark's own DATE<->TIMESTAMP coercion — and trailing-zero-trimmed
    fractional seconds compare equal regardless of rendering. NaN
    matches NaN because Spark SQL defines NaN = NaN as TRUE (IEEE
    would say false; pruning on IEEE semantics would silently drop
    every NaN row). Falls back to the raw string only for
    genuinely-string partition values."""
    if val is None:
        return pv is None
    if pv is None:
        return False
    if isinstance(val, bool):
        return pv == ("true" if val else "false")
    if isinstance(val, _dt.datetime):
        if val.tzinfo is not None:
            val = val.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        parsed = _parse_dir_temporal(pv)
        if parsed is not None:
            return parsed == val
        return pv == val.isoformat(sep=" ")
    if isinstance(val, _dt.date):
        parsed = _parse_dir_temporal(pv)
        if parsed is not None:
            return parsed == _dt.datetime(val.year, val.month, val.day)
        return pv == val.isoformat()
    if isinstance(val, _decimal.Decimal):
        try:
            return _decimal.Decimal(pv) == val
        except _decimal.InvalidOperation:
            return False
    if isinstance(val, (int, float)):
        try:
            fpv, fv = float(pv), float(val)
        except (ValueError, OverflowError):
            return False
        if _math.isnan(fv) or _math.isnan(fpv):
            return _math.isnan(fv) and _math.isnan(fpv)
        return fpv == fv
    return pv == str(val)


def _align_date_shape(a: str, b: str) -> str:
    """Pad a date-only ISO string to midnight when compared against a
    datetime-shaped string: Spark coerces a DATE column in a timestamp
    comparison to timestamp-at-midnight, so a date stat '2024-01-01'
    against a filter literal '2024-01-01 00:00:00' must compare EQUAL,
    not lexicographically-less (which wrongly pruned matching files).
    For genuine string columns the padding can only LOSE pruning
    (midnight-padded bounds are looser), never prune a matching file —
    the sound direction."""
    if _DATE_RE.match(a) and _DATETIME_RE.match(b):
        return a + " 00:00:00"
    return a


def _stats_exclude(col_stats, op: str, val) -> bool:
    """True iff the per-file stats PROVE no row of the file satisfies
    ``col op val``. ``col_stats`` is ``[min, max]`` or the extended
    ``[min, max, null_count, num_rows]`` form (readers accept both —
    stats written before null counts existed simply never prune null
    predicates). Parquet min/max ignore NULLs, and every supported
    comparison is already false for NULL under SQL semantics, so
    null-heavy files stay prunable without a null count."""
    if col_stats is None:
        return False
    lo, hi = col_stats[0], col_stats[1]
    if op == "isnull":
        # a file with zero nulls cannot satisfy IS NULL
        return len(col_stats) >= 4 and col_stats[2] == 0
    if op == "notnull":
        # a file that is ALL nulls cannot satisfy IS NOT NULL
        return (len(col_stats) >= 4 and col_stats[2] is not None
                and col_stats[3] is not None
                and col_stats[2] == col_stats[3])
    if val is None or lo is None or hi is None:
        return False
    if isinstance(lo, str) and isinstance(val, str):
        # date-vs-datetime shape coercion (Spark compares a DATE column
        # to a timestamp literal at midnight — align before comparing)
        lo, hi = _align_date_shape(lo, val), _align_date_shape(hi, val)
        val = _align_date_shape(val, lo)
    if op == "in":
        def _excludes_member(x) -> bool:
            if x is None or not _comparable(lo, x):
                return False
            l, h = lo, hi
            if isinstance(l, str) and isinstance(x, str):
                l, h = _align_date_shape(l, x), _align_date_shape(h, x)
                x = _align_date_shape(x, l)
            return x < l or x > h
        return all(_excludes_member(x) for x in val)
    if not (_comparable(lo, val) and _comparable(hi, val)):
        return False
    if op in ("=", "=="):
        return val < lo or val > hi
    if op == ">":
        return hi <= val
    if op == ">=":
        return hi < val
    if op == "<":
        return lo >= val
    if op == "<=":
        return lo > val
    return False


class BrokenLineageError(RuntimeError):
    """The requested snapshot range is not a clean append lineage —
    the caller must fall back to a full read (the reference's
    broken-ancestry fallback, silver_dag.py:119-122)."""


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this operation's read of table
    state and its commit attempt. The operation's staged result may be
    based on stale files — re-run the operation (it will recompute from
    the new current snapshot). A plain append never raises this: it
    carries no read-dependency, so the loser just takes the next
    sequence number."""


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    committed_at_ms: int
    operation: str   # append | overwrite_partitions | merge | replace | rollback
    add: tuple[str, ...]        # file paths relative to <table>/data
    remove: tuple[str, ...]
    txn: str | None = None      # idempotence token (streaming exactly-once)
    # per added file: {rel_path: {col: [min, max]}} harvested from the
    # parquet footers at commit time (Iceberg's manifest column stats)
    stats: dict = field(default_factory=dict)


@dataclass(frozen=True)
class _Replay:
    """A table's state at one snapshot (:meth:`LogTable._replay`)."""
    snaps: list[Snapshot]     # the whole log, in log order
    chain: list[Snapshot]     # root -> the snapshot; [] for an empty table
    live: dict                # {rel_path: stats} of the snapshot's files

    @property
    def snapshot_id(self) -> int | None:
        return self.chain[-1].snapshot_id if self.chain else None

    @property
    def files(self) -> list[str]:
        return sorted(self.live)

    def since(self, start_snapshot_id: int | None) -> list[Snapshot]:
        """Commits strictly after ``start`` up to this snapshot along
        its chain (``None``: from the root). :class:`BrokenLineageError`
        when the table is empty or ``start`` is not an ancestor."""
        if not self.chain:
            raise BrokenLineageError("empty table has no snapshots")
        if start_snapshot_id is None:
            return self.chain
        ids = [s.snapshot_id for s in self.chain]
        if start_snapshot_id not in ids:
            raise BrokenLineageError(
                f"snapshot {start_snapshot_id} is not an ancestor of "
                f"{self.snapshot_id}")
        return self.chain[ids.index(start_snapshot_id) + 1:]

    def txn_commit(self, txn: str | None) -> Snapshot | None:
        """The newest commit on the chain carrying idempotence token
        ``txn`` (None matches nothing). A txn stranded on a dead
        rollback fork is off the chain, so a replay of it RE-applies."""
        return next((s for s in reversed(self.chain)
                     if txn is not None and s.txn == txn), None)


class LogTable:
    """One transaction-log table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log_path = os.path.join(path, _LOG_DIR)
        self._data_path = os.path.join(path, _DATA_DIR)

    # ---------------------------------------------------------------- log

    def write_manifest(self, snapshot_id: int | None = None) -> str:
        """Export a snapshot's live file set as a plain-text manifest —
        one ABSOLUTE parquet path per line — under ``_manifests/``.

        This is the symlink-manifest interop pattern (Delta's
        ``symlink_format_manifest`` generator; the role Iceberg's
        manifest lists play for the reference's Trino catalog,
        trino/etc/catalog/iceberg.properties:1-7): any engine that can
        scan an explicit parquet file list — DuckDB
        ``read_parquet([...], hive_partitioning=true)``, Trino/Hive
        ``SymlinkTextInputFormat`` tables, Spark itself — reads the
        snapshot WITHOUT this library. Partition values stay readable
        because the data files live in Hive-style ``col=value`` dirs.
        A snapshot's live set never changes and data files are
        immutable, so the manifest is immutable and regeneration is
        idempotent (atomic tmp+rename either way)."""
        st = self._replay(snapshot_id)
        if st.snapshot_id is None:
            raise ValueError("empty table has no snapshot to export")
        mdir = os.path.join(self.path, "_manifests")
        os.makedirs(mdir, exist_ok=True)
        dest = os.path.join(mdir, f"{st.snapshot_id:020d}.txt")
        data_abs = os.path.abspath(self._data_path)
        tmp = dest + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            for rel in st.files:
                fh.write(os.path.join(data_abs, rel) + "\n")
        os.replace(tmp, dest)
        return dest

    @staticmethod
    def is_log_table(path: str) -> bool:
        return os.path.isdir(os.path.join(path, _LOG_DIR))

    @classmethod
    def create(cls, spark: SparkSession, path: str,
               partition_by: list[str] | None = None,
               stats_columns: list[str] | None = None) -> "LogTable":
        """Idempotent create (reference S8 CREATE TABLE IF NOT EXISTS).

        ``stats_columns``: columns whose per-file min/max get recorded
        in each commit manifest for file skipping — the manifest-level
        column statistics Iceberg keeps for the reference's tables
        (bronze_load_raw_data.py:62 relies on them for its
        days(datetime) pruning). Stats are harvested from the parquet
        FOOTERS the write already produced (driver-side, O(files),
        zero data scan), so the cost regime matches the JSON log
        itself."""
        t = cls(spark, path)
        os.makedirs(t._log_path, exist_ok=True)
        os.makedirs(t._data_path, exist_ok=True)
        meta = os.path.join(t._log_path, "_meta.json")
        if not os.path.exists(meta):
            _replace_json(meta, {"partition_by": partition_by or [],
                                 "stats_columns": stats_columns or []})
        return t

    @property
    def _meta(self) -> dict:
        with open(os.path.join(self._log_path, "_meta.json")) as fh:
            return json.load(fh)

    @property
    def partition_by(self) -> list[str]:
        return self._meta["partition_by"]

    @property
    def stats_columns(self) -> list[str]:
        return self._meta.get("stats_columns", [])

    @property
    def partition_types(self) -> dict:
        """{partition col: Spark type DDL}, stamped at first write."""
        return self._meta.get("partition_types") or {}

    def _stamp_partition_types(self, df: DataFrame) -> None:
        """Record the writer's partition column TYPES in _meta, once.

        Hive-style dirs store partition values as untyped strings, and
        Spark's dir-string type inference is file-list-DEPENDENT: a
        fractional-seconds timestamp dir value defeats timestamp
        inference entirely (the column reads back as STRING), an
        all-numeric string partition reads back as DOUBLE — so two
        reads of the same table could disagree on a partition column's
        TYPE (and silently mangle its VALUES, '0001' -> 1.0) depending
        on which files survived pruning. Iceberg solves this with
        typed partition fields in the table spec; this is that,
        stamped from the first writer's schema. Atomic tmp+replace;
        concurrent first writes of a consistently-typed table carry
        identical types, so last-wins is benign."""
        meta = self._meta
        if meta.get("partition_types"):
            return
        parts = set(meta["partition_by"])
        types = {f.name: f.dataType.simpleString()
                 for f in df.schema.fields if f.name in parts}
        if not types:
            return
        meta["partition_types"] = types
        _replace_json(os.path.join(self._log_path, "_meta.json"), meta)

    def snapshots(self) -> list[Snapshot]:
        """All commits in log order (the ``snapshots`` metadata table,
        reference silver_dag.py:102-107).

        Concurrent ``expire_snapshots`` race: entries deleted between
        the listdir and the reads raise FileNotFoundError. Merely
        skipping them is NOT enough for whole-list consumers — a
        reader that consumed a pre-expire entry BEFORE its deletion
        and then skipped a later one would return a list mixing that
        stale entry (whose parent chain no longer exists) with the
        post-expire checkpoint. So any swallowed FileNotFoundError
        triggers a full re-list: expire deletes the old prefix and the
        reader scans in sorted order, so every torn interleaving
        surfaces as at least one FileNotFoundError on a not-yet-read
        entry, and by the retry the deletions are all visible —
        the second pass reads a consistent log. (Bounded retries:
        expire is a maintenance call, not a loop; three CONSECUTIVE
        racing expires is not a state this engine produces, and the
        final pass still returns a usable post-expire listing.)"""
        out: list[Snapshot] = []
        for _attempt in range(3):
            out = []
            lost_race = False
            for f in sorted(os.listdir(self._log_path)):
                if not f.endswith(".json") or f.startswith("_"):
                    continue
                try:
                    with open(os.path.join(self._log_path, f)) as fh:
                        d = json.load(fh)
                except FileNotFoundError:
                    lost_race = True
                    continue
                out.append(Snapshot(d["snapshot_id"], d["parent_id"],
                                    d["committed_at_ms"], d["operation"],
                                    tuple(d["add"]), tuple(d["remove"]),
                                    d.get("txn"), d.get("stats") or {}))
            if not lost_race:
                break
        return out

    def snapshots_df(self) -> DataFrame:
        """Snapshot metadata as a DataFrame — the queryable form of the
        reference's ``SELECT ... FROM tbl.snapshots``."""
        rows = [(s.snapshot_id, s.parent_id, s.committed_at_ms,
                 s.operation, len(s.add), len(s.remove))
                for s in self.snapshots()]
        return self.spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, committed_at_ms long,"
                  " operation string, n_added_files long, n_removed_files long")

    def _replay(self, snapshot_id: int | None = None,
                snaps: list[Snapshot] | None = None) -> _Replay:
        """The table's state at ``snapshot_id`` (default: latest) from
        ONE read of the log — or from ``snaps``, a read the caller
        already made. No state outlives the call: the next operation
        reads the log again and sees every commit landed meanwhile."""
        if snaps is None:
            snaps = self.snapshots()
        if snapshot_id is None:
            if not snaps:
                return _Replay(snaps, [], {})
            snapshot_id = snaps[-1].snapshot_id
        by_id = {s.snapshot_id: s for s in snaps}
        if snapshot_id not in by_id:
            raise BrokenLineageError(f"unknown snapshot {snapshot_id}")
        # root -> snapshot along parent_id pointers (NOT log order: a
        # rollback re-parents, and commits after the fork are not part
        # of the rolled-back timeline)
        chain: list[Snapshot] = []
        cur: int | None = snapshot_id
        while cur is not None:
            s = by_id.get(cur)
            if s is None:
                # an ancestor is gone (expired history): the walked
                # snapshot's file set is NOT reconstructible — raising
                # beats silently returning a partial chain (a dead-fork
                # read would otherwise yield incomplete data). The live
                # chain never hits this: expire rewrites its oldest
                # kept commit as a parentless checkpoint.
                raise BrokenLineageError(
                    f"snapshot {cur} (ancestor of {snapshot_id}) has "
                    f"been expired; the requested state is not "
                    f"reconstructible")
            chain.append(s)
            cur = s.parent_id
        chain.reverse()
        # each live file's stats come from the commit that ADDED it
        # (files are immutable, so the stats never go stale)
        live: dict = {}
        for s in chain:
            for f in s.remove:
                live.pop(f, None)
            for f in s.add:
                live[f] = s.stats.get(f, {})
        return _Replay(snaps, chain, live)

    def state(self) -> _Replay:
        """The latest snapshot's state from ONE read of the log, for a
        caller that needs several facts of that snapshot (its id, a txn
        lookup, the live files' stats) without a log read for each."""
        return self._replay()

    def latest_snapshot_id(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1].snapshot_id if snaps else None

    def txn_commit(self, txn: str) -> Snapshot | None:
        """The current-timeline commit that carried idempotence token
        ``txn``, or None — how a replayed publish finds what the
        original one committed."""
        return self._replay().txn_commit(txn)

    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Live data files at a snapshot as a DataFrame — the queryable
        twin of Iceberg's ``tbl.files`` metadata table (the reference
        inspects table internals through exactly such metadata tables,
        silver_dag.py:102-107): relative path, on-disk size, Hive
        partition values decoded from the dir segments, and the
        manifest min/max column stats as JSON. Driver-side O(files)
        like every metadata read — never a data scan."""
        parts = self.partition_by
        rows = []
        stats = self._replay(snapshot_id).live
        for rel in sorted(stats):
            p = os.path.join(self._data_path, rel)
            try:
                size = os.path.getsize(p)
            except OSError:
                size = None
            # one dir-decoding code path with the prune layer — a fix
            # to partition parsing must not have to land twice
            pvals = self._partition_values(rel)
            part = {c: pvals.get(c) for c in parts}
            rows.append((rel, size, part, json.dumps(stats[rel],
                                                     sort_keys=True)))
        return self.spark.createDataFrame(
            rows, "file_path string, size_bytes long,"
                  " partition map<string,string>, stats_json string")

    _UNSET = object()

    def _collect_stats(self, rel_files: list[str]) -> dict:
        """Per-file [min, max] for the table's ``stats_columns``, read
        from the parquet footers (no data pages touched). A column with
        unusable footer stats (missing, all-null, or a type we refuse
        to order-compare) is simply absent — readers treat absence as
        "cannot prune", never as "empty"."""
        cols = self.stats_columns
        if not cols:
            return {}
        try:
            import pyarrow.parquet as pq
        except ImportError:          # stats are an optimization only
            return {}
        out: dict = {}
        for rel in rel_files:
            md = pq.ParquetFile(
                os.path.join(self._data_path, rel)).metadata
            idx = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            fstats: dict = {}
            for col in cols:
                if col not in idx:
                    continue             # partition col (in dir) or absent
                lo = hi = None
                ok = True
                nulls, nrows, nulls_ok = 0, 0, True
                for rg in range(md.num_row_groups):
                    rg_meta = md.row_group(rg)
                    nrows += rg_meta.num_rows
                    try:
                        st = rg_meta.column(idx[col]).statistics
                    except Exception:  # noqa: BLE001
                        # pyarrow raises ArrowNotImplementedError for
                        # types it cannot extract stats for (e.g.
                        # BOOLEAN footers from some writers) — a
                        # stats_column of such a type must degrade to
                        # "no stats for this file" (pruning is an
                        # optimization), never crash the COMMIT that
                        # harvests it
                        st = None
                    if st is None:
                        ok = nulls_ok = False
                        break
                    # null counts are harvested INDEPENDENTLY of min/max
                    # usability: an all-null column has no min/max but
                    # its null count is exactly what IS NOT NULL pruning
                    # needs
                    if st.has_null_count:
                        nulls += st.null_count
                    else:
                        nulls_ok = False
                    if not ok:
                        continue
                    if not st.has_min_max:
                        ok = False
                        continue
                    try:
                        mn, mx = _stat_value(st.min), _stat_value(st.max)
                    except Exception:  # noqa: BLE001
                        # pyarrow raises ArrowNotImplementedError on
                        # the .min/.max ACCESSORS for types it cannot
                        # cast statistics for — same degrade rule:
                        # skip the column's stats, never crash the
                        # commit
                        ok = False
                        continue
                    if mn is None or mx is None:
                        ok = False
                        continue
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
                if not (ok and lo is not None):
                    lo = hi = None
                if nulls_ok:
                    fstats[col] = [lo, hi, nulls, nrows]
                elif lo is not None:
                    fstats[col] = [lo, hi]
            if fstats:
                out[rel] = fstats
        return out

    def _commit(self, operation: str, add: list[str],
                remove: list[str], parent_id: int | None = None,
                txn: str | None = None, expected_base=_UNSET,
                _retries: int = 20) -> int:
        """Atomically append one commit; the exclusive publish means two
        racing writers of the same sequence number cannot both win.

        Optimistic concurrency (Delta's conflict rules, simplified):
        an APPEND has no read-dependency, so losing a race just means
        taking the next sequence number — it retries. A REWRITE
        operation (merge / overwrite / replace / rollback) passes the
        snapshot id its staged output was DERIVED from as
        ``expected_base``; if the table has moved past that snapshot —
        detected either by the pre-write check or by losing the O_EXCL
        race — the staged files reflect stale state and the commit
        raises :class:`ConcurrentCommitError` so the caller re-runs the
        operation against the new current snapshot."""
        validate_base = expected_base is not LogTable._UNSET
        stats = self._collect_stats(add)
        for _ in range(_retries):
            st = self._replay()
            # re-check idempotence after losing a race: the winner may
            # have been a replay of this very transaction (the same
            # lookup append()'s and merge()'s pre-checks use)
            done = st.txn_commit(txn)
            if done is not None:
                return done.snapshot_id
            latest = st.snapshot_id
            if validate_base and latest != expected_base:
                raise ConcurrentCommitError(
                    f"{operation} was staged against snapshot "
                    f"{expected_base} but the table is now at {latest} "
                    f"— re-run the operation")
            seq = 1 if latest is None else latest + 1
            pid = parent_id if parent_id is not None else latest
            body = {"snapshot_id": seq, "parent_id": pid,
                    "committed_at_ms": int(time.time() * 1000),
                    "operation": operation, "add": sorted(add),
                    "remove": sorted(remove), "txn": txn,
                    "stats": stats}
            target = os.path.join(self._log_path, f"{seq:020d}.json")
            try:
                _publish_exclusive(target, body)
                return seq
            except FileExistsError:
                if validate_base:
                    raise ConcurrentCommitError(
                        f"{operation} lost the commit race for snapshot "
                        f"{seq}; its input state is stale — re-run the "
                        f"operation") from None
                continue                        # append: take the next seq
        raise ConcurrentCommitError(
            f"append could not win a sequence number after {_retries} "
            f"attempts")

    # ----------------------------------------------------------- lineage

    def is_ancestor(self, ancestor_id: int, descendant_id: int) -> bool:
        """Walk the parent chain — the reference's
        ``is_ancestor_snapshot`` (silver_dag.py:65-88)."""
        try:
            return any(s.snapshot_id == ancestor_id
                       for s in self._replay(descendant_id).chain)
        except BrokenLineageError:
            return False

    def files(self, snapshot_id: int | None = None) -> list[str]:
        """Live data files (relative paths) at a snapshot: replay
        add/remove along the parent chain."""
        return self._replay(snapshot_id).files

    def files_stats(self, snapshot_id: int | None = None) -> dict:
        """{rel_path: {col: [min, max]}} for the live files at a
        snapshot — each file's stats come from the commit that ADDED
        it (files are immutable, so the stats never go stale)."""
        return self._replay(snapshot_id).live

    @staticmethod
    def _partition_values(rel: str) -> dict[str, str | None]:
        """Partition column -> value parsed from a file's Hive-style
        dir segments, with Spark's dir-name escaping undone and the
        null sentinel mapped to None."""
        from urllib.parse import unquote
        vals: dict[str, str | None] = {}
        for seg in rel.split(os.sep)[:-1]:
            if "=" not in seg:
                continue
            c, v = seg.split("=", 1)
            vals[c] = None if v == "__HIVE_DEFAULT_PARTITION__" \
                else unquote(v)
        return vals

    def _prune(self, rel_files: list[str], stats: dict,
               filters: list[tuple]) -> list[str]:
        """Drop files the manifest PROVES irrelevant to every filter.
        Absent stats keep the file (pruning is an optimization, never a
        correctness dependency — the residual filter still runs)."""
        part_cols = set(self.partition_by)
        kept = []
        for rel in rel_files:
            pvals = self._partition_values(rel) if part_cols else {}
            drop = False
            for col, op, val in filters:
                if col in pvals:
                    # dir value is the authoritative partition value;
                    # equality-shaped ops only (dir values are strings,
                    # range-comparing stringified numbers is unsound).
                    # Matching goes through _part_matches — Spark's dir
                    # formatting, not Python str() (bool/double/date
                    # literals silently pruned everything otherwise)
                    pv = pvals[col]
                    if op in ("=", "==") and not _part_matches(pv, val):
                        drop = True
                        break
                    if op == "in" and not any(_part_matches(pv, x)
                                              for x in val):
                        drop = True
                        break
                    if op == "isnull" and pv is not None:
                        drop = True
                        break
                    if op == "notnull" and pv is None:
                        drop = True
                        break
                    continue
                norm = ([_stat_value(x) for x in val]
                        if op == "in" else _stat_value(val))
                if _stats_exclude(stats.get(rel, {}).get(col),
                                  op, norm):
                    drop = True
                    break
            if not drop:
                kept.append(rel)
        return kept

    _OPS = {"=": "__eq__", "==": "__eq__", ">": "__gt__",
            ">=": "__ge__", "<": "__lt__", "<=": "__le__"}

    @staticmethod
    def _apply_filters(df: DataFrame, filters: list[tuple]) -> DataFrame:
        for col, op, val in filters:
            df = df.where(LogTable._filter_term(col, op, val))
        return df

    # ------------------------------------------------------------- reads

    def _read_files(self, rel_files: list[str], merge_schema: bool = False,
                    snaps: list[Snapshot] | None = None) -> DataFrame:
        paths = [os.path.join(self._data_path, f) for f in rel_files]
        if not paths:
            # schema-stable empty frame from an existing data file; a
            # table with zero-commits has no schema to offer. Anchor
            # on the CURRENT chain's files first — a file known only
            # to a dead-fork snapshot may have been vacuumed — and
            # verify on-disk existence either way (retention-expired
            # files linger in old add-lists). ``snaps`` is the log the
            # caller already read, if any.
            cur = self._replay(snaps=snaps)
            if not cur.snaps:
                raise ValueError(f"LogTable {self.path} has no commits")
            live = cur.files
            dead = sorted({f for s in cur.snaps for f in s.add}
                          - set(live))
            for rel in live + dead:
                p = os.path.join(self._data_path, rel)
                if os.path.exists(p):
                    return self._typed_read([p]).limit(0)
            raise ValueError(
                f"LogTable {self.path} has no readable data file to "
                "anchor an empty frame's schema on (all known files "
                "vacuumed)")
        if merge_schema:
            # mergeSchema is incompatible with an explicit read schema
            # (the explicit schema would suppress the union), so the
            # merged read keeps Spark's dir inference and only the
            # partition columns get normalized back to their declared
            # types — the evolution path trades the raw-string
            # exactness of the typed read for the schema union.
            df = (self.spark.read
                  .option("basePath", self._data_path)
                  .option("mergeSchema", "true")
                  .parquet(*paths))
            for c, t in self.partition_types.items():
                if c in df.columns:
                    df = df.withColumn(c, F.col(c).cast(t))
            return df
        return self._typed_read(paths)

    def _typed_read(self, paths: list[str]) -> DataFrame:
        """Scan an explicit file list with a PINNED schema: data
        columns from the first file's footer, partition columns from
        the types stamped at first write (``partition_types``).

        Without this, Spark INFERS partition column types from the dir
        strings of whatever file list it is handed — and the inference
        is both lossy (a fractional-seconds timestamp value falls back
        to string; '0001' in a string-typed partition becomes the
        double 1.0, silently corrupting the value AND dodging a
        residual equality filter) and file-list-dependent (a pruned
        read and an unpruned read of the same table can return
        DIFFERENT types for the same column). An explicit schema makes
        Spark parse each dir string directly as the declared type —
        exact for strings (no numeric reinterpretation), exact for fractional
        timestamps — and identical for every file subset. Partition
        pushdown is unaffected (partition columns are still recognized
        from the dirs). Tables created before types were stamped keep
        the legacy inference read."""
        reader = self.spark.read.option("basePath", self._data_path)
        ptypes = self.partition_types
        if ptypes:
            anchor = self.spark.read.parquet(paths[0]).schema
            present = {f.name for f in anchor.fields}
            ddl = ", ".join(
                [f"{sql_ident(f.name)} {f.dataType.simpleString()}"
                 for f in anchor.fields]
                + [f"{sql_ident(c)} {t}" for c, t in ptypes.items()
                   if c not in present])
            reader = reader.schema(ddl)
        return reader.parquet(*paths)

    def read(self, snapshot_id: int | None = None,
             merge_schema: bool = False,
             filters: list[tuple] | None = None) -> DataFrame:
        """Scan pinned to one snapshot's exact file list. Partition
        pruning + pushdown intact: files sit in Hive-style partition
        dirs under one basePath (reference S5 scan semantics).

        ``filters`` — ``[(col, op, value), ...]`` conjuncts with op in
        {=, ==, >, >=, <, <=, in, isnull, notnull} (the null tests
        ignore ``value``; files prune on the manifest's per-file null
        counts) — performs MANIFEST-LEVEL file
        skipping before Spark ever lists the scan: a file is dropped
        when the commit's per-file min/max (``stats_columns``) or its
        partition-dir value proves no row can match. This is the
        file-level pruning the reference gets from Iceberg manifests;
        without it a selective non-partition predicate still opens
        every footer at 100 TB. The same predicate is ALSO applied to
        the returned frame (residual filter), so pruning is never a
        correctness dependency.

        ``merge_schema=True`` = additive schema evolution: commits may
        add columns over time (files are immutable, so old files simply
        lack them); the merged read unions the schemas and fills
        missing columns with NULL, the same reader-side evolution
        Iceberg/Delta perform. Off by default — schema merging reads
        every file footer up front, which costs a listing-scale pass at
        100 TB, so turn it on only for tables that actually evolved."""
        st = self._replay(snapshot_id)
        rel = st.files
        if filters:
            rel = self._prune(rel, st.live, filters)
        df = self._read_files(rel, merge_schema, st.snaps)
        return self._apply_filters(df, filters) if filters else df

    def read_increment(self, start_snapshot_id: int | None,
                       end_snapshot_id: int | None = None,
                       filters: list[tuple] | None = None) -> DataFrame:
        """Rows added strictly after ``start`` up to and including
        ``end`` (reference S6: start/end-snapshot-id scan). Raises
        :class:`BrokenLineageError` when the range is not a clean
        append-only ancestry — rollback re-forked history, a snapshot
        vanished, or a commit in range rewrote data (merge /
        overwrite), in which case "rows added since" is not
        well-defined and the caller must replan a full read, exactly
        like the reference's broken-ancestry fallback."""
        st = self._replay(end_snapshot_id)
        inc = st.since(start_snapshot_id)
        non_append = [s for s in inc if s.operation != "append"]
        if non_append:
            raise BrokenLineageError(
                "increment contains non-append commit(s) "
                f"{[s.snapshot_id for s in non_append]}; rows-added-since "
                "is undefined across a rewrite")
        rel = sorted({f for s in inc for f in s.add})
        if filters:
            stats = {f: s.stats.get(f, {}) for s in inc for f in s.add}
            rel = self._prune(rel, stats, filters)
        df = self._read_files(rel, snaps=st.snaps)
        return self._apply_filters(df, filters) if filters else df

    def change_feed(self, start_snapshot_id: int | None,
                    end_snapshot_id: int | None = None) -> DataFrame:
        """Row-level change data feed between two snapshots — the
        Delta CDF / Iceberg changelog-scan analog, derived EXACTLY from
        the copy-on-write file deltas instead of write-time bookkeeping:

        across the range, net-removed files hold the before-image of
        every touched row and net-added files the after-image, so

            deleted  = read(net_removed)  EXCEPT ALL  read(net_added)
            inserted = read(net_added)    EXCEPT ALL  read(net_removed)

        gives multiset-exact row changes (an UPDATE surfaces as its
        delete+insert pair; rows merely copied between files cancel in
        the EXCEPT ALL). Cost is proportional to the CHURNED files, not
        the table — the file-granular CoW of merge/delete/update is
        what makes the feed cheap. Output columns: the table schema
        plus ``_change_type`` ('insert' | 'delete').

        Works across any ancestor range, including merge / delete /
        update / overwrite commits (unlike ``read_increment``, which
        is append-only by contract). ``compact``'s replace commits and
        ``rollback`` are rewrites with identical data — their
        adds/removes cancel here by construction. Raises
        :class:`BrokenLineageError` only when ``start`` is not an
        ancestor of ``end``.

        Retention constraint (same as Delta CDF): the before-image
        lives in the range's net-removed files, which ``vacuum`` is
        free to delete once they leave the current timeline — read
        the feed within the vacuum retention window, or vacuum with a
        retention that covers your longest feed lag."""
        added: set[str] = set()
        removed: set[str] = set()
        st = self._replay(end_snapshot_id)
        for s in st.since(start_snapshot_id):
            for f in s.add:
                # re-added after removal in range -> cancels
                if f in removed:
                    removed.discard(f)
                else:
                    added.add(f)
            for f in s.remove:
                # added then removed within range -> never visible
                if f in added:
                    added.discard(f)
                else:
                    removed.add(f)
        before = self._read_files(sorted(removed), snaps=st.snaps)
        after = self._read_files(sorted(added), snaps=st.snaps)
        cols = after.columns
        ins = (after.exceptAll(before.select(*cols))
                    .withColumn("_change_type", F.lit("insert")))
        del_ = (before.select(*cols).exceptAll(after)
                      .withColumn("_change_type", F.lit("delete")))
        return ins.unionByName(del_)

    # ------------------------------------------------------------ writes

    def _stage_write(self, df: DataFrame) -> list[str]:
        """Write ``df`` into immutable files under data/ and return
        their relative paths (NOT yet visible — only the commit
        publishes them). Files are written to a unique staging dir and
        moved into shared Hive-style partition dirs with a unique
        prefix, so a crashed writer leaves only unreferenced orphans."""
        token = uuid.uuid4().hex
        staging = os.path.join(self.path, f"_staging-{token}")
        parts = self.partition_by
        writer = df.write.mode("overwrite")
        if parts:
            self._stamp_partition_types(df)
            for fld in df.schema.fields:
                if fld.name in parts and fld.dataType.simpleString() \
                        in ("float", "double"):
                    # IEEE negative zero: Spark SQL defines
                    # -0.0 = 0.0 as TRUE (grouping/joins normalize),
                    # but the dynamic partition WRITER formats the raw
                    # bits — it can emit both 'c=0.0' and 'c=-0.0'
                    # dirs for values every query treats as one key,
                    # and COLLIDES with itself when one task writes
                    # both (FileAlreadyExistsException). +0.0
                    # canonicalizes -0.0 to 0.0 per IEEE 754 and
                    # leaves every other value (NaN, infinities)
                    # bit-identical.
                    df = df.withColumn(
                        fld.name, (F.col(fld.name) + F.lit(0.0))
                        .cast(fld.dataType.simpleString()))
            writer = df.write.mode("overwrite").partitionBy(*parts)
        writer.parquet(staging)
        added: list[str] = []
        for root, _dirs, fs in os.walk(staging):
            for f in fs:
                if not f.endswith(".parquet") or f.startswith("."):
                    continue
                rel_dir = os.path.relpath(root, staging)
                dest_dir = (self._data_path if rel_dir == "."
                            else os.path.join(self._data_path, rel_dir))
                os.makedirs(dest_dir, exist_ok=True)
                dest_name = f"{token}-{f}"
                os.replace(os.path.join(root, f),
                           os.path.join(dest_dir, dest_name))
                added.append(dest_name if rel_dir == "."
                             else os.path.join(rel_dir, dest_name))
        # clear leftover staging skeleton (_SUCCESS, empty dirs)
        for root, dirs, fs in os.walk(staging, topdown=False):
            for f in fs:
                os.remove(os.path.join(root, f))
            for d in dirs:
                os.rmdir(os.path.join(root, d))
        os.rmdir(staging)
        return added

    def append(self, df: DataFrame, txn: str | None = None,
               expected_base=_UNSET) -> int:
        """Append-only commit (the bronze write path, reference S4).

        ``txn`` makes the append IDEMPOTENT: if a commit carrying the
        same token already exists on the current timeline, the call is
        a no-op returning that snapshot id. This is how a replayed
        streaming micro-batch (checkpoint recovery re-delivers the last
        unacknowledged batch) commits exactly once — the same
        txnAppId/txnVersion idempotent-write protocol Delta documents
        and the role Iceberg's atomic snapshot commit plays for the
        reference's Kafka->Bronze hop (bronze_load_raw_data.py:84-90,
        README 'exactly-once' §). An append whose rows were derived from
        the table (a version stamped from its max) passes the snapshot
        it read as ``expected_base``, as a rewrite does."""
        done = self.txn_commit(txn) if txn is not None else None
        if done is not None:
            return done.snapshot_id
        return self._commit("append", self._stage_write(df), [], txn=txn,
                            expected_base=expected_base)

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic partition overwrite as ONE atomic commit (reference
        S10): removes every live file in the partitions present in
        ``df``, adds the replacement files."""
        parts = self.partition_by
        if not parts:
            raise ValueError("overwrite_partitions needs a partitioned table")
        st = self._replay()
        adds = self._stage_write(df)
        # Derive the touched partitions from the STAGED files' own
        # relative dirs: Spark wrote those dirs with its own Hive-path
        # escaping (%xx specials, __HIVE_DEFAULT_PARTITION__ for null),
        # so dir-to-dir comparison can never miss a victim the way a
        # str(value)-to-raw-segment comparison does on null or
        # special-character partition values.
        touched = {os.path.dirname(f) for f in adds}
        removes = [f for f in st.files if os.path.dirname(f) in touched]
        return self._commit("overwrite_partitions", adds, removes,
                            expected_base=st.snapshot_id)

    def merge(self, staged: DataFrame, keys: list[str],
              txn: str | None = None,
              retire: DataFrame | None = None) -> int:
        """MERGE INTO: matched rows updated, new rows inserted, as
        file-granular copy-on-write (reference S9,
        silver_user_session_events.py:146-186 MERGEs on the session
        key). Only files that CONTAIN a matched key are rewritten:

          victims = files holding >=1 row whose key appears in staged
                    or in ``retire``
          adds    = staged  ∪  (victim rows anti-join those keys)
          commit  = remove(victims) + add(new files)

        ``retire`` (a frame holding the ``keys`` columns) deletes the
        target rows with those keys unless ``staged`` re-inserts them
        (``WHEN NOT MATCHED BY SOURCE ... THEN DELETE`` restricted to
        those keys); a partition left with no rows simply has no live
        files after the commit.

        Scale: the victim scan is one distributed semi-join over the
        file-path metadata column; unmatched files are untouched, so
        steady-state merge cost tracks the overlap, not table size.

        ``txn`` gives merges the same idempotent-replay protocol as
        append: a token already on the live chain short-circuits before
        any staging work, so a checkpoint-recovered foreachBatch that
        re-delivers a merge micro-batch commits exactly once even when
        re-applying it would NOT be a semantic no-op (multi-run SCD2
        batches are the canonical example)."""
        st = self._replay()
        done = st.txn_commit(txn)
        if done is not None:
            return done.snapshot_id
        base = st.snapshot_id
        key_rows = staged.select(*keys)
        if retire is not None:
            key_rows = key_rows.unionByName(retire.select(*keys))
        key_rows = key_rows.distinct()
        victim_rel = [] if base is None else self._victim_paths(
            self._read_files(st.files, snaps=st.snaps)
            .withColumn("_file", F.col("_metadata.file_path"))
            .join(key_rows.hint("broadcast"), keys, "left_semi"))
        if not victim_rel:
            return self._commit("merge", self._stage_write(staged), [],
                                expected_base=base, txn=txn)
        kept = (self._read_files(victim_rel)
                .join(key_rows, keys, "left_anti")
                .select(*staged.columns))
        # materialize BEFORE the commit flips the file set (the staged
        # write itself forces the plan; localCheckpoint would be
        # redundant — victims stay on disk until vacuum, the commit
        # only unreferences them, so there is no read-before-overwrite
        # hazard at all: immutable files are the point of the format)
        adds = self._stage_write(kept.unionByName(staged))
        return self._commit("merge", adds, victim_rel, expected_base=base,
                            txn=txn)

    def delete_where(self, filters: list[tuple]) -> int:
        """DELETE FROM ... WHERE, as file-granular copy-on-write — the
        Iceberg row-level delete the reference relies on for GDPR
        erasure and bad-batch retraction, with the same conjunctive
        ``(col, op, value)`` filters the read path takes.

        Three-stage narrowing keeps the rewrite proportional to the
        matched data, not the table:

          1. manifest stats + partition dirs PRUNE files that provably
             hold no match (no IO at all);
          2. one distributed pass over the surviving candidates finds
             files actually CONTAINING >=1 matching row (victims);
          3. only victims are rewritten, keeping their non-matching
             rows; the commit removes victims and adds the rewrites.

        SQL DELETE semantics: a row is removed iff the predicate is
        TRUE — NULL-predicate rows are kept (filters compare with =,
        so a NULL column value never matches). Readers pinned to older
        snapshots still see the deleted rows (immutable files) until
        ``vacuum`` ages them out — exactly Iceberg's snapshot-isolation
        contract for deletes."""
        # keep = NOT(all filters match); NULLs in any compared column
        # make the conjunction non-TRUE, so those rows are kept
        return self._rewrite_matching(
            "delete", filters, lambda victims, hit: victims.where(~hit))

    @staticmethod
    def _filter_term(col: str, op: str, val) -> Column:
        """One (col, op, value) filter as a boolean Column — the single
        translation both the read path and DML share. ``isnull`` /
        ``notnull`` ignore ``val`` (pass None)."""
        if op == "in":
            return F.col(col).isin(list(val))
        if op == "isnull":
            return F.col(col).isNull()
        if op == "notnull":
            return F.col(col).isNotNull()
        return getattr(F.col(col), LogTable._OPS[op])(F.lit(val))

    @staticmethod
    def _filter_cond(filters: list[tuple]) -> Column:
        """Conjunction of read-path filters as one boolean Column."""
        cond = F.lit(True)
        for col, op, val in filters:
            cond = cond & LogTable._filter_term(col, op, val)
        return cond

    def _victim_paths(self, df: DataFrame) -> list[str]:
        """The relative paths of the data files named in ``df``'s
        ``_file`` column (``_metadata.file_path`` of the rows a DML
        scan matched), one distinct collect. That column URI-encodes
        the on-disk name ONCE MORE on top of Spark's Hive dir escaping
        (disk `p=x%3Ay z` prints as `p=x%253Ay%20z`), so exactly one
        unquote recovers the real relative path; skipping it
        mis-resolves victims for any special-character partition
        value."""
        from urllib.parse import unquote, urlparse
        return sorted(
            os.path.relpath(unquote(urlparse(r["_file"]).path),
                            self._data_path)
            for r in df.select("_file").distinct().collect())

    def _rewrite_matching(self, operation: str, filters: list[tuple],
                          rewrite) -> int:
        """Shared delete/update: manifest-stats pruning, one containment
        pass finding the live files that hold >=1 row matching
        ``filters`` (victims), then ONE commit replacing the victims by
        ``rewrite(victim rows, hit)``, where ``hit`` is the filters'
        conjunction with NULL as false. No victim, no commit: returns
        the current snapshot."""
        st = self._replay()
        if st.snapshot_id is None:
            raise ValueError(f"LogTable {self.path} has no commits")
        candidates = self._prune(st.files, st.live, filters)
        if not candidates:
            return st.snapshot_id
        matched = self._apply_filters(self._read_files(candidates),
                                      filters)
        victim_rel = self._victim_paths(
            matched.select(F.col("_metadata.file_path").alias("_file")))
        if not victim_rel:
            return st.snapshot_id
        victims = self._read_files(victim_rel)
        hit = F.coalesce(self._filter_cond(filters), F.lit(False))
        adds = self._stage_write(
            rewrite(victims, hit).select(*victims.columns))
        return self._commit(operation, adds, victim_rel,
                            expected_base=st.snapshot_id)

    def update_where(self, filters: list[tuple],
                     set_exprs: dict[str, object]) -> int:
        """UPDATE ... SET ... WHERE — the third leg of the DML triad
        (merge upserts, delete_where removes, this rewrites in place).
        Same three-stage narrowing as delete_where: stats-pruned
        candidates -> containment scan -> victim-only rewrite, where
        matching rows get ``set_exprs`` (column -> Column or literal)
        applied and non-matching rows in the same files are carried
        unchanged. NULL-predicate rows are NOT updated (SQL UPDATE)."""
        def updated(victims: DataFrame, hit: Column) -> DataFrame:
            unknown = sorted(set(set_exprs) - set(victims.columns))
            if unknown:
                raise ValueError(
                    f"update_where SET names unknown column(s) {unknown} "
                    f"— table columns are {victims.columns} (SQL UPDATE "
                    "rejects an unknown SET column; silently ignoring it "
                    "would no-op the update)")
            # ONE select evaluating predicate and every SET expression
            # against the ORIGINAL row — sequential withColumn would let
            # a SET of a predicate column hide the row from later SETs,
            # and {a: col(b), b: col(a)} would fail to swap (SQL UPDATE
            # evaluates all right-hand sides against the pre-update row)
            return victims.select(*[
                F.when(hit, set_exprs[c] if isinstance(set_exprs[c], Column)
                       else F.lit(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs else F.col(c)
                for c in victims.columns])
        return self._rewrite_matching("update", filters, updated)

    def compact(self, target_files: int = 1,
                zorder_by: list[str] | None = None,
                filters: list[tuple] | None = None) -> int:
        """Rewrite the live file set into ``target_files`` files per
        partition as ONE ``replace`` commit (the maintenance job
        Iceberg's rewrite_data_files performs for the reference's
        tables): streaming appends and frequent merges accrete a file
        per commit, and at scale the scan-task explosion dominates read
        cost. Readers pinned to older snapshots are untouched
        (immutable files); an incremental reader whose range crosses
        the replace commit gets BrokenLineageError and replans a full
        read — identical data, so downstream MERGE/overwrite stays
        idempotent.

        ``zorder_by`` re-clusters the rewrite along the Morton curve of
        those columns (sources/layout.py) instead of hash-repartitioning
        — Iceberg's sort-order rewrite / Delta OPTIMIZE ZORDER BY as the
        same replace commit. Combined with ``stats_columns`` covering
        the same columns, the freshly tightened per-file min/max let
        ``read(filters=...)`` skip files on ANY clustered dimension."""
        st = self._replay()
        base, live = st.snapshot_id, st.files
        if filters:
            # partition-scoped maintenance: rewrite ONLY the files the
            # manifest proves relevant (a daily table compacts
            # yesterday's partition, never the year of history behind
            # it) — same pruning as the read path, and the replace
            # commit removes exactly what it rewrote
            live = self._prune(live, st.live, filters)
        if not live:
            return base or 0
        df = self._read_files(live)
        if zorder_by:
            from w_userflow_featurestore_spark.sources.layout import zorder
            df = zorder(df, zorder_by, n_files=target_files)
        else:
            df = df.repartition(target_files)
        adds = self._stage_write(df)
        return self._commit("replace", adds, live, expected_base=base)

    def rewrite(self, build) -> int:
        """Atomic whole-table CONTENT rewrite: replace the live file
        set with ``build(rows)`` as ONE ``replace`` commit. Where
        :meth:`compact` preserves rows and only merges files, rewrite
        changes the row set — a delta ledger's roll-up (the deltas
        replaced by their sums) or a state table's next version.

        ``build`` gets the live rows of the snapshot this call read
        (``None`` on an empty table) and returns the new content. The
        commit validates that snapshot, so a commit that lands after
        the read — even one made inside ``build`` — fails this rewrite
        with :class:`ConcurrentCommitError` instead of silently losing
        its rows. Readers pinned to older snapshots are untouched;
        incremental readers crossing the replace commit replan a full
        read, exactly as for :meth:`compact`."""
        st = self._replay()
        prev = (None if st.snapshot_id is None
                else self._read_files(st.files, snaps=st.snaps))
        adds = self._stage_write(build(prev).repartition(1))
        return self._commit("replace", adds, st.files,
                            expected_base=st.snapshot_id)

    def rollback(self, snapshot_id: int) -> int:
        """Reset the table to an older snapshot by committing a new
        snapshot whose PARENT is the target — later snapshots become a
        dead fork, so a reader that recorded one of them fails the
        ancestry check and replans a full read (the exact situation
        the reference's is_ancestor_snapshot guard exists for)."""
        cur = self._replay()
        target = self._replay(snapshot_id, cur.snaps).live
        return self._commit(
            "rollback",
            add=[f for f in sorted(target) if f not in cur.live],
            remove=[f for f in cur.files if f not in target],
            parent_id=snapshot_id, expected_base=cur.snapshot_id)

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Truncate table history to the newest ``keep_last`` snapshots
        on the live chain — Iceberg's ``expire_snapshots`` maintenance
        op. Expired commits' log entries are deleted, so data files
        referenced ONLY by expired history become unreferenced and the
        next ``vacuum`` reclaims them (compaction/merge/delete leave
        old files time-travel-reachable forever otherwise — metadata
        AND storage grow without bound on a busy table).

        Consequences, all standard for the operation: time travel and
        ``change_feed`` ranges starting before the truncation point
        raise/replan (incremental readers fall back to a full read via
        the broken-lineage path), and a streaming txn token recorded
        only in expired history would be RE-applied on replay — expire
        only past the replay window, exactly Iceberg's guidance. The
        oldest kept commit is rewritten as a CHECKPOINT holding the
        full live file set + stats as of its snapshot (Delta's
        checkpoint-then-clean protocol — a delta log cannot just drop
        its base). Returns the number of snapshots expired."""
        st = self._replay()
        chain, keep_last = st.chain, max(1, keep_last)
        expired = chain[:-keep_last]
        if not expired:
            return 0
        # The log is a DELTA log — each commit records only its own
        # add/remove — so before dropping history the oldest KEPT
        # commit must become a CHECKPOINT carrying the full live file
        # set (and its stats) as of that snapshot: exactly Delta's
        # checkpoint-then-clean protocol. Atomic tmp+rename rewrite.
        oldest = chain[-keep_last]
        stats = self._replay(oldest.snapshot_id, st.snaps).live
        body = {"snapshot_id": oldest.snapshot_id, "parent_id": None,
                "committed_at_ms": oldest.committed_at_ms,
                "operation": "checkpoint", "add": sorted(stats),
                "remove": [], "txn": oldest.txn, "stats": stats}
        _replace_json(os.path.join(self._log_path,
                                   f"{oldest.snapshot_id:020d}.json"),
                      body)
        n = 0
        for snap in expired:
            p = os.path.join(self._log_path,
                             f"{snap.snapshot_id:020d}.json")
            try:
                os.remove(p)
                n += 1
            except FileNotFoundError:
                pass           # lost a race with another expire
        return n

    def vacuum(self, retention_seconds: float = 24 * 3600.0) -> int:
        """Delete data files unreferenced by the CURRENT timeline (all
        snapshots reachable from latest), and orphaned ``_txn_log``
        publish tmp files. Returns files deleted.
        Time travel to dead forks stops working — as with any
        format's vacuum, retention is a policy decision.

        Files younger than ``retention_seconds`` are kept even when
        unreferenced: ``_stage_write`` moves files into data/ BEFORE
        the commit publishes them, so a zero-retention vacuum racing an
        in-flight append/merge would delete the writer's staged files
        and the winning commit would then reference nonexistent files,
        permanently breaking reads of that snapshot; a young publish
        tmp may likewise be a commit about to link. The window is the
        same guard as Delta VACUUM's retention period; pass ``0`` only
        when no concurrent writer can exist."""
        chain = self._replay().chain
        if not chain:
            return 0
        keep = {f for s in chain for f in s.add}
        cutoff = time.time() - retention_seconds
        n = 0
        for f in os.listdir(self._log_path):
            # a publish tmp outlives its commit only when the writer
            # died between the tmp write and the link
            if not f.endswith(".tmp"):
                continue
            p = os.path.join(self._log_path, f)
            try:
                if os.path.getmtime(p) > cutoff:
                    continue               # possibly a commit in flight
                os.remove(p)
            except FileNotFoundError:
                continue
            n += 1
        for root, _dirs, fs in os.walk(self._data_path):
            for f in fs:
                p = os.path.join(root, f)
                rel = os.path.relpath(p, self._data_path)
                if f.endswith(".parquet") and rel not in keep:
                    try:
                        if os.path.getmtime(p) > cutoff:
                            continue       # possibly staged, not yet committed
                        os.remove(p)
                    except FileNotFoundError:
                        continue           # lost a race with another vacuum
                    n += 1
        return n
