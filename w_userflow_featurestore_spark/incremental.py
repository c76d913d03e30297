"""Incremental-vs-full read planner with a persisted file ledger.

The reference drives Silver incrementally off Iceberg snapshot lineage:
read only rows appended between two snapshot ids, falling back to a full
re-read when the recorded snapshot is no longer an ancestor of the
latest (compaction / rewrite / rollback broke the lineage) — reference
silver_user_session_events.py:67-76 and silver_dag.py:65-88
(``is_ancestor_snapshot``). SURVEY.md §4 calls this the one genuinely
custom "optimizer" behavior: a driver-side control plane, not a Catalyst
rule.

This module generalizes it to any append-style parquet directory:

- version        = the set of data files currently in the table
- ledger         = the file set recorded after the last successful run
                   (JSON next to nothing else — tiny, human-readable)
- incremental    = read only files added since the ledger
- lineage broken = any RECORDED file has disappeared (a rewrite touched
                   history) -> plan a FULL read, exactly like the
                   reference's broken-ancestry fallback

Commit protocol mirrors the reference DAG (get_snapshot -> process ->
update_snapshot): ``plan_read`` never mutates the ledger; the caller
invokes ``plan.commit()`` only after its own write succeeded, so a
failed run re-reads the same increment (at-least-once, idempotent
downstream via merge_upsert / overwrite_partitions).

Two planners share the ``ReadPlan`` interface:

- :class:`IncrementalPlanner`   — file-set ledger over a plain parquet
  directory (no table format required; the emulation mode).
- :class:`LakehousePlanner`     — REAL snapshot semantics over a
  :class:`~w_userflow_featurestore_spark.sources.lakehouse.LogTable`:
  the ledger records a snapshot id, the increment is the commit-log
  range ``(recorded, latest]``, and the broken-lineage fallback is the
  reference's actual ancestry walk (``is_ancestor_snapshot``,
  silver_dag.py:65-88) instead of a file-existence heuristic.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from w_userflow_featurestore_spark.sources.lakehouse import (
    BrokenLineageError, _replace_json,
)


def _list_data_files(path: str) -> list[str]:
    """Relative paths of all parquet data files under ``path`` (sorted,
    partition dirs included). Driver-side listing — the control plane
    decides in milliseconds; executors never see this."""
    out: list[str] = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                rel = os.path.relpath(os.path.join(root, f), path)
                out.append(rel)
    return sorted(out)


def _read_ledger(ledger_path: str, key: str):
    """What the last committed run recorded; None before the first."""
    if not os.path.exists(ledger_path):
        return None
    with open(ledger_path) as fh:
        return json.load(fh)[key]


def _write_ledger(ledger_path: str, key: str, value) -> None:
    """Replace the ledger atomically. Each commit writes its own
    uuid-named tmp, so racing commits never write into one file: the
    last ``os.replace`` wins whole, and the ledger always parses."""
    os.makedirs(os.path.dirname(ledger_path) or ".", exist_ok=True)
    _replace_json(ledger_path, {key: value})


@dataclass
class ReadPlan:
    """Outcome of the incremental-vs-full decision."""
    mode: str                       # "incremental" | "full" | "empty"
    reason: str
    df: DataFrame | None
    _commit: object = field(default=None, repr=False)

    def commit(self) -> None:
        """Persist the ledger AFTER the caller's downstream write
        succeeded (reference task ordering: update_snapshot_id last)."""
        if self._commit is not None:
            self._commit()


class IncrementalPlanner:
    """File-set ledger + planner for one source table."""

    def __init__(self, table_path: str, ledger_path: str):
        self.table_path = table_path
        self.ledger_path = ledger_path

    def plan_read(self, spark: SparkSession) -> ReadPlan:
        current = _list_data_files(self.table_path)

        # Last-writer-wins by DESIGN, no compare-and-swap: this ledger
        # is a WATERMARK (what was seen), not additive state. If two
        # concurrent runs race, the loser's older file list merely
        # causes the next run to re-read some files, and the silver
        # MERGE makes reprocessing idempotent — regression is safe,
        # nothing is lost. The additive split/novelty ledgers in
        # runner.py are the opposite (a lost commit silently erases a
        # batch's counts), so they are LogTables committing by
        # compare-and-swap; keep this watermark in a LogTable the same
        # way only if a deployment needs it on a rename-free object
        # store.
        commit = partial(_write_ledger, self.ledger_path, "files", current)
        recorded = _read_ledger(self.ledger_path, "files")
        full_df = lambda: spark.read.parquet(self.table_path)  # noqa: E731

        if recorded is None:
            return ReadPlan("full", "no ledger (first run)",
                            full_df(), commit)
        seen = set(recorded)
        missing = seen.difference(current)
        if missing:
            # a recorded file vanished: history was rewritten (compaction,
            # rollback, vacuum) — the increment is not well-defined
            return ReadPlan("full",
                            f"lineage broken: {len(missing)} recorded "
                            f"file(s) missing", full_df(), commit)
        new = [f for f in current if f not in seen]
        if not new:
            return ReadPlan("empty", "no new files", None, commit)
        paths = [os.path.join(self.table_path, f) for f in new]
        return ReadPlan("incremental", f"{len(new)} new file(s)",
                        spark.read.parquet(*paths), commit)


class LakehousePlanner:
    """Snapshot-id ledger + planner over a LogTable (reference S6+S7:
    incremental scan between snapshot ids, ancestry-checked, full-read
    fallback when lineage broke). Same commit protocol as
    :class:`IncrementalPlanner`: the ledger only advances via
    ``plan.commit()`` after the caller's downstream write landed, and
    it advances to the snapshot that was READ (snapshot isolation —
    commits racing in after ``plan_read`` belong to the next run)."""

    def __init__(self, table, ledger_path: str):
        self.table = table          # a sources.lakehouse.LogTable
        self.ledger_path = ledger_path

    def plan_read(self, _spark: SparkSession) -> ReadPlan:
        latest = self.table.latest_snapshot_id()
        commit = partial(_write_ledger, self.ledger_path, "snapshot_id",
                         latest)
        recorded = _read_ledger(self.ledger_path, "snapshot_id")
        if latest is None:
            return ReadPlan("empty", "table has no snapshots", None,
                            lambda: None)
        if recorded is None:
            return ReadPlan("full", "no ledger (first run)",
                            self.table.read(latest), commit)
        if recorded == latest:
            return ReadPlan("empty", f"no snapshots after {recorded}",
                            None, commit)
        try:
            df = self.table.read_increment(recorded, latest)
        except BrokenLineageError as e:
            # rollback / expired history re-forked the timeline (the
            # reference's is_ancestor_snapshot guard, silver_dag.py:65-88),
            # or a commit in range rewrote data
            return ReadPlan("full", f"lineage broken: {e}",
                            self.table.read(latest), commit)
        return ReadPlan("incremental",
                        f"snapshots ({recorded}, {latest}]", df, commit)
