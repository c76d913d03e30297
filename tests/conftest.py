"""Shared pytest fixtures: one session-scoped SparkSession (local mode).

Session scope matters — SparkSession startup is ~15 s; all test modules
share one. Shuffle partitions are kept small so tiny-DataFrame tests
don't schedule 32 empty tasks per exchange.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from hypothesis import settings

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from w_userflow_featurestore_spark import get_spark  # noqa: E402

# Property tests draw the same examples on every run: a failure is a
# reproducible counterexample, never a draw that the next run skips.
# Each test's own max_examples and deadline still apply.
settings.register_profile("tier1", derandomize=True, database=None)
settings.load_profile("tier1")

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="pytest",
                     extra_conf={"spark.sql.shuffle.partitions": "4"})


def rows(df, *cols):
    """Collect as a sorted list of tuples for stable assertions."""
    out = [tuple(r) for r in df.select(*cols).collect()] if cols else \
          [tuple(r) for r in df.collect()]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def log_scans(fn) -> int:
    """How many full log reads (``LogTable.snapshots`` calls: a listing
    of ``_txn_log/`` plus a parse of every commit) ``fn()`` makes."""
    from w_userflow_featurestore_spark.sources import LogTable
    real, n = LogTable.snapshots, [0]

    def counting(self):
        n[0] += 1
        return real(self)

    LogTable.snapshots = counting
    try:
        fn()
    finally:
        LogTable.snapshots = real
    return n[0]
