"""bench.py's output contract.

A recorder of bench.py keeps only the last ~2000 chars of output and
parses the FINAL line as JSON (a 104-query line of ~2800 chars once
ran clean and still failed to parse once truncated). These tests pin
the contract: the final line is always parseable and always fits the
window, no matter how many queries the suite grows to; the run is
stamped with the checkout it measured.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(REPO, "bench.py"))
bench = importlib.util.module_from_spec(spec)
sys.modules.setdefault("bench", bench)
spec.loader.exec_module(bench)


def _fake_out(n_queries: int, n_errors: int = 0) -> dict:
    qs: dict = {
        f"some_quite_long_query_name_{i:03d}": round(0.1 + i * 0.013, 3)
        for i in range(n_queries)
    }
    for i in range(n_errors):
        qs[f"failing_query_{i}"] = {"err": "java.lang.OutOfMemoryError: x" * 3}
    return {
        "metric": "total_query_sec",
        "value": 123.456,
        "unit": "sec",
        "queries": qs,
        "sf": 0.1,
        "cores": 4,
        "repeat": 2,
        "loadavg": [11.36, 8.44],
        **({"n_errors": n_errors} if n_errors else {}),
    }


def test_summary_line_fits_budget_at_200_queries():
    line = bench.summary_line(_fake_out(200))
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_sec"
    assert parsed["value"] == 123.456
    assert parsed["n_queries"] == 200
    assert parsed["detail"] == "BENCH_DETAIL_c4.json"
    # the kept subset is the slowest queries (the run-over-run signal)
    kept = parsed["queries"]
    assert parsed["queries_omitted"] == 200 - len(kept)
    slowest = "some_quite_long_query_name_199"
    assert slowest in kept


def test_summary_line_keeps_every_error_entry():
    line = bench.summary_line(_fake_out(150, n_errors=3))
    parsed = json.loads(line)
    assert len(line) <= bench._LINE_BUDGET
    errs = {n: v for n, v in parsed["queries"].items() if isinstance(v, dict)}
    assert len(errs) == 3
    assert parsed["n_errors"] == 3


def test_summary_line_small_suite_keeps_everything():
    out = _fake_out(10)
    parsed = json.loads(bench.summary_line(out))
    assert "queries_omitted" not in parsed
    assert len(parsed["queries"]) == 10
    # timings survive verbatim
    assert parsed["queries"]["some_quite_long_query_name_009"] == out[
        "queries"]["some_quite_long_query_name_009"]


def test_summary_line_fits_even_with_pathological_budget_pressure():
    # hundreds of queries + errors: line still bounded and parseable
    line = bench.summary_line(_fake_out(500, n_errors=10))
    assert len(line) <= bench._LINE_BUDGET
    json.loads(line)


def test_settle_gate_annotates_and_never_refuses_by_default():
    """A refusal at high loadavg would leave a run with no parsed JSON
    line on a box its runner cannot idle. The gate must ALWAYS let the
    run proceed and stamp ``settled: true/false`` into the artifact;
    refusal survives only behind the explicit
    SPARK_GRAFT_BENCH_STRICT=1 opt-in."""
    rec = bench.settle_gate(0.8, 1.5, strict=False)
    assert rec == {"load5": 0.8, "max_load5": 1.5, "settled": True}
    # loaded machine, default mode: proceeds, annotated unsettled
    rec = bench.settle_gate(6.7, 1.5, strict=False)
    assert rec == {"load5": 6.7, "max_load5": 1.5, "settled": False}
    # loaded machine, explicit strict opt-in: refuses
    with pytest.raises(SystemExit, match="STRICT"):
        bench.settle_gate(6.7, 1.5, strict=True)
    # strict opt-in on a settled machine: proceeds normally
    rec = bench.settle_gate(0.8, 1.5, strict=True)
    assert rec["settled"] is True


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, capture_output=True,
                          text=True, check=True).stdout.strip()


def test_git_provenance_reports_this_checkout():
    try:
        _git("rev-parse", "HEAD")
    except Exception:  # noqa: BLE001
        pytest.skip("not a git checkout")
    prov = bench.git_provenance()
    assert prov["head"] == _git("rev-parse", "HEAD")
    assert prov["dirty"] == bool(_git("status", "--porcelain"))
