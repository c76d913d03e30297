"""Span capture for the traced run, built only from this directory.

A span is one call into a library layer. Each span runs under its own
Spark job group, so the jobs it caused are read back per group from the
status tracker (never from global job-id differences, which retention
and concurrent streams make wrong). Stage metrics come from the local UI
REST API. Spans are kept in memory; Spark metrics are fetched once, at
the end of the run, so the timed calls pay only the job-group switch.

Sub-layer spans inside ``runner.run_silver`` and
``runner.run_daily_features`` come from wrapping the functions those
runners call (``Tracer.patched``), which is active only in traced runs.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.request
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; a disabled tracer only times."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0
        self._extra_groups: dict[str, str] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent)
        if self.enabled:
            self._seq += 1
            sp.group = f"pb-{self._seq}-{name}"
            self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.spans.append(sp)

    def adopt_group(self, group: str, span_name: str) -> None:
        """Attribute a foreign job group (a streaming query's run id,
        which Spark sets on every micro-batch job) to ``span_name``."""
        if self.enabled:
            self._extra_groups[group] = span_name

    @contextlib.contextmanager
    def patched(self, module, attr: str, span_name: str):
        """Wrap ``module.attr`` in a span for the duration of the block."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def wrapper(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)
        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    # ---- read-back at the end of the run -----------------------------

    def _jobs_by_span(self) -> dict[str, list[int]]:
        """Span name -> jobs of every span of that name and of all the
        spans nested in them."""
        st = self.sc.statusTracker()
        out: dict[str, list[int]] = {}
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(sp.group)
            a = sp
            while a is not None:
                out.setdefault(a.name, []).extend(jobs)
                a = a.parent
        for group, name in self._extra_groups.items():
            out.setdefault(name, []).extend(st.getJobIdsForGroup(group))
        return out

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/" \
              f"{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def spark_metrics(self, span_names: list[str]) -> dict[str, float]:
        """Per span: jobs, stages, executor run time, shuffle and spill
        bytes, and task skew (max over its stages of max/median task
        run time, stages with at least two tasks)."""
        st = self.sc.statusTracker()
        jobs = self._jobs_by_span()
        all_jobs = [j for js in jobs.values() for j in js]
        deadline = time.time() + 10
        while time.time() < deadline:   # let the listener bus catch up
            infos = [st.getJobInfo(j) for j in all_jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.1)
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("/stages?status=complete")}
        out: dict[str, float] = {}
        for name in span_names:
            sids = set()
            for j in jobs.get(name, []):
                info = st.getJobInfo(j)
                if info is not None:
                    sids.update(info.stageIds)
            run = shuffle = spill = 0.0
            skew = 1.0 if sids else 0.0
            n_stages = 0
            for (sid, att), s in stages.items():
                if sid not in sids:
                    continue
                n_stages += 1
                run += s.get("executorRunTime", 0) / 1000.0
                shuffle += s.get("shuffleReadBytes", 0) \
                    + s.get("shuffleWriteBytes", 0)
                spill += s.get("memoryBytesSpilled", 0) \
                    + s.get("diskBytesSpilled", 0)
                if s.get("numCompleteTasks", 0) >= 2:
                    q = self._get(f"/stages/{sid}/{att}/taskSummary"
                                  "?quantiles=0.5,1.0")["executorRunTime"]
                    if q[0] > 0:
                        skew = max(skew, q[1] / q[0])
            out.update({
                f"{name}.jobs": len(jobs.get(name, [])),
                f"{name}.stages": n_stages,
                f"{name}.executor_run_s": run,
                f"{name}.shuffle_bytes": shuffle,
                f"{name}.spill_bytes": spill,
                f"{name}.task_skew": skew,
            })
        return out

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def self_seconds(self, name: str) -> list[float]:
        """Span duration minus the time its direct children cover."""
        out = []
        for sp in self.spans:
            if sp.name != name:
                continue
            kids = sum(c.seconds for c in self.spans if c.parent is sp)
            out.append(sp.seconds - kids)
        return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are fewer than eleven samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, len(xs) - 11)] if len(xs) >= 11 else xs[-1]
