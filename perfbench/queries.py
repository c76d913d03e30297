"""The ``queries`` workload: driver queries over generated tables.

A fixed set of event-derived and corpus queries from
``__spark_entry__.queries()``, run closed loop by one client in a seeded
order. One query's latency is its construction (the call that returns
the DataFrame, including any Spark jobs it runs eagerly) plus its forced
execution (a ``noop`` write, which runs every partition and returns
nothing to Python).

An untimed warm pass runs first. It compares every query's result with
its DuckDB twin from ``__spark_entry__.oracle_sql()``, using ``compare``
from ``tests/oracle_check.py``.

The set keeps a query whose construction runs Spark jobs
(``dsir_select``), the execution-heavy pair finders
(``ngram_jaccard_pairs``, ``duplicate_spans``, ``embedding_near_pairs``),
the Python-worker path (``multimodal_decode``) and the event-derived
``sessions``. It is small because every run pays a cold warm pass before
its timed pass.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from gen import EventSpec, generate_events, write_corpus, write_events
from spans import median, tail

# Corpus queries lead: their DuckDB twins are the slow ones, and the
# oracle thread works through them while Spark runs the queries first.
CORPUS_QUERIES = (
    "embedding_near_pairs", "dsir_select",
    "ngram_jaccard_pairs", "duplicate_spans", "multimodal_decode",
)
EVENT_QUERIES = ("sessions",)
QUERIES = CORPUS_QUERIES + EVENT_QUERIES
EVENTS = EventSpec(users=1_500, days=30, sessions_per_day=60, ticks=1,
                   late_share=0.0, dup_share=0.0)
DOCS, VECTORS = 300, 150


def prepare(work: str, seed: int) -> str:
    shutil.rmtree(work, ignore_errors=True)
    sf = os.path.join(work, "sf")
    es = generate_events(EVENTS, seed)
    write_events(es.events, os.path.join(sf, "events.parquet"), utc=False)
    write_corpus(sf, seed, DOCS, VECTORS)
    return sf


def _oracle_results(pool, sf: str, sql: dict[str, str]) -> dict:
    """Futures of every query's DuckDB result, computed in order on the
    one worker thread of ``pool`` while Spark runs the warm pass."""
    import duckdb
    con = duckdb.connect(config={"threads": 1})
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf, t)}.parquet'")
    futs = {n: pool.submit(lambda q=sql[n]: con.execute(q).fetchdf())
            for n in QUERIES}
    pool.submit(con.close)
    return futs


def run(ctx) -> dict:
    import __spark_entry__ as entry
    from oracle_check import compare

    spark, tr, sf = ctx.spark, ctx.tracer, ctx.inputs
    qs = entry.queries()
    oracles = entry.oracle_sql()
    rng = np.random.default_rng([ctx.seed, 3])
    traced = tr.enabled

    # ---- warm pass: untimed, checks every result against DuckDB -------
    tr.enabled = False
    t_warm = time.perf_counter()
    mismatches, failed, notes = 0, 0, []
    warm = {}
    with ThreadPoolExecutor(1) as pool:
        futs = _oracle_results(pool, sf, oracles)
        for name in QUERIES:
            try:
                t0 = time.perf_counter()
                df = qs[name](spark, sf)
                t1 = time.perf_counter()
                oracle = futs[name].result()
                t2 = time.perf_counter()
                problems = compare(name, df, oracle)
                warm[name] = (round(t1 - t0, 3), round(t2 - t1, 3),
                              round(time.perf_counter() - t2, 3))
            except Exception as exc:  # noqa: BLE001 — counted, never dropped
                failed += 1
                notes.append(f"{name}: {type(exc).__name__}: "
                             f"{str(exc).splitlines()[0][:200]}")
                continue
            if problems:
                mismatches += 1
                notes.append(f"{name}: {problems}")

    warm_s = time.perf_counter() - t_warm

    # ---- timed passes -------------------------------------------------
    # whole passes only, and none that would end past ``seconds``
    def one(name: str, span: bool) -> tuple[float, float]:
        tr.enabled = span
        t0 = time.perf_counter()
        with tr.span("query_build"):
            df = qs[name](spark, sf)
        t1 = time.perf_counter()
        with tr.span("query_exec"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    names, lat, build, execs, plain = [], [], [], [], []
    passes, attempted = 0, len(QUERIES)
    t_start = time.perf_counter()
    while passes == 0 or (time.perf_counter() - t_start) * (passes + 1) \
            / passes <= ctx.seconds:
        order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        for name in order:
            attempted += 1
            try:
                if traced:
                    # each query runs traced and untraced, alternating
                    # which goes first, so the warmth the first run
                    # leaves behind cancels out
                    if attempted % 2:
                        b, e = one(name, True)
                        plain.append(sum(one(name, False)))
                    else:
                        plain.append(sum(one(name, False)))
                        b, e = one(name, True)
                else:
                    b, e = one(name, False)
            except Exception as exc:  # noqa: BLE001
                failed += 1
                notes.append(f"{name}: {type(exc).__name__}")
                continue
            names.append(name)
            lat.append(b + e)
            build.append(b)
            execs.append(e)
        passes += 1
    wall = time.perf_counter() - t_start
    tr.enabled = traced

    lm: dict[str, float] = {}
    if traced:
        st = spark.sparkContext.statusTracker()
        per = {n: sum(len(st.getJobIdsForGroup(s.group))
                      for s in tr.spans if s.name == n)
               for n in ("query_build", "query_exec")}
        lm.update({
            "query.build_s": median(build),
            "query.exec_s": median(execs),
            "query.inbuild_jobs": per["query_build"] / passes,
            "query.jobs": per["query_exec"] / passes,
            "trace.traced_p50_s": median(lat),
            "trace.untraced_p50_s": median(plain),
        })
    return {
        "attempted": attempted,
        "failed": failed,
        "latency_p50_s": median(lat),
        "latency_tail_s": tail(lat),
        "throughput_per_s": len(lat) / wall,
        "mismatches": mismatches,
        "notes": notes,
        "layers": lm,
        "detail": {"passes": passes, "queries": len(QUERIES),
                   "warm_check_s": warm_s,
                   "warm_build_wait_compare_s": warm,
                   "pass_s": wall / passes,
                   "build_p50_s": median(build),
                   "exec_p50_s": median(execs),
                   "latency_s": list(zip(names, lat))},
    }
