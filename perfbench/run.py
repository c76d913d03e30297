"""Feature-store benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 12 \
        --trace 0

Run it from the root of a checkout. The library is imported from that
checkout, and Spark runs in-process on ``local[<cores>]`` (default: every
core this process may use). Every file the run writes goes under
``.perfbench_work/`` in the checkout, and the run removes its own files
when it ends, except the run record in ``.perfbench_work/records/``.

The metric names and units come from ``BENCHMARK.json``. With
``--trace 0`` the result carries every end-to-end metric; with
``--trace 1`` it carries every per-layer metric instead (0 for a layer
the workload does not touch). The last stdout line is the result:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

``correct`` is false when any output disagrees with its reference
(``result_mismatches`` in the run record) or any operation failed or was
skipped (``failed_ops_ratio``). The run record on stderr adds the input
properties, the per-op detail and the stamps: seed, cores, code head,
dirty flag, load average at start and end, Spark and Python versions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("pipeline", "queries")
DRIVER_MEM = "2g"


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _code_stamp() -> dict:
    """git head and dirty flag when the checkout is a repository, and
    always a digest of the library and driver sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for root, _d, fs in os.walk(os.path.join(ROOT,
                                             "w_userflow_featurestore_spark")):
        files += [os.path.join(root, f) for f in fs if f.endswith(".py")]
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + fh.read())
    stamp = {"code_sha256": h.hexdigest()[:16], "head": None, "dirty": None}
    try:
        stamp["head"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True, timeout=10).stdout.strip()
        stamp["dirty"] = bool(subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=no"],
            cwd=ROOT, capture_output=True, text=True, check=True,
            timeout=10).stdout.strip())
    except (OSError, subprocess.SubprocessError):
        pass
    return stamp


def _peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _start_spark(work: str, cores: int, trace: bool):
    from w_userflow_featurestore_spark import get_spark
    tmp = os.path.join(work, "tmp")
    conf = {
        # the UI serves the stage metrics a traced run reads back
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "10000",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fully committed, pre-touched heap keeps the resident-memory
        # figure from following the collector's heap resizing; no perf
        # data file, which the JVM would put in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)),
                    help="local[N] cores (default: all usable)")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(
                ROOT, "w_userflow_featurestore_spark"))):
        _log("perfbench: run from the root of a checkout of the library "
             "(no __spark_entry__.py / w_userflow_featurestore_spark here)")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    records = os.path.join(base, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(records, exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        # Spark's Python workers import the library from this checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # spark-submit's short-lived launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    # the checkout's tests/ supplies oracle_check.compare to the queries
    # workload's result check
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    import pipeline
    import queries
    from spans import Tracer
    wl = {"pipeline": pipeline, "queries": queries}[args.workload]

    stamp = {"workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace,
             "cores": args.cores, "nproc": os.cpu_count(),
             "loadavg_start": os.getloadavg(),
             "python": platform.python_version(), **_code_stamp()}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, args.cores, bool(args.trace))
        spark_s = time.perf_counter() - t0
        stamp["spark"] = spark.version
        # set-up is repeated; the median preparation is reported
        preps = []
        for _ in range(3):
            t0 = time.perf_counter()
            inputs = wl.prepare(os.path.join(work, "data"), args.seed)
            preps.append(time.perf_counter() - t0)
        setup_s = spark_s + statistics.median(preps)
        ctx = types.SimpleNamespace(
            spark=spark, tracer=Tracer(spark, bool(args.trace)),
            work=os.path.join(work, "data"), seed=args.seed,
            seconds=args.seconds, inputs=inputs)
        res = wl.run(ctx)
        res.setdefault("failed", 0)
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": _peak_rss_mb(spark),
            "latency_p50_s": res["latency_p50_s"],
            "throughput_per_s": res["throughput_per_s"],
        }
        layers = dict(res["layers"])
        if args.trace:
            spans = [m["name"].rsplit(".", 1)[0] for m in bench["per_layer"]
                     if m["name"].endswith(".task_skew")]
            layers.update(ctx.tracer.spark_metrics(spans))
            tp, up = layers.get("trace.traced_p50_s", 0), \
                layers.get("trace.untraced_p50_s", 0)
            layers["trace.overhead_ratio"] = tp / up if up else 0.0
        chosen = bench["per_layer"] if args.trace else bench["end_to_end"]
        values = {**e2e, **layers}
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in chosen}
        ops = res["attempted"]
        record = {
            **stamp, "loadavg_end": os.getloadavg(),
            "spark_start_s": spark_s, "prepare_s": preps,
            "result_mismatches": res["mismatches"],
            "failed_ops_ratio": res["failed"] / ops,
            "notes": res["notes"], "end_to_end": e2e, "per_layer": layers,
            "latency_tail_s": res["latency_tail_s"],
            "detail": res["detail"],
            "inputs": getattr(inputs, "props", None),
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-c{args.cores}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    _log(json.dumps(record, default=str))
    print(json.dumps({
        "correct": res["mismatches"] == 0 and res["failed"] == 0,
        "attempted": ops, "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
