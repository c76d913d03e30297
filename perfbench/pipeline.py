"""The ``pipeline`` workload: backfill, ticks, gold day.

1. Backfill (timed): every day but the last lands as one source file and
   is drained by one ``availableNow`` bronze run, then one full
   ``run_silver``.
2. Ticks (timed, closed loop): slices of the last day land one after
   another, each after the previous tick committed. A tick is one bronze
   run plus one incremental ``run_silver``; its latency is the freshness
   of that slice (landing to sessions committed in silver). The first
   ``WARMUP_TICKS`` ticks pay most of the warm-up of the incremental
   path and run slowest, so the reported freshness covers the ticks
   after them; every tick is kept in the run record.
3. Gold day (timed): ``run_daily_features(for_date=<last day>)``.
4. Check (untimed): bronze holds every delivered row; silver equals one
   full ``run_silver`` over every delivered event; each gold table's
   last-day partition equals one full gold run over that batch silver.

Throughput is every delivered event over the wall time of all timed
calls. There is no gold run in the backfill: the check needs a full gold
run after the ticks, and a third gold run per run does not fit the run
budget. Every layer uses the product's default table format.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import time

import pyarrow.parquet as pq

from gen import EventSpec, generate_events, write_events
from spans import median, tail

SPEC = EventSpec()
MIN_TICKS = 5
WARMUP_TICKS = 2
GOLD_TABLES = ("user_daily", "item_daily", "top_item_per_day",
               "entry_type_daily", "cohort_vs_global")


def _day(spec: EventSpec, i: int) -> str:
    return (dt.date.fromisoformat(spec.start)
            + dt.timedelta(days=i)).isoformat()


def _files(path: str) -> set[str]:
    """Paths of the parquet data files under ``path``."""
    return {os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files if f.endswith(".parquet") and not f.startswith(".")}


def _rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def prepare(work: str, seed: int):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    es = generate_events(SPEC, seed)
    write_events(es.backfill, os.path.join(work, "src", "backfill.parquet"))
    return es


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from w_userflow_featurestore_spark import incremental, runner
    from w_userflow_featurestore_spark.runner import (
        run_daily_features, run_silver,
    )
    from w_userflow_featurestore_spark.schemas import EVENTS_SCHEMA
    from w_userflow_featurestore_spark.streaming import bronze_ingest

    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    es = ctx.inputs
    p = {k: os.path.join(work, k) for k in (
        "src", "stage", "bronze", "ckpt", "silver", "gold",
        "silver_ref", "gold_ref")}
    ledger = os.path.join(work, "ledger.json")
    ledger_ref = os.path.join(work, "ledger_ref.json")
    now = _day(SPEC, SPEC.days) + " 00:00:00"
    last_day = _day(SPEC, SPEC.days - 1)
    traced = tr.enabled
    lm: dict[str, float] = {}           # per-layer metrics

    def bronze(span: str):
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(p["src"])
        q = bronze_ingest(stream, p["bronze"], p["ckpt"], available_now=True)
        q.awaitTermination()
        # micro-batch jobs run under the query's run id, not our group
        tr.adopt_group(str(q.runId), span)
        return q

    # ---- backfill -----------------------------------------------------
    with tr.span("backfill") as sp:
        with tr.span("backfill.bronze"):
            bronze("backfill")
        with tr.span("backfill.silver"):
            run_silver(spark, p["bronze"], p["silver"], ledger, now)
    backfill_s = sp.seconds
    for layer in ("bronze", "silver"):
        lm[f"backfill.{layer}_s"] = sum(tr.seconds(f"backfill.{layer}"))

    # ---- ticks --------------------------------------------------------
    # In a traced run odd ticks after the warm-up are traced and even
    # ones are not; the traced median against the untraced one is the
    # tracing overhead.
    listed: list[int] = []
    orig_list = incremental._list_data_files

    def counting_list(path):
        out = orig_list(path)
        listed.append(len(out))
        return out

    fresh, fresh_traced, fresh_plain = [], [], []
    tick = {k: [] for k in ("bronze_s", "batches", "rows", "batch_s",
                            "files", "plan_s", "listed", "lookback_s",
                            "lookback_rows", "amp", "build_s", "mat_s",
                            "merge_s", "parts", "rows_rw", "wamp")}
    patches = [
        (runner, "_extend_with_open_tails", "silver.lookback"),
        (runner, "sessionize", "silver.build"),
        (runner, "merge_upsert", "silver.merge"),
        (incremental.IncrementalPlanner, "plan_read",
         "incremental.plan_read"),
        (runner, "completeness_gate", "gold.gate"),
        (runner, "overwrite_partitions", "gold.write"),
    ]
    with contextlib.ExitStack() as stack:
        for mod, attr, name in patches:
            stack.enter_context(tr.patched(mod, attr, name))
        if traced:
            incremental._list_data_files = counting_list
            stack.callback(setattr, incremental, "_list_data_files",
                           orig_list)
        # a traced run adds two ticks, so that more than one is traced
        min_ticks = MIN_TICKS + (2 if traced else 0)
        t_ticks = time.perf_counter()
        for i, sl in enumerate(es.slices):
            # at least min_ticks, and no tick that would end past seconds
            if (i >= min_ticks and (time.perf_counter() - t_ticks)
                    * (i + 1) / i > ctx.seconds):
                break
            tr.enabled = traced and i % 2 == 1 and i >= WARMUP_TICKS
            staged = os.path.join(p["stage"], f"tick{i:03d}.parquet")
            write_events(sl, staged)
            before_b = _files(p["bronze"])
            before_s = _files(p["silver"]) if tr.enabled else set()
            n_listed = len(listed)
            os.replace(staged, os.path.join(p["src"], f"tick{i:03d}.parquet"))
            t0 = time.perf_counter()
            with tr.span("tick"):
                with tr.span("bronze"):
                    q = bronze("bronze")
                with tr.span("silver"):
                    r = run_silver(spark, p["bronze"], p["silver"], ledger,
                                   now)
            dt_s = time.perf_counter() - t0
            fresh.append(dt_s)
            if not tr.enabled:
                if i >= WARMUP_TICKS:
                    fresh_plain.append(dt_s)
                continue
            fresh_traced.append(dt_s)
            prog = q.recentProgress
            new_b = _files(p["bronze"]) - before_b
            landed = sum(x["numInputRows"] for x in prog)
            tick["bronze_s"].append(tr.seconds("bronze")[-1])
            tick["batches"].append(len(prog))
            tick["rows"].append(landed)
            tick["batch_s"].extend(x["durationMs"].get("triggerExecution", 0)
                                   / 1000.0 for x in prog)
            tick["files"].append(len(new_b))
            tick["plan_s"].append(tr.seconds("incremental.plan_read")[-1])
            tick["listed"].append(sum(listed[n_listed:]))
            tick["lookback_s"].append(tr.seconds("silver.lookback")[-1])
            tick["lookback_rows"].append(max(0, r.input_rows - landed))
            tick["amp"].append(r.input_rows / max(1, landed))
            tick["build_s"].append(tr.seconds("silver.build")[-1])
            tick["mat_s"].append(tr.self_seconds("silver")[-1])
            tick["merge_s"].append(tr.seconds("silver.merge")[-1])
            new_s = _files(p["silver"]) - before_s
            rows_rw = _rows(new_s)
            tick["parts"].append(len({os.path.dirname(f) for f in new_s}))
            tick["rows_rw"].append(rows_rw)
            tick["wamp"].append(rows_rw / max(1, r.sessions_upserted))

        # ---- gold day -------------------------------------------------
        tr.enabled = traced
        with tr.span("gold") as sp:
            written = run_daily_features(
                spark, p["silver"], spark.read.parquet(p["bronze"]),
                p["gold"], for_date=last_day)
        gold_day_s = sp.seconds

    if traced:
        parts: dict[str, int] = {}
        for f in _files(p["silver"]):
            d = os.path.dirname(f)
            parts[d] = parts.get(d, 0) + 1
        lm.update({
            "bronze.call_s": median(tick["bronze_s"]),
            "bronze.batches": median(tick["batches"]),
            "bronze.rows": median(tick["rows"]),
            "bronze.batch_p50_s": median(tick["batch_s"]),
            "bronze.files_written": median(tick["files"]),
            "incremental.plan_read_s": median(tick["plan_s"]),
            "incremental.files_listed": median(tick["listed"]),
            "silver.lookback_s": median(tick["lookback_s"]),
            "silver.lookback_rows": median(tick["lookback_rows"]),
            "silver.read_amplification": median(tick["amp"]),
            "silver.build_s": median(tick["build_s"]),
            "silver.materialize_s": median(tick["mat_s"]),
            "silver.merge_s": median(tick["merge_s"]),
            "merge.partitions_rewritten": median(tick["parts"]),
            "merge.rows_rewritten": median(tick["rows_rw"]),
            "merge.write_amplification": median(tick["wamp"]),
            "silver.files_per_partition": (sum(parts.values())
                                           / max(1, len(parts))),
            "gold.day_s": gold_day_s,
            "gold.gate_s": sum(tr.seconds("gold.gate")),
            "gold.build_s": tr.self_seconds("gold")[-1],
            "gold.write_s": sum(tr.seconds("gold.write")),
            "gold.rows_written": sum(written.values()),
            "trace.traced_p50_s": median(fresh_traced),
            "trace.untraced_p50_s": median(fresh_plain),
        })

    # ---- correctness (untimed, untraced) ------------------------------
    tr.enabled = False
    t_check = time.perf_counter()
    mismatches = 0
    notes = []
    delivered = es.props["backfill_rows"] + sum(
        len(s) for s in es.slices[:len(fresh)])
    n_bronze = spark.read.parquet(p["bronze"]).count()
    if n_bronze != delivered:
        mismatches += abs(n_bronze - delivered)
        notes.append(f"bronze rows {n_bronze} != delivered {delivered}")

    def diff(a, b) -> int:
        """Rows in one multiset and not the other, in one action."""
        return a.exceptAll(b).unionAll(b.exceptAll(a)).count()

    run_silver(spark, p["bronze"], p["silver_ref"], ledger_ref, now)
    d = diff(spark.read.parquet(p["silver"]),
             spark.read.parquet(p["silver_ref"]))
    if d:
        notes.append(f"silver: {d} rows differ from the batch recompute")
    mismatches += d
    run_daily_features(spark, p["silver_ref"],
                       spark.read.parquet(p["bronze"]), p["gold_ref"])
    day = F.col("datetime") == F.lit(last_day).cast("date")
    for t in GOLD_TABLES:
        got = spark.read.parquet(f"{p['gold']}/{t}").where(day)
        ref = spark.read.parquet(f"{p['gold_ref']}/{t}").where(day)
        d = diff(got, ref) + int(written[t] == 0)
        if d:
            notes.append(f"gold {t}: {d} rows differ "
                         f"({written[t]} written for {last_day})")
        mismatches += d

    return {
        "attempted": len(fresh) + 2,
        "latency_p50_s": median(fresh[WARMUP_TICKS:]),
        "latency_tail_s": tail(fresh[WARMUP_TICKS:]),
        "throughput_per_s": delivered / (backfill_s + sum(fresh)
                                         + gold_day_s),
        "mismatches": mismatches,
        "notes": notes,
        "layers": lm,
        "detail": {
            "backfill_s": backfill_s,
            "backfill_events": es.props["backfill_rows"],
            "delivered_events": delivered,
            "ticks": len(fresh),
            "freshness_s": fresh,
            "gold_day_s": gold_day_s,
            "gold_rows_written": written,
            "check_s": time.perf_counter() - t_check,
        },
    }
