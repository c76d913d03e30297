"""CLI: the reference's spark-submit job scripts as subcommands.

The reference ships one script per layer, submitted by Airflow
(bronze_load_raw_data.py / silver_user_session_events.py /
gold_*_metrics.py, wired in airflow/dags/*.py). Equivalent here:

    python -m w_userflow_featurestore_spark bronze \
        --source <events dir> --out <bronze dir> --checkpoint <ckpt> \
        [--table-format parquet|log]
    python -m w_userflow_featurestore_spark silver \
        --events <bronze dir> --silver <silver dir> \
        --ledger <ledger.json> [--now "YYYY-mm-dd HH:MM:SS"]
    python -m w_userflow_featurestore_spark gold \
        --silver <silver dir> --events <bronze dir> --out <gold dir> \
        [--min-rows 1]

Only ``bronze`` takes ``--table-format``: ``silver`` and ``gold`` read
each table's format off the table, and a table they create takes the
format of its input.

``--now`` defaults to wall clock ONLY at the CLI boundary — the library
itself always takes "now" as a parameter (reference quirk P9: a
wall-clock TIMEOUT_EXIT inside the plan makes results untestable).
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys

from w_userflow_featurestore_spark.conf import get_spark
from w_userflow_featurestore_spark.schemas import EVENTS_SCHEMA


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="w_userflow_featurestore_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bronze", help="stream events into the bronze table")
    b.add_argument("--source", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--checkpoint", required=True)
    b.add_argument("--continuous", action="store_true",
                   help="keep running on a 30 s trigger instead of "
                        "draining available data and stopping")
    b.add_argument("--table-format", choices=["parquet", "log"],
                   default="parquet",
                   help="'log' = one atomic LogTable snapshot per "
                        "micro-batch (exactly-once via txn tokens); "
                        "silver and gold take bronze's format")

    s = sub.add_parser("silver", help="sessionize new events into silver")
    s.add_argument("--events", required=True)
    s.add_argument("--silver", required=True)
    s.add_argument("--ledger", required=True)
    s.add_argument("--now", default=None)

    g = sub.add_parser("gold", help="build the daily feature tables")
    g.add_argument("--silver", required=True)
    g.add_argument("--events", required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--min-rows", type=int, default=1)
    g.add_argument("--date", default=None, metavar="YYYY-MM-DD",
                   help="day-scoped run (the reference daily-DAG "
                        "regime): scan history up to this date, "
                        "produce and overwrite only its partition")

    c = sub.add_parser(
        "curate",
        help="curate a document corpus (full, or incremental vs a ledger)")
    c.add_argument("--docs", required=True,
                   help="parquet dir with doc_id/text columns")
    c.add_argument("--out", required=True,
                   help="output dir: survivors/ + ledger/ subdirs")
    c.add_argument("--ledger", default=None,
                   help="existing signature-index ledger dir: curate "
                        "--docs as a NEW batch against it (incremental)")
    c.add_argument("--min-quality", type=float, default=0.5)

    args = ap.parse_args(argv)
    spark = get_spark(app_name=f"featurestore-{args.cmd}")

    if args.cmd == "bronze":
        from w_userflow_featurestore_spark.streaming import bronze_ingest
        stream = (spark.readStream.schema(EVENTS_SCHEMA)
                  .parquet(args.source))
        q = bronze_ingest(stream, args.out, args.checkpoint,
                          available_now=not args.continuous,
                          table_format=args.table_format)
        q.awaitTermination()
        print(f"bronze: ingested into {args.out}")
        return 0

    if args.cmd == "silver":
        from w_userflow_featurestore_spark.runner import run_silver
        now = args.now or dt.datetime.now(dt.timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S")
        r = run_silver(spark, args.events, args.silver, args.ledger, now)
        print(f"silver: mode={r.mode} input_rows={r.input_rows} "
              f"sessions_upserted={r.sessions_upserted}")
        return 0

    if args.cmd == "gold":
        from w_userflow_featurestore_spark.runner import run_daily_features
        from w_userflow_featurestore_spark.sources import read_path
        events = read_path(spark, args.events)
        written = run_daily_features(spark, args.silver, events, args.out,
                                     min_rows_per_day=args.min_rows,
                                     for_date=args.date)
        # rows WRITTEN THIS RUN (observed on the write action), not total
        # table rows — with dynamic partition overwrite, untouched prior
        # partitions remain in the table but are not re-counted here
        for name, n in written.items():
            print(f"gold: {name} rows_written={n}")
        return 0

    if args.cmd == "curate":
        from w_userflow_featurestore_spark.operators.curate import (
            curate_corpus, incremental_curate, signature_index)
        docs = spark.read.parquet(args.docs)
        if args.ledger:
            ledger = spark.read.parquet(args.ledger)
            survivors = incremental_curate(docs, ledger,
                                           min_quality=args.min_quality)
        else:
            survivors = curate_corpus(docs, min_quality=args.min_quality)
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation()
        survivors = survivors.observe(obs, F.count(F.lit(1)).alias("rows"))
        survivors.write.mode("overwrite").parquet(f"{args.out}/survivors")
        # ledger for the NEXT increment: index of this run's survivors
        kept = docs.join(
            spark.read.parquet(f"{args.out}/survivors").select("doc_id"),
            "doc_id", "left_semi")
        signature_index(kept).write.mode("overwrite") \
            .parquet(f"{args.out}/ledger")
        # survivor count observed on the write action — no re-read pass
        print(f"curate: survivors={int(obs.get['rows'])} out={args.out}")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
