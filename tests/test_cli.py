"""CLI subcommands: bronze -> silver -> gold end-to-end in one process
(the reference's spark-submit scripts as `python -m` entry points)."""

from __future__ import annotations

import datetime as dt

from w_userflow_featurestore_spark.__main__ import main

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")


def test_cli_bronze_silver_gold_pipeline(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    spark.createDataFrame([
        (1, dt.datetime(2024, 1, 1, 10, 0), 1, "view", 1.0, '{"k": 1}'),
        (2, dt.datetime(2024, 1, 1, 10, 5), 1, "purchase", 60.0, '{"k": 1}'),
        (3, dt.datetime(2024, 1, 1, 11, 0), 2, "error", 5.0, '{"k": 2}'),
    ], EVENTS_DDL).coalesce(1).write.parquet(src)

    bronze, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    assert main(["bronze", "--source", src, "--out", bronze,
                 "--checkpoint", ckpt]) == 0

    silver, ledger = str(tmp_path / "silver"), str(tmp_path / "ledger.json")
    assert main(["silver", "--events", bronze, "--silver", silver,
                 "--ledger", ledger, "--now", "2024-02-01 00:00:00"]) == 0
    assert "sessions_upserted=2" in capsys.readouterr().out

    gold = str(tmp_path / "gold")
    assert main(["gold", "--silver", silver, "--events", bronze,
                 "--out", gold]) == 0
    assert spark.read.parquet(f"{gold}/user_daily").count() == 2


def test_cli_bronze_silver_gold_pipeline_log_compacted(spark, tmp_path,
                                                      capsys):
    """Only bronze names the format. After a compaction leaves the
    replaced files on disk, silver and gold read the LogTable's live
    rows, so gold equals run_daily_features over ``LogTable.read()``
    events; a plain parquet read would count the compacted rows twice."""
    from tests.conftest import rows
    from w_userflow_featurestore_spark.runner import run_daily_features
    from w_userflow_featurestore_spark.sources import LogTable, read_path

    src = str(tmp_path / "src")
    bronze, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    for batch in (
        [(1, dt.datetime(2024, 1, 1, 10, 0), 1, "view", 1.0, '{"k": 1}'),
         (2, dt.datetime(2024, 1, 1, 10, 5), 1, "purchase", 60.0, "{}")],
        [(3, dt.datetime(2024, 1, 1, 11, 0), 2, "error", 5.0, "{}"),
         (4, dt.datetime(2024, 1, 2, 9, 0), 1, "view", 2.0, "{}")],
    ):
        spark.createDataFrame(batch, EVENTS_DDL).coalesce(1) \
            .write.mode("append").parquet(src)
        assert main(["bronze", "--source", src, "--out", bronze,
                     "--checkpoint", ckpt, "--table-format", "log"]) == 0
    events = LogTable(spark, bronze)
    assert len(events.snapshots()) == 2
    events.compact(target_files=1)
    assert events.read().count() == 4

    silver, ledger = str(tmp_path / "silver"), str(tmp_path / "ledger.json")
    assert main(["silver", "--events", bronze, "--silver", silver,
                 "--ledger", ledger, "--now", "2024-02-01 00:00:00"]) == 0
    assert "sessions_upserted=3" in capsys.readouterr().out

    gold, ref = str(tmp_path / "gold"), str(tmp_path / "gold_ref")
    assert main(["gold", "--silver", silver, "--events", bronze,
                 "--out", gold]) == 0
    want = run_daily_features(spark, silver, events.read(), ref)
    for name in want:
        got_t, want_t = read_path(spark, f"{gold}/{name}"), \
            read_path(spark, f"{ref}/{name}")
        cols = sorted(want_t.columns)
        assert rows(got_t, *cols) == rows(want_t, *cols), name
    # silver and gold took bronze's format
    assert all(LogTable.is_log_table(p) for p in
               [silver] + [f"{gold}/{name}" for name in want])


def test_cli_curate_full_then_incremental(spark, tmp_path, capsys):
    from w_userflow_featurestore_spark.__main__ import main

    base = ("spark shuffle partition broadcast join aggregate window "
            "filter project scan codegen stage executor driver task "
            "memory spill hash sort merge stream batch table column") * 3
    other = ("completely unrelated vocabulary about cooking pasta "
             "tomato basil garlic oven recipe kitchen dinner salt "
             "pepper olive oil boil simmer plate serve guest") * 3
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame([(1, base), (2, base)],
                          "doc_id long, text string").write.parquet(corpus)
    out1 = str(tmp_path / "run1")
    assert main(["curate", "--docs", corpus, "--out", out1]) == 0
    surv1 = spark.read.parquet(f"{out1}/survivors")
    assert [r.doc_id for r in surv1.collect()] == [1]   # exact dup dropped
    assert spark.read.parquet(f"{out1}/ledger").columns[:2] == \
        ["doc_id", "content_hash"]

    # incremental: re-submitted dup of the ledger is dropped, novel kept
    batch = str(tmp_path / "batch")
    spark.createDataFrame([(10, base), (11, other)],
                          "doc_id long, text string").write.parquet(batch)
    out2 = str(tmp_path / "run2")
    assert main(["curate", "--docs", batch, "--out", out2,
                 "--ledger", f"{out1}/ledger"]) == 0
    surv2 = spark.read.parquet(f"{out2}/survivors")
    assert [r.doc_id for r in surv2.collect()] == [11]
