"""Source/sink idempotency primitives — reference S5/S9/S10 semantics
(pruned scan, MERGE upsert, dynamic partition overwrite) on plain parquet."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001, rows
from w_userflow_featurestore_spark.sources import (
    merge_upsert, overwrite_partitions, read_table, write_partitioned,
)


def test_read_table_normalizes_nano_timestamps(spark):
    ev = read_table(spark, SF0001, "events")
    assert str(ev.schema["ts"].dataType) == "TimestampType()"
    assert ev.count() > 0


def test_read_table_pushes_filter_and_projection(spark):
    df = read_table(spark, SF0001, "lineitem",
                    where=F.col("l_orderkey") == 1,
                    columns=["l_orderkey", "l_quantity"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]" in plan
    # column pruning: scan reads only the 2 selected columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1]


def test_ts_filter_reaches_parquet_scan(spark):
    df = read_table(spark, SF0001, "lineitem",
                    ts_filter=("l_shipdate", None, "2000-12-01 00:00:00"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the time bound must appear in PushedFilters (row-group pruning);
    # a filter on the converted timestamp column would NOT push
    assert "LessThanOrEqual(l_shipdate" in plan.split("PushedFilters")[1][:200]


def _frame(spark, data):
    return spark.createDataFrame(
        data, "k long, datetime date, v string")


def test_overwrite_partitions_replaces_only_present(spark, tmp_path):
    path = str(tmp_path / "t")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    write_partitioned(_frame(spark, [(1, d1, "a"), (2, d2, "b")]),
                      path, ["datetime"])
    # rewrite ONLY d2; d1 must survive
    overwrite_partitions(_frame(spark, [(3, d2, "c")]), path, ["datetime"])
    got = rows(spark.read.parquet(path), "k", "v")
    assert got == [(1, "a"), (3, "c")]


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    merge_upsert(spark, path, _frame(spark, [(1, d1, "a"), (2, d1, "b")]),
                 keys=["k"], partition_by=["datetime"])
    # matched k=2 -> update; new k=3 -> insert; untouched partition d2 intact
    merge_upsert(spark, path, _frame(spark, [(2, d1, "B"), (3, d2, "c")]),
                 keys=["k"], partition_by=["datetime"])
    got = rows(spark.read.parquet(path), "k", "v")
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    d1 = dt.date(2024, 1, 1)
    batch = _frame(spark, [(1, d1, "a"), (2, d1, "b")])
    merge_upsert(spark, path, batch, keys=["k"], partition_by=["datetime"])
    merge_upsert(spark, path, batch, keys=["k"], partition_by=["datetime"])
    assert rows(spark.read.parquet(path), "k", "v") == [(1, "a"), (2, "b")]


def test_merge_upsert_self_read_with_noncanonical_path(spark, tmp_path):
    """A staged frame derived from the TARGET, merged back under a
    non-canonical spelling of the same path (symlink + trailing slash):
    the plan prints canonicalized file: URIs, so a raw substring match
    would miss the self-read, skip the lineage break, and hit Spark's
    read-before-overwrite failure (or stale reads)."""
    import os

    real = str(tmp_path / "t")
    d1 = dt.date(2024, 1, 1)
    merge_upsert(spark, real, _frame(spark, [(1, d1, "a"), (2, d1, "b")]),
                 keys=["k"], partition_by=["datetime"])
    link = str(tmp_path / "t_link")
    os.symlink(real, link)
    alias = link + "/"                       # symlinked AND trailing slash
    staged = (spark.read.parquet(alias)
              .withColumn("v", F.upper(F.col("v"))))   # reads the target
    merge_upsert(spark, alias, staged, keys=["k"], partition_by=["datetime"])
    assert rows(spark.read.parquet(real), "k", "v") == [(1, "A"), (2, "B")]


def test_merge_upsert_torn_target_raises_and_keeps_every_file(
        spark, tmp_path):
    """A parquet target that exists but cannot be read is not "no table
    yet": merge_upsert raises instead of overwriting the whole table
    with the staged batch, and every file of the target stays."""
    import glob

    path = str(tmp_path / "t")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    write_partitioned(_frame(spark, [(1, d1, "a"), (2, d2, "b")]),
                      path, ["datetime"])
    files = sorted(glob.glob(f"{path}/*/*.parquet"))
    assert len(files) == 2
    with open(files[0], "wb") as fh:
        fh.write(b"torn")
    with pytest.raises(Exception):
        merge_upsert(spark, path, _frame(spark, [(3, d2, "c")]),
                     keys=["k"], partition_by=["datetime"])
    assert sorted(glob.glob(f"{path}/*/*.parquet")) == files


def test_merge_upsert_into_a_target_emptied_by_retire(spark, tmp_path):
    """A retire that empties every partition leaves the target directory
    with no data file: the next merge writes its staged batch as the
    table instead of failing to infer the empty directory's schema."""
    path = str(tmp_path / "t")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    merge_upsert(spark, path, _frame(spark, [(1, d1, "a")]),
                 keys=["k"], partition_by=["datetime"])
    merge_upsert(spark, path, _frame(spark, []), keys=["k"],
                 partition_by=["datetime"],
                 retire=_frame(spark, [(1, d1, "a")]).select("k"))
    merge_upsert(spark, path, _frame(spark, [(2, d2, "b")]),
                 keys=["k"], partition_by=["datetime"])
    assert rows(spark.read.parquet(path), "k", "v") == [(2, "b")]


def test_write_bucketed_join_and_agg_need_no_shuffle(spark, tmp_path):
    from w_userflow_featurestore_spark.sources import write_bucketed

    left = spark.range(0, 1000).withColumn("a", F.col("id") % 7)
    right = spark.range(0, 1000).withColumn("b", F.col("id") % 3)
    write_bucketed(left, "bk_left", ["id"], buckets=4,
                   path=str(tmp_path / "l"))
    write_bucketed(right, "bk_right", ["id"], buckets=4,
                   path=str(tmp_path / "r"))
    try:
        # forbid broadcast so the co-located sort-merge path is what plans
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bk_left").join(spark.table("bk_right"), "id")
        jp = j._jdf.queryExecution().executedPlan().toString()
        # bucket-pruned scans: the shuffle was paid at write time
        assert "Exchange hashpartitioning" not in jp
        assert "SortMergeJoin" in jp
        assert j.count() == 1000

        g = spark.table("bk_left").groupBy("id").agg(F.sum("a").alias("s"))
        gp = g._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in gp
        assert g.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_compact_partitions_merges_small_files(spark, tmp_path):
    import datetime as dt
    from w_userflow_featurestore_spark.sources import compact_partitions

    path = str(tmp_path / "frag")
    # 6 appends -> >=6 files in one day partition, 1 in the other
    for i in range(6):
        spark.createDataFrame(
            [(i, dt.date(2024, 1, 1))], "id long, datetime date") \
            .coalesce(1).write.mode("append") \
            .partitionBy("datetime").parquet(path)
    spark.createDataFrame(
        [(99, dt.date(2024, 1, 2))], "id long, datetime date") \
        .coalesce(1).write.mode("append") \
        .partitionBy("datetime").parquet(path)

    before = {f for f in spark.read.parquet(path).inputFiles()
              if "datetime=2024-01-01" in f}
    assert len(before) >= 6
    n = compact_partitions(spark, path, ["datetime"])
    assert n == 2
    got = spark.read.parquet(path)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4, 5, 99]
    after = {f for f in got.inputFiles() if "datetime=2024-01-01" in f}
    assert len(after) == 1        # tiny partition -> single file


def test_compact_partitions_scoped_sweep(spark, tmp_path):
    import datetime as dt
    from w_userflow_featurestore_spark.sources import compact_partitions

    path = str(tmp_path / "frag2")
    for day in (1, 2):
        for i in range(3):
            spark.createDataFrame(
                [(day * 10 + i, dt.date(2024, 1, day))],
                "id long, datetime date") \
                .coalesce(1).write.mode("append") \
                .partitionBy("datetime").parquet(path)
    n = compact_partitions(spark, path, ["datetime"],
                           partitions=[{"datetime": dt.date(2024, 1, 2)}])
    assert n == 1
    got = spark.read.parquet(path)
    day1 = {f for f in got.inputFiles() if "datetime=2024-01-01" in f}
    day2 = {f for f in got.inputFiles() if "datetime=2024-01-02" in f}
    assert len(day1) == 3 and len(day2) == 1    # only day 2 compacted
    assert got.count() == 6


def test_read_table_normalizes_ntz_timestamps(spark, tmp_path):
    """TIMESTAMP_NTZ fixture encoding (TIMESTAMP_MICROS with
    isAdjustedToUTC=false): read_table must (a) push ts_filter bounds
    down as NTZ literals and (b) normalize the column to TimestampType
    at the SAME instants the nanos-as-BIGINT path yields (session tz is
    UTC, so the NTZ wall time maps 1:1)."""
    import datetime as dtm

    path = str(tmp_path / "ntzdir")
    vals = ["2000-06-01 08:30:00", "2000-12-15 23:59:59"]
    (spark.createDataFrame(
        [(i, dtm.datetime.fromisoformat(v)) for i, v in enumerate(vals)],
        "event_id long, ts timestamp_ntz")
     .write.parquet(f"{path}/events.parquet"))

    ev = read_table(spark, path, "events")
    assert str(ev.schema["ts"].dataType) == "TimestampType()"
    got = sorted(r["ts"] for r in ev.collect())
    assert got == [dtm.datetime.fromisoformat(v) for v in vals]

    flt = read_table(spark, path, "events",
                     ts_filter=("ts", None, "2000-06-30 00:00:00"))
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(ts" in plan.split("PushedFilters")[1][:200]
    assert [r["event_id"] for r in flt.collect()] == [0]


def test_zorder_key_guards_bit_budget(spark):
    import pytest

    from w_userflow_featurestore_spark.sources import zorder_key

    df = spark.range(4).selectExpr(*[f"id as c{i}" for i in range(9)])
    with pytest.raises(ValueError, match="signed long"):
        zorder_key(df, [f"c{i}" for i in range(9)], bits=8)   # 72 bits
    with pytest.raises(ValueError, match="at least one"):
        zorder_key(df, [])


def test_merge_upsert_retires_key_moved_across_partitions(spark, tmp_path):
    """A staged row that MOVES a key into a different partition must
    retire the key's old row even though its partition is absent from
    the staged batch — parity with LogTable.merge, whose file-granular
    victim scan is partition-blind. Before the victim-partition scan
    landed, the old row survived and the merge yielded a duplicate key.
    Any caller whose merge key omits the partition column can move a
    key this way. The runner's silver merge cannot: it keys on
    (session_id, datetime), and a late event that shifts a session's
    start changes the content-derived session id instead, so the old
    session is retired by key (``retire``), not moved."""
    path = str(tmp_path / "t")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    merge_upsert(spark, path, _frame(spark, [(1, d1, "a"), (2, d1, "b")]),
                 keys=["k"], partition_by=["datetime"])
    # k=2 moves d1 -> d2; k=1 (co-located in d1's files) must survive
    merge_upsert(spark, path, _frame(spark, [(2, d2, "B")]),
                 keys=["k"], partition_by=["datetime"])
    got = rows(spark.read.parquet(path), "k", "datetime", "v")
    assert got == [(1, d1, "a"), (2, d2, "B")]


def test_merge_upsert_null_partition_keeps_unmatched_rows(spark, tmp_path):
    """Rows in the NULL partition (__HIVE_DEFAULT_PARTITION__) that do
    NOT match a staged key must survive a merge that writes into that
    partition: the partition semi-join is eqNullSafe, so the NULL
    partition matches itself and its unmatched rows reach `kept` before
    the dynamic overwrite replaces the directory."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, None, "a"), (2, None, "b")], "k long, p string, v string")
    merge_upsert(spark, path, base, keys=["k"], partition_by=["p"])
    staged = spark.createDataFrame(
        [(2, None, "B")], "k long, p string, v string")
    merge_upsert(spark, path, staged, keys=["k"], partition_by=["p"])
    got = rows(spark.read.parquet(path), "k", "v")
    assert got == [(1, "a"), (2, "B")]


@pytest.mark.parametrize("fmt", ["parquet", "log"])
def test_merge_upsert_retire_deletes_unstaged_keys_and_empty_partitions(
        spark, tmp_path, fmt):
    """``retire`` deletes the target rows whose key the staged batch
    does not carry; a retired key that is also staged is updated, and a
    partition left with no rows is gone (parquet: its directory)."""
    import os

    from w_userflow_featurestore_spark.sources import LogTable

    path = str(tmp_path / "t")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    if fmt == "log":
        LogTable.create(spark, path, ["datetime"])
    kw = dict(keys=["k", "datetime"], partition_by=["datetime"])
    merge_upsert(spark, path,
                 _frame(spark, [(1, d1, "a"), (2, d1, "b"), (3, d2, "c")]),
                 **kw)
    merge_upsert(spark, path, _frame(spark, [(2, d1, "B"), (4, d1, "d")]),
                 retire=_frame(spark, [(2, d1, None), (3, d2, None)]),
                 **kw)
    got = (LogTable(spark, path).read() if fmt == "log"
           else spark.read.parquet(path))
    assert rows(got, "k", "datetime", "v") == [
        (1, d1, "a"), (2, d1, "B"), (4, d1, "d")]
    if fmt == "parquet":
        assert not os.path.exists(os.path.join(path, "datetime=2024-01-02"))


def test_compact_partitions_compacts_the_null_partition(spark, tmp_path):
    import datetime as dtm

    from w_userflow_featurestore_spark.sources import compact_partitions

    path = str(tmp_path / "fragnull")
    for i in range(4):
        spark.createDataFrame(
            [(i, None if i % 2 == 0 else dtm.date(2024, 1, 1))],
            "id long, datetime date") \
            .coalesce(1).write.mode("append") \
            .partitionBy("datetime").parquet(path)
    before = {f for f in spark.read.parquet(path).inputFiles()
              if "__HIVE_DEFAULT_PARTITION__" in f}
    assert len(before) == 2
    n = compact_partitions(spark, path, ["datetime"])
    assert n == 2
    got = spark.read.parquet(path)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]
    after = {f for f in got.inputFiles()
             if "__HIVE_DEFAULT_PARTITION__" in f}
    assert len(after) == 1


# ------------------------------------- randomized DML harness
#
# Plain-parquet counterpart of the LogTable mutation harness in
# tests/test_lakehouse.py: seeded random sequences of append / MERGE
# (updates may MOVE keys across partitions) / dynamic partition
# overwrite / compaction against a driver-side model, row-identical
# after every op. This is the fallback write path streaming ingest and
# the runner use when no LogTable exists at the target, so its MERGE
# must present the same end state the transactional format produces.

# Round 13: 4 -> 2 seeded sequences by default (env knob for deep runs)
_PQ_SEQS = int(__import__("os").environ.get("SPARK_GRAFT_PQDML_SEQS", "2"))
_PQ_OPS = 9
_PQ_DDL = "k bigint, p string, v bigint, s string"
# dir-escaping-required values plus the NULL partition; NO empty
# string — Hive dir encoding collapses '' to the default partition on
# read, so round-tripping it is undefined for every parquet engine
_PQ_P_POOL = ["us", "eu:1", "ap p", "jp", None]
_PQ_S_POOL = [None, "", "x", "éé", "a b"]


def test_randomized_parquet_dml_matches_model(spark, tmp_path):
    import random

    from w_userflow_featurestore_spark.sources import compact_partitions

    def canon(rows_):
        return sorted((tuple(r) for r in rows_), key=repr)

    for si in range(_PQ_SEQS):
        rng = random.Random(20260818 + si)
        path = str(tmp_path / f"pq{si}")
        model: dict = {}          # k -> (p, v, s)
        ctr = [0]

        def fresh(n, parts=None):
            out = []
            for _ in range(n):
                k = ctr[0]
                ctr[0] += 1
                out.append({"k": k, "p": rng.choice(parts or _PQ_P_POOL),
                            "v": rng.choice([None, rng.randint(-5, 99)]),
                            "s": rng.choice(_PQ_S_POOL)})
            return out

        def df_of(rows_):
            return spark.createDataFrame(
                [(r["k"], r["p"], r["v"], r["s"]) for r in rows_],
                _PQ_DDL).coalesce(2)

        def absorb(rows_):
            for r in rows_:
                model[r["k"]] = (r["p"], r["v"], r["s"])

        first = fresh(5)
        merge_upsert(spark, path, df_of(first),
                     keys=["k"], partition_by=["p"])
        absorb(first)

        for op_i in range(_PQ_OPS):
            op = rng.choice(["append", "merge", "merge", "overwrite",
                             "compact"])
            if op == "append":
                rows_ = fresh(rng.randint(1, 4))
                write_partitioned(df_of(rows_), path, ["p"], mode="append")
                absorb(rows_)
            elif op == "merge":
                existing = rng.sample(sorted(model),
                                      min(len(model), rng.randint(1, 3)))
                staged = fresh(rng.randint(0, 3))
                for k in existing:   # update; may MOVE partition
                    staged.append(
                        {"k": k, "p": rng.choice(_PQ_P_POOL),
                         "v": rng.choice([None, rng.randint(-5, 99)]),
                         "s": rng.choice(_PQ_S_POOL)})
                if staged:
                    merge_upsert(spark, path, df_of(staged),
                                 keys=["k"], partition_by=["p"])
                    absorb(staged)
            elif op == "overwrite":
                rows_ = fresh(rng.randint(1, 4),
                              parts=rng.sample(_PQ_P_POOL,
                                               rng.randint(1, 2)))
                parts_in = {r["p"] for r in rows_}
                overwrite_partitions(df_of(rows_), path, ["p"])
                for k in [k for k, t in model.items() if t[0] in parts_in]:
                    del model[k]
                absorb(rows_)
            elif op == "compact":
                compact_partitions(spark, path, ["p"])
            got = canon(spark.read.parquet(path)
                        .select("k", "p", "v", "s").collect())
            want = canon([(k, *t) for k, t in model.items()])
            assert got == want, (
                f"parquet DML divergence (seq seed {20260818 + si}, "
                f"op {op_i} = {op}): table ({len(got)}) != model "
                f"({len(want)}); "
                f"extra={[r for r in got if r not in want][:5]!r} "
                f"missing={[r for r in want if r not in got][:5]!r}")


def test_merge_upsert_drops_emptied_victim_partition(spark, tmp_path):
    """When EVERY row of a partition is matched and its keys all move
    elsewhere, the merged output holds zero rows for it — and dynamic
    overwrite cannot express "replace with nothing", so the stale
    directory must be dropped explicitly (found by the randomized DML
    harness below: the moved key's old row survived as a duplicate)."""
    path = str(tmp_path / "t")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    merge_upsert(spark, path, _frame(spark, [(1, d1, "a")]),
                 keys=["k"], partition_by=["datetime"])
    merge_upsert(spark, path, _frame(spark, [(1, d2, "A")]),
                 keys=["k"], partition_by=["datetime"])
    got = rows(spark.read.parquet(path), "k", "datetime", "v")
    assert got == [(1, d2, "A")]


def test_fan_out_estimate_matches_exact_split_count(spark):
    """fan_out's spread decision on the frames it actually sees —
    scan+projection over fixture parquet: a single-split scan spreads
    to all cores."""
    from w_userflow_featurestore_spark.sources.parquet import fan_out
    docs = read_table(spark, SF0001, "documents").select("doc_id", "text")
    spread = fan_out(docs)
    target = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == max(target, 1)


def test_fan_out_falls_back_without_input_files(spark):
    """Frames with no file-backed leaves (createDataFrame, checkpoints)
    are sized by their partition count like any other frame, and fan_out
    still makes the right call."""
    from w_userflow_featurestore_spark.sources.parquet import fan_out
    local = spark.createDataFrame([(i,) for i in range(10)], "x long")
    target = spark.sparkContext.defaultParallelism
    out = fan_out(local)
    if local.rdd.getNumPartitions() >= target:
        assert out is local
    else:
        assert out.rdd.getNumPartitions() == target
    # frame already at/past the target is returned untouched
    wide = local.repartition(target)
    assert fan_out(wide) is wide


def test_fan_out_memo_caches_per_plan(spark):
    """Repeated constructions of the same plan (bench warm-up + timed
    repeats) must hit the memo, not re-plan the frame."""
    from w_userflow_featurestore_spark.conf import session_cache
    from w_userflow_featurestore_spark.sources import parquet as P
    docs = read_table(spark, SF0001, "documents").select("doc_id")
    key = docs.semanticHash()
    memo = session_cache(spark).setdefault(P._FANOUT_PARTS_MEMO, {})
    memo.pop(key, None)
    P.fan_out(read_table(spark, SF0001, "documents").select("doc_id"))
    assert key in memo
    # a second, structurally identical frame reuses the entry
    before = dict(memo)
    P.fan_out(read_table(spark, SF0001, "documents").select("doc_id"))
    assert memo == before


def test_read_table_schema_memo_pins_identical_relation(spark):
    """read_table memoizes the inferred parquet schema per
    (session, path) and pins it via .schema(...) on later calls —
    skipping footer re-inference (~40-80 ms driver time per call, paid
    inside every timed query). The pinned relation must be IDENTICAL
    to the inferred one: same schema (incl. the nanos->timestamp
    normalization), same rows."""
    from w_userflow_featurestore_spark.conf import session_cache
    from w_userflow_featurestore_spark.sources import parquet as P
    key = f"{SF0001}/events.parquet"
    memo = session_cache(spark).setdefault(P._SCHEMA_MEMO, {})
    memo.pop(key, None)
    inferred = read_table(spark, SF0001, "events")
    assert key in memo                     # first call populated the memo
    pinned = read_table(spark, SF0001, "events")
    assert pinned.schema == inferred.schema
    a = rows(inferred, "event_id", "user_id", "ts")
    b = rows(pinned, "event_id", "user_id", "ts")
    assert a == b and a
    # pruned variants still push down through the pinned schema
    pr = read_table(spark, SF0001, "events", columns=["event_id"])
    assert pr.columns == ["event_id"]


def test_read_table_schema_memo_follows_a_rewritten_table(spark, tmp_path):
    """A table rewritten at the same path with a different column type
    (as a randomized test rewrites its instance between examples) must
    be read with its new schema, not the memoized one: the stale INT
    schema fails the scan of a DOUBLE column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2], "bal": [10, 20]}), path)
    assert rows(read_table(spark, str(tmp_path), "t"), "bal") == [
        (10,), (20,)]
    pq.write_table(pa.table({"k": [1, 2], "bal": [1.5, None]}), path)
    got = read_table(spark, str(tmp_path), "t")
    assert str(got.schema["bal"].dataType) == "DoubleType()"
    assert rows(got, "bal") == [(1.5,), (None,)]


def test_driver_applies_exactly_the_session_sql_confs():
    """conf.SESSION_SQL_CONF is the one owner of the runtime SQL confs:
    get_spark's defaults include it unchanged, and the driver's
    _ensure_conf sets exactly those entries, once per session — never
    a sizing default such as spark.sql.shuffle.partitions."""
    import __spark_entry__ as entry_mod
    from w_userflow_featurestore_spark.conf import (
        _DEFAULTS, SESSION_SQL_CONF,
    )

    class _Conf:
        def __init__(self):
            self.sets = []

        def set(self, k, v):
            self.sets.append((k, v))

    class _Session:
        def __init__(self):
            self.conf = _Conf()

    s = _Session()
    entry_mod._ensure_conf(s)
    entry_mod._ensure_conf(s)
    assert dict(s.conf.sets) == SESSION_SQL_CONF
    assert len(s.conf.sets) == len(SESSION_SQL_CONF)
    assert {k: _DEFAULTS[k] for k in SESSION_SQL_CONF} == SESSION_SQL_CONF


def test_session_cache_entries_die_with_their_session(spark):
    """The read_table / fan_out / _ensure_conf memos live in one cache
    keyed weakly on the session object: a new session starts empty, and
    its entries disappear once it is collected — no later session can
    inherit them through a reused id()."""
    import gc
    import weakref

    from pyspark.sql.session import _monkey_patch_RDD

    import __spark_entry__ as entry_mod
    from w_userflow_featurestore_spark.conf import (
        _SESSION_CACHE, session_cache,
    )
    from w_userflow_featurestore_spark.sources import parquet as P

    entry_mod._ensure_conf(spark)
    other = spark.newSession()
    try:
        assert session_cache(other) == {}
        entry_mod._ensure_conf(other)
        df = read_table(other, SF0001, "events")
        P.fan_out(df.select("event_id"))
        assert set(session_cache(other)) == {
            entry_mod._CONF_APPLIED, P._SCHEMA_MEMO, P._FANOUT_PARTS_MEMO}
        assert session_cache(other) is not session_cache(spark)
        ref = weakref.ref(other)
        n_before = len(_SESSION_CACHE)
        del other, df
    finally:
        # SparkSession() re-points RDD.toDF at the newest session; hand
        # it back so only this test's references keep `other` alive
        _monkey_patch_RDD(spark)
    gc.collect()
    assert ref() is None
    assert len(_SESSION_CACHE) == n_before - 1
    assert session_cache(spark)[entry_mod._CONF_APPLIED] is True
