"""Point-in-time AS-OF join edge cases (operators/asof.py)."""

from __future__ import annotations

import datetime as dt

import pytest

from tests.conftest import rows
from w_userflow_featurestore_spark.operators.asof import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _frames(spark):
    left = spark.createDataFrame([
        (1, 10, _ts("2024-01-01 10:00:00")),   # before any right row
        (2, 10, _ts("2024-01-01 11:00:00")),   # equal ts to a right row
        (3, 10, _ts("2024-01-01 12:30:00")),   # between right rows
        (4, 20, _ts("2024-01-01 10:00:00")),   # key with no right rows
    ], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame([
        (10, _ts("2024-01-01 11:00:00"), 1.0),
        (10, _ts("2024-01-01 12:00:00"), 2.0),
        (10, _ts("2024-01-01 13:00:00"), 3.0),
    ], "user_id long, ts timestamp, value double")
    return left, right


def test_asof_backward_includes_equal_ts(spark):
    left, right = _frames(spark)
    out = rows(asof_join(left, right, on=["user_id"]),
               "event_id", "value_r")
    assert out == [(1, None),    # no prior right row -> NULL
                   (2, 1.0),     # equal ts included (backward)
                   (3, 2.0),     # latest at-or-before 12:30
                   (4, None)]    # key never appears on the right


def test_asof_strict_excludes_equal_ts(spark):
    left, right = _frames(spark)
    out = rows(asof_join(left, right, on=["user_id"], strict=True),
               "event_id", "value_r")
    assert out == [(1, None), (2, None), (3, 2.0), (4, None)]


def test_asof_single_shuffle_no_pair_blowup(spark):
    left, right = _frames(spark)
    p = (asof_join(left, right, on=["user_id"])
         ._jdf.queryExecution().executedPlan().toString())
    # union + keyed window: exactly one hash exchange, no join operator
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_interval_join_bounds_inclusive_and_bucket_boundary(spark):
    from w_userflow_featurestore_spark.operators.asof import interval_join

    left = spark.createDataFrame([
        (1, 10, _ts("2024-01-01 10:00:00")),
    ], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame([
        (10, _ts("2024-01-01 09:59:59"), "before"),
        (10, _ts("2024-01-01 10:00:00"), "lower-edge"),   # inclusive
        (10, _ts("2024-01-01 10:04:00"), "inside"),       # same bucket
        (10, _ts("2024-01-01 10:09:30"), "next-bucket"),  # crosses W edge
        (10, _ts("2024-01-01 10:10:00"), "upper-edge"),   # inclusive
        (10, _ts("2024-01-01 10:10:01"), "after"),
        (20, _ts("2024-01-01 10:01:00"), "other-key"),
    ], "user_id long, ts timestamp, tag string")
    got = rows(interval_join(left, right, on=["user_id"],
                             upper_ms=600_000), "tag_r")
    assert got == [("inside",), ("lower-edge",), ("next-bucket",),
                   ("upper-edge",)]


def test_interval_join_no_duplicate_pairs(spark):
    from w_userflow_featurestore_spark.operators.asof import interval_join

    # every right row within range of every left row: result must be the
    # exact cartesian of in-range pairs, each exactly once
    left = spark.createDataFrame(
        [(i, 1, _ts(f"2024-01-01 10:00:{i:02d}")) for i in range(5)],
        "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(1, _ts(f"2024-01-01 10:00:{i:02d}"), float(i)) for i in range(5)],
        "user_id long, ts timestamp, v double")
    out = interval_join(left, right, on=["user_id"], upper_ms=60_000)
    pairs = rows(out, "event_id", "v_r")
    assert len(pairs) == len(set(pairs))
    # backward-looking rows excluded: right ts >= left ts only
    assert all(v >= e for e, v in pairs)
    assert len(pairs) == 5 + 4 + 3 + 2 + 1


def test_asof_join_rejects_a_right_ts_join_key(spark):
    left, right = _frames(spark)
    with pytest.raises(ValueError, match="right_ts"):
        asof_join(left, right, on=["user_id", "ts"])


@pytest.mark.parametrize("lower_ms,upper_ms", [(0, 0), (600_000, 0)])
def test_interval_join_rejects_an_empty_interval(spark, lower_ms, upper_ms):
    from w_userflow_featurestore_spark.operators.asof import interval_join
    left, right = _frames(spark)
    with pytest.raises(ValueError, match="empty interval"):
        interval_join(left, right, on=["user_id"], lower_ms=lower_ms,
                      upper_ms=upper_ms)


def test_training_set_point_in_time_no_leakage(spark):
    from w_userflow_featurestore_spark.operators.asof import (
        build_training_set,
    )
    spine = spark.createDataFrame([
        (1, 10, _ts("2024-01-01 12:00:00")),
        (2, 20, _ts("2024-01-01 09:00:00")),   # before ANY feature row
    ], "event_id long, user_id long, ts timestamp")
    views = spark.createDataFrame([
        (10, _ts("2024-01-01 11:00:00"), 1.0),
        (10, _ts("2024-01-01 12:30:00"), 9.0),   # AFTER label: must not leak
        (20, _ts("2024-01-01 10:00:00"), 5.0),   # after 09:00 label: NULL
    ], "user_id long, ts timestamp, value double")
    clicks = spark.createDataFrame(
        [(10, _ts("2024-01-01 11:59:00"), 2.0)],
        "user_id long, ts timestamp, value double")
    out = build_training_set(spine, {"v": views, "c": clicks},
                             on=["user_id"])
    got = {r.event_id: (r.value_v, r.value_c) for r in out.collect()}
    assert got[1] == (1.0, 2.0)        # latest state AT label time only
    assert got[2] == (None, None)      # nothing current yet -> NULL
    # every joined feature timestamp <= its label timestamp (no leakage)
    leaks = out.where("ts_v > ts OR ts_c > ts").count()
    assert leaks == 0
