"""Unit tests for operators/temporal.py::asof_join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgis_gtfs_importer_spark.operators.temporal import asof_join


def _run(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, "k string, ts long, ev string")
    right = spark.createDataFrame(right_rows, "k string, ts long, v double")
    return {
        (r.k, r.ts): (r.v, r.asof_ts)
        for r in asof_join(
            left, right, on=["k"], ts_col="ts", value_cols=["v"]
        ).collect()
    }


def test_asof_backward_match_ties_and_misses(spark):
    out = _run(
        spark,
        left_rows=[
            ("a", 5, "x"),   # after r@3 -> 30.0
            ("a", 3, "y"),   # tie with r@3 -> matches (>=)
            ("a", 1, "z"),   # before any right -> NULL
            ("b", 9, "w"),   # key with no right rows at all -> NULL
        ],
        right_rows=[("a", 3, 30.0), ("a", 6, 60.0), ("c", 1, 10.0)],
    )
    assert out[("a", 5)] == (30.0, 3)
    assert out[("a", 3)] == (30.0, 3)
    assert out[("a", 1)] == (None, None)
    assert out[("b", 9)] == (None, None)


def test_asof_latest_wins_not_first(spark):
    out = _run(
        spark,
        left_rows=[("a", 100, "x")],
        right_rows=[("a", 1, 1.0), ("a", 50, 2.0), ("a", 99, 3.0)],
    )
    assert out[("a", 100)] == (3.0, 99)


def test_asof_join_is_single_shuffle(spark):
    left = spark.createDataFrame([("a", 5, "x")], "k string, ts long, ev string")
    right = spark.createDataFrame([("a", 3, 1.0)], "k string, ts long, v double")
    plan = (
        asof_join(left, right, on=["k"], ts_col="ts", value_cols=["v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_exchanges = sum(
        1 for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )
    assert n_exchanges == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_join_bucketed_containment_exact(spark):
    from postgis_gtfs_importer_spark.operators.temporal import range_join_bucketed

    pts = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "pid long, ts long"
    )
    iv = spark.createDataFrame(
        [(100, 15, 45), (101, 40, 41), (102, 500, 600), (103, 0, 200)],
        "iid long, lo long, hi long",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join_bucketed(
            pts, iv, point_col="ts", lo_col="lo", hi_col="hi", bucket_width=32
        ).collect()
    }
    expected = {
        (p, i)
        for p in range(20)
        for i, (lo, hi) in [(100, (15, 45)), (101, (40, 41)), (102, (500, 600)), (103, (0, 200))]
        if lo <= p * 10 < hi
    }
    assert got == expected
    # [lo, hi) boundary spot-checks: ts=40 is inside [40,41) (lo inclusive),
    # ts=0 inside [0,200); no point ever matches at ts == hi (exclusive)
    assert (4, 101) in got and (0, 103) in got


def test_range_join_no_nested_loop(spark):
    from postgis_gtfs_importer_spark.operators.temporal import range_join_bucketed

    pts = spark.createDataFrame([(1, 10)], "pid long, ts long")
    iv = spark.createDataFrame([(2, 5, 15)], "iid long, lo long, hi long")
    plan = (
        range_join_bucketed(pts, iv, "ts", "lo", "hi", bucket_width=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_matches_naive_reference_on_random_inputs(spark):
    """Property check vs an independent O(n*m) Python reference."""
    import random

    rng = random.Random(1234)
    for trial in range(3):
        keys = ["a", "b", "c"]
        left_rows = [
            (rng.choice(keys), rng.randrange(0, 50), f"l{i}")
            for i in range(40)
        ]
        right_rows = list({
            (rng.choice(keys), rng.randrange(0, 50)): i for i in range(25)
        }.items())
        right_rows = [(k, ts, float(v)) for (k, ts), v in right_rows]

        left = spark.createDataFrame(left_rows, "k string, ts long, tag string")
        right = spark.createDataFrame(right_rows, "k string, ts long, v double")
        got = {
            (r.k, r.ts, r.tag): (r.v, r.asof_ts)
            for r in asof_join(
                left, right, on=["k"], ts_col="ts", value_cols=["v"]
            ).collect()
        }

        for k, ts, tag in left_rows:
            cands = [(rts, v) for (rk, rts, v) in right_rows if rk == k and rts <= ts]
            want = (None, None)
            if cands:
                best = max(cands)
                want = (best[1], best[0])
            assert got[(k, ts, tag)] == want, (trial, k, ts, got[(k, ts, tag)], want)


def test_locf_resample_fills_gaps_and_carries_last(spark):
    from postgis_gtfs_importer_spark.operators.temporal import locf_resample

    # user 1: events in hours 10, 13 (two in 13 — latest wins), gap 11-12
    rows = [
        (1, "2024-01-01 10:15:00", 100, 5.0),
        (1, "2024-01-01 13:05:00", 101, 7.0),
        (1, "2024-01-01 13:45:00", 102, 9.0),
        (2, "2024-01-01 00:30:00", 103, 1.0),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts_s", "event_id", "value"]
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = {
        (r["user_id"], r["step"]): (r["value"], r["is_observed"])
        for r in locf_resample(
            df, "user_id", "ts", "value", "event_id", step_sec=3600
        ).collect()
    }
    base = 473362  # 2024-01-01 10:00 UTC in hours since epoch
    assert out[(1, base)] == (5.0, True)
    assert out[(1, base + 1)] == (5.0, False)   # gap: carried
    assert out[(1, base + 2)] == (5.0, False)   # gap: carried
    assert out[(1, base + 3)] == (9.0, True)    # latest of the two wins
    assert len([k for k in out if k[0] == 1]) == 4  # exact span, no pad
    assert len([k for k in out if k[0] == 2]) == 1  # singleton span


# ---------------------------------------------------------------------------
# asof_join_forward
# ---------------------------------------------------------------------------


def _run_fwd(spark, left_rows, right_rows):
    from postgis_gtfs_importer_spark.operators.temporal import asof_join_forward

    left = spark.createDataFrame(left_rows, "k string, ts long, ev string")
    right = spark.createDataFrame(right_rows, "k string, ts long, v double")
    return {
        (r.k, r.ts): (r.v, r.asof_ts)
        for r in asof_join_forward(
            left, right, on=["k"], ts_col="ts", value_cols=["v"]
        ).collect()
    }


def test_asof_forward_match_ties_and_misses(spark):
    out = _run_fwd(
        spark,
        left_rows=[
            ("a", 5, "x"),   # next right at 6 -> 60.0
            ("a", 3, "y"),   # tie with r@3 -> matches (<=)
            ("a", 7, "z"),   # after the last right -> NULL
            ("b", 9, "w"),   # key with no right rows -> NULL
        ],
        right_rows=[("a", 3, 30.0), ("a", 6, 60.0), ("c", 1, 10.0)],
    )
    assert out[("a", 5)] == (60.0, 6)
    assert out[("a", 3)] == (30.0, 3)
    assert out[("a", 7)] == (None, None)
    assert out[("b", 9)] == (None, None)


def test_asof_forward_earliest_wins_not_latest(spark):
    out = _run_fwd(
        spark,
        left_rows=[("a", 1, "x")],
        right_rows=[("a", 2, 1.0), ("a", 50, 2.0), ("a", 99, 3.0)],
    )
    assert out[("a", 1)] == (1.0, 2)


def test_asof_forward_single_shuffle(spark):
    from postgis_gtfs_importer_spark.operators.temporal import asof_join_forward

    left = spark.createDataFrame([("a", 5, "x")], "k string, ts long, ev string")
    right = spark.createDataFrame([("a", 6, 1.0)], "k string, ts long, v double")
    plan = (
        asof_join_forward(left, right, on=["k"], ts_col="ts", value_cols=["v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_exchanges = sum(
        1 for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )
    assert n_exchanges == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_asof_forward_matches_naive_reference_on_random_inputs(spark):
    import random

    random.seed(21)
    keys = ["a", "b", "c"]
    left_rows = [
        (random.choice(keys), random.randrange(100), f"e{i}")
        for i in range(120)
    ]
    right_rows = list(
        {
            (random.choice(keys), random.randrange(100)): None
            for _ in range(60)
        }
    )
    right_rows = [(k, t, float(t * 10)) for k, t in right_rows]
    got = _run_fwd(spark, left_rows, right_rows)
    by_key: dict = {}
    for k, t, v in right_rows:
        by_key.setdefault(k, []).append((t, v))
    for k, t, _ in left_rows:
        cands = sorted(x for x in by_key.get(k, []) if x[0] >= t)
        want = (cands[0][1], cands[0][0]) if cands else (None, None)
        assert got[(k, t)] == want, (k, t)


def test_asof_reserved_and_dotted_value_cols_rejected(spark):
    from postgis_gtfs_importer_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
    )

    left = spark.createDataFrame([("k", 10)], "k string, ts long")
    right = spark.createDataFrame([("k", 5, 1.0)], "k string, ts long, v double")

    for fn in (asof_join, asof_join_forward):
        with pytest.raises(ValueError, match="_r_ts"):
            fn(left, right.withColumnRenamed("v", "_r_ts"),
               ["k"], "ts", ["_r_ts"])
        with pytest.raises(ValueError, match="dots"):
            fn(left, right.select("k", "ts", F.col("v").alias("a.b")),
               ["k"], "ts", ["a.b"])
        with pytest.raises(ValueError, match="reserved"):
            fn(left.withColumn("_side", F.lit(1)), right, ["k"], "ts", ["v"])
        with pytest.raises(ValueError, match="reserved"):
            fn(left, right.withColumn("_pack", F.lit(1)), ["k"], "ts", ["v"])
        # the valid shape still works
        assert fn(left, right, ["k"], "ts", ["v"]).count() == 1


def test_locf_first_step_null_observation(spark):
    """A key whose min-ts observation carries a NULL value starts its
    grid with (NULL, is_observed=false) — nothing earlier to carry."""
    from postgis_gtfs_importer_spark.operators.temporal import locf_resample

    rows = [
        ("k", "2024-01-01 00:00:00", None, 1),  # earliest: NULL value
        ("k", "2024-01-01 02:00:00", 30, 2),
    ]
    df = spark.createDataFrame(
        rows, "key string, s string, v int, id int"
    ).select("key", F.col("s").cast("timestamp").alias("ts"), "v", "id")
    got = {
        r["step"]: (r["value"], r["is_observed"])
        for r in locf_resample(df, "key", "ts", "v", "id").collect()
    }
    steps = sorted(got)
    assert len(steps) == 3
    assert got[steps[0]] == (None, False)
    assert got[steps[1]] == (None, False)
    assert got[steps[2]] == (30, True)
