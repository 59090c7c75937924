"""Golden tests for the order-dependent window operators (SURVEY §2.6,
the semantically hard ports) on FIXTURES.md-shaped frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from nba_pipeline_spark.operators.windows import (
    forward_fill,
    lag_delta,
    marker_flag_fill,
    rank_in_group,
    running_count_with_reset,
    running_sum,
)


def rows(df, *cols):
    return [tuple(r) for r in df.select(*cols).orderBy("seq").collect()]


def test_running_count_with_reset_period_semantics(spark):
    # playByplay.py:19-41: first row never increments even when it matches
    data = [("g1", 1, 720), ("g1", 2, 700), ("g1", 3, 720), ("g1", 4, 650),
            ("g2", 5, 720), ("g2", 6, 720)]
    df = spark.createDataFrame(data, ["game_id", "seq", "periodTime"])
    out = running_count_with_reset(
        df, ["game_id"], ["seq"], "periodTime = 720", "period"
    )
    assert rows(out, "seq", "period") == [(1, 1), (2, 1), (3, 2), (4, 2), (5, 1), (6, 2)]


def test_forward_fill_with_default(spark):
    # playByplay.py:43-65: unparseable -> carry; leading nulls -> default 0
    data = [("g1", 1, None), ("g1", 2, 5), ("g1", 3, None), ("g1", 4, 7), ("g2", 5, None)]
    df = spark.createDataFrame(data, ["game_id", "seq", "v"])
    out = forward_fill(df, ["game_id"], ["seq"], "v", "filled", default=0)
    assert rows(out, "seq", "filled") == [(1, 0), (2, 5), (3, 5), (4, 7), (5, 0)]


def test_forward_fill_idempotent(spark):
    data = [("g1", i, v) for i, v in enumerate([None, 3, None, None, 9])]
    df = spark.createDataFrame(data, ["game_id", "seq", "v"])
    once = forward_fill(df, ["game_id"], ["seq"], "v", "f1", default=0)
    twice = forward_fill(once, ["game_id"], ["seq"], "f1", "f2", default=0)
    got = twice.select("seq", "f1", "f2").collect()
    assert all(r["f1"] == r["f2"] for r in got)


def test_marker_flag_fill_isstarter(spark):
    # boxScores.py:61-79: markers flag FOLLOWING rows; first rows default 1
    data = [
        ("g1", "BOS", "Starter One", 1), ("g1", "BOS", "Reserves", 2),
        ("g1", "BOS", "Bench One", 3), ("g1", "BOS", "Team Totals", 4),
        ("g1", "CHI", "Starter Two", 5), ("g1", "CHI", "Reserves", 6),
        ("g1", "CHI", "Bench Two", 7),
    ]
    df = spark.createDataFrame(data, ["game_id", "team", "playerName", "seq"])
    out = marker_flag_fill(
        df, ["game_id", "team"], ["seq"],
        marker_value={"Reserves": 0, "Team Totals": 1},
        marker_col="playerName", out="isStarter", first_default=1,
    )
    assert rows(out, "playerName", "isStarter") == [
        ("Starter One", 1), ("Bench One", 0), ("Starter Two", 1), ("Bench Two", 0)
    ]


def test_rank_lag_running_sum(spark):
    data = [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)]
    df = spark.createDataFrame(data, ["k", "seq", "v"])
    ranked = rank_in_group(df, ["k"], [F.col("v").desc()], "r")
    assert {(r["seq"], r["r"]) for r in ranked.collect()} == {(2, 1), (3, 2), (1, 3), (4, 1)}
    lagged = lag_delta(df, ["k"], ["seq"], F.col("v"), "d")
    assert rows(lagged, "seq", "d") == [(1, None), (2, 20.0), (3, -10.0), (4, None)]
    summed = running_sum(df, ["k"], ["seq"], F.col("v"), "s")
    assert rows(summed, "seq", "s") == [(1, 10.0), (2, 40.0), (3, 60.0), (4, 5.0)]


def test_interpolate_linear_gap_semantics(spark):
    from nba_pipeline_spark.operators.windows import interpolate_linear
    from pyspark.sql import functions as F

    rows = [
        # key, t, v : gap of two NULLs between v=10 (t=0) and v=40 (t=30)
        ("a", 0, 10.0), ("a", 10, None), ("a", 20, None), ("a", 30, 40.0),
        ("a", 40, None),            # trailing NULL: no right anchor
        ("b", 5, None),             # leading NULL: no left anchor
        ("b", 6, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {
        (r["k"], r["t"]): r["vi"]
        for r in interpolate_linear(df, ["k"], "t", F.col("v"), "vi").collect()
    }
    assert got[("a", 10)] == 20.0 and got[("a", 20)] == 30.0  # linear fill
    assert got[("a", 0)] == 10.0 and got[("a", 30)] == 40.0   # anchors kept
    assert got[("a", 40)] is None and got[("b", 5)] is None   # no extrapolation
    assert got[("b", 6)] == 7.0
