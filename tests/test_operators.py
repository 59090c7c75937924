"""Unit tests for operator/function semantics, esp. null edges
(SURVEY §5.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nba_pipeline_spark.functions.scalar import (
    coach_type,
    fix_hornets,
    mmss_to_seconds,
    null_out_dupes,
    parse_date,
    score_pair,
    season_start_year,
    surrogate_key,
)
from nba_pipeline_spark.operators.joins import asof_join
from nba_pipeline_spark.operators.projections import disambiguate, positional_select
from nba_pipeline_spark.operators.setops import except_distinct, union_by_name


def one(df):
    return df.collect()[0]


def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [("11:43.0", "12-15", "1996-97", "Tue, Oct 29, 1996")],
        ["t", "score", "season", "date"],
    )
    r = one(
        df.select(
            F.expr(mmss_to_seconds("t")).alias("secs"),
            F.expr(season_start_year("season")).alias("y"),
            F.expr(parse_date("date")).alias("d"),
            *[F.expr(c).alias(n) for n, c in zip(("a", "h"), score_pair("score"))],
        )
    )
    assert r["secs"] == 11 * 60 + 43
    assert r["y"] == 1996
    assert str(r["d"]) == "1996-10-29"
    assert (r["a"], r["h"]) == (12, 15)


def test_mmss_null_on_junk(spark):
    df = spark.createDataFrame([("1st Q",), ("ot",)], ["t"])
    got = [r[0] for r in df.select(F.expr(mmss_to_seconds("t"))).collect()]
    assert got == [None, None]


def test_coach_type_dispatch(spark):
    df = spark.createDataFrame(
        [("82",), ("Assistant Coach",), ("Player Development",), ("Assistant Coach (interim)",)],
        ["g"],
    )
    got = [r[0] for r in df.select(F.expr(coach_type("g"))).collect()]
    assert got == ["Head Coach", "Assistant Coach", "Player Development", "Assistant Coach"]


def test_fix_hornets_case(spark):
    df = spark.createDataFrame(
        [(2010, "Charlotte Hornets", "CHA"), (2015, "Charlotte Hornets", "CHA"), (2010, "Utah Jazz", "UTA")],
        ["season", "team", "abbrev"],
    )
    got = [r[0] for r in df.select(F.expr(fix_hornets("season", "team", "abbrev"))).collect()]
    assert got == ["CHH", "CHA", "UTA"]


def test_null_out_dupes_edges(spark):
    df = spark.createDataFrame(
        [("Timeout", "Timeout"), ("makes 2-pt", "2"), ("makes ft", None)],
        ["event", "point"],
    )
    got = [r[0] for r in df.select(
        F.expr(null_out_dupes("event", "point", "point"))
    ).collect()]
    assert got == [None, "2", None]


def test_surrogate_key_deterministic_and_distinct(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    keys = [r[0] for r in df.select(F.expr(surrogate_key("k", "v"))).collect()]
    assert keys[0] == keys[1] and keys[0] != keys[2] and len(keys[0]) == 64


def test_surrogate_key_separator_no_collision(spark):
    # ('ab','c') must not collide with ('a','bc') — the \\x1f separator
    df = spark.createDataFrame([("ab", "c"), ("a", "bc")], ["x", "y"])
    keys = [r[0] for r in df.select(F.expr(surrogate_key("x", "y"))).collect()]
    assert keys[0] != keys[1]


def test_union_by_name_null_fill(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "only_a"])
    b = spark.createDataFrame([(2,)], ["k"])
    got = union_by_name(a, b).orderBy("k").collect()
    assert [tuple(r) for r in got] == [(1, "x"), (2, None)]


def test_union_by_name_associative(spark):
    a = spark.createDataFrame([(1,)], ["k"])
    b = spark.createDataFrame([(2,)], ["k"])
    c = spark.createDataFrame([(3,)], ["k"])
    left = union_by_name(union_by_name(a, b), c)
    right = union_by_name(a, union_by_name(b, c))
    assert sorted(r["k"] for r in left.collect()) == sorted(r["k"] for r in right.collect())


def test_except_set_semantics(spark):
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(1,), (4,)], ["k"])
    got = sorted(r["k"] for r in except_distinct(a, b).collect())
    assert got == [2, 3]  # every 1 removed, not bag-subtracted


def test_disambiguate_positional(spark):
    df = spark.createDataFrame([(82, 69, 19, 15)], ["G", "W", "G", "W"])
    out = disambiguate(df, {"G": ("G_reg", "G_playoff"), "W": ("W_reg", "W_playoff")})
    assert out.columns == ["G_reg", "W_reg", "G_playoff", "W_playoff"]


def test_positional_select(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], ["x", "y", "z"])
    assert positional_select(df, [1, 2]).columns == ["y", "z"]


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 50, "e3")],
        ["uid", "t", "ev"],
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (3, 1, 999.0)], ["uid", "t", "v"]
    )
    out = asof_join(left, right, key="uid", time_col="t", value_cols=["v"])
    got = {r["ev"]: r["asof_v"] for r in out.collect()}
    # e0: before any right row -> null; e1: tie at t=10 matches (<=);
    # e2: latest at-or-before is t=15; e3: no uid=2 right rows -> null
    assert got == {"e0": None, "e1": 100.0, "e2": 150.0, "e3": None}


def test_asof_join_latest_value_null_stays_null(spark):
    # the latest right row EXISTS but its value is NULL: a real as-of
    # join returns that NULL, never an older non-null value
    left = spark.createDataFrame([(1, 10, "e1")], ["uid", "t", "ev"])
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 8, None)], "uid long, t long, v double"
    )
    out = asof_join(left, right, key="uid", time_col="t", value_cols=["v"])
    assert out.collect()[0]["asof_v"] is None


def test_asof_join_null_keys_never_match(spark):
    # SQL equi as-of never matches NULL = NULL; the window impl must not
    # serve NULL-key right rows to NULL-key left rows
    left = spark.createDataFrame([(None, 10, "eN"), (1, 10, "e1")], "uid long, t long, ev string")
    right = spark.createDataFrame(
        [(None, 5, 666.0), (1, 5, 100.0)], "uid long, t long, v double"
    )
    out = asof_join(left, right, key="uid", time_col="t", value_cols=["v"])
    got = {r["ev"]: r["asof_v"] for r in out.collect()}
    assert got == {"eN": None, "e1": 100.0}


def test_salted_join_rejects_outer(spark):
    import pytest as _pytest

    from nba_pipeline_spark.operators.joins import salted_join

    a = spark.createDataFrame([(1,)], ["k"])
    b = spark.createDataFrame([(1,)], ["rk"])
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(a, b, "k", "rk", how="full")


def test_interval_overlap_join_canonical_bucket_dedup(spark):
    """A pair overlapping across MULTIPLE shared buckets must emit
    exactly once (the canonical-bucket rule), and non-overlapping /
    cross-key pairs never join."""
    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, "k1", 0, 250), (2, "k1", 500, 510), (3, "k2", 0, 100)],
        "lid long, lk string, ls long, le long",
    )
    right = spark.createDataFrame(
        [(10, "k1", 100, 400), (11, "k1", 600, 700), (12, "k2", 90, 95)],
        "rid long, rk string, rs long, re long",
    )
    got = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_width=100, keys=[("lk", "rk")]
    ).select("lid", "rid").collect()
    pairs = sorted((r["lid"], r["rid"]) for r in got)
    # (1,10) overlaps over buckets 1..2 of both -> exactly one row;
    # (2,11) no overlap; (3,12) overlaps on k2; cross-key never joins
    assert pairs == [(1, 10), (3, 12)]


def test_let_binds_once_and_is_null_safe(spark):
    """let() must (a) produce identical values to direct nesting and
    (b) pass a NULL input through as a NULL lambda variable."""
    from pyspark.sql import functions as F

    from nba_pipeline_spark.functions.exprs import let

    df = spark.createDataFrame([([1, 2, 3],), (None,)], "a array<int>")
    out = df.select(
        let(F.col("a"), lambda x: F.when(x.isNull(), -1).otherwise(F.size(x) + F.element_at(x, 1))).alias("r")
    ).collect()
    assert [r["r"] for r in out] == [4, -1]
