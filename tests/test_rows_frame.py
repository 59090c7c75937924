"""`partitioning.rows_frame` is the package's only builder of a frame
from driver-side rows. It must give exactly what
``spark.createDataFrame(list, schema)`` gives (schema and rows) for
every value type the package's call sites carry, while building a
``LocalRelation`` from Arrow batches instead of a pickled RDD."""

from __future__ import annotations

import datetime as dt
import inspect
import os
import re
import time
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.errors import PySparkValueError
from pyspark.sql import Row
from pyspark.sql import functions as F

import nba_pipeline_spark
from nba_pipeline_spark.operators.partitioning import rows_frame
from nba_pipeline_spark.pipelines import fixtures as FX

CASES = {
    "string_non_ascii": (
        [("Nikola Jokić",), ("Dončić 🏀",), ("",), (None,)], "s string",
    ),
    "int_long_double": (
        [(1, -(1 << 40), 0.1), (-(1 << 31), (1 << 63) - 1, -0.0), (None, None, None)],
        "i int, l bigint, d double",
    ),
    "decimal": (
        [(Decimal("12345678.90"),), (Decimal("-0.01"),), (Decimal("1.5"),), (None,)],
        "m decimal(10,2)",
    ),
    "binary": ([(b"\x00\xff",), (bytearray(b"sk"),), (b"",), (None,)], "b binary"),
    "array_double": (
        [([1.0, None, -2.5],), ([],), (None,)], "v array<double>",
    ),
    "all_null_columns": (
        [(None, None, None), (None, None, None)],
        "a string, b bigint, c array<double>",
    ),
    "row_inputs": (
        [Row(k=1, w="a"), Row(k=2, w="b")], "k bigint, w string",
    ),
    "empty_list": ([], "k bigint, v array<double>, m decimal(10,2), b binary"),
    "inferred_names": (
        [(1, "x", 2.5, Decimal("0.125"), [1.0]), (None, "y", None, None, None)],
        ["id", "name", "score", "amount", "vec"],
    ),
    "inferred_dicts": ([{"a": 1, "b": "z"}, {"a": None, "b": "w"}], ["a", "b"]),
}


def _same_frame(got, want):
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("case", sorted(CASES))
def test_rows_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    got = rows_frame(spark, rows, schema)
    _same_frame(got, spark.createDataFrame(rows, schema))
    # the JVM holds the rows itself: no pickled RDD, so no Python worker
    assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"


def test_rows_frame_struct_schema_and_empty_inference(spark):
    want = spark.createDataFrame([(1, "a")], "k int, w string")
    _same_frame(rows_frame(spark, [(1, "a")], want.schema), want)
    with pytest.raises(PySparkValueError, match="CANNOT_INFER_EMPTY_SCHEMA"):
        rows_frame(spark, [], ["k"])


def test_rows_frame_timestamps_follow_create_dataframe(spark):
    # createDataFrame reads a naive datetime in the Python process's local
    # zone (not the session zone); pyarrow alone would read it as UTC.
    # Pin both zones away from UTC and compare the stored instants.
    saved_tz, saved_session = os.environ.get("TZ"), spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        rows = [
            (dt.datetime(2024, 3, 10, 2, 30), dt.date(1969, 12, 31)),
            (dt.datetime(2018, 10, 16, 20, 0, 0, 123456, tzinfo=dt.timezone.utc), dt.date(2018, 10, 16)),
            (None, None),
        ]
        view = [F.unix_micros("ts").alias("us"), F.col("ts").cast("string"), "d"]
        for schema in ("ts timestamp, d date", ["ts", "d"]):
            got = rows_frame(spark, rows, schema)
            want = spark.createDataFrame(rows, schema)
            assert got.schema == want.schema
            assert got.select(*view).collect() == want.select(*view).collect()
    finally:
        if saved_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", saved_session)


@pytest.mark.parametrize(
    "name, rows",
    [
        ("games_raw", FX.GAMES_RAW),
        ("playbyplay_raw", FX.PBP_RAW),
        ("boxscores_raw", FX.BOX_RAW),
        ("coaches_raw", FX.COACHES_RAW),
        ("salary_raw_current", FX.SALARY_CUR),
        ("salary_raw_history", FX.SALARY_HIST),
        ("players_info_raw", FX.PLAYERS_RAW),
    ],
)
def test_fixture_frames_match_inferred_frames(spark, name, rows):
    got = getattr(FX, name)(spark)
    # the frame the fixture built before its schema was spelled out
    _same_frame(got, spark.createDataFrame(rows, got.columns))


def test_rows_frame_is_the_only_local_frame_builder():
    # createDataFrame over a Python list ships a pickled RDD and starts
    # Python workers; every local frame goes through rows_frame instead
    pkg = Path(nba_pipeline_spark.__file__).parent
    hits = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"createDataFrame\(", line)
    ]
    lines, start = inspect.getsourcelines(rows_frame)
    inside = [
        f"operators/partitioning.py:{start + j}"
        for j, line in enumerate(lines)
        if "createDataFrame(" in line
    ]
    assert len(inside) == 1
    assert hits == inside
