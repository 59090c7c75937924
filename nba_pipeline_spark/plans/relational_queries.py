"""Relational-core queries: projections, filters, scalar functions,
set ops, sorts (SURVEY.md §2.2, §2.3, §2.7, §2.8, §2.9).

Each query exercises one operator family through the library functions
and ships a DuckDB oracle. Aliases match on both sides; float outputs
are rounded identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalar as S
from ..operators import filters as OF
from ..operators import projections as OP
from ..operators import setops as OS
from ..operators import sorts as OO
from ..sources import load_table
from ..session import tune
from .queries import _stage_dir, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


# --- P1-P4/P7: renames, drops, positional select ------------------------------

def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    swapped = OP.positional_rename(cust, ["k", "name", "nk", "bal", "seg"])  # P2 set_axis
    picked = OP.positional_select(swapped, [1, 2])  # P4 iloc[:, [1, 2]]
    return OP.rename_columns(picked, {"name": "playerName", "nk": "teamkey"})  # P1


register(
    "q_project_rename",
    q_project_rename,
    "SELECT c_name AS playerName, c_nationkey AS teamkey FROM customer",
)


# --- P5: literal columns ------------------------------------------------------

def q_with_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    out = OP.with_literals(nation, {"seasonStartYear": 2023, "source": "nba"})
    return OP.drop_columns(out, ["n_regionkey"])  # P3


register(
    "q_with_literal",
    q_with_literal,
    """SELECT n_nationkey, n_name, 2023 AS seasonStartYear, 'nba' AS source FROM nation""",
)


# --- P6: struct flatten (multi-level header) ----------------------------------

def q_struct_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    nested = part.select(
        "p_partkey", F.struct(F.col("p_brand"), F.col("p_type")).alias("info")
    )
    return OP.flatten_struct(nested, "info")


register(
    "q_struct_flatten",
    q_struct_flatten,
    "SELECT p_partkey, p_brand, p_type FROM part",
)


# --- F1-F4: basic predicates --------------------------------------------------

def q_filter_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return OF.filter_neq(li, "l_returnflag", "A").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )


register(
    "q_filter_basic",
    q_filter_basic,
    "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag <> 'A'",
)


def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    with_null = ev.withColumn("et", F.nullif(F.col("event_type"), F.lit("error")))
    return OF.filter_not_null(with_null, "et").select("event_id", "et")


register(
    "q_filter_null",
    q_filter_null,
    "SELECT event_id, NULLIF(event_type, 'error') AS et FROM events "
    "WHERE NULLIF(event_type, 'error') IS NOT NULL",
)


def q_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return OF.filter_not_in(cust, "c_mktsegment", ["BUILDING", "MACHINERY"]).select(
        "c_custkey", "c_mktsegment"
    )


register(
    "q_filter_isin",
    q_filter_isin,
    "SELECT c_custkey, c_mktsegment FROM customer "
    "WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')",
)


def q_filter_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return OF.filter_any(
        orders,
        F.col("o_orderdate") > F.lit("1999-10-01").cast("timestamp"),
        F.col("o_orderstatus") != F.lit("F"),
    ).select("o_orderkey", "o_orderstatus", "o_orderdate")


register(
    "q_filter_or",
    q_filter_or,
    "SELECT o_orderkey, o_orderstatus, o_orderdate FROM orders "
    "WHERE o_orderdate > TIMESTAMP '1999-10-01' OR o_orderstatus <> 'F'",
)


# --- F5/F6: predicate-"UDF" shapes compiled to builtins -----------------------

def _season_str() -> F.Column:
    # Synthesize coaches.py Season-like strings: 2 of 3 rows "1996-97",
    # 1 of 3 the "Career" junk row createMask drops (coaches.py:64-72).
    yr = (F.lit(1996) + F.col("doc_id") % 20).cast("int")
    return F.when(F.col("doc_id") % 3 == 0, F.lit("Career")).otherwise(
        F.concat(yr.cast("string"), F.lit("-"), F.lpad(((yr + 1) % 100).cast("string"), 2, "0"))
    )


def q_filter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("season", _season_str())
    return docs.filter(OF.split_arity_predicate("season", "-", 2)).select("doc_id", "season")


register(
    "q_filter_split",
    q_filter_split,
    """
    WITH seasons AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'Career'
                  ELSE CONCAT(CAST(CAST(1996 + doc_id % 20 AS INT) AS VARCHAR), '-',
                              LPAD(CAST(CAST((1996 + doc_id % 20 + 1) % 100 AS INT) AS VARCHAR), 2, '0'))
             END AS season
      FROM documents)
    SELECT doc_id, season FROM seasons WHERE len(str_split(season, '-')) = 2
    """,
)


def _mixed_str() -> F.Column:
    # Mix of int-parsable and text values, mirroring coaches.py G_reg.
    return (
        F.when(F.col("l_linenumber") % 3 == 0, F.col("l_orderkey").cast("string"))
        .when(F.col("l_linenumber") % 3 == 1, F.lit("Assistant Coach"))
        .otherwise(F.lit("Player Development"))
    )


def q_filter_trycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn("g_reg", _mixed_str())
    return OF.filter_castable(li, "g_reg", "bigint").select("l_orderkey", "l_linenumber", "g_reg")


register(
    "q_filter_trycast",
    q_filter_trycast,
    """
    WITH g AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber % 3 = 0 THEN CAST(l_orderkey AS VARCHAR)
                  WHEN l_linenumber % 3 = 1 THEN 'Assistant Coach'
                  ELSE 'Player Development' END AS g_reg
      FROM lineitem)
    SELECT l_orderkey, l_linenumber, g_reg FROM g
    WHERE TRY_CAST(g_reg AS BIGINT) IS NOT NULL
    """,
)


# --- M6/M8: conditionals ------------------------------------------------------

def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    seg = F.when(
        (F.col("l_discount") > 0.05) & (F.col("l_returnflag") == "A"), F.lit("disc-returned")
    ).otherwise(F.col("l_returnflag"))
    tax_clean = F.expr(S.null_out_dupes(target="l_tax", compare="l_discount", other="l_tax"))
    return li.select(
        "l_orderkey", "l_linenumber", seg.alias("seg"), tax_clean.alias("tax_clean")
    )


register(
    "q_case_when",
    q_case_when,
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount > 0.05 AND l_returnflag = 'A'
                THEN 'disc-returned' ELSE l_returnflag END AS seg,
           CASE WHEN l_tax = l_discount THEN NULL
                WHEN l_discount IS NULL THEN NULL
                ELSE l_tax END AS tax_clean
    FROM lineitem
    """,
)


def q_trycast_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn("g_reg", _mixed_str())
    return li.selectExpr("l_orderkey", "l_linenumber", f"{S.coach_type('g_reg')} AS coach_type")


register(
    "q_trycast_case",
    q_trycast_case,
    """
    WITH g AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber % 3 = 0 THEN CAST(l_orderkey AS VARCHAR)
                  WHEN l_linenumber % 3 = 1 THEN 'Assistant Coach'
                  ELSE 'Player Development' END AS g_reg
      FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           CASE WHEN TRY_CAST(g_reg AS INT) IS NOT NULL THEN 'Head Coach'
                WHEN g_reg NOT LIKE '%Coach%' THEN g_reg
                ELSE CONCAT(split_part(g_reg, 'Coach', 1), 'Coach') END AS coach_type
    FROM g
    """,
)


# --- M1-M5, M12: string/date/math scalars -------------------------------------

def q_str_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    score = "concat_ws('-', l_orderkey, l_linenumber)"
    a, b = S.score_pair(score)
    return li.selectExpr(f"{score} AS score", f"{a} AS away", f"{b} AS home")


register(
    "q_str_split",
    q_str_split,
    """
    SELECT CONCAT(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)) AS score,
           CAST(split_part(CONCAT(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)), '-', 1) AS INT) AS away,
           CAST(split_part(CONCAT(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)), '-', 2) AS INT) AS home
    FROM lineitem
    """,
)


def q_str_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t = F.concat(
        (F.col("user_id") % 12).cast("string"),
        F.lit(":"),
        F.lpad((F.col("event_id") % 60).cast("string"), 2, "0"),
        F.lit(".0"),
    )
    out = ev.withColumn("t", t)
    return out.select("event_id", "t", F.expr(S.mmss_to_seconds("t")).alias("secs"))


register(
    "q_str_time",
    q_str_time,
    """
    WITH g AS (
      -- || not CONCAT: DuckDB's CONCAT skips NULL args while Spark's
      -- propagates them; NULL user_id must yield t = NULL on both sides
      SELECT event_id,
             CAST(user_id % 12 AS VARCHAR) || ':' ||
             LPAD(CAST(event_id % 60 AS VARCHAR), 2, '0') || '.0' AS t
      FROM events)
    SELECT event_id, t,
           TRY_CAST(split_part(t, ':', 1) AS INT) * 60
             + TRY_CAST(split_part(split_part(t, ':', 2), '.', 1) AS INT) AS secs
    FROM g
    """,
)


def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    parts = S.date_parts("o_orderdate")
    return orders.selectExpr(
        "o_orderkey", f"{parts['year']} AS y", f"{parts['month']} AS m", f"{parts['day']} AS d"
    )


register(
    "q_date_parts",
    q_date_parts,
    "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, "
    "CAST(month(o_orderdate) AS INT) AS m, CAST(day(o_orderdate) AS INT) AS d FROM orders",
)


def q_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pretty = F.date_format(F.col("o_orderdate"), "EEE, MMM d, yyyy")
    out = orders.withColumn("pretty", pretty)
    return out.select("o_orderkey", "pretty", F.expr(S.parse_date("pretty")).alias("d"))


register(
    "q_date_parse",
    q_date_parse,
    # strftime round-trips the reference's 'Tue, Oct 29, 1996' shape
    # (games.py:51); the parsed value is by construction the order date.
    "SELECT o_orderkey, strftime(o_orderdate, '%a, %b %-d, %Y') AS pretty, "
    "CAST(o_orderdate AS DATE) AS d FROM orders",
)


def q_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # round(.,4): price(2dp) * (1-disc)(2dp) is exactly 4 decimal
        # digits, so the 4dp boundary is never within double noise —
        # round(.,2) would disagree across engines at exact .xx5 values.
        F.round(revenue, 4).alias("revenue"),
        F.floor(revenue).cast("bigint").alias("revenue_floor"),
        F.round(F.abs(F.col("l_tax") - F.col("l_discount")), 4).alias("tax_gap"),
    )


register(
    "q_math",
    q_math,
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1.0 - l_discount), 4) AS revenue,
           CAST(FLOOR(l_extendedprice * (1.0 - l_discount)) AS BIGINT) AS revenue_floor,
           ROUND(ABS(l_tax - l_discount), 4) AS tax_gap
    FROM lineitem
    """,
)


def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey", "l_linenumber", f"{S.surrogate_key('l_orderkey', 'l_linenumber')} AS play_id"
    )


register(
    "q_surrogate_key",
    q_surrogate_key,
    "SELECT l_orderkey, l_linenumber, "
    "sha256(CONCAT_WS(chr(31), CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))) AS play_id "
    "FROM lineitem",
)


# --- M11/S2: regex ------------------------------------------------------------

def q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike("spark [a-z]+ join")).select(
        "doc_id", F.regexp_extract(F.col("text"), r"spark ([a-z]+) join", 1).alias("middle")
    )


register(
    "q_regex_filter",
    q_regex_filter,
    "SELECT doc_id, regexp_extract(text, 'spark ([a-z]+) join', 1) AS middle "
    "FROM documents WHERE regexp_matches(text, 'spark [a-z]+ join')",
)


# --- U1/U2: set operations ----------------------------------------------------

def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_totalprice")
    b = orders.filter(F.col("o_orderstatus") == "O").select("o_orderkey")  # missing col
    return OS.union_by_name(a, b)


register(
    "q_union_all",
    q_union_all,
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice FROM orders WHERE o_orderstatus = 'O'
    """,
)


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return OS.union_distinct(c, s)


register(
    "q_union_distinct",
    q_union_distinct,
    "SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey AS nk FROM supplier",
)


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return OS.intersect_distinct(c, s)


register(
    "q_intersect",
    q_intersect,
    "SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey AS nk FROM supplier",
)


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return OS.except_distinct(c, s)


register(
    "q_except",
    q_except,
    "SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey AS nk FROM supplier",
)


# --- O1-O4: sort / limit / top-k ----------------------------------------------

def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return OO.global_sort(
        li.select("l_orderkey", "l_linenumber", "l_shipdate"),
        F.col("l_shipdate").asc(),
        F.col("l_orderkey").asc(),
    )


register(
    "q_sort",
    q_sort,
    "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem "
    "ORDER BY l_shipdate ASC NULLS FIRST, l_orderkey ASC NULLS FIRST",
)


def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return OO.ordered_limit(orders.select("o_orderkey", "o_totalprice"), [F.col("o_orderkey").asc()], 10)


register(
    "q_limit",
    q_limit,
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey ASC NULLS FIRST LIMIT 10",
)


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return OO.top_k(
        cust.select("c_custkey", "c_name", "c_acctbal"),
        score=F.col("c_acctbal"),
        k=10,
        tiebreak=F.col("c_custkey"),
    )


register(
    "q_topk",
    q_topk,
    "SELECT c_custkey, c_name, c_acctbal FROM customer "
    "ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST LIMIT 10",
)


# --- S7: partitioned lake layout + partition pruning --------------------------

def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes orders partitioned by year(o_orderdate) into a local lake
    (once per sf), then reads back with a partition filter — the scan
    touches only the o_year=1997 directory (static partition pruning).
    """
    tune(spark)
    lake = _stage_dir(sf_dir, "orders", "orders_by_year")
    if not os.path.exists(os.path.join(lake, "_SUCCESS")):
        orders = load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        orders.write.mode("overwrite").partitionBy("o_year").parquet(lake)
    back = spark.read.parquet(lake)
    return back.filter(F.col("o_year") == 1997).select(
        "o_orderkey", "o_totalprice", F.col("o_year").cast("int").alias("o_year")
    )


register(
    "q_partition_prune",
    q_partition_prune,
    "SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS o_year "
    "FROM orders WHERE year(o_orderdate) = 1997",
)


# --- S3/S4/S5: CSV staging round-trip -----------------------------------------

def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CSV staging hop (pd.read_csv / to_csv / pyarrow
    convert, scrape_data_to_gcs.py:34-39): write a CSV stage once, read
    it back with an explicit schema (no inference in the engine), and
    aggregate — results must equal the parquet source exactly.
    """
    tune(spark)
    from pyspark.sql import types as T

    from ..sources import read_csv

    stage = _stage_dir(sf_dir, "lineitem", "lineitem_csv")
    cols = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        load_table(spark, sf_dir, "lineitem").select(*cols).write.mode(
            "overwrite"
        ).option("header", "true").option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(stage)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    )
    staged = read_csv(spark, stage, schema)
    return staged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.max("l_shipdate").alias("max_ship"),
    )


register(
    "q_csv_roundtrip",
    q_csv_roundtrip,
    "SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty, "
    "max(l_shipdate) AS max_ship FROM lineitem GROUP BY l_returnflag",
)


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S5 companion for semi-structured staging: write a JSON-lines
    stage once, read it back through the schema-checked PERMISSIVE
    reader (read_jsonl — bad rows would land in the corrupt channel;
    a clean stage yields zero), and aggregate. Must equal the parquet
    source exactly."""
    tune(spark)
    from pyspark.sql import types as T

    from ..sources import read_jsonl

    stage = _stage_dir(sf_dir, "events", "events_jsonl")
    cols = ["event_id", "user_id", "event_type", "value"]
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        load_table(spark, sf_dir, "events").select(*cols).write.mode(
            "overwrite"
        ).json(stage)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    staged = read_jsonl(spark, stage, schema)
    clean = staged.filter(F.col("_corrupt_record").isNull())
    return clean.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # exact-decimal sum: order-independent (see flagship.py); JSON
        # round-trips the double bit-exactly (shortest-repr write)
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        F.max("user_id").alias("max_user"),
    )


register(
    "q_jsonl_roundtrip",
    q_jsonl_roundtrip,
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value, "
    "MAX(user_id) AS max_user FROM events GROUP BY event_type",
)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S5 companion for the second columnar lake format: write an
    ORC stage once (fingerprint-keyed like the csv/jsonl stages), read
    it back with the explicit schema, and aggregate — results must
    equal the parquet source exactly. ORC keeps the same predicate-
    pushdown / column-pruning story as parquet (native vectorized
    reader), so a lake standardized on either format serves the
    identical plans."""
    tune(spark)
    stage = _stage_dir(sf_dir, "orders", "orders_orc")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        load_table(spark, sf_dir, "orders").select(*cols).write.mode(
            "overwrite"
        ).orc(stage)
    staged = spark.read.orc(stage)
    return staged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        F.max("o_custkey").alias("max_cust"),
    )


register(
    "q_orc_roundtrip",
    q_orc_roundtrip,
    "SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS sum_price, "
    "MAX(o_custkey) AS max_cust FROM orders GROUP BY o_orderstatus",
)
