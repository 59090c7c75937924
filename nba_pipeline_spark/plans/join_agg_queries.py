"""Join and aggregation queries (SURVEY.md §2.4, §2.5).

Scale notes are on the operators; here the important choices are
broadcast hints for dimension/lookup sides and explicit pivot value
lists (no distinct-collect job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregates as OA
from ..operators import joins as OJ
from ..operators.partitioning import rows_frame
from ..sources import load_table
from ..session import tune
from .queries import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


# --- J1/J2/F8/M7: broadcast dict-lookup join ----------------------------------

REGION_CODE = {
    "AFRICA": "AF",
    "AMERICA": "AM",
    "ASIA": "AS",
    "EUROPE": "EU",
    "MIDDLE EAST": "ME",
}


def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 37-entry team->abbreviation dict applied via
    ``.apply`` (playByplay.py:84-99) becomes a broadcast join of a
    literal lookup frame — constant cost per executor at any scale."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    with_region = OJ.equi_join(
        nation, F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    )
    out = OJ.lookup_join(
        with_region, spark, REGION_CODE, key_col="r_name", value_col="region_code"
    )
    # M7: boolean -> 0/1 (games.py:64-65 isRegular flag)
    is_east = (F.col("region_code").isin("AS", "ME")).cast("int")
    return out.select("n_nationkey", "n_name", "region_code", is_east.alias("is_east"))


register(
    "q_lookup_join",
    q_lookup_join,
    """
    SELECT n_nationkey, n_name, code.region_code,
           CAST(code.region_code IN ('AS','ME') AS INT) AS is_east
    FROM nation
    JOIN region ON n_regionkey = r_regionkey
    LEFT JOIN (VALUES ('AFRICA','AF'),('AMERICA','AM'),('ASIA','AS'),
                      ('EUROPE','EU'),('MIDDLE EAST','ME'))
              AS code(r_name2, region_code)
      ON r_name = code.r_name2
    """,
)


# --- J3/J4: equi-join variants ------------------------------------------------

def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return OJ.equi_join(orders, cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


register(
    "q_join_inner",
    q_join_inner,
    "SELECT o_orderkey, c_custkey, c_name, o_totalprice "
    "FROM orders JOIN customer ON o_custkey = c_custkey",
)


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return OJ.equi_join(
        cust, big, cust["c_custkey"] == big["o_custkey"], how="left"
    ).select("c_custkey", "o_orderkey")


register(
    "q_join_left",
    q_join_left,
    "SELECT c_custkey, o_orderkey FROM customer "
    "LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o "
    "ON c_custkey = o.o_custkey",
)


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return OJ.equi_join(
        cust, big, cust["c_custkey"] == big["o_custkey"], how="left_semi"
    ).select("c_custkey", "c_name")


register(
    "q_join_semi",
    q_join_semi,
    "SELECT c_custkey, c_name FROM customer c WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)",
)


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return OJ.equi_join(
        cust, big, cust["c_custkey"] == big["o_custkey"], how="left_anti"
    ).select("c_custkey", "c_name")


register(
    "q_join_anti",
    q_join_anti,
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)",
)


# --- J5a: range/banded join ---------------------------------------------------

QTY_BANDS = [(0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 60.0, "high")]


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    bands = rows_frame(spark, QTY_BANDS, "lo double, hi double, band string")
    joined = OJ.range_join(
        li,
        bands,
        (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
    )
    return joined.select("l_orderkey", "l_linenumber", "band")


register(
    "q_join_range",
    q_join_range,
    """
    SELECT l_orderkey, l_linenumber, band
    FROM lineitem
    JOIN (VALUES (0.0,10.0,'low'),(10.0,25.0,'mid'),(25.0,60.0,'high')) AS b(lo,hi,band)
      ON l_quantity >= b.lo AND l_quantity < b.hi
    """,
)


# --- skew-salted join (same result as plain join, spread physical plan) -------

def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return OJ.salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=4).select(
        "l_orderkey", "l_linenumber", "o_orderstatus"
    )


register(
    "q_join_salted",
    q_join_salted,
    "SELECT l_orderkey, l_linenumber, o_orderstatus "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
)


# --- skewed-key join harness (AQE skew-split demo) ----------------------------

SKEW_N, SKEW_K = 8_000_000, 100_000


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuinely zipfian shuffle-join: 80% of the 8M left rows land on
    ONE key, the rest spread over 100k keys; the MERGE hint forbids the
    static broadcast escape so the hot key concentrates a shuffle
    partition — the shape AQE's skew-join split (or salting,
    operators/joins.py salted_join) exists for. bench.py times this
    plan twice (skew-split off vs on, thresholds scaled to the local
    data size, runtime broadcast blocked for the comparison) and
    reports the pair plus the plan's skew markers as skew_demo
    (measured: SortMergeJoin(skew=true), hot partition split ~26 ways,
    naive 3.3s -> split 2.7s wall with the map-side generation cost
    common to both); at cluster scale the default 256 MB threshold
    plays the same role. In ordinary runs AQE is free to pick the
    broadcast plan — with a broadcastable build side that IS the right
    answer to skew (no shuffle of the hot key at all). Inputs are
    deterministic ranges, so the oracle replays exactly; the aggregate
    keeps driver output tiny while forcing every joined row to exist."""
    tune(spark)
    left = spark.range(SKEW_N).select(
        F.when(F.col("id") % 5 < 4, F.lit(0))
        .otherwise(F.col("id") % SKEW_K)
        .alias("key"),
        (F.col("id") % 97).alias("val"),
    )
    right = spark.range(SKEW_K).select(
        F.col("id").alias("key"), (F.col("id") % 13).alias("weight")
    )
    joined = left.hint("MERGE").join(right, "key")
    return (
        joined.groupBy((F.col("key") % 10).alias("kb"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("weight") * F.col("val")).alias("ws"),
        )
        .orderBy("kb")
    )


register(
    "q_skew_join",
    q_skew_join,
    f"""
    WITH l AS (SELECT CASE WHEN i % 5 < 4 THEN 0 ELSE i % {SKEW_K} END AS key,
                      i % 97 AS val
               FROM generate_series(0, {SKEW_N - 1}) t(i)),
         r AS (SELECT i AS key, i % 13 AS weight
               FROM generate_series(0, {SKEW_K - 1}) t(i))
    SELECT key % 10 AS kb, COUNT(*) AS n,
           CAST(SUM(weight * val) AS BIGINT) AS ws
    FROM l JOIN r USING (key) GROUP BY key % 10 ORDER BY kb
    """,
)


# --- J5b: as-of join ----------------------------------------------------------

def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event, the most recent purchase value by the same user at
    or before its timestamp (union+window pattern: one shuffle on
    user_id, linear at scale — no per-row lookups)."""
    # NULL-ts rows are excluded on both sides: an event without a
    # timestamp has no "as of" instant (engines disagree on NULL-time
    # ASOF matching).
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # one purchase row per (user, ts): as-of joins are ambiguous on
    # right-side time ties (both engines pick arbitrarily) — dedupe to
    # max(value) so query and oracle see the same unambiguous input
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = OJ.asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        key="user_id",
        time_col="ts",
        value_cols=["value"],
        prefix="last_purchase_",
    )
    return out.select(
        "event_id", "user_id", F.round("last_purchase_value", 4).alias("last_purchase_value")
    )


register(
    "q_join_asof",
    q_join_asof,
    """
    SELECT e.event_id, e.user_id, ROUND(p.value, 4) AS last_purchase_value
    FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
    ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS value FROM events
                    WHERE event_type = 'purchase' AND ts IS NOT NULL
                    GROUP BY user_id, ts) p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)


# --- A1/A2: global reductions, distinct ---------------------------------------

def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return OA.global_agg(
        li,
        {
            "max_price": F.max("l_extendedprice"),
            "min_ship": F.min("l_shipdate"),
            "n": F.count(F.lit(1)),
            "n_null_tax": F.sum(F.when(F.col("l_tax").isNull(), 1).otherwise(0)).cast("bigint"),
        },
    )


register(
    "q_agg_global",
    q_agg_global,
    "SELECT max(l_extendedprice) AS max_price, min(l_shipdate) AS min_ship, "
    "count(*) AS n, CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_tax "
    "FROM lineitem",
)


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return OA.distinct_rows(li.select("l_returnflag", "l_linestatus"))


register(
    "q_distinct",
    q_distinct,
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)


# --- A4: grouped agg (TPC-H Q1 shape) -----------------------------------------

def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # money sums in exact DECIMAL (order-independent at any scale; see
    # flagship.py); qty is integral-valued (double-exact); avgs stay
    # rounded doubles — their divisor makes decimal exactness moot
    disc_price = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return OA.grouped_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.round(F.sum("l_quantity"), 4),
            "sum_base_price": F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double"),
            # scale-8 product sum: exact scaled-bigint conversion — the
            # raw decimal->double cast diverges 1 ulp across engines
            # once the unscaled value passes 2^53 (see flagship.py)
            "sum_disc_price": (F.round(F.sum(disc_price), 4) * 10000)
            .cast("bigint")
            .cast("double")
            / F.lit(10000.0),
            "avg_qty": F.round(F.avg("l_quantity"), 4),
            "avg_price": F.round(F.avg("l_extendedprice"), 4),
            "count_order": F.count(F.lit(1)),
        },
    )


register(
    "q_agg_group",
    q_agg_group,
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4)
                     * 10000 AS BIGINT) AS DOUBLE) / 10000.0
             AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)


# --- A5: distinct counts ------------------------------------------------------

def q_agg_countdistinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return OA.count_distinct_per_group(ev, ["event_type"], "user_id", "n_users")


register(
    "q_agg_countdistinct",
    q_agg_countdistinct,
    "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM events GROUP BY event_type",
)


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch — THE cardinality path at 100 TB (fixed memory, one
    pass, mergeable partials). No oracle: sketch estimates are
    algorithm-specific; the driver records a rows-only check."""
    ev = _t(spark, sf_dir, "events")
    return OA.approx_count_distinct_per_group(ev, ["event_type"], "user_id", "n_users_approx")


register("q_agg_approx_distinct", q_agg_approx_distinct, None)


# --- A6: rollup ---------------------------------------------------------------

def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return OA.rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": F.round(F.sum("l_quantity"), 4), "n": F.count(F.lit(1))},
    )


register(
    "q_agg_rollup",
    q_agg_rollup,
    "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
)


# --- A6b: cube ----------------------------------------------------------------

def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return OA.cube_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": F.round(F.sum("l_quantity"), 4), "n": F.count(F.lit(1))},
    )


register(
    "q_agg_cube",
    q_agg_cube,
    "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n "
    "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)",
)


# --- A5b: exact interpolated percentiles --------------------------------------

def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
    )


register(
    "q_agg_percentile",
    q_agg_percentile,
    "SELECT l_returnflag, ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty, "
    "ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price "
    "FROM lineitem GROUP BY l_returnflag",
)


# --- sampling (training-data pipelines; rows-only: RNG is engine-local) -------

def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded uniform sample — deterministic within Spark (stable across
    runs/retries for a fixed seed and partitioning), but the RNG stream
    is engine-specific, so no SQL oracle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber")


register("q_sample", q_sample, None)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling (sampleBy) — balances training data across
    classes; fractions per l_returnflag."""
    li = _t(spark, sf_dir, "lineitem")
    return li.sampleBy(
        "l_returnflag", fractions={"A": 0.05, "N": 0.2, "R": 0.1}, seed=42
    ).select("l_orderkey", "l_linenumber", "l_returnflag")


register("q_sample_stratified", q_sample_stratified, None)


def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-family percentile (approx_percentile / KLL-style) — the one-
    pass bounded-memory path for 100 TB; estimates are algorithm-specific
    (rows-only).  Quantiles are projected as scalar columns — array cells
    are unhashable in the driver's pandas canonicalizer."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)"
            ).alias("pcts")
        )
        .select(
            "l_returnflag",
            F.round(F.col("pcts")[0], 2).alias("p50"),
            F.round(F.col("pcts")[1], 2).alias("p95"),
        )
    )


register("q_agg_approx_percentile", q_agg_approx_percentile, None)


# --- A7: pivot ----------------------------------------------------------------

def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = OJ.equi_join(orders, cust, orders["o_custkey"] == cust["c_custkey"])
    return OA.pivot_agg(
        joined,
        ["c_mktsegment"],
        "o_orderstatus",
        ["F", "O", "P"],
        F.round(F.sum("o_totalprice"), 4),
    )


register(
    "q_agg_pivot",
    q_agg_pivot,
    """
    SELECT c_mktsegment,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 4) AS "F",
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS "O",
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 4) AS "P"
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)


# --- J6 (extended): null-safe equi-join ---------------------------------------

def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<=> join semantics: NULL keys MATCH each other (one NULL group),
    unlike `=` which drops them — the distinction only shows on
    NULL-laden data, which the adversarial gate supplies."""
    cust = _t(spark, sf_dir, "customer").alias("c")
    orders = _t(spark, sf_dir, "orders").alias("o")
    joined = cust.join(
        orders, F.col("c.c_custkey").eqNullSafe(F.col("o.o_custkey")), "inner"
    )
    return joined.groupBy(F.col("c.c_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o.o_totalprice").cast("decimal(18,4)")).cast("double").alias("total"),
    )


register(
    "q_join_nullsafe",
    q_join_nullsafe,
    """
    SELECT c_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM customer c JOIN orders o ON c.c_custkey IS NOT DISTINCT FROM o.o_custkey
    GROUP BY c_custkey
    """,
)


# --- A8 (extended): unpivot / melt --------------------------------------------

def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long: lineitem money measures melted to (measure, value)
    rows, then summed per returnflag — the relational melt Spark ships
    as DataFrame.unpivot (EXPAND under the hood: no shuffle to melt,
    one groupBy after)."""
    li = _t(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        "l_returnflag",
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total")
    )


register(
    "q_agg_unpivot",
    q_agg_unpivot,
    """
    WITH melted AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
    SELECT l_returnflag, measure,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM melted GROUP BY 1, 2
    """,
)


# --- A9 (extended): width_bucket histogram ------------------------------------

def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order values: width_bucket keeps the
    binning in the JVM scan projection; one low-cardinality groupBy."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(600000.0), F.lit(20))
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )


register(
    "q_agg_histogram",
    q_agg_histogram,
    # DuckDB has no width_bucket; replicate SQL-standard semantics with
    # explicit arithmetic (bucket width 600000/20 = 30000 is exact in
    # binary, so the division agrees bit-for-bit with Spark's impl).
    """
    SELECT CASE WHEN o_totalprice IS NULL THEN NULL
                WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 600000.0 THEN 21
                ELSE CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT) + 1 END AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 4) AS lo,
           ROUND(MAX(o_totalprice), 4) AS hi
    FROM orders GROUP BY 1
    """,
)


# --- J5c: interval x interval overlap join (two large sides) ------------------

def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 30-day order windows of the same customer — an
    interval x interval self-join where BOTH sides are the fact table
    (see operators.joins.interval_overlap_join: bucket decomposition
    turns the non-equi overlap into a shuffled equi-join on
    (bucket, custkey), and the canonical-bucket rule dedups by
    arithmetic). The id_a < id_b predicate halves the symmetric
    pairs."""
    from ..operators.joins import interval_overlap_join

    orders = _t(spark, sf_dir, "orders")

    def windows(side: str) -> DataFrame:
        day = F.unix_date(F.col("o_orderdate").cast("date"))
        return orders.select(
            F.col("o_orderkey").alias(f"{side}_key"),
            F.col("o_custkey").alias(f"{side}_cust"),
            day.alias(f"{side}_start"),
            (day + 30).alias(f"{side}_end"),
        )

    out = interval_overlap_join(
        windows("a"),
        windows("b"),
        "a_start",
        "a_end",
        "b_start",
        "b_end",
        bucket_width=30,
        keys=[("a_cust", "b_cust")],
        how_predicate=F.col("a_key") < F.col("b_key"),
    )
    return out.select(
        F.col("a_cust").alias("custkey"),
        F.col("a_key").alias("okey_a"),
        F.col("b_key").alias("okey_b"),
        (F.least(F.col("a_end"), F.col("b_end"))
         - F.greatest(F.col("a_start"), F.col("b_start"))).cast("int").alias("overlap_days"),
    )


register(
    "q_join_interval_overlap",
    q_join_interval_overlap,
    """
    WITH w AS (
      SELECT o_orderkey AS k, o_custkey AS c,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 30 AS e
      FROM orders
    )
    SELECT a.c AS custkey, a.k AS okey_a, b.k AS okey_b,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS INT) AS overlap_days
    FROM w a JOIN w b
      ON a.c = b.c AND a.k < b.k AND a.s <= b.e AND b.s <= a.e
    """,
)
