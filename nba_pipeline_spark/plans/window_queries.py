"""Window / ordered-stateful queries (SURVEY.md §2.6).

These are the Spark re-expressions of the reference's three hand-rolled
sequential scans (period counter, score forward-fill, isStarter marker
fill) plus standard ranking/lag analytics. Every window partitions by a
key (user_id / nation) — never a bare global orderBy — so the shuffle
scales out; ordering uses (ts, event_id) so ties are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import windows as OW
from ..sources import load_table
from ..session import tune
from .queries import register


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, "events")


ORDER = ["ts", "event_id"]


# --- W1: running sum / counter with reset -------------------------------------

def q_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    out = OW.running_sum(ev, ["user_id"], ORDER, F.col("value"), "running_value")
    return out.select("event_id", "user_id", F.round("running_value", 4).alias("running_value"))


register(
    "q_win_running_sum",
    q_win_running_sum,
    """
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_value
    FROM events
    """,
)


def q_win_running_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """playByplay.py:19-41 period counter: starts at 1 per game, +1 at
    every marker row after the first. Here: per user, +1 at every
    'signup' event after the user's first event."""
    ev = _ev(spark, sf_dir)
    out = OW.running_count_with_reset(ev, ["user_id"], ORDER, "event_type = 'signup'", "period")
    return out.select("event_id", "user_id", "period")


register(
    "q_win_running_reset",
    q_win_running_reset,
    """
    WITH seq AS (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    )
    SELECT event_id, user_id,
           1 + CAST(SUM(CASE WHEN rn <> 1 AND event_type = 'signup' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY rn
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS period
    FROM seq
    """,
)


# --- W2: forward fill ---------------------------------------------------------

def q_win_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """playByplay.py:43-65 score carry: parseable score -> value, else
    carry previous, 0 at start. Here 'error' events have no usable value."""
    ev = _ev(spark, sf_dir)
    v = "CASE WHEN event_type != 'error' THEN value END"
    out = OW.forward_fill(ev, ["user_id"], ORDER, v, "filled_value", default=0.0)
    return out.select("event_id", "user_id", F.round("filled_value", 4).alias("filled_value"))


register(
    "q_win_ffill",
    q_win_ffill,
    """
    SELECT event_id, user_id,
           ROUND(COALESCE(
             LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             0.0), 4) AS filled_value
    FROM events
    """,
)


# --- W3: marker-row flag fill -------------------------------------------------

def q_win_marker_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boxScores.py:61-76 isStarter: marker rows set the flag for
    FOLLOWING rows, first rows default 1, markers dropped. Markers here:
    'signup' -> 0, 'error' -> 1."""
    ev = _ev(spark, sf_dir)
    out = OW.marker_flag_fill(
        ev,
        ["user_id"],
        ORDER,
        marker_value={"signup": 0, "error": 1},
        marker_col="event_type",
        out="flag",
        first_default=1,
    )
    return out.select("event_id", "user_id", "flag")


register(
    "q_win_marker_fill",
    q_win_marker_fill,
    """
    WITH tagged AS (
      SELECT event_id, user_id, event_type,
             COALESCE(
               LAST_VALUE(CASE WHEN event_type = 'signup' THEN 0
                               WHEN event_type = 'error' THEN 1 END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               1) AS flag
      FROM events
    )
    SELECT event_id, user_id, flag FROM tagged
    WHERE event_type NOT IN ('signup', 'error')
    """,
)


# --- W5: rank / lag -----------------------------------------------------------

def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    ranked = OW.rank_in_group(
        cust, ["c_nationkey"], [F.col("c_acctbal").desc()], "bal_rank", method="rank"
    )
    dense = OW.rank_in_group(
        ranked, ["c_nationkey"], [F.col("c_acctbal").desc()], "bal_dense", method="dense_rank"
    )
    return dense.select("c_custkey", "c_nationkey", "bal_rank", "bal_dense")


register(
    "q_win_rank",
    q_win_rank,
    """
    SELECT c_custkey, c_nationkey,
           CAST(RANK() OVER w AS INT) AS bal_rank,
           CAST(DENSE_RANK() OVER w AS INT) AS bal_dense
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC NULLS LAST)
    """,
)


def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    out = OW.lag_delta(ev, ["user_id"], ORDER, F.col("value"), "delta")
    return out.select("event_id", "user_id", F.round("delta", 4).alias("delta"))


register(
    "q_win_lag",
    q_win_lag,
    """
    SELECT event_id, user_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST), 4)
             AS delta
    FROM events
    """,
)


def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: quartile bucketing per nation (total order via custkey tiebreak
    so bucket assignment is engine-deterministic)."""
    tune(spark)
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey", "c_nationkey", F.ntile(4).over(w).alias("bal_quartile")
    )


register(
    "q_win_ntile",
    q_win_ntile,
    """
    SELECT c_custkey, c_nationkey,
           CAST(NTILE(4) OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST) AS INT) AS bal_quartile
    FROM customer
    """,
)


def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: first/last value per group frame (user's first and latest
    event value as of each row)."""
    ev = _ev(spark, sf_dir)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.first("value").over(w), 4).alias("first_value"),
        F.round(F.last("value").over(w), 4).alias("latest_value"),
    )


register(
    "q_win_first_last",
    q_win_first_last,
    """
    SELECT event_id, user_id,
           ROUND(FIRST_VALUE(value) OVER w, 4) AS first_value,
           ROUND(LAST_VALUE(value) OVER w, 4) AS latest_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)


def q_win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: percent_rank + cume_dist of account balance within nation."""
    tune(spark)
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").asc())

    # floor(x*1e6 + 0.5) instead of round(x, 6): rank ratios like
    # 41/640 are EXACT halves at the 6dp grid, where Spark's HALF_UP
    # and DuckDB's exact-binary round() disagree (found at sf0.1 —
    # 0.064063 vs 0.064062). floor of identical doubles is identical.
    def r6(c):
        return F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)

    return cust.select(
        "c_custkey",
        "c_nationkey",
        r6(F.percent_rank().over(w)).alias("bal_pct_rank"),
        r6(F.cume_dist().over(w)).alias("bal_cume"),
    )


register(
    "q_win_percent_rank",
    q_win_percent_rank,
    """
    SELECT c_custkey, c_nationkey,
           FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) / 1000000.0 AS bal_pct_rank,
           FLOOR(CUME_DIST() OVER w * 1000000 + 0.5) / 1000000.0 AS bal_cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC NULLS FIRST)
    """,
)


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse SCD2 pattern (the reference's intended BigQuery layer):
    each customer's orders become versioned rows with
    [valid_from, valid_to) intervals and a current flag — lead() over the
    entity's ordered history, one shuffle on the entity key."""
    tune(spark)
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderkey").over(w).isNull().cast("int").alias("is_current"),
    )


register(
    "q_scd2_intervals",
    q_scd2_intervals,
    """
    SELECT o_custkey, o_orderkey,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w AS valid_to,
           CAST(LEAD(o_orderkey) OVER w IS NULL AS INT) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST)
    """,
)


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence analytics: per user, first signup, first purchase AFTER
    that signup, and the conversion flag — conditional min-aggregates,
    one shuffle, no self-join."""
    ev = _ev(spark, sf_dir)
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    agg = ev.groupBy("user_id").agg(first_signup.alias("first_signup"))
    joined = ev.join(agg, "user_id")
    converted = joined.groupBy("user_id").agg(
        F.min("first_signup").alias("first_signup"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("first_signup")),
                F.col("ts"),
            )
        ).alias("first_purchase_after"),
    )
    return converted.select(
        "user_id",
        "first_signup",
        "first_purchase_after",
        F.col("first_purchase_after").isNotNull().cast("int").alias("converted"),
    )


register(
    "q_funnel",
    q_funnel,
    """
    WITH s AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup
      FROM events GROUP BY user_id),
    j AS (SELECT e.user_id, e.event_type, e.ts, s.first_signup
          FROM events e JOIN s ON e.user_id = s.user_id)
    SELECT user_id, MIN(first_signup) AS first_signup,
           MIN(CASE WHEN event_type = 'purchase' AND ts >= first_signup THEN ts END)
             AS first_purchase_after,
           CAST(MIN(CASE WHEN event_type = 'purchase' AND ts >= first_signup THEN ts END)
                IS NOT NULL AS INT) AS converted
    FROM j GROUP BY user_id
    """,
)


# --- W4: global ordinal (bounded use) -----------------------------------------

def q_win_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """games.py:82-83 sort-then-assign-ids. Global window = one task by
    design; kept for parity and small frames — production keys use
    surrogate_key (q_surrogate_key)."""
    tune(spark)
    orders = load_table(spark, sf_dir, "orders")
    out = OW.ordered_surrogate(
        orders, [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()], "seq_id"
    )
    return out.select("o_orderkey", "seq_id")


register(
    "q_win_ordinal",
    q_win_ordinal,
    "SELECT o_orderkey, CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST) AS INT) AS seq_id "
    "FROM orders",
)


# --- W5 extension: sliding distinct count over an event-time frame ------------

def q_win_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct event types per user over the trailing hour — a
    set-valued RANGE frame (collect_set over event-time micros, then
    size). The state Spark keeps per frame is the distinct set, not the
    row list; NULL types are excluded at the source on both engines
    (collect_set drops NULLs, DuckDB's array_agg keeps them)."""
    from pyspark.sql.window import Window

    tune(spark)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.size(F.collect_set("event_type").over(w)).cast("int").alias("d_types_1h"),
    )


register(
    "q_win_distinct",
    q_win_distinct,
    """
    SELECT event_id, user_id, ts,
           CAST(len(list_distinct(array_agg(event_type) OVER w)) AS INT) AS d_types_1h
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)


# --- W5 extension: gaps and islands -------------------------------------------

def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE order months per
    customer (month_seq - dense_rank is constant within an island —
    the classic trick, one shuffle on custkey shared by the window and
    the final groupBy). Distinct months first so duplicate orders in a
    month can't split an island."""
    from pyspark.sql.window import Window

    tune(spark)
    orders = load_table(spark, sf_dir, "orders")
    months = (
        orders.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("m")
    grp = (F.col("m") - F.dense_rank().over(w)).alias("g")
    return (
        months.select("o_custkey", "m", grp)
        .groupBy("o_custkey", "g")
        .agg(
            F.min("m").alias("island_start"),
            F.max("m").alias("island_end"),
            F.count(F.lit(1)).cast("long").alias("n_months"),
        )
        .drop("g")
    )


register(
    "q_gaps_islands",
    q_gaps_islands,
    """
    WITH months AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
      FROM orders
    ),
    ranked AS (
      SELECT o_custkey, m,
             m - DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY m) AS g
      FROM months
    )
    SELECT o_custkey, MIN(m) AS island_start, MAX(m) AS island_end,
           COUNT(*) AS n_months
    FROM ranked GROUP BY o_custkey, g
    """,
)


# --- Cohort retention matrix ---------------------------------------------------

def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention: customers grouped by first-order month,
    counted distinct at each month offset. Two aggregations (first
    month per customer, then cohort x offset), both on the custkey
    shuffle; the output is the cohort triangle every growth dashboard
    draws. Offsets in months via (year*12+month) arithmetic — identical
    integer math on both engines."""
    tune(spark)
    orders = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    base = orders.select("o_custkey", m)
    first = base.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    return (
        base.join(first, "o_custkey")
        .select("o_custkey", "cohort_m", (F.col("m") - F.col("cohort_m")).alias("offset_m"))
        .groupBy("cohort_m", "offset_m")
        .agg(F.countDistinct("o_custkey").alias("n_active"))
    )


register(
    "q_cohort_retention",
    q_cohort_retention,
    """
    WITH base AS (
      SELECT o_custkey, CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS m
      FROM orders
    ),
    first AS (SELECT o_custkey, MIN(m) AS cohort_m FROM base GROUP BY o_custkey)
    SELECT cohort_m, m - cohort_m AS offset_m,
           CAST(COUNT(DISTINCT base.o_custkey) AS BIGINT) AS n_active
    FROM base JOIN first USING (o_custkey)
    GROUP BY cohort_m, m - cohort_m
    """,
)


# --- Pareto frontier (skyline) -------------------------------------------------

def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict 2-D skyline of customers over (balance cents, order
    count): nobody strictly beats a surviving customer on BOTH axes.
    Uses operators.windows.skyline_2d — value-bucketed running maxima
    instead of the O(n^2) NOT-EXISTS join the oracle replays, and
    instead of the banned single-task global window."""
    from ..operators.windows import skyline_2d

    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
    )
    return skyline_2d(per_cust, "bal_cents", "n_orders")


register(
    "q_skyline",
    q_skyline,
    """
    WITH per_cust AS (
      SELECT c_custkey,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
             CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_acctbal
    )
    SELECT r.c_custkey, r.bal_cents, r.n_orders
    FROM per_cust r
    WHERE NOT EXISTS (SELECT 1 FROM per_cust p
                      WHERE p.bal_cents > r.bal_cents AND p.n_orders > r.n_orders)
    """,
)


def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation over the events series: 'click' values
    are masked to NULL, then rebuilt from their temporal neighbors per
    user (operators/windows.py::interpolate_linear). Both direction
    frames share one window spec — a single shuffle on user_id."""
    from ..operators.windows import interpolate_linear

    ev = _ev(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ts_s"),
        F.when(F.col("event_type") != "click", F.round("value", 6)).alias("v"),
    )
    out = interpolate_linear(
        ev, ["user_id"], "ts_s", F.col("v"), "v_interp", tiebreak=["event_id"]
    )
    return out.select("user_id", "event_id", "v_interp")


register(
    "q_interpolate",
    q_interpolate,
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_s,
             CASE WHEN event_type <> 'click' THEN ROUND(value, 6) END AS v
      FROM events),
    anch AS (
      SELECT user_id, event_id, ts_s, v,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN ts_s END IGNORE NULLS)
               OVER wb AS pt,
             LAST_VALUE(v IGNORE NULLS) OVER wb AS pv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN ts_s END IGNORE NULLS)
               OVER wf AS nt,
             FIRST_VALUE(v IGNORE NULLS) OVER wf AS nv
      FROM e
      WINDOW wb AS (PARTITION BY user_id ORDER BY ts_s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY ts_s, event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, event_id,
           CASE WHEN v IS NOT NULL THEN ROUND(v, 6)
                WHEN pt IS NOT NULL AND nt IS NOT NULL THEN
                  CASE WHEN nt = pt THEN ROUND(pv, 6)
                       ELSE ROUND(pv + (nv - pv) * (ts_s - pt) * 1.0 / (nt - pt), 6)
                  END
           END AS v_interp
    FROM anch
    """,
)


def q_win_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-fill twin of q_win_ffill: next non-null value carried
    back per user in event order."""
    from ..operators.windows import backward_fill

    ev = _ev(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.when(F.col("event_type") != "click", F.round("value", 6)).alias("v"),
    )
    out = backward_fill(
        ev, ["user_id"], ["ts_ms", "event_id"], F.col("v"), "v_bfill", default=-1.0
    )
    return out.select("user_id", "event_id", "v_bfill")


register(
    "q_win_bfill",
    q_win_bfill,
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
             CASE WHEN event_type <> 'click' THEN ROUND(value, 6) END AS v
      FROM events)
    SELECT user_id, event_id,
           COALESCE(FIRST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), -1.0) AS v_bfill
    FROM e
    """,
)
