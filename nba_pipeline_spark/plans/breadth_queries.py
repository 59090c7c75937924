"""Surface-breadth family: argmin/argmax aggregation, outer-generator
NULL semantics, regexp-extract-all, boolean/bitwise aggregates,
nth_value windows, and a recursive-CTE calendar spine.

These round out the declared SQL/DataFrame surface (SURVEY.md §2.5 A4 /
§2.9 M11 / §2.10 X2) with shapes the reference's implied warehouse
would serve but that no earlier family exercises. Engine-parity rules
as everywhere: unique ordering scores for argmin/argmax (ties are
nondeterministic in BOTH engines, so we make ties impossible), NULL
semantics pinned explicitly, counts as BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import tune
from ..sources import load_table
from .queries import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


# --- A4 extension: argmin / argmax (max_by / min_by) ---------------------------

def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation richest/poorest customer name via max_by/min_by.
    Both engines break ordering ties arbitrarily, so the ordering score
    is made UNIQUE: balance in integer cents, shifted, plus the unique
    custkey — deterministic under any partitioning/merge order, the
    same rule as the engine's surrogate keys. One partial+final agg,
    no window, no join: the cheapest top-1-per-group shape at scale."""
    cust = _t(spark, sf_dir, "customer")
    score = (
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint") * F.lit(10000000).cast("bigint")
        + F.col("c_custkey").cast("bigint")
    )
    return cust.groupBy("c_nationkey").agg(
        F.max_by(F.col("c_name"), score).alias("richest"),
        F.min_by(F.col("c_name"), score).alias("poorest"),
        F.count(F.lit(1)).alias("n"),
    )


register(
    "q_agg_argminmax",
    q_agg_argminmax,
    """
    SELECT c_nationkey,
           max_by(c_name, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * 10000000
                          + CAST(c_custkey AS BIGINT)) AS richest,
           min_by(c_name, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * 10000000
                          + CAST(c_custkey AS BIGINT)) AS poorest,
           COUNT(*) AS n
    FROM customer GROUP BY c_nationkey
    """,
)


# --- X2 extension: outer-generator NULL semantics ------------------------------

def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer over a higher-order filter: vectors with no
    element above the threshold still emit one row with NULL val (the
    LEFT-JOIN-LATERAL semantics plain explode silently drops). The
    lambda references only its bound element — free-variable lambdas
    re-evaluate per element (README rule 5)."""
    emb = _t(spark, sf_dir, "embeddings")
    arr = F.filter(F.col("embedding"), lambda x: x > F.lit(0.3))
    return emb.select(
        "vec_id", F.explode_outer(arr).alias("v")
    ).select("vec_id", F.round(F.col("v").cast("double"), 6).alias("val"))


register(
    "q_explode_outer",
    q_explode_outer,
    """
    WITH f AS (
      SELECT vec_id, list_filter(embedding, x -> x > 0.3) AS arr
      FROM embeddings
    ),
    u AS (
      SELECT vec_id,
             unnest(CASE WHEN arr IS NULL OR len(arr) = 0
                         THEN [NULL]::FLOAT[] ELSE arr END) AS v
      FROM f
    )
    SELECT vec_id, ROUND(CAST(v AS DOUBLE), 6) AS val FROM u
    """,
)


# --- M11 extension: regexp_extract_all -----------------------------------------

def q_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All numeric tokens per document: match count and first match.
    The `[0-9]+` pattern means the same thing to Java regex and RE2
    (the PII redactor established the shared-dialect rule). NULL text
    propagates NULL through extract/size/element on both engines;
    try_element_at absorbs the empty-array case under ANSI mode."""
    docs = _t(spark, sf_dir, "documents")
    nums = F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)
    return docs.select(
        "doc_id",
        F.size(nums).cast("int").alias("n_nums"),
        F.try_element_at(nums, F.lit(1)).alias("first_num"),
    )


register(
    "q_regexp_extract_all",
    q_regexp_extract_all,
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_nums,
           regexp_extract_all(text, '[0-9]+')[1] AS first_num
    FROM documents
    """,
)


# --- A4 extension: boolean + bitwise aggregates --------------------------------

def q_agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or and bit_and / bit_or / bit_xor per group.
    All five are order-independent reductions (safe under partial+final
    merge in any order at any scale); NULL inputs are skipped by both
    engines' aggregate semantics."""
    li = _t(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") < 25).alias("all_small"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_discount"),
        F.bit_and(ln).alias("ln_and"),
        F.bit_or(ln).alias("ln_or"),
        F.bit_xor(ln).alias("ln_xor"),
        F.count(F.lit(1)).alias("n"),
    )


register(
    "q_agg_bool_bit",
    q_agg_bool_bit,
    """
    SELECT l_returnflag,
           bool_and(l_quantity < 25) AS all_small,
           bool_or(l_discount > 0.09) AS any_big_discount,
           CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS ln_and,
           CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS ln_or,
           CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS ln_xor,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)


# --- W5 extension: nth_value ---------------------------------------------------

def q_win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third-richest customer name visible to each row of its nation.
    The frame is pinned to ROWS UNBOUNDED PRECEDING..CURRENT ROW on
    both engines (rows before the 3rd see NULL — the default RANGE
    frame would disagree between engines on peer rows), and the
    ordering carries the unique custkey tiebreak."""
    cust = _t(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.nth_value(F.col("c_name"), 3).over(w).alias("third_richest"),
    )


register(
    "q_win_nth_value",
    q_win_nth_value,
    """
    SELECT c_custkey, c_nationkey,
           CAST(row_number() OVER w AS INT) AS rn,
           nth_value(c_name, 3) OVER w AS third_richest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)


# --- SQL surface: recursive CTE (Spark 4.1) ------------------------------------

def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE calendar spine (24 months) left-joined to
    monthly order counts — the zero-fill report shape where missing
    months must still appear. The recursion is driver-side-tiny
    (constant 24 rows, then broadcast); the fact scan aggregates
    before the join, so the recursive side never touches fact-table
    volume. Spark 4.1 evaluates recursive CTEs natively; the
    batch-generated twin is q_resample_1h (sequence+explode)."""
    tune(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH RECURSIVE spine(m) AS (
          SELECT DATE '1996-01-01'
          UNION ALL
          SELECT add_months(m, 1) FROM spine WHERE m < DATE '1997-12-01'
        ),
        mo AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 COUNT(*) AS n_orders
          FROM orders GROUP BY 1
        )
        SELECT s.m AS month, COALESCE(mo.n_orders, 0) AS n_orders
        FROM spine s LEFT JOIN mo ON s.m = mo.m
        """
    )


register(
    "q_sql_recursive",
    q_sql_recursive,
    """
    WITH RECURSIVE spine(m) AS (
      SELECT DATE '1996-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
      WHERE m < DATE '1997-12-01'
    ),
    mo AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT s.m AS month, COALESCE(mo.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN mo ON s.m = mo.m
    """,
)


# --- U2 extension: multiset set ops + explicit cross join ----------------------

def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL on nationkey bags: each key survives
    min(customer_count, supplier_count) times. Bag semantics plan as
    grouped counts + join (one shuffle per side) — never a row-level
    self-match explosion."""
    from ..operators import setops as OS

    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return OS.intersect_all(c, s)


register(
    "q_intersect_all",
    q_intersect_all,
    "SELECT c_nationkey AS nk FROM customer "
    "INTERSECT ALL SELECT s_nationkey AS nk FROM supplier",
)


def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: customer nationkey occurrences minus one per
    supplier occurrence — the bag-difference twin of q_except."""
    from ..operators import setops as OS

    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return OS.except_all(c, s)


register(
    "q_except_all",
    q_except_all,
    "SELECT c_nationkey AS nk FROM customer "
    "EXCEPT ALL SELECT s_nationkey AS nk FROM supplier",
)


def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join: the region×nation grid (25×5 — both sides
    dimension-sized, one broadcast, no shuffle). Cross joins are safe
    ONLY when at least one side is provably tiny; fact-fact cross is
    banned in this engine (the dedup tiers exist precisely to avoid
    O(n²) pair generation)."""
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return r.crossJoin(F.broadcast(n))


register(
    "q_join_cross",
    q_join_cross,
    "SELECT r_regionkey, r_name, n_nationkey, n_name FROM region CROSS JOIN nation",
)


# --- SQL surface: NOT IN subquery (null-aware anti join) -----------------------

def q_sql_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN (subquery) with a nullable inner side — three-valued
    logic: ONE NULL in the inner set empties the whole result, which is
    why Spark plans a null-aware anti join (broadcast NAAJ) instead of
    a plain left-anti. The inner side deliberately has NO IS NOT NULL
    guard; the adversarial gate's NULL custkey row survives the inner
    predicate (IS DISTINCT FROM keeps NULL rows) and empties the whole
    result on both engines."""
    tune(spark)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM orders WHERE o_orderpriority IS DISTINCT FROM '2-HIGH'
        )
        """
    )


register(
    "q_sql_not_in",
    q_sql_not_in,
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority IS DISTINCT FROM '2-HIGH'
    )
    """,
)


# --- A5 extension: mergeable DataSketches HLL ----------------------------------

def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL: per-group part-cardinality sketches, then the
    SAME binary sketches re-merged with hll_union_agg for the global
    estimate — proving the property that makes sketches the 100 TB
    cardinality path: partial sketches merge associatively across any
    partitioning (executors, days, lake partitions) without touching
    rows again. approx_count_distinct gives one number; a stored sketch
    column supports later rollup. Rows-only oracle (sketch internals
    are engine-specific); the exact twin is q_agg_countdistinct."""
    li = _t(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    by_flag = per_flag.select(
        "l_returnflag",
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_parts"),
    )
    merged = per_flag.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("l_returnflag"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_parts"),
    )
    return by_flag.unionByName(merged)


register("q_agg_hll_sketch", q_agg_hll_sketch, None)


# --- iterative graph analytics: PageRank over the event-transition graph ------

PR_ITERS, PR_DAMPING = 5, 0.85


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the per-user event_type transition graph (edge =
    consecutive event pair in (ts, event_id) order, weight = transition
    count) — the iterative-algorithm class, run with the deterministic
    fixed-point arithmetic of operators/graph.py::pagerank so all 5
    power iterations replay bit-identically in the oracle."""
    from ..operators.graph import pagerank

    # one unit-weight edge per transition: pagerank drops NULL endpoints
    # and sums duplicate (src, dst) pairs, so an edge's weight is its
    # transition count (exact in double)
    transitions = _t(spark, sf_dir, "events").selectExpr(
        "lag(event_type) OVER (PARTITION BY user_id"
        " ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS src",
        "event_type AS dst",
    )
    pr = pagerank(transitions, iterations=PR_ITERS, damping=PR_DAMPING)
    return pr.selectExpr("node", "round(rank, 6) AS rank")


def _pagerank_oracle() -> str:
    head = f"""
    WITH tr AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC NULLS FIRST,
                                            event_id ASC NULLS FIRST) AS src,
             event_type AS dst
      FROM events),
    e AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w FROM tr
          WHERE src IS NOT NULL AND dst IS NOT NULL GROUP BY src, dst),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (
      SELECT node, COALESCE((SELECT SUM(w) FROM e WHERE e.src = nodes.node), 0) AS out_w
      FROM nodes),
    r0 AS (SELECT node, out_w, ROUND(1.0 / n, 12) AS rank FROM deg, nn)"""
    its = []
    for k in range(1, PR_ITERS + 1):
        p = k - 1
        its.append(f"""
    dm{k} AS (
      SELECT COALESCE(SUM(CAST(ROUND(rank / n, 12) AS DECIMAL(38,12))),
                      CAST(0 AS DECIMAL(38,12))) AS dm
      FROM r{p}, nn WHERE out_w = 0),
    c{k} AS (
      SELECT dst, SUM(CAST(ROUND(r.rank * e.w / r.out_w, 12) AS DECIMAL(38,12))) AS cs
      FROM e JOIN r{p} r ON e.src = r.node GROUP BY dst),
    r{k} AS (
      SELECT d.node, d.out_w,
             ROUND(ROUND((1.0 - {PR_DAMPING}) / n, 12)
                   + {PR_DAMPING} * (COALESCE(CAST(cs AS DOUBLE), 0)
                                     + CAST(dm AS DOUBLE)), 12) AS rank
      FROM deg d LEFT JOIN c{k} ON d.node = c{k}.dst CROSS JOIN dm{k} CROSS JOIN nn)""")
    return (
        head + "," + ",".join(its)
        + f"\n    SELECT node, ROUND(rank, 6) AS rank FROM r{PR_ITERS}\n    "
    )


register("q_pagerank", q_pagerank, _pagerank_oracle())


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count over the part co-occurrence graph (parts
    appearing in the same order are adjacent) — the classic
    wedge-join/edge-close algorithm as three DataFrame joins.

    Edges are ORIENTED by (degree, id) — the standard trick that
    bounds every wedge fan-out by the SMALLER endpoint degree, turning
    the worst-case hub quadratic into O(m^1.5) total work: every
    triangle is enumerated exactly once as (u→v, u→w, v→w) with u the
    lowest-key corner and key(v) < key(w). The triangle COUNT is
    orientation-invariant, so the DuckDB oracle keeps the simpler
    raw-id orientation and must produce the identical number. Measured
    honestly: at sf0.1 this graph is near-uniform (max degree 222 vs
    avg 120 over 1.2M edges), so both orientations cost the same
    ~72M-wedge join (~7 s) — the degree bound pays off on SKEWED
    graphs (real co-occurrence corpora follow power laws), which is
    why it is the registered plan. The degree table is tiny (one row
    per part) — AQE broadcasts it. Edge building is one
    self-join per order (quadratic per ORDER only — baskets are
    small), then distinct."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
    )
    deg = (
        edges.select(F.col("p1").alias("n"))
        .unionAll(edges.select(F.col("p2").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    keyed = (
        edges.join(F.broadcast(da), F.col("p1") == F.col("da.n"))
        .join(F.broadcast(db), F.col("p2") == F.col("db.n"))
        .select(
            "p1",
            "p2",
            (F.col("da.d") * 10_000_000_000 + F.col("p1")).alias("k1"),
            (F.col("db.d") * 10_000_000_000 + F.col("p2")).alias("k2"),
        )
    )
    fwd = F.col("k1") <= F.col("k2")
    oriented = keyed.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        F.when(fwd, F.col("k2")).otherwise(F.col("k1")).alias("kdst"),
    ).localCheckpoint(eager=False)  # three self-join references
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    tri = (
        o1.join(
            o2,
            (F.col("o1.src") == F.col("o2.src"))
            & (F.col("o1.kdst") < F.col("o2.kdst")),
        )
        .join(
            o3,
            (F.col("o1.dst") == F.col("o3.src")) & (F.col("o2.dst") == F.col("o3.dst")),
        )
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


register(
    "q_triangle_count",
    q_triangle_count,
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey)
    SELECT COUNT(*) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
              JOIN e e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
    """,
)


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order line items: pair
    support from one oriented self-join on the order key, item support
    from one groupBy, confidence/lift as exact ratios of counts
    (IEEE-deterministic: same integer operands → same double on every
    engine). Top 20 pairs by lift. The per-order quadratic term is
    bounded by basket size; the only corpus-wide shuffles are the two
    aggregations — the A-Priori first pass, which is all a pair-rule
    report needs."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    ia, ib = item.alias("ia"), item.alias("ib")
    out = (
        pair.join(ia, F.col("p1") == F.col("ia.l_partkey"))
        .join(ib, F.col("p2") == F.col("ib.l_partkey"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n_both",
            F.round(F.col("n_both") / F.col("ia.cnt"), 6).alias("conf_fwd"),
            F.round(
                F.col("n_both") * F.col("n") / (F.col("ia.cnt") * F.col("ib.cnt")), 6
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("lift"), F.desc("n_both"), F.asc("p1"), F.asc("p2")
    ).limit(20)


register(
    "q_basket_rules",
    q_basket_rules,
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
    item AS (SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_both
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT p1, p2, n_both,
           ROUND(n_both / ia.cnt, 6) AS conf_fwd,
           ROUND(n_both * n.n / (ia.cnt * ib.cnt), 6) AS lift
    FROM pair JOIN item ia ON p1 = ia.l_partkey
              JOIN item ib ON p2 = ib.l_partkey
              CROSS JOIN n
    ORDER BY lift DESC NULLS LAST, n_both DESC NULLS LAST,
             p1 ASC NULLS FIRST, p2 ASC NULLS FIRST
    LIMIT 20
    """,
)
