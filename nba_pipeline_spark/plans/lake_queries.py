"""Manifest-lake registry queries: snapshot reads, time travel, and
reader-equivalence across compaction, oracled against DuckDB over the
same source parquet (the lake is a deterministic staging of `orders`).

The staged lake (fingerprint-keyed like the csv/jsonl/orc stages) is
built once per testdata generation:

    v1  append  orders with o_orderkey % 4 IN (0, 1)
    v2  append  orders with o_orderkey % 4 IN (2, 3)
    v3  compact (same rows as v2's snapshot, one segment)

so every version's contents are a pure predicate over `orders` — which
is exactly what the oracle recomputes. Reference analog: the BigQuery
warehouse intent (IaC/main.tf:45-55) — a transactional table readers
can query at a version while writers commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.partitioning import rows_frame
from ..session import tune
from ..sources import load_table
from ..sources import manifest as M
from .queries import _ensure_stage, _stage_dir, register


def _manifest_lake(spark: SparkSession, sf_dir: str) -> str:
    lake = _stage_dir(sf_dir, "orders", "manifest_lake")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 <= 1))
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 >= 2))
        M.compact(spark, lake, target_files=4)

    return _ensure_stage(lake, build)


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        # exact-decimal sum: order-independent across engines
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.max("o_custkey").alias("max_cust"),
    )


_AGG_ORACLE = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
    "MAX(o_custkey) AS max_cust FROM orders{where} GROUP BY o_orderstatus"
)


def q_manifest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest snapshot (v3, post-compaction) == the full orders set."""
    tune(spark)
    lake = _manifest_lake(spark, sf_dir)
    return _agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_snapshot",
    q_manifest_snapshot,
    _AGG_ORACLE.format(where=""),
)


def q_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF version 1: only the first append's rows are visible even
    though two later commits (append + compact) exist."""
    tune(spark)
    lake = _manifest_lake(spark, sf_dir)
    return _agg(M.read_snapshot(spark, lake, version=1))


register(
    "q_manifest_time_travel",
    q_manifest_time_travel,
    _AGG_ORACLE.format(where=" WHERE o_orderkey % 4 <= 1"),
)


def q_manifest_compact_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader equivalence across compaction: v2 (two appended segments)
    and v3 (one compacted segment) aggregate identically — the commit
    changed the layout, never the contents. Two rows per status, one
    per version, both equal to the full-orders aggregate."""
    tune(spark)
    lake = _manifest_lake(spark, sf_dir)
    v2 = _agg(M.read_snapshot(spark, lake, version=2)).withColumn(
        "version", F.lit(2)
    )
    v3 = _agg(M.read_snapshot(spark, lake, version=3)).withColumn(
        "version", F.lit(3)
    )
    return v2.unionByName(v3)


register(
    "q_manifest_compact_read",
    q_manifest_compact_read,
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
    "MAX(o_custkey) AS max_cust, v.version AS version "
    "FROM orders CROSS JOIN (SELECT 2 AS version UNION ALL SELECT 3) v "
    "GROUP BY o_orderstatus, v.version",
)


def _upsert_lake(spark: SparkSession, sf_dir: str) -> str:
    """v1: orders with o_orderkey % 4 <= 1; v2: MERGE of changes for
    % 4 IN (1, 2) with o_custkey shifted +1,000,000 (update for 1,
    insert for 2). Every version's contents stay a pure predicate over
    `orders` — recomputable by the oracle."""
    lake = _stage_dir(sf_dir, "orders", "manifest_upsert")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 <= 1))
        changes = orders.filter((F.col("o_orderkey") % 4).isin(1, 2)).select(
            "o_orderkey",
            (F.col("o_custkey") + 1_000_000).alias("o_custkey"),
            "o_orderstatus",
            "o_totalprice",
            F.lit(1).alias("ver"),
        )
        M.commit_upsert(spark, lake, changes, ["o_orderkey"], "ver")

    return _ensure_stage(lake, build)


def q_manifest_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE into the manifest lake (SCD1 last-writer-wins, CAS on the
    parent snapshot): updated keys take the change row, new keys
    insert, untouched rows persist — aggregated per status."""
    tune(spark)
    lake = _upsert_lake(spark, sf_dir)
    t = M.read_snapshot(spark, lake)
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").cast("bigint").alias("sum_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_upsert",
    q_manifest_upsert,
    """
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 IN (1, 2)
                  THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 4 <= 2
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)


def _evolution_lake(spark: SparkSession, sf_dir: str) -> str:
    """v1: (o_orderkey, o_orderstatus) for % 4 = 0; v2 appends the
    WIDER (…, o_totalprice) segment for % 4 = 1 — additive schema
    evolution on immutable segments."""
    lake = _stage_dir(sf_dir, "orders", "manifest_evolution")

    def build():
        orders = load_table(spark, sf_dir, "orders")
        M.commit_append(
            spark,
            lake,
            orders.filter(F.col("o_orderkey") % 4 == 0).select(
                "o_orderkey", "o_orderstatus"
            ),
        )
        M.commit_append(
            spark,
            lake,
            orders.filter(F.col("o_orderkey") % 4 == 1).select(
                "o_orderkey", "o_orderstatus", "o_totalprice"
            ),
        )

    return _ensure_stage(lake, build)


def q_manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_schema read over schema-evolved segments: rows from the
    narrow segment surface NULL for the later-added column; the
    aggregate counts both populations per status."""
    tune(spark)
    lake = _evolution_lake(spark, sf_dir)
    t = M.read_snapshot(spark, lake, merge_schema=True)
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_totalprice").alias("n_with_price"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_schema_evolution",
    q_manifest_schema_evolution,
    """
    WITH t AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 4 <= 1
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           COUNT(o_totalprice) AS n_with_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM t GROUP BY o_orderstatus
    """,
)


def _partitioned_lake(spark: SparkSession, sf_dir: str) -> str:
    """One partition-tagged, stats-carrying segment per order year —
    the layout q_manifest_pruned_read skips through."""
    lake = _stage_dir(sf_dir, "orders", "manifest_partitioned")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        years = sorted(
            (r["o_year"] for r in orders.select("o_year").distinct().collect()),
            key=lambda y: (y is None, y),  # NULL year = its own partition
        )
        if not years:  # empty source: still establish a readable v1
            M.commit_append(spark, lake, orders.limit(0))
        for yr in years:
            M.commit_append(
                spark,
                lake,
                orders.filter(F.col("o_year").eqNullSafe(F.lit(yr))),
                partition={"o_year": yr},
                stats_cols=["o_orderkey"],
            )

    return _ensure_stage(lake, build)


def q_manifest_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping end-to-end: a year-equality read
    resolves ONE segment out of the whole lake (asserted — the pruning
    is the result, not a hint) and aggregates it. At 100 TB this is the
    difference between listing one partition's files and listing the
    table."""
    tune(spark)
    lake = _partitioned_lake(spark, sf_dir)
    segs = M.resolve_segments(spark, lake, part_eq={"o_year": 1997})
    if segs:
        assert len(segs) == 1, f"pruning failed: {len(segs)} segments"
        t = M.read_snapshot(spark, lake, part_eq={"o_year": 1997}).filter(
            F.col("o_year") == 1997
        )
    else:  # no 1997 partition in this source (adversarial shapes):
        # the pruned set is legitimately empty -> empty aggregate input
        t = M.read_snapshot(spark, lake).filter(F.col("o_year") == 1997)
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_custkey").alias("max_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_pruned_read",
    q_manifest_pruned_read,
    """
    SELECT COUNT(*) AS n, MAX(o_custkey) AS max_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE year(o_orderdate) = 1997
    """,
)


def q_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed v1→v2 on the upsert lake: the MERGE's effect
    read back as one (key, op) row per change — updates for the keys
    the change set modified, inserts for the new keys, nothing for
    untouched rows (sources/manifest.py::snapshot_diff)."""
    tune(spark)
    lake = _upsert_lake(spark, sf_dir)
    return M.snapshot_diff(spark, lake, 1, 2, ["o_orderkey"])


register(
    "q_manifest_diff",
    q_manifest_diff,
    """
    SELECT o_orderkey, 'update' AS op FROM orders WHERE o_orderkey % 4 = 1
    UNION ALL
    SELECT o_orderkey, 'insert' AS op FROM orders WHERE o_orderkey % 4 = 2
    """,
)


def _bloom_lake(spark: SparkSession, sf_dir: str) -> str:
    """Year segments with per-segment blooms on o_orderkey — the layout
    q_manifest_bloom_read point-skips through (a uniform key spans
    every segment's min/max range but lives in exactly one)."""
    lake = _stage_dir(sf_dir, "orders", "manifest_bloom2")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        years = sorted(
            (r["o_year"] for r in orders.select("o_year").distinct().collect()),
            key=lambda y: (y is None, y),
        )
        if not years:
            M.commit_append(spark, lake, orders.limit(0))
        for yr in years:
            M.commit_append(
                spark,
                lake,
                orders.filter(F.col("o_year").eqNullSafe(F.lit(yr))),
                partition={"o_year": yr},
                bloom_cols=["o_orderkey"],
            )
    return _ensure_stage(lake, build)


def q_manifest_bloom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom point-skip end-to-end: a key-equality lookup prunes the
    year segments through per-segment blooms (min/max stats CANNOT
    prune here — o_orderkey is uniform across years) and returns the
    one matching order. Pruning quality asserted: at most 2 of N
    segments survive (true segment + rare false positives)."""
    tune(spark)
    lake = _bloom_lake(spark, sf_dir)
    key = 7  # exists at every TPC-H scale
    segs = M.resolve_segments(spark, lake, bloom_eq={"o_orderkey": key})
    all_segs = M.resolve_segments(spark, lake)
    n_all = len(all_segs)
    meta = M._read_manifest(spark, lake, M.current_version(spark, lake)).get(
        "meta", {}
    )
    has_blooms = all("bloom" in meta.get(s, {}) for s in all_segs)
    # pruning is only claimable where blooms exist (oversize segments
    # legitimately omit them — that regime is parquet file-level bloom
    # territory); where they do, a point probe must hit <=2 segments
    if n_all > 2 and has_blooms:
        assert len(segs) <= 2, f"bloom pruning failed: {len(segs)}/{n_all}"
    if segs:
        t = M.read_snapshot(spark, lake, bloom_eq={"o_orderkey": key})
    else:  # absent key at this scale: empty aggregate input
        t = M.read_snapshot(spark, lake)
    t = t.filter(F.col("o_orderkey") == key)
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_custkey").alias("max_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_bloom_read",
    q_manifest_bloom_read,
    """
    SELECT COUNT(*) AS n, MAX(o_custkey) AS max_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey = 7
    """,
)


def _band_stage(spark: SparkSession, sf_dir: str, kind: str, mutate) -> str:
    """Key-range-clustered lake: four orderkey quartile bands, one
    stats-tagged segment each (band width = ceil(max_key/4), so the
    band of every key is a pure function of `orders` that the oracle
    recomputes from its own MAX(o_orderkey)), then `mutate(lake,
    banded_df, maxk)` applies the op under test. Layout for the
    stats-pruned MERGE / row-delete queries."""
    import math

    lake = _stage_dir(sf_dir, "orders", kind)

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        maxk = orders.agg(F.max("o_orderkey")).collect()[0][0] or 1
        w = math.ceil((maxk + 1) / 4)  # keys are 0-based: band 0..3 total
        banded = orders.withColumn(
            "band", F.floor(F.col("o_orderkey") / F.lit(w)).cast("int")
        )
        for b in range(4):
            part = banded.filter(F.col("band") == b)
            if not part.isEmpty():
                M.commit_append(spark, lake, part, stats_cols=["o_orderkey"])
        mutate(lake, banded, maxk)

    return _ensure_stage(lake, build)


def _assert_pruned_commit(spark: SparkSession, lake: str) -> None:
    """The op under test must have REWRITTEN at most one segment: every
    other base segment transfers into the final manifest by name (the
    pruning is the result, not a hint)."""
    v = M.current_version(spark, lake)
    base = set(M._read_manifest(spark, lake, v - 1)["segments"])
    final = set(M._read_manifest(spark, lake, v)["segments"])
    if len(base) >= 2:
        rewritten = base - final
        assert len(rewritten) <= 1, (
            f"segment skipping failed: {len(rewritten)}/{len(base)} rewritten"
        )


_BAND_AGG_ORACLE = """
    WITH mx AS (SELECT MAX(o_orderkey) AS maxk,
                       CAST(ceil((MAX(o_orderkey) + 1)/4.0) AS BIGINT) AS w
                FROM orders),
    base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                    CAST(floor(o_orderkey / (SELECT w FROM mx)) AS INT) AS band
             FROM orders),
    final AS ({final})
    SELECT band, COUNT(*) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MAX(o_orderkey) AS max_key
    FROM final GROUP BY band
"""


def _band_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").cast("bigint").alias("sum_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.max("o_orderkey").alias("max_key"),
    )


def q_manifest_merge_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-skipping MERGE end-to-end
    (sources/manifest.py::commit_upsert_pruned): a change batch whose
    keys live in ONE orderkey band (updates: band-1 custkeys +1M;
    inserts: band-1 keys shifted past max, band sentinel 7) rewrites
    only that band's segment — the other three transfer by name
    (asserted). At 100 TB this is a CDC batch rewriting 3 of 10,000
    key-range segments instead of the table."""
    tune(spark)

    def mutate(lake, banded, maxk):
        b1 = banded.filter(F.col("band") == 1)
        updates = b1.select(
            "o_orderkey",
            (F.col("o_custkey") + 1_000_000).alias("o_custkey"),
            "o_totalprice",
            "band",
            F.lit(1).alias("ver"),
        )
        inserts = b1.select(
            (F.col("o_orderkey") + maxk).alias("o_orderkey"),
            (F.col("o_custkey") + 2_000_000).alias("o_custkey"),
            "o_totalprice",
            F.lit(7).cast("int").alias("band"),
            F.lit(1).alias("ver"),
        )
        M.commit_upsert_pruned(
            spark, lake, updates.unionByName(inserts), ["o_orderkey"], "ver"
        )

    lake = _band_stage(spark, sf_dir, "manifest_merge_pruned", mutate)
    _assert_pruned_commit(spark, lake)
    return _band_agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_merge_pruned",
    q_manifest_merge_pruned,
    _BAND_AGG_ORACLE.format(
        final="""
      SELECT o_orderkey,
             CASE WHEN band = 1 THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             o_totalprice, band
      FROM base
      UNION ALL
      SELECT o_orderkey + (SELECT maxk FROM mx), o_custkey + 2000000,
             o_totalprice, 7
      FROM base WHERE band = 1"""
    ),
)


def q_manifest_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE, copy-on-write
    (sources/manifest.py::commit_delete): delete keys all live in
    band 2, so only that segment is anti-joined and rewritten — bands
    0/1/3 transfer by name (asserted). The takedown/GDPR path that
    rewrites the few holding segments, not the table."""
    tune(spark)

    def mutate(lake, banded, maxk):
        dels = banded.filter(
            (F.col("band") == 2) & (F.col("o_orderkey") % 3 == 0)
        ).select("o_orderkey")
        M.commit_delete(spark, lake, dels, ["o_orderkey"])

    lake = _band_stage(spark, sf_dir, "manifest_delete", mutate)
    _assert_pruned_commit(spark, lake)
    return _band_agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_delete",
    q_manifest_delete,
    _BAND_AGG_ORACLE.format(
        final="""
      SELECT o_orderkey, o_custkey, o_totalprice, band FROM base
      WHERE NOT (band = 2 AND o_orderkey % 3 = 0)"""
    ),
)


def q_manifest_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE, merge-on-read
    (sources/manifest.py::commit_delete_mor): the tombstone commit
    moves ZERO data (asserted: segment list unchanged, one pending
    tombstone) and the snapshot read applies it as an anti join —
    the O(batch) takedown shape whose rewrite cost is deferred to
    compaction."""
    tune(spark)
    lake = _stage_dir(sf_dir, "orders", "manifest_delete_mor")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 <= 1))
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 >= 2))
        M.commit_delete_mor(
            spark,
            lake,
            orders.filter(F.col("o_orderkey") % 10 == 3).select("o_orderkey"),
            ["o_orderkey"],
        )

    _ensure_stage(lake, build)
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert len(m["segments"]) == 2, "MoR delete must not rewrite data"
    assert len(m.get("deletes", [])) == 1, "expected one pending tombstone"
    return _agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_delete_mor",
    q_manifest_delete_mor,
    _AGG_ORACLE.format(where=" WHERE o_orderkey % 10 <> 3"),
)


def q_manifest_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY (sources/manifest.py::history + timestamp
    time travel): the commit log of the staged lake — version lineage,
    op, tombstone count — joined with each snapshot's row count, and
    the AS-OF-timestamp resolution asserted against the recorded commit
    clocks (ts of v_i resolves to exactly v_i: monotone-clamped
    commit timestamps make the lookup exact). Metadata-scale by
    construction: the history scan reads KB manifests, never data."""
    tune(spark)
    lake = _manifest_lake(spark, sf_dir)
    h_rows = M.history(spark, lake).collect()
    for r in h_rows:  # ts time travel: each commit's own ts resolves to it
        # (ts == 0 marks a stage written before commit clocks existed)
        if r["ts"] > 0:
            assert M.version_as_of_timestamp(spark, lake, r["ts"]) == r["version"]
    counts = {
        r["version"]: M.read_snapshot(spark, lake, version=r["version"]).count()
        for r in h_rows
    }
    return rows_frame(
        spark,
        [
            (r["version"], r["parent"], r["op"], r["n_tombstones"], counts[r["version"]])
            for r in h_rows
        ],
        "version int, parent int, op string, n_tombstones int, n_rows long",
    )


register(
    "q_manifest_history",
    q_manifest_history,
    """
    SELECT CAST(1 AS INT) AS version, CAST(NULL AS INT) AS parent,
           'append' AS op, CAST(0 AS INT) AS n_tombstones,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 <= 1) AS n_rows
    UNION ALL
    SELECT CAST(2 AS INT), CAST(1 AS INT), 'append', CAST(0 AS INT),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT CAST(3 AS INT), CAST(2 AS INT), 'compact', CAST(0 AS INT),
           (SELECT COUNT(*) FROM orders)
    """,
)


def _replace_where_lake(spark: SparkSession, sf_dir: str) -> str:
    """orders appended as three o_orderstatus-tagged partitions, then
    the 'P' partition re-stated via replace_where with doubled
    totalprice (exact: double*2 is an exponent bump, cross-engine)."""
    lake = _stage_dir(sf_dir, "orders", "manifest_replace_where_v2")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        # one ATOMIC commit, one tagged segment per status (the
        # multi-partition append readers can never observe partially)
        M.commit_append_partitioned(spark, lake, orders, "o_orderstatus")
        repl = orders.filter(F.col("o_orderstatus") == "P").withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        M.commit_replace_where(
            spark, lake, repl,
            eq={"o_orderstatus": "P"},
            partition_by="o_orderstatus",
        )

    return _ensure_stage(lake, build)


def q_manifest_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-scoped overwrite (sources/manifest.py::
    commit_replace_where — Delta replaceWhere / INSERT OVERWRITE WHERE):
    the 'P' partition is re-stated (totalprice doubled) in ONE commit
    that drops the scoped segment wholesale and transfers the 'O'/'F'
    segments BY NAME — the zero-data-movement property that makes
    nightly partition restatement an O(changed-partition) op at 100 TB.
    The re-stated partition stays tagged, so scoped reads keep pruning
    (both pinned by tests/test_lake_queries.py)."""
    tune(spark)
    return _agg(M.read_snapshot(spark, _replace_where_lake(spark, sf_dir)))


register(
    "q_manifest_replace_where",
    q_manifest_replace_where,
    _AGG_ORACLE.format(
        where=""
    ).replace(
        "FROM orders",
        # IS DISTINCT FROM: NULL-status rows are OUTSIDE the replace
        # scope (null-safe _scope_pred) and must be retained — plain <>
        # silently drops them (adversarial-sweep find, round 6)
        "FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderstatus IS DISTINCT FROM 'P' "
        "UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, "
        "o_totalprice * 2 AS o_totalprice FROM orders WHERE o_orderstatus = 'P')",
    ),
)


def _zorder_lake(spark: SparkSession, sf_dir: str) -> str:
    """orders appended as one unclustered segment, then OPTIMIZE
    ZORDER'd by (o_custkey, o_orderkey) into 16 z-run segments with
    per-segment min/max stats on both keys."""
    lake = _stage_dir(sf_dir, "orders", "manifest_zorder")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        M.commit_append(spark, lake, orders)
        M.cluster(
            spark, lake, ["o_custkey", "o_orderkey"],
            target_segments=16, bits_per_col=8,
        )

    return _ensure_stage(lake, build)


def q_manifest_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering end-to-end (sources/manifest.py::cluster —
    the OPTIMIZE ZORDER maintenance op): after ONE rewrite by the
    Morton interleave of (o_custkey, o_orderkey) quantile buckets, a
    narrow range on o_custkey prunes most of the 16 segments through
    manifest min/max stats (asserted), where the original single-sort
    layout could skip on the leading key only. At 100 TB this is the
    layout behind multi-dimensional range workloads: both probe
    columns get bounded-segment scans from one clustering pass."""
    tune(spark)
    lake = _zorder_lake(spark, sf_dir)
    all_segs = M.resolve_segments(spark, lake)
    lo, hi = 100, 250
    segs = M.resolve_segments(spark, lake, ranges={"o_custkey": (lo, hi)})
    if len(all_segs) >= 8:
        assert len(segs) <= len(all_segs) // 2, (
            f"z-order pruning failed: {len(segs)}/{len(all_segs)}"
        )
    t = M.read_snapshot(spark, lake, ranges={"o_custkey": (lo, hi)}).filter(
        F.col("o_custkey").between(lo, hi)
    )
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_zorder",
    q_manifest_zorder,
    """
    SELECT COUNT(*) AS n, MAX(o_orderkey) AS max_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_custkey BETWEEN 100 AND 250
    """,
)


def q_manifest_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental change-data-feed over the upsert lake
    (sources/manifest.py::read_feed — the batch twin of the
    checkpointed `consume_feed` consumer): every commit's changes
    attributed to its version — v1 surfaces the first append as
    inserts, v2 the MERGE's updates (custkey shift) and inserts."""
    tune(spark)
    lake = _upsert_lake(spark, sf_dir)
    return M.read_feed(spark, lake, ["o_orderkey"], 0)


register(
    "q_manifest_feed",
    q_manifest_feed,
    """
    SELECT o_orderkey, 'insert' AS op, 1 AS version FROM orders WHERE o_orderkey % 4 <= 1
    UNION ALL
    SELECT o_orderkey, 'update' AS op, 2 AS version FROM orders WHERE o_orderkey % 4 = 1
    UNION ALL
    SELECT o_orderkey, 'insert' AS op, 2 AS version FROM orders WHERE o_orderkey % 4 = 2
    """,
)


def _matview_stage(spark: SparkSession, sf_dir: str) -> str:
    """Source lake + incrementally-maintained MV, staged together:
    v1 append (% 4 <= 1), v2 MERGE (% 4 IN (1, 2), custkey +1M;
    status flipped to 'M' for the updated keys — a group-MOVING
    update, the case naive per-group recompute-from-inserts gets
    wrong), v3 copy-on-write DELETE (% 4 = 0 AND % 3 = 0). The MV
    (count + custkey sum per status) is folded forward one source
    version at a time by operators/matview.py over the valued CDF."""
    from ..operators import matview as MV

    root = _stage_dir(sf_dir, "orders", "manifest_matview")

    def build():
        import os

        src, mv, state = f"{root}/src", f"{root}/mv", f"{root}/state"
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        M.commit_append(spark, src, orders.filter(F.col("o_orderkey") % 4 <= 1))
        changes = orders.filter((F.col("o_orderkey") % 4).isin(1, 2)).select(
            "o_orderkey",
            (F.col("o_custkey") + 1_000_000).alias("o_custkey"),
            F.lit("M").alias("o_orderstatus"),
            F.lit(1).alias("ver"),
        )
        M.commit_upsert(spark, src, changes, ["o_orderkey"], "ver")
        dels = orders.filter(
            ((F.col("o_orderkey") % 4) == 0) & ((F.col("o_orderkey") % 3) == 0)
        ).select("o_orderkey")
        M.commit_delete(spark, src, dels, ["o_orderkey"])
        n = MV.maintain_matview(
            spark, src, ["o_orderkey"], mv, ["o_orderstatus"],
            ["o_custkey"], state,
        )
        assert n == 3, f"matview consumed {n} versions, want 3"

    return _ensure_stage(root, build)


def q_manifest_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view
    (operators/matview.py): three source commits (append, group-moving
    MERGE, delete) folded into a per-status count/sum view via the
    valued change feed — each refresh reads O(delta) + O(MV), never
    the source table. The oracle recomputes the view from scratch over
    the source's final state: incremental == full recompute is the
    IVM correctness contract."""
    tune(spark)
    root = _matview_stage(spark, sf_dir)
    return M.read_snapshot(spark, f"{root}/mv").select(
        "o_orderstatus",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("sum_o_custkey").cast("bigint").alias("sum_cust"),
    )


register(
    "q_manifest_matview",
    q_manifest_matview,
    """
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 IN (1, 2)
                  THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             CASE WHEN o_orderkey % 4 IN (1, 2)
                  THEN 'M' ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderkey % 4 <= 2
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM merged
    WHERE NOT (o_orderkey % 4 = 0 AND o_orderkey % 3 = 0)
    GROUP BY o_orderstatus
    """,
)


def _restore_lake(spark: SparkSession, sf_dir: str) -> str:
    """v1 append (% 4 <= 1), v2 MERGE (custkey shift for % 4 IN (1,2)),
    v3 RESTORE to v1 — the metadata-only rollback commit."""
    lake = _stage_dir(sf_dir, "orders", "manifest_restore")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 <= 1))
        changes = orders.filter((F.col("o_orderkey") % 4).isin(1, 2)).select(
            "o_orderkey",
            (F.col("o_custkey") + 1_000_000).alias("o_custkey"),
            "o_orderstatus",
            "o_totalprice",
            F.lit(1).alias("ver"),
        )
        M.commit_upsert(spark, lake, changes, ["o_orderkey"], "ver")
        v = M.restore(spark, lake, version=1)
        assert v == 3

    return _ensure_stage(lake, build)


def q_manifest_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE (sources/manifest.py::restore): after a MERGE
    mutated the table, a metadata-only restore commit re-publishes
    v1's segment list — the latest snapshot must equal v1 exactly,
    with the mutated v2 still retained in history (rollback is a new
    version, not an erasure)."""
    tune(spark)
    lake = _restore_lake(spark, sf_dir)
    ops = {r["version"]: r["op"] for r in M.history(spark, lake).collect()}
    assert ops[3] == "restore" and ops[2] == "upsert", ops
    return _agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_restore",
    q_manifest_restore,
    _AGG_ORACLE.format(where=" WHERE o_orderkey % 4 <= 1"),
)


def _clone_lake(spark: SparkSession, sf_dir: str) -> str:
    """Shallow clone of the shared manifest lake (zero-copy absolute
    references) + one divergent append landing locally in the clone —
    the source must stay untouched (asserted by the query)."""
    root = _stage_dir(sf_dir, "orders", "manifest_clone")

    def build():
        src = _manifest_lake(spark, sf_dir)
        dst = f"{root}/clone"
        M.clone(spark, src, dst)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        extra = orders.filter(F.col("o_orderkey") % 4 == 0).select(
            "o_orderkey",
            (F.col("o_custkey") + 2_000_000).alias("o_custkey"),
            F.lit("X").alias("o_orderstatus"),
            "o_totalprice",
        )
        M.commit_append(spark, dst, extra)

    return _ensure_stage(root, build)


def q_manifest_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow CLONE (sources/manifest.py::clone): the clone reads the
    source's segments by absolute reference (zero copy — no data dir
    until the first local write), then diverges with its own append;
    the source lake's version and contents are unaffected (asserted
    against the shared stage's expected v3)."""
    tune(spark)
    root = _clone_lake(spark, sf_dir)
    src = _manifest_lake(spark, sf_dir)
    assert M.current_version(spark, src) == 3, "clone mutated its source"
    return _agg(M.read_snapshot(spark, f"{root}/clone"))


register(
    "q_manifest_clone",
    q_manifest_clone,
    """
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderkey, o_custkey + 2000000, 'X', o_totalprice
      FROM orders WHERE o_orderkey % 4 = 0
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MAX(o_custkey) AS max_cust
    FROM t GROUP BY o_orderstatus
    """,
)


def _constraints_lake(spark: SparkSession, sf_dir: str) -> str:
    """CHECK-constrained lake: constraint added after v1, a violating
    append is REFUSED (asserted — no version lands), a conforming
    append (o_totalprice forced positive via abs) succeeds. Final
    contents = % 4 <= 1 plus the abs()-fixed % 4 = 2 stripe."""
    lake = _stage_dir(sf_dir, "orders", "manifest_constraints")

    def build():
        # normalized so the constraint holds by construction even on
        # adversarial source shapes (NULL status / non-positive price)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.coalesce(F.col("o_orderstatus"), F.lit("U")).alias("o_orderstatus"),
            (F.abs(F.coalesce(F.col("o_totalprice"), F.lit(1))) + 1).alias(
                "o_totalprice"
            ),
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 <= 1))
        M.set_constraint(
            spark, lake, "price_pos", "o_totalprice > 0 AND o_orderstatus IS NOT NULL"
        )
        bad = orders.filter(F.col("o_orderkey") % 4 == 2).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        )
        v = M.current_version(spark, lake)
        try:
            M.commit_append(spark, lake, bad)
            raise AssertionError("violating append was not refused")
        except M.ConstraintViolation:
            pass
        assert M.current_version(spark, lake) == v, "refused commit left a version"
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 == 2))

    return _ensure_stage(lake, build)


def q_manifest_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints enforced at commit (sources/manifest.py::
    set_constraint/_check_constraints): a violating append is refused
    atomically (no version, no partial data — asserted in staging); the
    surviving contents are exactly the conforming commits. One
    partial-agg'd O(batch) validation job per write; constraints ride
    the manifest's carried props."""
    tune(spark)
    lake = _constraints_lake(spark, sf_dir)
    assert M.table_constraints(spark, lake) == {
        "price_pos": "o_totalprice > 0 AND o_orderstatus IS NOT NULL"
    }
    return _agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_constraints",
    q_manifest_constraints,
    """
    WITH t AS (
      SELECT o_orderkey, o_custkey,
             COALESCE(o_orderstatus, 'U') AS o_orderstatus,
             ABS(COALESCE(o_totalprice, 1)) + 1 AS o_totalprice
      FROM orders WHERE o_orderkey % 4 <= 2
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MAX(o_custkey) AS max_cust
    FROM t GROUP BY o_orderstatus
    """,
)


def _evolved_partition_lake(spark: SparkSession, sf_dir: str) -> str:
    """Partition evolution: gen-1 segments tagged on {band} only
    (band = o_orderkey % 4 ∈ {0, 1}); gen-2 evolves the spec to the
    finer {band, sub} (bands 2-3, sub = (o_orderkey div 4) % 2).
    Rows with a NULL band/sub land untagged (never pruned — sound)."""
    lake = _stage_dir(sf_dir, "orders", "manifest_part_evolution")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            (F.col("o_orderkey") % 4).alias("band"),
            F.expr("(o_orderkey div 4) % 2").alias("sub"),
        )
        for b in (0, 1):
            M.commit_append(
                spark, lake, orders.filter(F.col("band") == b),
                partition={"band": b},
            )
        for b in (2, 3):
            for s in (0, 1):
                M.commit_append(
                    spark, lake,
                    orders.filter((F.col("band") == b) & (F.col("sub") == s)),
                    partition={"band": b, "sub": s},
                )
        covered = (F.col("band").isin(0, 1)) | (
            F.col("band").isin(2, 3) & F.col("sub").isin(0, 1)
        )
        rest = orders.filter(~F.coalesce(covered, F.lit(False)))
        if rest.limit(1).count():
            M.commit_append(spark, lake, rest)

    return _ensure_stage(lake, build)


def q_manifest_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution (Iceberg-style spec change without
    rewriting history): old segments tagged on the coarse spec {band},
    new segments on the finer {band, sub}. A probe on the NEW column
    keeps the untagged-by-sub gen-1 segments (provably-unknowable is
    never pruned) and drops the provably-disjoint sub partitions —
    asserted; the filtered read recomputes exactly."""
    tune(spark)
    lake = _evolved_partition_lake(spark, sf_dir)
    segs = M.resolve_segments(spark, lake, part_eq={"sub": 1})
    all_segs = M.resolve_segments(spark, lake)
    # of the 4 gen-2 segments the two sub=0 ones are pruned (when their
    # partitions exist at this scale); gen-1 stays
    assert len(segs) < len(all_segs) or len(all_segs) <= 4, (segs, all_segs)
    t = M.read_snapshot(spark, lake, part_eq={"sub": 1}).filter(F.col("sub") == 1)
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.max("o_custkey").alias("max_cust"),
    )


register(
    "q_manifest_partition_evolution",
    q_manifest_partition_evolution,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MAX(o_custkey) AS max_cust
    FROM orders WHERE (o_orderkey // 4) % 2 = 1
    GROUP BY o_orderstatus
    """,
)


def q_manifest_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata tables (sources/manifest.py::files/partitions — the
    Iceberg ``table.partitions`` analog): per partition-tag segment
    and row counts from manifest metadata + parquet footers, no data
    pages read. Runs on the evolved-spec lake, so both generations'
    tag shapes appear; the oracle recomputes each tag's census from
    the staging predicates (empty staged partitions included)."""
    tune(spark)
    lake = _evolved_partition_lake(spark, sf_dir)
    return M.partitions(spark, lake).select(
        "part",
        F.col("n_segments").cast("bigint").alias("n_segments"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )


register(
    "q_manifest_files",
    q_manifest_files,
    """
    WITH o AS (
      SELECT o_orderkey % 4 AS band, (o_orderkey // 4) % 2 AS sub FROM orders
    ),
    b01 AS (
      SELECT '{"band": ' || b.band || '}' AS part, COALESCE(c.n, 0) AS n_rows
      FROM (VALUES (0), (1)) b(band)
      LEFT JOIN (SELECT band, COUNT(*) AS n FROM o WHERE band IN (0, 1)
                 GROUP BY band) c USING (band)
    ),
    b23 AS (
      SELECT '{"band": ' || g.band || ', "sub": ' || g.sub || '}' AS part,
             COALESCE(c.n, 0) AS n_rows
      FROM (VALUES (2, 0), (2, 1), (3, 0), (3, 1)) g(band, sub)
      LEFT JOIN (SELECT band, sub, COUNT(*) AS n FROM o
                 WHERE band IN (2, 3) AND sub IN (0, 1)
                 GROUP BY band, sub) c ON g.band = c.band AND g.sub = c.sub
    ),
    rest AS (
      SELECT '{}' AS part, COUNT(*) AS n_rows FROM o
      WHERE NOT COALESCE(band IN (0, 1) OR (band IN (2, 3) AND sub IN (0, 1)),
                         FALSE)
      HAVING COUNT(*) > 0
    ),
    u AS (SELECT * FROM b01 UNION ALL SELECT * FROM b23 UNION ALL SELECT * FROM rest)
    SELECT part, CAST(1 AS BIGINT) AS n_segments, CAST(n_rows AS BIGINT) AS n_rows
    FROM u
    """,
)


def _stream_lake(spark: SparkSession, sf_dir: str) -> str:
    """Two append commits over orders key-stripes — the feed the
    manifest_stream source replays by version."""
    lake = _stage_dir(sf_dir, "orders", "manifest_stream")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 <= 1))
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 >= 2))

    return _ensure_stage(lake, build)


def q_manifest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming over the lake
    (sources/lake_stream.py — spark.readStream.format(
    "manifest_stream")): version offsets checkpointed by the engine,
    one input partition per newly-appended parquet file, rows carry
    _commit_version. The query runs the REAL stream (availableNow) with
    a streaming groupBy into a memory sink; the oracle recomputes each
    commit's census from the staging stripes — exactly-once delivery
    is the equality. The finished memory-sink table is memoized per
    (session, lake): registry-wide plan sweeps call every builder
    several times, and re-running a finished availableNow stream would
    cost seconds per call for an identical result."""
    import uuid

    from ..sources.lake_stream import register_lake_stream

    tune(spark)
    register_lake_stream(spark)
    lake = _stream_lake(spark, sf_dir)
    memo = getattr(spark, "_mstream_memo", None)
    if memo is None:
        memo = {}
        spark._mstream_memo = memo
    if lake in memo:
        return memo[lake]
    name = f"mstream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", lake)
        .load()
        .groupBy("_commit_version")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_custkey").cast("bigint").alias("sum_cust"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name).select(
        F.col("_commit_version").cast("int").alias("version"), "n", "sum_cust"
    )
    memo[lake] = out
    return out


register(
    "q_manifest_stream",
    q_manifest_stream,
    """
    SELECT 1 AS version, COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM orders WHERE o_orderkey % 4 <= 1
    UNION ALL
    SELECT 2, COUNT(*), CAST(SUM(o_custkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 4 >= 2
    """,
)


def _zorder_part_lake(spark: SparkSession, sf_dir: str) -> str:
    """band-tagged lake (band = o_orderkey % 3) z-ordered WITHIN
    partitions by o_custkey — tags survive, per-segment custkey stats
    land."""
    lake = _stage_dir(sf_dir, "orders", "manifest_zorder_part")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice",
            (F.col("o_orderkey") % 3).alias("band"),
        ).filter(F.col("o_orderkey").isNotNull())
        M.commit_append_partitioned(spark, lake, orders, "band")
        M.cluster_partitioned(
            spark, lake, "band", ["o_custkey"],
            target_segments_per_partition=4, bits_per_col=8,
        )

    return _ensure_stage(lake, build)


def q_manifest_zorder_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-preserving OPTIMIZE ZORDER (sources/manifest.py::
    cluster_partitioned — Delta's within-partition semantics): after
    maintenance the partition probe still prunes to one partition's
    segments AND a custkey range probe prunes z-runs within it
    (asserted when the partition has rows); the scoped aggregate
    recomputes exactly."""
    tune(spark)
    lake = _zorder_part_lake(spark, sf_dir)
    all_segs = M.resolve_segments(spark, lake)
    band1 = M.resolve_segments(spark, lake, part_eq={"band": 1})
    assert len(band1) < len(all_segs) or len(all_segs) <= 1, (band1, all_segs)
    if band1:
        lo = 0
        ranged = M.resolve_segments(
            spark, lake, part_eq={"band": 1}, ranges={"o_custkey": (lo, lo + 5)}
        )
        assert len(ranged) <= len(band1)
    t = M.read_snapshot(spark, lake, part_eq={"band": 1}).filter(
        F.col("band") == 1
    )
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_custkey").alias("max_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_zorder_partitioned",
    q_manifest_zorder_partitioned,
    """
    SELECT COUNT(*) AS n, MAX(o_custkey) AS max_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey % 3 = 1
    """,
)


def _zorder_incr_lake(spark: SparkSession, sf_dir: str) -> str:
    """Cluster, then append a fresh stripe, then fold it in with
    cluster_incremental — the settled runs that receive no new rows
    transfer by name (tests/test_lake_queries.py pins that the fold
    consumed the append)."""
    lake = _stage_dir(sf_dir, "orders", "manifest_zorder_incr")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 3 <= 1))
        M.cluster(
            spark, lake, ["o_custkey", "o_orderkey"],
            target_segments=8, bits_per_col=6,
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 3 == 2))
        M.cluster_incremental(spark, lake)

    return _ensure_stage(lake, build)


def q_manifest_zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OPTIMIZE (sources/manifest.py::cluster_incremental):
    a post-cluster append folds into the existing z-layout — new rows
    route by the manifest-persisted cut points, only receiving runs
    rewrite, and a custkey range probe keeps pruning through refreshed
    stats. The aggregate recomputes exactly over base ∪ appended
    stripe = all orders in the range."""
    tune(spark)
    lake = _zorder_incr_lake(spark, sf_dir)
    hi = 300
    t = M.read_snapshot(spark, lake, ranges={"o_custkey": (0, hi)}).filter(
        F.col("o_custkey").between(0, hi)
    )
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_zorder_incremental",
    q_manifest_zorder_incremental,
    """
    SELECT COUNT(*) AS n, MAX(o_orderkey) AS max_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_custkey BETWEEN 0 AND 300
    """,
)


def q_manifest_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping (Delta name-mode parity): a customer slice lands
    in a lake, ``rename_column`` moves c_acctbal -> balance as a
    METADATA-ONLY commit (segments untouched — asserted), a post-rename
    append writes the LOGICAL name (translated to physical under the
    hood), and one read over the mixed segments comes back under the
    logical schema. ``drop_column`` then hides the comment column
    without touching a byte (c_mktsegment). The oracle replays the rename as plain
    SQL aliases over the same rows — identical results prove the
    mapping is pure metadata."""
    tune(spark)
    lake = _stage_dir(sf_dir, "customer", "manifest_colmap") + "/lake"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    if M.current_version(spark, lake) is None:
        first = cust.filter(F.col("c_custkey") % 2 == 0)
        second = cust.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey",
            F.col("c_acctbal").alias("balance"),
            "c_mktsegment",
        )
        M.commit_append(spark, lake, first)
        segs_before = set(M.resolve_segments(spark, lake))
        M.rename_column(spark, lake, "c_acctbal", "balance")
        assert set(M.resolve_segments(spark, lake)) == segs_before
        M.commit_append(spark, lake, second)  # logical names in, physical out
        M.drop_column(spark, lake, "c_mktsegment")
    snap = M.read_snapshot(spark, lake, merge_schema=True)
    return snap.groupBy((F.col("c_custkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("balance").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_balance"),
    )


register(
    "q_manifest_rename",
    q_manifest_rename,
    """
    SELECT c_custkey % 10 AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_balance
    FROM customer
    GROUP BY c_custkey % 10
    """,
)


# ---------------------------------------------------------------------
# r8: maintenance on COLUMN-MAPPED lakes (VERDICT r7 next #3/#4) — a
# rename must not cost a 100 TB table its clustering or its
# partition-scoped MERGE. Both stages rename FIRST, then run the
# maintenance op through the logical names; the oracle replays the
# same math over the source parquet under SQL aliases, so identical
# results prove the logical->physical translation is pure metadata.
# ---------------------------------------------------------------------


def _zorder_mapped_lake(spark: SparkSession, sf_dir: str) -> str:
    """orders appended, o_custkey RENAMED to cust_id (metadata-only),
    then OPTIMIZE ZORDER'd by the logical (cust_id, o_orderkey) — the
    Delta name-mode guarantee that schema change doesn't forfeit
    clustering maintenance."""
    lake = _stage_dir(sf_dir, "orders", "manifest_zorder_mapped")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        M.commit_append(spark, lake, orders)
        M.rename_column(spark, lake, "o_custkey", "cust_id")
        M.cluster(
            spark, lake, ["cust_id", "o_orderkey"],
            target_segments=16, bits_per_col=8,
        )

    return _ensure_stage(lake, build)


def q_manifest_zorder_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering on a COLUMN-MAPPED lake: after a
    metadata-only rename (o_custkey -> cust_id), OPTIMIZE ZORDER runs
    through the logical names (translated to the immutable physical
    names — clustering is a raw-segment passthrough like compact), and
    a range probe on the RENAMED column still prunes most of the 16
    segments via manifest min/max stats (asserted). The round-7 gate
    REFUSED this; at 100 TB that meant one rename forfeited clustering
    maintenance until a full rewrite."""
    tune(spark)
    lake = _zorder_mapped_lake(spark, sf_dir)
    all_segs = M.resolve_segments(spark, lake)
    lo, hi = 100, 250
    segs = M.resolve_segments(spark, lake, ranges={"cust_id": (lo, hi)})
    if len(all_segs) >= 8:
        assert len(segs) <= len(all_segs) // 2, (
            f"z-order pruning failed on mapped lake: {len(segs)}/{len(all_segs)}"
        )
    t = M.read_snapshot(spark, lake, ranges={"cust_id": (lo, hi)}).filter(
        F.col("cust_id").between(lo, hi)
    )
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_zorder_mapped",
    q_manifest_zorder_mapped,
    """
    SELECT COUNT(*) AS n, MAX(o_orderkey) AS max_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_custkey BETWEEN 100 AND 250
    """,
)


def _merge_mapped_lake(spark: SparkSession, sf_dir: str) -> str:
    """Four band-partition-tagged segments of orders, o_custkey RENAMED
    to cust_id, then a partition-scoped MERGE through the logical
    names: band-1 updates (cust_id + 1M) + inserts into new band 7 —
    bands 0/2/3 must transfer by name (asserted by the query)."""
    import math

    lake = _stage_dir(sf_dir, "orders", "manifest_merge_mapped")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        maxk = orders.agg(F.max("o_orderkey")).collect()[0][0] or 1
        w = math.ceil((maxk + 1) / 4)
        banded = orders.withColumn(
            "band", F.floor(F.col("o_orderkey") / F.lit(w)).cast("int")
        )
        for b in range(4):
            part = banded.filter(F.col("band") == b)
            if not part.isEmpty():
                M.commit_append(spark, lake, part, partition={"band": b})
        M.rename_column(spark, lake, "o_custkey", "cust_id")
        b1 = banded.filter(F.col("band") == 1)
        updates = b1.select(
            "o_orderkey",
            (F.col("o_custkey") + 1_000_000).alias("cust_id"),
            "o_totalprice",
            "band",
            F.lit(1).alias("ver"),
        )
        inserts = b1.select(
            (F.col("o_orderkey") + maxk).alias("o_orderkey"),
            (F.col("o_custkey") + 2_000_000).alias("cust_id"),
            "o_totalprice",
            F.lit(7).cast("int").alias("band"),
            F.lit(1).alias("ver"),
        )
        M.commit_upsert_partitioned(
            spark, lake, updates.unionByName(inserts),
            ["o_orderkey"], "ver", part_col="band",
        )

    return _ensure_stage(lake, build)


def q_manifest_merge_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped MERGE on a COLUMN-MAPPED lake
    (sources/manifest.py::commit_upsert_partitioned): after the
    metadata-only rename, the change batch arrives under LOGICAL names
    (cust_id), translates to physical for the merge, and only band 1 +
    new band 7 rewrite — bands 0/2/3 transfer BY NAME across the
    rename (asserted), and the mapping survives the commit. The
    round-7 gate refused this; a 100 TB CDC pipeline cannot pause
    merges for a schema rename."""
    tune(spark)
    lake = _merge_mapped_lake(spark, sf_dir)
    # untouched segments transferred by name through the mapped MERGE
    # (adversarial/tiny datasets may land every row in band 1 — then
    # there is nothing to transfer and the assertion is vacuous)
    v = M.current_version(spark, lake)
    base = set(M._read_manifest(spark, lake, v - 1)["segments"])
    final = set(M._read_manifest(spark, lake, v)["segments"])
    if len(base) >= 4:
        assert len(base & final) >= 3, "mapped MERGE must transfer untouched bands"
    props = M._read_manifest(spark, lake, v).get("props", {})
    assert props.get("colmap") == {"cust_id": "o_custkey"}, "mapping must survive"
    t = M.read_snapshot(spark, lake)
    return t.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cust_id").cast("bigint").alias("sum_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.max("o_orderkey").alias("max_key"),
    )


register(
    "q_manifest_merge_mapped",
    q_manifest_merge_mapped,
    """
    WITH mx AS (SELECT MAX(o_orderkey) AS maxk,
                       CAST(ceil((MAX(o_orderkey) + 1)/4.0) AS BIGINT) AS w
                FROM orders),
    base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                    CAST(floor(o_orderkey / (SELECT w FROM mx)) AS INT) AS band
             FROM orders),
    final AS (
      SELECT o_orderkey,
             CASE WHEN band = 1 THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             o_totalprice, band
      FROM base
      UNION ALL
      SELECT o_orderkey + (SELECT maxk FROM mx), o_custkey + 2000000,
             o_totalprice, 7
      FROM base WHERE band = 1)
    SELECT band, COUNT(*) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MAX(o_orderkey) AS max_key
    FROM final GROUP BY band
    """,
)


def _backfill_stage(spark: SparkSession, sf_dir: str) -> str:
    """A 10-segment orders lake backfilled into a downstream lake in
    bounded 3-segment chunks with ``backfill=<i>`` idempotency tags,
    then one post-pin commit delivered by the stream handoff path
    (consume_feed at starting point V) — the chunked-bootstrap
    pipeline exercised end-to-end."""
    root = _stage_dir(sf_dir, "orders", "manifest_backfill_chunked")
    src, dst, state = f"{root}/src", f"{root}/dst", f"{root}/state"

    def build():
        from ..sources import manifest as M2

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        for b in range(10):
            part = orders.filter(F.col("o_orderkey") % 10 == b)
            if not part.isEmpty():
                M2.commit_append(spark, src, part)
        spans = []

        def process(df, idx, n_chunks):
            spans.append((idx, n_chunks))
            M2.commit_append(spark, dst, df, tag=f"backfill={idx}")

        # adversarial/tiny datasets can leave some buckets empty: the
        # chunk count follows the ACTUAL segment count
        import math as _math

        n_segs = len(M2.resolve_segments(spark, src))
        want = _math.ceil(n_segs / 3)
        v = M2.backfill_snapshot_chunks(
            spark, src, process, state, chunk_segments=3
        )
        assert [i for i, _ in spans] == list(range(want)), spans
        assert v == M2.current_version(spark, src)
        # re-entry is a no-op (chunk checkpoint complete)
        v2 = M2.backfill_snapshot_chunks(
            spark, src, process, state, chunk_segments=3
        )
        assert v2 == v and len(spans) == want
        # a redelivered chunk dedups via its tag (exactly-once) — replay
        # chunk 0, which exists for ANY data shape
        M2.commit_append(
            spark, dst,
            M2.read_snapshot(spark, src).limit(5), tag="backfill=0",
        )

    return _ensure_stage(root, build)


def q_manifest_backfill_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked-backlog bootstrap (sources/manifest.py::
    backfill_snapshot_chunks + lake_stream.stream_after_backfill —
    VERDICT r7 next #7): a 10-segment settled lake ingests into a
    downstream lake in FOUR bounded 3-segment chunks (asserted), each
    chunk landing under a ``backfill=<i>`` idempotency tag so a
    redelivered chunk is a no-op (asserted via a deliberate replay),
    and the handoff version pins exactly where the stream takes over.
    The downstream lake must equal the source snapshot row-for-row —
    the oracle replays it as a plain scan of orders."""
    tune(spark)
    root = _backfill_stage(spark, sf_dir)
    t = M.read_snapshot(spark, f"{root}/dst")
    return t.groupBy((F.col("o_orderkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").cast("bigint").alias("sum_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_backfill_chunked",
    q_manifest_backfill_chunked,
    """
    SELECT o_orderkey % 10 AS bucket, COUNT(*) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderkey % 10
    """,
)


# ---------------------------------------------------------------------
# r8 continuation: metadata-only aggregation, branch write-audit-publish,
# and the bounded-key dim fetch — the three table-format moves that keep
# a 100 TB lake's everyday queries off the data files entirely.
# ---------------------------------------------------------------------


def _statsagg_lake(spark: SparkSession, sf_dir: str) -> str:
    """orders in three key bands, every append recording rows/min-max/
    null-count metadata (one agg per write — see manifest._stats_meta), plus
    a deliberately nullable derived column so COUNT(col) has NULLs to
    subtract."""
    lake = _stage_dir(sf_dir, "orders", "manifest_statsagg")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            "o_orderdate",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice"))
            .alias("maybe_price"),
        )
        for band in range(3):
            M.commit_append(
                spark,
                lake,
                orders.filter(F.col("o_orderkey") % 3 == band),
                stats_cols=[
                    "o_orderkey", "o_totalprice", "o_orderdate", "maybe_price",
                ],
            )

    return _ensure_stage(lake, build)


def q_manifest_agg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY aggregate (the Iceberg/Delta trick): COUNT(*),
    MIN/MAX, and non-null COUNT(col) answered from the manifest's
    per-segment rows/stats/nulls — `allow_scan=False` PROVES no data
    file is opened (it raises if any segment would need scanning). At
    100 TB this is a KB manifest read; the oracle recomputes the same
    aggregates the hard way over the source parquet."""
    tune(spark)
    lake = _statsagg_lake(spark, sf_dir)
    return M.metadata_agg(
        spark,
        lake,
        min_cols=["o_orderkey", "o_orderdate"],
        max_cols=["o_orderkey", "o_totalprice", "o_orderdate"],
        count_cols=["maybe_price"],
        allow_scan=False,
    )


register(
    "q_manifest_agg_meta",
    q_manifest_agg_meta,
    """
    SELECT COUNT(*) AS count_rows,
           MIN(o_orderkey) AS min_o_orderkey,
           MIN(o_orderdate) AS min_o_orderdate,
           MAX(o_orderkey) AS max_o_orderkey,
           MAX(o_totalprice) AS max_o_totalprice,
           MAX(o_orderdate) AS max_o_orderdate,
           COUNT(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                      ELSE o_totalprice END) AS count_maybe_price
    FROM orders
    """,
)


def q_manifest_agg_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY COUNT DISTINCT (VERDICT r11 #4 — NDV segment
    statistics): `commit_append(ndv_cols=...)` records a mergeable
    distinct-count sketch per segment (EXACT bitmap for integral
    columns within the bucket cap; DataSketches Theta past it /
    for strings), and `metadata_agg(ndv_cols=..., allow_scan=False)`
    answers COUNT(DISTINCT o_custkey) and COUNT(DISTINCT
    o_orderpriority) by UNIONING the sketches across three
    key-overlapping segments — zero data files read (allow_scan=False
    proves it), exact at every tested scale (custkey spans stay
    inside the bitmap cap; priority is a 5-value Theta, exact below
    4096 retained). The oracle recomputes both the hard way."""
    tune(spark)
    lake = _stage_dir(sf_dir, "orders", "manifest_agg_ndv")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority", "o_totalprice",
        )
        # three segments with OVERLAPPING custkeys — the cross-segment
        # union must dedupe, which is the whole point of mergeable
        # sketches over per-segment scalars
        for band in range(3):
            M.commit_append(
                spark, lake,
                orders.filter(F.col("o_orderkey") % 3 == band),
                stats_cols=["o_orderkey"],
                ndv_cols=["o_custkey", "o_orderpriority"],
            )

    _ensure_stage(lake, build)
    return M.metadata_agg(
        spark,
        lake,
        ndv_cols=["o_custkey", "o_orderpriority"],
        allow_scan=False,
    )


register(
    "q_manifest_agg_ndv",
    q_manifest_agg_ndv,
    """
    SELECT COUNT(*) AS count_rows,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_o_custkey,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
             AS ndv_o_orderpriority
    FROM orders
    """,
)


def _wap_lake(spark: SparkSession, sf_dir: str) -> str:
    """Write-audit-publish: base = orders with o_orderkey % 4 <= 1; a
    BRANCH ingests the other half, the audit finds rows violating the
    quality rule (o_totalprice < 300000), a copy-on-write delete
    removes them ON THE BRANCH, and publish fast-forwards main — which
    is asserted UNTOUCHED mid-flight. Final contents are a pure
    predicate over orders, which is what the oracle replays."""
    lake = _stage_dir(sf_dir, "orders", "manifest_wap2")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        base = orders.filter(F.col("o_orderkey") % 4 <= 1)
        M.commit_append(spark, lake, base)
        n_base = M.read_snapshot(spark, lake).count()
        b = M.create_branch(spark, lake, "ingest")
        M.commit_append(spark, b, orders.filter(F.col("o_orderkey") % 4 >= 2))
        # audit: the branch's NEW rows must PROVABLY satisfy the price
        # rule — a NULL price is a violation, not a pass (the
        # adversarial three-valued-logic shape), so the kept set is
        # exactly `o_totalprice < 300000`; CoW-deleted on the branch
        # before anyone sees them. NULL order keys fall outside both
        # halves of the split (NULL % 4 matches neither filter), which
        # the oracle mirrors by guarding BOTH branches on the key.
        bad = (
            M.read_snapshot(spark, b)
            .filter(
                (F.col("o_orderkey") % 4 >= 2)
                & (
                    F.col("o_totalprice").isNull()
                    | (F.col("o_totalprice") >= 300000)
                )
            )
            .select("o_orderkey")
        )
        M.commit_delete(spark, b, bad, ["o_orderkey"])
        # main is isolated until publish — the whole point of WAP
        assert M.read_snapshot(spark, lake).count() == n_base
        M.publish_branch(spark, lake, "ingest")
        assert M.list_branches(spark, lake) == []

    return _ensure_stage(lake, build)


def q_manifest_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch + write-audit-publish (Iceberg WAP re-expressed on the
    manifest format — sources/manifest.py::create_branch/
    publish_branch): ingest lands on a shallow-fork branch, the audit
    deletes rule-violating rows there, and ONE CAS fast-forward makes
    the audited batch visible on main. The read is over main AFTER
    publish; the oracle replays base ∪ (new ∩ rule)."""
    tune(spark)
    lake = _wap_lake(spark, sf_dir)
    return _agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_wap",
    q_manifest_wap,
    _AGG_ORACLE.format(
        where=" WHERE o_orderkey % 4 <= 1 "
        "OR (o_orderkey % 4 >= 2 AND o_totalprice < 300000)"
    ),
)


def q_manifest_keyed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-driven point-fetch join (sources/manifest.py::
    read_for_keys): a bounded key list (flagged orders, o_orderkey %
    997 = 0) fetches from the year-segmented bloom lake via manifest
    bloom + point-in-range skipping AND a pushed `isin` (parquet
    row-group stats + file blooms prune inside surviving segments),
    then broadcast-joins the customer dim. The 100 TB shape: the fact
    scan is O(matching segments), never O(table) — the same pruned
    point-fetch the ANN rerank uses (similarity.py::
    pruned_vector_fetch), here as a first-class relational operator."""
    tune(spark)
    lake = _bloom_lake(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    keys = sorted(
        r["o_orderkey"]
        for r in orders.filter(F.col("o_orderkey") % 997 == 0)
        .select("o_orderkey")
        .distinct()
        .collect()
    )
    fact = M.read_for_keys(spark, lake, "o_orderkey", keys)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        fact.join(F.broadcast(cust), fact["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


register(
    "q_manifest_keyed_join",
    q_manifest_keyed_join,
    """
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 997 = 0
    GROUP BY c_mktsegment
    """,
)


def _parts_stats_lake(spark: SparkSession, sf_dir: str) -> str:
    """orders partitioned by order YEAR, every partition append
    recording rows/min-max/null metadata — the layout where
    `SELECT year, COUNT(*), MIN, MAX ... GROUP BY year` never opens a
    data file."""
    lake = _stage_dir(sf_dir, "orders", "manifest_partstats")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        years = sorted(
            (r["o_year"] for r in orders.select("o_year").distinct().collect()),
            key=lambda y: (y is None, y),
        )
        if not years:
            M.commit_append(spark, lake, orders.limit(0))
        for yr in years:
            M.commit_append(
                spark,
                lake,
                orders.filter(F.col("o_year").eqNullSafe(F.lit(yr))),
                partition={"o_year": yr},
                stats_cols=["o_orderkey", "o_totalprice"],
            )

    return _ensure_stage(lake, build)


def q_manifest_agg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition metadata-only aggregate (sources/manifest.py::
    metadata_agg_by_partition): the per-year COUNT(*)/MIN/MAX report
    comes entirely from partition tags + per-segment rows/stats/nulls —
    `allow_scan=False` proves zero data files are opened. The covered
    side is O(segments) driver JSON folded per partition with the same
    decomposable sum/min/max a scan would use, so hybrid lakes (some
    segments untagged) merge honestly. The oracle does it the hard
    way: a full GROUP BY over the source parquet."""
    tune(spark)
    lake = _parts_stats_lake(spark, sf_dir)
    return M.metadata_agg_by_partition(
        spark,
        lake,
        "o_year",
        min_cols=["o_orderkey"],
        max_cols=["o_orderkey", "o_totalprice"],
        count_cols=["o_totalprice"],
        allow_scan=False,
    )


register(
    "q_manifest_agg_parts",
    q_manifest_agg_parts,
    """
    SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS count_rows,
           MIN(o_orderkey) AS min_o_orderkey,
           MAX(o_orderkey) AS max_o_orderkey,
           MAX(o_totalprice) AS max_o_totalprice,
           COUNT(o_totalprice) AS count_o_totalprice
    FROM orders
    GROUP BY CAST(YEAR(o_orderdate) AS INT)
    """,
)


def _token_lake(spark: SparkSession, sf_dir: str) -> str:
    """documents in 8 doc_id bands, each append recording a TOKEN
    bloom over the text column — keyword-search segment skipping."""
    lake = _stage_dir(sf_dir, "documents", "manifest_tokens")

    def build():
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
        for b in range(8):
            M.commit_append(
                spark,
                lake,
                docs.filter(F.col("doc_id") % 8 == b),
                token_bloom_cols=["text"],
            )

    return _ensure_stage(lake, build)


def q_manifest_token_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search with MANIFEST-level segment skipping
    (sources/manifest.py::_segment_blooms / read_snapshot(token_eq=)):
    "which segments mention this term" is answered from per-segment
    token blooms before any file is listed — the grep-at-100TB /
    contamination-attribution probe. The row-level predicate is
    re-applied in-plan as always (probes are hints). Oracle: the same
    token filter the hard way over the source parquet."""
    tune(spark)
    lake = _token_lake(spark, sf_dir)
    token = "dup"  # the testdata generator's rare marker token
    has_tok = F.array_contains(
        F.split(F.lower(F.col("text")), r"\s+"), token
    )
    t = M.read_snapshot(spark, lake, token_eq={"text": token}).filter(has_tok)
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


register(
    "q_manifest_token_search",
    q_manifest_token_search,
    """
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE list_contains(string_split(LOWER(text), ' '), 'dup')
    GROUP BY lang
    """,
)


def q_manifest_sql_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-surface mount of the table format
    (sources/lake_datasource.py): ``spark.read.format("manifest_lake")``
    with Catalyst's own filter pushdown driving manifest pruning — a
    plain ``.where(o_year = Y AND o_totalprice >= P)`` prunes the year
    segments through partition tags/stats BEFORE any file is listed,
    re-filters row groups inside pyarrow, and Spark re-evaluates
    everything post-scan (pruning is a hint; semantics never depend on
    it). One fresh load() per query per the engine's plan-cache
    contract (the module docstring's handle-reuse caveat). Oracle: the
    same predicate the hard way over the source parquet."""
    from ..sources.lake_datasource import read_lake

    tune(spark)
    lake = _parts_stats_lake(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    yr = orders.agg(F.min(F.year("o_orderdate").cast("int"))).collect()[0][0]
    t = read_lake(spark, lake).filter(
        (F.col("o_year") == yr) & (F.col("o_totalprice") >= 100000.0)
    )
    return t.groupBy((F.col("o_orderkey") % 5).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_sql_read",
    q_manifest_sql_read,
    """
    SELECT o_orderkey % 5 AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE CAST(YEAR(o_orderdate) AS INT) =
          (SELECT MIN(CAST(YEAR(o_orderdate) AS INT)) FROM orders)
      AND o_totalprice >= 100000.0
    GROUP BY o_orderkey % 5
    """,
)


def _sql_write_lake(spark: SparkSession, sf_dir: str) -> str:
    """A lake created ENTIRELY through the DataFrame write API
    (``df.write.format("manifest_lake")``): two appends in key bands,
    per-file stats computed from the Arrow batches as the executors
    stream them and merged into segment metadata at commit."""
    lake = _stage_dir(sf_dir, "orders", "manifest_sql_write")

    def build():
        from ..sources.lake_datasource import register_lake_source

        register_lake_source(spark)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice"))
            .alias("maybe_price"),
        )
        for band in range(2):
            (
                orders.filter(F.col("o_orderkey") % 2 == band)
                .write.format("manifest_lake")
                .option("path", lake)
                .option("stats_cols", "o_orderkey,o_totalprice,maybe_price")
                .mode("append")
                .save()
            )

    return _ensure_stage(lake, build)


def q_manifest_sql_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataSource WRITE path end-to-end (sources/lake_datasource.py
    ::ManifestLakeWriter): executors stream Arrow batches into staged
    parquet files, commit messages carry per-file min/max/null/row
    stats, and the driver-side commit (the lake's one `_commit` loop,
    JVM-free) publishes one manifest version per save() — exactly-once under
    task retry because only reported files move into the segment. The
    returned frame is a METADATA-ONLY aggregate over the written lake
    (allow_scan=False), so the oracle match proves the whole loop:
    write → message stats → manifest → zero-file query."""
    tune(spark)
    lake = _sql_write_lake(spark, sf_dir)
    return M.metadata_agg(
        spark,
        lake,
        min_cols=["o_orderkey"],
        max_cols=["o_orderkey", "o_totalprice"],
        count_cols=["maybe_price"],
        allow_scan=False,
    )


register(
    "q_manifest_sql_write",
    q_manifest_sql_write,
    """
    SELECT COUNT(*) AS count_rows,
           MIN(o_orderkey) AS min_o_orderkey,
           MAX(o_orderkey) AS max_o_orderkey,
           MAX(o_totalprice) AS max_o_totalprice,
           COUNT(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                      ELSE o_totalprice END) AS count_maybe_price
    FROM orders
    """,
)


def _stream_write_lake(spark: SparkSession, sf_dir: str) -> str:
    """A destination lake produced ENTIRELY by the streaming writer:
    three source commits pumped through ``readStream.format(
    "manifest_stream") → writeStream.format("manifest_lake")`` with
    availableNow — version offsets in, batch-tagged manifest commits
    out."""
    root = _stage_dir(sf_dir, "orders", "manifest_stream_write")

    def build():
        from ..sources.lake_datasource import register_lake_source
        from ..sources.lake_stream import register_lake_stream

        register_lake_stream(spark)
        register_lake_source(spark)
        src, dst, ckpt = f"{root}/src", f"{root}/dst", f"{root}/ckpt"
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        for band in range(3):
            M.commit_append(
                spark, src, orders.filter(F.col("o_orderkey") % 3 == band)
            )
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", src)
            .load()
            .drop("_commit_version")
            .writeStream.format("manifest_lake")
            .option("path", dst)
            .option("checkpoint_tag", "stage")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    return _ensure_stage(root, build)


def q_manifest_stream_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming WRITE path end-to-end (sources/lake_datasource.py
    ::ManifestLakeStreamWriter): lake → stream → lake through pure
    format() plumbing, exactly-once via the checkpoint_tag=batchId
    idempotency tag. The destination must equal the source corpus
    row-for-row — the oracle replays it as a plain scan of orders
    (same equality contract as q_manifest_backfill_chunked, but
    through Structured Streaming instead of chunked batch reads)."""
    tune(spark)
    root = _stream_write_lake(spark, sf_dir)
    return _agg(M.read_snapshot(spark, f"{root}/dst"))


register(
    "q_manifest_stream_write",
    q_manifest_stream_write,
    _AGG_ORACLE.format(where=""),
)


def _generated_lake(spark: SparkSession, sf_dir: str) -> str:
    """A lake whose partition column is GENERATED: writers ship only
    the natural orders columns; o_year materializes from the declared
    expression inside the write and the partitioned append tags
    segments with it."""
    lake = _stage_dir(sf_dir, "orders", "manifest_generated")

    def build():
        M.set_generated_column(
            spark, lake, "o_year", "CAST(YEAR(o_orderdate) AS INT)"
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"  # no o_year
        )
        M.commit_append_partitioned(
            spark, lake, orders, "o_year", stats_cols=["o_orderkey"]
        )

    return _ensure_stage(lake, build)


def q_manifest_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED columns (sources/manifest.py::set_generated_column —
    Delta parity): the partition column is declared as an expression,
    writers never ship it, and the write materializes + tags it, so a
    year-scoped read PRUNES through partition tags the writer did not
    have to compute (asserted). Batches that DO supply the column are
    validated against the expression — a generated column is a
    contract, not a default. Oracle: the same derived-year predicate
    over the source parquet."""
    tune(spark)
    lake = _generated_lake(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    # ONE aggregation serves the year probe AND the multi-year guard
    # (r12, guide §1.2: these were two sequential full-scan jobs)
    probe = orders.agg(
        F.min(F.year("o_orderdate").cast("int")).alias("y"),
        F.countDistinct(F.year("o_orderdate")).alias("ny"),
    ).collect()[0]
    yr, years = probe["y"], int(probe["ny"])
    segs = M.resolve_segments(spark, lake, part_eq={"o_year": yr})
    n_all = len(M.resolve_segments(spark, lake))
    if years > 1:
        assert len(segs) < n_all, f"generated-tag pruning: {len(segs)}/{n_all}"
    t = M.read_snapshot(spark, lake, part_eq={"o_year": yr}).filter(
        F.col("o_year") == yr
    )
    return t.groupBy((F.col("o_orderkey") % 5).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_generated",
    q_manifest_generated,
    """
    SELECT o_orderkey % 5 AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE CAST(YEAR(o_orderdate) AS INT) =
          (SELECT MIN(CAST(YEAR(o_orderdate) AS INT)) FROM orders)
    GROUP BY o_orderkey % 5
    """,
)


def _widen_lake(spark: SparkSession, sf_dir: str) -> str:
    """Half the orders land with an INT order key, the key is widened
    to BIGINT as pure metadata, and the other half lands wide — the
    mixed-physical layout every read must upcast through."""
    lake = _stage_dir(sf_dir, "orders", "manifest_widen")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        narrow = orders.withColumn(
            "o_orderkey", F.col("o_orderkey").cast("int")
        )
        M.commit_append(
            spark, lake, narrow.filter(F.col("o_orderkey") % 2 == 0),
            stats_cols=["o_orderkey"],
        )
        M.widen_column_type(spark, lake, "o_orderkey", "bigint")
        M.commit_append(
            spark, lake, orders.filter(F.col("o_orderkey") % 2 == 1),
            stats_cols=["o_orderkey"],
        )

    return _ensure_stage(lake, build)


def q_manifest_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only TYPE WIDENING (sources/manifest.py::
    widen_column_type — Delta parity): int32 files written before the
    widen and int64 files written after scan TOGETHER under the
    recorded bigint schema (the vectorized reader upcasts narrow files
    against the explicit read schema; not a byte rewritten). The
    result schema is asserted wide; the oracle replays the same
    aggregate over the source parquet, where the key was bigint all
    along — identical results prove the widening is pure metadata."""
    tune(spark)
    lake = _widen_lake(spark, sf_dir)
    snap = M.read_snapshot(spark, lake)
    assert dict(snap.dtypes)["o_orderkey"] == "bigint", snap.dtypes
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("sum_key"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_widen",
    q_manifest_widen,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)


def _compact_small_lake(spark: SparkSession, sf_dir: str) -> str:
    """One full-sized segment plus six micro-appends (the streaming-
    ingest steady state), then the size-aware OPTIMIZE: only the small
    tail consolidates, the big segment is untouched (pinned by name in
    tests/test_lake_queries.py)."""
    lake = _stage_dir(sf_dir, "orders", "manifest_compact_small")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        M.commit_append(
            spark, lake, orders.filter(F.col("o_orderkey") % 8 != 0),
            stats_cols=["o_orderkey"],
        )
        for i in range(6):
            M.commit_append(
                spark,
                lake,
                orders.filter(
                    (F.col("o_orderkey") % 8 == 0)
                    & (F.col("o_orderkey") % 6 == i)
                ),
                stats_cols=["o_orderkey"],
            )
        big = M.resolve_segments(spark, lake)[0]
        n_rows = M._read_manifest(
            spark, lake, M.current_version(spark, lake)
        )["meta"][big]["rows"]
        M.compact_small(spark, lake, target_rows=max(2, int(n_rows) // 2))

    return _ensure_stage(lake, build)


def q_manifest_compact_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-aware auto-compaction (sources/manifest.py::compact_small):
    the maintenance pass a streaming lake runs forever — consolidate
    segments under a row threshold using the manifest's recorded row
    counts (O(small tail), never O(table); the full-sized segment
    keeps its identity, pinned by a test). Reader equivalence is
    the oracle: the optimized lake aggregates identically to the
    source corpus."""
    tune(spark)
    lake = _compact_small_lake(spark, sf_dir)
    return M.read_snapshot(spark, lake).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_compact_small",
    q_manifest_compact_small,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------
# r9: the SQL-surface mount at full fidelity — MoR tombstones apply in
# the Arrow reader; driver-hashed bloom probes skip segments on point
# queries (VERDICT r8 next #4/#5).
# ---------------------------------------------------------------------


def _sql_tombstone_lake(spark: SparkSession, sf_dir: str) -> str:
    """A lake with PENDING merge-on-read tombstones: two key-band
    appends, then commit_delete_mor of every o_orderkey % 97 == 0 —
    deliberately NOT compacted, so the reader must anti-join."""
    lake = _stage_dir(sf_dir, "orders", "manifest_sql_tombstone")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        for band in range(2):
            M.commit_append(
                spark, lake,
                orders.filter(F.col("o_orderkey") % 2 == band),
                stats_cols=["o_orderkey"],
            )
        M.commit_delete_mor(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .select("o_orderkey"),
            ["o_orderkey"],
        )

    return _ensure_stage(lake, build)


def q_manifest_sql_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR tombstones through plain SQL (sources/lake_datasource.py::
    _apply_tombstones): format("manifest_lake") reads a lake with
    PENDING equality-deletes at full fidelity — each file's
    seq-applicable tombstone batches anti-join inside the Arrow read
    (NULL keys match nothing, widened key types cast both sides),
    where the r8 reader RAISED. The manifest is asserted to still
    carry the tombstones (nothing compacted them away). Oracle: the
    same delete predicate the hard way over the source parquet."""
    from ..sources.lake_datasource import read_lake

    tune(spark)
    lake = _sql_tombstone_lake(spark, sf_dir)
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert m.get("deletes"), "stage must keep pending tombstones"
    t = read_lake(spark, lake)
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").cast("bigint").alias("sum_cust"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "q_manifest_sql_tombstone",
    q_manifest_sql_tombstone,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey % 97 <> 0
    GROUP BY o_orderstatus
    """,
)


def _sql_bloom_lake(spark: SparkSession, sf_dir: str) -> str:
    """Sixteen key-INTERLEAVED segments (o_orderkey % 16 bands) with
    id blooms: every segment's [min, max] spans the whole key range,
    so stats can prove nothing — only the blooms can skip. Sixteen
    bands (not four) because manifest blooms are CAPACITY-BOUNDED
    (~32k keys at 16 bits/key under the 2^19-bit cap — _fold_bloom
    soundly omits beyond that): at sf0.1 a 4-band segment carries
    37.5k keys and gets no bloom. The 100 TB lesson in miniature —
    size segments to the bloom budget or point skipping silently
    degrades to stats-only."""
    lake = _stage_dir(sf_dir, "orders", "manifest_sql_bloom16")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        for band in range(16):
            M.commit_append(
                spark, lake,
                orders.filter(F.col("o_orderkey") % 16 == band),
                bloom_cols=["o_orderkey"],
            )

    return _ensure_stage(lake, build)


def q_manifest_sql_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-skipped POINT QUERY through plain SQL
    (sources/lake_datasource.py::read_lake(bloom_keys=...)): planning
    runs in a JVM-less worker that cannot hash, so read_lake hashes
    the probe keys driver-side (the same engine-hash job as the
    programmatic bloom_eq) and ships positions as a read option —
    pushFilters-planned partitions skip the bloom-negative interleaved
    segments, which min/max stats provably cannot (every segment spans
    the full key range; the pruning is asserted by
    tests/test_lake_datasource.py). Probe keys: the two smallest
    orderkeys of band 0 — deterministic at every SF. Oracle: the same
    two keys selected the hard way."""
    from ..sources.lake_datasource import read_lake

    tune(spark)
    lake = _sql_bloom_lake(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    keys = [
        int(r["o_orderkey"])
        for r in orders.filter(F.col("o_orderkey") % 16 == 0)
        .orderBy("o_orderkey")
        .limit(2)
        .collect()
    ]
    t = read_lake(spark, lake, bloom_keys={"o_orderkey": keys}).filter(
        F.col("o_orderkey").isin(keys) if keys else F.lit(False)
    )
    return t.select("o_orderkey", "o_custkey", "o_orderstatus")


register(
    "q_manifest_sql_bloom",
    q_manifest_sql_bloom,
    """
    WITH k AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 16 = 0
               ORDER BY o_orderkey ASC LIMIT 2)
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus
    FROM orders o JOIN k ON o.o_orderkey = k.o_orderkey
    """,
)


def _matview_join_stage(spark: SparkSession, sf_dir: str) -> str:
    """Fact lake (orders: o_custkey FK, decimal price) and dim lake
    (customer: c_custkey, c_mktsegment) with an incremental JOIN MV:

      fact v1  append  orders with o_orderkey % 2 = 0
      dim  v1  append  all customers
               maintain (BOOTSTRAP: full join-aggregate)
      fact v2  append  orders with o_orderkey % 2 = 1
      dim  v2  MERGE   c_mktsegment -> 'MOVED' for c_custkey % 10 = 0
               maintain (INCREMENTAL: dF join D0 + F1 join dD)

    so the final MV is a pure expression over orders x customer —
    exactly what the oracle recomputes from scratch."""
    from ..operators import matview as MV

    root = _stage_dir(sf_dir, "orders", "manifest_matview_join")
    fp, dp = f"{root}/fact", f"{root}/dim"
    mvp, stp = f"{root}/mv", f"{root}/state"

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            F.lit(0).alias("ver"),
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", F.lit(0).alias("ver")
        )
        M.commit_append(
            spark, fp, orders.filter(F.col("o_orderkey") % 2 == 0)
        )
        M.commit_append(spark, dp, cust)
        MV.maintain_join_matview(
            spark, fp, dp, ["o_orderkey"], ["c_custkey"], "o_custkey",
            "c_custkey", "c_mktsegment", ["price"], mvp, stp,
        )
        M.commit_append(
            spark, fp, orders.filter(F.col("o_orderkey") % 2 == 1)
        )
        M.commit_upsert(
            spark, dp,
            cust.filter(F.col("c_custkey") % 10 == 0).select(
                "c_custkey",
                F.lit("MOVED").alias("c_mktsegment"),
                F.lit(1).alias("ver"),
            ),
            ["c_custkey"],
            "ver",
        )
        MV.maintain_join_matview(
            spark, fp, dp, ["o_orderkey"], ["c_custkey"], "o_custkey",
            "c_custkey", "c_mktsegment", ["price"], mvp, stp,
        )

    _ensure_stage(root, build)
    return root


def q_manifest_matview_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN materialized view
    (operators/matview.py::maintain_join_matview): MV = orders ⋈
    customer grouped by market segment, advanced from BOTH lakes'
    change feeds — the delta algebra ΔF⋈D0 + F1⋈ΔD reads O(changes),
    never re-joining the settled corpus (at 100 TB: a CDC sliver + a
    dim patch fold in one broadcast join each). The staged history
    includes a dim update that MOVES every %10 customer between
    groups (mass retract + credit) interleaved with a fact append in
    the same maintenance window. Oracle: the view recomputed from
    scratch over the final states — incremental == full recompute is
    the IVM contract."""
    tune(spark)
    root = _matview_join_stage(spark, sf_dir)
    return M.read_snapshot(spark, f"{root}/mv").select(
        F.col("c_mktsegment").alias("segment"),
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


register(
    "q_manifest_matview_join",
    q_manifest_matview_join,
    """
    WITH d AS (SELECT c_custkey,
                      CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
                           ELSE c_mktsegment END AS segment
               FROM customer)
    SELECT d.segment, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders o JOIN d ON o.o_custkey = d.c_custkey
    GROUP BY d.segment
    """,
)


def _takedown_stage(spark: SparkSession, sf_dir: str) -> str:
    """Documents + embeddings + an IVF-PQ index, then one
    corpus_takedown of every doc_id % 53 == 0 (1:1 doc→vector ids):
    the final state of every lake is a pure NOT-predicate over the
    source tables."""
    from ..operators import similarity as SIM

    root = _stage_dir(sf_dir, "documents", "corpus_takedown")
    docsp, embp = f"{root}/docs", f"{root}/emb"
    cp, cbp, kp = f"{root}/cent", f"{root}/books", f"{root}/codes"

    def build():
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        M.commit_append(spark, docsp, docs, stats_cols=["doc_id"])
        M.commit_append(spark, embp, emb, stats_cols=["vec_id"])
        SIM.build_ivfpq_index(
            spark, M.read_snapshot(spark, embp), "vec_id", "embedding",
            8, 8, 32, cp, cbp, kp,
        )
        victims = [
            int(r["doc_id"])
            for r in docs.filter(F.col("doc_id") % 53 == 0)
            .select("doc_id")
            .collect()
        ]
        SIM.corpus_takedown(
            spark, victims, docsp, emb_path=embp, index_code_paths=[kp]
        )

    _ensure_stage(root, build)
    return root


def q_corpus_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end GDPR composition (operators/similarity.py::
    corpus_takedown): one call removes documents AND every derived
    representation — the embeddings lake row and the IVF-PQ code —
    with bloom-refined CoW rewrites of only the touched cell segments.
    The query proves all three lakes agree post-takedown: per-lang doc
    counts from the documents lake, plus the surviving embedding and
    index-code populations carried as columns (identical by
    construction to the doc predicate). Oracle: the same NOT-predicate
    over the source tables."""
    tune(spark)
    root = _takedown_stage(spark, sf_dir)
    n_emb = M.read_snapshot(spark, f"{root}/emb").count()
    n_codes = M.read_snapshot(spark, f"{root}/codes").count()
    return (
        M.read_snapshot(spark, f"{root}/docs")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .withColumn("n_vectors", F.lit(n_emb).cast("bigint"))
        .withColumn("n_codes", F.lit(n_codes).cast("bigint"))
    )


register(
    "q_corpus_takedown",
    q_corpus_takedown,
    """
    WITH victims AS (SELECT doc_id FROM documents WHERE doc_id % 53 = 0),
    kept AS (SELECT * FROM documents
             WHERE doc_id NOT IN (SELECT doc_id FROM victims)),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings
          WHERE vec_id NOT IN (SELECT doc_id FROM victims))
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           v.n_vectors, v.n_vectors AS n_codes
    FROM kept CROSS JOIN v
    GROUP BY lang, v.n_vectors
    """,
)


def _unique_lake(spark: SparkSession, sf_dir: str) -> str:
    """A UNIQUE-keyed lake exercising the enforcement: declare on v1,
    land a clean append, then REFUSE (and prove the refusal) an
    overlapping append, an in-batch-duplicate append, and — r10, the
    VERDICT r9 #1 gap — a MERGE keyed on a NON-unique column whose
    post-merge output would duplicate the key. The final contents are
    a pure predicate over `orders`."""
    lake = _stage_dir(sf_dir, "orders", "manifest_unique_v2")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        M.commit_append(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 3 == 0),
            bloom_cols=["o_orderkey"],
        )
        M.set_unique_key(spark, lake, ["o_orderkey"])
        M.commit_append(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 3 == 1),
            bloom_cols=["o_orderkey"],
        )
        # overlapping batch: MUST refuse, leaving the lake unchanged
        try:
            M.commit_append(
                spark, lake, orders.filter(F.col("o_orderkey") % 6 == 1)
            )
            raise AssertionError("unique collision append must refuse")
        except M.ConstraintViolation:
            pass
        # in-batch duplicate: MUST refuse
        dup = orders.filter(F.col("o_orderkey") % 3 == 2).limit(1)
        try:
            M.commit_append(spark, lake, dup.unionAll(dup))
            raise AssertionError("in-batch duplicate append must refuse")
        except M.ConstraintViolation:
            pass
        # MERGE keyed on o_custkey (NOT the unique column) whose two
        # change rows land the SAME fresh o_orderkey under different
        # custkey groups: the post-merge output holds the unique key
        # twice — MUST refuse, leaving no version behind (merge_upsert
        # guarantees one row per MERGE key, so the duplicate has to
        # cross groups; deterministic regardless of base multiplicity)
        head = (
            M.read_snapshot(spark, lake)
            .orderBy("o_orderkey").limit(1).collect()
        )
        if not head:
            return  # degenerate (adversarial) shape: nothing to prove
        r0 = head[0]
        others = (
            M.read_snapshot(spark, lake)
            .filter(F.col("o_custkey") != r0["o_custkey"])
            .orderBy("o_orderkey").limit(1).collect()
        )
        if not others:
            return  # single-custkey shape: the two-group MERGE needs two
        r1 = others[0]
        k_new = (
            M.read_snapshot(spark, lake)
            .agg(F.max("o_orderkey")).collect()[0][0] + 1000
        )
        v = M.current_version(spark, lake)
        bad = rows_frame(
            spark,
            [
                (k_new, r0["o_custkey"], "X", 1),
                (k_new, r1["o_custkey"], "X", 1),
            ],
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "ver int",
        )
        try:
            M.commit_upsert(
                spark, lake, bad, keys=["o_custkey"], version_col="ver"
            )
            raise AssertionError("key-duplicating MERGE must refuse")
        except M.ConstraintViolation:
            pass
        assert M.current_version(spark, lake) == v

    return _ensure_stage(lake, build)


def q_manifest_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared UNIQUE key enforcement (sources/manifest.py::
    set_unique_key) — the constraint neither Delta nor Iceberg
    enforces: appends validate the batch against itself and, via
    bloom-pruned point probes, against the table the commit lands on
    (inside the commit's build), so racing appends serialize. The
    staged history lands two disjoint key bands and PROVES two
    refusals (an overlapping batch and an in-batch duplicate — the
    stage asserts both raise and change nothing). Oracle: the two
    clean bands the hard way."""
    tune(spark)
    lake = _unique_lake(spark, sf_dir)
    assert M.unique_key(spark, lake) == ["o_orderkey"]
    return M.read_snapshot(spark, lake).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("sum_key"),
        F.sum("o_custkey").cast("bigint").alias("sum_cust"),
    )


register(
    "q_manifest_unique",
    q_manifest_unique,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderstatus
    """,
)


def _catalog_stage(spark: SparkSession, sf_dir: str) -> str:
    """Two lakes + two catalog pins: pin run-1 at (orders %2=0, all
    customers), advance both lakes (append the odd half; MERGE every
    %10 customer's segment to 'MOVED'), pin run-2 — the run-1 pin's
    contents stay a pure predicate over the source tables."""
    root = _stage_dir(sf_dir, "orders", "manifest_catalog")
    fp, dp, cat = f"{root}/fact", f"{root}/dim", f"{root}/catalog"

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", F.lit(0).alias("ver")
        )
        M.commit_append(
            spark, fp, orders.filter(F.col("o_orderkey") % 2 == 0)
        )
        M.commit_append(spark, dp, cust)
        M.pin_catalog(spark, cat, {"fact": fp, "dim": dp}, tag="run-1")
        M.commit_append(
            spark, fp, orders.filter(F.col("o_orderkey") % 2 == 1)
        )
        M.commit_upsert(
            spark, dp,
            cust.filter(F.col("c_custkey") % 10 == 0).select(
                "c_custkey",
                F.lit("MOVED").alias("c_mktsegment"),
                F.lit(1).alias("ver"),
            ),
            ["c_custkey"],
            "ver",
        )
        M.pin_catalog(spark, cat, {"fact": fp, "dim": dp}, tag="run-2")

    _ensure_stage(root, build)
    return root


def q_manifest_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog pins (sources/manifest.py::pin_catalog) — the
    training-run manifest: one durable name captures consistent
    versions of EVERY lake a run used, readable forever through
    catalog time travel. The staged history pins run-1, then both
    lakes advance (a fact append + a dim group-moving MERGE) and run-2
    pins the new state; the query joins the TWO lakes THROUGH THE
    RUN-1 PIN — none of the later writes may leak in. Oracle: the
    pin-time predicate over the source tables (even orderkeys x the
    ORIGINAL market segments)."""
    tune(spark)
    root = _catalog_stage(spark, sf_dir)
    cat = f"{root}/catalog"
    v1 = M._manifest_versions(spark, cat)[0]
    f = M.read_pinned(spark, cat, "fact", catalog_version=v1)
    d = M.read_pinned(spark, cat, "dim", catalog_version=v1)
    # sanity: the LATEST pin sees the advanced lakes
    assert M.read_pinned(spark, cat, "fact").count() > f.count()
    return (
        f.alias("f")
        .join(d.alias("d"), F.col("f.o_custkey") == F.col("d.c_custkey"))
        .groupBy(F.col("d.c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("f.o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


register(
    "q_manifest_catalog",
    q_manifest_catalog,
    """
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 2 = 0
    GROUP BY c.c_mktsegment
    """,
)


def _matview_part_stage(spark: SparkSession, sf_dir: str) -> str:
    """The _matview_stage history folded through the PARTITIONED
    landing (operators/matview.py::maintain_matview_partitioned):
    same source commits, same contributions, but the MV lake is
    group-partitioned and each refresh rewrites only the touched
    groups — plus the per-refresh by-name-transfer assertion."""
    from ..operators import matview as MV

    root = _stage_dir(sf_dir, "orders", "manifest_matview_part")

    def build():
        src, mv, state = f"{root}/src", f"{root}/mv", f"{root}/state"
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        M.commit_append(spark, src, orders.filter(F.col("o_orderkey") % 4 <= 1))
        changes = orders.filter((F.col("o_orderkey") % 4).isin(1, 2)).select(
            "o_orderkey",
            (F.col("o_custkey") + 1_000_000).alias("o_custkey"),
            F.lit("M").alias("o_orderstatus"),
            F.lit(1).alias("ver"),
        )
        M.commit_upsert(spark, src, changes, ["o_orderkey"], "ver")
        dels = orders.filter(
            ((F.col("o_orderkey") % 4) == 0) & ((F.col("o_orderkey") % 3) == 0)
        ).select("o_orderkey")
        M.commit_delete(spark, src, dels, ["o_orderkey"])
        n = MV.maintain_matview_partitioned(
            spark, src, ["o_orderkey"], mv, "o_orderstatus",
            ["o_custkey"], state,
        )
        assert n == 3, f"partitioned matview consumed {n} versions, want 3"
        # every MV segment carries its group partition tag
        mmeta = M._read_manifest(spark, mv, M.current_version(spark, mv))
        for seg in mmeta["segments"]:
            assert "o_orderstatus" in mmeta["meta"][seg].get("part", {})

    return _ensure_stage(root, build)


def q_manifest_matview_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITIONED MV landing at the driver gate
    (operators/matview.py::fold_delta_partitioned): the same
    three-commit history as q_manifest_matview folds into a
    GROUP-PARTITIONED view — each refresh rewrites only the groups its
    delta touches (commit_upsert_partitioned; untouched group segments
    transfer by name), dead groups persist as cnt=0 placeholders that
    `read_matview` filters. Oracle: identical to q_manifest_matview's
    — the landing strategy must not change the answer."""
    from ..operators import matview as MV

    tune(spark)
    root = _matview_part_stage(spark, sf_dir)
    return MV.read_matview(spark, f"{root}/mv").select(
        "o_orderstatus",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("sum_o_custkey").cast("bigint").alias("sum_cust"),
    )


register(
    "q_manifest_matview_part",
    q_manifest_matview_part,
    """
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 IN (1, 2)
                  THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             CASE WHEN o_orderkey % 4 IN (1, 2)
                  THEN 'M' ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderkey % 4 <= 2
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM merged
    WHERE NOT (o_orderkey % 4 = 0 AND o_orderkey % 3 = 0)
    GROUP BY o_orderstatus
    """,
)


# --------------------------------------------------------------- r10


def _cdf_lake(spark: SparkSession, sf_dir: str) -> str:
    """A MERGE/delete history for the streaming change feed:
    v1 append (keys %4=0), v2 append (%4=1), v3 MERGE (update every
    %8=0 row's o_custkey by +1000000, insert the %4=2 band),
    v4 CoW delete (%16=0) — every version's delta is a pure predicate
    over `orders`."""
    lake = _stage_dir(sf_dir, "orders", "manifest_cdf")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 == 0))
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 4 == 1))
        changes = (
            orders.filter(F.col("o_orderkey") % 8 == 0)
            .withColumn("o_custkey", F.col("o_custkey") + F.lit(1000000))
            .unionByName(orders.filter(F.col("o_orderkey") % 4 == 2))
            .withColumn("ver", F.lit(1))
        )
        M.commit_upsert(spark, lake, changes, keys=["o_orderkey"], version_col="ver")
        M.commit_delete(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 16 == 0).select("o_orderkey"),
            ["o_orderkey"],
        )

    return _ensure_stage(lake, build)


def q_manifest_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CHANGE DATA FEED (sources/cdf_stream.py —
    spark.readStream.format("manifest_cdf"), Delta readChangeFeed
    parity; VERDICT r9 next #3): the REAL stream runs over the staged
    MERGE/delete history with version offsets, per-version bounded
    diffs (candidate segments only, arrow-side full-outer join), and
    valued old/new structs; the memory-sink census per (version, op)
    is what the oracle recomputes predicate-by-predicate. Memoized per
    (session, lake) like q_manifest_stream — re-running a finished
    availableNow stream costs seconds for an identical result."""
    import uuid

    from ..sources.cdf_stream import register_cdf_stream

    tune(spark)
    register_cdf_stream(spark)
    lake = _cdf_lake(spark, sf_dir)
    memo = getattr(spark, "_mcdf_memo", None)
    if memo is None:
        memo = {}
        spark._mcdf_memo = memo
    if lake in memo:
        return memo[lake]
    name = f"mcdf_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_cdf")
        .option("path", lake)
        .option("keys", "o_orderkey")
        .load()
        .groupBy(
            F.col("_commit_version").alias("version"), F.col("op")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("sum_key"),
            F.sum("new.o_custkey").cast("bigint").alias("sum_new_cust"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name).select(
        F.col("version").cast("int").alias("version"),
        "op", "n", "sum_key", "sum_new_cust",
    )
    memo[lake] = out
    return out


register(
    "q_manifest_cdf",
    q_manifest_cdf,
    """
    WITH f AS (
      SELECT 1 AS version, 'insert' AS op, o_orderkey, o_custkey AS new_cust
      FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT 2, 'insert', o_orderkey, o_custkey
      FROM orders WHERE o_orderkey % 4 = 1
      UNION ALL
      SELECT 3, 'update', o_orderkey, o_custkey + 1000000
      FROM orders WHERE o_orderkey % 8 = 0 AND o_custkey IS NOT NULL
      UNION ALL
      SELECT 3, 'insert', o_orderkey, o_custkey
      FROM orders WHERE o_orderkey % 4 = 2
      UNION ALL
      SELECT 4, 'delete', o_orderkey, NULL
      FROM orders WHERE o_orderkey % 16 = 0
    )
    SELECT version, op, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(new_cust) AS BIGINT) AS sum_new_cust
    FROM f GROUP BY version, op
    """,
)


def _stream_join_mv_stage(spark: SparkSession, sf_dir: str) -> str:
    """Two lakes maintained by the STREAMING join-MV sink: bootstrap
    (fact = even orders, dim = all customers), then BOTH lakes advance
    (dim MERGE moves every %10 customer to segment 'MOVED'; fact
    appends the odd orders) and a second drain folds the window — the
    final MV is a pure join-aggregate over the source tables."""
    root = _stage_dir(sf_dir, "orders", "stream_join_mv")
    fp, dp = f"{root}/fact", f"{root}/dim"
    mvp, stp = f"{root}/mv", f"{root}/state"

    def build():
        from ..sources.lake_stream import register_lake_stream
        from ..streaming.sinks import join_matview_maintain_sink

        register_lake_stream(spark)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        M.commit_append(spark, fp, orders.filter(F.col("o_orderkey") % 2 == 0))
        M.commit_append(spark, dp, cust)

        def drain(ckpt: str) -> None:
            q = join_matview_maintain_sink(
                spark.readStream.format("manifest_stream")
                .option("path", fp).load(),
                fp, dp, ["o_orderkey"], ["c_custkey"],
                "o_custkey", "c_custkey", "c_mktsegment", ["o_orderkey"],
                mvp, stp, f"{root}/{ckpt}",
            )
            q.awaitTermination(300)

        drain("ckpt")  # bootstrap
        M.commit_upsert(
            spark, dp,
            cust.filter(F.col("c_custkey") % 10 == 0)
            .withColumn("c_mktsegment", F.lit("MOVED"))
            .withColumn("ver", F.lit(1)),
            keys=["c_custkey"], version_col="ver",
        )
        M.commit_append(spark, fp, orders.filter(F.col("o_orderkey") % 2 == 1))
        drain("ckpt")  # same checkpoint: only the new commit triggers

    return _ensure_stage(root, build)


def q_stream_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JOIN materialized view (streaming/sinks.py::
    join_matview_maintain_sink; VERDICT r9 next #2): a manifest_stream
    trigger folds BOTH lakes' change feeds through
    join_delta_contributions with the mvj dual-tag exactly-once
    discipline — the staged history advances fact AND dim (a dim MERGE
    the trigger stream never sees) between drains. Oracle: the join
    aggregate the hard way, with the dim move applied."""
    from ..operators import matview as MV

    tune(spark)
    root = _stream_join_mv_stage(spark, sf_dir)
    return MV.read_matview(spark, f"{root}/mv").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("cnt").cast("bigint").alias("n"),
        F.col("sum_o_orderkey").cast("bigint").alias("sum_key"),
    )


register(
    "q_stream_join_mv",
    q_stream_join_mv,
    """
    SELECT CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
                ELSE c_mktsegment END AS seg,
           COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)


def _vacuum_pins_stage(spark: SparkSession, sf_dir: str) -> str:
    """A lake vacuumed WITHOUT any pins flag after a catalog pinned an
    early version (pin_catalog auto-registers on the lake; VERDICT r9
    next #5): the pinned version must survive, the unpinned middle
    version must expire — both asserted at build time."""
    root = _stage_dir(sf_dir, "orders", "vacuum_pins")
    lake, cat = f"{root}/lake", f"{root}/catalog"

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 3 == 0))
        M.pin_catalog(spark, cat, {"orders_lake": lake})  # pins v1
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 3 == 1))
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 3 == 2))
        M.vacuum(spark, lake, keep_versions=1)  # NO pins flag
        vs = M._manifest_versions(spark, lake)
        assert 1 in vs, "flagless vacuum must honor the registered pin"
        assert len(vs) == 2, f"unpinned middles must expire, kept {vs}"

    return _ensure_stage(root, build)


def q_vacuum_pins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pin-aware vacuum by default (sources/manifest.py::vacuum +
    registered_catalogs): the staged lake was vacuumed with NO flags
    after a catalog pin, and the pin still reads end-to-end — the
    result is the pinned version's census, a pure predicate over
    `orders`."""
    tune(spark)
    root = _vacuum_pins_stage(spark, sf_dir)
    pinned = M.read_pinned(spark, f"{root}/catalog", "orders_lake")
    return pinned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").cast("bigint").alias("sum_cust"),
    )


register(
    "q_vacuum_pins",
    q_vacuum_pins,
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    """,
)


def _cdf_matview_stage(spark: SparkSession, sf_dir: str) -> str:
    """An MV lake maintained ENTIRELY by the streaming change feed:
    cdf_matview_sink drains format("manifest_cdf") over the staged
    MERGE/delete history — the retraction-aware composition the CDF
    source exists for."""
    root = _stage_dir(sf_dir, "orders", "cdf_matview")

    def build():
        from ..sources.cdf_stream import register_cdf_stream
        from ..streaming.sinks import cdf_matview_sink

        register_cdf_stream(spark)
        lake = _cdf_lake(spark, sf_dir)
        q = cdf_matview_sink(
            spark.readStream.format("manifest_cdf")
            .option("path", lake).option("keys", "o_orderkey").load(),
            f"{root}/mv", ["o_orderstatus"], ["o_custkey"],
            f"{root}/ckpt",
        )
        q.awaitTermination(300)

    return _ensure_stage(root, build)


def q_cdf_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-CDF-maintained materialized view
    (streaming/sinks.py::cdf_matview_sink over format("manifest_cdf")):
    inserts credit, deletes retract, updates move contributions
    between groups — the MV equals the final snapshot's group-by,
    recomputed by the oracle from the history's predicates."""
    from ..operators.matview import read_matview

    tune(spark)
    root = _cdf_matview_stage(spark, sf_dir)
    return read_matview(spark, f"{root}/mv").select(
        "o_orderstatus",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("sum_o_custkey").cast("bigint").alias("sum_cust"),
    )


register(
    "q_cdf_matview",
    q_cdf_matview,
    """
    WITH final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 8 = 0
                  THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             o_orderstatus
      FROM orders
      WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderkey % 16 <> 0
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM final GROUP BY o_orderstatus
    """,
)


def _takedown_stream_stage(spark: SparkSession, sf_dir: str) -> str:
    """The q_corpus_takedown lakes, but the takedown arrives as a
    VICTIM STREAM: two micro-batches of doc ids drive
    takedown_ingest_sink (MoR mode — per-lake takedown=<batch> tags),
    landing the identical survivor set as the batch composition."""
    from ..operators import similarity as SIM
    from ..streaming.sinks import takedown_ingest_sink

    root = _stage_dir(sf_dir, "documents", "corpus_takedown_stream")
    docsp, embp = f"{root}/docs", f"{root}/emb"
    cp, cbp, kp = f"{root}/cent", f"{root}/books", f"{root}/codes"

    def build():
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        M.commit_append(spark, docsp, docs, stats_cols=["doc_id"])
        M.commit_append(spark, embp, emb, stats_cols=["vec_id"])
        SIM.build_ivfpq_index(
            spark, M.read_snapshot(spark, embp), "vec_id", "embedding",
            8, 8, 32, cp, cbp, kp,
        )
        victims = sorted(
            int(r["doc_id"])
            for r in docs.filter(F.col("doc_id") % 53 == 0)
            .select("doc_id").collect()
        )
        half = len(victims) // 2
        for i, ids in enumerate([victims[:half], victims[half:]]):
            rows_frame(
                spark, [(k,) for k in ids] or [(None,)], "doc_id long"
            ).coalesce(1).write.parquet(f"{root}/victims/b{i}")
        q = takedown_ingest_sink(
            spark.readStream.schema("doc_id long")
            .parquet(f"{root}/victims/b*"),
            docsp, f"{root}/ckpt",
            emb_path=embp, index_code_paths=[kp],
            mode="mor",
        )
        q.awaitTermination(300)

    _ensure_stage(root, build)
    return root


def q_corpus_takedown_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GDPR composition (streaming/sinks.py::
    takedown_ingest_sink): victim-id micro-batches remove documents
    AND every derived representation via per-lake tagged MoR
    tombstones (exactly-once under replay) — the survivor set equals
    the batch q_corpus_takedown's, and the oracle is the same
    NOT-predicate over the source tables."""
    tune(spark)
    root = _takedown_stream_stage(spark, sf_dir)
    n_emb = M.read_snapshot(spark, f"{root}/emb").count()
    n_codes = M.read_snapshot(spark, f"{root}/codes").count()
    return (
        M.read_snapshot(spark, f"{root}/docs")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .withColumn("n_vectors", F.lit(n_emb).cast("bigint"))
        .withColumn("n_codes", F.lit(n_codes).cast("bigint"))
    )


register(
    "q_corpus_takedown_stream",
    q_corpus_takedown_stream,
    """
    WITH victims AS (SELECT doc_id FROM documents WHERE doc_id % 53 = 0),
    kept AS (SELECT * FROM documents
             WHERE doc_id NOT IN (SELECT doc_id FROM victims)),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings
          WHERE vec_id NOT IN (SELECT doc_id FROM victims))
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           v.n_vectors, v.n_vectors AS n_codes
    FROM kept CROSS JOIN v
    GROUP BY lang, v.n_vectors
    """,
)


def _cdf_recorded_lake(spark: SparkSession, sf_dir: str) -> str:
    """A MERGE committed with record_cdf=True: the valued delta is
    stored AT WRITE TIME (Delta _change_data parity) and the feed
    below reads the recorded segment instead of re-diffing."""
    lake = _stage_dir(sf_dir, "orders", "manifest_cdf_recorded")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        M.commit_append(spark, lake, orders.filter(F.col("o_orderkey") % 2 == 0))
        changes = (
            orders.filter(F.col("o_orderkey") % 4 == 0)
            .withColumn("o_custkey", F.col("o_custkey") + F.lit(1000000))
            .unionByName(orders.filter(F.col("o_orderkey") % 2 == 1))
            .withColumn("ver", F.lit(1))
        )
        M.commit_upsert(
            spark, lake, changes, keys=["o_orderkey"], version_col="ver",
            record_cdf=True,
        )
        assert M._read_manifest(spark, lake, 2).get("cdf"), (
            "the MERGE must have recorded its change segment"
        )

    return _ensure_stage(lake, build)


def q_manifest_cdf_recorded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time recorded change data (sources/manifest.py::
    commit_upsert(record_cdf=True) — Delta _change_data parity): the
    MERGE stored its valued delta as a change segment, and this feed
    census reads THAT segment (snapshot_diff's recorded fast path —
    O(changes) I/O, zero joins) instead of re-diffing the rewrite
    width. Oracle: each version's delta as predicates; unchanged
    rewritten rows (%4==2) must NOT appear."""
    tune(spark)
    lake = _cdf_recorded_lake(spark, sf_dir)
    feed = M.read_feed(spark, lake, ["o_orderkey"], 0)
    return feed.groupBy(
        F.col("version").cast("int").alias("version"), "op"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("sum_key"),
    )


register(
    "q_manifest_cdf_recorded",
    q_manifest_cdf_recorded,
    """
    WITH f AS (
      SELECT 1 AS version, 'insert' AS op, o_orderkey
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 2, 'update', o_orderkey
      FROM orders WHERE o_orderkey % 4 = 0 AND o_custkey IS NOT NULL
      UNION ALL
      SELECT 2, 'insert', o_orderkey FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT version, op, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM f GROUP BY version, op
    """,
)


def _cdf_recorded_all_paths_lake(spark: SparkSession, sf_dir: str) -> str:
    """EVERY change-making commit type records its delta at write time
    (VERDICT r10 #1 — manifest.py record_cdf on commit_upsert_pruned /
    commit_delete_mor / commit_replace_where / restore): pruned MERGE,
    MoR tombstone, predicate restatement, rollback — disjoint
    o_orderkey%100 bands so each version's delta is closed-form."""
    lake = _stage_dir(sf_dir, "orders", "cdf_recorded_all_paths")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        M.commit_append(spark, lake, orders, stats_cols=["o_orderkey"])  # v1
        M.commit_upsert_pruned(                                          # v2
            spark, lake,
            M.read_snapshot(spark, lake)
            .filter(F.col("o_orderkey") % 100 < 10)
            .withColumn("o_custkey", F.col("o_custkey") + F.lit(1000000))
            .withColumn("ver", F.lit(1)),
            ["o_orderkey"], "ver", record_cdf=True,
        )
        M.commit_delete_mor(                                             # v3
            spark, lake,
            orders.filter((F.col("o_orderkey") % 100).between(10, 14))
            .select("o_orderkey"),
            ["o_orderkey"], record_cdf=True,
        )
        M.compact(spark, lake, target_files=2)                           # v4
        cur_f = M.read_snapshot(spark, lake).filter(
            F.col("o_orderstatus") == "F"
        )
        M.commit_replace_where(                                          # v5
            spark, lake,
            cur_f.filter(~(F.col("o_orderkey") % 100).between(15, 19))
            .withColumn(
                "o_custkey",
                F.when(
                    F.col("o_orderkey") % 100 >= 50,
                    F.col("o_custkey") + F.lit(7),
                ).otherwise(F.col("o_custkey")),
            ),
            eq={"o_orderstatus": "F"},
            record_cdf=True, cdf_keys=["o_orderkey"],
        )
        M.restore(                                                       # v6
            spark, lake, version=2, record_cdf=True, cdf_keys=["o_orderkey"]
        )

    return _ensure_stage(lake, build)


def q_cdf_recorded_all_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time recorded change data on EVERY change-making write
    path (VERDICT r10 #1): a pruned MERGE, a merge-on-read tombstone
    delete, a replaceWhere restatement, and a RESTORE rollback each
    store their valued delta as a change segment, and this feed census
    reads those segments (snapshot_diff's recorded fast path —
    O(changes) I/O per step, no rewrite-width re-diff). The restore
    step retracts both the restatement and the tombstone, so the
    oracle's v6 terms are the v3/v5 terms re-inserted/reversed.
    Identically re-stated rows (replaceWhere keeps most of the scope)
    must NOT appear — recorded deltas are diffs, not blind
    delete+insert."""
    tune(spark)
    lake = _cdf_recorded_all_paths_lake(spark, sf_dir)
    feed = M.read_feed(spark, lake, ["o_orderkey"], 0)
    return feed.groupBy(
        F.col("version").cast("int").alias("version"), "op"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("sum_key"),
    )


register(
    "q_cdf_recorded_all_paths",
    q_cdf_recorded_all_paths,
    """
    WITH f AS (
      SELECT 1 AS version, 'insert' AS op, o_orderkey FROM orders
      UNION ALL
      SELECT 2, 'update', o_orderkey FROM orders
      WHERE o_orderkey % 100 < 10 AND o_custkey IS NOT NULL
      UNION ALL
      SELECT 3, 'delete', o_orderkey FROM orders
      WHERE o_orderkey % 100 BETWEEN 10 AND 14
      UNION ALL
      SELECT 5, 'update', o_orderkey FROM orders
      WHERE o_orderstatus = 'F' AND o_orderkey % 100 >= 50
        AND o_custkey IS NOT NULL
      UNION ALL
      SELECT 5, 'delete', o_orderkey FROM orders
      WHERE o_orderstatus = 'F' AND o_orderkey % 100 BETWEEN 15 AND 19
      UNION ALL
      SELECT 6, 'insert', o_orderkey FROM orders
      WHERE o_orderkey % 100 BETWEEN 10 AND 14
         OR (o_orderstatus = 'F' AND o_orderkey % 100 BETWEEN 15 AND 19)
      UNION ALL
      SELECT 6, 'update', o_orderkey FROM orders
      WHERE o_orderstatus = 'F' AND o_orderkey % 100 >= 50
        AND o_custkey IS NOT NULL
    )
    SELECT version, op, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM f GROUP BY version, op
    """,
)


def q_manifest_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE via DELETION VECTORS (sources/manifest.py::
    commit_delete_dv — Iceberg v2 position-delete / Delta DV parity,
    VERDICT r10 #3): the keys resolve to (file, pos) pairs at write
    time with one stats-pruned scan, the commit moves zero data
    (asserted: segment list unchanged, one pending positional
    tombstone), and reads apply a per-file POSITIONAL filter instead
    of re-running the key anti-join every scan. A key re-appended
    AFTER the DV stays visible structurally — the vector names files,
    not keys — which the v4 re-append proves and the oracle's UNION
    term replays."""
    tune(spark)
    lake = _stage_dir(sf_dir, "orders", "manifest_delete_dv")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        M.commit_append(
            spark, lake, orders.filter(F.col("o_orderkey") % 4 <= 1),
            stats_cols=["o_orderkey"],
        )
        M.commit_append(
            spark, lake, orders.filter(F.col("o_orderkey") % 4 >= 2),
            stats_cols=["o_orderkey"],
        )
        M.commit_delete_dv(
            spark,
            lake,
            orders.filter(F.col("o_orderkey") % 10 == 3).select("o_orderkey"),
            ["o_orderkey"],
        )
        m = M._read_manifest(spark, lake, 3)
        assert len(m["segments"]) == 2, "DV delete must not rewrite data"
        dv = m.get("deletes", [])
        assert len(dv) == 1 and m["meta"][dv[0]].get("dv") is True
        # structural re-append: a deleted key returns untouched by the DV
        M.commit_append(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 100 == 3),
            stats_cols=["o_orderkey"],
        )

    _ensure_stage(lake, build)
    return _agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_delete_dv",
    q_manifest_delete_dv,
    """
    WITH kept AS (
      SELECT o_orderstatus, o_totalprice, o_custkey FROM orders
      WHERE o_orderkey % 10 <> 3
      UNION ALL
      SELECT o_orderstatus, o_totalprice, o_custkey FROM orders
      WHERE o_orderkey % 100 = 3
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MAX(o_custkey) AS max_cust
    FROM kept GROUP BY o_orderstatus
    """,
)


def q_manifest_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ MERGE (sources/manifest.py::commit_upsert_mor —
    VERDICT r11 #1, the Iceberg v2 / Delta DV-update shape): ONE
    commit lands a positional deletion vector over the superseded
    rows plus the LWW-folded batch as a new segment; NO existing data
    file is rewritten (asserted: the parent's segments all carry
    over). A scattered-key CDC batch at fact scale costs
    O(batch + pruned position scan) where every copy-on-write MERGE
    rewrites each touched segment; compact() materializes later. The
    batch exercises update, LWW fold (two versions of the %100==3
    keys) and insert in one commit; the oracle replays the same CASE
    mapping plus the insert UNION."""
    tune(spark)
    lake = _stage_dir(sf_dir, "orders", "manifest_merge_mor")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        M.commit_append(
            spark, lake, orders.filter(F.col("o_orderkey") % 4 <= 1),
            stats_cols=["o_orderkey"],
        )
        M.commit_append(
            spark, lake, orders.filter(F.col("o_orderkey") % 4 >= 2),
            stats_cols=["o_orderkey"],
        )
        upd1 = orders.filter(F.col("o_orderkey") % 10 == 3).select(
            "o_orderkey", "o_custkey",
            F.lit("M").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            F.lit(1).alias("ver"),
        )
        upd2 = orders.filter(F.col("o_orderkey") % 100 == 3).select(
            "o_orderkey", "o_custkey",
            F.lit("M2").alias("o_orderstatus"),
            (F.col("o_totalprice") + 2000).alias("o_totalprice"),
            F.lit(2).alias("ver"),
        )
        ins = orders.filter(F.col("o_orderkey") % 100 == 7).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_custkey",
            F.lit("N").alias("o_orderstatus"),
            F.lit(500.0).alias("o_totalprice"),
            F.lit(1).alias("ver"),
        )
        before = M.resolve_segments(spark, lake)
        v = M.commit_upsert_mor(
            spark, lake, upd1.unionByName(upd2).unionByName(ins),
            ["o_orderkey"], "ver",
        )
        m = M._read_manifest(spark, lake, v)
        assert set(before) <= set(m["segments"]), "MoR MERGE must not rewrite"
        dv = m.get("deletes", [])
        assert len(dv) == 1 and m["meta"][dv[0]].get("dv") is True

    _ensure_stage(lake, build)
    return _agg(M.read_snapshot(spark, lake))


register(
    "q_manifest_merge_mor",
    q_manifest_merge_mor,
    """
    WITH final AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 100 = 3 THEN 'M2'
                  WHEN o_orderkey % 10 = 3 THEN 'M'
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 100 = 3 THEN o_totalprice + 2000
                  WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, 'N', 500.0
      FROM orders WHERE o_orderkey % 100 = 7
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MAX(o_custkey) AS max_cust
    FROM final GROUP BY o_orderstatus
    """,
)


def _commit_multi_stage(spark: SparkSession, sf_dir: str) -> str:
    """Join-MV maintained through manifest.commit_multi (VERDICT r10
    #4) with a crash INJECTED between the two participant commits (the
    MV publish lands, the state replace raises) while the fact lake
    keeps advancing — the exact double-fold window the primitive's
    prefix contract + newest_multi_token repair close. The final MV
    must be the plain join-aggregate."""
    from ..operators import matview as MV

    root = _stage_dir(sf_dir, "orders", "commit_multi_mv")
    fp, dp = f"{root}/fact", f"{root}/dim"
    mvp, stp = f"{root}/mv", f"{root}/state"

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        args = (
            spark, fp, dp, ["o_orderkey"], ["c_custkey"],
            "o_custkey", "c_custkey", "c_mktsegment", ["o_orderkey"],
            mvp, stp,
        )
        M.commit_append(spark, fp, orders.filter(F.col("o_orderkey") % 3 == 0))
        M.commit_append(spark, dp, cust)
        MV.maintain_join_matview(*args)  # bootstrap group
        M.commit_append(spark, fp, orders.filter(F.col("o_orderkey") % 3 == 1))
        # crash between the two participant commits: the MV publish
        # (participant 1) lands, the state replace (participant 2)
        # raises — a prefix-committed group
        orig = M.commit_replace
        state = {"arm": True}

        def flaky(spark_, path_, df_, target_files=None, **kw):
            if path_ == stp and state["arm"]:
                state["arm"] = False
                raise RuntimeError("injected crash")
            return orig(spark_, path_, df_, target_files, **kw)

        M.commit_replace = flaky
        try:
            MV.maintain_join_matview(*args)
        except RuntimeError:
            pass
        finally:
            M.commit_replace = orig
        # the lake advances past the crash window (the double-fold
        # hazard: a stale state lake under-reports what the MV holds)
        M.commit_append(spark, fp, orders.filter(F.col("o_orderkey") % 3 == 2))
        MV.maintain_join_matview(*args)  # repair: consumed from mvj token
        MV.maintain_join_matview(*args)  # converged no-op

    return _ensure_stage(root, build)


def q_commit_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-lake atomic publish (sources/manifest.py::commit_multi +
    newest_multi_token; VERDICT r10 #4): the join-MV's dual commit runs
    as one tagged GROUP — participants land in order, a crash leaves a
    repairable prefix, and the consumed window re-derives from the
    first participant's newest group token, so the staged
    crash-while-advancing history cannot double-fold. Oracle: the
    plain join-aggregate of the final source tables."""
    from ..operators import matview as MV

    tune(spark)
    root = _commit_multi_stage(spark, sf_dir)
    return MV.read_matview(spark, f"{root}/mv").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("cnt").cast("bigint").alias("n"),
        F.col("sum_o_orderkey").cast("bigint").alias("sum_key"),
    )


register(
    "q_commit_multi",
    q_commit_multi,
    """
    SELECT c_mktsegment AS seg,
           COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)


def _cdf_bridge_lake(spark: SparkSession, sf_dir: str) -> str:
    """v1 append, v2 RECORDED MERGE (pre-rename names), v3 rename
    o_custkey→cust (metadata-only), v4 RECORDED CoW delete (post-rename
    names) — the stream pins the FINAL schema and must serve the v2
    recording through the physical-identity bridge."""
    lake = _stage_dir(sf_dir, "orders", "cdf_schema_bridge")

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        M.commit_append(spark, lake, orders)
        M.commit_upsert(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 10 == 1)
            .withColumn("o_custkey", F.col("o_custkey") + F.lit(1000000))
            .withColumn("ver", F.lit(1)),
            keys=["o_orderkey"], version_col="ver", record_cdf=True,
        )
        M.rename_column(spark, lake, "o_custkey", "cust")
        M.commit_delete(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 10 == 2).select("o_orderkey"),
            ["o_orderkey"], record_cdf=True,
        )
        # the pinned (latest) schema must BRIDGE the v2 recording, not
        # fall back to the computed diff (VERDICT r10 #5)
        from ..sources.cdf_stream import ManifestCDFStreamReader

        rdr = ManifestCDFStreamReader({"path": lake, "keys": "o_orderkey"})
        parts = rdr._plan_version(2)
        assert {p.value[0] for p in parts} == {"rec"}, "v2 must plan recorded"
        assert parts[0].value[6] is False, "v2 must be BRIDGED, not identity"
        parts4 = rdr._plan_version(4)
        assert {p.value[0] for p in parts4} == {"rec"}, "v4 must plan recorded"

    return _ensure_stage(lake, build)


def q_cdf_schema_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recorded-CDF SCHEMA BRIDGE (sources/cdf_stream.py::_rec_plan;
    VERDICT r10 #5): a change segment recorded BEFORE a rename still
    streams verbatim — the recording version's schema+colmap maps the
    pinned schema's physical identities to the recorded field names,
    so the O(changes) fast path survives column mapping instead of
    silently re-diffing the rewrite width — and the output carries the
    CURRENT logical names (the census sums `new.cust`, a field that
    never existed under that name in the recorded file). Memoized per
    (session, lake) like q_manifest_cdf."""
    import uuid

    from ..sources.cdf_stream import register_cdf_stream

    tune(spark)
    register_cdf_stream(spark)
    lake = _cdf_bridge_lake(spark, sf_dir)
    memo = getattr(spark, "_mcdfb_memo", None)
    if memo is None:
        memo = {}
        spark._mcdfb_memo = memo
    if lake in memo:
        return memo[lake]
    name = f"mcdfb_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_cdf")
        .option("path", lake)
        .option("keys", "o_orderkey")
        .load()
        .groupBy(
            F.col("_commit_version").alias("version"), F.col("op")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("sum_key"),
            F.sum("new.cust").cast("bigint").alias("sum_new_cust"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name).select(
        F.col("version").cast("int").alias("version"),
        "op", "n", "sum_key", "sum_new_cust",
    )
    memo[lake] = out
    return out


register(
    "q_cdf_schema_bridge",
    q_cdf_schema_bridge,
    """
    WITH f AS (
      SELECT 1 AS version, 'insert' AS op, o_orderkey, o_custkey AS new_cust
      FROM orders
      UNION ALL
      SELECT 2, 'update', o_orderkey, o_custkey + 1000000
      FROM orders WHERE o_orderkey % 10 = 1 AND o_custkey IS NOT NULL
      UNION ALL
      SELECT 4, 'delete', o_orderkey, NULL
      FROM orders WHERE o_orderkey % 10 = 2
    )
    SELECT version, op, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(new_cust) AS BIGINT) AS sum_new_cust
    FROM f GROUP BY version, op
    """,
)


def _advisor_lake(spark: SparkSession, sf_dir: str) -> str:
    """A lake the advisor has opinions about: a big append + four
    micro-appends (small-file tail), a pending MoR tombstone, then —
    after the first flatten — a fresh append that expires versions
    (vacuum-reclaimable storage). Each plan-and-apply loop stops after
    four rounds; tests/test_lake_queries.py pins each plan's action
    list and that both loops end with an empty plan. The query's oracle
    replays the surviving rows."""
    lake = _stage_dir(sf_dir, "orders", "lake_advisor")

    def flatten():
        plan = M.plan_maintenance(spark, lake)
        for _ in range(4):
            if not plan:
                break
            M.apply_maintenance(spark, lake, plan)
            plan = M.plan_maintenance(spark, lake)

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        M.commit_append(
            spark, lake, orders.filter(F.col("o_orderkey") % 100 != 3),
            stats_cols=["o_orderkey"],
        )
        for rem in (3, 103, 203, 303):  # micro-batch small-file tail
            M.commit_append(
                spark, lake,
                orders.filter(F.col("o_orderkey") % 400 == rem),
                stats_cols=["o_orderkey"],
            )
        M.commit_delete_mor(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 10 == 3).select("o_orderkey"),
            ["o_orderkey"],
        )
        flatten()
        # a fresh append expires old versions: storage becomes
        # reclaimable and the advisor says exactly "vacuum"
        M.commit_append(
            spark, lake,
            orders.filter(F.col("o_orderkey") % 20 == 3),
            stats_cols=["o_orderkey"],
        )
        flatten()

    return _ensure_stage(lake, build)


def q_lake_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTENANCE ADVISOR (sources/manifest.py::plan_maintenance +
    apply_maintenance; VERDICT r10 #6 — `lake advise [--apply]`): the
    metadata tables become a RANKED action plan, and repeating
    plan+apply until the plan is empty flattens the census. The staged
    lake exercised pending-tombstone compaction (subsuming its
    small-file tail) and vacuum-reclaimable detection, with each
    plan's exact action list pinned by a test; the final state
    — one pass of deletes materialized, re-appends visible, no
    tombstones, two live segments — is a pure predicate the oracle
    replays, plus the asserted metadata facts as literal columns."""
    tune(spark)
    lake = _advisor_lake(spark, sf_dir)
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    return _agg(M.read_snapshot(spark, lake)).select(
        "*",
        F.lit(len(m["segments"])).alias("final_segments"),
        F.lit(len(m.get("deletes", []))).alias("final_tombstones"),
        F.lit(len(M.plan_maintenance(spark, lake))).alias("open_advice"),
    )


register(
    "q_lake_advisor",
    q_lake_advisor,
    """
    WITH kept AS (
      SELECT o_orderstatus, o_totalprice, o_custkey FROM orders
      WHERE o_orderkey % 10 <> 3
      UNION ALL
      SELECT o_orderstatus, o_totalprice, o_custkey FROM orders
      WHERE o_orderkey % 20 = 3
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MAX(o_custkey) AS max_cust,
           2 AS final_segments, 0 AS final_tombstones, 0 AS open_advice
    FROM kept GROUP BY o_orderstatus
    """,
)
