"""Physical-plan invariants (SURVEY §4) — the 100 TB design contract.

These assert the plans Catalyst actually produces, not just results:
filters reach the parquet scan, dimension joins broadcast, partition
pruning prunes, top-k compiles to TakeOrderedAndProject, and nothing
falls back to a cartesian product.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_parquet(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    df = REGISTRY["q_filter_basic"].fn(spark, SF_DIR)
    p = formatted(df)
    assert "PushedFilters" in p
    # the returnflag predicate must be pushed, not post-filtered only
    assert "IsNotNull(l_returnflag)" in p or "Not(EqualTo(l_returnflag" in p


def test_column_pruning_reads_only_projection(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = formatted(REGISTRY["q_project_rename"].fn(spark, SF_DIR))
    assert "c_name" in p and "c_acctbal" not in p.split("ReadSchema")[1].split("\n")[0]


def test_flagship_broadcasts_dimensions(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = plan(REGISTRY["q_flagship"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_lookup_join_broadcasts(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = plan(REGISTRY["q_lookup_join"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_partition_pruning(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    df = REGISTRY["q_partition_prune"].fn(spark, SF_DIR)
    p = formatted(df)
    assert "PartitionFilters" in p and "o_year" in p
    # only the matching partition's files are read
    assert "(o_year = 1997)" in p or "o_year#" in p


def test_topk_is_take_ordered(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = plan(REGISTRY["q_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p


def test_windows_partition_by_key_not_global(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    for name in ("q_win_running_sum", "q_win_ffill", "q_win_rank", "q_win_lag"):
        p = plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "SinglePartition" not in p, name


def test_no_python_udfs_in_core_queries(spark):
    """Policy SURVEY §2.12: zero Python UDFs outside the multimodal
    path and the explicit escape-hatch allowlist (ops Spark genuinely
    cannot express builtin — each must be Arrow-vectorized, which the
    ArrowEvalPython-not-BatchEvalPython assertion enforces)."""
    from nba_pipeline_spark.plans.queries import REGISTRY

    allowed_arrow = {"q_unicode_normalize"}  # no ICU normalizer builtin
    # the DECLARED UDTF surface (functions/udtfs.py): q_udtf_chunks
    # exists to pin SQL table-function registration + lateral planning;
    # its builtin twin q_chunk_docs is the recommended plan and the
    # bench records the UDTF's boundary cost honestly
    allowed_udtf = {"q_udtf_chunks"}
    for name, spec in REGISTRY.items():
        if name.startswith("q_multimodal"):
            continue
        p = plan(spec.fn(spark, SF_DIR))
        if name in allowed_udtf:
            assert "BatchEvalPythonUDTF" in p, name  # the pinned surface
            continue
        assert "BatchEvalPython" not in p, name
        if name not in allowed_arrow:
            assert "ArrowEvalPython" not in p, name


def test_no_cartesian_products_anywhere(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    for name, spec in REGISTRY.items():
        p = plan(spec.fn(spark, SF_DIR))
        assert "CartesianProduct" not in p, name


def test_agg_has_partial_aggregation(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = plan(REGISTRY["q_agg_group"].fn(spark, SF_DIR))
    # partial (map-side) + final hash aggregate
    assert p.count("HashAggregate") >= 2


def test_tpch_q6_is_scan_only(spark):
    """Q6 must be a pure pushed-down scan + agg: no join anywhere, and
    the date bounds reach the parquet reader."""
    from nba_pipeline_spark.plans.queries import REGISTRY

    df = REGISTRY["q_tpch_q6"].fn(spark, SF_DIR)
    p = formatted(df)
    assert "Join" not in p
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1].split("]")[0]


def test_tpch_q19_disjunction_keeps_pushdown(spark):
    """The OR-of-ANDs must not disable scan pushdown entirely: the
    quantity bounds common to no branch can't push, but IsNotNull and
    the partkey join key still must."""
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = formatted(REGISTRY["q_tpch_q19"].fn(spark, SF_DIR))
    pushed = p.split("PushedFilters")[1].split("]")[0]
    assert "IsNotNull" in pushed


def test_tpch_new_reports_broadcast_dimensions(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    for name in ("q_tpch_q7", "q_tpch_q8", "q_tpch_q14", "q_tpch_q16", "q_tpch_q18"):
        p = plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in p, name


def test_tpch_q18_topk_is_take_ordered(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = plan(REGISTRY["q_tpch_q18"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p


def test_ewma_fold_partitions_by_key(spark):
    """The ordered fold groups on user_id — it must never collapse to a
    single partition (that would be the driver-loop shape at 100 TB)."""
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = plan(REGISTRY["q_ewma"].fn(spark, SF_DIR))
    assert "SinglePartition" not in p


def test_bitmap_distinct_has_partial_aggregation(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    p = plan(REGISTRY["q_agg_bitmap_distinct"].fn(spark, SF_DIR))
    assert p.count("HashAggregate") >= 2


def test_dynamic_partition_pruning_from_dim_filter(spark):
    """DPP: joining the partitioned lake to a FILTERED dimension must
    prune partitions at runtime from the dim's filter result — the scan
    carries a dynamicpruning subquery on the partition column even
    though no literal o_year predicate exists in the query."""
    import os

    from nba_pipeline_spark.plans.queries import REGISTRY
    from nba_pipeline_spark.sources import load_table

    # ensure the partitioned lake exists (q_partition_prune stages it)
    from nba_pipeline_spark.plans.queries import _stage_dir

    REGISTRY["q_partition_prune"].fn(spark, SF_DIR).count()
    lake = _stage_dir(SF_DIR, "orders", "orders_by_year")
    assert os.path.exists(os.path.join(lake, "_SUCCESS"))

    facts = spark.read.parquet(lake)
    # the dim filter is on a NON-partition column: a literal y filter
    # would be constant-propagated into static pruning (verified — the
    # optimizer infers o_year = <lit> through the join), so the partition
    # set here is genuinely unknown until the dim is evaluated at runtime
    years = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.year("o_orderdate").alias("y"))
        .distinct()
    )
    joined = facts.join(years, facts["o_year"] == years["y"])
    p = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in p, p[:2000]


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime filtering: a selective non-broadcast join grows a
    bloom_filter_agg on the build side and a might_contain filter on
    the probe side — rows that can't join die at the probe scan instead
    of crossing the shuffle. The 100 TB lever for selective fact-fact
    joins; thresholds here are forced because local test data is far
    below the defaults (10 GB probe-side scan)."""
    from nba_pipeline_spark.sources import load_table

    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        p = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in p and "bloom_filter_agg" in p, p[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_single_partition_only_on_bounded_frames(spark):
    """Scale invariant, registry-wide: an `Exchange SinglePartition`
    may appear ONLY where the data reaching it is bounded by
    construction — global aggregates collapsing to O(1) rows, final
    limits, windows over pool/bucket frames that are capped before the
    exchange. Any new query that funnels unbounded data through a
    single partition lands here and must either fix the plan or add
    itself with a justification."""
    from nba_pipeline_spark.plans.queries import REGISTRY

    BOUNDED = {
        # global aggregates -> O(1) rows at the exchange
        "q_agg_global", "q_agg_hll_sketch", "q_sketch_theta", "q_profile",
        "q_heavy_hitters", "q_tpch_q6", "q_tpch_q14", "q_tpch_q15",
        "q_tpch_q17", "q_tpch_q19", "q_tpch_q22", "q_tpch_q11",
        # 1-row distribution frames crossed back in (broadcast)
        "q_dsir_sample", "q_unigram_ppl", "q_bigram_ppl", "q_trigram_ppl",
        "q_curriculum_order",
        # eval-benchmark set collapsed to one broadcast row (O(eval)
        # bounded by contract — benchmarks don't grow with the corpus)
        "q_decontaminate_semantic",
        # global triangle count -> O(1) rows at the final exchange
        "q_triangle_count",
        # 1-row scalar frames (basket n_orders; time-travel seq cut)
        "q_basket_rules", "q_cdc_time_travel",
        # budget/spill totals: O(sources)-row frame -> 1-row aggregates
        "q_token_budget",
        # dataset card: 1-row corpus-total frame crossed back in
        "q_data_card",
        # cascade attrition: partial-agg'd flags collapse to ONE row
        # (10 counters) before the stack() unpivot to 5 stage rows
        "q_filter_attrition",
        # expectations: global aggregates -> O(1)-row rule report
        "q_expectations", "q_expectations_quarantine",
        # one-partition-of-one-segment global aggregates (pruned reads)
        "q_manifest_pruned_read", "q_manifest_bloom_read",
        # partition+z-range pruned read -> global 3-column aggregate
        # (O(1) rows cross the exchange after partial agg)
        "q_manifest_zorder_partitioned", "q_manifest_zorder_incremental",
        # z-order range probe -> global 3-column aggregate (O(1) rows
        # cross the exchange after partial agg on the pruned segments)
        "q_manifest_zorder", "q_manifest_zorder_mapped",
        # windows over bounded pools/buckets: top-50 RRF pools, value
        # buckets (|buckets| rows), hourly resample grid
        "q_bm25_topk", "q_hybrid_rrf", "q_skyline", "q_resample_1h",
        # documented test-only global ordinal (SURVEY W4)
        "q_win_ordinal",
    }
    offenders = []
    for name, spec in REGISTRY.items():
        if name in BOUNDED:
            continue
        p = plan(spec.fn(spark, SF_DIR))
        if "Exchange SinglePartition" in p:
            offenders.append(name)
    assert not offenders, offenders


def test_bigram_ppl_broadcast_is_size_guarded(spark):
    # the bigram/unigram count joins must flow through the size guard:
    # broadcast while the corpus scan estimate fits the cap, shuffle
    # join past it — a registered plan must not need a human to flip a
    # hint at 100x (VERDICT r6 "what's wrong" #2)
    from nba_pipeline_spark.plans.quality_queries import _bigram_ppl_plan

    small = plan(_bigram_ppl_plan(spark, SF_DIR))
    assert "BroadcastHashJoin" in small  # bench scale: counts broadcast
    # past the cap, with Catalyst's own auto-broadcast also ruled out
    # (as it would be when the runtime estimate exceeds the threshold),
    # the equi-joins degrade to shuffle joins: proves no unconditional
    # hint survives. Only the provably-1-row vocab crossJoin may still
    # broadcast (nested-loop, not hash).
    # build first, then flip the threshold — join selection happens
    # lazily at plan(), and the test saves/restores the conf itself
    # (tune() is memoized since r12 and no longer resets session conf)
    df = _bigram_ppl_plan(spark, SF_DIR, broadcast_cap=-1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in big
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big


def _embedding_scan_blocks(p: str) -> list[str]:
    """Formatted-explain blocks for FileScan nodes over the embeddings
    parquet (block = text from one 'Scan parquet' header to the next)."""
    blocks, cur = [], None
    for line in p.splitlines():
        if "Scan parquet" in line or "Scan csv" in line:
            if cur is not None:
                blocks.append("\n".join(cur))
            cur = [line]
        elif cur is not None:
            cur.append(line)
    if cur is not None:
        blocks.append("\n".join(cur))
    return [b for b in blocks if "embeddings" in b]


def test_ann_pq_rerank_scan_is_pruned(spark):
    # VERDICT r7 "what's wrong" #1: the exact-rerank finish must be an
    # O(pool) point read, never a join against an unpruned full scan of
    # the original-vector table. pq_topk now collects the bounded pool
    # ids and pushes In(vec_id, [...]) into the scan; every embeddings
    # scan left in the returned plan must carry a pushed point filter.
    from nba_pipeline_spark.plans.queries import REGISTRY

    df = REGISTRY["q_ann_pq_rerank"].fn(spark, SF_DIR)
    p = formatted(df)
    assert "In(vec_id" in p  # the pool fetch is id-pruned
    blocks = _embedding_scan_blocks(p)
    assert blocks, "expected embeddings scans in the rerank plan"
    for b in blocks:
        assert "PushedFilters: []" not in b, b
        assert "In(vec_id" in b or "EqualTo(vec_id" in b, b


def test_ann_ivfpq_rerank_scan_is_pruned(spark):
    from nba_pipeline_spark.plans.queries import REGISTRY

    df = REGISTRY["q_ann_ivfpq_rerank"].fn(spark, SF_DIR)
    p = formatted(df)
    assert "In(vec_id" in p
    for b in _embedding_scan_blocks(p):
        assert "PushedFilters: []" not in b, b
        assert "In(vec_id" in b or "EqualTo(vec_id" in b, b


def test_pruned_vector_fetch_pushes_in_filter(spark):
    from nba_pipeline_spark.operators.similarity import pruned_vector_fetch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = formatted(pruned_vector_fetch(emb, "vec_id", [1, 2, 3]))
    assert "PushedFilters" in p and "In(vec_id" in p


def test_knn_join_pq_scans_are_pruned(spark):
    # the batch IVF-PQ join's embeddings scans (query-vector fetch and
    # rerank fetch) must both be id-pushed point reads — never a full
    # float scan shared across the batch
    from nba_pipeline_spark.plans.queries import REGISTRY

    df = REGISTRY["q_knn_join_pq"].fn(spark, SF_DIR)
    p = formatted(df)
    assert "In(vec_id" in p
    blocks = _embedding_scan_blocks(p)
    assert blocks, "expected embeddings scans in the knn-join plan"
    for b in blocks:
        assert "PushedFilters: []" not in b, b
        assert "In(vec_id" in b or "EqualTo(vec_id" in b, b
