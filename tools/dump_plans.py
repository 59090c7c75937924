"""Dump formatted physical plans of registered queries.

Run after plan-affecting changes:

    python tools/dump_plans.py SF_DIR                      # every query -> PLANS.md
    python tools/dump_plans.py SF_DIR q_a q_b --out F.md   # named queries -> F.md
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

HEADLINE = [
    "q_flagship",
    "q_agg_group",
    "q_partition_prune",
    "q_lookup_join",
    "q_join_asof",
    "q_topk",
    "q_win_running_reset",
    "q_dedup_minhash",
    "q_cosine_topk",
    "q_stream_session",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q18",
    "q_sessionize",
    "q_sql_not_in",
    "q_ewma",
    "q_agg_bitmap_distinct",
    "q_join_interval_overlap",
    "q_semdedup",
    "q_dsir_sample",
    "q_knn_join_lsh",
    "q_unigram_ppl",
    "q_bigram_ppl",
    "q_tokenize_ids",
    "q_pagerank",
    "q_data_recipe",
    "q_interpolate",
    "q_hybrid_rrf",
    "q_skyline",
    "q_tpch_q21",
    "q_multimodal_chunks",
    "q_ann_lsh",
    "q_mv_maintain",
    "q_mv_minmax_refresh",
    "q_stream_enrich",
    "q_decontaminate_bloom",
    # round-4 additions
    "q_dedup_cluster_star",
    "q_decontaminate_fuzzy",
    "q_intradoc_dedup",
    "q_token_budget",
    "q_unicode_normalize",
    "q_dedup_keep_best",
    "q_expectations",
    # round-5 additions
    "q_manifest_snapshot",
    "q_manifest_upsert",
    "q_quarantine_rows",
    "q_expectations_quarantine",
    "q_stream_token_tally",
    "q_tfidf_keywords",
    "q_inverted_index",
    "q_dedup_containment",
    "q_dedup_containment_full",
    "q_embed_quantize",
    "q_ann_quantized",
    "q_manifest_diff",
    # round-6 additions
    "q_manifest_merge_pruned",
    "q_manifest_replace_where",
    "q_manifest_zorder",
    "q_manifest_feed",
    "q_ann_ivf_quantized",
    "q_ann_quantized_rerank",
    "q_dedup_spans",
    # round-6 continuation
    "q_bpe_encode",
    "q_manifest_matview",
    "q_decontaminate_semantic",
    "q_manifest_restore",
    "q_manifest_clone",
    "q_manifest_constraints",
    "q_manifest_partition_evolution",
    "q_manifest_files",
    "q_manifest_zorder_partitioned",
    "q_manifest_zorder_incremental",
    # round-7 additions
    "q_ann_pq_rerank",
    "q_ann_ivfpq_rerank",
    "q_ann_ivfpq_nprobe",
    "q_dedup_spans_incremental",
    "q_bpe_first_merge",
    "q_trigram_ppl",
    "q_embed_pca",
    # round-9 additions
    "q_ann_delete_propagate",
    "q_manifest_sql_tombstone",
    "q_manifest_sql_bloom",
    "q_filter_attrition",
    "q_length_buckets",
    "q_ann_recall_eval",
    "q_manifest_matview_join",
    "q_corpus_takedown",
    "q_manifest_unique",
    "q_udtf_chunks",
]

PREAMBLE = """# PLANS — formatted physical plans ({sf}, local)

Generated by `tools/dump_plans.py`. What to look for, per SCALE.md:
`PushedFilters`/`ReadSchema` on scans, `PartitionFilters` on the
partitioned lake, `BroadcastHashJoin` for dimensions,
`TakeOrderedAndProject` for top-k, partial+final `HashAggregate`
pairs, and windows that never run on `SinglePartition`.
"""


def main() -> None:
    """One section per REGISTERED query (VERDICT r9 #4), or per named
    query when some are given: the curated HEADLINE order leads (the
    plans people read), then every remaining registry entry in registry
    order — greppable by `## q_name`. A builder that fails to plan
    records the error instead of silently dropping the section."""
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out", type=Path, default=ROOT / "PLANS.md")
    args = ap.parse_args()
    from nba_pipeline_spark.session import get_spark
    from nba_pipeline_spark.plans.queries import REGISTRY

    spark = get_spark("dump_plans", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    names = args.queries or [n for n in HEADLINE if n in REGISTRY] + [
        n for n in REGISTRY if n not in HEADLINE
    ]
    out = [PREAMBLE.format(sf=Path(args.sf_dir).name)]
    n_ok = 0
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out.append(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")
            n_ok += 1
        except Exception as e:  # keep the section, record the failure
            out.append(f"\n## {name}\n\n```\nPLAN CAPTURE FAILED: {e}\n```\n")
    args.out.write_text("".join(out))
    print(f"wrote {args.out} with {n_ok}/{len(names)} plans")


if __name__ == "__main__":
    main()
