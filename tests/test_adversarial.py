"""Adversarial-shape regression gate as a pytest: NULL/empty/sub-shingle
documents and junk-JSON events, oracle-compared exactly like the driver.

These shapes found five real bugs in round 1 (see
tools/make_adversarial.py); this keeps them found.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo/tools")

from local_verify import compare, duck_con  # noqa: E402
from make_adversarial import DEST, main as stage  # noqa: E402

# the queries whose semantics the adversarial shapes exercise
QUERIES = [
    "q_json_extract",
    "q_array_ops",
    "q_text_quality",
    "q_lang_id",
    "q_fingerprint",
    "q_dedup_fingerprint",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_ngram_jaccard",
    "q_winnow_fingerprint",
    "q_token_count",
    "q_multimodal_meta",
    "q_multimodal_frames",
    "q_cdc_upsert",
    "q_cdc_changelog",
    "q_corpus_pipeline",
    "q_stream_interval_join",
    "q_sql_pricing_summary",
    "q_join_nullsafe",
    "q_agg_unpivot",
    "q_agg_histogram",
    "q_sql_grouping_sets",
    "q_sql_lateral_topn",
    "q_sql_scalar_subquery",
    "q_resample_1h",
    "q_decontaminate",
    "q_pii_redact",
    "q_repetition_filter",
    "q_dedup_cluster",
    # identical vectors (argmax ties at cosine 1.0) and junk events
    "q_pagerank",
    "q_dedup_embedding",
    "q_decontaminate_semantic",
]


@pytest.fixture(scope="module")
def adversarial_dir():
    stage()
    return DEST


@pytest.fixture(scope="module")
def duck(adversarial_dir):
    return duck_con(adversarial_dir)


@pytest.mark.parametrize("name", QUERIES)
def test_adversarial_oracle_match(spark, adversarial_dir, duck, name):
    from nba_pipeline_spark.plans.queries import REGISTRY

    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, adversarial_dir).toPandas()
    duck_pdf = duck.execute(spec.oracle).fetchdf()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, problems


def test_adversarial_rows_only_queries_run(spark, adversarial_dir):
    from nba_pipeline_spark.plans.queries import REGISTRY

    for name in ("q_dedup_minhash_ml", "q_kmeans_cells"):
        assert REGISTRY[name].fn(spark, adversarial_dir).count() >= 0
