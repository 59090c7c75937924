"""Default-gate oracle parity for five groups of registry queries:
those whose iterative operators run on the driver-local tier at test
scale; one per SQL-text vector builder call site (embedding near-dup,
semantic decontamination, sign-LSH, SemDeDup, kNN join); one per text
dedup tier on the shared blocking core of operators/dedup.py (SimHash
pairs, LSH-verified jaccard and containment, fuzzy decontamination,
incremental MinHash); those whose
builders make a local frame through `partitioning.rows_frame` (a dict
lookup join, a banded range join, a manifest MERGE and the manifest
history table); and manifest-lake queries whose staging runs the write
ops that commit through `_commit`'s build (recorded change segments on
every path, DV delete, MoR merge, partitioned MERGE on a column-mapped
lake, UNIQUE and CHECK enforcement), plus the Python datasource writer
and both stream readers, which list, read and commit through the same
manifest store, and the multi-segment writes of the one keyed segment
writer (partitioned append, replaceWhere with partition_by, z-order
within partitions, incremental z-order, the IVF codes lake). Each is
compared with its DuckDB oracle
exactly as tools/local_verify.py compares them (row count, columns,
order-insensitive values, bit-exact floats). The queries read a fresh
symlinked alias of SF_DIR, made once per module: the package keys its
staged lakes on the sf_dir path, so every stage they read is built by
the code under test, never reused from an earlier run. The oracles
read SF_DIR itself. The full sweep stays in tools/local_verify.py and
the soak set."""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from conftest import SF_DIR  # noqa: E402
from local_verify import compare, duck_con  # noqa: E402

from nba_pipeline_spark.plans.queries import REGISTRY  # noqa: E402

QUERIES = [
    "q_pagerank",
    "q_dedup_cluster_star",
    "q_dedup_keep_best",
    "q_dedup_simhash_pairs",
    "q_dedup_ngram_lsh",
    "q_dedup_containment",
    "q_decontaminate_fuzzy",
    "q_dedup_incremental",
    "q_dedup_embedding",
    "q_decontaminate_semantic",
    "q_dedup_embedding_lsh",
    "q_semdedup",
    "q_knn_join",
    "q_ann_lsh",
    "q_lookup_join",
    "q_join_range",
    "q_manifest_upsert",
    "q_manifest_history",
    "q_cdf_recorded_all_paths",
    "q_manifest_delete_dv",
    "q_manifest_merge_mor",
    "q_manifest_merge_mapped",
    "q_manifest_unique",
    "q_manifest_constraints",
    "q_manifest_sql_write",
    "q_manifest_stream_write",
    "q_manifest_cdf",
    "q_manifest_replace_where",
    "q_manifest_zorder_partitioned",
    "q_manifest_zorder_incremental",
    "q_ann_ivf_quantized",
]


@pytest.fixture(scope="module")
def sf_alias(tmp_path_factory):
    """A fresh name for SF_DIR; its staged lakes and stream sources are
    removed at teardown."""
    alias = str(tmp_path_factory.mktemp("oracle_smoke") / "sf")
    os.symlink(SF_DIR, alias)
    yield alias
    tag = alias.strip("/").replace("/", "_")
    for root in ("/tmp/nba_spark_lake", "/tmp/nba_stream_src"):
        shutil.rmtree(f"{root}/{tag}", ignore_errors=True)


@pytest.fixture(scope="module")
def duck():
    con = duck_con(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_oracle_parity(spark, duck, sf_alias, name):
    spec = REGISTRY[name]
    got = spec.fn(spark, sf_alias).toPandas()
    want = duck.execute(spec.oracle).fetchdf()
    assert len(got) > 0
    assert compare(name, got, want) == []
