"""Default-gate oracle parity: the registry queries whose iterative
operators run on the driver-local tier at test scale, compared with
their DuckDB oracles exactly as tools/local_verify.py compares them
(row count, columns, order-insensitive values, bit-exact floats). The
full sweep stays in tools/local_verify.py and the soak set."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from conftest import SF_DIR  # noqa: E402
from local_verify import compare, duck_con  # noqa: E402

from nba_pipeline_spark.plans.queries import REGISTRY  # noqa: E402

QUERIES = ["q_pagerank", "q_dedup_cluster_star", "q_dedup_keep_best"]


@pytest.fixture(scope="module")
def duck():
    con = duck_con(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_oracle_parity(spark, duck, name):
    spec = REGISTRY[name]
    got = spec.fn(spark, SF_DIR).toPandas()
    want = duck.execute(spec.oracle).fetchdf()
    assert len(got) > 0
    assert compare(name, got, want) == []
