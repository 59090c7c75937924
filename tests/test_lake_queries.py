"""Checks on the staged lakes of the `plans/lake_queries.py` builders.

Each test stages a builder's lake on a fresh alias of SF_DIR (so the
stage is built by this checkout's code) and makes the assertion the
builder used to make inline, with the same condition."""
from __future__ import annotations

import os
import shutil

import pytest

from nba_pipeline_spark.plans import lake_queries as Q
from nba_pipeline_spark.sources import manifest as M


@pytest.fixture
def alias(tmp_path):
    from conftest import SF_DIR

    sf = str(tmp_path / "sf")
    os.symlink(SF_DIR, sf)
    stages = os.path.dirname(Q._stage_dir(sf, "orders", "x"))
    yield sf
    shutil.rmtree(stages, ignore_errors=True)


def test_replace_where_transfers_untouched_partitions_by_name(spark, alias):
    """q_manifest_replace_where: the 'O'/'F' segments of the atomic
    3-way append (version 1) transfer into the re-stated version by
    name, and the re-stated 'P' partition stays one tagged segment."""
    lake = Q._replace_where_lake(spark, alias)
    before = M._read_manifest(spark, lake, 1)
    after = M._read_manifest(spark, lake, M.current_version(spark, lake))
    untouched = {
        s for s in before["segments"]
        if before["meta"][s]["part"]["o_orderstatus"] != "P"
    }
    assert untouched < set(after["segments"]), "untouched segments must transfer by name"
    assert len(M.resolve_segments(spark, lake, part_eq={"o_orderstatus": "P"})) == 1


def test_zorder_incremental_fold_consumes_the_append(spark, alias):
    """q_manifest_zorder_incremental: a corpus-wide stripe touches every
    run at this scale (the settled-run name transfer is pinned by
    test_cluster_incremental_folds_only_receiving_runs); the staging
    invariant is that the fold CONSUMED the append, so every live
    segment is clustered again. The query's range probe keeps a subset
    of the segments."""
    lake = Q._zorder_incr_lake(spark, alias)
    after = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert all(
        "cluster" in after.get("meta", {}).get(s, {})
        for s in after["segments"]
    ), "unclustered segments survived the incremental fold"
    segs = M.resolve_segments(spark, lake, ranges={"o_custkey": (0, 300)})
    assert len(segs) <= len(M.resolve_segments(spark, lake))


def test_compact_small_keeps_the_full_sized_segment(spark, alias):
    """q_manifest_compact_small: the full-sized segment (the first of
    the pre-compaction snapshot) survives by name, and the six
    micro-appends merge into one tail segment."""
    lake = Q._compact_small_lake(spark, alias)
    big = M.resolve_segments(spark, lake, version=7)[0]  # 1 + 6 appends
    after = M.resolve_segments(spark, lake)
    assert big in after, "full-sized segment must survive untouched"
    assert len(after) == 2, after  # big + one merged tail


def test_cdf_recorded_on_every_change_path(spark, alias):
    """q_cdf_recorded_all_paths: the pruned MERGE (v2), the MoR delete
    (v3), the replaceWhere (v5) and the RESTORE (v6) each carry a
    recorded change segment."""
    lake = Q._cdf_recorded_all_paths_lake(spark, alias)
    for v in (2, 3, 5, 6):
        assert M._read_manifest(spark, lake, v).get("cdf"), (
            f"version {v} must carry a recorded change segment"
        )


def test_advisor_plans_and_converges(spark, alias, monkeypatch):
    """q_lake_advisor: the first plan is exactly one tombstone-driven
    "compact", the plan after the expiring append is exactly "vacuum",
    and each plan-and-apply loop ends with an empty plan within four
    applies. Every plan the staging computes is recorded in order."""
    plans: list = []
    real = M.plan_maintenance

    def record(*args, **kwargs):
        plans.append(real(*args, **kwargs))
        return plans[-1]

    monkeypatch.setattr(M, "plan_maintenance", record)
    Q._advisor_lake(spark, alias)
    i = next(i for i, p in enumerate(plans) if not p)  # first loop's end
    first, second = plans[: i + 1], plans[i + 1:]
    assert [p["action"] for p in first[0]] == ["compact"], first[0]
    assert "tombstone" in first[0][0]["reason"]
    assert i <= 4, plans
    assert [p["action"] for p in second[0]] == ["vacuum"], second[0]
    assert not second[-1] and len(second) - 1 <= 4, second
