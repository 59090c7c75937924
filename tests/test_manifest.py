"""Manifest/snapshot lake: atomic multi-file commits, snapshot-isolated
readers (no maintenance window during compaction), time travel, CAS
writer races, crash recovery, vacuum retention."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.sources import manifest as M


def _rows(df):
    return {(r["id"], r["t"]) for r in df.collect()}


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"d{i}") for i in range(lo, hi)], "id int, t string"
    )


def test_append_replace_compact_versions(spark, tmp_path):
    lake = str(tmp_path / "lake")
    v1 = M.commit_append(spark, lake, _mk(spark, 0, 4))
    v2 = M.commit_append(spark, lake, _mk(spark, 4, 8))
    assert (v1, v2) == (1, 2)
    assert _rows(M.read_snapshot(spark, lake)) == _rows(_mk(spark, 0, 8))

    v3 = M.compact(spark, lake, target_files=1)
    assert v3 == 3
    assert _rows(M.read_snapshot(spark, lake)) == _rows(_mk(spark, 0, 8))
    # compacted snapshot is one segment
    m3 = M._read_manifest(spark, lake, 3)
    assert len(m3["segments"]) == 1 and m3["op"] == "compact"

    v4 = M.commit_replace(spark, lake, _mk(spark, 100, 102))
    assert v4 == 4
    assert _rows(M.read_snapshot(spark, lake)) == _rows(_mk(spark, 100, 102))


def test_time_travel_reads_every_version(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 3))
    M.commit_append(spark, lake, _mk(spark, 3, 6))
    M.commit_replace(spark, lake, _mk(spark, 9, 10))
    assert _rows(M.read_snapshot(spark, lake, version=1)) == _rows(_mk(spark, 0, 3))
    assert _rows(M.read_snapshot(spark, lake, version=2)) == _rows(_mk(spark, 0, 6))
    assert _rows(M.read_snapshot(spark, lake, version=3)) == _rows(_mk(spark, 9, 10))
    assert M.current_version(spark, lake) == 3
    with pytest.raises(ValueError):
        M.read_snapshot(spark, lake, version=7)


def test_reader_during_compaction_sees_one_snapshot(spark, tmp_path):
    """A reader that resolved its manifest BEFORE compaction keeps
    scanning the old segments (still on disk) — never a mix of old and
    new; a reader resolving AFTER sees exactly the new snapshot."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 5))
    M.commit_append(spark, lake, _mk(spark, 5, 10))
    expected = _rows(_mk(spark, 0, 10))

    pinned = M.read_snapshot(spark, lake)  # resolves v2's segment list now
    old_segs = M._read_manifest(spark, lake, 2)["segments"]

    M.compact(spark, lake)

    # old segments untouched by the commit -> the pinned plan still scans them
    for s in old_segs:
        assert os.path.exists(f"{lake}/data/{s}/_SUCCESS")
    assert _rows(pinned) == expected
    assert _rows(M.read_snapshot(spark, lake)) == expected
    assert len(M._read_manifest(spark, lake, 3)["segments"]) == 1


def test_compact_concurrent_append_loses_no_rows(spark, tmp_path):
    """An append that lands between compaction's snapshot read and its
    commit survives: the CAS makes the second committer re-point at the
    actual parent, so the compacted list keeps the interleaved segment."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 4))
    base = M._read_manifest(spark, lake, 1)

    # simulate: compaction computed its consolidated segment from v1...
    df = M._read_segments(spark, lake, base["segments"])
    seg = M._write_segment(df, lake, 1)
    # ...but an append commits v2 first
    M.commit_append(spark, lake, _mk(spark, 4, 6))

    def _segments(parent):
        extra = [s for s in (parent["segments"] if parent else [])
                 if s not in set(base["segments"])]
        return [seg] + extra

    v = M._commit(spark, lake, "compact", _segments)
    assert v == 3
    assert _rows(M.read_snapshot(spark, lake)) == _rows(_mk(spark, 0, 6))


def test_crash_mid_commit_is_invisible_and_vacuumable(spark, tmp_path):
    """Orphan segment + tmp manifest (crash before rename) are invisible
    to readers and reclaimed by vacuum; a committed rename is durable."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 4))
    expected = _rows(_mk(spark, 0, 4))

    # crash: segment written, manifest only as tmp (never renamed)
    M._write_segment(_mk(spark, 50, 60), lake, None)
    with open(f"{lake}/_manifests/.tmp-deadbeef.json", "w") as fh:
        json.dump({"version": 2, "segments": ["seg-zzz"]}, fh)

    assert M.current_version(spark, lake) == 1
    assert _rows(M.read_snapshot(spark, lake)) == expected

    # FRESH tmp + FRESH never-referenced segment could be an in-flight
    # concurrent commit: both kept
    n = M.vacuum(spark, lake, keep_versions=1)
    assert n == 0
    assert os.path.exists(f"{lake}/_manifests/.tmp-deadbeef.json")
    # ...STALE tmp + STALE orphan (crashed writer) are reclaimed
    os.utime(f"{lake}/_manifests/.tmp-deadbeef.json", (1000, 1000))
    for d in os.listdir(f"{lake}/data"):
        os.utime(f"{lake}/data/{d}", (1000, 1000))
    n2 = M.vacuum(spark, lake, keep_versions=1)
    assert n2 == 1  # the orphan segment (live one untouched)
    assert not os.path.exists(f"{lake}/_manifests/.tmp-deadbeef.json")
    assert _rows(M.read_snapshot(spark, lake)) == expected


def test_vacuum_retains_recent_versions_only(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 2))
    M.commit_append(spark, lake, _mk(spark, 2, 4))
    M.compact(spark, lake)
    # keep v2,v3: v1's manifest goes; v3's compacted seg + v2's segs stay
    M.vacuum(spark, lake, keep_versions=2)
    assert M._manifest_versions(spark, lake) == [2, 3]
    assert _rows(M.read_snapshot(spark, lake, version=2)) == _rows(_mk(spark, 0, 4))
    assert _rows(M.read_snapshot(spark, lake, version=3)) == _rows(_mk(spark, 0, 4))

    # now drop to 1 version: v2-only segments are reclaimed
    M.vacuum(spark, lake, keep_versions=1)
    assert M._manifest_versions(spark, lake) == [3]
    segs = set(os.listdir(f"{lake}/data"))
    assert segs == set(M._read_manifest(spark, lake, 3)["segments"])
    assert _rows(M.read_snapshot(spark, lake)) == _rows(_mk(spark, 0, 4))


def test_cas_version_collision_retries(spark, tmp_path):
    """A competing writer that grabs the target version BETWEEN the
    parent read and the rename makes the rename fail; the loop re-reads
    the new parent and lands on the next version with both segment sets
    intact. (segments_fn runs inside the loop before the rename — the
    plant lands in exactly the race window.)"""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 2))
    seg_mine = M._write_segment(_mk(spark, 4, 6), lake, None)
    seg_theirs = M._write_segment(_mk(spark, 2, 4), lake, None)
    planted = {"done": False}

    def segments_fn(parent):
        if not planted["done"]:
            planted["done"] = True
            with open(f"{lake}/_manifests/v00000002.json", "w") as fh:
                json.dump(
                    {"version": 2, "parent": 1, "op": "append",
                     "segments": M._read_manifest(spark, lake, 1)["segments"]
                     + [seg_theirs]},
                    fh,
                )
        return (parent["segments"] if parent else []) + [seg_mine]

    v = M._commit(spark, lake, "append", segments_fn)
    assert v == 3  # first attempt at v2 lost; retried on the new parent
    assert _rows(M.read_snapshot(spark, lake)) == _rows(_mk(spark, 0, 6))


def test_manifest_append_sink_exactly_once(spark, tmp_path):
    """Streaming append into the manifest lake: each micro-batch is one
    atomic manifest commit; a full replay (fresh checkpoint, same batch
    ids) finds its tags and skips — no double-append."""
    import os
    import shutil

    lake = str(tmp_path / "lake")
    src = str(tmp_path / "feed")
    os.makedirs(src)
    batches = [[(1, "a"), (2, "b")], [(3, "c")], [(4, "d"), (5, "e")]]
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, "id int, t string").coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    def drain(ckpt):
        stream = (
            spark.readStream.schema("id int, t string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(M.manifest_append_sink(lake))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("ckpt1")
    assert M.current_version(spark, lake) == 3
    expected = {(i, t) for rows in batches for i, t in rows}
    assert _rows(M.read_snapshot(spark, lake)) == expected
    assert M.committed_tags(spark, lake) == {"batch=0", "batch=1", "batch=2"}

    drain("ckpt2")  # replay: all three tags present -> zero new commits
    assert M.current_version(spark, lake) == 3
    assert _rows(M.read_snapshot(spark, lake)) == expected


def test_manifest_tags_survive_vacuum(spark, tmp_path):
    """Tags are cumulative per manifest, so the replay guard works from
    the latest manifest even after vacuum dropped the earlier ones."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 2), tag="batch=0")
    M.commit_append(spark, lake, _mk(spark, 2, 4), tag="batch=1")
    M.commit_append(spark, lake, _mk(spark, 4, 6), tag="batch=2")
    M.vacuum(spark, lake, keep_versions=1)
    assert M._manifest_versions(spark, lake) == [3]
    assert M.committed_tags(spark, lake) == {"batch=0", "batch=1", "batch=2"}


def test_commit_upsert_merges_and_retries_on_conflict(
    spark, tmp_path, race_before_rename
):
    """SCD1 MERGE into the lake: updates win per key by version,
    inserts land, untouched rows persist; a snapshot that moves between
    the merge and its rename forces a re-merge on the new head so no
    concurrent append is lost."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark,
        lake,
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, v string, x int"),
    )
    changes = spark.createDataFrame(
        [(2, "b2", 21, 5), (3, "c", 30, 5)], "k int, v string, x int, ver int"
    )
    v = M.commit_upsert(spark, lake, changes, ["k"], "ver")
    assert v == 2
    got = {(r["k"], r["v"], r["x"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "a", 10), (2, "b2", 21), (3, "c", 30)}

    # race path: an append lands after the merge, before its rename —
    # the merge re-runs on the new head and the appended row survives
    fired = race_before_rename(
        lambda: M.commit_append(
            spark, lake,
            spark.createDataFrame([(4, "d", 40)], "k int, v string, x int"),
        )
    )
    more = spark.createDataFrame(
        [(1, "a2", 11, 6)], "k int, v string, x int, ver int"
    )
    assert M.commit_upsert(spark, lake, more, ["k"], "ver") == 4
    assert fired
    got = {(r["k"], r["v"], r["x"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "a2", 11), (2, "b2", 21), (3, "c", 30), (4, "d", 40)}

    # time travel still sees the pre-merge table
    pre = {(r["k"], r["v"], r["x"]) for r in M.read_snapshot(spark, lake, 1).collect()}
    assert pre == {(1, "a", 10), (2, "b", 20)}


def test_schema_evolution_additive_columns(spark, tmp_path):
    """Appending a wider segment evolves the table; merge_schema reads
    surface NULLs for old segments, and compaction preserves the union
    schema instead of dropping the new column."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, spark.createDataFrame([(1, "a")], "id int, t string"))
    M.commit_append(
        spark,
        lake,
        spark.createDataFrame([(2, "b", "en")], "id int, t string, lang string"),
    )
    df = M.read_snapshot(spark, lake, merge_schema=True)
    assert set(df.columns) == {"id", "t", "lang"}
    got = {(r["id"], r["t"], r["lang"]) for r in df.collect()}
    assert got == {(1, "a", None), (2, "b", "en")}

    M.compact(spark, lake)
    df2 = M.read_snapshot(spark, lake)  # one segment now: plain read suffices
    assert set(df2.columns) == {"id", "t", "lang"}
    assert {(r["id"], r["t"], r["lang"]) for r in df2.collect()} == got


@pytest.mark.slow
def test_manifest_many_commits_resolution_and_vacuum(spark, tmp_path):
    """60 commits: resolution stays a single small-file read (latest
    manifest lists all segments), every historical version remains
    readable until vacuum, and vacuum reclaims exactly the expired
    segments while keeping tag history intact."""
    lake = str(tmp_path / "lake")
    for i in range(60):
        M.commit_append(
            spark,
            lake,
            spark.createDataFrame([(i, f"d{i}")], "id int, t string"),
            tag=f"batch={i}",
        )
    assert M.current_version(spark, lake) == 60
    assert M.read_snapshot(spark, lake).count() == 60
    # spot-check time travel depth
    assert M.read_snapshot(spark, lake, version=1).count() == 1
    assert M.read_snapshot(spark, lake, version=30).count() == 30

    # compact + vacuum to 2 versions: only the compacted segment (+ the
    # still-referenced pre-compaction segments of the retained parent)
    M.compact(spark, lake, target_files=2)
    M.vacuum(spark, lake, keep_versions=1)
    assert M._manifest_versions(spark, lake) == [61]
    import os
    live = set(M._read_manifest(spark, lake, 61)["segments"])
    assert set(os.listdir(f"{lake}/data")) == live
    assert len(live) == 1
    assert M.read_snapshot(spark, lake).count() == 60
    # tag history survives vacuum (cumulative in the latest manifest)
    assert M.committed_tags(spark, lake) == {f"batch={i}" for i in range(60)}


def test_manifest_partition_and_stats_pruning(spark, tmp_path):
    """Manifest-level data skipping: partition tags and min/max stats
    prune segments on the DRIVER before any file listing; untagged
    segments are never pruned (no info -> must scan)."""
    lake = str(tmp_path / "lake")
    for yr in (1997, 1998, 1999):
        M.commit_append(
            spark,
            lake,
            spark.createDataFrame(
                [(yr * 10 + j, yr, float(j)) for j in range(4)],
                "id int, yr int, v double",
            ),
            partition={"yr": yr},
            stats_cols=["id"],
        )
    # untagged segment: joins every pruned read
    M.commit_append(
        spark, lake, spark.createDataFrame([(7, 2005, 0.5)], "id int, yr int, v double")
    )

    all_segs = M.resolve_segments(spark, lake)
    assert len(all_segs) == 4
    pruned = M.resolve_segments(spark, lake, part_eq={"yr": 1998})
    assert len(pruned) == 2  # the 1998 segment + the untagged one
    got = M.read_snapshot(spark, lake, part_eq={"yr": 1998}).filter("yr = 1998")
    assert {r["id"] for r in got.collect()} == {19980, 19981, 19982, 19983}

    # stats ranges: id in [19970, 19973] only lives in the 1997 segment
    by_range = M.resolve_segments(spark, lake, ranges={"id": (19970, 19973)})
    assert len(by_range) == 2  # 1997 segment + untagged
    # a range matching nothing tagged still keeps the untagged segment
    none_tagged = M.resolve_segments(spark, lake, ranges={"id": (1, 2)})
    assert len(none_tagged) == 1


def test_manifest_part_in_pruning(spark, tmp_path):
    """part_in = set-valued part_eq: ONE pruned scan over an N-value
    partition probe must resolve exactly the union of the per-value
    part_eq reads (the r12 optimization replacing N-way unions), keep
    untagged segments, and never prune on a type-drifted probe."""
    lake = str(tmp_path / "lake")
    for yr in (1997, 1998, 1999):
        M.commit_append(
            spark,
            lake,
            spark.createDataFrame(
                [(yr * 10 + j, yr, float(j)) for j in range(4)],
                "id int, yr int, v double",
            ),
            partition={"yr": yr},
        )
    M.commit_append(
        spark, lake, spark.createDataFrame([(7, 2005, 0.5)], "id int, yr int, v double")
    )

    union_of_eq = set(M.resolve_segments(spark, lake, part_eq={"yr": 1997})) | set(
        M.resolve_segments(spark, lake, part_eq={"yr": 1999})
    )
    one_in = M.resolve_segments(spark, lake, part_in={"yr": [1997, 1999]})
    assert set(one_in) == union_of_eq
    assert len(one_in) == 3  # 1997 + 1999 segments + the untagged one

    got = (
        M.read_snapshot(spark, lake, part_in={"yr": [1997, 1999]})
        .filter(F.col("yr").isin([1997, 1999]))
    )
    assert {r["id"] for r in got.collect()} == {
        19970, 19971, 19972, 19973, 19990, 19991, 19992, 19993,
    }

    # no listed value matches a tag -> only the untagged segment survives
    assert len(M.resolve_segments(spark, lake, part_in={"yr": [2050, 2051]})) == 1
    # type-drifted probe (str vs int tag): not provably disjoint -> keep all
    assert len(M.resolve_segments(spark, lake, part_in={"yr": ["1997x", "zz"]})) == 4


def test_commit_upsert_partitioned_rewrites_only_touched(spark, tmp_path):
    """Partition-scoped MERGE: untouched partitions' segments transfer
    by NAME (zero data movement), touched ones are re-merged; new
    partitions insert; an untagged segment fails loudly."""
    lake = str(tmp_path / "lake")
    for yr in (1997, 1998):
        M.commit_append(
            spark,
            lake,
            spark.createDataFrame(
                [(yr * 10 + j, yr, f"v{j}") for j in range(3)],
                "id int, yr int, t string",
            ),
            partition={"yr": yr},
        )
    before = M.resolve_segments(spark, lake, part_eq={"yr": 1997})
    assert len(before) == 1
    seg_1997 = before[0]

    changes = spark.createDataFrame(
        [(19980, 1998, "UPDATED", 5), (20000, 2000, "NEW", 5)],
        "id int, yr int, t string, ver int",
    )
    M.commit_upsert_partitioned(spark, lake, changes, ["id"], "ver", "yr")

    after = M.resolve_segments(spark, lake)
    assert seg_1997 in after  # untouched partition: same segment, no rewrite
    got = {(r["id"], r["yr"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {
        (19970, 1997, "v0"), (19971, 1997, "v1"), (19972, 1997, "v2"),
        (19980, 1998, "UPDATED"), (19981, 1998, "v1"), (19982, 1998, "v2"),
        (20000, 2000, "NEW"),
    }
    # the new 2000 partition is tagged and prunable
    assert len(M.resolve_segments(spark, lake, part_eq={"yr": 2000})) == 1

    # untagged segment poisons partitioned MERGE -> loud failure
    M.commit_append(spark, lake, spark.createDataFrame([(1, 1, "x")], "id int, yr int, t string"))
    with pytest.raises(ValueError, match="partition metadata"):
        M.commit_upsert_partitioned(spark, lake, changes, ["id"], "ver", "yr")


@pytest.mark.slow
def test_concurrent_appenders_all_rows_survive(spark, tmp_path):
    """8 threads racing commit_append: the rename-CAS serializes them —
    versions come out contiguous 1..8, every writer's rows are in the
    final snapshot, and each manifest's segment list extends its
    parent's (no lost update anywhere in the chain)."""
    import threading

    lake = str(tmp_path / "lake")
    errs = []

    def writer(i):
        try:
            M.commit_append(
                spark,
                lake,
                spark.createDataFrame([(i * 10 + j, f"w{i}") for j in range(3)],
                                      "id int, t string"),
                tag=f"writer={i}",
            )
        except Exception as e:  # surface in the main thread
            errs.append((i, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert M._manifest_versions(spark, lake) == list(range(1, 9))
    got = {r["id"] for r in M.read_snapshot(spark, lake).collect()}
    assert got == {i * 10 + j for i in range(8) for j in range(3)}
    assert M.committed_tags(spark, lake) == {f"writer={i}" for i in range(8)}
    # every manifest extends its parent: monotone segment growth
    prev: set = set()
    for v in range(1, 9):
        segs = set(M._read_manifest(spark, lake, v)["segments"])
        assert prev < segs
        prev = segs


def test_snapshot_diff_ops(spark, tmp_path):
    """CDF between versions: inserts, deletes (via replace), updates,
    NULL-valued columns compared null-safely, unchanged rows absent."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark,
        lake,
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c"), (4, "d")], "k int, v string"
        ),
    )
    M.commit_replace(
        spark,
        lake,
        spark.createDataFrame(
            [(1, "a"), (2, "now-set"), (3, None), (5, "new")], "k int, v string"
        ),
    )
    got = {(r["k"], r["op"]) for r in M.snapshot_diff(spark, lake, 1, 2, ["k"]).collect()}
    assert got == {
        (2, "update"),   # NULL -> value
        (3, "update"),   # value -> NULL
        (4, "delete"),
        (5, "insert"),
    }  # k=1 unchanged: absent


def test_compact_racing_replace_does_not_resurrect(spark, tmp_path, monkeypatch):
    """A replace that lands between compaction's snapshot read and its
    commit invalidates the consolidated segment: the lineage walk sees
    a non-append commit, compaction re-runs against the new snapshot,
    and the replaced rows stay gone."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 4))  # rows A

    replacement = _mk(spark, 100, 103)  # rows B
    orig_write = M._write_segment
    state = {"raced": False}

    def hooked(df, path, tf, **kw):
        seg = orig_write(df, path, tf, **kw)
        if not state["raced"]:
            state["raced"] = True  # the race window: replace commits now
            M.commit_replace(spark, lake, replacement)
        return seg

    monkeypatch.setattr(M, "_write_segment", hooked)
    v = M.compact(spark, lake)
    assert v == 3  # v2 = the raced replace; v3 = re-consolidated compact
    assert _rows(M.read_snapshot(spark, lake)) == _rows(replacement)
    assert M._read_manifest(spark, lake, 3)["op"] == "compact"


def test_compact_preserves_partition_tags(spark, tmp_path):
    """Compacting a fully partition-tagged lake consolidates PER
    partition and keeps the tags: pruning and partitioned MERGE still
    work after maintenance."""
    lake = str(tmp_path / "lake")
    for yr in (1997, 1998):
        for batch in range(2):
            M.commit_append(
                spark,
                lake,
                spark.createDataFrame(
                    [(yr * 100 + batch * 10 + j, yr) for j in range(2)],
                    "id int, yr int",
                ),
                partition={"yr": yr},
            )
    assert len(M.resolve_segments(spark, lake)) == 4
    M.compact(spark, lake)
    segs = M.resolve_segments(spark, lake)
    assert len(segs) == 2  # one per partition
    assert len(M.resolve_segments(spark, lake, part_eq={"yr": 1997})) == 1
    assert M.read_snapshot(spark, lake).count() == 8
    # partitioned MERGE still accepted post-compaction
    changes = spark.createDataFrame([(199700, 1997, 1)], "id int, yr int, ver int")
    M.commit_upsert_partitioned(spark, lake, changes, ["id"], "ver", "yr")
    assert M.read_snapshot(spark, lake).count() == 8  # update, not insert


def test_commit_tag_idempotent_inside_cas(spark, tmp_path):
    """The idempotency check lives INSIDE the commit CAS loop: a second
    commit with an already-applied tag returns the existing version and
    publishes nothing — no double-append even without the sink's
    pre-check."""
    lake = str(tmp_path / "lake")
    v1 = M.commit_append(spark, lake, _mk(spark, 0, 2), tag="batch=0")
    v_again = M.commit_append(spark, lake, _mk(spark, 50, 60), tag="batch=0")
    assert v1 == v_again == 1
    assert M.current_version(spark, lake) == 1
    assert _rows(M.read_snapshot(spark, lake)) == _rows(_mk(spark, 0, 2))


def test_bloom_segment_skipping_point_lookup(spark, tmp_path):
    """Bloom metadata prunes segments for point lookups where min/max
    can't (uniform keys span every segment's range but live in one);
    probing an absent key prunes everything bloom-tagged; untagged
    segments always survive."""
    lake = str(tmp_path / "lake")
    for i in range(4):
        M.commit_append(
            spark,
            lake,
            spark.createDataFrame(
                [(i * 1000 + j,) for j in range(50)], "k long"
            ),
            bloom_cols=["k"],
        )
    # key 2017 lives only in segment 2
    segs = M.resolve_segments(spark, lake, bloom_eq={"k": 2017})
    assert len(segs) <= 2  # 1 true hit + at most ~1 false positive
    got = M.read_snapshot(spark, lake, bloom_eq={"k": 2017}).filter("k = 2017")
    assert got.count() == 1

    # absent key: everything bloom-tagged prunes away (allow rare FPs)
    assert len(M.resolve_segments(spark, lake, bloom_eq={"k": 999_999})) <= 1

    # untagged segment joins every probe (no info -> must scan)
    M.commit_append(spark, lake, spark.createDataFrame([(7,)], "k long"))
    segs2 = M.resolve_segments(spark, lake, bloom_eq={"k": 999_999})
    assert any(s in segs2 for s in M._read_manifest(spark, lake, 5)["segments"])


def test_upsert_refuses_partition_tagged_lake(spark, tmp_path):
    """Full-rewrite MERGE on a partition-tagged lake would silently
    forfeit pruning and partitioned MERGE — hard error unless the
    caller opts in with allow_untag=True."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark,
        lake,
        spark.createDataFrame([(1, 1997, "a")], "id int, yr int, t string"),
        partition={"yr": 1997},
    )
    changes = spark.createDataFrame(
        [(1, 1997, "a2", 5)], "id int, yr int, t string, ver int"
    )
    with pytest.raises(ValueError, match="allow_untag"):
        M.commit_upsert(spark, lake, changes, ["id"], "ver")
    # explicit opt-in still works (and untags, as documented)
    v = M.commit_upsert(spark, lake, changes, ["id"], "ver", allow_untag=True)
    assert v == 2
    got = {(r["id"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "a2")}


def test_partitioned_upsert_rejects_partition_moving_key(spark, tmp_path):
    """part_col is immutable per key: a change row that moves a key to
    a different partition would leave the stale row alive in its old,
    untouched partition — enforced by the change-keys-vs-untouched
    semi-join (check_stable_partitions default)."""
    lake = str(tmp_path / "lake")
    for yr in (1997, 1998):
        M.commit_append(
            spark,
            lake,
            spark.createDataFrame(
                [(yr * 10 + j, yr, f"v{j}") for j in range(2)],
                "id int, yr int, t string",
            ),
            partition={"yr": yr},
        )
    # key 19970 lives in 1997 but the change claims yr=1998
    moving = spark.createDataFrame(
        [(19970, 1998, "MOVED", 5)], "id int, yr int, t string, ver int"
    )
    with pytest.raises(ValueError, match="key-stability"):
        M.commit_upsert_partitioned(spark, lake, moving, ["id"], "ver", "yr")
    # table unchanged (the check runs before any commit)
    assert M.read_snapshot(spark, lake).count() == 4
    # a stable change (same-partition update) still merges fine
    stable = spark.createDataFrame(
        [(19970, 1997, "UPDATED", 5)], "id int, yr int, t string, ver int"
    )
    M.commit_upsert_partitioned(spark, lake, stable, ["id"], "ver", "yr")
    got = {(r["id"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    assert (19970, "UPDATED") in got and len(got) == 4


def test_pruning_type_drift_is_sound(spark, tmp_path):
    """Skipping stays sound under write-vs-probe type drift: a str
    probe against an int tag (or vice versa) KEEPS the segment (Spark's
    own filter would match via implicit cast); int-vs-float numeric
    probes compare by value; str-vs-int range probes never raise."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark,
        lake,
        spark.createDataFrame([(19970, 1997)], "id int, yr int"),
        partition={"yr": 1997},
        stats_cols=["id"],
    )
    # str probe vs int tag: NOT provably disjoint -> kept
    assert len(M.resolve_segments(spark, lake, part_eq={"yr": "1997"})) == 1
    assert len(M.resolve_segments(spark, lake, part_eq={"yr": "1998"})) == 1
    # float probe vs int tag: numeric value-compare (prunable both ways)
    assert len(M.resolve_segments(spark, lake, part_eq={"yr": 1997.0})) == 1
    assert len(M.resolve_segments(spark, lake, part_eq={"yr": 1998.0})) == 0
    # same-type mismatch still prunes
    assert len(M.resolve_segments(spark, lake, part_eq={"yr": 1998})) == 0
    # str range vs int stats: unprovable -> kept, and never a TypeError
    assert len(M.resolve_segments(spark, lake, ranges={"id": ("a", "b")})) == 1
    # int range that misses the int stats still prunes
    assert len(M.resolve_segments(spark, lake, ranges={"id": (1, 2)})) == 0
    # float range overlapping int stats keeps
    assert len(M.resolve_segments(spark, lake, ranges={"id": (19969.5, 19970.5)})) == 1


def test_compact_regenerates_skipping_metadata(spark, tmp_path):
    """compact(stats_cols=, bloom_cols=) rebuilds min/max stats and
    point-lookup blooms for the consolidated segments, so routine
    maintenance doesn't silently degrade data skipping."""
    lake = str(tmp_path / "lake")
    for yr in (1997, 1998):
        M.commit_append(
            spark,
            lake,
            spark.createDataFrame(
                [(yr * 10 + j, yr) for j in range(3)], "id long, yr int"
            ),
            partition={"yr": yr},
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    M.compact(spark, lake, stats_cols=["id"], bloom_cols=["id"])
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    for s in m["segments"]:
        assert "stats" in m["meta"][s] and "bloom" in m["meta"][s]
    # stats pruning works post-compaction: 1997 ids live in [19970,19972]
    assert len(M.resolve_segments(spark, lake, ranges={"id": (19970, 19971)})) == 1
    # bloom point lookup prunes to the one holding segment
    assert len(M.resolve_segments(spark, lake, bloom_eq={"id": 19981})) == 1


def _stats_lake(spark, tmp_path):
    """Three key-range segments [0,100), [100,200), [200,300) with
    min/max stats on k — the clustered layout pruned MERGE/DELETE skip
    through."""
    lake = str(tmp_path / "lake")
    for lo in (0, 100, 200):
        M.commit_append(
            spark,
            lake,
            spark.createDataFrame(
                [(lo + j, f"d{lo + j}") for j in range(0, 100, 10)],
                "k int, t string",
            ),
            stats_cols=["k"],
        )
    return lake


def test_commit_upsert_pruned_rewrites_only_overlapping(spark, tmp_path):
    """Stats-pruned MERGE: segments whose key range excludes every
    change key transfer by NAME; the overlapping segment re-merges;
    out-of-range keys insert; the merged segment records fresh stats so
    the NEXT merge prunes too."""
    lake = _stats_lake(spark, tmp_path)
    before = M.resolve_segments(spark, lake)
    assert len(before) == 3
    seg_0, seg_100, seg_200 = before  # manifest order = commit order

    changes = spark.createDataFrame(
        [(110, "UPDATED", 5), (555, "NEW", 5)], "k int, t string, ver int"
    )
    v = M.commit_upsert_pruned(spark, lake, changes, ["k"], "ver")
    assert v == 4
    after = M.resolve_segments(spark, lake)
    assert seg_0 in after and seg_200 in after      # untouched, by name
    assert seg_100 not in after                     # merged away
    assert len(after) == 3                          # 2 carried + 1 merged

    got = {(r["k"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    expect = {(k, f"d{k}") for lo in (0, 100, 200) for k in range(lo, lo + 100, 10)}
    expect -= {(110, "d110")}
    expect |= {(110, "UPDATED"), (555, "NEW")}
    assert got == expect

    # the merged segment is stats-tagged: a later far-range merge skips it?
    # its range is [100,555] (spans the insert), so probe 555 touches it
    # while seg_0/seg_200 stay untouched
    m = M._read_manifest(spark, lake, 4)
    merged_seg = next(s for s in after if s not in (seg_0, seg_200))
    assert m["meta"][merged_seg]["stats"]["k"] == [100, 555]

    # a second pruned merge hitting only [200,300) leaves seg_0 alone
    changes2 = spark.createDataFrame([(210, "UP2", 6)], "k int, t string, ver int")
    M.commit_upsert_pruned(spark, lake, changes2, ["k"], "ver")
    after2 = M.resolve_segments(spark, lake)
    assert seg_0 in after2
    got2 = {(r["k"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    assert (210, "UP2") in got2 and len(got2) == len(expect)


def test_commit_upsert_pruned_stats_less_and_tagged_guards(spark, tmp_path):
    """A stats-less segment is always merged (no info -> assume
    overlap); a partition-tagged lake is refused."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake, spark.createDataFrame([(1, "a")], "k int, t string")
    )  # no stats
    changes = spark.createDataFrame([(999, "z", 5)], "k int, t string, ver int")
    M.commit_upsert_pruned(spark, lake, changes, ["k"], "ver")
    got = {(r["k"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "a"), (999, "z")}
    # one consolidated segment now (the stats-less one was merged in)
    assert len(M.resolve_segments(spark, lake)) == 1

    tagged = str(tmp_path / "tagged")
    M.commit_append(
        spark,
        tagged,
        spark.createDataFrame([(1, 1997, "a")], "k int, yr int, t string"),
        partition={"yr": 1997},
    )
    with pytest.raises(ValueError, match="partition-tagged"):
        M.commit_upsert_pruned(
            spark,
            tagged,
            spark.createDataFrame([(1, 1997, "b", 5)], "k int, yr int, t string, ver int"),
            ["k"],
            "ver",
        )


def test_commit_upsert_pruned_bloom_clears_stats_overlap(spark, tmp_path):
    """Pruned MERGE on a lake with a bloom on the key: a segment whose
    stats range overlaps the batch but whose bloom excludes every
    change key transfers by NAME; the bloom-positive one re-merges."""
    lake = str(tmp_path / "lake")
    for lo in (0, 10):  # interleaved keys: both ranges span the batch
        M.commit_append(
            spark, lake,
            spark.createDataFrame(
                [(k, f"d{k}") for k in range(lo, 200, 20)], "k int, t string"
            ),
            stats_cols=["k"], bloom_cols=["k"],
        )
    evens, odds = M.resolve_segments(spark, lake)
    changes = spark.createDataFrame(
        [(30, "UP", 5), (35, "NEW", 5)], "k int, t string, ver int"
    )
    M.commit_upsert_pruned(spark, lake, changes, ["k"], "ver")
    after = M.resolve_segments(spark, lake)
    assert evens in after and odds not in after and len(after) == 2
    got = {(r["k"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    expect = {(k, f"d{k}") for k in range(0, 200, 10)} - {(30, "d30")}
    assert got == expect | {(30, "UP"), (35, "NEW")}


def test_commit_delete_cow_prunes_and_drops_empty(spark, tmp_path):
    """CoW delete: only stats-overlapping segments rewrite (others
    transfer by name, metadata carried); a fully-deleted segment drops
    from the manifest; NULL delete keys match nothing; time travel
    keeps the pre-delete version."""
    lake = _stats_lake(spark, tmp_path)
    seg_0, seg_100, seg_200 = M.resolve_segments(spark, lake)

    dels = spark.createDataFrame([(110,), (150,), (None,)], "k int")
    v = M.commit_delete(spark, lake, dels, ["k"])
    assert v == 4
    after = M.resolve_segments(spark, lake)
    assert seg_0 in after and seg_200 in after and seg_100 not in after
    got = {r["k"] for r in M.read_snapshot(spark, lake).collect()}
    assert 110 not in got and 150 not in got
    assert len(got) == 28  # 30 rows - 2 deleted
    # rewritten segment kept its stats metadata (sound superset bounds)
    m = M._read_manifest(spark, lake, 4)
    rewritten = next(s for s in after if s not in (seg_0, seg_200))
    assert m["meta"][rewritten]["stats"]["k"] == [100, 190]
    # pre-delete version still readable
    assert len({r["k"] for r in M.read_snapshot(spark, lake, 3).collect()}) == 30

    # delete the whole [200,300) range: its segment disappears entirely
    all_200 = spark.createDataFrame([(k,) for k in range(200, 300, 10)], "k int")
    M.commit_delete(spark, lake, all_200, ["k"])
    after2 = M.resolve_segments(spark, lake)
    assert seg_200 not in after2 and len(after2) == 2
    # the emptied rewrite leaves no dir behind under data/
    assert set(os.listdir(f"{lake}/data")) == {seg_0, seg_100, seg_200} | set(after2)
    assert {r["k"] for r in M.read_snapshot(spark, lake).collect()} == (
        {k for k in range(0, 100, 10)} | {k for k in range(100, 200, 10)} - {110, 150}
    )


def test_commit_delete_mor_tombstones(spark, tmp_path):
    """MoR delete: O(batch) commit, no data rewritten (segment list
    unchanged); reads anti-join the tombstone; compact materializes it
    and clears the deletes list; vacuum never reclaims a referenced
    tombstone."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 5))
    M.commit_append(spark, lake, _mk(spark, 5, 10))
    segs_before = M.resolve_segments(spark, lake)

    dels = spark.createDataFrame([(3,), (7,)], "id int")
    v = M.commit_delete_mor(spark, lake, dels, ["id"])
    assert v == 3
    m = M._read_manifest(spark, lake, 3)
    assert m["segments"] == segs_before          # zero data movement
    assert len(m.get("deletes", [])) == 1
    tomb = m["deletes"][0]
    assert m["meta"][tomb]["delete_keys"] == ["id"]

    got = {r["id"] for r in M.read_snapshot(spark, lake).collect()}
    assert got == {0, 1, 2, 4, 5, 6, 8, 9}
    # time travel to v2: pre-delete rows intact
    assert len({r["id"] for r in M.read_snapshot(spark, lake, 2).collect()}) == 10

    # vacuum with the tombstone still referenced: tombstone survives
    M.vacuum(spark, lake, keep_versions=1)
    assert os.path.exists(f"{lake}/data/{tomb}")
    assert {r["id"] for r in M.read_snapshot(spark, lake).collect()} == got

    # compact materializes: deletes cleared, physical rows gone
    M.compact(spark, lake)
    m4 = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert not m4.get("deletes")
    assert {r["id"] for r in M.read_snapshot(spark, lake).collect()} == got
    # post-vacuum, the tombstone and old segments are reclaimable
    M.vacuum(spark, lake, keep_versions=1)
    assert not os.path.exists(f"{lake}/data/{tomb}")


def test_delete_mor_sequence_scoping(spark, tmp_path):
    """A tombstone masks only segments committed BEFORE it: re-appending
    a deleted key makes it visible again (the new segment's seq is past
    the tombstone's), while the original row stays masked."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 4))          # v1: ids 0-3
    M.commit_delete_mor(
        spark, lake, spark.createDataFrame([(2,)], "id int"), ["id"]
    )                                                        # v2: kill id=2
    assert {r["id"] for r in M.read_snapshot(spark, lake).collect()} == {0, 1, 3}
    # re-insert id=2 with new payload AFTER the delete
    M.commit_append(
        spark, lake, spark.createDataFrame([(2, "reborn")], "id int, t string")
    )                                                        # v3
    got = {(r["id"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    assert (2, "reborn") in got and (2, "d2") not in got
    assert {i for i, _ in got} == {0, 1, 2, 3}
    # compact materializes exactly that view
    M.compact(spark, lake)
    got2 = {(r["id"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got2 == got


def test_delete_mor_blocks_segment_transfer_ops(spark, tmp_path):
    """Pending tombstones poison by-name segment transfers: partitioned
    and pruned MERGE and CoW delete all refuse until compact
    materializes."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark,
        lake,
        spark.createDataFrame([(1, 1997, "a")], "k int, yr int, t string"),
        partition={"yr": 1997},
        stats_cols=["k"],
    )
    M.commit_delete_mor(
        spark, lake, spark.createDataFrame([(1,)], "k int"), ["k"]
    )
    changes = spark.createDataFrame(
        [(1, 1997, "b", 5)], "k int, yr int, t string, ver int"
    )
    with pytest.raises(ValueError, match="tombstones"):
        M.commit_upsert_partitioned(spark, lake, changes, ["k"], "ver", "yr")
    with pytest.raises(ValueError, match="tombstones"):
        M.commit_delete(
            spark, lake, spark.createDataFrame([(1,)], "k int"), ["k"]
        )
    # compact clears the block (and applies the delete)
    M.compact(spark, lake)
    assert M.read_snapshot(spark, lake).count() == 0 or {
        r["k"] for r in M.read_snapshot(spark, lake).collect()
    } == set()


def test_read_feed_attributes_changes_per_version(spark, tmp_path):
    """Batch CDF over a version range: each commit's changes carry its
    version; v_from=0 surfaces the first commit as inserts; vacuumed
    gaps fail loudly."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 3))            # v1
    M.commit_append(spark, lake, _mk(spark, 3, 5))            # v2
    M.commit_replace(spark, lake, _mk(spark, 4, 6))           # v3: 0-3 die, 5 born

    got = {
        (r["id"], r["op"], r["version"])
        for r in M.read_feed(spark, lake, ["id"], 0).collect()
    }
    expect = (
        {(i, "insert", 1) for i in range(3)}
        | {(i, "insert", 2) for i in (3, 4)}
        | {(i, "delete", 3) for i in (0, 1, 2, 3)}
        | {(5, "insert", 3)}
    )
    assert got == expect
    # partial range: only v3's changes
    v3 = {(r["id"], r["op"]) for r in M.read_feed(spark, lake, ["id"], 2).collect()}
    assert v3 == {(0, "delete"), (1, "delete"), (2, "delete"), (3, "delete"), (5, "insert")}

    M.vacuum(spark, lake, keep_versions=1)
    with pytest.raises(ValueError, match="re-bootstrap"):
        M.read_feed(spark, lake, ["id"], 0)


def test_consume_feed_exactly_once_into_lake(spark, tmp_path):
    """Checkpointed CDF consumer: drains new versions once each; a lost
    checkpoint (crash-replay) redelivers but the feed=<v> tags dedupe
    in the destination lake — exactly-once end-to-end; later commits
    drain incrementally."""
    import shutil

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    state = str(tmp_path / "state")
    M.commit_append(spark, src, _mk(spark, 0, 3))             # v1
    M.commit_append(spark, src, _mk(spark, 3, 5))             # v2

    sink = M.feed_to_lake_sink(spark, dst)
    n = M.consume_feed(spark, src, ["id"], state, sink)
    assert n == 2
    assert M.current_version(spark, dst) == 2
    got = {(r["id"], r["op"], r["version"]) for r in M.read_snapshot(spark, dst).collect()}
    assert got == {(i, "insert", 1) for i in range(3)} | {(i, "insert", 2) for i in (3, 4)}

    # crash-replay: checkpoint gone, same feed re-pulled -> tags skip
    shutil.rmtree(state)
    n2 = M.consume_feed(spark, src, ["id"], state, sink)
    assert n2 == 2  # redelivered to the sink...
    assert M.current_version(spark, dst) == 2  # ...but zero new commits

    # incremental: one more source commit -> exactly one more batch
    M.commit_replace(spark, src, _mk(spark, 4, 6))            # v3
    n3 = M.consume_feed(spark, src, ["id"], state, sink)
    assert n3 == 1
    assert M.current_version(spark, dst) == 3
    v3_rows = {
        (r["id"], r["op"]) for r in M.read_snapshot(spark, dst).collect()
        if r["version"] == 3
    }
    assert v3_rows == {(0, "delete"), (1, "delete"), (2, "delete"), (3, "delete"), (5, "insert")}


def test_bloom_build_is_one_extra_pass(spark, tmp_path):
    """The per-segment bloom costs ONE extra aggregation pass at commit
    time (word-grouped map-side bit_or; no distinct-count pre-job, no
    mass position collect — at most 8192 word rows reach the driver).
    AQE materializes the shuffle as its own scheduler job, so the job
    budget is +2 max, never the old +2-jobs-plus-0.5M-row-collect
    shape (which also scanned the segment data TWICE)."""
    sc = spark.sparkContext
    df = spark.createDataFrame([(i,) for i in range(500)], "k long")

    sc.setJobGroup("plain_commit", "baseline")
    M.commit_append(spark, str(tmp_path / "plain"), df)
    sc.setJobGroup("bloom_commit", "bloomed")
    M.commit_append(spark, str(tmp_path / "bloomed"), df, bloom_cols=["k"])
    sc.setJobGroup("done", "done")

    st = sc.statusTracker()
    plain = len(st.getJobIdsForGroup("plain_commit"))
    bloomed = len(st.getJobIdsForGroup("bloom_commit"))
    assert bloomed - plain <= 2, (plain, bloomed)


def test_bloom_fold_equivalence(spark, tmp_path):
    """The folded bloom behaves like one built at the target size:
    every committed key probes positive (no false negatives — the
    soundness contract) and an absent-key probe prunes."""
    lake = str(tmp_path / "lake")
    keys = list(range(0, 3000, 7))  # ~429 keys -> folds 2^19 -> 2^14
    M.commit_append(
        spark,
        lake,
        spark.createDataFrame([(k,) for k in keys], "k long"),
        bloom_cols=["k"],
    )
    m = M._read_manifest(spark, lake, 1)
    seg = m["segments"][0]
    entry = m["meta"][seg]["bloom"]["k"]
    assert entry["bits"] == 1 << 14  # adaptive size after folding
    # no false negatives, ever (spot-check a spread of committed keys)
    for k in keys[::37]:
        assert M.resolve_segments(spark, lake, bloom_eq={"k": k}) == [seg]
    # absent keys overwhelmingly prune (allow the rare FP)
    misses = sum(
        1
        for k in range(100_001, 100_031)
        if M.resolve_segments(spark, lake, bloom_eq={"k": k})
    )
    assert misses <= 1


def _grid(spark, n=48):
    """n x n uniform grid over two independent keys — the shape where a
    single sort key cannot skip on the second dimension."""
    return spark.createDataFrame(
        [(a, b, a * n + b) for a in range(n) for b in range(n)],
        "a int, b int, payload long",
    )


def test_cluster_zorder_prunes_both_dimensions(spark, tmp_path):
    """After cluster(["a","b"]) a narrow range on EITHER column prunes
    most segments via manifest min/max stats — the multi-dim skipping
    property a plain (a, b) sort lacks (it skips on `a` only). And the
    rewrite moves no rows: full read == original contents."""
    lake = str(tmp_path / "lake")
    g = _grid(spark)
    M.commit_append(spark, lake, g)
    v = M.cluster(spark, lake, ["a", "b"], target_segments=16, bits_per_col=6)
    assert v == 2
    m = M._read_manifest(spark, lake, v)
    assert len(m["segments"]) == 16
    # every segment carries stats on both cluster columns
    for s in m["segments"]:
        st = m["meta"][s]["stats"]
        assert set(st) == {"a", "b"}
    total = len(M.resolve_segments(spark, lake))
    # a range covering ~1/8 of one dimension's key space
    for col in ("a", "b"):
        kept = len(M.resolve_segments(spark, lake, ranges={col: (8, 13)}))
        assert kept <= total // 2, f"{col}: {kept}/{total} segments survived"
    # soundness: the clustered table holds exactly the original rows
    got = {tuple(r) for r in M.read_snapshot(spark, lake).collect()}
    want = {tuple(r) for r in g.collect()}
    assert got == want
    # and a pruned read + real filter equals the direct filter
    pruned = (
        M.read_snapshot(spark, lake, ranges={"b": (8, 13)})
        .filter("b between 8 and 13")
        .collect()
    )
    assert {tuple(r) for r in pruned} == {t for t in want if 8 <= t[1] <= 13}


def test_cluster_materializes_tombstones_and_survives_append(
    spark, tmp_path, race_before_rename
):
    """cluster() applies pending merge-on-read tombstones (deletes list
    clears — it is a compaction) and an append racing the rewrite
    survives through the commit loop's rebuild, like compact."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _grid(spark, 12))
    M.commit_delete_mor(
        spark,
        lake,
        spark.createDataFrame([(3,)], "a int"),
        ["a"],
    )
    M.cluster(spark, lake, ["a", "b"], target_segments=4, bits_per_col=4)
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert not m.get("deletes"), "cluster must materialize MoR tombstones"
    got = {(r["a"], r["b"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(a, b) for a in range(12) for b in range(12) if a != 3}

    # racing append: commit lands between the rewrite and its rename
    fired = race_before_rename(
        lambda: M.commit_append(
            spark, lake,
            spark.createDataFrame([(99, 99, 0)], "a int, b int, payload long"),
        )
    )
    M.cluster(spark, lake, ["a", "b"], target_segments=4, bits_per_col=4)
    assert fired
    got = {(r["a"], r["b"]) for r in M.read_snapshot(spark, lake).collect()}
    assert (99, 99) in got and (3, 0) not in got and (4, 4) in got


def test_cluster_rejects_non_numeric_and_overwide(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 8))
    with pytest.raises(ValueError, match="non-numeric"):
        M.cluster(spark, lake, ["id", "t"])
    with pytest.raises(ValueError, match="62"):
        M.cluster(spark, lake, ["id"], bits_per_col=63)


def test_replace_where_partition_scope_zero_movement(spark, tmp_path):
    """Partition-tagged lake: replace one partition's rows. The scoped
    segment drops wholesale, every other segment transfers BY NAME
    (zero data movement), and the table equals untouched + new rows."""
    lake = str(tmp_path / "lake")
    for grp in ("a", "b", "c"):
        M.commit_append(
            spark, lake,
            spark.createDataFrame(
                [(grp, i, i * 10) for i in range(4)], "grp string, id int, v int"
            ),
            partition={"grp": grp},
        )
    before = M._read_manifest(spark, lake, M.current_version(spark, lake))
    keep_names = {
        s for s in before["segments"]
        if before["meta"][s]["part"]["grp"] != "b"
    }
    new_b = spark.createDataFrame(
        [("b", 99, 1)], "grp string, id int, v int"
    )
    v = M.commit_replace_where(
        spark, lake, new_b, eq={"grp": "b"}, partition_by="grp"
    )
    after = M._read_manifest(spark, lake, v)
    assert after["op"] == "replace_where"
    assert keep_names < set(after["segments"]), "untouched segments must transfer by name"
    assert len(after["segments"]) == 3  # a, c untouched + 1 new b
    got = {(r["grp"], r["id"], r["v"]) for r in M.read_snapshot(spark, lake).collect()}
    want = {(g, i, i * 10) for g in ("a", "c") for i in range(4)} | {("b", 99, 1)}
    assert got == want
    # the new segment stays partition-tagged: a later scoped op still prunes
    assert len(M.resolve_segments(spark, lake, part_eq={"grp": "b"})) == 1


def test_replace_where_range_scope_three_way(spark, tmp_path):
    """Stats-range scope classifies segments three ways: provably
    inside -> dropped unread, provably disjoint -> transferred by name,
    overlapping -> rewritten keeping only out-of-scope rows (and the
    rewritten segment carries the old stats forward as a sound bound)."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 10), stats_cols=["id"])      # disjoint
    M.commit_append(spark, lake, _mk(spark, 20, 30), stats_cols=["id"])    # inside
    M.commit_append(spark, lake, _mk(spark, 28, 40), stats_cols=["id"])    # overlap
    before = M._read_manifest(spark, lake, M.current_version(spark, lake))
    seg_disjoint, seg_inside, seg_overlap = before["segments"]
    repl = spark.createDataFrame([(25, "new")], "id int, t string")
    v = M.commit_replace_where(spark, lake, repl, ranges={"id": (15, 34)})
    after = M._read_manifest(spark, lake, v)
    assert seg_disjoint in after["segments"]
    assert seg_inside not in after["segments"]
    assert seg_overlap not in after["segments"]
    got = _rows(M.read_snapshot(spark, lake))
    want = (
        {(i, f"d{i}") for i in range(0, 10)}
        | {(i, f"d{i}") for i in range(35, 40)}
        | {(25, "new")}
    )
    assert got == want
    # rewritten segment kept stats: a probe above the old max still prunes it
    rewritten = [
        s for s in after["segments"]
        if s != seg_disjoint and after["meta"].get(s, {}).get("stats")
    ]
    assert rewritten, "rewrite must carry stats forward"
    assert all(
        s not in M.resolve_segments(spark, lake, ranges={"id": (50, 60)})
        for s in rewritten
    )


def test_replace_where_enforces_scope_on_input(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 10), stats_cols=["id"])
    stray = spark.createDataFrame([(5, "x"), (50, "stray")], "id int, t string")
    with pytest.raises(ValueError, match="outside the scope"):
        M.commit_replace_where(spark, lake, stray, ranges={"id": (0, 9)})
    # escape hatch filters instead of raising
    M.commit_replace_where(
        spark, lake, stray, ranges={"id": (4, 6)}, allow_nonmatching_rows=True
    )
    got = _rows(M.read_snapshot(spark, lake))
    assert got == {(i, f"d{i}") for i in range(10) if not 4 <= i <= 6} | {(5, "x")}
    with pytest.raises(ValueError, match="needs a scope"):
        M.commit_replace_where(spark, lake, stray)


def test_replace_where_drops_a_rewrite_left_empty(spark, tmp_path):
    """A segment replaceWhere must rewrite (untagged, no stats proving
    it all-matching) whose every row is in the scope leaves no 0-row
    segment behind: the new version lists only the 8 tagged incoming
    segments and the emptied rewrite's dir is removed. A scope that
    empties the whole table still keeps one 0-row segment, so the
    version reads."""
    lake = str(tmp_path / "lake")
    df = spark.range(96).select(
        F.col("id").alias("vec_id"), (F.col("id") % 8).alias("cell")
    )
    M.commit_append(spark, lake, df)
    old = M.resolve_segments(spark, lake)
    v = M.commit_replace_where(
        spark, lake, df, ranges={"cell": (0, 8)}, partition_by="cell"
    )
    m = M._read_manifest(spark, lake, v)
    assert sorted(m["meta"][s]["part"]["cell"] for s in m["segments"]) == list(range(8))
    assert set(os.listdir(f"{lake}/data")) == set(old) | set(m["segments"])
    assert M.read_snapshot(spark, lake).count() == 96

    gone = str(tmp_path / "gone")
    M.commit_append(spark, gone, df)
    v = M.commit_replace_where(spark, gone, df.limit(0), ranges={"cell": (0, 8)})
    assert len(M._read_manifest(spark, gone, v)["segments"]) == 1
    assert M.read_snapshot(spark, gone).count() == 0


def test_replace_where_null_partition_and_tombstone_guard(spark, tmp_path):
    """eq={col: None} names the NULL partition; pending MoR tombstones
    refuse the op (compact first)."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(None, 1)], "grp string, id int"),
        partition={"grp": None},
    )
    M.commit_append(
        spark, lake,
        spark.createDataFrame([("a", 2)], "grp string, id int"),
        partition={"grp": "a"},
    )
    v = M.commit_replace_where(
        spark, lake,
        spark.createDataFrame([(None, 9)], "grp string, id int"),
        eq={"grp": None},
    )
    got = {(r["grp"], r["id"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(None, 9), ("a", 2)}
    m = M._read_manifest(spark, lake, v)
    assert m["op"] == "replace_where"
    M.commit_delete_mor(
        spark, lake, spark.createDataFrame([(2,)], "id int"), ["id"]
    )
    with pytest.raises(ValueError, match="tombstone"):
        M.commit_replace_where(
            spark, lake,
            spark.createDataFrame([("a", 3)], "grp string, id int"),
            eq={"grp": "a"},
        )


def test_timestamp_time_travel_and_history(spark, tmp_path):
    """AS OF timestamp resolves to the newest commit at-or-before the
    instant (monotone-clamped commit clocks); history() lists every
    retained commit with op + counts."""
    import time as _t

    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 4))
    t_between = _t.time()
    _t.sleep(0.01)
    M.commit_append(spark, lake, _mk(spark, 4, 8))

    assert M.version_as_of_timestamp(spark, lake, t_between) == 1
    assert M.version_as_of_timestamp(spark, lake, _t.time()) == 2
    assert _rows(M.read_snapshot(spark, lake, as_of_ts=t_between)) == _rows(
        _mk(spark, 0, 4)
    )
    # predating the oldest retained commit is an error, not a guess
    with pytest.raises(ValueError, match="predates"):
        M.version_as_of_timestamp(spark, lake, t_between - 1e6)
    with pytest.raises(ValueError, match="not both"):
        M.read_snapshot(spark, lake, version=1, as_of_ts=t_between)

    h = {r["version"]: r for r in M.history(spark, lake).collect()}
    assert set(h) == {1, 2}
    assert h[1]["op"] == "append" and h[1]["parent"] is None
    assert h[2]["op"] == "append" and h[2]["parent"] == 1
    assert h[2]["n_segments"] == 2 and h[2]["n_tombstones"] == 0
    assert h[1]["ts"] <= h[2]["ts"]


def test_manifest_upsert_sink_exactly_once_cdc(spark, tmp_path):
    """Streaming CDC MERGE into the lake: keyed change batches fold via
    last-writer-wins upsert, each batch one atomic version; a full
    replay (fresh checkpoint, same batch ids) skips on tags — the table
    stays the keyed SCD1 snapshot, never doubled."""
    import os
    import shutil

    lake = str(tmp_path / "lake")
    src = str(tmp_path / "cdc")
    os.makedirs(src)
    # batch 0 inserts k1/k2 (k1 twice: version decides WITHIN a batch);
    # batch 1 updates k1 + inserts k3; batch 2 updates k2 (arrival
    # order decides ACROSS batches — the changelog contract)
    batches = [
        [(1, "v1-old", 5), (1, "v1a", 10), (2, "v2a", 10)],
        [(1, "v1b", 20), (3, "v3a", 20)],
        [(2, "v2b", 30)],
    ]
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, "k int, val string, ver int").coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    def drain(ckpt):
        stream = (
            spark.readStream.schema("k int, val string, ver int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                M.manifest_upsert_sink(lake, keys=["k"], version_col="ver")
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("ckpt1")
    assert M.current_version(spark, lake) == 3
    # merge_upsert drops version_col: the table is the keyed snapshot
    got = {(r["k"], r["val"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "v1b"), (2, "v2b"), (3, "v3a")}
    assert M.committed_tags(spark, lake) == {
        "upsert_batch=0", "upsert_batch=1", "upsert_batch=2"
    }

    drain("ckpt2")  # replay: zero new versions, identical snapshot
    assert M.current_version(spark, lake) == 3
    got2 = {(r["k"], r["val"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got2 == got


def test_commit_append_partitioned_atomic(spark, tmp_path):
    """Multi-partition append lands as ONE version: one tagged segment
    per distinct value (incl. NULL), skipping metadata attached, and
    downstream partition-scoped ops accept the layout."""
    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), (None, 4, 40)],
        "grp string, id int, v int",
    )
    v = M.commit_append_partitioned(
        spark, lake, df, "grp", stats_cols=["id"], bloom_cols=["id"]
    )
    assert v == 1
    m = M._read_manifest(spark, lake, 1)
    assert m["op"] == "append" and len(m["segments"]) == 3
    tags = sorted(
        str(m["meta"][s]["part"]["grp"]) for s in m["segments"]
    )
    assert tags == ["None", "a", "b"]
    for s in m["segments"]:
        assert "stats" in m["meta"][s] and "bloom" in m["meta"][s]
    # pruning works immediately
    assert len(M.resolve_segments(spark, lake, part_eq={"grp": "a"})) == 1
    assert len(M.resolve_segments(spark, lake, part_eq={"grp": None})) == 1
    got = {(r["grp"], r["id"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {("a", 1), ("a", 2), ("b", 3), (None, 4)}
    # partitioned MERGE accepts the layout
    M.commit_upsert_partitioned(
        spark, lake,
        spark.createDataFrame([("b", 3, 99, 1)], "grp string, id int, v int, ver int"),
        keys=["id"], version_col="ver", part_col="grp",
    )
    got = {(r["grp"], r["id"], r["v"]) for r in M.read_snapshot(spark, lake).collect()}
    assert ("b", 3, 99) in got and len(got) == 4


def test_vacuum_older_than_ts_retention(spark, tmp_path):
    """Age-based retention: versions committed at-or-after the cutoff
    survive (plus the keep_versions floor); AS OF still works for every
    retained instant, and the expired manifest is gone."""
    import time as _t

    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 2))
    _t.sleep(0.02)
    cutoff = _t.time()
    _t.sleep(0.02)
    M.commit_append(spark, lake, _mk(spark, 2, 4))
    M.commit_append(spark, lake, _mk(spark, 4, 6))
    # keep_versions=1 would retain only v3, but the age guard keeps
    # everything committed after `cutoff` (v2, v3); v1 expires
    M.vacuum(spark, lake, keep_versions=1, older_than_ts=cutoff)
    assert M._manifest_versions(spark, lake) == [2, 3]
    assert M.version_as_of_timestamp(spark, lake, _t.time()) == 3
    with pytest.raises(ValueError, match="predates"):
        M.version_as_of_timestamp(spark, lake, cutoff - 1e6)
    assert _rows(M.read_snapshot(spark, lake, version=2)) == _rows(_mk(spark, 0, 4))


def test_file_level_parquet_blooms_written_for_bloom_cols(spark, tmp_path):
    """Segments written with declared bloom columns carry PARQUET
    file-level bloom filters — the documented hand-off for segments too
    large for a manifest-level bloom (the parquet footer records a
    bloom offset for the column)."""
    import glob
    import os

    from nba_pipeline_spark.sources import manifest as M

    def seg_bytes(lake: str) -> int:
        files = glob.glob(f"{lake}/data/seg-*/*.parquet")
        assert len(files) == 1
        return os.path.getsize(files[0])

    df = spark.range(5000).selectExpr("id AS k", "cast(id % 7 as int) AS v")
    plain = str(tmp_path / "plain")
    M.commit_append(spark, plain, df, target_files=1)
    bloomed = str(tmp_path / "bloomed")
    M.commit_append(spark, bloomed, df, target_files=1, bloom_cols=["k"])
    # pyarrow 16 doesn't expose bloom_filter_offset, so assert by the
    # footprint: 5000 distinct int64 keys at parquet's default NDV/FPP
    # cost kilobytes of bloom bitmap — identical data otherwise
    delta = seg_bytes(bloomed) - seg_bytes(plain)
    assert delta > 1024, f"expected file-level bloom bytes, delta={delta}"


def test_scoped_compact_touches_only_matching_partition(spark, tmp_path):
    """compact(part_eq=...) — OPTIMIZE WHERE: only the matching
    partition's segments consolidate; others transfer BY NAME; pending
    MoR tombstones carry forward and still apply to untouched
    segments."""
    import pytest as _pt

    from nba_pipeline_spark.sources import manifest as M

    lake = str(tmp_path / "lake")
    mk = lambda rows: spark.createDataFrame(rows, "k int, part string")
    # two appends into part=a (two segments), one into part=b
    M.commit_append(spark, lake, mk([(1, "a")]), partition={"part": "a"})
    M.commit_append(spark, lake, mk([(2, "a")]), partition={"part": "a"})
    M.commit_append(spark, lake, mk([(3, "b")]), partition={"part": "b"})
    # MoR tombstone on a key in part=b (untouched by the scoped compact)
    M.commit_delete_mor(spark, lake, spark.createDataFrame([(3,)], "k int"), ["k"])
    before = M._read_manifest(spark, lake, M.current_version(spark, lake))
    b_segs = [
        s for s in before["segments"]
        if before["meta"][s]["part"] == {"part": "b"}
    ]

    M.compact(spark, lake, part_eq={"part": "a"})
    after = M._read_manifest(spark, lake, M.current_version(spark, lake))
    a_segs = [
        s for s in after["segments"]
        if after["meta"][s].get("part") == {"part": "a"}
    ]
    assert len(a_segs) == 1, "part=a consolidates to one segment"
    assert set(b_segs) <= set(after["segments"]), "part=b transfers by name"
    assert after.get("deletes"), "scoped compact must carry MoR tombstones"
    # reads stay correct: k=3 still tombstoned, a-part rows intact
    got = {r["k"] for r in M.read_snapshot(spark, lake).collect()}
    assert got == {1, 2}
    # full compact afterwards materializes and clears the tombstones
    M.compact(spark, lake)
    final = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert not final.get("deletes")
    assert {r["k"] for r in M.read_snapshot(spark, lake).collect()} == {1, 2}

    # scoping an untagged lake is refused
    plain = str(tmp_path / "plain")
    M.commit_append(spark, plain, mk([(9, "x")]))
    with _pt.raises(ValueError, match="no partition-tagged"):
        M.compact(spark, plain, part_eq={"part": "x"})


def test_consume_feed_checkpoint_over_file_scheme_uri(spark, tmp_path):
    """The consume_feed high-water checkpoint goes through the Hadoop
    FS API — exercised here on a scheme'd file:// state path (the
    round-6 finding: the old open/os.replace checkpoint could not live
    on a non-local store at all)."""
    from nba_pipeline_spark.sources import manifest as M

    src = str(tmp_path / "src")
    state = f"file://{tmp_path}/state"
    M.commit_append(spark, src, spark.createDataFrame([(1,)], "k int"))
    M.commit_append(spark, src, spark.createDataFrame([(2,)], "k int"))
    seen: list[int] = []
    n = M.consume_feed(spark, src, ["k"], state, lambda df, v: seen.append(v))
    assert n == 2 and seen == [1, 2]
    # replay: the checkpoint read back through the same URI
    n = M.consume_feed(spark, src, ["k"], state, lambda df, v: seen.append(v))
    assert n == 0 and seen == [1, 2]


# ------------------------------------------------------- catalog pins (r9)


def test_catalog_pin_survives_later_writes(spark, tmp_path):
    """A pin is a durable multi-lake snapshot: reads through it see
    the pin-time contents no matter what lands later; an older pin
    stays readable through catalog time travel; probe kwargs pass
    through to the pinned read."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    cat = str(tmp_path / "cat")
    M.commit_append(
        spark, a,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        stats_cols=["k"],
    )
    M.commit_append(
        spark, b, spark.createDataFrame([(1, "x")], "k long, s string")
    )
    M.pin_catalog(spark, cat, {"corpus": a, "dims": b}, tag="run-1")
    # lakes advance
    M.commit_append(
        spark, a, spark.createDataFrame([(3, 30)], "k long, v long")
    )
    M.commit_delete(
        spark, b, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    assert M.read_pinned(spark, cat, "corpus").count() == 2
    assert M.read_pinned(spark, cat, "dims").count() == 1
    # a second pin captures the new state; the first stays readable
    M.pin_catalog(spark, cat, {"corpus": a, "dims": b}, tag="run-2")
    assert M.read_pinned(spark, cat, "corpus").count() == 3
    assert M.read_pinned(spark, cat, "dims").count() == 0
    v1 = M._manifest_versions(spark, cat)[0]
    assert M.read_pinned(spark, cat, "corpus", catalog_version=v1).count() == 2
    assert M.read_pinned(spark, cat, "dims", catalog_version=v1).count() == 1
    # pruning kwargs pass through
    assert M.read_pinned(
        spark, cat, "corpus", catalog_version=v1, ranges={"k": (2, 9)}
    ).filter("k >= 2").count() == 1
    # replayed pin with the same tag: no new catalog version
    vc = M.current_version(spark, cat)
    M.pin_catalog(spark, cat, {"corpus": a, "dims": b}, tag="run-2")
    assert M.current_version(spark, cat) == vc
    with pytest.raises(ValueError, match="no pin"):
        M.read_pinned(spark, cat, "zzz")


def test_vacuum_respects_catalog_pins(spark, tmp_path):
    """vacuum(pins=[catalog]) keeps every version a catalog pin (any
    catalog version) references — the training-run manifest survives
    retention; without the guard the same vacuum expires it."""
    a = str(tmp_path / "a")
    cat = str(tmp_path / "cat")
    M.commit_append(spark, a, spark.range(3).selectExpr("id as k"))
    M.pin_catalog(spark, cat, {"corpus": a})  # pins a@1
    for i in range(4):
        M.commit_append(
            spark, a, spark.range(10 + i, 12 + i).selectExpr("id as k")
        )
    M.vacuum(spark, a, keep_versions=2, pins=[cat])
    # the pinned version is still readable end-to-end
    assert M.read_pinned(spark, cat, "corpus").count() == 3
    # and the unpinned middle versions expired
    vs = M._manifest_versions(spark, a)
    assert 1 in vs and len(vs) == 3  # pinned v1 + newest 2
    # without the pins guard the pin breaks (fresh twin lake;
    # register=False opts out of the r10 auto-registration, and
    # include_registered_pins=False is the deliberate-reclaim path)
    b = str(tmp_path / "b")
    cat2 = str(tmp_path / "cat2")
    M.commit_append(spark, b, spark.range(3).selectExpr("id as k"))
    M.pin_catalog(spark, cat2, {"corpus": b}, register=False)
    for i in range(4):
        M.commit_append(
            spark, b, spark.range(20 + i, 22 + i).selectExpr("id as k")
        )
    M.vacuum(spark, b, keep_versions=2)
    with pytest.raises(ValueError):
        M.read_pinned(spark, cat2, "corpus").count()


def test_vacuum_discovers_registered_pins_by_default(spark, tmp_path):
    """VERDICT r9 #5: pin_catalog registers itself on every pinned
    lake, so a flagless vacuum honors the pins; --no-pins
    (include_registered_pins=False) reclaims them deliberately."""
    a = str(tmp_path / "a")
    cat = str(tmp_path / "cat")
    M.commit_append(spark, a, spark.range(3).selectExpr("id as k"))
    M.pin_catalog(spark, cat, {"corpus": a})  # pins a@1 and registers
    assert M.registered_catalogs(spark, a) == [cat]
    # registration is idempotent: a second pin adds no catalogs entry
    M.commit_append(spark, a, spark.range(3, 5).selectExpr("id as k"))
    M.pin_catalog(spark, cat, {"corpus": a})
    assert M.registered_catalogs(spark, a) == [cat]
    for i in range(4):
        M.commit_append(
            spark, a, spark.range(10 + i, 12 + i).selectExpr("id as k")
        )
    M.vacuum(spark, a, keep_versions=2)  # NO pins flag
    assert M.read_pinned(spark, cat, "corpus").count() == 5
    assert M.read_pinned(spark, cat, "corpus", catalog_version=1).count() == 3
    # deliberate reclaim: the opt-out expires the pinned versions
    M.vacuum(spark, a, keep_versions=2, include_registered_pins=False)
    with pytest.raises(ValueError):
        M.read_pinned(spark, cat, "corpus").count()


def test_commit_delete_dv_positional(spark, tmp_path):
    """Deletion-vector MoR delete (VERDICT r10 #3): keys resolve to
    (file, pos) pairs at write time, no data rewritten; reads apply a
    positional filter; a key RE-APPENDED after the DV stays visible
    structurally (the DV names files, not keys); compact materializes
    and clears; vacuum keeps the DV while referenced; absent keys
    produce no positions."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 5), stats_cols=["id"])
    M.commit_append(spark, lake, _mk(spark, 5, 10), stats_cols=["id"])
    segs_before = M.resolve_segments(spark, lake)

    dels = spark.createDataFrame([(3,), (7,), (99,)], "id int")  # 99 absent
    v = M.commit_delete_dv(spark, lake, dels, ["id"])
    m = M._read_manifest(spark, lake, v)
    assert m["segments"] == segs_before          # zero data movement
    assert len(m.get("deletes", [])) == 1
    dv = m["deletes"][0]
    assert m["meta"][dv]["dv"] is True
    # only the two overlapping segments are named (stats pruning)
    assert set(m["meta"][dv]["dv_segs"]) <= set(segs_before)
    # the DV parquet holds exactly the two victims' positions
    import pyarrow.parquet as pq

    dvt = pq.read_table(f"{lake}/data/{dv}")
    assert dvt.num_rows == 2

    got = {r["id"] for r in M.read_snapshot(spark, lake).collect()}
    assert got == {0, 1, 2, 4, 5, 6, 8, 9}
    # time travel: pre-delete rows intact
    assert len({r["id"] for r in M.read_snapshot(spark, lake, 2).collect()}) == 10

    # re-append a deleted key: visible (the DV names files, not keys)
    M.commit_append(spark, lake, _mk(spark, 3, 4), stats_cols=["id"])
    got2 = {r["id"] for r in M.read_snapshot(spark, lake).collect()}
    assert got2 == {0, 1, 2, 3, 4, 5, 6, 8, 9}

    # the python datasource read path agrees
    from nba_pipeline_spark.sources.lake_datasource import register_lake_source

    register_lake_source(spark)
    ds = (
        spark.read.format("manifest_lake").option("path", lake).load()
    )
    assert {r["id"] for r in ds.collect()} == got2

    # vacuum keeps the referenced DV; compact materializes + clears
    M.vacuum(spark, lake, keep_versions=1)
    assert os.path.exists(f"{lake}/data/{dv}")
    assert {r["id"] for r in M.read_snapshot(spark, lake).collect()} == got2
    M.compact(spark, lake)
    m2 = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert not m2.get("deletes")
    assert {r["id"] for r in M.read_snapshot(spark, lake).collect()} == got2
    M.vacuum(spark, lake, keep_versions=1)
    assert not os.path.exists(f"{lake}/data/{dv}")


def test_ndv_segment_stats(spark, tmp_path):
    """VERDICT r11 #4 — NDV segment statistics: per-segment mergeable
    distinct-count sketches (exact bitmap for integral columns, Theta
    for strings), unioned by metadata_agg without reading data files
    (allow_scan=False proves it); a wide-span integral column falls
    to Theta; a segment without the sketch falls back to one scan;
    plan_maintenance flags duplicate-heavy segments (advisory —
    apply_maintenance reports without executing)."""
    lake = str(tmp_path / "lake")
    # overlapping ck values across segments + in-segment duplicates
    for lo, hi, shift in ((0, 100, 0), (100, 160, 0), (160, 220, 20)):
        rows = [(i, (i % 40) + shift, f"s{i % 7}") for i in range(lo, hi)]
        M.commit_append(
            spark, lake,
            spark.createDataFrame(rows, "ok long, ck long, st string"),
            stats_cols=["ok"], ndv_cols=["ck", "st"],
        )
    r = M.metadata_agg(
        spark, lake, ndv_cols=["ck", "st"], allow_scan=False
    ).collect()[0]
    snap = M.read_snapshot(spark, lake)
    assert int(r["count_rows"]) == 220
    assert int(r["ndv_ck"]) == snap.select("ck").distinct().count() == 60
    assert int(r["ndv_st"]) == snap.select("st").distinct().count() == 7
    # recorded kinds: integral ck -> exact bitmap, string st -> theta
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    kinds = {
        (c, e["kind"])
        for s in m["segments"]
        for c, e in m["meta"][s]["ndv"].items()
    }
    assert kinds == {("ck", "bitmap"), ("st", "theta")}
    # duplicate-heavy advice (rows/ndv >= 2 on ck in every segment)
    plan = M.plan_maintenance(spark, lake)
    dup = [a for a in plan if a["action"] == "review_duplicates"]
    assert len(dup) == 1 and dup[0]["priority"] == 7
    pairs = dup[0]["args"]["pairs"]
    assert {p["col"] for p in pairs} >= {"ck"}
    done = M.apply_maintenance(spark, lake, dup)
    assert done[0]["result"] == "advisory"  # reported, never executed
    # a segment missing the sketch: allow_scan=False raises, the
    # default falls back to ONE exact scan
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(999, 999, "zz")], "ok long, ck long, st string"),
        stats_cols=["ok"],
    )
    with pytest.raises(ValueError, match="NDV"):
        M.metadata_agg(spark, lake, ndv_cols=["ck"], allow_scan=False).collect()
    r2 = M.metadata_agg(spark, lake, ndv_cols=["ck"]).collect()[0]
    assert int(r2["ndv_ck"]) == 61
    # wide-span integral column (beyond the bitmap bucket cap): Theta
    lake2 = str(tmp_path / "wide")
    wide = [(i * 40_000_000,) for i in range(200)]  # 8e9 span
    M.commit_append(
        spark, lake2,
        spark.createDataFrame(wide, "k long"),
        ndv_cols=["k"],
    )
    m2 = M._read_manifest(spark, lake2, 1)
    seg = m2["segments"][0]
    assert m2["meta"][seg]["ndv"]["k"]["kind"] == "theta"
    r3 = M.metadata_agg(
        spark, lake2, ndv_cols=["k"], allow_scan=False
    ).collect()[0]
    assert int(r3["ndv_k"]) == 200  # theta is exact below 4096 retained


def test_ndv_column_mapped_lake(spark, tmp_path):
    """NDV sketches on a column-mapped lake key by PHYSICAL name and
    still answer under the current logical name."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(i, i % 5) for i in range(50)], "a long, b long"),
        ndv_cols=["b"],
    )
    M.rename_column(spark, lake, "b", "bucket")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(i, (i % 5) + 3) for i in range(50)], "a long, bucket long"
        ),
        ndv_cols=["bucket"],
    )
    r = M.metadata_agg(
        spark, lake, ndv_cols=["bucket"], allow_scan=False
    ).collect()[0]
    assert int(r["ndv_bucket"]) == 8  # {0..4} U {3..7}




def test_metadata_aggs_match_scan_on_mixed_layout(spark, tmp_path):
    """One seeded lake holding every layout the two metadata-only
    aggregates meet: partition-tagged segments with stats (one tagged
    NULL), an untagged segment with stats and a tagged segment without
    them, over int, date, double (NULLs and a NaN) and decimal columns;
    every tag matches its segment's data. At the covered-only version
    and at the latest, `metadata_agg` equals the plain aggregate over
    `read_snapshot`, `metadata_agg_by_partition` equals it grouped by
    the tag column (values and types), and the per-partition rows fold
    to the global row. The covered-only calls submit no job;
    `allow_scan=False` refuses the latest version, naming the
    function."""
    import datetime
    import math
    import random
    from decimal import Decimal

    rng = random.Random(15)
    cols = ["k", "d", "x", "m"]

    def batch(n, parts):
        return [
            (
                rng.choice(parts),
                rng.randint(-10**6, 10**6),
                datetime.date(2000, 1, 1)
                + datetime.timedelta(days=rng.randint(0, 9000)),
                None if rng.random() < 0.2 else rng.uniform(-50.0, 50.0),
                Decimal(rng.randint(0, 20000)) / 100,
            )
            for _ in range(n)
        ]

    def frame(rows):
        return spark.createDataFrame(
            rows, "p int, k long, d date, x double, m decimal(10,2)"
        )

    lake = str(tmp_path / "lake")
    first = batch(60, [0, 1, None])
    first.append((1, 0, datetime.date(2001, 1, 1), float("nan"), Decimal("7")))
    M.commit_append_partitioned(spark, lake, frame(first), "p", stats_cols=cols)
    M.commit_append(
        spark, lake, frame(batch(20, [2])), partition={"p": 2},
        stats_cols=cols,
    )
    covered_v = M.current_version(spark, lake)
    M.commit_append(spark, lake, frame(batch(30, [0, 1, 2, None])), stats_cols=cols)
    M.commit_append(spark, lake, frame(batch(20, [1])), partition={"p": 1})

    kw = dict(min_cols=cols, max_cols=cols, count_cols=cols)

    def plain(df, by):
        return df.groupBy(*by).agg(
            F.count(F.lit(1)).alias("count_rows"),
            *[F.min(c).alias(f"min_{c}") for c in cols],
            *[F.max(c).alias(f"max_{c}") for c in cols],
            *[F.count(c).alias(f"count_{c}") for c in cols],
        )

    def nan(v):  # NaN != NaN: compare it as a marker
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    def order(v):  # Spark's order: NaN above every other double
        return (v != v, v)

    def rows(df):
        return sorted(
            (tuple(nan(v) for v in r) for r in df.collect()),
            key=lambda t: (t[0] is None, str(t[0])),
        )

    for v in (covered_v, None):
        snap = M.read_snapshot(spark, lake, version=v)
        glob = M.metadata_agg(spark, lake, version=v, **kw)
        per = M.metadata_agg_by_partition(spark, lake, "p", version=v, **kw)
        assert glob.dtypes == plain(snap, []).dtypes
        assert rows(glob) == rows(plain(snap, []))
        assert per.dtypes == plain(snap, ["p"]).dtypes
        assert rows(per) == rows(plain(snap, ["p"]))
        g, ps = glob.collect()[0], per.collect()
        for name in g.asDict():
            vals = [r[name] for r in ps if r[name] is not None]
            if name.startswith("min_"):
                want = min(vals, key=order, default=None)
            elif name.startswith("max_"):
                want = max(vals, key=order, default=None)
            else:
                want = sum(vals)
            assert nan(want) == nan(g[name]), name

    before = _jobs(spark)
    M.metadata_agg(spark, lake, version=covered_v, allow_scan=False, **kw)
    M.metadata_agg_by_partition(
        spark, lake, "p", version=covered_v, allow_scan=False, **kw
    )
    assert _jobs(spark) == before
    with pytest.raises(ValueError, match=r"^metadata_agg\(allow_scan=False\)"):
        M.metadata_agg(spark, lake, allow_scan=False, **kw)
    with pytest.raises(
        ValueError, match=r"^metadata_agg_by_partition\(allow_scan=False\)"
    ):
        M.metadata_agg_by_partition(spark, lake, "p", allow_scan=False, **kw)

def _fresh_sf_alias(tmp_path):
    """A fresh symlinked alias of SF_DIR: the query stages built on it
    are this checkout's, and live under their own stage root."""
    from conftest import SF_DIR

    alias = str(tmp_path / "sf")
    os.symlink(SF_DIR, alias)
    return alias


def test_agg_ndv_query_lake_records_ndv_cols(spark, tmp_path):
    """q_manifest_agg_ndv's staged lake records NDV sketches for both
    requested columns, so the query's metadata-only COUNT DISTINCT
    answers from them."""
    import shutil

    from nba_pipeline_spark.plans.lake_queries import q_manifest_agg_ndv
    from nba_pipeline_spark.plans.queries import _stage_dir

    alias = _fresh_sf_alias(tmp_path)
    q_manifest_agg_ndv(spark, alias)
    lake = _stage_dir(alias, "orders", "manifest_agg_ndv")
    try:
        d = M.describe_detail(spark, lake).collect()[0]
        assert d["ndv_cols"] == ["o_custkey", "o_orderpriority"]
    finally:
        shutil.rmtree(os.path.dirname(lake), ignore_errors=True)


def test_token_search_query_lake_prunes_to_truth(spark, tmp_path):
    """q_manifest_token_search's staged lake (documents in 8 doc_id
    bands, token blooms over text): the token probe keeps no more
    segments than truly contain the token, plus a bloom false-positive
    allowance of two."""
    import shutil

    from nba_pipeline_spark.plans.lake_queries import _token_lake
    from nba_pipeline_spark.sources import load_table

    alias = _fresh_sf_alias(tmp_path)
    lake = _token_lake(spark, alias)
    try:
        token = "dup"
        truth = (
            load_table(spark, alias, "documents")
            .filter(F.array_contains(
                F.split(F.lower(F.col("text")), r"\s+"), token
            ))
            .select((F.col("doc_id") % 8).alias("b"))
            .distinct()
            .count()
        )
        segs = M.resolve_segments(spark, lake, token_eq={"text": token})
        n_all = len(M.resolve_segments(spark, lake))
        assert len(segs) <= min(n_all, truth + 2), (
            f"token bloom kept {len(segs)} of {n_all}, truth {truth}"
        )
    finally:
        shutil.rmtree(os.path.dirname(lake), ignore_errors=True)

def _mor_chg(spark, rows):
    return spark.createDataFrame(rows, "id int, t string, ver int")


def test_commit_upsert_mor_basic(spark, tmp_path):
    """VERDICT r11 #1: merge-on-read MERGE — ONE commit lands the DV
    over superseded rows plus the folded batch as a new segment; no
    existing data file rewritten; LWW inside the batch; insert-only
    batches add no tombstone; all three readers agree; time travel
    intact; compact materializes."""
    from nba_pipeline_spark.sources.lake_datasource import register_lake_source

    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 8), stats_cols=["id"])
    M.commit_append(spark, lake, _mk(spark, 8, 16), stats_cols=["id"])
    segs_before = M.resolve_segments(spark, lake)
    v = M.commit_upsert_mor(
        spark, lake,
        _mor_chg(spark, [(3, "X3", 1), (3, "X3b", 2), (12, "Y12", 1), (20, "N20", 1)]),
        ["id"], "ver",
    )
    m = M._read_manifest(spark, lake, v)
    assert m["op"] == "upsert_mor"
    assert set(segs_before) <= set(m["segments"])      # zero data movement
    assert len(m["segments"]) == 3 and len(m["deletes"]) == 1
    dv = m["deletes"][0]
    assert m["meta"][dv]["dv"] is True
    assert set(m["meta"][dv]["dv_segs"]) == set(segs_before)  # victims in both
    want = {(i, f"d{i}") for i in range(16) if i not in (3, 12)} | {
        (3, "X3b"), (12, "Y12"), (20, "N20"),  # LWW kept ver=2
    }
    assert {(r["id"], r["t"]) for r in M.read_snapshot(spark, lake).collect()} == want
    # time travel: pre-merge snapshot intact
    assert len(M.read_snapshot(spark, lake, version=2).collect()) == 16
    # pyarrow datasource read path agrees
    register_lake_source(spark)
    ds = spark.read.format("manifest_lake").option("path", lake).load()
    assert {(r["id"], r["t"]) for r in ds.collect()} == want
    # ... including under a pushed filter crossing the DV positions
    assert {r["id"] for r in ds.filter("id >= 3").collect()} == {
        i for i, _ in want if i >= 3
    }
    # insert-only batch: NO tombstone referenced (no empty anti-join tax)
    v2 = M.commit_upsert_mor(spark, lake, _mor_chg(spark, [(30, "N30", 1)]), ["id"], "ver")
    m2 = M._read_manifest(spark, lake, v2)
    assert len(m2["deletes"]) == 1  # unchanged
    # repeated merge on an already-MoR-merged key stacks correctly
    v3 = M.commit_upsert_mor(spark, lake, _mor_chg(spark, [(3, "Z3", 9)]), ["id"], "ver")
    got3 = {(r["id"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    assert (3, "Z3") in got3 and len(got3) == 18
    # compact materializes the DVs and clears the tombstone list
    M.compact(spark, lake)
    mc = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert not mc.get("deletes")
    assert {(r["id"], r["t"]) for r in M.read_snapshot(spark, lake).collect()} == got3


def test_commit_upsert_mor_on_tombstoned_and_widened_lake(spark, tmp_path):
    """The MoR MERGE works where the CoW paths refuse: pending
    equality tombstones (segments carry in place — seq fencing keeps
    old tombstones off the new segment) and a widened lake (the
    position scan reads under the widened DDL; the narrow batch
    upcasts at the append boundary)."""
    import pytest

    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 8), stats_cols=["id"])
    M.commit_delete_mor(spark, lake, spark.createDataFrame([(5,)], "id int"), ["id"])
    with pytest.raises(ValueError, match="tombstones"):
        M.commit_upsert_pruned(
            spark, lake, _mor_chg(spark, [(1, "X", 1)]), ["id"], "ver"
        )
    v = M.commit_upsert_mor(spark, lake, _mor_chg(spark, [(1, "X1", 1), (5, "B5", 1)]), ["id"], "ver")
    got = {(r["id"], r["t"]) for r in M.read_snapshot(spark, lake).collect()}
    # 5 was equality-deleted, then re-inserted by the merge (its new
    # row lives in a post-tombstone segment — never masked)
    assert got == {(i, f"d{i}") for i in range(8) if i not in (1, 5)} | {
        (1, "X1"), (5, "B5"),
    }
    assert len(M._read_manifest(spark, lake, v).get("deletes", [])) == 2
    # widened lake: CoW pruned refuses, MoR merges
    lake2 = str(tmp_path / "lake2")
    M.commit_append(
        spark, lake2,
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id int, t string, n int"),
        stats_cols=["id"],
    )
    M.widen_column_type(spark, lake2, "n", "bigint")
    with pytest.raises(ValueError, match="widened"):
        M.commit_upsert_pruned(
            spark, lake2,
            spark.createDataFrame([(1, "a2", 11, 1)], "id int, t string, n bigint, ver int"),
            ["id"], "ver",
        )
    # ... and the MoR path even takes the NARROW batch (upcast at the
    # append boundary, the commit_append parity)
    M.commit_upsert_mor(
        spark, lake2,
        spark.createDataFrame([(1, "a2", 11, 1)], "id int, t string, n int, ver int"),
        ["id"], "ver",
    )
    df = M.read_snapshot(spark, lake2)
    assert dict(df.dtypes)["n"] == "bigint"
    assert {(r["id"], r["t"], r["n"]) for r in df.collect()} == {
        (1, "a2", 11), (2, "b", 20),
    }


def test_commit_upsert_mor_unique_tag_and_partition_refusal(spark, tmp_path):
    """UNIQUE parity with the pruned MERGE (self-dups and
    batch-vs-survivor collisions refused before any write), tag
    idempotency, and the partition-tagged refusal."""
    import pytest

    from nba_pipeline_spark.sources.manifest import ConstraintViolation

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "u1", 10), (2, "u2", 20)], "id int, u string, n int"
        ),
        stats_cols=["id"],
    )
    M.set_unique_key(spark, lake, ["u"])
    # batch key 3 (insert) carrying u2 collides with surviving row id=2
    with pytest.raises(ConstraintViolation, match="UNIQUE"):
        M.commit_upsert_mor(
            spark, lake,
            spark.createDataFrame([(3, "u2", 30, 1)], "id int, u string, n int, ver int"),
            ["id"], "ver",
        )
    # updating id=2 itself to a fresh u is fine (its old row is masked)
    M.commit_upsert_mor(
        spark, lake,
        spark.createDataFrame([(2, "u9", 29, 1)], "id int, u string, n int, ver int"),
        ["id"], "ver",
    )
    assert {(r["id"], r["u"]) for r in M.read_snapshot(spark, lake).collect()} == {
        (1, "u1"), (2, "u9"),
    }
    # tagged replay: no-op, same version
    v = M.commit_upsert_mor(
        spark, lake,
        spark.createDataFrame([(4, "u4", 40, 1)], "id int, u string, n int, ver int"),
        ["id"], "ver", tag="mor=1",
    )
    v2 = M.commit_upsert_mor(
        spark, lake,
        spark.createDataFrame([(4, "WRONG", 99, 9)], "id int, u string, n int, ver int"),
        ["id"], "ver", tag="mor=1",
    )
    assert v2 == v == M.current_version(spark, lake)
    # partition-tagged lake refuses (parity with the pruned path)
    plake = str(tmp_path / "plake")
    M.commit_append(
        spark, plake,
        spark.createDataFrame([(1, "a")], "id int, t string"),
        partition={"t": "a"},
    )
    with pytest.raises(ValueError, match="partition-tagged"):
        M.commit_upsert_mor(
            spark, plake,
            spark.createDataFrame([(1, "b", 1)], "id int, t string, ver int"),
            ["id"], "ver",
        )


def test_dv_spark_read_scopes_to_named_segments(spark, tmp_path):
    """VERDICT r11 #6: segments no deletion vector NAMES (`dv_segs`)
    must skip the (file, pos) anti-join outright on the Spark read
    path — the pyarrow datasource already pruned this way. The plan
    becomes a Union of a join branch (named segment) and a join-free
    scan branch."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 5).coalesce(1), stats_cols=["id"])
    M.commit_append(spark, lake, _mk(spark, 5, 10).coalesce(1), stats_cols=["id"])
    M.commit_delete_dv(
        spark, lake, spark.createDataFrame([(3,)], "id int"), ["id"]
    )
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    dv = m["deletes"][0]
    named = set(m["meta"][dv]["dv_segs"])
    assert len(named) == 1  # stats pruned the non-overlapping segment
    groups = M._tomb_groups(m["segments"], m["deletes"], m["meta"])
    assert sorted(map(len, groups.values())) == [1, 1]
    assert tuple() in groups  # the unnamed segment: NO tombstones apply
    assert set(groups[tuple()]) == set(m["segments"]) - named
    df = M.read_snapshot(spark, lake)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1 and "Union" in plan
    assert {r["id"] for r in df.collect()} == set(range(10)) - {3}


def test_commit_delete_dv_datasource_pushed_filter(spark, tmp_path):
    """ADVICE r11 #1: deletion-vector positions index the RAW file's
    rows, so the pyarrow datasource must not apply them after a
    pushdown-filtered read (the filtered table's row indices are
    shifted — the mask would kill the wrong rows AND resurrect deleted
    ones). One file ids 0..9, DV kills ids {0, 3}; WHERE id >= 2 used
    to drop row 0 pre-mask, so the mask killed id=2 and id=5 instead."""
    from nba_pipeline_spark.sources.lake_datasource import register_lake_source

    lake = str(tmp_path / "lake")
    one = spark.createDataFrame(
        [(i, f"d{i}") for i in range(10)], "id int, t string"
    ).coalesce(1)
    M.commit_append(spark, lake, one, stats_cols=["id"])
    M.commit_delete_dv(
        spark, lake, spark.createDataFrame([(0,), (3,)], "id int"), ["id"]
    )
    register_lake_source(spark)
    ds = spark.read.format("manifest_lake").option("path", lake).load()
    want = {1, 2, 4, 5, 6, 7, 8, 9}
    assert {r["id"] for r in ds.collect()} == want
    # pushed range / equality / IN predicates over the DV-carrying file
    assert {r["id"] for r in ds.filter("id >= 2").collect()} == want - {1}
    assert {r["id"] for r in ds.filter("id = 3").collect()} == set()
    assert {r["id"] for r in ds.filter("id = 5").collect()} == {5}
    assert {
        r["id"] for r in ds.filter(F.col("id").isin(0, 3, 4, 9)).collect()
    } == {4, 9}
    # equality-tombstone path unaffected by the reorder
    M.commit_delete_mor(
        spark, lake, spark.createDataFrame([(7,)], "id int"), ["id"]
    )
    ds2 = spark.read.format("manifest_lake").option("path", lake).load()
    assert {r["id"] for r in ds2.filter("id >= 2").collect()} == {
        2, 4, 5, 6, 8, 9,
    }


def test_commit_delete_dv_mixed_with_equality_and_cdf(spark, tmp_path):
    """A DV coexists with an equality tombstone (positional applies
    first — index stability), snapshot_diff attributes the DV commit's
    deletes with old values, and the manifest_cdf stream agrees."""
    from nba_pipeline_spark.sources.cdf_stream import register_cdf_stream

    lake = str(tmp_path / "lake")
    register_cdf_stream(spark)
    M.commit_append(spark, lake, _mk(spark, 0, 8), stats_cols=["id"])
    M.commit_delete_mor(spark, lake, spark.createDataFrame([(1,)], "id int"), ["id"])
    M.commit_delete_dv(spark, lake, spark.createDataFrame([(2,), (5,)], "id int"), ["id"])
    got = {r["id"] for r in M.read_snapshot(spark, lake).collect()}
    assert got == {0, 3, 4, 6, 7}
    # the DV step's feed rows: deletes with old values
    v = M.current_version(spark, lake)
    d = M.snapshot_diff(spark, lake, v - 1, v, ["id"], include_values=True)
    assert {(r["id"], r["op"], r["old"]["t"]) for r in d.collect()} == {
        (2, "delete", "d2"), (5, "delete", "d5"),
    }
    out: list = []
    q = (
        spark.readStream.format("manifest_cdf")
        .option("path", lake).option("keys", "id").load()
        .writeStream.foreachBatch(lambda df, _b: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert {(r["id"], r["op"], r["_commit_version"]) for r in out} == {
        *{(i, "insert", 1) for i in range(8)},
        (1, "delete", 2), (2, "delete", 3), (5, "delete", 3),
    }


def test_commit_delete_dv_column_mapped_and_tagged_replay(spark, tmp_path):
    """DV delete on a COLUMN-MAPPED lake (keys translate to physical;
    positions are physical by nature) and the tag gives streaming
    replays idempotency."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _mk(spark, 0, 6), stats_cols=["id"])
    M.rename_column(spark, lake, "id", "doc_id")
    v = M.commit_delete_dv(
        spark, lake, spark.createDataFrame([(4,)], "doc_id int"),
        ["doc_id"], tag="dv=1",
    )
    assert {r["doc_id"] for r in M.read_snapshot(spark, lake).collect()} == {
        0, 1, 2, 3, 5,
    }
    # replay with the same tag: no-op, version unchanged
    v2 = M.commit_delete_dv(
        spark, lake, spark.createDataFrame([(4,)], "doc_id int"),
        ["doc_id"], tag="dv=1",
    )
    assert v2 == v == M.current_version(spark, lake)


def test_maintenance_advisor_flattens_census(spark, tmp_path):
    """plan_maintenance (VERDICT r10 #6): on a synthetic small-file /
    fragmented-partition / pending-tombstone / stale-layout lake the
    advisor proposes exactly the actions whose execution flattens the
    metadata census — repeat plan+apply until the plan is empty, then
    assert the census is flat and the advisor is silent."""
    # lake A: micro-batch small-file tail + pending MoR tombstone
    a = str(tmp_path / "a")
    M.commit_append(spark, a, _mk(spark, 0, 400), stats_cols=["id"])
    for lo in range(400, 440, 10):
        M.commit_append(spark, a, _mk(spark, lo, lo + 10), stats_cols=["id"])
    M.commit_delete_mor(spark, a, spark.createDataFrame([(5,)], "id int"), ["id"])
    plan = M.plan_maintenance(spark, a)
    acts = [p["action"] for p in plan]
    # tombstone -> full compact (subsumes the small-file tail), then
    # reclaimable old versions
    assert acts[0] == "compact" and "tombstone" in plan[0]["reason"]
    assert "compact_small" not in acts
    rounds = 0
    while plan:
        M.apply_maintenance(spark, a, plan)
        plan = M.plan_maintenance(spark, a)
        rounds += 1
        assert rounds <= 4, plan
    assert {r["id"] for r in M.read_snapshot(spark, a).collect()} == (
        set(range(440)) - {5}
    )
    m = M._read_manifest(spark, a, M.current_version(spark, a))
    assert not m.get("deletes")
    assert len(m["segments"]) <= 2

    # lake B: fragmented partition (scoped OPTIMIZE ... WHERE advice)
    b = str(tmp_path / "b")
    for i in range(6):
        M.commit_append_partitioned(
            spark, b,
            spark.createDataFrame(
                [(100 * i + j, "p1") for j in range(50)], "id int, part string"
            ),
            part_col="part",
        )
    M.commit_append_partitioned(
        spark, b,
        spark.createDataFrame([(9001, "p2")], "id int, part string"),
        part_col="part",
    )
    plan_b = M.plan_maintenance(spark, b)
    scoped = [p for p in plan_b if p["action"] == "compact" and p["args"].get("part_eq")]
    assert scoped and scoped[0]["args"]["part_eq"] == {"part": "p1"}
    rounds = 0
    while plan_b:
        M.apply_maintenance(spark, b, plan_b)
        plan_b = M.plan_maintenance(spark, b)
        rounds += 1
        assert rounds <= 4, plan_b
    assert M.read_snapshot(spark, b).count() == 301

    # lake C: z-ordered lake with an unfolded post-cluster append
    c = str(tmp_path / "c")
    M.commit_append(
        spark, c,
        spark.createDataFrame([(i, i * 2) for i in range(200)], "x int, y int"),
    )
    M.cluster(spark, c, ["x"], target_segments=2, bits_per_col=4)
    M.commit_append(
        spark, c,
        spark.createDataFrame([(1000, 1)], "x int, y int"),
    )
    plan_c = M.plan_maintenance(spark, c)
    assert "cluster_incremental" in [p["action"] for p in plan_c]
    rounds = 0
    while plan_c:
        M.apply_maintenance(spark, c, plan_c)
        plan_c = M.plan_maintenance(spark, c)
        rounds += 1
        assert rounds <= 4, plan_c
    assert M.read_snapshot(spark, c).count() == 201

    # a freshly-flattened lake: the advisor has nothing to say
    assert M.plan_maintenance(spark, a) == []


def test_local_xxh64_probe_hashes_match_engine(spark):
    """r12: bloom probe values hash DRIVER-SIDE through a pure-Python
    XXH64 twin of the engine expression xxhash64(CAST(v AS STRING),
    lit(seed)) — pin bit-exactness across string lengths (every tail
    branch: <4, <8, <32, 32+ bytes), unicode, signs, bools, and the
    empty string; unsupported types must fall back (return None)."""
    from pyspark.sql import functions as F

    from nba_pipeline_spark.sources.manifest import (
        _BLOOM_HASHES,
        _bloom_hash_cols,
        _local_probe_hashes,
    )

    strs = [
        "", "a", "abc", "abcd", "abcdefg", "abcdefgh", "0123456789abcde",
        "x" * 31, "y" * 32, "z" * 33, "w" * 100,
        "héllo wörld", "中文字符串 тест ☕", "\x00\x01\x02", " spaced  ",
        "-42", "0", "2017",
    ]
    rows = (
        spark.createDataFrame([(v,) for v in strs], ["s"])
        .select(
            "s",
            *[
                h.alias(f"h{i}")
                for i, h in enumerate(_bloom_hash_cols(F.col("s")))
            ],
        )
        .collect()
    )
    for r in rows:
        assert _local_probe_hashes(r["s"]) == [
            int(r[f"h{i}"]) for i in range(_BLOOM_HASHES)
        ], f"xxh64 twin diverged on {r['s']!r}"
    for v in [0, 1, -1, 2017, -2017, 2**31, -(2**31), 2**62, True, False]:
        row = (
            spark.range(1)
            .select(
                *[
                    h.alias(f"h{i}")
                    for i, h in enumerate(_bloom_hash_cols(F.lit(v)))
                ]
            )
            .collect()[0]
        )
        assert _local_probe_hashes(v) == [
            int(row[f"h{i}"]) for i in range(_BLOOM_HASHES)
        ], f"xxh64 twin diverged on {v!r}"
    # floats/dates can't reproduce the engine's string cast driver-side
    assert _local_probe_hashes(1.5) is None


def test_segment_schema_cache_matches_inference(spark, tmp_path):
    """r12: _read_segments memoizes the inferred schema per immutable
    file-set identity. The cached read must equal plain inference, and
    a NEW version (new segment set) must re-infer, never serve stale."""
    import nba_pipeline_spark.sources.manifest as M

    lake = str(tmp_path / "lk")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    M.commit_replace(spark, lake, df1)
    r1 = M.read_snapshot(spark, lake)
    assert sorted(r1.collect()) == sorted(df1.collect())
    # repeat read of the same version: same schema, same rows
    r2 = M.read_snapshot(spark, lake)
    assert r2.schema == r1.schema
    assert sorted(r2.collect()) == sorted(r1.collect())
    # new version with an ADDED column: the new segment set re-infers
    df2 = spark.createDataFrame(
        [(3, "c", 1.5)], "id int, s string, x double"
    )
    M.commit_replace(spark, lake, df2)
    r3 = M.read_snapshot(spark, lake)
    assert [f.name for f in r3.schema.fields] == ["id", "s", "x"]
    assert sorted(r3.collect()) == sorted(df2.collect())


# ---------------------------------------------------------------------
# One commit loop: a racing writer can land only between an op's build
# and its manifest rename. The rebuild on the new head must give the
# same table as running the op after the racing write.
# ---------------------------------------------------------------------


def _race_rows(spark, rows):
    return spark.createDataFrame(rows, "k int, p int, v string")


def _race_plain(spark, lake):
    rows = [(k, k % 2, f"v{k}") for k in range(12)]
    M.commit_append(spark, lake, _race_rows(spark, rows), stats_cols=["k"])


def _race_tagged(spark, lake):
    rows = [(k, k % 2, f"v{k}") for k in range(12)]
    M.commit_append_partitioned(spark, lake, _race_rows(spark, rows), "p")


def _race_append_plain(spark, lake):
    M.commit_append(
        spark, lake, _race_rows(spark, [(100, 0, "r")]), stats_cols=["k"]
    )


def _race_append_tagged(spark, lake):
    M.commit_append(
        spark, lake, _race_rows(spark, [(100, 0, "r")]), partition={"p": 0}
    )


def _race_changes(spark):
    return spark.createDataFrame(
        [(1, 1, "u1", 1), (50, 0, "n50", 1)], "k int, p int, v string, ver int"
    )


def _race_keys(spark):
    return spark.createDataFrame([(1,), (2,)], "k int")


_RACE_CASES = {
    "commit_upsert": (
        "upsert", _race_plain, _race_append_plain,
        lambda s, p: M.commit_upsert(s, p, _race_changes(s), ["k"], "ver"),
    ),
    "commit_upsert_partitioned": (
        "upsert_partitioned", _race_tagged, _race_append_tagged,
        lambda s, p: M.commit_upsert_partitioned(
            s, p, _race_changes(s), ["k"], "ver", "p"
        ),
    ),
    "commit_upsert_pruned": (
        "upsert_pruned", _race_plain, _race_append_plain,
        lambda s, p: M.commit_upsert_pruned(s, p, _race_changes(s), ["k"], "ver"),
    ),
    "commit_delete": (
        "delete", _race_plain, _race_append_plain,
        lambda s, p: M.commit_delete(s, p, _race_keys(s), ["k"]),
    ),
    "commit_delete_dv": (
        "delete_dv", _race_plain, _race_append_plain,
        lambda s, p: M.commit_delete_dv(s, p, _race_keys(s), ["k"]),
    ),
    "commit_upsert_mor": (
        "upsert_mor", _race_plain, _race_append_plain,
        lambda s, p: M.commit_upsert_mor(s, p, _race_changes(s), ["k"], "ver"),
    ),
    "commit_replace_where": (
        # the racing row lands INSIDE the scope: the rebuild replaces it
        "replace_where", _race_tagged, _race_append_tagged,
        lambda s, p: M.commit_replace_where(
            s, p, _race_rows(s, [(200, 0, "rw")]), eq={"p": 0},
            partition_by="p",
        ),
    ),
    "compact": (
        "compact", _race_plain, _race_append_plain,
        lambda s, p: M.compact(s, p),
    ),
    "cluster": (
        "cluster", _race_plain, _race_append_plain,
        lambda s, p: M.cluster(s, p, ["k", "p"], target_segments=2, bits_per_col=2),
    ),
    "set_constraint": (
        "set_constraint", _race_plain, _race_append_plain,
        lambda s, p: M.set_constraint(s, p, "k_nonneg", "k >= 0"),
    ),
}


@pytest.mark.parametrize("case", sorted(_RACE_CASES))
def test_rebuild_after_racing_append_matches_op_after_it(
    spark, tmp_path, monkeypatch, race_before_rename, case
):
    op_name, setup, racing_append, run = _RACE_CASES[case]
    raced, serial = str(tmp_path / "raced"), str(tmp_path / "serial")
    for lake in (raced, serial):
        setup(spark, lake)
    # the reference: the racing append first, then the op
    racing_append(spark, serial)
    run(spark, serial)

    builds: list = []
    real_commit = M._commit

    def counting_commit(spark_, path, op, build, **kw):
        def counted(parent):
            if op == op_name:
                builds.append(parent["version"] if parent else 0)
            return build(parent)

        return real_commit(spark_, path, op, counted, **kw)

    monkeypatch.setattr(M, "_commit", counting_commit)
    fired = race_before_rename(lambda: racing_append(spark, raced))
    run(spark, raced)
    assert fired
    # built on the original head (v1), then rebuilt on the racing
    # append's (v2)
    assert builds == [1, 2]

    def state(lake):
        return (
            sorted(tuple(r) for r in M.read_snapshot(spark, lake).collect()),
            M.table_constraints(spark, lake),
        )

    assert state(raced) == state(serial)


def _jobs(spark) -> int:
    """Jobs the driver has submitted so far: the status-store count
    perfbench/tracing.py reads."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() + 1 if jobs.size() else 0


def _partitioned_op(op: str, spark, lake: str, n_parts: int):
    """Stage `lake` for one partitioned write op and return the op."""
    df = spark.range(96).select(
        F.col("id").alias("vec_id"), (F.col("id") % n_parts).alias("cell")
    )
    meta = {"stats_cols": ["vec_id"], "bloom_cols": ["vec_id"]}
    if op == "append":
        return lambda: M.commit_append_partitioned(spark, lake, df, "cell", **meta)
    if op == "replace":
        return lambda: M.commit_replace_partitioned(spark, lake, df, "cell", **meta)
    if op == "upsert":
        M.commit_append_partitioned(spark, lake, df, "cell")
        changes = df.withColumn("ver", F.lit(1))
        return lambda: M.commit_upsert_partitioned(
            spark, lake, changes, ["vec_id"], "ver", "cell", **meta
        )
    M.commit_append(spark, lake, df, stats_cols=["cell"])  # dropped whole
    return lambda: M.commit_replace_where(
        spark, lake, df, ranges={"cell": (0, n_parts)}, partition_by="cell"
    )


@pytest.mark.parametrize("op", ["append", "replace", "upsert", "replace_where"])
def test_partitioned_write_jobs_do_not_grow_with_partitions(spark, tmp_path, op):
    """Every multi-segment commit lands in one keyed `_write_segments`
    pass: the same number of Spark jobs for 8 partitions as for 32,
    and still one tagged segment per partition value."""
    jobs = {}
    for n in (8, 32):
        lake = str(tmp_path / f"p{n}")
        run = _partitioned_op(op, spark, lake, n)
        before = _jobs(spark)
        v = run()
        jobs[n] = _jobs(spark) - before
        m = M._read_manifest(spark, lake, v)
        tags = sorted(m["meta"][s]["part"]["cell"] for s in m["segments"])
        assert tags == list(range(n))
    assert jobs[8] == jobs[32], jobs


def test_keyed_segments_record_the_keyless_metadata(spark, tmp_path):
    """A keyed `_write_segments` pass records for each segment exactly
    what the key-less path (`commit_append(partition=...)`) records for
    that group's rows: part, stats, rows, nulls, bloom and tok_bloom,
    with bit-identical bloom bitmaps, over partition values a directory
    name would mangle (NULL, non-ASCII, '/', '=', '%'). The id blooms
    also equal bitmaps built from the driver-side XXH64 twin."""
    import random

    vals = [None, "a/b", "k=v", "50%", "日本"]
    rng = random.Random(7)
    rows = [
        (
            i,
            vals[i % 5],
            None if i % 11 == 0 else
            f"The {rng.choice(['quick', 'LAZY', 'fox'])} {i % 13} {vals[i % 5]}",
            None if i % 5 == 0 else rng.randrange(1000),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, txt string, v long")
    cols = {
        "stats_cols": ["id", "v", "grp"],
        "bloom_cols": ["id", "grp"],
        "token_bloom_cols": ["txt"],
    }
    lake = str(tmp_path / "keyed")
    keyed = M._write_segments(spark, lake, df, [F.col("grp")], **cols)
    assert [k for k, _, _ in keyed] == [
        (None,), ("50%",), ("a/b",), ("k=v",), ("日本",)
    ]
    for i, ((g,), seg, meta) in enumerate(keyed):
        part = df.filter(F.col("grp").eqNullSafe(F.lit(g)))
        one = str(tmp_path / f"one{i}")
        M.commit_append(spark, one, part, partition={"grp": g}, **cols)
        m = M._read_manifest(spark, one, 1)
        want = {k: x for k, x in m["meta"][m["segments"][0]].items() if k != "seq"}
        assert {"part": {"grp": g}, **meta} == want
        got = M._read_segments(spark, lake, [seg])
        assert got.columns == df.columns
        assert sorted(got.collect()) == sorted(part.collect())
        words: dict = {}
        for r in part.select("id").collect():
            for h in M._local_probe_hashes(r["id"]):
                p = h % M._BLOOM_MAX_BITS
                words[p // 64] = words.get(p // 64, 0) | (1 << (p % 64))
        assert meta["bloom"]["id"] == M._fold_bloom(words)
    assert not [d for d in os.listdir(f"{lake}/data") if d.startswith(".")]


def test_cluster_segments_are_z_sorted_inside(spark, tmp_path):
    """The one `partitionBy` write of `cluster`, and each run that
    `cluster_incremental` rewrites, keep every segment's rows in z
    order, file by file, and write no helper column."""
    import glob

    import pyarrow.parquet as pq

    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _grid(spark, 24).repartition(3))
    v = M.cluster(spark, lake, ["a", "b"], target_segments=4, bits_per_col=4)
    spec = M._read_manifest(spark, lake, v)["props"]["zorder"]
    k = len(spec["cols"])

    def z(row):
        out = 0
        for j, (c, cuts) in enumerate(zip(spec["cols"], spec["cuts"])):
            bucket = sum(1 for x in cuts if float(row[c]) >= x)
            for i in range(spec["bits"]):
                out |= ((bucket >> i) & 1) << (i * k + j)
        return out

    def check(version):
        m = M._read_manifest(spark, lake, version)
        n_files = 0
        for s in m["segments"]:
            for f in glob.glob(f"{lake}/data/{s}/*.parquet"):
                t = pq.read_table(f)
                assert t.column_names == ["a", "b", "payload"]
                zs = [z(r) for r in t.to_pylist()]
                assert zs == sorted(zs), (version, s, f)
                n_files += 1
        assert len(m["segments"]) == 4 and n_files >= 4

    check(v)
    fresh = [(a, b, -1) for a in range(0, 24, 3) for b in range(0, 24, 5)]
    M.commit_append(
        spark, lake,
        spark.createDataFrame(fresh, "a int, b int, payload long").repartition(3),
    )
    check(M.cluster_incremental(spark, lake))


# ---------------------------------------------------------------------
# Segment schemas from the footers: a fresh version's read schema comes
# from the Spark row schema its writer stored in every data file's
# footer, with no Spark job; anything else falls back to inference.
# ---------------------------------------------------------------------

_RICH = (
    "id int, t string, ver int, ts timestamp, d decimal(12,3), "
    "arr array<int>, m map<string,double>, st struct<a:int,b:string>"
)


def _rich(spark, lo, hi, ver=0):
    import datetime as dt
    from decimal import Decimal

    return spark.createDataFrame(
        [
            (
                i, f"d{i}", ver,
                dt.datetime(2020, 1, 1) + dt.timedelta(hours=i),
                Decimal(i) / 8, [i, None], {"k": float(i)},
                (i % 3, None if i % 2 else f"s{i}"),
            )
            for i in range(lo, hi)
        ],
        _RICH,
    )


def _assert_footer_schemas_match_inference(spark, lake):
    """Each current segment's `_segments_schema` equals Spark's own
    inference, and so does the whole segment set's."""
    paths = [M._seg_path(lake, s) for s in M.resolve_segments(spark, lake)]
    for p in paths:
        assert M._segments_schema(spark, [p]) == spark.read.parquet(p).schema, p
    if M._footer_schema(paths) is not None:
        assert M._segments_schema(spark, paths) == spark.read.parquet(*paths).schema


def test_footer_schema_equals_inference_across_write_ops(spark, tmp_path):
    from nba_pipeline_spark.sources.lake_datasource import register_lake_source

    lake = str(tmp_path / "lake")
    steps = [
        lambda: M.commit_append(spark, lake, _rich(spark, 0, 6), stats_cols=["id"]),
        lambda: M.commit_append_partitioned(
            spark, lake, _rich(spark, 6, 12), "ver"
        ),
        lambda: M.commit_append(
            spark, lake, _rich(spark, 12, 18), partition={"ver": 0},
            stats_cols=["id"], bloom_cols=["t"],
        ),
        lambda: M.cluster(
            spark, lake, ["id", "ver"], target_segments=2, allow_untag=True
        ),
        lambda: M.commit_upsert(spark, lake, _rich(spark, 3, 9, ver=1), ["id"], "ver"),
        lambda: M.commit_upsert_mor(
            spark, lake, _rich(spark, 15, 21, ver=2).withColumn("seq", F.lit(1)),
            ["id"], "seq",
        ),
        lambda: M.commit_delete_dv(
            spark, lake, spark.createDataFrame([(4,), (16,)], "id int"), ["id"]
        ),
    ]
    for step in steps:
        step()
        _assert_footer_schemas_match_inference(spark, lake)
    segs = [M._seg_path(lake, s) for s in M.resolve_segments(spark, lake)]
    assert M._footer_schema(segs) is not None  # every op above is Spark-written

    # type widening: narrow int files beside wide bigint files is a
    # mixed set (the read itself passes the recorded schema instead)
    wide = str(tmp_path / "wide")
    M.commit_append(spark, wide, spark.range(4).selectExpr("cast(id as int) id"))
    M.widen_column_type(spark, wide, "id", "bigint")
    M.commit_append(spark, wide, spark.range(4, 8))
    _assert_footer_schemas_match_inference(spark, wide)
    segs = [M._seg_path(wide, s) for s in M.resolve_segments(spark, wide)]
    assert M._footer_schema(segs) is None

    # the Python datasource writer lands pyarrow-written segments: no
    # Spark row schema in their footers, so inference decides
    register_lake_source(spark)
    ds = str(tmp_path / "ds")
    spark.range(5).selectExpr("id", "cast(id as string) t").write.format(
        "manifest_lake"
    ).option("path", ds).mode("append").save()
    _assert_footer_schemas_match_inference(spark, ds)
    segs = [M._seg_path(ds, s) for s in M.resolve_segments(spark, ds)]
    assert M._footer_schema(segs) is None


def test_footer_schema_falls_back_for_mixed_and_file_less_sets(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).selectExpr("id", "'x' s").write.parquet(a)
    spark.range(3).selectExpr("id", "1.5 s").write.parquet(b)
    assert M._footer_schema([a]) is not None
    assert M._footer_schema([a, b]) is None  # two row schemas: mixed
    # files that differ only in nullability read as one schema
    c = str(tmp_path / "c")
    spark.createDataFrame([(5, "z")], "id bigint, s string").write.parquet(c)
    assert M._footer_schema([a, c]) == spark.read.parquet(a, c).schema
    # a pyarrow file beside Spark files: one file lacks the key
    pq.write_table(pa.table({"id": [7], "s": ["y"]}), f"{a}/part-pyarrow.parquet")
    assert M._footer_schema([a]) is None
    assert M._segments_schema(spark, [a]) == spark.read.parquet(a).schema
    # no data files (only a marker) and a subdir are not settled by footers
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    assert M._footers(str(empty)) == []
    assert M._footer_schema([str(empty)]) is None
    nested = tmp_path / "nested"
    spark.range(2).write.parquet(str(nested / "k=1"))
    assert M._footers(str(nested)) is None


def test_fresh_version_read_issues_no_job(spark, tmp_path):
    """Building `read_snapshot` on a version just committed takes its
    schema from the segment footers: no Spark job runs."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _rich(spark, 0, 5), stats_cols=["id"])
    M.commit_append(spark, lake, _rich(spark, 5, 9))
    before = _jobs(spark)
    df = M.read_snapshot(spark, lake)
    assert _jobs(spark) == before
    assert df.schema == spark.read.parquet(
        *[M._seg_path(lake, s) for s in M.resolve_segments(spark, lake)]
    ).schema
    assert df.count() == 9


# ---------------------------------------------------------------------
# The lake's one encoding: every lake data file is written zstd with
# Parquet 2.0 pages, and the codec is per file, so segments written
# before (snappy, v1 pages) read beside new ones.
# ---------------------------------------------------------------------


def _chunks(files):
    """(file, column, compression, encodings) of every column chunk in
    the footers of `files`."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(files):
        md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            for i in range(md.num_columns):
                c = md.row_group(g).column(i)
                out.append((f, c.path_in_schema, c.compression, c.encodings))
    return out


def _parquet_files(*roots):
    import glob

    return {
        f for r in roots for f in glob.glob(f"{r}/**/*.parquet", recursive=True)
    }


def test_every_lake_writer_lands_zstd_parquet2_files(spark, tmp_path):
    """An append, a keyed partitioned append, a MERGE with a recorded
    change segment, a DV delete and a ``manifest_lake`` DataSource write
    each land files whose every column chunk is zstd; the Spark-written
    unique int64 key takes Parquet 2.0's DELTA_BINARY_PACKED."""
    from nba_pipeline_spark.sources.lake_datasource import register_lake_source

    def batch(lo, hi, ver=0):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id % 3 AS INT) AS p", "concat('s', id) AS s",
            f"{ver} AS ver",
        )

    lake, part = str(tmp_path / "lake"), str(tmp_path / "part")
    register_lake_source(spark)
    writes = {
        "append": lambda: M.commit_append(spark, lake, batch(0, 1000), target_files=1),
        "partitioned": lambda: M.commit_append_partitioned(
            spark, part, batch(0, 300), "p"
        ),
        "upsert_cdf": lambda: M.commit_upsert(
            spark, lake, batch(900, 1100, ver=1), ["k"], "ver", record_cdf=True
        ),
        "delete_dv": lambda: M.commit_delete_dv(
            spark, lake, spark.range(5).selectExpr("id AS k"), ["k"]
        ),
        "datasource": lambda: batch(2000, 2100).write.format("manifest_lake")
        .option("path", lake).mode("append").save(),
    }
    seen: set = set()
    landed = {}
    for name, write in writes.items():
        write()
        now = _parquet_files(lake, part)
        landed[name], seen = now - seen, now
        assert landed[name], f"{name} wrote no file"
    assert any("/cdf/" in f for f in landed["upsert_cdf"])
    chunks = _chunks(seen)
    assert {c for _, _, c, _ in chunks} == {"ZSTD"}, [
        (f, col, c) for f, col, c, _ in chunks if c != "ZSTD"
    ]
    key = [e for f, col, _, e in _chunks(landed["append"]) if col == "k"]
    assert key and all("DELTA_BINARY_PACKED" in e for e in key), key
    assert M.read_snapshot(spark, lake).count() == 1100 - 5 + 100


def test_mixed_codec_lake_reads_merges_compacts_like_snappy(
    spark, tmp_path, monkeypatch
):
    """A lake whose first segment is a snappy file beside zstd segments
    returns the same rows from `read_snapshot`, `commit_upsert` and
    `compact` as a lake written all snappy (the encoding lakes had
    before)."""
    import shutil

    def rows(df):
        return sorted(df.collect(), key=lambda r: r["id"])

    def ops(lake):
        out = [rows(M.read_snapshot(spark, lake))]
        M.commit_upsert(spark, lake, _rich(spark, 3, 9, ver=1), ["id"], "ver")
        out.append(rows(M.read_snapshot(spark, lake)))
        M.compact(spark, lake)
        out.append(rows(M.read_snapshot(spark, lake)))
        return out

    def codecs(lake):
        return {c for _, _, c, _ in _chunks(_parquet_files(lake))}

    old = str(tmp_path / "old")
    with monkeypatch.context() as mp:
        mp.setattr(
            M, "_lake_writer",
            lambda df: df.write.mode("overwrite").option("compression", "snappy"),
        )
        M.commit_append(spark, old, _rich(spark, 0, 6))
        M.commit_append(spark, old, _rich(spark, 6, 12))
        want = ops(old)
    assert codecs(old) == {"SNAPPY"}

    mixed = str(tmp_path / "mixed")
    M.commit_append(spark, mixed, _rich(spark, 0, 6))
    # swap the committed segment's file for a snappy copy of its rows
    seg = M._seg_path(mixed, M.resolve_segments(spark, mixed)[0])
    copy = str(tmp_path / "copy")
    spark.read.parquet(seg).coalesce(1).write.option(
        "compression", "snappy"
    ).parquet(copy)
    for f in os.listdir(seg):
        if ".parquet" in f:
            os.remove(os.path.join(seg, f))
    for f in _parquet_files(copy):
        shutil.move(f, seg)
    M.commit_append(spark, mixed, _rich(spark, 6, 12))
    assert codecs(mixed) == {"SNAPPY", "ZSTD"}
    assert ops(mixed) == want

    # the MERGE takes rows 3..8, version column included, from the
    # change batch
    merged = rows(
        _rich(spark, 0, 3).union(_rich(spark, 3, 9, ver=1))
        .union(_rich(spark, 9, 12))
    )
    assert want == [rows(_rich(spark, 0, 12)), merged, merged]


def _seg_rows(spark, lake, seg):
    df = M._read_segments(spark, lake, [seg], merge_schema=True)
    return df.dtypes, sorted(
        (tuple(r) for r in df.collect()), key=lambda t: [(v is None, v) for v in t]
    )


def test_rewrite_core_matches_per_group_writes(spark, tmp_path):
    """`compact`'s one keyed rewrite pass lands, for every partition
    group, the segment the per-group write (`_write_segments` on the
    group's own tombstoned read) lands: the same rows and column types,
    the same rows/stats/nulls metadata, bit-identical blooms, and at
    most `target_files` files. The seeded lake has a group with some
    rows tombstoned, a group with every row tombstoned (it leaves no
    segment), a widened column with narrow and wide files, and a
    renamed column whose stats and blooms are asked for by its logical
    name."""
    import glob
    import random

    rng = random.Random(16)

    def batch(lo, parts, vtype):
        rows = [
            (
                k,
                rng.choice(parts),
                None if rng.random() < 0.2 else rng.randint(-10**4, 10**4),
                rng.choice(["ab", "c d", None, "é"]),
            )
            for k in range(lo, lo + 300)
        ]
        return rows, spark.createDataFrame(
            rows, f"k long, p int, v {vtype}, w string"
        )

    lake, ref = str(tmp_path / "lake"), str(tmp_path / "ref")
    doomed = []
    for lo in (0, 300):
        rows, df = batch(lo, [0, 1, 2, 3], "int")
        M.commit_append_partitioned(spark, lake, df, "p")
        doomed += [(k,) for k, p, _, _ in rows if p == 3 or (p == 0 and k % 5 == 0)]
    M.commit_delete_mor(spark, lake, spark.createDataFrame(doomed, "k long"), ["k"])
    M.widen_column_type(spark, lake, "v", "bigint")
    M.commit_append_partitioned(spark, lake, batch(600, [0, 1, 2], "bigint")[1], "p")
    M.rename_column(spark, lake, "w", "label")
    base = M._read_manifest(spark, lake, M.current_version(spark, lake))
    groups: dict = {}
    for s in base["segments"]:
        groups.setdefault(base["meta"][s]["part"]["p"], []).append(s)
    want = {}
    for p, segs in groups.items():
        df = M._read_with_tombstones(spark, lake, segs, base, merge_schema=True)
        [(_, seg, m)] = M._write_segments(
            spark, ref, df, target_files=4,
            stats_cols=["k", "v", "w"], bloom_cols=["k", "w"],
        )
        if m["rows"]:
            want[p] = (seg, m)
    assert set(want) == {0, 1, 2}, "group 3 is tombstoned whole"

    v = M.compact(
        spark, lake, target_files=4,
        stats_cols=["k", "v", "label"], bloom_cols=["k", "label"],
    )
    m = M._read_manifest(spark, lake, v)
    got = {m["meta"][s]["part"]["p"]: s for s in m["segments"]}
    assert set(got) == set(want)
    for p, (rseg, rmeta) in want.items():
        seg, meta = got[p], m["meta"][got[p]]
        assert _seg_rows(spark, lake, seg) == _seg_rows(spark, ref, rseg)
        for k in ("rows", "stats", "nulls", "bloom"):
            assert meta[k] == rmeta[k], (p, k)
        assert 1 <= len(glob.glob(f"{lake}/data/{seg}/*.parquet")) <= 4
    assert {"p": 0} == m["meta"][got[0]]["part"] and not m.get("deletes")
    assert "widened" not in m["props"]
    assert M.read_snapshot(spark, lake).count() == sum(
        want[p][1]["rows"] for p in want
    )


@pytest.mark.parametrize("op", ["replace_where", "delete"])
def test_replace_where_rewrite_records_fresh_counts(spark, tmp_path, op):
    """A segment replaceWhere or a copy-on-write delete rewrites keeps
    only its surviving rows, so its recorded row and null counts are
    recomputed (the parent's were carried over) and its NDV sketch is
    dropped: the metadata-only aggregate equals the scan afterwards."""
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.range(0, 10).select(
            F.col("id"), F.when(F.col("id") % 4 == 0, None).otherwise(
                F.col("id") % 3
            ).alias("v"),
        ),
        stats_cols=["id", "v"], ndv_cols=["v"],
    )
    if op == "delete":
        v = M.commit_delete(spark, lake, spark.range(0, 5), ["id"])
    else:
        v = M.commit_replace_where(
            spark, lake, spark.range(0, 0).select(F.col("id"), F.col("id").alias("v")),
            ranges={"id": (0, 4)},
        )
    [seg] = M._read_manifest(spark, lake, v)["segments"]
    meta = M._read_manifest(spark, lake, v)["meta"][seg]
    assert meta["rows"] == 5 and meta["stats"]["id"] == [5, 9]
    assert meta["nulls"] == {"id": 0, "v": 1} and "ndv" not in meta
    agg = M.metadata_agg(spark, lake, count_cols=["v"], allow_scan=False)
    assert agg.collect()[0].asDict() == {"count_rows": 5, "count_v": 4}


def test_maintenance_job_budget_does_not_grow_with_partitions(spark, tmp_path):
    """`compact` and `compact_small` rewrite every partition group in
    one keyed pass: on a two-batch `commit_append_partitioned` lake
    they submit the same number of Spark jobs at 4 and at 16
    partitions (the per-group loops they replace cost two jobs per
    group)."""
    tracker = spark.sparkContext.statusTracker()

    def jobs(op, n_parts):
        lake = str(tmp_path / f"{op.__name__}{n_parts}")
        for lo in (0, 500):
            M.commit_append_partitioned(
                spark, lake,
                spark.range(lo, lo + 500).select(
                    F.col("id"), (F.col("id") % n_parts).alias("p")
                ),
                "p",
            )
        before = set(tracker.getJobIdsForGroup(None))
        if op is M.compact:
            op(spark, lake)
        else:
            op(spark, lake, target_rows=10**6)
        assert len(M.resolve_segments(spark, lake)) == n_parts
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    for op in (M.compact, M.compact_small):
        assert jobs(op, 4) == jobs(op, 16), op.__name__


@pytest.mark.parametrize("op", ["replace_where", "delete", "cluster_incremental"])
def test_scoped_rewrite_job_budget_does_not_grow_with_segments(spark, tmp_path, op):
    """The scoped rewrites land every rewritten segment (every receiving
    z-run) in one keyed pass: rewriting one or four of four segments
    submits the same number of Spark jobs (the per-segment loops they
    replace cost one to four jobs per segment)."""
    tracker = spark.sparkContext.statusTracker()

    def jobs(n):
        lake = str(tmp_path / f"{op}{n}")
        if op == "cluster_incremental":
            base = spark.range(0, 800).select(
                F.col("id"), (F.col("id") % 97).alias("x"), (F.col("id") % 89).alias("y")
            )
            M.commit_append(spark, lake, base)
            M.cluster(spark, lake, ["x", "y"], target_segments=4)
            z = F.lit(0).cast("long") if n == 1 else F.col("id")
            M.commit_append(spark, lake, spark.range(5000, 5100).select(
                F.col("id"), (z % 97).alias("x"), (z % 89).alias("y")
            ))
        for i in range(4 if op != "cluster_incremental" else 0):
            # the first n segments straddle the scope / hold the keys
            ids = (
                spark.range(0, 100).select((F.col("id") * 4 + i).alias("id"))
                if i < n else spark.range(10000 + i * 100, 10100 + i * 100)
            )
            M.commit_append(
                spark, lake, ids.select(F.col("id"), (F.col("id") * 3).alias("v")),
                stats_cols=["id"],
            )
        # rows of segment 0, inside the id range of every straddling one
        keys = spark.range(1, 5).select((F.col("id") * 4).alias("id"))
        before = set(tracker.getJobIdsForGroup(None))
        if op == "replace_where":
            M.commit_replace_where(
                spark, lake,
                spark.range(10, 201).select(F.col("id"), F.lit(-1).cast("long").alias("v")),
                ranges={"id": (10, 200)},
            )
        elif op == "delete":
            M.commit_delete(spark, lake, keys, ["id"])
        else:
            M.cluster_incremental(spark, lake)
        n_jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
        m = M._read_manifest(spark, lake, M.current_version(spark, lake))
        if op == "cluster_incremental":
            runs = {m["meta"][s]["cluster"]["zrun"] for s in m["segments"]}
            assert len(runs) == 4 and len(m["segments"]) == 4
        else:  # each straddling segment rewritten (+ the batch's)
            new = set(m["segments"]) - set(M._read_manifest(spark, lake, 4)["segments"])
            assert len(new) == n + (op == "replace_where")
        return n_jobs

    assert jobs(1) == jobs(4)
