"""Column mapping (Delta column-mapping parity, name mode): RENAME and
DROP columns as metadata-only commits — reads project physical →
logical, appends translate logical → physical, probes and maintenance
ops (clustering, MERGE, deletes, replaceWhere) translate, snapshot_diff
projects both versions through the to-version's schema, and full
rewrites materialize the map."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.sources import manifest as M


def _rows(spark, rows, ddl="k int, v string"):
    return spark.createDataFrame(rows, ddl)


@pytest.fixture()
def lake(spark, tmp_path):
    p = str(tmp_path / "lake")
    M.commit_append(spark, p, _rows(spark, [(1, "a"), (2, "b")]))
    return p


def test_rename_is_metadata_only_and_reads_project(spark, lake):
    segs_before = set(M.resolve_segments(spark, lake))
    M.rename_column(spark, lake, "v", "label")
    assert set(M.resolve_segments(spark, lake)) == segs_before, "no rewrite"
    df = M.read_snapshot(spark, lake)
    assert df.columns == ["k", "label"]
    assert {(r["k"], r["label"]) for r in df.collect()} == {(1, "a"), (2, "b")}
    assert M.table_schema(spark, lake) == [["k", "int"], ["label", "string"]]
    # time travel BEFORE the rename still shows the old name
    old = M.read_snapshot(spark, lake, version=1)
    assert old.columns == ["k", "v"]


def test_append_after_rename_lands_physical_and_reads_merge(spark, lake):
    M.rename_column(spark, lake, "v", "label")
    M.commit_append(
        spark, lake, _rows(spark, [(3, "c")], "k int, label string")
    )
    got = {(r["k"], r["label"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # a second rename composes (new -> ORIGINAL physical, not chained)
    M.rename_column(spark, lake, "label", "tag")
    got = {(r["k"], r["tag"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert m["props"]["colmap"] == {"tag": "v"}
    # renaming BACK to the physical name clears the map entry
    M.rename_column(spark, lake, "tag", "v")
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert "colmap" not in m.get("props", {})


def test_probes_translate_through_the_mapping(spark, tmp_path):
    p = str(tmp_path / "lake")
    M.commit_append(
        spark, p, _rows(spark, [(1, "a")]), partition={"v": "a"},
        stats_cols=["k"], bloom_cols=["k"],
    )
    M.commit_append(
        spark, p, _rows(spark, [(9, "z")]), partition={"v": "z"},
        stats_cols=["k"], bloom_cols=["k"],
    )
    M.rename_column(spark, p, "k", "id")
    M.rename_column(spark, p, "v", "part")
    # probe by the NEW names: partition, range, and bloom all prune
    assert len(M.resolve_segments(spark, p, part_eq={"part": "a"})) == 1
    assert len(M.resolve_segments(spark, p, ranges={"id": (8, 10)})) == 1
    assert len(M.resolve_segments(spark, p, bloom_eq={"id": 9})) == 1
    got = M.read_snapshot(spark, p, part_eq={"part": "a"})
    assert {(r["id"], r["part"]) for r in got.collect()} == {(1, "a")}
    # appends after the rename keep metadata under PHYSICAL keys
    M.commit_append(
        spark, p, _rows(spark, [(5, "m")], "id int, part string"),
        partition={"part": "m"}, bloom_cols=["id"],
    )
    assert len(M.resolve_segments(spark, p, part_eq={"part": "m"})) == 1
    assert len(M.resolve_segments(spark, p, bloom_eq={"id": 5})) <= 2


def test_drop_column_hides_data_and_name_cannot_resurrect(spark, lake):
    M.drop_column(spark, lake, "v")
    df = M.read_snapshot(spark, lake)
    assert df.columns == ["k"]
    # re-adding the dropped name would resurrect old bytes: refused
    with pytest.raises(M.SchemaDrift, match="DROPPED"):
        M.commit_append(spark, lake, _rows(spark, [(3, "zzz")]))
    # a different name is fine, and reads stay clean
    M.commit_append(
        spark, lake, _rows(spark, [(3, "w3")], "k int, w string")
    )
    got = M.read_snapshot(spark, lake, merge_schema=True)
    assert sorted(got.columns) == ["k", "w"]


def test_rename_refused_while_constraint_references(spark, lake):
    M.set_constraint(spark, lake, "v_nonempty", "length(v) > 0")
    with pytest.raises(ValueError, match="constraint"):
        M.rename_column(spark, lake, "v", "label")
    with pytest.raises(ValueError, match="constraint"):
        M.drop_column(spark, lake, "v")
    M.drop_constraint(spark, lake, "v_nonempty")
    M.rename_column(spark, lake, "v", "label")  # now fine


def test_transfer_ops_refuse_and_full_rewrite_materializes(spark, lake):
    # r8: every lake op now works on a mapped lake — clustering /
    # MERGE / deletes translate (dedicated tests below), replace_where
    # translates its dict scope, snapshot_diff projects both versions
    # through the to-version's schema (tested below). Full-rewrite
    # MERGE still MATERIALIZES the mapping:
    M.rename_column(spark, lake, "v", "label")
    ch = spark.createDataFrame([(1, "A", 1)], "k int, label string, ver int")
    M.commit_upsert(spark, lake, ch, ["k"], "ver")
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert "colmap" not in m.get("props", {})
    got = {(r["k"], r["label"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "A"), (2, "b")}
    # mapping gone: previously-gated ops work again
    M.commit_delete(spark, lake, spark.createDataFrame([(2,)], "k int"), ["k"])
    assert {r["k"] for r in M.read_snapshot(spark, lake).collect()} == {1}


def test_compact_preserves_the_mapping(spark, lake):
    M.rename_column(spark, lake, "v", "label")
    M.commit_append(
        spark, lake, _rows(spark, [(3, "c")], "k int, label string")
    )
    M.compact(spark, lake)
    got = {(r["k"], r["label"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    m = M._read_manifest(spark, lake, M.current_version(spark, lake))
    assert m["props"]["colmap"] == {"label": "v"}, "physical passthrough"


def test_stream_emits_logical_names_after_rename(spark, tmp_path):
    from nba_pipeline_spark.sources.lake_stream import register_lake_stream

    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    M.rename_column(spark, lake, "v", "label")
    M.commit_append(
        spark, lake, _rows(spark, [(2, "b")], "k int, label string")
    )
    got: list = []
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", lake)
        .load()
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {(r["k"], r["label"], r["_commit_version"]) for r in got} == {
        (1, "a", 1), (2, "b", 3),
    }


def test_cli_rename_and_drop_column(spark, tmp_path, capsys):
    import json

    from nba_pipeline_spark.__main__ import main

    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    assert main(["lake", "rename-column", lake, "--old", "v", "--new", "label"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["committed_version"] == 2
    assert M.read_snapshot(spark, lake).columns == ["k", "label"]
    assert main(["lake", "drop-column", lake, "--old", "label"]) == 0
    capsys.readouterr()
    assert M.read_snapshot(spark, lake).columns == ["k"]


def test_new_column_may_not_reuse_renamed_away_physical_name(spark, lake):
    # ADVICE r7 (medium): after rename v->label (colmap {label:'v'}),
    # appending a batch with a NEW column named 'v' must refuse — old
    # segments hold label's bytes under physical 'v', and the read
    # projection would select the same physical column for both
    # logical names (silent conflation)
    M.rename_column(spark, lake, "v", "label")
    bad = _rows(spark, [(3, "c", "x")], "k int, label string, v string")
    with pytest.raises(M.SchemaDrift, match="RENAMED AWAY"):
        M.commit_append(spark, lake, bad)
    # the lake is untouched and still reads clean
    got = {(r["k"], r["label"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, "a"), (2, "b")}
    # a full rewrite materializes the mapping; then 'v' is free again
    M.commit_replace(spark, lake, M.read_snapshot(spark, lake))
    M.commit_append(spark, lake, bad)
    assert M.table_schema(spark, lake) == [
        ["k", "int"], ["label", "string"], ["v", "string"]
    ]
    df = M.read_snapshot(spark, lake, merge_schema=True)
    assert set(df.columns) == {"k", "label", "v"}
    by_k = {r["k"]: (r["label"], r["v"]) for r in df.collect()}
    assert by_k[1] == ("a", None) and by_k[3] == ("c", "x")


def test_append_rewrites_segment_when_rename_races_the_commit(spark, lake):
    # ADVICE r7 (low, TOCTOU): a rename_column landing between
    # commit_append's props read and its commit CAS must not strand the
    # segment under stale physical names. The mapping check runs inside
    # the CAS loop and triggers a segment rewrite under the fresh map.
    import nba_pipeline_spark.sources.manifest as man

    orig = man._write_segment
    fired = {"n": 0}

    def hooked(df, path, target_files=None, **kw):
        seg = orig(df, path, target_files, **kw)
        if fired["n"] == 0:
            fired["n"] += 1
            # the race: rename lands AFTER the segment is written but
            # BEFORE the commit validates props
            M.rename_column(spark, lake, "v", "label")
        return seg

    man._write_segment = hooked
    try:
        M.commit_append(spark, lake, _rows(spark, [(3, "c")]))
    finally:
        man._write_segment = orig
    assert fired["n"] == 1
    df = M.read_snapshot(spark, lake)
    assert df.columns == ["k", "label"]
    got = {(r["k"], r["label"]) for r in df.collect()}
    # the appended batch carried logical 'v' = physical 'v' (the
    # pre-rename schema): after the rename its rows must surface under
    # 'label', NOT null-fill
    assert got == {(1, "a"), (2, "b"), (3, "c")}


# ---------------------------------------------------------------------
# r8: clustering / MERGE / deletes on column-mapped lakes (VERDICT r7
# "what's missing" #1) — segments are uniform-physical, so maintenance
# translates logical columns instead of refusing.
# ---------------------------------------------------------------------


def _num_lake(spark, tmp_path, tagged=False):
    p = str(tmp_path / "numlake")
    rows = [(i, i * 10, f"d{i}", i % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "a int, b int, s string, p int")
    if tagged:
        M.commit_append_partitioned(spark, p, df, part_col="p")
    else:
        M.commit_append(spark, p, df)
    return p


def test_cluster_works_on_renamed_lake_and_probes_prune(spark, tmp_path):
    p = _num_lake(spark, tmp_path)
    M.rename_column(spark, p, "a", "key_a")
    M.rename_column(spark, p, "b", "key_b")
    M.cluster(spark, p, ["key_a", "key_b"], target_segments=4, bits_per_col=2)
    # reads stay logical
    df = M.read_snapshot(spark, p)
    assert set(df.columns) == {"key_a", "key_b", "s", "p"}
    assert df.count() == 40
    # a range probe on the RENAMED clustered column prunes segments
    all_segs = M.resolve_segments(spark, p)
    probed = M.resolve_segments(spark, p, ranges={"key_a": (0, 4)})
    assert len(all_segs) > 1 and len(probed) < len(all_segs)
    got = M.read_snapshot(spark, p, ranges={"key_a": (0, 4)}).filter(
        F.col("key_a") <= 4
    )
    assert got.count() == 5
    # incremental clustering folds a post-rename append
    M.commit_append(
        spark, p,
        spark.createDataFrame([(100, 1000, "x", 0)], "key_a int, key_b int, s string, p int"),
    )
    M.cluster_incremental(spark, p)
    assert M.read_snapshot(spark, p).count() == 41


def test_cluster_partitioned_works_on_renamed_lake(spark, tmp_path):
    p = _num_lake(spark, tmp_path, tagged=True)
    M.rename_column(spark, p, "p", "bucket")
    M.rename_column(spark, p, "a", "key_a")
    M.cluster_partitioned(
        spark, p, part_col="bucket", cluster_cols=["key_a"],
        target_segments_per_partition=2, bits_per_col=2,
    )
    # partition pruning by the NEW name still works after maintenance
    segs = M.resolve_segments(spark, p, part_eq={"bucket": 1})
    assert segs and len(segs) < len(M.resolve_segments(spark, p))
    got = M.read_snapshot(spark, p, part_eq={"bucket": 1})
    assert got.count() == 20 and set(r["bucket"] for r in got.collect()) == {1}


def test_partitioned_merge_works_on_renamed_lake(spark, tmp_path):
    p = _num_lake(spark, tmp_path, tagged=True)
    M.rename_column(spark, p, "s", "label")
    before = set(M.resolve_segments(spark, p))
    ch = spark.createDataFrame(
        [(1, 10, "UPDATED", 1, 9), (41, 410, "NEW", 1, 9)],
        "a int, b int, label string, p int, ver int",
    )
    M.commit_upsert_partitioned(spark, p, ch, ["a"], "ver", part_col="p")
    after = set(M.resolve_segments(spark, p))
    # the untouched partition's segment transferred BY NAME
    assert before & after, "expected untouched-segment name transfer"
    got = M.read_snapshot(spark, p)
    assert got.count() == 41
    by_a = {r["a"]: r["label"] for r in got.collect()}
    assert by_a[1] == "UPDATED" and by_a[41] == "NEW" and by_a[2] == "d2"
    # the mapping survives (no silent materialization)
    assert M.read_snapshot(spark, p).columns == ["a", "b", "label", "p"]


def test_pruned_merge_and_deletes_work_on_renamed_lake(spark, tmp_path):
    p = str(tmp_path / "plake")
    M.commit_append(
        spark, p,
        spark.createDataFrame([(i, f"d{i}") for i in range(10)], "k int, v string"),
        stats_cols=["k"],
    )
    M.commit_append(
        spark, p,
        spark.createDataFrame([(i, f"d{i}") for i in range(100, 110)], "k int, v string"),
        stats_cols=["k"],
    )
    M.rename_column(spark, p, "k", "id")
    M.rename_column(spark, p, "v", "label")
    before = set(M.resolve_segments(spark, p))
    ch = spark.createDataFrame([(5, "UP", 1)], "id int, label string, ver int")
    M.commit_upsert_pruned(spark, p, ch, ["id"], "ver", stats_key="id")
    after = set(M.resolve_segments(spark, p))
    assert before & after, "the 100..109 segment must transfer by name"
    by_id = {r["id"]: r["label"] for r in M.read_snapshot(spark, p).collect()}
    assert by_id[5] == "UP" and len(by_id) == 20
    # CoW delete by the renamed key
    M.commit_delete(spark, p, spark.createDataFrame([(103,)], "id int"), ["id"], stats_key="id")
    assert M.read_snapshot(spark, p).count() == 19
    # MoR delete: tombstone translates to physical, read applies it,
    # compact materializes it
    M.commit_delete_mor(spark, p, spark.createDataFrame([(104,)], "id int"), ["id"])
    assert M.read_snapshot(spark, p).count() == 18
    M.compact(spark, p)
    assert M.read_snapshot(spark, p).count() == 18
    assert M.read_snapshot(spark, p).columns == ["id", "label"]


def test_replace_where_translates_scope_on_mapped_lake(spark, tmp_path):
    p = str(tmp_path / "rwlake")
    rows = [(d, i, f"v{d}-{i}") for d in (1, 2) for i in range(3)]
    df = spark.createDataFrame(rows, "day int, id int, v string")
    for d in (1, 2):
        M.commit_append(
            spark, p, df.filter(F.col("day") == d), partition={"day": d}
        )
    M.rename_column(spark, p, "day", "event_day")
    M.rename_column(spark, p, "v", "label")
    before = set(M.resolve_segments(spark, p))
    repl = spark.createDataFrame(
        [(1, 99, "RESTATED")], "event_day int, id int, label string"
    )
    M.commit_replace_where(spark, p, repl, eq={"event_day": 1})
    after = set(M.resolve_segments(spark, p))
    assert before & after, "disjoint day=2 segment must transfer by name"
    got = M.read_snapshot(spark, p)
    assert got.columns == ["event_day", "id", "label"]
    day1 = [(r["id"], r["label"]) for r in got.filter("event_day = 1").collect()]
    assert day1 == [(99, "RESTATED")]
    assert got.filter("event_day = 2").count() == 3
    # an out-of-scope batch still raises, judged on LOGICAL names
    with pytest.raises(ValueError, match="outside the scope"):
        M.commit_replace_where(
            spark, p,
            spark.createDataFrame([(2, 1, "x")], "event_day int, id int, label string"),
            eq={"event_day": 1},
        )


def test_snapshot_diff_projects_both_versions_through_rename(spark, lake):
    # v1: (1,a),(2,b). rename v->label. v3: upsert-free append path —
    # use delete + append to create changes across the rename.
    M.rename_column(spark, lake, "v", "label")
    M.commit_append(spark, lake, _rows(spark, [(3, "c")], "k int, label string"))
    diff = M.snapshot_diff(spark, lake, 1, 3, ["k"]).collect()
    ops = {(r["k"], r["op"]) for r in diff}
    assert ops == {(3, "insert")}, ops  # rows 1/2 UNCHANGED across the rename
    # a genuine value change across the rename surfaces as update
    M.commit_delete(spark, lake, spark.createDataFrame([(2,)], "k int"), ["k"])
    M.commit_append(spark, lake, _rows(spark, [(2, "B2")], "k int, label string"))
    diff2 = M.snapshot_diff(spark, lake, 1, 5, ["k"], include_values=True).collect()
    got = {(r["k"], r["op"]) for r in diff2}
    assert got == {(3, "insert"), (2, "update")}, got
    upd = [r for r in diff2 if r["k"] == 2][0]
    assert upd["old"]["label"] == "b" and upd["new"]["label"] == "B2"


def test_feed_bridges_renames_and_stale_zspec_raises(spark, tmp_path):
    # (a) the CDC feed crosses a rename commit cleanly: the rename
    # itself produces ZERO change rows (physical identity bridges it),
    # and later changes attribute under the new logical names
    p = str(tmp_path / "feedlake")
    M.commit_append(spark, p, _rows(spark, [(1, "a"), (2, "b")]))   # v1
    M.rename_column(spark, p, "v", "label")                         # v2
    M.commit_append(spark, p, _rows(spark, [(3, "c")], "k int, label string"))  # v3
    feed = M.read_feed(spark, p, ["k"], v_from=1).collect()
    got = {(r["k"], r["op"], r["version"]) for r in feed}
    assert got == {(3, "insert", 3)}, got
    # (b) a stale z-order spec after mapping materialization raises the
    # real diagnosis instead of an opaque missing-column error
    q = str(tmp_path / "zlake")
    M.commit_append(
        spark, q,
        spark.createDataFrame([(i, i * 2) for i in range(20)], "a int, b int"),
    )
    M.cluster(spark, q, ["a"], target_segments=2, bits_per_col=2)
    M.rename_column(spark, q, "a", "key_a")
    # full-rewrite MERGE materializes the mapping -> physical 'a' gone
    ch = spark.createDataFrame([(1, 99, 1)], "key_a int, b int, ver int")
    M.commit_upsert(spark, q, ch, ["key_a"], "ver")
    M.commit_append(
        spark, q, spark.createDataFrame([(100, 0)], "key_a int, b int")
    )
    with pytest.raises(ValueError, match="re-run cluster"):
        M.cluster_incremental(spark, q)
    # re-clustering on the new names restores maintenance
    M.cluster(spark, q, ["key_a"], target_segments=2, bits_per_col=2)
    M.commit_append(
        spark, q, spark.createDataFrame([(101, 0)], "key_a int, b int")
    )
    M.cluster_incremental(spark, q)
    assert M.read_snapshot(spark, q).count() == 22


def test_feed_bridges_key_rename_and_materialization(spark, tmp_path):
    """The batch feed's schema bridge (r11 `_identity_chain` +
    `_feed_step`): a KEY renamed mid-history — previously a raw
    unresolved-column AnalysisException — and a value rename FOLLOWED
    by a colmap-materializing full MERGE (physicals rehome to
    logicals) both translate through the column-identity chain; every
    step emits under the CURRENT logical names, and the recorded
    change segment of the final MERGE still serves its step."""
    p = str(tmp_path / "feedlake")
    M.commit_append(spark, p, _rows(spark, [(1, "a"), (2, "b")]))     # v1
    M.commit_append(spark, p, _rows(spark, [(3, "c")]))               # v2
    M.rename_column(spark, p, "k", "id")                              # v3
    M.commit_append(
        spark, p, spark.createDataFrame([(4, "d")], "id int, v string")
    )                                                                 # v4
    got = {
        (r["id"], r["op"], int(r["version"]))
        for r in M.read_feed(spark, p, ["id"], 0).collect()
    }
    assert got == {
        (1, "insert", 1), (2, "insert", 1), (3, "insert", 2),
        (4, "insert", 4),
    }
    M.rename_column(spark, p, "v", "label")                           # v5
    M.commit_upsert(                                                  # v6
        spark, p,
        spark.createDataFrame([(1, "A2", 1)], "id int, label string, ver int"),
        ["id"], "ver", record_cdf=True,
    )
    rows = M.read_feed(spark, p, ["id"], 0, include_values=True).collect()
    got2 = {
        (r["id"], r["op"], int(r["version"]),
         r["old"]["label"] if r["old"] else None,
         r["new"]["label"] if r["new"] else None)
        for r in rows
    }
    assert got2 == {
        (1, "insert", 1, None, "a"),
        (2, "insert", 1, None, "b"),
        (3, "insert", 2, None, "c"),
        (4, "insert", 4, None, "d"),
        (1, "update", 6, "a", "A2"),
    }
    # a key that didn't exist at early versions raises the diagnosis
    M.commit_append(
        spark, p,
        spark.createDataFrame(
            [(9, "z", "m")], "id int, label string, memo string"
        ),
    )                                                                 # v7
    with pytest.raises(ValueError, match="does not exist at version"):
        M.read_feed(spark, p, ["memo"], 0).collect()
