"""spark.readStream.format("manifest_cdf"): the streaming change data
feed (Delta readChangeFeed parity) — stream==batch against per-version
snapshot_diff over MERGE / CoW delete / MoR tombstone / replaceWhere /
restore / compaction histories, sharding invariance, checkpoint
restart, and the NULL-key contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.sources import manifest as M
from nba_pipeline_spark.sources.cdf_stream import register_cdf_stream


def _rows(spark, rows):
    return spark.createDataFrame(rows, "k int, grp string, v bigint")


def _run(spark, lake, ckpt, out: list, **opts):
    reader = (
        spark.readStream.format("manifest_cdf")
        .option("path", lake)
        .option("keys", "k")
    )
    for kk, val in opts.items():
        reader = reader.option(kk, val)
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _flat(rows):
    """(k, op, old.grp, old.v, new.grp, new.v, version) set."""
    out = set()
    for r in rows:
        old = (r["old"]["grp"], r["old"]["v"]) if r["old"] is not None else (None, None)
        new = (r["new"]["grp"], r["new"]["v"]) if r["new"] is not None else (None, None)
        out.add((r["k"], r["op"], *old, *new, r["_commit_version"]))
    return out


def _batch_feed(spark, lake, v_from, v_to):
    """The batch truth: read_feed's per-version valued diffs (which
    follows the manifest parent chain — so WAP-skipped numbering
    compares exactly like the stream's)."""
    out = set()
    rows = M.read_feed(
        spark, lake, ["k"], v_from, v_to, include_values=True
    ).collect()
    for r in rows:
        old = (r["old"]["grp"], r["old"]["v"]) if r["old"] is not None else (None, None)
        new = (r["new"]["grp"], r["new"]["v"]) if r["new"] is not None else (None, None)
        out.add((r["k"], r["op"], *old, *new, int(r["version"])))
    return out


def _history(spark, lake):
    """v1 append, v2 append, v3 MERGE (update k=2's group, insert k=5),
    v4 CoW delete k=1, v5 MoR tombstone k=3, v6 replaceWhere grp=c,
    v7 compact (visibility no-op), v8 append."""
    M.commit_append(spark, lake, _rows(spark, [(1, "a", 10), (2, "a", 20)]))
    M.commit_append(spark, lake, _rows(spark, [(3, "b", 30), (4, "c", 40)]))
    M.commit_upsert(
        spark, lake,
        spark.createDataFrame(
            [(2, "b", 21, 1), (5, "c", 50, 1)],
            "k int, grp string, v bigint, ver int",
        ),
        ["k"], "ver",
    )
    M.commit_delete(spark, lake, spark.createDataFrame([(1,)], "k int"), ["k"])
    M.commit_delete_mor(
        spark, lake, spark.createDataFrame([(3,)], "k int"), ["k"]
    )
    M.compact(spark, lake, target_files=1)  # folds the tombstone
    M.commit_replace_where(
        spark, lake, _rows(spark, [(6, "c", 60)]), eq={"grp": "c"}
    )
    M.commit_append(spark, lake, _rows(spark, [(7, "d", 70)]))


def test_cdf_stream_equals_batch_feed(spark, tmp_path):
    register_cdf_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    _history(spark, lake)
    v_to = M.current_version(spark, lake)
    got: list = []
    _run(spark, lake, ckpt, got)
    want = _batch_feed(spark, lake, 0, v_to)
    assert _flat(got) == want
    # the compact version emitted nothing (dataChange=false parity)
    compact_v = [
        v for v in range(1, v_to + 1)
        if M._read_manifest(spark, lake, v).get("op") == "compact"
    ]
    assert compact_v and all(
        r["_commit_version"] not in compact_v for r in got
    )
    # restart from the checkpoint: only NEW commits arrive
    M.commit_upsert(
        spark, lake,
        spark.createDataFrame(
            [(7, "e", 71, 2)], "k int, grp string, v bigint, ver int"
        ),
        ["k"], "ver",
    )
    got2: list = []
    _run(spark, lake, ckpt, got2)
    assert _flat(got2) == _batch_feed(spark, lake, v_to, v_to + 1)
    assert {r["op"] for r in got2} == {"update"}


def test_cdf_stream_sharding_invariant(spark, tmp_path):
    """cdf_shards=3 must emit exactly the same rows as the default
    single-shard plan (hash-partitioned join, not sampling)."""
    register_cdf_stream(spark)
    lake = str(tmp_path / "lake")
    _history(spark, lake)
    one: list = []
    three: list = []
    _run(spark, lake, str(tmp_path / "c1"), one)
    _run(spark, lake, str(tmp_path / "c3"), three, cdf_shards="3")
    assert _flat(one) == _flat(three) and len(one) == len(three)


def test_cdf_stream_starting_version_and_restore(spark, tmp_path):
    register_cdf_stream(spark)
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _rows(spark, [(1, "a", 10)]))
    M.commit_append(spark, lake, _rows(spark, [(2, "b", 20)]))
    M.restore(spark, lake, 1)  # rows of v2 disappear again
    got: list = []
    _run(spark, lake, str(tmp_path / "ck"), got, starting_version="2")
    assert _flat(got) == _batch_feed(spark, lake, 1, 3)
    ops = {(r["k"], r["op"], r["_commit_version"]) for r in got}
    assert ops == {(2, "insert", 2), (2, "delete", 3)}


def test_cdf_stream_null_key_raises(spark, tmp_path):
    register_cdf_stream(spark)
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _rows(spark, [(1, "a", 10), (None, "x", 0)]))
    M.commit_replace(spark, lake, _rows(spark, [(1, "z", 11)]))
    with pytest.raises(Exception, match="NULL key"):
        got: list = []
        _run(spark, lake, str(tmp_path / "ck"), got)


def test_cdf_matview_sink_stream_equals_recompute(spark, tmp_path):
    """manifest_cdf → cdf_matview_sink end-to-end: the streamed MV
    equals a from-scratch groupBy of the source's final snapshot after
    every drain, across MERGE / delete / replaceWhere commits, and a
    fresh-checkpoint replay changes nothing (cdfmv batch tag)."""
    from nba_pipeline_spark.streaming.sinks import cdf_matview_sink

    lake, mv = str(tmp_path / "lake"), str(tmp_path / "mv")
    register_cdf_stream(spark)
    _history(spark, lake)

    def drain(ckpt):
        q = cdf_matview_sink(
            spark.readStream.format("manifest_cdf")
            .option("path", lake).option("keys", "k").load(),
            mv, ["grp"], ["v"], str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    def recompute():
        return {
            (r["grp"], r["cnt"], r["sum_v"])
            for r in M.read_snapshot(spark, lake).groupBy("grp").agg(
                F.count("*").alias("cnt"), F.sum("v").alias("sum_v")
            ).collect()
        }

    def mv_rows():
        from nba_pipeline_spark.operators.matview import read_matview

        return {
            (r["grp"], r["cnt"], r["sum_v"])
            for r in read_matview(spark, mv).collect()
        }

    drain("ck")
    assert mv_rows() == recompute()
    # advance with another MERGE and drain the same checkpoint
    M.commit_upsert(
        spark, lake,
        spark.createDataFrame(
            [(7, "a", 700, 3), (8, "d", 80, 3)],
            "k int, grp string, v bigint, ver int",
        ),
        ["k"], "ver",
    )
    drain("ck")
    assert mv_rows() == recompute()
    # fresh checkpoint: everything redelivers as batch 0 — tag-skipped
    mv_v = M.current_version(spark, mv)
    drain("ck2")
    assert M.current_version(spark, mv) == mv_v
    assert mv_rows() == recompute()


def test_cdf_stream_starting_timestamp(spark, tmp_path):
    register_cdf_stream(spark)
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _rows(spark, [(1, "a", 10)]))
    import math

    # one ulp past v1's ts: epoch-second doubles have ~2.4e-7 ulps, so
    # a fixed epsilon below that silently rounds away
    cut = math.nextafter(float(M._read_manifest(spark, lake, 1)["ts"]),
                         math.inf)
    M.commit_replace(spark, lake, _rows(spark, [(1, "z", 11), (2, "b", 20)]))
    got: list = []
    _run(spark, lake, str(tmp_path / "ck"), got,
         starting_timestamp=str(cut))
    # only the replace (v2) is at-or-after the cut: update + insert
    assert {(r["k"], r["op"], r["_commit_version"]) for r in got} == {
        (1, "update", 2), (2, "insert", 2),
    }


def test_cdf_stream_randomized_histories_match_batch(spark, tmp_path):
    """Seeded random commit sequences (append / MERGE with moves and
    inserts / CoW delete / MoR tombstone / replaceWhere / compact /
    replace): the streamed feed must equal per-version valued
    snapshot_diff for every version — the differential that pins the
    candidate-segment bounding logic (removed/added/tombstone-affected
    carried) against the JVM-side truth."""
    import random

    register_cdf_stream(spark)
    rng = random.Random(1007)
    for trial in range(3):
        lake = str(tmp_path / f"lake{trial}")
        ckpt = str(tmp_path / f"ck{trial}")
        live = {}
        nxt = [0]

        def fresh_rows(n):
            out = []
            for _ in range(n):
                k = nxt[0]
                nxt[0] += 1
                out.append((k, rng.choice("abc"), rng.randrange(100)))
            return out

        M.commit_append(spark, lake, _rows(spark, fresh_rows(6)))
        for r in M.read_snapshot(spark, lake).collect():
            live[r["k"]] = True
        for _step in range(9):
            op = rng.choice(
                ["append", "merge", "delete", "delete_mor", "delete_dv",
                 "replace_where", "compact", "restore", "wap"]
            )
            keys = sorted(live)
            # ops legitimately refuse some states (e.g. CoW/MERGE over
            # pending MoR tombstones) — a refused step is a skipped
            # step, the key bookkeeping below only runs on success
            try:
                if op == "append":
                    M.commit_append(spark, lake, _rows(spark, fresh_rows(3)))
                    for k in range(nxt[0] - 3, nxt[0]):
                        live[k] = True
                elif op == "merge" and keys:
                    upd = rng.sample(keys, min(2, len(keys)))
                    rows = [
                        (k, rng.choice("abc"), rng.randrange(100), 1)
                        for k in upd
                    ] + [
                        (k, g, v, 1) for k, g, v in fresh_rows(2)
                    ]
                    M.commit_upsert(
                        spark, lake,
                        spark.createDataFrame(
                            rows, "k int, grp string, v bigint, ver int"
                        ),
                        ["k"], "ver",
                        # randomly record the delta at write time: the
                        # stream must be indistinguishable across the
                        # recorded and computed paths
                        record_cdf=rng.random() < 0.5,
                    )
                    for k in range(nxt[0] - 2, nxt[0]):
                        live[k] = True
                elif op in ("delete", "delete_mor", "delete_dv") and len(keys) > 2:
                    victims = rng.sample(keys, 2)
                    df = spark.createDataFrame(
                        [(k,) for k in victims], "k int"
                    )
                    if op == "delete":
                        M.commit_delete(
                            spark, lake, df, ["k"],
                            record_cdf=rng.random() < 0.5,
                        )
                    elif op == "delete_dv":
                        M.commit_delete_dv(
                            spark, lake, df, ["k"],
                            record_cdf=rng.random() < 0.5,
                        )
                    else:
                        M.commit_delete_mor(
                            spark, lake, df, ["k"],
                            record_cdf=rng.random() < 0.5,
                        )
                    for k in victims:
                        live.pop(k, None)
                elif op == "replace_where":
                    grp = rng.choice("abc")
                    stale = {
                        r["k"] for r in M.read_snapshot(spark, lake)
                        .filter(F.col("grp") == grp).collect()
                    }
                    rows = [(k, grp, v) for k, g, v in fresh_rows(2)]
                    rec = rng.random() < 0.5
                    M.commit_replace_where(
                        spark, lake, _rows(spark, rows), eq={"grp": grp},
                        record_cdf=rec, cdf_keys=["k"] if rec else None,
                    )
                    for k in stale:
                        live.pop(k, None)
                    for k, _g, _v in rows:
                        live[k] = True
                elif op == "restore":
                    vs = [
                        v for v in M._manifest_versions(spark, lake)
                        if v < M.current_version(spark, lake)
                    ]
                    if not vs:
                        continue
                    rec = rng.random() < 0.5
                    M.restore(
                        spark, lake, version=rng.choice(vs[-3:]),
                        record_cdf=rec, cdf_keys=["k"] if rec else None,
                    )
                    live.clear()
                    for r in M.read_snapshot(spark, lake).collect():
                        live[r["k"]] = True
                elif op == "wap":
                    name = f"w{_step}"
                    M.create_branch(spark, lake, name)
                    bp = M.branch_path(lake, name)
                    M.commit_append(spark, bp, _rows(spark, fresh_rows(2)))
                    M.commit_append(spark, bp, _rows(spark, fresh_rows(2)))
                    M.publish_branch(spark, lake, name)  # version SKIPS
                    for k in range(nxt[0] - 4, nxt[0]):
                        live[k] = True
                else:
                    M.compact(spark, lake, target_files=1)
            except (ValueError, RuntimeError):
                continue
        v_to = M.current_version(spark, lake)
        got: list = []
        _run(spark, lake, ckpt, got)
        assert _flat(got) == _batch_feed(spark, lake, 0, v_to), (
            f"trial {trial} diverged"
        )


def test_cdf_stream_serves_recorded_change_segments(spark, tmp_path):
    """A MERGE committed with record_cdf=True streams from its
    recorded change segment: the planner emits 'rec' partitions (no
    candidate reads, no join) and the rows equal the computed path's
    on an identical unrecorded twin history."""
    from nba_pipeline_spark.sources.cdf_stream import ManifestCDFStreamReader

    register_cdf_stream(spark)

    def history(lake, record):
        M.commit_append(spark, lake, _rows(spark, [(1, "a", 10), (2, "a", 20)]))
        M.commit_upsert(
            spark, lake,
            spark.createDataFrame(
                [(2, "b", 21, 1), (3, "c", 30, 1)],
                "k int, grp string, v bigint, ver int",
            ),
            ["k"], "ver", record_cdf=record,
        )

    rec_lake = str(tmp_path / "rec")
    cmp_lake = str(tmp_path / "cmp")
    history(rec_lake, True)
    history(cmp_lake, False)
    # planner: version 2 of the recorded lake plans 'rec' partitions
    rdr = ManifestCDFStreamReader({"path": rec_lake, "keys": "k"})
    kinds = {p.value[0] for p in rdr._plan_version(2)}
    assert kinds == {"rec"}
    rdr2 = ManifestCDFStreamReader({"path": cmp_lake, "keys": "k"})
    kinds2 = {p.value[0] for p in rdr2._plan_version(2)}
    assert kinds2 == {"diff"}
    got_rec: list = []
    got_cmp: list = []
    _run(spark, rec_lake, str(tmp_path / "ck1"), got_rec)
    _run(spark, cmp_lake, str(tmp_path / "ck2"), got_cmp)
    assert _flat(got_rec) == _flat(got_cmp)
    assert {(r["k"], r["op"]) for r in got_rec if r["_commit_version"] == 2} \
        == {(2, "update"), (3, "insert")}


def test_cdf_stream_serves_recorded_segments_all_write_paths(spark, tmp_path):
    """Every change-making commit type records its delta (VERDICT r10
    #1): pruned MERGE, MoR delete, replaceWhere, and restore committed
    with record_cdf=True all plan 'rec' partitions, and the stream
    equals the computed twin (identical history, no recording)."""
    from nba_pipeline_spark.sources.cdf_stream import ManifestCDFStreamReader

    register_cdf_stream(spark)

    def history(lake, rec):
        M.commit_append(
            spark, lake,
            _rows(spark, [(1, "a", 10), (2, "a", 20)]),
            stats_cols=["k"],
        )
        M.set_unique_key(spark, lake, ["k"])          # v2 (metadata)
        M.commit_upsert_pruned(                        # v3
            spark, lake,
            spark.createDataFrame(
                [(2, "b", 21, 1), (3, "c", 30, 1)],
                "k int, grp string, v bigint, ver int",
            ),
            ["k"], "ver", record_cdf=rec,
        )
        M.commit_delete_mor(                           # v4
            spark, lake, spark.createDataFrame([(1,)], "k int"), ["k"],
            record_cdf=rec,
        )
        M.compact(spark, lake, target_files=1)         # v5 (dataChange=false)
        M.commit_replace_where(                        # v6
            spark, lake,
            spark.createDataFrame(
                [(3, "c", 31), (6, "c", 60)], "k int, grp string, v bigint"
            ),
            eq={"grp": "c"}, record_cdf=rec, cdf_keys=["k"],
        )
        M.restore(spark, lake, version=3, record_cdf=rec, cdf_keys=["k"])  # v7

    rec_lake, cmp_lake = str(tmp_path / "rec"), str(tmp_path / "cmp")
    history(rec_lake, True)
    history(cmp_lake, False)
    rdr = ManifestCDFStreamReader({"path": rec_lake, "keys": "k"})
    for v in (3, 4, 6, 7):
        assert {p.value[0] for p in rdr._plan_version(v)} == {"rec"}, v
    got_rec: list = []
    got_cmp: list = []
    _run(spark, rec_lake, str(tmp_path / "ck1"), got_rec)
    _run(spark, cmp_lake, str(tmp_path / "ck2"), got_cmp)
    assert _flat(got_rec) == _flat(got_cmp)
    # spot truths: MoR delete recorded k=1 with values; restore
    # retracted the replaceWhere (3 back to 30, 6 gone)
    by_v = {(r["k"], r["op"], r["_commit_version"]) for r in got_rec}
    assert (1, "delete", 4) in by_v
    assert (3, "update", 7) in by_v and (6, "delete", 7) in by_v


def test_cdf_stream_survives_skipped_version_numbers(spark, tmp_path):
    """WAP/branch publish skips version numbers (min_version) — the
    stream must plan the versions that EXIST, not a dense range
    (ADVICE r10 #1: a dense probe of a skipped number wedged the
    stream with a spurious _RetentionGap)."""
    lake = str(tmp_path / "lake")
    register_cdf_stream(spark)
    M.commit_append(spark, lake, _rows(spark, [(1, "a", 10)]))      # v1
    M.create_branch(spark, lake, "wap")
    bpath = M.branch_path(lake, "wap")
    M.commit_append(spark, bpath, _rows(spark, [(2, "b", 20)]))     # b v2
    M.commit_append(spark, bpath, _rows(spark, [(3, "b", 30)]))     # b v3
    M.publish_branch(spark, lake, "wap")                            # main v3!
    vs = M.list_versions(spark, lake) if hasattr(M, "list_versions") else None
    from nba_pipeline_spark.sources.manifest_store import versions

    assert versions(lake) == [1, 3], versions(lake)  # 2 skipped
    got: list = []
    _run(spark, lake, str(tmp_path / "ck"), got)
    assert _flat(got) == {
        (1, "insert", None, None, "a", 10, 1),
        (2, "insert", None, None, "b", 20, 3),
        (3, "insert", None, None, "b", 30, 3),
    }
    # the batch twin diffs parent-chain, not dense range
    d = M.snapshot_diff(spark, lake, 1, 3, ["k"])
    assert {(r["k"], r["op"]) for r in d.collect()} == {
        (2, "insert"), (3, "insert")
    }


def test_cdf_stream_starting_version_zero(spark, tmp_path):
    """starting_version=0 means 'from the beginning' (Delta parity) —
    it must not plan a nonexistent version 0 (ADVICE r10 #3)."""
    lake = str(tmp_path / "lake")
    register_cdf_stream(spark)
    M.commit_append(spark, lake, _rows(spark, [(1, "a", 10)]))
    got: list = []
    _run(spark, lake, str(tmp_path / "ck"), got, starting_version="0")
    assert _flat(got) == {(1, "insert", None, None, "a", 10, 1)}


def test_cdf_stream_null_key_refused_on_pure_append(spark, tmp_path):
    """The NULL-key contract holds on the INSERT fast path too
    (ADVICE r10 #2: pure-append versions streamed NULL keys silently)."""
    lake = str(tmp_path / "lake")
    register_cdf_stream(spark)
    M.commit_append(spark, lake, _rows(spark, [(None, "a", 10)]))
    got: list = []
    with pytest.raises(Exception, match="NULL key"):
        _run(spark, lake, str(tmp_path / "ck"), got)


def test_cdf_stream_carries_array_columns(spark, tmp_path):
    """array<> value columns flow through the feed (r11 — the
    embeddings-lake shape the CDF-fed ANN maintenance consumes): the
    index-payload join + per-candidate equality classify vector
    re-embeds as updates, byte-identical vectors as nothing."""
    lake = str(tmp_path / "lake")
    register_cdf_stream(spark)
    sch = "vec_id long, embedding array<double>"
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0, 6.0])], sch
        ),
    )
    M.commit_upsert(
        spark, lake,
        spark.createDataFrame(
            [(2, [3.5, 4.5], 1), (3, [5.0, 6.0], 1), (4, [7.0, 8.0], 1)],
            sch + ", ver int",
        ),
        ["vec_id"], "ver",
    )
    M.commit_delete(
        spark, lake, spark.createDataFrame([(1,)], "vec_id long"), ["vec_id"]
    )
    out: list = []
    q = (
        spark.readStream.format("manifest_cdf")
        .option("path", lake).option("keys", "vec_id")
        .load()
        .writeStream.foreachBatch(lambda df, _b: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["vec_id"], r["op"], r["_commit_version"],
         tuple(r["old"]["embedding"]) if r["old"] is not None else None,
         tuple(r["new"]["embedding"]) if r["new"] is not None else None)
        for r in out
    }
    assert got == {
        (1, "insert", 1, None, (1.0, 2.0)),
        (2, "insert", 1, None, (3.0, 4.0)),
        (3, "insert", 1, None, (5.0, 6.0)),
        (2, "update", 2, (3.0, 4.0), (3.5, 4.5)),
        (4, "insert", 2, None, (7.0, 8.0)),
        (1, "delete", 3, (1.0, 2.0), None),
    }


def test_cdf_stream_recorded_bridges_rename_and_widen(spark, tmp_path):
    """Recorded-CDF schema bridge (VERDICT r10 #5): a recording
    committed BEFORE a rename / type widening / added column still
    plans 'rec' partitions (physical identity maps names; narrow
    recorded types cast up; added columns null-fill), and the stream
    emits CURRENT logical names — equal to the computed twin."""
    from nba_pipeline_spark.sources.cdf_stream import ManifestCDFStreamReader

    register_cdf_stream(spark)

    def history(lake, rec):
        M.commit_append(
            spark, lake,
            spark.createDataFrame(
                [(1, "a", 10), (2, "a", 20)], "k int, grp string, v int"
            ),
        )
        M.commit_upsert(                       # v2: RECORDED pre-evolution
            spark, lake,
            spark.createDataFrame(
                [(2, "b", 21, 1), (3, "c", 30, 1)],
                "k int, grp string, v int, ver int",
            ),
            ["k"], "ver", record_cdf=rec,
        )
        M.rename_column(spark, lake, "grp", "segment")     # v3
        M.widen_column_type(spark, lake, "v", "bigint")    # v4
        M.commit_append(                                   # v5: adds `note`
            spark, lake,
            spark.createDataFrame(
                [(9, "z", 90, "memo")],
                "k int, segment string, v bigint, note string",
            ),
        )

    rec_lake, cmp_lake = str(tmp_path / "rec"), str(tmp_path / "cmp")
    history(rec_lake, True)
    history(cmp_lake, False)
    # the PINNED (latest) schema sees segment/bigint/note — the v2
    # recording must still plan verbatim through the bridge
    rdr = ManifestCDFStreamReader({"path": rec_lake, "keys": "k"})
    parts = rdr._plan_version(2)
    assert {p.value[0] for p in parts} == {"rec"}
    assert not parts[0].value[6]  # bridged, not identity
    got_rec: list = []
    got_cmp: list = []
    _run(spark, rec_lake, str(tmp_path / "ck1"), got_rec)
    _run(spark, cmp_lake, str(tmp_path / "ck2"), got_cmp)

    def flat2(rows):
        out = set()
        for r in rows:
            old = (
                (r["old"]["segment"], r["old"]["v"], r["old"]["note"])
                if r["old"] is not None else None
            )
            new = (
                (r["new"]["segment"], r["new"]["v"], r["new"]["note"])
                if r["new"] is not None else None
            )
            out.add((r["k"], r["op"], old, new, r["_commit_version"]))
        return out

    assert flat2(got_rec) == flat2(got_cmp)
    assert (2, "update", ("a", 20, None), ("b", 21, None), 2) in flat2(got_rec)
    # an identity recording (post-evolution) still takes the fast path
    M.commit_upsert(
        spark, rec_lake,
        spark.createDataFrame(
            [(4, "d", 40, "x", 1)],
            "k int, segment string, v bigint, note string, ver int",
        ),
        ["k"], "ver", record_cdf=True,
    )
    v = M.current_version(spark, rec_lake)
    rdr2 = ManifestCDFStreamReader({"path": rec_lake, "keys": "k"})
    parts2 = rdr2._plan_version(v)
    assert {p.value[0] for p in parts2} == {"rec"}
    assert parts2[0].value[6] is True  # identity: verbatim emit


def test_cdf_stream_vacuumed_window_raises(spark, tmp_path):
    """ADVICE r11 #2 (stream side): planning a batch whose range
    crosses a vacuumed window must raise _RetentionGap even when the
    first SURVIVING version carries a recorded cdf segment (the rec
    fast path never probes the parent, so without the guard the
    vacuumed window's changes would be silently skipped)."""
    from nba_pipeline_spark.sources.cdf_stream import ManifestCDFStreamReader
    from nba_pipeline_spark.sources.lake_stream import _RetentionGap

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(1, "a", 10)], "k int, grp string, v bigint"),
    )
    for ver, g in ((1, "b"), (2, "c")):
        M.commit_upsert(
            spark, lake,
            spark.createDataFrame(
                [(1, g, 10 + ver, ver)], "k int, grp string, v bigint, ver int"
            ),
            ["k"], "ver", record_cdf=True,
        )
    M.vacuum(spark, lake, keep_versions=1)  # only v3's manifest survives
    rdr = ManifestCDFStreamReader({"path": lake, "keys": "k"})
    # checkpoint at 1: (1, 3] crosses the vacuumed v2 window
    with pytest.raises(_RetentionGap):
        rdr.partitions({"version": 1}, {"version": 3})
    # continuity: checkpoint at 2 (== v3's parent) plans the recorded
    # step fine even though v2's manifest is gone
    parts = rdr.partitions({"version": 2}, {"version": 3})
    assert {p.value[0] for p in parts} == {"rec"}


def test_query_runs_from_any_cwd(tmp_path):
    """A driver that found the package only through its own sys.path
    (cwd elsewhere, no PYTHONPATH) still runs a Python DataSource
    query: registration puts the package's parent dir on the workers'
    PYTHONPATH, so they can import the pickled source class."""
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    from conftest import SF_DIR

    from nba_pipeline_spark.plans.queries import _stage_dir

    repo = str(Path(__file__).resolve().parent.parent)
    sf = tmp_path / "sf"  # a fresh source dir stages a fresh lake
    sf.mkdir()
    (sf / "orders.parquet").symlink_to(Path(SF_DIR) / "orders.parquet")
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from nba_pipeline_spark.session import get_spark\n"
        "from nba_pipeline_spark.plans.queries import REGISTRY\n"
        "spark = get_spark('any_cwd', cores=2)\n"
        f"print('ROWS', REGISTRY['q_cdf_matview'].fn(spark, {str(sf)!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    try:
        r = subprocess.run(
            [sys.executable, "-c", script], cwd="/tmp", env=env,
            capture_output=True, text=True, timeout=600,
        )
    finally:
        shutil.rmtree(os.path.dirname(_stage_dir(str(sf), "orders", "x")),
                      ignore_errors=True)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ROWS 3" in r.stdout
