"""Unit semantics for operators/cdc.py: last-writer-wins, inserts,
deletes, NULL-key and duplicate-key edges. Oracle parity at sf0.01 is
covered by the gate (q_cdc_upsert / q_cdc_changelog); NULL shapes by
tests/test_adversarial.py."""

from __future__ import annotations

import pytest

from nba_pipeline_spark.operators.cdc import apply_changelog, merge_upsert


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_merge_upsert_last_writer_wins_and_insert(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    changes = spark.createDataFrame(
        [(1, "a2", 10), (1, "a3", 20), (3, "c", 5)], ["k", "v", "ver"]
    )
    got = _rows(merge_upsert(base, changes, ["k"], "ver"))
    assert got == [(1, "a3"), (2, "b"), (3, "c")]  # highest ver wins, 3 inserted


def test_merge_upsert_null_key_groups(spark):
    # window semantics: NULL keys form ONE group — a NULL-key change
    # replaces NULL-key base rows (documented, matches the SQL oracle)
    base = spark.createDataFrame([(None, "x"), (1, "a")], "k int, v string")
    changes = spark.createDataFrame([(None, "y", 1)], "k int, v string, ver int")
    got = _rows(merge_upsert(base, changes, ["k"], "ver"))
    assert got == [(1, "a"), (None, "y")]


def test_merge_upsert_keeps_a_stored_version_column(spark):
    # a base that stores the version column keeps it: the winning
    # change row carries its own version, never NULL
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, v string, ver int"
    )
    changes = spark.createDataFrame(
        [(1, "a2", 5), (3, "c", 2)], "k int, v string, ver int"
    )
    got = _rows(merge_upsert(base, changes, ["k"], "ver"))
    assert got == [(1, "a2", 5), (2, "b", 1), (3, "c", 2)]


def test_apply_changelog_delete_upsert_passthrough(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    log = spark.createDataFrame(
        [
            (1, "a2", 10, "upsert"),
            (1, None, 20, "delete"),  # latest for k=1 → gone
            (2, "b2", 5, "upsert"),
            (4, "d", 1, "upsert"),  # new key inserted
        ],
        ["k", "v", "seq", "op"],
    )
    got = _rows(apply_changelog(base, log, ["k"], "seq", "op"))
    assert got == [(2, "b2"), (3, "c"), (4, "d")]


def test_apply_changelog_null_keys_never_match(spark):
    # join semantics: NULL-key deletes touch nothing; NULL-key upserts
    # insert their own row (SQL equality, matches NOT EXISTS oracle)
    base = spark.createDataFrame([(None, "x"), (1, "a")], "k int, v string")
    log = spark.createDataFrame(
        [(None, "y", 1, "upsert")], "k int, v string, seq int, op string"
    )
    got = _rows(apply_changelog(base, log, ["k"], "seq", "op"))
    assert got == [(1, "a"), (None, "x"), (None, "y")]


def test_apply_changelog_keeps_duplicate_untouched_base_rows(spark):
    base = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    log = spark.createDataFrame([(2, "b2", 1, "upsert")], ["k", "v", "seq", "op"])
    got = _rows(apply_changelog(base, log, ["k"], "seq", "op"))
    assert got == [(1, "a"), (1, "a"), (2, "b2")]


def test_streaming_upsert_sink_converges(spark, tmp_path):
    """Two micro-batches of changes drained through foreachBatch
    merge_upsert equal one batch merge of all changes."""
    import os, shutil

    from nba_pipeline_spark.operators.cdc import streaming_upsert_sink

    target = str(tmp_path / "target")
    spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "k int, v string, ver int").write.parquet(target)

    b1 = [(1, "a2", 10), (3, "c", 5)]
    b2 = [(1, "a3", 20), (2, "b2", 7)]
    src = str(tmp_path / "changes")
    os.makedirs(src)
    for i, rows in enumerate([b1, b2]):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, "k int, v string, ver int").coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema("k int, v string, ver int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_upsert_sink(stream, target, ["k"], "ver", str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a3"), (2, "b2"), (3, "c")}  # latest ver wins per key


def test_incremental_agg_maintain_matches_full_recompute(spark):
    """Inserts, deletes, a group driven to zero count, a brand-new
    group, a NULL key, and an all-NULL measure group — the maintained
    view must equal a recompute over (base − deletes + inserts)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators.cdc import incremental_agg_maintain

    base = spark.createDataFrame(
        [
            (1, 10.0), (1, 5.0),          # ordinary group
            (2, 7.0),                     # fully deleted below
            (None, 3.0),                  # NULL key group
            (4, None), (4, None),         # all-NULL measure group
        ],
        "k int, x double",
    )
    dec = F.col("x").cast("decimal(18,4)")
    mv = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(dec).alias("total")
    )
    delta = spark.createDataFrame(
        [
            (1, 2.0, 1),     # insert into existing group
            (2, 7.0, -1),    # retraction empties group 2
            (3, 9.0, 1),     # brand-new group
            (None, 1.0, 1),  # NULL-key insert must merge with NULL group
            (4, None, -1),   # delete one all-NULL row
        ],
        "k int, x double, __sign int",
    )
    out = incremental_agg_maintain(mv, delta, ["k"], {"total": dec})
    got = {
        r["k"]: (r["cnt"], r["total"]) for r in out.collect()
    }
    effective = {  # base − deletes + inserts, aggregated by hand
        1: (3, Decimal("17.0000")),
        3: (1, Decimal("9.0000")),
        None: (2, Decimal("4.0000")),
        4: (1, Decimal("0.0000")),  # one NULL-measure row left; sum-of-none → 0
    }
    assert set(got) == set(effective)
    for k, (cnt, total) in effective.items():
        assert got[k][0] == cnt
        assert got[k][1] == total


def test_minmax_refresh_affected_partial_recompute(spark):
    """Only groups named in changed_keys are recomputed; a stale
    untouched row must survive VERBATIM (proving no full recompute),
    and a fully-deleted affected group must vanish."""
    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators.cdc import minmax_refresh_affected

    base_after = spark.createDataFrame(
        [(1, 5.0), (1, 9.0), (3, 2.0)], "k int, x double"
    )
    # stale view: group 2 is WRONG on purpose (base no longer has k=2
    # rows but 2 is not in changed_keys, so the stale row must pass
    # through); group 1's max is stale and must be fixed.
    mv = spark.createDataFrame(
        [(1, 2, 99.0), (2, 1, 7.0)], "k int, cnt bigint, hi double"
    )
    changed = spark.createDataFrame([(1,), (4,)], "k int")  # 4: deleted away
    aggs = [F.count(F.lit(1)).alias("cnt"), F.max("x").alias("hi")]
    got = sorted(
        tuple(r) for r in minmax_refresh_affected(base_after, mv, changed, ["k"], aggs).collect()
    )
    assert got == [(1, 2, 9.0), (2, 1, 7.0)]


def test_streaming_agg_maintain_sink_two_batches_and_replay(spark, tmp_path):
    """Two micro-batches of signed changes equal the batch fold; a
    second drain of the SAME source (fresh checkpoint, forced same
    batch ids) is skipped by the committed-snapshot layout — no
    double-count."""
    import os, shutil

    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators.cdc import (
        read_maintained_view,
        streaming_agg_maintain_sink,
    )

    src = str(tmp_path / "changes")
    os.makedirs(src)
    batches = [
        [(1, 10.0, 1), (2, 4.0, 1)],
        [(1, 3.0, 1), (2, 4.0, -1), (3, 7.0, 1)],
    ]
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, "k int, x double, __sign int").coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    view = str(tmp_path / "view")
    dec = F.col("x").cast("decimal(18,4)")

    def drain(ckpt: str) -> None:
        stream = (
            spark.readStream.schema("k int, x double, __sign int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_agg_maintain_sink(
            stream, view, ["k"], {"total": dec}, str(tmp_path / ckpt)
        )
        q.awaitTermination()

    drain("ckpt1")
    got = {
        (r["k"], r["cnt"], float(r["total"]))
        for r in read_maintained_view(spark, view).collect()
    }
    # k=1: 10+3; k=2: inserted then retracted → count 0, row dropped; k=3: new
    assert got == {(1, 2, 13.0), (3, 1, 7.0)}

    # replay: fresh checkpoint re-delivers batch ids 0 and 1; both are
    # at-or-below the highest committed snapshot → skipped.
    drain("ckpt2")
    got2 = {
        (r["k"], r["cnt"], float(r["total"]))
        for r in read_maintained_view(spark, view).collect()
    }
    assert got2 == got


def test_streaming_agg_maintain_crash_scenarios(spark, tmp_path):
    """The two failure modes of a view+ledger split, exercised directly
    against the snapshot layout: (a) a crash MID-WRITE leaves a partial
    ``batch=N`` dir with no _SUCCESS — the resolver must ignore it and a
    replay must land on the pre-batch view; (b) a replay of an
    already-committed batch id must be a no-op (never re-fold
    retractions onto the post-batch view)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators.cdc import (
        incremental_agg_maintain,
        read_maintained_view,
    )

    view = str(tmp_path / "view")
    dec = F.col("x").cast("decimal(18,4)")
    sums = {"total": dec}

    def apply_batch(rows, batch_id):
        batch = spark.createDataFrame(rows, "k int, x double, __sign int")
        mv = read_maintained_view(spark, view, before=batch_id)
        if mv is None:
            mv = batch.limit(0).groupBy("k").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(dec).alias("total"),
            )
        merged = incremental_agg_maintain(mv, batch, ["k"], sums)
        merged.write.mode("overwrite").parquet(f"{view}/batch={batch_id}")

    apply_batch([(1, 10.0, 1)], 0)

    # (a) crash mid-write of batch 1: simulate by writing it, then
    # deleting _SUCCESS and one data file — a torn directory.
    apply_batch([(1, 3.0, 1), (2, 7.0, 1)], 1)
    os.remove(f"{view}/batch=1/_SUCCESS")
    part = [f for f in os.listdir(f"{view}/batch=1") if f.endswith(".parquet")][0]
    os.remove(f"{view}/batch=1/{part}")
    # resolver must fall back to batch=0 (the pre-batch state)...
    pre = read_maintained_view(spark, view)
    assert {(r["k"], float(r["total"])) for r in pre.collect()} == {(1, 10.0)}
    # ...and the replay (same id) overwrites the torn dir from that state.
    apply_batch([(1, 3.0, 1), (2, 7.0, 1)], 1)
    cur = read_maintained_view(spark, view)
    assert {(r["k"], r["cnt"], float(r["total"])) for r in cur.collect()} == {
        (1, 2, 13.0),
        (2, 1, 7.0),
    }

    # (b) replay after commit: before=batch_id resolution pins the
    # replayed batch to its PRE-batch view, so re-running batch 1
    # produces a byte-identical snapshot, not a double-fold.
    snap = sorted(
        (r["k"], r["cnt"], float(r["total"]))
        for r in spark.read.parquet(f"{view}/batch=1").collect()
    )
    apply_batch([(1, 3.0, 1), (2, 7.0, 1)], 1)
    snap2 = sorted(
        (r["k"], r["cnt"], float(r["total"]))
        for r in spark.read.parquet(f"{view}/batch=1").collect()
    )
    assert snap2 == snap


def test_incremental_agg_maintain_composes(spark):
    """Applying a changelog in two halves equals applying it at once
    (the property that makes per-micro-batch maintenance correct)."""
    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators.cdc import incremental_agg_maintain

    base = spark.createDataFrame(
        [(1, 4.0), (2, 6.0), (2, 1.0)], "k int, x double"
    )
    dec = F.col("x").cast("decimal(18,4)")
    mv = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(dec).alias("total")
    )
    d1 = spark.createDataFrame([(1, 2.0, 1), (2, 6.0, -1)], "k int, x double, __sign int")
    d2 = spark.createDataFrame([(3, 5.0, 1), (2, 1.0, -1)], "k int, x double, __sign int")
    both = d1.unionByName(d2)

    once = incremental_agg_maintain(mv, both, ["k"], {"total": dec})
    stepped = incremental_agg_maintain(
        incremental_agg_maintain(mv, d1, ["k"], {"total": dec}), d2, ["k"], {"total": dec}
    )
    norm = lambda df: sorted((r["k"], r["cnt"], r["total"]) for r in df.collect())
    assert norm(once) == norm(stepped)
    # group 2 fully retracted across the two halves
    assert [k for k, _, _ in norm(once)] == [1, 3]


def test_maintain_sink_works_on_uri_scheme_view_path(spark, tmp_path):
    """Regression for the round-3 advisory: with view_path given as a
    file: URI (the shape an hdfs:/s3a: deployment passes), snapshot
    resolution must still see committed batches — the old os.listdir
    protocol returned [] for any URI and silently rebuilt the view
    from empty on every replay."""
    import os, shutil

    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators.cdc import (
        read_maintained_view,
        streaming_agg_maintain_sink,
    )

    src = str(tmp_path / "changes")
    os.makedirs(src)
    for i, rows in enumerate([[(1, 5.0, 1)], [(1, 2.0, 1)]]):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, "k int, x double, __sign int").coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    view_uri = "file:" + str(tmp_path / "view")  # URI form, not a bare path
    dec = F.col("x").cast("decimal(18,4)")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("k int, x double, __sign int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        streaming_agg_maintain_sink(
            stream, view_uri, ["k"], {"total": dec}, str(tmp_path / ckpt)
        ).awaitTermination()

    drain("c1")
    got = {(r["k"], r["cnt"], float(r["total"]))
           for r in read_maintained_view(spark, view_uri).collect()}
    assert got == {(1, 2, 7.0)}
    drain("c2")  # replay against the URI path must SKIP, not re-apply
    got2 = {(r["k"], r["cnt"], float(r["total"]))
            for r in read_maintained_view(spark, view_uri).collect()}
    assert got2 == got


# ---------------------------------------------- write-time recorded CDF (r10)


@pytest.mark.parametrize(
    "op", ["commit_upsert", "commit_upsert_pruned", "commit_upsert_mor"]
)
def test_recorded_cdf_equals_computed(spark, tmp_path, op):
    """A MERGE with record_cdf=True stores the commit's valued delta
    at write time; snapshot_diff's recorded fast path must equal the
    post-hoc diff of the two snapshots — including NULL→value /
    value→NULL transitions, group moves, inserts, and a change row
    identical to its base row (which must NOT appear). The full
    rewrite, the pruned and the merge-on-read MERGE record the same
    feed for the same batch."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", None), (3, "b", 30), (4, "b", 40)],
            "k int, grp string, v bigint",
        ),
    )
    getattr(M, op)(
        spark, lake,
        spark.createDataFrame(
            [
                (2, "a", 21, 1),      # NULL -> value
                (3, "c", None, 1),    # group move + value -> NULL
                (4, "b", 40, 1),      # identical: must not appear
                (5, "c", 50, 1),      # insert
            ],
            "k int, grp string, v bigint, ver int",
        ),
        ["k"], "ver", record_cdf=True,
    )
    assert M._read_manifest(spark, lake, 2).get("cdf")

    def flat(df):
        out = set()
        for r in df.collect():
            old = (r["old"]["grp"], r["old"]["v"]) if r["old"] else (None, None)
            new = (r["new"]["grp"], r["new"]["v"]) if r["new"] else (None, None)
            out.add((r["k"], r["op"], *old, *new))
        return out

    recorded = flat(M.snapshot_diff(spark, lake, 1, 2, ["k"], include_values=True))
    computed = flat(_diff_frames(
        M.read_snapshot(spark, lake, version=1),
        M.read_snapshot(spark, lake, version=2),
        ["k"], include_values=True,
    ))
    assert recorded == computed
    assert (2, "update", "a", None, "a", 21) in recorded
    assert not any(k == 4 for k, *_ in recorded)
    # keys-only read works off the same recorded segment
    ops = {(r["k"], r["op"]) for r in M.snapshot_diff(spark, lake, 1, 2, ["k"]).collect()}
    assert ops == {(2, "update"), (3, "update"), (5, "insert")}


def test_recorded_cdf_feeds_matview_and_vacuum(spark, tmp_path):
    """A mixed history (recorded and post-hoc commits) drives the MV
    maintainer to the same result as a recompute, and vacuum reclaims
    the change segment exactly when its version expires."""
    import os

    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators import matview as MV
    from nba_pipeline_spark.sources import manifest as M

    lake, mv, state = (str(tmp_path / d) for d in ("lake", "mv", "st"))
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k int, grp string, v bigint"
        ),
    )
    M.commit_upsert(
        spark, lake,
        spark.createDataFrame(
            [(1, "b", 11, 1), (3, "a", 30, 1)],
            "k int, grp string, v bigint, ver int",
        ),
        ["k"], "ver", record_cdf=True,
    )
    M.commit_delete(spark, lake, spark.createDataFrame([(2,)], "k int"), ["k"])
    MV.maintain_matview(spark, lake, ["k"], mv, ["grp"], ["v"], state)
    got = {
        (r["grp"], r["cnt"], r["sum_v"])
        for r in MV.read_matview(spark, mv).collect()
    }
    want = {
        (r["grp"], r["cnt"], r["sum_v"])
        for r in M.read_snapshot(spark, lake).groupBy("grp").agg(
            F.count("*").alias("cnt"), F.sum("v").alias("sum_v")
        ).collect()
    }
    assert got == want
    # retention: the v2 change segment lives while v2 is retained...
    cdf_seg = M._read_manifest(spark, lake, 2)["cdf"]
    cdf_dir = os.path.join(lake, "cdf", cdf_seg)
    M.vacuum(spark, lake, keep_versions=2)  # keeps v2, v3
    assert os.path.isdir(cdf_dir)
    assert M.snapshot_diff(spark, lake, 1, 2, ["k"]).count() == 2
    # ...and reclaims with it
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(9, "z", 9)], "k int, grp string, v bigint"),
    )
    M.vacuum(spark, lake, keep_versions=2)  # v2 expires
    assert not os.path.isdir(cdf_dir)


def test_recorded_cdf_partitioned_and_column_mapped(spark, tmp_path):
    """record_cdf on the fact-scale partitioned MERGE: the recorded
    delta equals the post-hoc snapshot diff — including on a
    COLUMN-MAPPED lake, where the recorded frame must carry logical
    names (physical segments, logical feed)."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "p1", 10), (2, "p1", 20)], "k int, part string, v bigint"
        ),
        partition={"part": "p1"},
    )
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(3, "p2", 30)], "k int, part string, v bigint"),
        partition={"part": "p2"},
    )
    M.rename_column(spark, lake, "v", "val")  # column-mapped from here
    M.commit_upsert_partitioned(
        spark, lake,
        spark.createDataFrame(
            [(2, "p1", 21, 1), (4, "p1", 40, 1)],
            "k int, part string, val bigint, ver int",
        ),
        keys=["k"], version_col="ver", part_col="part",
        record_cdf=True,
    )
    v = M.current_version(spark, lake)
    assert M._read_manifest(spark, lake, v).get("cdf")

    def flat(df):
        out = set()
        for r in df.collect():
            old = (r["old"]["part"], r["old"]["val"]) if r["old"] else (None, None)
            new = (r["new"]["part"], r["new"]["val"]) if r["new"] else (None, None)
            out.add((r["k"], r["op"], *old, *new))
        return out

    recorded = flat(
        M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
    )
    computed = flat(_diff_frames(
        M.read_snapshot(spark, lake, version=v - 1),
        M.read_snapshot(spark, lake, version=v),
        ["k"], include_values=True,
    ))
    assert recorded == computed
    assert recorded == {
        (2, "update", "p1", 20, "p1", 21),
        (4, "insert", None, None, "p1", 40),
    }
    # untouched-partition rows (k=3) and unchanged rows (k=1) absent
    assert not any(k in (1, 3) for k, *_ in recorded)


def test_recorded_cdf_delete_path(spark, tmp_path):
    """commit_delete(record_cdf=True): the recorded op='delete' rows
    carry the old values and equal the post-hoc diff; absent keys
    record nothing; the recorded segment streams through manifest_cdf
    identically to the computed twin."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "b", 30)],
            "k int, grp string, v bigint",
        ),
        stats_cols=["k"],
    )
    M.commit_delete(
        spark, lake,
        spark.createDataFrame([(2,), (99,)], "k int"),  # 99 absent
        ["k"], record_cdf=True,
    )
    v = M.current_version(spark, lake)
    assert M._read_manifest(spark, lake, v).get("cdf")
    rec = M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
    rows = rec.collect()
    assert [(r["k"], r["op"], r["old"]["grp"], r["old"]["v"], r["new"])
            for r in rows] == [(2, "delete", "b", 20, None)]
    flat = {(r["k"], r["op"]) for r in rows}
    computed = _diff_frames(
        M.read_snapshot(spark, lake, version=v - 1),
        M.read_snapshot(spark, lake, version=v),
        ["k"], include_values=True,
    )
    assert flat == {(r["k"], r["op"]) for r in computed.collect()}


def test_read_feed_include_values(spark, tmp_path):
    """read_feed(include_values=True): the batch twin carries the
    old/new structs per version step (consume_feed parity), mixing
    recorded and computed steps."""
    from nba_pipeline_spark.sources import manifest as M

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(1, "a", 10)], "k int, grp string, v bigint"),
    )
    M.commit_upsert(
        spark, lake,
        spark.createDataFrame(
            [(1, "b", 11, 1)], "k int, grp string, v bigint, ver int"
        ),
        ["k"], "ver", record_cdf=True,
    )
    rows = M.read_feed(spark, lake, ["k"], 0, include_values=True).collect()
    got = {
        (r["k"], r["op"], int(r["version"]),
         r["old"]["grp"] if r["old"] else None,
         r["new"]["grp"] if r["new"] else None)
        for r in rows
    }
    assert got == {(1, "insert", 1, None, "a"), (1, "update", 2, "a", "b")}
    # default stays keys+op+version (no payload for replication readers)
    assert set(M.read_feed(spark, lake, ["k"], 0).columns) == {
        "k", "op", "version"
    }


def test_consume_feed_vacuumed_window_raises(spark, tmp_path):
    """ADVICE r11 #2: a vacuumed window strictly inside the unconsumed
    range must raise re-bootstrap, NOT silently advance — the
    surviving version's recorded-CDF fast path serves without probing
    the parent, so without the guard the vacuumed changes vanish."""
    import pytest

    from nba_pipeline_spark.sources import manifest as M

    lake = str(tmp_path / "lake")
    state = str(tmp_path / "state")

    def up(rows, ver):
        M.commit_upsert(
            spark, lake,
            spark.createDataFrame(
                [(k, g, v, ver) for k, g, v in rows],
                "k int, grp string, v bigint, ver int",
            ),
            ["k"], "ver", record_cdf=True,
        )

    M.commit_append(
        spark, lake,
        spark.createDataFrame([(1, "a", 10)], "k int, grp string, v bigint"),
    )
    up([(1, "b", 11)], 1)   # v2
    up([(1, "c", 12)], 2)   # v3
    seen: list = []
    n = M.consume_feed(
        spark, lake, ["k"], state, lambda df, v: seen.append(v),
        max_versions=1,
    )
    assert (n, seen) == (1, [1])  # checkpoint hw=1
    M.vacuum(spark, lake, keep_versions=1)  # v1, v2 manifests gone
    with pytest.raises(ValueError, match="re-bootstrap"):
        M.consume_feed(spark, lake, ["k"], state, lambda df, v: None)
    # read_feed over the same range agrees (its guard predates this)
    with pytest.raises(ValueError, match="re-bootstrap"):
        M.read_feed(spark, lake, ["k"], 1).collect()
    # continuity case is NOT over-blocked: checkpoint at hw=2 (== the
    # survivor's parent) serves v3's recorded step even though v2's
    # manifest is vacuumed
    state2 = str(tmp_path / "state2")
    lake2 = str(tmp_path / "lake2")
    M.commit_append(
        spark, lake2,
        spark.createDataFrame([(1, "a", 10)], "k int, grp string, v bigint"),
    )
    M.commit_upsert(
        spark, lake2,
        spark.createDataFrame([(1, "b", 11, 1)], "k int, grp string, v bigint, ver int"),
        ["k"], "ver", record_cdf=True,
    )
    M.commit_upsert(
        spark, lake2,
        spark.createDataFrame([(1, "c", 12, 2)], "k int, grp string, v bigint, ver int"),
        ["k"], "ver", record_cdf=True,
    )
    seen2: list = []
    n = M.consume_feed(
        spark, lake2, ["k"], state2, lambda df, v: seen2.append(v),
        max_versions=2,
    )
    assert (n, seen2) == (2, [1, 2])  # hw=2
    M.vacuum(spark, lake2, keep_versions=1)
    got: list = []
    n = M.consume_feed(
        spark, lake2, ["k"], state2,
        lambda df, v: got.extend(
            (r["k"], r["op"], int(r["version"])) for r in df.collect()
        ),
    )
    assert n == 1 and got == [(1, "update", 3)]


def test_restore_record_cdf_refuses_type_widening(spark, tmp_path):
    """ADVICE r11 #4: restore(record_cdf=True) must compare (name,
    type) pairs, not names — a type widening between target and
    current would otherwise record a delta whose structs disagree with
    the current schema."""
    import pytest

    from nba_pipeline_spark.sources import manifest as M

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(1, "a", 10)], "k int, grp string, v int"),
    )
    M.widen_column_type(spark, lake, "v", "bigint")
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(2, "b", 20)], "k int, grp string, v bigint"),
    )
    with pytest.raises(ValueError, match="schema change"):
        M.restore(spark, lake, version=1, record_cdf=True, cdf_keys=["k"])
    # without recording the rollback still works
    M.restore(spark, lake, version=1)
    assert {r["k"] for r in M.read_snapshot(spark, lake).collect()} == {1}


def _flat_kv(df):
    """(k, op, old.grp, old.v, new.grp, new.v) set for the 3-col lakes."""
    out = set()
    for r in df.collect():
        old = (r["old"]["grp"], r["old"]["v"]) if r["old"] else (None, None)
        new = (r["new"]["grp"], r["new"]["v"]) if r["new"] else (None, None)
        out.add((r["k"], r["op"], *old, *new))
    return out


def test_recorded_cdf_pruned_merge(spark, tmp_path):
    """commit_upsert_pruned(record_cdf=True) — the fact-scale path
    (VERDICT r10 #1): the recorded delta equals the post-hoc snapshot
    diff, identical rows are absent, and the untouched (pruned-away)
    segment is provably not re-read for the recording (its keys never
    appear)."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    # two key-disjoint stats segments: k in [1,2] and k in [10,11]
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", None)], "k int, grp string, v bigint"
        ),
        stats_cols=["k"],
    )
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(10, "z", 100), (11, "z", 110)], "k int, grp string, v bigint"
        ),
        stats_cols=["k"],
    )
    M.commit_upsert_pruned(
        spark, lake,
        spark.createDataFrame(
            [
                (2, "b", 21, 1),   # NULL -> value + group move
                (1, "a", 10, 1),   # identical: must not appear
                (3, "c", 30, 1),   # insert
            ],
            "k int, grp string, v bigint, ver int",
        ),
        ["k"], "ver", record_cdf=True,
    )
    v = M.current_version(spark, lake)
    assert M._read_manifest(spark, lake, v).get("cdf")
    recorded = _flat_kv(
        M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
    )
    computed = _flat_kv(_diff_frames(
        M.read_snapshot(spark, lake, version=v - 1),
        M.read_snapshot(spark, lake, version=v),
        ["k"], include_values=True,
    ))
    assert recorded == computed
    assert recorded == {
        (2, "update", "a", None, "b", 21),
        (3, "insert", None, None, "c", 30),
    }
    assert not any(k in (1, 10, 11) for k, *_ in recorded)


def test_recorded_cdf_upsert_mor(spark, tmp_path):
    """commit_upsert_mor(record_cdf=True): the batch IS the delta —
    recorded steps equal the post-hoc diff, ops are insert/update
    only, an identical-row 'update' emits nothing, a row an earlier
    tombstone killed records as INSERT (it was not visible), and LWW
    folds inside the batch before recording."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "k int, grp string, v bigint",
        ),
        stats_cols=["k"],
    )
    M.commit_delete_mor(spark, lake, spark.createDataFrame([(3,)], "k int"), ["k"])
    M.commit_upsert_mor(
        spark, lake,
        spark.createDataFrame(
            [
                (1, "a2", 11, 1), (1, "a3", 12, 2),   # LWW: a3 wins
                (2, "b", 20, 1),                      # identical: no feed row
                (3, "c2", 31, 1),                     # dead key: INSERT
                (4, "d", 40, 1),                      # fresh key: INSERT
            ],
            "k int, grp string, v bigint, ver int",
        ),
        ["k"], "ver", record_cdf=True,
    )
    v = M.current_version(spark, lake)
    assert M._read_manifest(spark, lake, v).get("cdf")
    rec = M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
    assert _flat_kv(rec) == {
        (1, "update", "a", 10, "a3", 12),
        (3, "insert", None, None, "c2", 31),
        (4, "insert", None, None, "d", 40),
    }
    computed = _flat_kv(_diff_frames(
        M.read_snapshot(spark, lake, version=v - 1),
        M.read_snapshot(spark, lake, version=v),
        ["k"], include_values=True,
    ))
    assert _flat_kv(rec) == computed
    # the read_feed step over the recorded version agrees
    feed = M.read_feed(spark, lake, ["k"], v - 1, include_values=True)
    assert _flat_kv(feed.drop("version")) == computed


def test_cdf_stream_upsert_mor_computed_parity(spark, tmp_path):
    """The manifest_cdf stream over an UNRECORDED MoR-merge history
    (added segment + changed tombstone set → the carried-segment diff
    path) emits the same change set as the recorded twin."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.cdf_stream import register_cdf_stream

    register_cdf_stream(spark)

    def history(lake, record):
        M.commit_append(
            spark, lake,
            spark.createDataFrame(
                [(1, "a", 10), (2, "b", 20)], "k int, grp string, v bigint"
            ),
            stats_cols=["k"],
        )
        M.commit_upsert_mor(
            spark, lake,
            spark.createDataFrame(
                [(1, "a2", 11, 1), (9, "z", 90, 1)],
                "k int, grp string, v bigint, ver int",
            ),
            ["k"], "ver", record_cdf=record,
        )

    def run(lake, ck):
        out: list = []
        q = (
            spark.readStream.format("manifest_cdf")
            .option("path", lake).option("keys", "k").load()
            .writeStream.foreachBatch(lambda df, _b: out.extend(df.collect()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return {
            (r["k"], r["op"], r["_commit_version"],
             r["old"]["v"] if r["old"] else None,
             r["new"]["v"] if r["new"] else None)
            for r in out
        }

    rec_lake, cmp_lake = str(tmp_path / "rec"), str(tmp_path / "cmp")
    history(rec_lake, True)
    history(cmp_lake, False)
    a = run(rec_lake, str(tmp_path / "ck1"))
    b = run(cmp_lake, str(tmp_path / "ck2"))
    assert a == b
    assert (1, "update", 2, 10, 11) in a and (9, "insert", 2, None, 90) in a


def test_recorded_cdf_delete_mor(spark, tmp_path):
    """commit_delete_mor(record_cdf=True): the recorded op='delete'
    rows carry old VALUES (the bare tombstone holds only keys), equal
    the post-hoc diff, skip absent keys, and skip rows an EARLIER
    pending tombstone already killed (visibility, not raw segments)."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "b", 30)],
            "k int, grp string, v bigint",
        ),
        stats_cols=["k"],
    )
    # v2: plain MoR tombstone kills k=1 (no recording)
    M.commit_delete_mor(spark, lake, spark.createDataFrame([(1,)], "k int"), ["k"])
    # v3: recorded MoR delete of k∈{1,2,99}: 1 already dead, 99 absent
    M.commit_delete_mor(
        spark, lake,
        spark.createDataFrame([(1,), (2,), (99,)], "k int"),
        ["k"], record_cdf=True,
    )
    v = M.current_version(spark, lake)
    assert M._read_manifest(spark, lake, v).get("cdf")
    rec = M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
    assert _flat_kv(rec) == {(2, "delete", "b", 20, None, None)}
    computed = _flat_kv(_diff_frames(
        M.read_snapshot(spark, lake, version=v - 1),
        M.read_snapshot(spark, lake, version=v),
        ["k"], include_values=True,
    ))
    assert _flat_kv(rec) == computed


def test_recorded_cdf_replace_where(spark, tmp_path):
    """commit_replace_where(record_cdf=True): the restatement's delta
    is a DIFF (re-stated identical rows emit nothing), keyed by
    cdf_keys or the declared UNIQUE key; keyless recording refuses."""
    import pytest

    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
            "k int, grp string, v bigint",
        ),
    )
    with pytest.raises(ValueError, match="row identity"):
        M.commit_replace_where(
            spark, lake,
            spark.createDataFrame([(1, "a", 11)], "k int, grp string, v bigint"),
            eq={"grp": "a"}, record_cdf=True,
        )
    # restate grp=a: k=1 changes value, k=2 re-stated identical, k=4 new
    M.commit_replace_where(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 11), (2, "a", 20), (4, "a", 40)],
            "k int, grp string, v bigint",
        ),
        eq={"grp": "a"}, record_cdf=True, cdf_keys=["k"],
    )
    v = M.current_version(spark, lake)
    assert M._read_manifest(spark, lake, v).get("cdf")
    recorded = _flat_kv(
        M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
    )
    computed = _flat_kv(_diff_frames(
        M.read_snapshot(spark, lake, version=v - 1),
        M.read_snapshot(spark, lake, version=v),
        ["k"], include_values=True,
    ))
    assert recorded == computed
    assert recorded == {
        (1, "update", "a", 10, "a", 11),
        (4, "insert", None, None, "a", 40),
    }
    assert not any(k in (2, 3) for k, *_ in recorded)


def test_recorded_cdf_restore(spark, tmp_path):
    """restore(record_cdf=True): the rollback's delta (parent vs
    target state) is recorded and equals the post-hoc diff; the
    declared UNIQUE key serves as default row identity."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k int, grp string, v bigint"
        ),
    )
    M.set_unique_key(spark, lake, ["k"])
    M.commit_upsert(
        spark, lake,
        spark.createDataFrame(
            [(1, "c", 11, 1), (3, "c", 30, 1)],
            "k int, grp string, v bigint, ver int",
        ),
        ["k"], "ver",
    )
    M.restore(spark, lake, version=1, record_cdf=True)  # UNIQUE key default
    v = M.current_version(spark, lake)
    assert M._read_manifest(spark, lake, v).get("cdf")
    recorded = _flat_kv(
        M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
    )
    computed = _flat_kv(_diff_frames(
        M.read_snapshot(spark, lake, version=v - 1),
        M.read_snapshot(spark, lake, version=v),
        ["k"], include_values=True,
    ))
    assert recorded == computed
    # the rollback retracts the MERGE: k=1 back to (a,10), k=3 gone
    assert recorded == {
        (1, "update", "c", 11, "a", 10),
        (3, "delete", "c", 30, None, None),
    }


def test_recorded_cdf_delete_dv(spark, tmp_path):
    """commit_delete_dv(record_cdf=True): the positional delete also
    records op='delete' rows with old VALUES — visible victims only
    (a row an earlier tombstone already killed never re-emits) — and
    the recorded feed equals the computed diff."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "b", 30)],
            "k int, grp string, v bigint",
        ),
        stats_cols=["k"],
    )
    M.commit_delete_mor(spark, lake, spark.createDataFrame([(1,)], "k int"), ["k"])
    M.commit_delete_dv(
        spark, lake,
        spark.createDataFrame([(1,), (3,), (99,)], "k int"),  # 1 dead, 99 absent
        ["k"], record_cdf=True,
    )
    v = M.current_version(spark, lake)
    assert M._read_manifest(spark, lake, v).get("cdf")
    rec = M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
    assert _flat_kv(rec) == {(3, "delete", "b", 30, None, None)}
    computed = _flat_kv(_diff_frames(
        M.read_snapshot(spark, lake, version=v - 1),
        M.read_snapshot(spark, lake, version=v),
        ["k"], include_values=True,
    ))
    assert _flat_kv(rec) == computed


def test_snapshot_diff_bootstrap_and_identity_fast_paths(spark, tmp_path):
    """r12 optimization pins: (a) a v_from=0 bootstrap diff projects the
    snapshot as inserts WITHOUT a join (the old path full-outer-joined
    the whole snapshot against an empty frame); (b) maintenance /
    metadata commits (compact, set_property) serve a typed EMPTY delta
    without scanning the table. Both must match the join-path output
    row for row (duplicate keys included)."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.manifest import _diff_frames

    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame(
            # duplicate key on purpose: bootstrap must emit each ROW once
            [(1, "a", 10), (2, "b", None), (2, "b", None)],
            "k int, grp string, v bigint",
        ),
    )
    boot = M.snapshot_diff(spark, lake, 0, 1, ["k"], include_values=True)
    assert "Join" not in boot._jdf.queryExecution().executedPlan().toString()
    ref = _diff_frames(
        spark.createDataFrame([], M.read_snapshot(spark, lake, version=1).schema),
        M.read_snapshot(spark, lake, version=1),
        ["k"], include_values=True,
    )
    assert _flat_kv(boot) == _flat_kv(ref)
    assert sorted(r["k"] for r in boot.collect()) == [1, 2, 2]
    # keys-only form too
    assert sorted(
        (r["k"], r["op"]) for r in M.snapshot_diff(spark, lake, 0, 1, ["k"]).collect()
    ) == [(1, "insert"), (2, "insert"), (2, "insert")]

    M.compact(spark, lake, target_files=1)                      # v2
    M.set_table_property(spark, lake, "owner", "tests")         # v3
    for v in (2, 3):
        d = M.snapshot_diff(spark, lake, v - 1, v, ["k"], include_values=True)
        # identity fast path: an empty LOCAL relation — no lake scan
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" not in plan and "Join" not in plan
        assert d.count() == 0
        assert set(d.columns) == {"k", "op", "old", "new"}
        assert dict(d.dtypes)["k"] == "int"
        computed = _diff_frames(
            M.read_snapshot(spark, lake, version=v - 1),
            M.read_snapshot(spark, lake, version=v),
            ["k"], include_values=True,
        )
        assert computed.count() == 0  # the contract the fast path relies on
    # a feed across the whole history: only the bootstrap inserts remain
    feed = M.read_feed(spark, lake, ["k"], 0)
    assert sorted((r["k"], r["op"], r["version"]) for r in feed.collect()) == [
        (1, "insert", 1), (2, "insert", 1), (2, "insert", 1)
    ]
