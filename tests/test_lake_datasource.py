"""format("manifest_lake") — the batch Python DataSource over the
manifest lake, with Catalyst filter pushdown driving manifest pruning
(sources/lake_datasource.py).

Also pins the engine's per-relation plan-cache behavior (Spark 4.1):
pushdown REPLACES the cached plan of a load() handle, so the safe
usage is one query per handle (`read_lake`). The hazard test asserts
the SAFE pattern, not the buggy value — an engine upgrade that fixes
the cache must not fail this suite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.sources import manifest as M
from nba_pipeline_spark.sources.lake_datasource import (
    ManifestLakeReader,
    read_lake,
    register_lake_source,
)


@pytest.fixture()
def lake(spark, tmp_path):
    p = str(tmp_path / "lake")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("band"),
        (F.col("id").cast("double") * 1.5).alias("x"),
    )
    for b in range(4):
        M.commit_append(
            spark, p, df.filter(F.col("band") == b),
            partition={"band": b}, stats_cols=["k", "band"],
        )
    return p


def test_full_read_parity(spark, lake):
    got = read_lake(spark, lake).agg(
        F.count(F.lit(1)), F.sum("k"), F.sum("x")
    ).collect()
    exp = M.read_snapshot(spark, lake).agg(
        F.count(F.lit(1)), F.sum("k"), F.sum("x")
    ).collect()
    assert got == exp
    assert dict(read_lake(spark, lake).dtypes) == {
        "k": "bigint", "band": "bigint", "x": "double"
    }


def test_pushdown_filters_correct_counts(spark, lake):
    assert read_lake(spark, lake).filter("band = 2").count() == 100
    assert read_lake(spark, lake).filter("k >= 390").count() == 10
    assert read_lake(spark, lake).filter(
        F.col("k").isin([5, 7, 399])
    ).count() == 3
    assert read_lake(spark, lake).filter("band = 2 and k < 100").count() == 25


def test_pushdown_prunes_partitions(spark, lake):
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In

    n_all = len(ManifestLakeReader({"path": lake}).partitions())

    r = ManifestLakeReader({"path": lake})
    list(r.pushFilters([EqualTo(("band",), 2)]))
    assert len(r.partitions()) < n_all  # partition-tag pruning

    # k interleaves across segments (k % 4 = band), so only the top
    # band's segment can contain 399: range skip keeps 1 of 4 segments
    r = ManifestLakeReader({"path": lake})
    list(r.pushFilters([GreaterThanOrEqual(("k",), 399)]))
    assert len(r.partitions()) < n_all  # min/max range pruning

    # point-in-range bisect needs per-segment-disjoint ranges: band is
    # constant per segment (min == max == b), so IN (2,) keeps one
    r = ManifestLakeReader({"path": lake})
    list(r.pushFilters([In(("band",), (2,))]))
    assert len(r.partitions()) < n_all  # point-in-range bisect

    # a probe pruned to zero still plans (>=1 sentinel partition) and
    # the read yields nothing
    r = ManifestLakeReader({"path": lake})
    list(r.pushFilters([EqualTo(("band",), 99)]))
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].value is None


def test_probes_consumed_not_sticky(spark, lake):
    """Reader-side state never leaks: after a filtered plan consumes
    its probes, an unfiltered partitions() on the same reader plans
    the full file set."""
    from pyspark.sql.datasource import EqualTo

    r = ManifestLakeReader({"path": lake})
    n_all = len(r.partitions())
    list(r.pushFilters([EqualTo(("band",), 2)]))
    assert len(r.partitions()) < n_all
    assert len(r.partitions()) == n_all  # probes were consumed


def test_fresh_handle_per_query_is_safe(spark, lake):
    """The documented contract for the engine's per-relation plan
    cache: a fresh load() after a filtered query sees every row."""
    assert read_lake(spark, lake).filter("band = 2").count() == 100
    assert read_lake(spark, lake).count() == 400


def test_time_travel_and_colmap(spark, lake):
    assert read_lake(spark, lake, version=1).count() == 100
    M.rename_column(spark, lake, "k", "key_id")
    t = read_lake(spark, lake)
    assert "key_id" in t.columns and "k" not in t.columns
    assert read_lake(spark, lake).filter("key_id >= 390").count() == 10


def test_schema_evolution_null_fill(spark, lake):
    wider = spark.range(400, 410).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("band"),
        (F.col("id").cast("double") * 1.5).alias("x"),
        F.lit("new").alias("tagcol"),
    )
    M.commit_append(spark, lake, wider)
    t = read_lake(spark, lake)
    assert t.count() == 410
    assert t.filter(F.col("tagcol").isNull()).count() == 400


def test_tombstones_apply_in_sql_reads(spark, lake):
    """MoR tombstones apply inside the Arrow reader (seq-fenced,
    per-file anti-join): a tombstoned lake reads full-fidelity through
    plain SQL — parity with read_snapshot, and a key RE-APPENDED after
    its delete stays visible (the sequence fence)."""
    M.commit_delete_mor(
        spark, lake,
        M.read_snapshot(spark, lake).filter("k in (1, 5, 399)").select("k"),
        ["k"],
    )
    exp = M.read_snapshot(spark, lake)
    # fresh handle per query (the documented plan-cache contract)
    assert read_lake(spark, lake).count() == exp.count() == 397
    assert read_lake(spark, lake).filter(
        F.col("k").isin([1, 5, 399])
    ).count() == 0
    assert read_lake(spark, lake).agg(
        F.sum("k"), F.sum("x")
    ).collect() == exp.agg(F.sum("k"), F.sum("x")).collect()
    # re-append a deleted key AFTER the tombstone: fence keeps it
    M.commit_append(
        spark, lake,
        spark.range(1, 2).select(
            F.col("id").alias("k"), F.lit(0).cast("bigint").alias("band"),
            F.lit(1.5).alias("x"),
        ),
    )
    assert read_lake(spark, lake).filter("k = 1").count() == 1
    # pushdown composes with tombstones: the pruned read still masks
    assert read_lake(spark, lake).filter("k = 5").count() == 0


def test_bloom_keys_skip_segments_in_sql_reads(spark, tmp_path):
    """read_lake(bloom_keys=...): driver-hashed probes prune
    bloom-negative segments at planning — the point-query path through
    plain SQL. Interleaved keys make stats useless (ranges overlap
    fully), so any pruning observed is the blooms'."""
    lake2 = str(tmp_path / "bloomlake")
    evens = spark.range(0, 200).select(
        (F.col("id") * 2).alias("k"), F.lit(0.0).alias("x")
    )
    odds = spark.range(0, 200).select(
        (F.col("id") * 2 + 1).alias("k"), F.lit(1.0).alias("x")
    )
    M.commit_append(spark, lake2, evens, bloom_cols=["k"])
    M.commit_append(spark, lake2, odds, bloom_cols=["k"])

    import json

    from nba_pipeline_spark.sources.manifest import _bloom_probes

    n_all = len(ManifestLakeReader({"path": lake2}).partitions())
    probes = json.dumps(_bloom_probes(spark, {"k": [4, 100]}))
    pruned = ManifestLakeReader(
        {"path": lake2, "bloom_probes": probes}
    ).partitions()
    assert 0 < len(pruned) < n_all  # odd segment bloom-disproved
    # end-to-end: the hinted point query answers correctly
    got = read_lake(spark, lake2, bloom_keys={"k": [4, 100]}).filter(
        F.col("k").isin([4, 100])
    )
    assert sorted(r["k"] for r in got.collect()) == [4, 100]


def test_sql_bloom_query_lake_prunes_bloom_negative_segments(spark, tmp_path):
    """q_manifest_sql_bloom's staged lake (sixteen key-interleaved
    segments with id blooms, so stats prove nothing): the driver-hashed
    probes for the query's two keys plan fewer partitions than the
    unprobed read. Built on a fresh alias of SF_DIR, so the stage is
    this code's."""
    import json
    import os
    import shutil

    from conftest import SF_DIR

    from nba_pipeline_spark.plans.lake_queries import _sql_bloom_lake
    from nba_pipeline_spark.sources import load_table

    alias = str(tmp_path / "sf")
    os.symlink(SF_DIR, alias)
    lake = _sql_bloom_lake(spark, alias)
    try:
        keys = [
            int(r["o_orderkey"])
            for r in load_table(spark, alias, "orders")
            .filter(F.col("o_orderkey") % 16 == 0)
            .orderBy("o_orderkey")
            .limit(2)
            .collect()
        ]
        n_all = len(ManifestLakeReader({"path": lake}).partitions())
        probes = json.dumps(M._bloom_probes(spark, {"o_orderkey": keys}))
        kept = len(
            ManifestLakeReader({"path": lake, "bloom_probes": probes}).partitions()
        )
        assert kept < n_all, f"bloom probes did not prune: {kept}/{n_all}"
    finally:
        shutil.rmtree(os.path.dirname(lake), ignore_errors=True)


def test_arrow_read_keeps_map_and_struct_columns(spark, tmp_path):
    """Stored map<> and struct<> columns have no Arrow type in the
    recorded-type table; the Arrow read path keeps the file's own type
    for a column the file holds, so read_lake reads what read_snapshot
    reads."""
    p = str(tmp_path / "maplake")
    df = spark.createDataFrame(
        [(1, {"a": 1.5}, (2, "x"))],
        "k int, m map<string,double>, s struct<a:int,b:string>",
    )
    M.commit_append(spark, p, df)
    assert read_lake(spark, p).collect() == M.read_snapshot(spark, p).collect()


def test_arrow_readers_match_jvm_reads_on_evolved_tombstoned_lake(
    spark, tmp_path
):
    """The three Arrow readers share one read path; on a lake with a
    rename, a widening, an additive column, an MoR delete and a DV
    delete each agrees with its JVM counterpart: manifest_lake with
    read_snapshot (also under a pushed filter beside the DV),
    manifest_stream over the append-only versions with the appended
    rows, and manifest_cdf over the delete versions with
    snapshot_diff."""
    from nba_pipeline_spark.sources.cdf_stream import ManifestCDFStreamReader
    from nba_pipeline_spark.sources.lake_stream import ManifestStreamReader

    lake = str(tmp_path / "evolved")
    M.commit_append(spark, lake, spark.createDataFrame(
        [(i, f"g{i % 2}", i * 10) for i in range(6)],
        "k int, grp string, v int",
    ))
    M.rename_column(spark, lake, "grp", "label")
    M.widen_column_type(spark, lake, "v", "bigint")
    v_appended = M.commit_append(spark, lake, spark.createDataFrame(
        [(i, f"g{i % 2}", i * 10, f"w{i}") for i in range(6, 10)],
        "k int, label string, v bigint, w string",
    ))
    M.commit_delete_mor(
        spark, lake, spark.createDataFrame([(1,), (7,)], "k int"), ["k"]
    )
    v_deleted = M.commit_delete_dv(
        spark, lake, spark.createDataFrame([(8,)], "k int"), ["k"]
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    snap = M.read_snapshot(spark, lake)
    assert rows(read_lake(spark, lake)) == rows(snap)
    assert rows(read_lake(spark, lake).filter("v > 20")) == rows(
        snap.filter("v > 20")
    )

    def arrow_rows(reader, lo, hi):
        return [
            row
            for p in reader.partitions({"version": lo}, {"version": hi})
            for b in reader.read(p)
            for row in b.to_pylist()
        ]

    streamed = arrow_rows(ManifestStreamReader({"path": lake}), 0, v_appended)
    appended = M.read_snapshot(spark, lake, version=v_appended)
    assert sorted(
        tuple(r[c] for c in appended.columns) for r in streamed
    ) == rows(appended)
    assert {r["k"]: r["_commit_version"] for r in streamed} == {
        i: 1 if i < 6 else v_appended for i in range(10)
    }

    def flat(k, op, old, new):
        vals = ("label", "v", "w")
        return (
            k, op,
            None if old is None else tuple(old[c] for c in vals),
            None if new is None else tuple(new[c] for c in vals),
        )

    cdf = ManifestCDFStreamReader({"path": lake, "keys": "k"})
    fed = arrow_rows(cdf, v_appended, v_deleted)
    diff = M.snapshot_diff(
        spark, lake, v_appended, v_deleted, ["k"], include_values=True
    ).collect()
    assert sorted(flat(r["k"], r["op"], r["old"], r["new"]) for r in fed) == (
        sorted(flat(r["k"], r["op"], r["old"], r["new"]) for r in diff)
    )
    assert {r["k"] for r in fed} == {1, 7, 8}


def test_options_guards(spark, lake):
    with pytest.raises(Exception, match="version"):
        read_lake(spark, lake, version=99).count()
    register_lake_source(spark)
    with pytest.raises(Exception, match="path"):
        spark.read.format("manifest_lake").load().count()


# ------------------------------------------------------- write path


def _src(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("band"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id").cast("double"))
        .alias("x"),
    )


def _write(df, path, mode="append", **opts):
    w = df.write.format("manifest_lake").option("path", path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode(mode).save()


def test_writer_append_parity_and_stats(spark, tmp_path):
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    _write(_src(spark, 0, 500), lake, stats_cols="k,x")
    _write(_src(spark, 500, 1000), lake, stats_cols="k,x")
    snap = M.read_snapshot(spark, lake)
    assert snap.count() == 1000
    assert snap.agg(F.sum("k"), F.sum("x")).collect() == _src(
        spark, 0, 1000
    ).agg(F.sum("k"), F.sum("x")).collect()
    # per-file stats merged at commit: metadata-only agg + range skip
    r = M.metadata_agg(
        spark, lake, min_cols=["k"], max_cols=["k", "x"],
        count_cols=["x"], allow_scan=False,
    ).collect()[0]
    assert (r["count_rows"], r["min_k"], r["max_k"], r["count_x"]) == (
        1000, 0, 999, 800,
    )
    assert len(M.resolve_segments(spark, lake, ranges={"k": (0, 10)})) == 1


def test_writer_overwrite_time_travel_tag(spark, tmp_path):
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    _write(_src(spark, 0, 100), lake)
    _write(_src(spark, 0, 40), lake, mode="overwrite")
    assert M.read_snapshot(spark, lake).count() == 40
    assert M.read_snapshot(spark, lake, version=1).count() == 100
    v = M.current_version(spark, lake)
    _write(_src(spark, 100, 110), lake, tag="t1")
    _write(_src(spark, 100, 110), lake, tag="t1")  # replay: no-op
    assert M.current_version(spark, lake) == v + 1
    assert M.read_snapshot(spark, lake).count() == 50


def test_writer_interops_with_jvm_commits(spark, tmp_path):
    """Python-writer versions and JVM commit_append versions interleave
    on one lake: schema props, meta, and reads stay coherent."""
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    M.commit_append(spark, lake, _src(spark, 0, 50), stats_cols=["k"])
    _write(_src(spark, 50, 100), lake, stats_cols="k")
    M.commit_append(spark, lake, _src(spark, 100, 150), stats_cols=["k"])
    snap = M.read_snapshot(spark, lake)
    assert snap.count() == 150
    r = M.metadata_agg(
        spark, lake, min_cols=["k"], max_cols=["k"], allow_scan=False
    ).collect()[0]
    assert (r["count_rows"], r["min_k"], r["max_k"]) == (150, 0, 149)
    # additive evolution through the python writer
    _write(
        _src(spark, 150, 160).withColumn("extra", F.lit("e")), lake
    )
    snap2 = M.read_snapshot(spark, lake, merge_schema=True)
    assert "extra" in snap2.columns and snap2.count() == 160


def test_writer_colmap_append_logical_names(spark, tmp_path):
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    _write(_src(spark, 0, 20), lake)
    M.rename_column(spark, lake, "x", "score")
    _write(
        _src(spark, 20, 30).withColumnRenamed("x", "score"), lake
    )
    snap = M.read_snapshot(spark, lake)
    assert "score" in snap.columns and snap.count() == 30
    # segments stayed uniform-physical: the renamed column reads across
    # both writers' segments
    assert snap.filter(F.col("score").isNotNull()).count() == 24


def test_writer_refusals(spark, tmp_path):
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    _write(_src(spark, 0, 10), lake)
    M.set_constraint(spark, lake, "pos", "k >= 0")
    with pytest.raises(Exception, match="constraint"):
        _write(_src(spark, 10, 20), lake)
    with pytest.raises(Exception, match="local"):
        _write(_src(spark, 0, 5), "s3://bucket/lake")
    lake2 = str(tmp_path / "wlake2")  # constraint-free lake for drift
    _write(_src(spark, 0, 10), lake2)
    with pytest.raises(Exception, match="drift"):
        _write(
            _src(spark, 0, 5).select(
                F.col("k").cast("string").alias("k"), "band", "x"
            ),
            lake2,
        )


def test_writer_empty_frame_keeps_reads_valid(spark, tmp_path):
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    _write(_src(spark, 0, 0), lake)
    assert M.read_snapshot(spark, lake).count() == 0
    assert M.read_snapshot(spark, lake).columns == ["k", "band", "x"]
    _write(_src(spark, 0, 5), lake)
    assert M.read_snapshot(spark, lake).count() == 5


# --------------------------------------------------- streaming write


def _pump(spark, src_lake, dst_lake, ckpt, tag="q1"):
    from nba_pipeline_spark.sources.lake_stream import register_lake_stream

    register_lake_stream(spark)
    register_lake_source(spark)
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", src_lake)
        .load()
        .drop("_commit_version")
        .writeStream.format("manifest_lake")
        .option("path", dst_lake)
        .option("checkpoint_tag", tag)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_writer_lake_to_lake_exactly_once(spark, tmp_path):
    """manifest_stream -> manifest_lake: the whole table format
    round-trips through format() streaming, and a checkpoint restart
    re-delivers nothing (version-offset source) while a forced replay
    of the same batch is absorbed by the batchId tag."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    M.commit_append(spark, src, _src(spark, 0, 60))
    M.commit_append(spark, src, _src(spark, 60, 100))
    _pump(spark, src, dst, ckpt)
    got = sorted(r["k"] for r in M.read_snapshot(spark, dst).collect())
    assert got == list(range(100))
    # restart on the same checkpoint: no new source versions -> the
    # destination is unchanged (no empty-batch version churn either)
    v = M.current_version(spark, dst)
    _pump(spark, src, dst, ckpt)
    assert M.current_version(spark, dst) == v
    assert M.read_snapshot(spark, dst).count() == 100
    # new source commit flows incrementally
    M.commit_append(spark, src, _src(spark, 100, 110))
    _pump(spark, src, dst, ckpt)
    assert M.read_snapshot(spark, dst).count() == 110


def test_stream_writer_replay_tag_absorbs_duplicate_batch(spark, tmp_path):
    """A FRESH checkpoint re-delivers the whole source from version 0;
    with the SAME checkpoint_tag the replayed batch 0 is a no-op, so
    rows are not duplicated."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    M.commit_append(spark, src, _src(spark, 0, 50))
    _pump(spark, src, dst, str(tmp_path / "ckpt1"), tag="same")
    _pump(spark, src, dst, str(tmp_path / "ckpt2"), tag="same")
    assert M.read_snapshot(spark, dst).count() == 50


def test_stream_writer_refuses_complete_mode(spark, tmp_path):
    from nba_pipeline_spark.sources.lake_datasource import (
        ManifestLakeStreamWriter,
    )

    with pytest.raises(ValueError, match="append output mode"):
        ManifestLakeStreamWriter({"path": str(tmp_path)}, None, True)


def test_writer_concurrent_appends_serialize(spark, tmp_path):
    """Four threads race writer commits into one lake: the os.link CAS
    serializes them — every row lands exactly once, versions are
    distinct, no manifest is lost. (Driven through the writer objects
    directly: concurrent format() save() calls trip an engine-side
    python-datasource lookup race unrelated to the commit protocol.)"""
    import pyarrow as pa
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import StructType

    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    _write(_src(spark, 0, 10), lake)  # establish schema
    schema = (
        StructType()
        .add("k", "long")
        .add("band", "long")
        .add("x", "double")
    )
    from nba_pipeline_spark.sources.lake_datasource import ManifestLakeWriter

    def go(i):
        w = ManifestLakeWriter({"path": lake}, schema, False)
        lo = 100 * (i + 1)
        batch = pa.record_batch(
            {
                "k": pa.array(range(lo, lo + 50), pa.int64()),
                "band": pa.array([v % 4 for v in range(lo, lo + 50)], pa.int64()),
                "x": pa.array([float(v) for v in range(lo, lo + 50)]),
            }
        )
        msg = w.write(iter([batch]))
        w.commit([msg])

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(go, range(4)))
    snap = M.read_snapshot(spark, lake)
    got = sorted(r["k"] for r in snap.collect())
    exp = sorted(
        list(range(10))
        + [k for i in range(4) for k in range(100 * (i + 1), 100 * (i + 1) + 50)]
    )
    assert got == exp
    assert len(M._manifest_versions(spark, lake)) == 5


def test_writer_commit_in_commit_append_window_both_land(
    spark, tmp_path, race_before_rename
):
    """A datasource writer commits (in its own Python worker) between
    commit_append's build and its publish. The writer and the JVM-side
    op share one commit point, so commit_append's publish loses, it
    rebuilds on the writer's version, and both commits land."""
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    M.commit_append(spark, lake, _src(spark, 0, 10))
    fired = race_before_rename(lambda: _write(_src(spark, 10, 20), lake))
    assert M.commit_append(spark, lake, _src(spark, 20, 30)) == 3
    assert fired
    ops = [M._read_manifest(spark, lake, v)["op"] for v in (1, 2, 3)]
    assert ops == ["append", "append", "append"]
    assert len(M._read_manifest(spark, lake, 3)["segments"]) == 3
    got = sorted(r["k"] for r in M.read_snapshot(spark, lake).collect())
    assert got == list(range(30))


def test_writer_stats_merge_null_first_batch(spark, tmp_path):
    """Executor-side stats merge is None-tolerant: a task whose FIRST
    Arrow batch is all-NULL in a stats column ([None, None]) must not
    crash when a later batch of the same task carries values
    (min(None, mn) raises) — ADVICE r8 #1."""
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        df = (
            spark.range(0, 10)
            .coalesce(1)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 4).alias("band"),
                F.when(F.col("id") < 5, None)
                .otherwise(F.col("id").cast("double"))
                .alias("x"),
            )
        )
        _write(df, lake, stats_cols="k,x")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    r = M.metadata_agg(
        spark, lake, min_cols=["x"], max_cols=["x"], count_cols=["x"],
        allow_scan=False,
    ).collect()[0]
    assert (r["min_x"], r["max_x"], r["count_x"]) == (5.0, 9.0, 5)


def test_writer_refuses_generated_columns(spark, tmp_path):
    """Generated columns are a contract every JVM write path validates
    (_apply_generated); the JVM-less DataSource writer must refuse
    rather than commit unvalidated values — ADVICE r8 #2."""
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    _write(_src(spark, 0, 10).withColumn("g2", F.col("k") * 2), lake)
    M.set_generated_column(spark, lake, "g2", "k * 2")
    with pytest.raises(Exception, match="generated"):
        _write(
            _src(spark, 10, 20).withColumn("g2", F.col("k") * 2), lake
        )
    # commit_append (which validates) still works
    M.commit_append(
        spark, lake, _src(spark, 10, 20).withColumn("g2", F.col("k") * 2)
    )
    assert M.read_snapshot(spark, lake).count() == 20


def test_writer_overwrite_clears_widened_flag(spark, tmp_path):
    """A DataSource overwrite rewrote every file at the supplied
    schema, so the type-widening flag must clear (commit_replace
    semantics) — otherwise merge/delete keep refusing until a
    pointless compact() — ADVICE r8 #5."""
    register_lake_source(spark)
    lake = str(tmp_path / "wlake")
    M.commit_append(
        spark, lake,
        spark.range(0, 20).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 4).alias("band"),
            F.col("id").cast("double").alias("x"),
        ),
    )
    M.widen_column_type(spark, lake, "k", "bigint")
    with pytest.raises(ValueError, match="widened"):
        M.commit_delete(
            spark, lake,
            M.read_snapshot(spark, lake).filter("k = 1").select("k"), ["k"],
        )
    _write(_src(spark, 0, 30), lake, mode="overwrite")  # k is bigint here
    # flag cleared: modify-in-place ops work with no compact()
    M.commit_delete(
        spark, lake,
        M.read_snapshot(spark, lake).filter("k = 1").select("k"), ["k"],
    )
    assert M.read_snapshot(spark, lake).count() == 29
    assert dict(M.read_snapshot(spark, lake).dtypes)["k"] == "bigint"


def test_bloom_keys_empty_list_prunes_everything(spark, tmp_path):
    """An any-of-NOTHING probe ({col: []}) proves no key can match:
    every bloomed segment prunes, the read returns an empty frame with
    the table schema, and nothing crashes (adversarial r9 catch — the
    empty local probe frame used to fail schema inference)."""
    lake = str(tmp_path / "bloomlake")
    M.commit_append(
        spark, lake,
        spark.range(0, 50).select(F.col("id").alias("k")),
        bloom_cols=["k"],
    )
    t = read_lake(spark, lake, bloom_keys={"k": []})
    assert t.columns == ["k"] and t.count() == 0
    assert M.read_snapshot(spark, lake, bloom_eq={"k": []}).count() == 0
    assert M.resolve_segments(spark, lake, bloom_eq={"k": []}) == []
