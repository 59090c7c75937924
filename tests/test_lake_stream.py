"""spark.readStream.format("manifest_stream") over the manifest lake:
version-offset micro-batches, restart continuation from the engine
checkpoint, commit-version attribution, and the non-append contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.sources import manifest as M
from nba_pipeline_spark.sources.lake_stream import register_lake_stream


def _rows(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _run_available(spark, lake, ckpt, out: list, **opts):
    reader = spark.readStream.format("manifest_stream").option("path", lake)
    for k, val in opts.items():
        reader = reader.option(k, val)
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_appends_stream_with_version_attribution(spark, tmp_path):
    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a"), (2, "b")]))
    M.commit_append(spark, lake, _rows(spark, [(3, "c")]))
    got: list = []
    _run_available(spark, lake, ckpt, got)
    assert {(r["k"], r["v"], r["_commit_version"]) for r in got} == {
        (1, "a", 1), (2, "b", 1), (3, "c", 2),
    }
    # restart with the same checkpoint: only the NEW commit arrives
    M.commit_append(spark, lake, _rows(spark, [(4, "d")]))
    got2: list = []
    _run_available(spark, lake, ckpt, got2)
    assert {(r["k"], r["_commit_version"]) for r in got2} == {(4, 3)}
    # nothing new: empty batch, no duplicates
    got3: list = []
    _run_available(spark, lake, ckpt, got3)
    assert got3 == []


def test_non_append_commit_fails_stream(spark, tmp_path):
    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    M.commit_replace(spark, lake, _rows(spark, [(1, "z")]))
    got: list = []
    with pytest.raises(Exception, match="not[ -]append"):
        _run_available(spark, lake, ckpt, got)


def test_ignore_changes_skips_non_append(spark, tmp_path):
    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    M.commit_replace(spark, lake, _rows(spark, [(1, "z")]))
    M.commit_append(spark, lake, _rows(spark, [(2, "b")]))
    got: list = []
    _run_available(spark, lake, ckpt, got, ignore_changes="true")
    # v1 append + v3 append flow; the replace (v2) is skipped wholesale
    # (v2's consolidated segment is NOT an append -> nothing from it;
    # v3's new segment still arrives)
    assert {(r["k"], r["_commit_version"]) for r in got} == {(1, 1), (2, 3)}


def test_batch_of_only_skipped_versions_is_empty(spark, tmp_path):
    # a planned range containing ONLY a skipped (non-append) version
    # exercises the placeholder-partition path and yields zero rows
    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    got: list = []
    _run_available(spark, lake, ckpt, got, ignore_changes="true")
    assert len(got) == 1
    M.commit_replace(spark, lake, _rows(spark, [(1, "z")]))
    got2: list = []
    _run_available(spark, lake, ckpt, got2, ignore_changes="true")
    assert got2 == []


def test_pre_evolution_files_null_fill(spark, tmp_path):
    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    M.commit_append(
        spark, lake, spark.createDataFrame([(2, "b", 9)], "k int, v string, w int")
    )
    got: list = []
    _run_available(spark, lake, ckpt, got)
    rows = {r["k"]: (r["v"], r["w"]) for r in got}
    assert rows == {1: ("a", None), 2: ("b", 9)}


def test_stream_past_retention_raises_descriptive(spark, tmp_path):
    # a fresh checkpoint starts at version 0; on a vacuumed lake the
    # covering manifests are gone — the source must say "retention",
    # not leak a raw FileNotFoundError
    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    M.commit_append(spark, lake, _rows(spark, [(2, "b")]))
    M.commit_append(spark, lake, _rows(spark, [(3, "c")]))
    M.vacuum(spark, lake, keep_versions=1)
    got: list = []
    with pytest.raises(Exception, match="retention"):
        _run_available(spark, lake, ckpt, got)


def test_mid_stream_evolution_projects_to_declared_schema(spark, tmp_path):
    # the reader's output schema is pinned at stream start; a batch
    # planned AFTER an additive evolution must project the new column
    # away (picked up on restart), not fail with an arrow mismatch
    from pyspark.sql.types import StructType

    from nba_pipeline_spark.sources.lake_stream import ManifestStreamReader

    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    declared = StructType.fromDDL("k int, v string, _commit_version int")
    reader = ManifestStreamReader({"path": lake}, declared)
    # additive evolution lands mid-stream
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(2, "b", 9)], "k int, v string, extra int"),
    )
    parts = reader.partitions({"version": 0}, {"version": 2})
    batches = [b for p in parts for b in reader.read(p)]
    names = set().union(*(set(b.schema.names) for b in batches))
    assert names == {"k", "v", "_commit_version"}
    # and a reader declared BEFORE the pin sees all its columns
    rows = sum(b.num_rows for b in batches)
    assert rows == 2


def test_starting_version_and_latest(spark, tmp_path):
    # Delta parity: startingVersion=N includes version N's changes and
    # never plans earlier offsets (a stream can start on a vacuumed
    # lake); "latest" streams only commits made after the start
    register_lake_stream(spark)
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    M.commit_append(spark, lake, _rows(spark, [(2, "b")]))
    M.commit_append(spark, lake, _rows(spark, [(3, "c")]))
    got: list = []
    _run_available(
        spark, lake, str(tmp_path / "c1"), got, starting_version="2"
    )
    assert {(r["k"], r["_commit_version"]) for r in got} == {(2, 2), (3, 3)}
    # works where a fresh full-history checkpoint would die on retention
    M.vacuum(spark, lake, keep_versions=2)
    got2: list = []
    _run_available(
        spark, lake, str(tmp_path / "c2"), got2, starting_version="3"
    )
    assert {(r["k"], r["_commit_version"]) for r in got2} == {(3, 3)}
    # latest: nothing yet; a new commit then arrives on the SAME checkpoint
    got3: list = []
    ck = str(tmp_path / "c3")
    _run_available(spark, lake, ck, got3, starting_version="latest")
    assert got3 == []
    M.commit_append(spark, lake, _rows(spark, [(4, "d")]))
    _run_available(spark, lake, ck, got3, starting_version="latest")
    assert {(r["k"], r["_commit_version"]) for r in got3} == {(4, 4)}


def test_starting_timestamp(spark, tmp_path):
    register_lake_stream(spark)
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))
    M.commit_append(spark, lake, _rows(spark, [(2, "b")]))
    cut = float(M._read_manifest(spark, lake, 2)["ts"])  # at-or-after streams
    M.commit_append(spark, lake, _rows(spark, [(3, "c")]))
    got: list = []
    _run_available(
        spark, lake, str(tmp_path / "ck"), got, starting_timestamp=str(cut)
    )
    assert {(r["k"], r["_commit_version"]) for r in got} == {(2, 2), (3, 3)}


def test_stream_over_file_scheme_uri(spark, tmp_path):
    # the portability seam end-to-end on a scheme'd URI: the lake is
    # written and streamed through "file://..." so every pyarrow.fs
    # resolution (versions, manifests, segment listing, executor read)
    # exercises the URI-parsing path, not the bare-path fallback
    register_lake_stream(spark)
    lake = f"file://{tmp_path}/lake"
    ckpt = str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a"), (2, "b")]))
    M.commit_append(spark, lake, _rows(spark, [(3, "c")]))
    got: list = []
    _run_available(spark, lake, ckpt, got)
    assert {(r["k"], r["v"], r["_commit_version"]) for r in got} == {
        (1, "a", 1), (2, "b", 1), (3, "c", 2),
    }


def test_mid_stream_rename_raises_clear_restart_error(spark, tmp_path):
    # ADVICE r7: a rename_column landing mid-stream used to surface as
    # a raw arrow schema mismatch; planning now raises the real
    # diagnosis (restart the stream — the offset stays valid)
    import pytest

    from nba_pipeline_spark.sources.lake_stream import register_lake_stream

    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, spark.createDataFrame([(1, "a")], "k int, v string"))
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
    assert len(got) == 1
    # the rename lands between triggers; the NEXT batch must fail with
    # the restart diagnosis, not an arrow mismatch
    M.rename_column(spark, lake, "v", "label")
    M.commit_append(
        spark, lake, spark.createDataFrame([(2, "b")], "k int, label string")
    )
    q2 = (
        spark.readStream.format("manifest_stream")
        .option("path", lake)
        .schema(spark.createDataFrame([], "k int, v string, _commit_version int").schema)
        .load()
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="no longer resolve|rename_column"):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()


def test_chunked_backfill_bounded_batches_and_exactly_once_handoff(spark, tmp_path):
    # VERDICT r7 next #7: a large settled backlog ingests in BOUNDED
    # chunks, the checkpoint resumes mid-backfill, and the returned
    # stream delivers exactly the post-pin commits — nothing twice,
    # nothing skipped.
    from nba_pipeline_spark.sources.lake_stream import stream_after_backfill

    lake = str(tmp_path / "lake")
    state = str(tmp_path / "bfstate")
    for i in range(20):  # 20 append commits = 20 segments of 5 rows
        M.commit_append(
            spark, lake,
            spark.createDataFrame(
                [(i * 5 + j, f"d{i}") for j in range(5)], "id int, t string"
            ),
        )
    seen: list = []
    spans: list = []

    def process(df, idx, n_chunks):
        rows = df.collect()
        seen.extend(r["id"] for r in rows)
        spans.append((idx, n_chunks, len(rows)))
        if idx == 1:
            raise RuntimeError("simulated crash after chunk 0 committed")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        stream_after_backfill(spark, lake, process, state, chunk_segments=6)
    assert [s[0] for s in spans] == [0, 1]  # crashed inside chunk 1
    # resume: chunk 0 NOT redelivered (checkpointed); chunk 1 redelivers
    seen_resume: list = []

    def process2(df, idx, n_chunks):
        seen_resume.append((idx, df.count()))

    reader = stream_after_backfill(spark, lake, process2, state, chunk_segments=6)
    assert [i for i, _ in seen_resume] == [1, 2, 3]  # 20 segs / 6 = 4 chunks
    total = sum(n for _, n in seen_resume) + spans[0][2]
    assert total == 100  # every backlog row exactly once across the runs
    # completed backfill re-runs as a no-op
    seen3: list = []
    stream_after_backfill(
        spark, lake, lambda df, i, n: seen3.append(i), state, chunk_segments=6
    )
    assert seen3 == []
    # live tail: two commits AFTER the pin stream from V+1 — and only they
    M.commit_append(
        spark, lake, spark.createDataFrame([(1000, "new")], "id int, t string")
    )
    M.commit_append(
        spark, lake, spark.createDataFrame([(1001, "new")], "id int, t string")
    )
    got: list = []
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r["id"] for r in got) == [1000, 1001]
    assert {r["_commit_version"] for r in got} == {21, 22}


def test_manifest_stream_survives_skipped_version_numbers(spark, tmp_path):
    """A WAP/branch publish skips version numbers (min_version): the
    stream plans the versions that EXIST and diffs against the
    manifest's recorded parent, never a dense v-1 probe (ADVICE r10
    #1 — the dense probe wedged on a never-vacuumed lake)."""
    register_lake_stream(spark)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    M.commit_append(spark, lake, _rows(spark, [(1, "a")]))       # v1
    M.create_branch(spark, lake, "wap")
    bpath = M.branch_path(lake, "wap")
    M.commit_append(spark, bpath, _rows(spark, [(2, "b")]))      # b v2
    M.commit_append(spark, bpath, _rows(spark, [(3, "c")]))      # b v3
    M.publish_branch(spark, lake, "wap")                         # main v3
    from nba_pipeline_spark.sources.manifest_store import versions

    assert versions(lake) == [1, 3]
    got: list = []
    _run_available(spark, lake, ckpt, got)
    assert {(r["k"], r["v"], r["_commit_version"]) for r in got} == {
        (1, "a", 1), (2, "b", 3), (3, "c", 3),
    }
