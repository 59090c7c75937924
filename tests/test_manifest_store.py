"""The manifest store (sources/manifest_store.py): one module lists,
reads and commits the lake's metadata. Local lakes never touch Hadoop
for it, the local commit point is atomic across processes, and lakes
that still hold Hadoop checksum siblings keep reading."""

from __future__ import annotations

import ast
import multiprocessing
from pathlib import Path

from nba_pipeline_spark.sources import manifest as M
from nba_pipeline_spark.sources import manifest_store as store


def _no_hadoop(monkeypatch):
    def refuse(*a, **k):
        raise AssertionError("Hadoop metadata call on a local lake")

    monkeypatch.setattr(store._Hadoop, "__init__", refuse)
    # the data-plane Hadoop helper too: none of these ops needs it
    monkeypatch.setattr(M, "_fs", refuse)


def test_store_imports_no_pyspark():
    src = Path(store.__file__).read_text()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""]
        else:
            continue
        assert not any(n.split(".")[0] in ("pyspark", "py4j") for n in names)


def test_local_lake_metadata_never_goes_through_hadoop(spark, tmp_path, monkeypatch):
    _no_hadoop(monkeypatch)
    lake = str(tmp_path / "lake")
    M.commit_append(
        spark, lake, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    M.commit_upsert(
        spark, lake,
        spark.createDataFrame([(2, "B", 1), (3, "c", 1)], "k int, v string, ver int"),
        ["k"], "ver",
    )
    assert M.checkpoint_manifest(spark, lake) == 2
    assert M._read_ckpt(spark, lake)["version"] == 2
    seen: list = []
    state = str(tmp_path / "state")
    n = M.consume_feed(
        spark, lake, ["k"], state, lambda df, v: seen.append(v), max_versions=1
    )
    assert (n, seen) == (1, [1])
    assert store.read_json(f"{state}/high_water.json") == {"version": 1}
    rows = M.read_snapshot(spark, lake).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, "a"), (2, "B"), (3, "c")]


def test_stale_hadoop_checksums_do_not_break_local_reads(spark, tmp_path):
    """Lakes committed through Hadoop's local FS hold ``.crc`` siblings;
    once Python replaces ``_ckpt.json`` its old checksum is stale, so
    every local read must bypass Hadoop."""
    lake = str(tmp_path / "lake")
    M.commit_append(spark, lake, spark.createDataFrame([(1,)], "k int"))
    M.checkpoint_manifest(spark, lake)
    mdir = Path(lake) / "_manifests"
    for name in (".v00000001.json.crc", "._ckpt.json.crc"):
        (mdir / name).write_bytes(b"not a checksum")
    M.commit_append(spark, lake, spark.createDataFrame([(2,)], "k int"))
    assert M.checkpoint_manifest(spark, lake) == 2
    assert sorted(M._read_ckpt(spark, lake)["entries"]) == ["1", "2"]
    assert M._manifest_versions(spark, lake) == [1, 2]
    assert M.read_snapshot(spark, lake).count() == 2


def test_file_uri_and_bare_path_share_the_local_backend(tmp_path):
    lake = str(tmp_path / "lake")
    f = store.manifest_file(f"file://{lake}", 1)
    assert store.write_if_absent(f, {"version": 1, "segments": []})
    assert not store.write_if_absent(store.manifest_file(lake, 1), {"version": 9})
    assert store.versions(lake) == store.versions(f"file:{lake}") == [1]
    assert store.read_manifest(lake, 1)["version"] == 1
    # no tmp file survives either outcome
    assert sorted(p.name for p in (tmp_path / "lake" / "_manifests").iterdir()) == [
        "v00000001.json"
    ]


def _append_ten(lake: str, who: int, barrier) -> None:
    from nba_pipeline_spark.sources import manifest as M

    barrier.wait()
    for j in range(10):
        seg = f"seg-{who}-{j}"
        M._commit(None, lake, "append", lambda p, s=seg: M._carry(p) + [s])


def test_two_process_commits_serialize(tmp_path):
    """Two processes commit 10 appends each to one local lake with no
    session at all: the hard-link commit point lets exactly one writer
    take each version, so all 20 land on a linear history."""
    lake = str(tmp_path / "lake")
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    procs = [ctx.Process(target=_append_ten, args=(lake, w, barrier)) for w in range(2)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
    hung = [p for p in procs if p.is_alive()]
    for p in hung:
        p.terminate()
    assert not hung
    assert [p.exitcode for p in procs] == [0, 0]
    assert store.versions(lake) == list(range(1, 21))
    for v in range(2, 21):
        assert store.read_manifest(lake, v)["parent"] == v - 1
    head = store.read_manifest(lake, 20)["segments"]
    assert sorted(head) == sorted(f"seg-{w}-{j}" for w in range(2) for j in range(10))
