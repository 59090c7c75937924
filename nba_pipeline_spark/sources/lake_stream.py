"""Structured Streaming source over the manifest lake:
``spark.readStream.format("manifest_stream").load(path)``.

Delta ``readStream`` parity for the append-only case: offsets are
TABLE VERSIONS (the engine checkpoints them, so restarts resume
exactly after the last committed version), each micro-batch emits the
segments newly appended in ``(start, end]``, one input partition per
parquet file (executor-side pyarrow scan — the driver never touches
data), and every row carries its ``_commit_version`` for attribution.

Non-append commits (MERGE, delete, replace, compaction) rewrite or
remove rows and cannot stream incrementally without retraction — the
source RAISES on them, like Delta without ``ignoreChanges``; pass
``.option("ignore_changes", "true")`` to skip those versions entirely
(coarser than Delta's ignoreChanges, which re-emits rewritten files —
skipping is the honest semantics when downstream can't dedup). For
retraction-aware consumers use the valued change feed
(`manifest.snapshot_diff` / `consume_feed`) instead.

``.option("starting_version", N | "latest")`` /
``.option("starting_timestamp", epoch_seconds)`` set the first offset
(Delta startingVersion/startingTimestamp parity): version N's changes
are included; "latest" streams only post-start commits; earlier
offsets are never planned, so a stream can begin on a vacuumed lake
(serve history with a batch read_snapshot, stream from here).

A Python DataSource's planning methods run in a Python worker with no
Py4J gateway (``spark._jvm`` is unreachable here by construction), so
nothing here touches the Hadoop FS API. Metadata — KB-sized JSON
manifests — is listed and read through ``manifest_store`` (plain
``os`` on local lakes, ``pyarrow.fs`` on object stores), the same
module every other lake reader and writer uses. Data is read in
executors by the lake's shared Arrow read path
(``lake_datasource._seg_files`` / ``_read_logical``), through
``pyarrow.fs`` resolved from the lake URI, so the source plans and
reads against ``file://``, ``s3://`` and ``gs://`` lakes alike (hdfs
via libhdfs where deployed). At 100 TB the per-trigger work is
O(newly appended files) — the same floor as Spark's own file-stream
source, minus its unbounded seen-file ledger (the version offset IS
the ledger).

Schema comes from the manifest's recorded schema (commit-time schema
enforcement stamps it; sources/manifest.py; read through
``lake_datasource._recorded_triples``). A version's appended
segments come from ``_parent_delta``, which manifest_cdf shares.
Files predating an additive evolution null-fill the missing columns
with their manifest-recorded types (failing would wedge the stream
permanently); the stream's OWN output schema is pinned at start — a
mid-stream additive evolution's extra columns are projected AWAY
against the declared reader schema (widen by restarting, the usual
streaming-source contract), never an arrow schema mismatch.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..session import register_data_source
from . import manifest_store as store
from .lake_datasource import _read_logical, _recorded_triples, _seg_files
from .manifest_store import _RetentionGap


def _start_floor(fmt: str, path: str, options) -> int:
    """The exclusive start offset of a stream over the lake — Delta
    startingVersion / startingTimestamp parity. Offsets BEFORE it are
    never planned, so a stream can begin on a vacuumed lake (serve the
    history via a batch read_snapshot, then stream from here). Unset =
    0, the beginning; "latest" = only commits made after the stream
    starts."""
    sv = options.get("starting_version")
    sts = options.get("starting_timestamp")
    if sv is not None and sts is not None:
        raise ValueError(
            f"{fmt}: pass starting_version OR starting_timestamp, not both"
        )
    if sv is not None and str(sv).lower() == "latest":
        vs = store.versions(path)
        return vs[-1] if vs else 0
    if sv is not None:
        # "start AT version N" (version N's changes are included); 0 =
        # "from the beginning", clamped so the first batch never plans
        # a version 0 the lake does not have
        return max(int(sv) - 1, 0)
    if sts is None:
        return 0
    # newest commit strictly BEFORE ts is the exclusive floor: commits
    # at-or-after ts stream
    ts = float(sts)
    floor = 0
    for v in store.versions(path):
        try:
            m_ts = float(store.read_manifest(path, v).get("ts", 0.0))
        except _RetentionGap:
            continue  # vacuumed: can't predate ts usefully
        if m_ts < ts:
            floor = v
    return floor


def _parent_delta(path: str, m: dict) -> tuple:
    """(parent manifest or None, removed segments, added segments,
    whether the tombstone list changed) of manifest `m` against its
    RECORDED parent, not v-1: WAP/branch publish skips version numbers
    (min_version) and a dense v-1 probe would raise a spurious
    _RetentionGap. A parent whose manifest truly IS vacuumed still
    raises _RetentionGap — the base state is unreconstructable."""
    par = m.get("parent")
    m0 = store.read_manifest(path, par) if par else None
    segs0 = list(m0["segments"]) if m0 else []
    have0, have1 = set(segs0), set(m["segments"])
    removed = [s for s in segs0 if s not in have1]
    added = [s for s in m["segments"] if s not in have0]
    dels0 = list(m0.get("deletes", [])) if m0 else []
    return m0, removed, added, dels0 != list(m.get("deletes", []))


class ManifestStreamDataSource(DataSource):
    """format("manifest_stream") — streaming reads of lake appends."""

    def __init__(self, options=None) -> None:
        super().__init__(options or {})

    @classmethod
    def name(cls) -> str:
        return "manifest_stream"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("manifest_stream requires a path option")
        trip = _recorded_triples("manifest_stream", path)
        cols = ", ".join(f"{n} {t}" for n, t, _ in trip)
        return cols + ", _commit_version int"

    def streamReader(self, schema) -> "ManifestStreamReader":
        return ManifestStreamReader(self.options, schema)


class ManifestStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema=None) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("manifest_stream requires a path option")
        self._path = path
        self._ignore_changes = (
            str(options.get("ignore_changes", "false")).lower() == "true"
        )
        self._start_version = _start_floor("manifest_stream", path, options)
        # the reader's DECLARED output columns, pinned at stream start:
        # batches must project down to exactly these (minus the
        # attribution column we append ourselves)
        self._declared = (
            [f.name for f in schema.fields if f.name != "_commit_version"]
            if schema is not None
            else None
        )

    def initialOffset(self) -> dict:
        return {"version": self._start_version}

    def latestOffset(self) -> dict:
        # No rate limiting: the Python DataSource API has no admission
        # control (latestOffset never sees the start offset, and the
        # planning calls may be served by separate worker processes,
        # so instance state can't track position) — a faked cap risks
        # regressing the offset after restart = duplicate emission.
        # Chunked backfills: batch-read read_snapshot() for history,
        # then stream with starting_version.
        vs = store.versions(self._path)
        return {"version": vs[-1] if vs else 0}

    def _new_files(self, v: int) -> list[tuple[str, int]]:
        """(parquet file, version) pairs appended by version v; raises
        (or skips under ignore_changes) for non-append commits."""
        cur = store.read_manifest(self._path, v)
        _, removed, added, dels_changed = _parent_delta(self._path, cur)
        if removed or dels_changed:
            if self._ignore_changes:
                return []
            raise ValueError(
                f"manifest_stream: version {v} ({cur.get('op')}) is not "
                "append-only (segments removed or tombstones changed) — "
                "restart from a snapshot, or set ignore_changes=true to "
                "skip such commits, or consume the valued change feed"
            )
        return [(f, v) for s in added for f in _seg_files(self._path, s)]

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start.get("version", 0)), int(end.get("version", 0))
        # schema pinned AT PLANNING from the batch's end version and
        # shipped inside each partition: an executor must never resolve
        # "latest" itself (a replace landing mid-batch would swap the
        # column set under a running task). Projected DOWN to the
        # reader's declared schema: a mid-stream additive evolution
        # otherwise widens the batch past the pinned reader schema and
        # fails the batch with an arrow mismatch — extra columns are
        # picked up on restart, per the stated contract.
        cols = (
            _recorded_triples("manifest_stream", self._path, hi) if hi else []
        )
        if self._declared is not None:
            declared = set(self._declared)
            cols = [p for p in cols if p[0] in declared]
            # a DECLARED column that no longer resolves means a
            # mid-stream rename/drop changed the logical schema: the
            # planned batch would be missing a pinned column and fail
            # with a raw arrow mismatch downstream — raise the real
            # diagnosis at planning time instead (ADVICE r7; same
            # stance as _RetentionGap: restartable, never corrupting)
            resolved = {p[0] for p in cols}
            missing = sorted(declared - resolved)
            if missing and hi:
                raise ValueError(
                    f"manifest_stream: declared column(s) {missing} no "
                    f"longer resolve in table version {hi} — a mid-stream "
                    "rename_column/drop_column changed the logical schema. "
                    "Restart the stream against the current schema (the "
                    "checkpointed offset is still valid)"
                )
        parts = []
        # only versions that EXIST in (lo, hi] — numbering may skip
        for v in store.versions(self._path):
            if not (lo < v <= hi):
                continue
            parts.extend(
                InputPartition((f, ver, cols)) for f, ver in self._new_files(v)
            )
        # an all-skipped range still needs >=1 (empty) partition: the
        # engine requires a non-empty partition list for a planned batch
        return parts or [InputPartition(None)]

    def read(self, partition):
        import pyarrow as pa

        if partition.value is None:
            return
        fname, version, sch_cols = partition.value
        out = _read_logical(fname, sch_cols)
        yield from out.append_column(
            "_commit_version", pa.array([version] * out.num_rows, pa.int32())
        ).to_batches()

    def commit(self, end: dict) -> None:
        pass  # the engine's checkpointed offset is the only state


def register_lake_stream(spark) -> None:
    """Idempotent registration of format("manifest_stream")."""
    register_data_source(spark, ManifestStreamDataSource)


def stream_after_backfill(
    spark,
    path: str,
    process,
    state_path: str,
    chunk_segments: int = 8,
    **stream_options,
):
    """Bounded-batch backlog ingestion + exactly-once stream handoff in
    ONE call (VERDICT r7 next #7): drive the settled snapshot through
    ``manifest.backfill_snapshot_chunks`` (at most `chunk_segments`
    segments per process() call, chunk-checkpointed under
    `state_path`), then return a ``readStream`` reader pinned at
    ``starting_version = V + 1`` so the stream delivers exactly the
    commits the backfill did NOT cover. The caller starts the returned
    reader with its own streaming checkpoint; re-running the whole
    call after any crash resumes the backfill where it stopped and
    hands off at the same pinned V (the backfill state records it)."""
    from . import manifest as M

    register_lake_stream(spark)
    v = M.backfill_snapshot_chunks(
        spark, path, process, state_path, chunk_segments=chunk_segments
    )
    reader = (
        spark.readStream.format("manifest_stream")
        .option("path", path)
        .option("starting_version", str(v + 1))
    )
    for k, val in stream_options.items():
        reader = reader.option(k, val)
    return reader
