"""Batch Spark 4 Python DataSource over the manifest lake:
``spark.read.format("manifest_lake").option("path", p).load()``.

The SQL-surface mount for the table format: Catalyst's own filter
pushdown (``spark.sql.python.filterPushdown.enabled``) delivers the
query's predicates to ``pushFilters``, which turns them into the SAME
manifest probes the programmatic API takes — equality → partition-tag
+ range, inequalities → min/max ranges, ``IN`` → the point-in-range
bisect — so a plain ``.where(...)`` prunes segments BEFORE any file is
listed, with no caller-passed ``part_eq=/ranges=`` at all. Surviving
files then re-apply the predicates inside pyarrow (row-group stats +
row filtering), and Spark re-evaluates them post-scan: every filter is
returned as unhandled, so pruning is a pure hint and semantics never
depend on it.

Planning runs in a Python worker with no Py4J gateway (same constraint
as the streaming source — sources/lake_stream.py), so the KB-sized
JSON manifests are read through sources/manifest_store.py and data
through pyarrow.fs; the pruning logic itself is imported from
sources/manifest.py (pure-Python functions, engine-free). Bloom
probes can't be HASHED on this path (xxhash64 semantics are not
reimplemented — see manifest._bloom_probe_hashes), but
``read_lake(bloom_keys=...)``
hashes them driver-side (where Py4J exists) and ships the positions
as a read option, so point queries through plain SQL still skip
bloom-negative segments.

Merge-on-read tombstones apply in the Arrow read itself: each file's
seq-applicable tombstone batches anti-join per task
(``_apply_tombstones`` — the ``_read_with_tombstones`` semantics:
seq-fenced, NULL keys match nothing, widened key types cast on both
sides), so a tombstoned lake reads full-fidelity through SQL.
``option("version", N)`` time-travels; the manifest is pinned at
planning so a concurrent commit can't swap files under a running scan
(snapshot isolation, same as the programmatic reader).

Column mapping: files hold PHYSICAL names; this reader emits LOGICAL
ones and translates pushed predicates before probing, like every
other read path. Pre-evolution files null-fill additive columns with
their manifest-recorded types.

This module holds the lake's one Arrow read path, which
format("manifest_stream") and format("manifest_cdf") share:
``_seg_files`` (the parquet files a segment reference names),
``_tomb_specs`` (the tombstones ``manifest._applicable_tombs`` applies
to a segment, with their files), ``_read_logical`` (read a file,
``_apply_tombstones``, then ``_project`` it to logical, recorded-type
columns) and ``_recorded_triples`` (the recorded schema, or an error
naming the reading format).

Performance position: the JVM parquet scan (``read_snapshot``) is the
hot path — vectorized, codegen'd, zero Python. This source trades
that for pushdown-through-SQL convenience at Arrow-batch speed (the
same trade the streaming source already makes); use it where the
consumer is ad-hoc SQL, not the inner loop.

HANDLE-REUSE CAVEAT (upstream Spark 4.1 behavior, verified against
this engine and against the stock Python-DataSource example): the JVM
side caches the planned read (``PythonDataSourceV2.readInfo``) per
``load()`` relation, and a filtered query's pushdown REPLACES that
cache — a later UNFILTERED (or differently-shaped) query on the SAME
DataFrame handle can silently reuse the pruned plan and drop rows.
This affects every Python DataSource with pushFilters under
``spark.sql.python.filterPushdown.enabled``, not just this one.
Contract: take a FRESH ``load()`` per query — ``read_lake`` below
does exactly that and is the recommended entry point. Pinned in
tests/test_lake_datasource.py.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..session import register_data_source, tune
from . import manifest_store as store
from .manifest_store import _DATA_DIR, _pafs, _props_triples

# the lake's one encoding (`manifest._lake_writer`) in pyarrow's terms:
# zstd column chunks and DataPage v2 pages
_PQ_ENCODING = {"compression": "zstd", "data_page_version": "2.0"}

# Spark simpleString -> pyarrow type, for upcasting widened columns and
# null-filling columns a pre-evolution file lacks. Map and struct types
# have no mapping: a file that holds such a column is read with its own
# Arrow type, and null-filling one a pre-evolution file lacks raises — a
# lake whose evolution adds nested columns needs a re-bootstrap, stated
# loudly.
_PA_TYPES = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "string": "string", "boolean": "bool_", "date": "date32",
    "binary": "binary",
}


def _pa_type(simple: str):
    """The Arrow type of a Spark simpleString, or None without a mapping."""
    import pyarrow as pa

    if simple in _PA_TYPES:
        return getattr(pa, _PA_TYPES[simple])()
    if simple.startswith("decimal("):
        p, sc = simple[8:-1].split(",")
        return pa.decimal128(int(p), int(sc))
    if simple.startswith("timestamp"):
        return pa.timestamp("us")
    if simple.startswith("array<") and simple.endswith(">"):
        inner = _pa_type(simple[6:-1])
        return None if inner is None else pa.list_(inner)
    return None


def _required_pa_type(simple: str, fname: str, col: str):
    """`_pa_type` where a column must be made from nothing (a null-fill,
    an empty file): no mapping raises."""
    want = _pa_type(simple)
    if want is None:
        raise ValueError(
            f"manifest lake file {fname}: column {col!r} of type {simple!r} "
            "has no Arrow type to null-fill — re-bootstrap the reader from "
            "a snapshot"
        )
    return want


def _as_type(col, want):
    """`col` upcast to `want`; unchanged when it has that type already
    or `want` is None (no mapping: the file's own type stands)."""
    return col if want is None or col.type == want else col.cast(want)


def _join(base: str, *parts: str) -> str:
    return "/".join([base.rstrip("/"), *parts])


def _recorded_triples(
    fmt: str, path: str, v: int | None = None
) -> list[tuple[str, str, str]]:
    """(logical, type, physical) per column recorded at version `v`
    (the newest when None). Raises, naming the reading format `fmt`,
    on a lake with no commits or no recorded schema."""
    if v is None:
        vs = store.versions(path)
        if not vs:
            raise ValueError(f"{fmt}: no commits at {path}")
        v = vs[-1]
    trip = _props_triples(store.read_manifest(path, v).get("props", {}))
    if not trip:
        raise ValueError(
            f"{fmt}: lake at {path} has no recorded schema "
            "(pre-enforcement lake) — make one write so the schema is "
            "probed and stamped"
        )
    return trip


def _seg_files(path: str, seg: str, base_dir: str = _DATA_DIR) -> list[str]:
    """The parquet files of segment reference `seg` in the lake at
    `path`, sorted by name. `seg` is a URI (a segment on another store),
    an absolute path on the lake's own filesystem, or a name under
    `base_dir`. Each file is returned as the segment-dir URI + base
    name, so an executor re-resolves the filesystem from it — never
    from pyarrow's scheme-stripped FileInfo.path (for S3 it drops the
    scheme, for HDFS the authority; either would resolve the WRONG
    filesystem executor-side)."""
    from pyarrow import fs as pafs

    if "://" in seg:
        dir_uri, (seg_fs, seg_dir) = seg, _pafs(seg)
    else:
        seg_fs, norm = _pafs(path)
        if seg.startswith("/"):
            dir_uri = seg_dir = seg
        else:
            dir_uri = _join(path, base_dir, seg)
            seg_dir = _join(norm, base_dir, seg)
    infos = seg_fs.get_file_info(pafs.FileSelector(seg_dir))
    return [
        _join(dir_uri, info.base_name)
        for info in sorted(infos, key=lambda i: i.base_name)
        if info.base_name.endswith(".parquet")
    ]


def _tomb_specs(path: str, m: dict, seg: str, listed: dict) -> list[tuple]:
    """`_apply_tombstones` input for data segment `seg` under manifest
    `m`: one (delete key columns, or None for a positional deletion
    vector; tombstone files) per tombstone `manifest._applicable_tombs`
    names. `listed` caches each tombstone's files, so one planning call
    lists every tombstone dir once. Tombstone batches are small by the
    commit_delete_mor premise, so each task re-reading them is a
    KB-scale cost (the JVM path broadcasts them per group)."""
    from .manifest import _applicable_tombs

    meta = m.get("meta", {})
    out = []
    for t in _applicable_tombs(seg, list(m.get("deletes", [])), meta):
        tm = meta.get(t, {})
        kcols = None if tm.get("dv") else list(tm.get("delete_keys", ()))
        if kcols == []:
            raise ValueError(
                f"tombstone segment lacks delete_keys metadata: {path}"
            )
        if t not in listed:
            listed[t] = _seg_files(path, t)
        out.append((kcols, listed[t]))
    return out


def _pinned_version(path: str, options) -> int:
    vs = store.versions(path)
    if not vs:
        raise ValueError(f"manifest_lake: no commits at {path}")
    v = options.get("version")
    if v is None:
        return vs[-1]
    v = int(v)
    if v not in vs:
        raise ValueError(
            f"manifest_lake: version {v} not in committed versions {vs}"
        )
    return v


class ManifestLakeDataSource(DataSource):
    """format("manifest_lake") — batch snapshot reads with manifest
    pruning driven by Catalyst's pushed filters."""

    def __init__(self, options=None) -> None:
        super().__init__(options or {})

    @classmethod
    def name(cls) -> str:
        return "manifest_lake"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("manifest_lake requires a path option")
        trip = _recorded_triples(
            "manifest_lake", path, _pinned_version(path, self.options)
        )
        return ", ".join(f"{n} {t}" for n, t, _ in trip)

    def reader(self, schema) -> "ManifestLakeReader":
        return ManifestLakeReader(self.options)

    def writer(self, schema, overwrite: bool) -> "ManifestLakeWriter":
        return ManifestLakeWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return ManifestLakeStreamWriter(self.options, schema, overwrite)


class ManifestLakeReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("manifest_lake requires a path option")
        self._path = path
        self._version = _pinned_version(path, options)
        # pinned at planning: snapshot isolation for the whole scan
        self._m = store.read_manifest(path, self._version)
        # driver-hashed bloom probes shipped through read_lake's
        # bloom_keys= (planning here cannot hash — no engine): JSON
        # {logical_col: [[h1..hk], ...]}, full 64-bit engine hashes
        import json as _json

        bp = options.get("bloom_probes")
        self._bloom_probes = _json.loads(bp) if bp else None
        # pushed-probe state, in LOGICAL column names
        self._part_eq: dict = {}
        self._lo: dict = {}
        self._hi: dict = {}
        self._keys: dict = {}
        # exact per-file re-filter payload: (logical col, op, value)
        self._row_filters: list = []

    # -------------------------------------------------- filter intake

    def pushFilters(self, filters):
        """Translate Catalyst's pushed predicates into manifest probes.
        ALL filters are yielded back (unsupported): the engine keeps
        evaluating them post-scan, so pruning stays a sound hint — a
        dropped probe can only cost speed, never rows."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        # RESET per plan: Spark may reuse one reader instance across
        # several queries over the same loaded DataFrame, calling
        # pushFilters once per scan — probes from the previous plan
        # must not leak into this one
        self._part_eq, self._lo, self._hi = {}, {}, {}
        self._keys, self._row_filters = {}, []

        def col_of(f):
            # nested attributes (a.b) have no manifest metadata — skip
            return f.attribute[0] if len(f.attribute) == 1 else None

        for f in filters:
            c = col_of(f)
            if c is not None:
                if isinstance(f, EqualTo) and f.value is not None:
                    self._part_eq[c] = f.value
                    self._lo[c] = max_or(self._lo.get(c), f.value)
                    self._hi[c] = min_or(self._hi.get(c), f.value)
                    self._row_filters.append((c, "eq", f.value))
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    if f.value is not None:
                        self._lo[c] = max_or(self._lo.get(c), f.value)
                        self._row_filters.append(
                            (c, "gt" if isinstance(f, GreaterThan) else "ge",
                             f.value)
                        )
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    if f.value is not None:
                        self._hi[c] = min_or(self._hi.get(c), f.value)
                        self._row_filters.append(
                            (c, "lt" if isinstance(f, LessThan) else "le",
                             f.value)
                        )
                elif isinstance(f, In):
                    vals = [v for v in f.value if v is not None]
                    if vals:
                        self._keys[c] = vals
                        self._row_filters.append((c, "in", vals))
            yield f  # unhandled: Spark re-evaluates everything

    # ------------------------------------------------------- planning

    def partitions(self):
        from .manifest import _prune_segments, _sortable_keys

        props = self._m.get("props", {})
        cm = dict(props.get("colmap", {}))

        def phys(d: dict) -> dict:
            return {cm.get(c, c): v for c, v in d.items()}

        # CONSUME the pushed probes: Spark keeps one reader instance
        # alive across scans of the same loaded DataFrame and only
        # calls pushFilters when a scan HAS filters — an unfiltered
        # scan planned after a filtered one must not inherit its
        # pruning (that would drop rows, not just speed). pushFilters
        # stores, partitions() takes-and-clears; the engine plans
        # push→partitions as one sequential step per scan.
        part_eq, lo, hi = self._part_eq, self._lo, self._hi
        keys, row_filters = self._keys, self._row_filters
        self._part_eq, self._lo, self._hi = {}, {}, {}
        self._keys, self._row_filters = {}, []
        ranges = {
            c: (lo.get(c), hi.get(c)) for c in set(lo) | set(hi)
        }
        segs = _prune_segments(
            self._m,
            phys(part_eq) or None,
            phys(ranges) or None,
            # blooms: planning can't hash (no engine) but read_lake
            # could — caller-hashed probes arrive via the option
            phys(self._bloom_probes) if self._bloom_probes else None,
            _sortable_keys(phys(keys)),
        )
        cols = _props_triples(props) or []
        row_filters = [
            (cm.get(c, c), op, val) for c, op, val in row_filters
        ]
        # merge-on-read tombstones: ship each file the tombstone files
        # + key columns that apply to ITS segment; the executor
        # anti-joins them in `_read_logical`
        listed: dict = {}
        parts = []
        for s in segs:
            tombs = _tomb_specs(self._path, self._m, s, listed)
            parts.extend(
                InputPartition((fname, cols, row_filters, tombs))
                for fname in _seg_files(self._path, s)
            )
        return parts or [InputPartition(None)]

    # ------------------------------------------------- executor read

    def read(self, partition):
        if partition.value is None:
            return
        fname, sch_cols, row_filters, tombs = partition.value
        yield from _read_logical(
            fname, sch_cols, tombs, row_filters
        ).to_batches()


def _project(t, sch_cols, fname):
    """A data file's physical table → the lake's logical rows: each
    recorded (logical, type, physical) column in recorded order, under
    its LOGICAL name (column mapping: files keep the physical one),
    narrow pre-widening columns upcast to the recorded type (int32 →
    int64, float → double — the promotion the JVM reader performs under
    the explicit schema), and columns a pre-evolution file lacks
    null-filled with the recorded type."""
    import pyarrow as pa

    cols = []
    for n, typ, phys in sch_cols:
        if phys in t.column_names:
            cols.append(_as_type(t.column(phys), _pa_type(typ)))
        else:
            cols.append(pa.nulls(t.num_rows, _required_pa_type(typ, fname, n)))
    return pa.table(cols, names=[n for n, _, _ in sch_cols])


def _read_logical(fname, sch_cols, tombs=(), row_filters=()):
    """One data file of the lake as logical rows — the read every Arrow
    reader of the lake shares: read the file, `_apply_tombstones`, then
    `_project`. `row_filters` ((physical col, op, value) triples)
    push into the parquet scan as a pure hint: an unevaluable predicate
    falls back to the unfiltered read, since Spark re-applies every
    pushed filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, norm = _pafs(fname)
    expr = None
    if row_filters:
        have = set(pq.read_schema(norm, filesystem=fs).names)
        expr = _arrow_expr(
            [(c, op, v) for c, op, v in row_filters if c in have]
        )
    unevaluable = (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError)
    if expr is not None and any(k is None for k, _ in tombs):
        # positional deletion vectors index the RAW file's rows: a
        # pushdown-filtered read would shift every surviving row's
        # index, deleting the wrong rows and resurrecting deleted ones.
        # Read unfiltered, mask on raw positions, THEN apply the
        # predicate (only to shrink the Arrow->JVM transfer)
        t = _apply_tombstones(
            pq.read_table(norm, filesystem=fs), tombs, sch_cols, fname
        )
        try:
            t = t.filter(expr)
        except unevaluable:
            pass
    else:
        try:
            t = pq.read_table(norm, filesystem=fs, filters=expr)
        except unevaluable:
            if expr is None:
                raise
            t = pq.read_table(norm, filesystem=fs)
        t = _apply_tombstones(t, tombs, sch_cols, fname)
    return _project(t, sch_cols, fname)


def _apply_tombstones(t, tombs, sch_cols, fname):
    """Anti-join a data file's table against its seq-applicable
    tombstone batches (the _read_with_tombstones semantics, Arrow-side):
    NULL keys match no tombstone (SQL anti-join), pre-evolution files
    missing a key column keep every row, and both sides cast to the
    RECORDED (possibly widened) key type so a narrow pre-widening file
    still anti-joins a post-widening tombstone.

    A ``(None, files)`` entry is a POSITIONAL deletion vector
    (commit_delete_dv): its rows are (file, pos) pairs, applied as a
    row-index mask against THIS file's rows. Positional entries apply
    FIRST — positions reference the raw file, and an equality
    anti-join running earlier would shift the indices."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not tombs:
        return t
    want_type = {phys: _pa_type(typ) for _, typ, phys in sch_cols}
    dv_entries = [files for kcols, files in tombs if kcols is None]
    if dv_entries:
        rel = "/".join(fname.rstrip("/").split("/")[-2:])
        kill: set = set()
        for files in dv_entries:
            for f in files:
                tfs, tnorm = _pafs(f)
                tt = pq.read_table(
                    tnorm, filesystem=tfs, columns=["file", "pos"]
                )
                kill.update(
                    p
                    for fl, p in zip(
                        tt.column("file").to_pylist(),
                        tt.column("pos").to_pylist(),
                    )
                    if fl == rel
                )
        if kill:
            t = t.take(
                pa.array(
                    [i for i in range(t.num_rows) if i not in kill],
                    pa.int64(),
                )
            )
    for kcols, files in tombs:
        if kcols is None:
            continue  # positional: already applied above
        usable = [c for c in kcols if c in t.column_names]
        if len(usable) < len(kcols):
            continue  # file predates the key column: nothing to mask
        probe = pa.table({c: _as_type(t.column(c), want_type.get(c)) for c in kcols})
        tomb_parts = []
        for f in files:
            tfs, tnorm = _pafs(f)
            tt = pq.read_table(tnorm, filesystem=tfs, columns=list(kcols))
            tomb_parts.append(
                pa.table({c: _as_type(tt.column(c), want_type.get(c)) for c in kcols})
            )
        tomb = pa.concat_tables(tomb_parts)
        # row-index trick: anti-join the key projection (plus a row id)
        # so the SURVIVING indices select from the full-width table
        probe = probe.append_column(
            "__rowidx", pa.array(range(t.num_rows), pa.int64())
        )
        kept = probe.join(
            tomb.group_by(list(kcols)).aggregate([]),
            keys=list(kcols),
            join_type="left anti",
        )
        idx = kept.sort_by("__rowidx").column("__rowidx")
        t = t.take(idx)
    return t


def max_or(a, b):
    """Tightest lower bound; unprovable comparisons keep the looser
    one (pruning must stay sound under mixed-type predicates)."""
    if a is None:
        return b
    try:
        return a if a > b else b
    except TypeError:
        return a


def min_or(a, b):
    if a is None:
        return b
    try:
        return a if a < b else b
    except TypeError:
        return a


def _arrow_expr(filters):
    import pyarrow.dataset as pads

    expr = None
    for c, op, v in filters:
        f = pads.field(c)
        if op == "eq":
            e = f == v
        elif op == "gt":
            e = f > v
        elif op == "ge":
            e = f >= v
        elif op == "lt":
            e = f < v
        elif op == "le":
            e = f <= v
        elif op == "in":
            e = f.isin(v)
        else:  # pragma: no cover - op set is closed above
            continue
        expr = e if expr is None else expr & e
    return expr


def register_lake_source(spark) -> None:
    """Idempotent registration of format("manifest_lake"). `tune`
    pins the engine-wide Python-source filter pushdown flag with the
    session's other confs (a reader that implements pushFilters fails
    analysis while it's off)."""
    tune(spark)
    register_data_source(spark, ManifestLakeDataSource)


def read_lake(
    spark,
    path: str,
    version: int | None = None,
    bloom_keys: dict | None = None,
    bloom_probes: str | None = None,
):
    """A FRESH ``format("manifest_lake")`` DataFrame — one relation
    per call, which is the safe usage under the engine's per-relation
    plan cache (see the module docstring's handle-reuse caveat):
    derive exactly ONE query from each returned handle.

    ``bloom_keys`` ({col: value-or-list}) closes the bloom-skipping
    gap: planning runs in a JVM-less worker that cannot hash probes,
    but THIS function runs driver-side with Py4J — it hashes the keys
    here (``manifest._bloom_probes``, the same engine-hash job the
    programmatic ``bloom_eq`` uses) and ships the positions as a read
    option for ``partitions()`` to consume. Same contract as
    ``read_snapshot(bloom_eq=...)``: a pruning HINT — apply the
    matching predicate in the query too (``.where(col.isin(...))``),
    which Catalyst then also pushes down for the row-level refilter.

    ``bloom_probes`` takes the already-serialized probe JSON instead:
    a caller that hashed the keys once (e.g. to assert pruning through
    ``ManifestLakeReader.partitions()``) reuses those positions rather
    than paying the engine-hash job a second time — r12, guide §1
    (the probe hash is a scheduled 1-row job; running it twice per
    read measured 2x0.3 s in q_manifest_sql_bloom)."""
    import json

    register_lake_source(spark)
    r = spark.read.format("manifest_lake").option("path", path)
    if version is not None:
        r = r.option("version", str(version))
    if bloom_probes is not None:
        r = r.option("bloom_probes", bloom_probes)
    elif bloom_keys:
        from .manifest import _bloom_probes

        r = r.option("bloom_probes", json.dumps(_bloom_probes(spark, bloom_keys)))
    return r.load()


# ----------------------------------------------------------------------
# Write path: ``df.write.format("manifest_lake").mode("append"|
# "overwrite").save(path)``. The V2 write protocol done properly:
# every task streams its Arrow batches into ONE uniquely-named parquet
# file under a per-write staging dir and reports the file in its
# commit message; ``commit()`` MOVES exactly the reported files into a
# fresh segment dir and publishes one manifest version — a retried or
# speculated task's extra file is never referenced (exactly-once under
# task retry), and ``abort()``/vacuum reclaim staging. Per-file
# min/max/null/row stats ride the commit messages (computed from the
# Arrow batches as they stream), so DataSource writes keep
# metadata_agg and range skipping working.
#
# The commit runs in the driver-side Python worker — NO Py4J, like
# planning — and publishes through the lake's one commit loop,
# ``manifest._commit(None, ...)``: the manifest store's local commit
# point (tmp write, then a hard link: atomic, fails if the version is
# taken) serializes it against every JVM-side op on the same lake, and
# a lost race rebuilds on the new head. That is sound for
# LOCAL/file:// lakes only; object-store URIs refuse at writer
# creation with commit_append guidance (a conditional-put CAS is
# store-specific and not exposed through pyarrow.fs). Lakes with
# CHECK constraints also refuse: enforcing them takes an engine job
# this worker cannot run — honest gate, not silent skip. Column
# mapping: appends translate logical→physical like every other write;
# overwrite materializes the mapping (logical names, colmap cleared),
# mirroring commit_replace.
# ----------------------------------------------------------------------


def _local_root(path: str) -> str:
    """Filesystem path for a local lake URI; raises for remote."""
    root = store.local_path(path)
    if root is None:
        raise ValueError(
            "manifest_lake writer: only local/file:// lakes commit "
            "through the Python writer (the no-overwrite CAS is POSIX "
            "link-based) — write object-store lakes via "
            f"manifest.commit_append: {path}"
        )
    return root


class _LakeWriteMessage(WriterCommitMessage):
    def __init__(self, file, rows, stats, nulls):
        self.file = file
        self.rows = rows
        self.stats = stats
        self.nulls = nulls


class ManifestLakeWriter(DataSourceArrowWriter):
    """DataSourceArrowWriter for the manifest lake (see module note)."""

    def __init__(self, options, schema, overwrite: bool) -> None:
        import uuid

        self._path = options.get("path")
        if not self._path:
            raise ValueError("manifest_lake requires a path option")
        self._root = _local_root(self._path)
        self._overwrite = overwrite
        self._tag = options.get("tag")
        want = options.get("stats_cols")
        self._stats_cols = want.split(",") if want else []
        self._schema = schema  # StructType (logical names)
        self._staging = f"{self._root}/{_DATA_DIR}/.staging-{uuid.uuid4().hex[:12]}"
        vs = store.versions(self._path)
        props = store.read_manifest(self._path, vs[-1]).get("props", {}) if vs else {}
        if props.get("constraints"):
            raise ValueError(
                "manifest_lake writer: lake has CHECK constraints, which "
                "this JVM-less commit path cannot enforce — write via "
                f"manifest.commit_append: {self._path}"
            )
        if props.get("generated"):
            # same gate as constraints: a generated column is a contract
            # (_apply_generated validates it on every JVM write path);
            # silently committing unvalidated values would break it
            raise ValueError(
                "manifest_lake writer: lake declares generated columns, "
                "which this JVM-less commit path cannot validate — write "
                f"via manifest.commit_append: {self._path}"
            )
        if props.get("unique"):
            # and the UNIQUE key: checking it takes engine jobs
            raise ValueError(
                "manifest_lake writer: lake declares a UNIQUE key, which "
                "this JVM-less commit path cannot enforce — write via "
                f"manifest.commit_append: {self._path}"
            )
        self._props0 = props
        cm = dict(props.get("colmap", {}))
        dropped = set(props.get("dropped_cols", []))
        if not overwrite:
            # resurrection guard (same rule as commit_append): a NEW
            # logical column may not collide with a dropped or
            # renamed-away physical name
            recorded = {n for n, _ in (props.get("schema") or {}).get("cols", [])}
            taken = (set(cm.values()) - set(cm.keys())) | dropped
            for f in schema.fieldNames():
                if f not in recorded and f in taken:
                    raise ValueError(
                        f"manifest_lake writer: column {f!r} collides with "
                        "a dropped/renamed-away physical name — rewrite "
                        "(compact) to materialize the mapping first"
                    )
        # physical translation for the file bytes (appends only; an
        # overwrite materializes the mapping instead)
        self._rename = (
            {c: cm.get(c, c) for c in schema.fieldNames()}
            if not overwrite
            else {}
        )
        # schema compatibility vs the recorded table schema: additive
        # only, no type drift (mirror of _check_schema)
        rec = (props.get("schema") or {}).get("cols")
        if rec and not overwrite:
            want_types = {n: t for n, t in rec}
            have = {f.name: f.dataType.simpleString() for f in schema.fields}
            missing = [n for n in want_types if n not in have]
            drift = {
                n: (want_types[n], have[n])
                for n in want_types
                if n in have and have[n] != want_types[n]
            }
            if missing or drift:
                raise ValueError(
                    "manifest_lake writer: schema drift vs recorded table "
                    f"schema (missing={missing}, retyped={drift}): "
                    f"{self._path}"
                )

    # ------------------------------------------------- executor side

    def write(self, iterator):
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(self._staging, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex[:12]}.parquet"
        full = f"{self._staging}/{fname}"
        writer = None
        rows = 0
        stats: dict = {}
        nulls: dict = {}
        phys_stats = [self._rename.get(c, c) for c in self._stats_cols]
        try:
            for batch in iterator:
                if self._rename:
                    batch = batch.rename_columns(
                        [self._rename.get(n, n) for n in batch.schema.names]
                    )
                if writer is None:
                    writer = pq.ParquetWriter(full, batch.schema, **_PQ_ENCODING)
                writer.write_batch(batch)
                rows += batch.num_rows
                for c in phys_stats:
                    if c not in batch.schema.names:
                        continue
                    col = batch.column(c)
                    nulls[c] = nulls.get(c, 0) + col.null_count
                    if col.null_count < len(col):
                        mn = pc.min(col).as_py()
                        mx = pc.max(col).as_py()
                        cur = stats.get(c)
                        if cur is None:
                            stats[c] = [mn, mx]
                        else:
                            # None-tolerant: an earlier batch may have
                            # been all-NULL (cur == [None, None]) and
                            # min(None, mn) raises
                            stats[c] = [
                                _min_opt(cur[0], mn),
                                _max_opt(cur[1], mx),
                            ]
                    else:
                        stats.setdefault(c, [None, None])
                        nulls.setdefault(c, 0)
            if writer is None:  # empty partition: nothing staged
                return _LakeWriteMessage(None, 0, {}, {})
        finally:
            if writer is not None:
                writer.close()
        from .manifest import _json_safe

        safe = {
            c: [_json_safe(v[0]), _json_safe(v[1])] for c, v in stats.items()
        }
        return _LakeWriteMessage(fname, rows, safe, nulls)

    # --------------------------------------------------- driver side

    def commit(self, messages) -> None:
        import os
        import shutil
        import uuid

        files = [m for m in messages if m is not None and m.file]
        seg = f"seg-{uuid.uuid4().hex[:12]}"
        seg_dir = f"{self._root}/{_DATA_DIR}/{seg}"
        os.makedirs(seg_dir, exist_ok=False)
        moved = False
        for m in files:
            src = f"{self._staging}/{m.file}"
            if os.path.exists(src):  # only the winning attempt's files
                os.rename(src, f"{seg_dir}/{m.file}")
                moved = True
        if not moved:
            # 0-row write: keep an empty schema-preserving segment so
            # reads stay valid (mirror of the JVM paths)
            import pyarrow as pa
            import pyarrow.parquet as pq

            fields = []
            for f in self._schema.fields:
                name = self._rename.get(f.name, f.name)
                fields.append(
                    pa.field(
                        name, _required_pa_type(f.dataType.simpleString(), seg, name)
                    )
                )
            pq.write_table(
                pa.table({f.name: [] for f in fields},
                         schema=pa.schema(fields)),
                f"{seg_dir}/part-empty.parquet",
                **_PQ_ENCODING,
            )
        shutil.rmtree(self._staging, ignore_errors=True)

        seg_meta: dict = {}
        if self._stats_cols and files:
            rows_total = sum(m.rows for m in files)
            st: dict = {}
            nl: dict = {}
            for m in files:
                for c, (mn, mx) in m.stats.items():
                    cur = st.get(c)
                    if cur is None:
                        st[c] = [mn, mx]
                    else:
                        st[c] = [
                            _min_opt(cur[0], mn), _max_opt(cur[1], mx)
                        ]
                for c, n in m.nulls.items():
                    nl[c] = nl.get(c, 0) + n
            seg_meta = {"stats": st, "rows": rows_total, "nulls": nl}

        from .manifest import _carry, _commit, _props

        schema_cols = [
            [f.name, f.dataType.simpleString()] for f in self._schema.fields
        ]

        def build(pm):
            props = _props(pm)
            if not self._overwrite and dict(props.get("colmap", {})) != dict(
                self._props0.get("colmap", {})
            ):
                raise ValueError(
                    "manifest_lake writer: column mapping changed during "
                    "the write — the staged files carry stale physical "
                    f"names; re-run the write: {self._path}"
                )
            if self._overwrite:
                props.pop("colmap", None)
                props.pop("dropped_cols", None)
                # an overwrite rewrote every file at the supplied schema,
                # so the type-widening flag clears too (matches
                # commit_replace's full-rewrite semantics)
                props.pop("widened", None)
                props["schema"] = {"cols": schema_cols}
                return {
                    "segments": [seg], "meta": {seg: seg_meta},
                    "deletes": [], "props": props,
                }
            rec = (props.get("schema") or {}).get("cols")
            if rec:
                extra = [p for p in schema_cols if p[0] not in
                         {n for n, _ in rec}]
                props["schema"] = {"cols": list(rec) + extra}
            else:
                props["schema"] = {"cols": schema_cols}
            return {
                "segments": _carry(pm) + [seg], "meta": {seg: seg_meta},
                "props": props,
            }

        op = "replace" if self._overwrite else "append"
        v = _commit(None, self._path, op, build, tag=self._tag)
        if self._tag is not None and seg not in store.read_manifest(
            self._path, v
        )["segments"]:
            shutil.rmtree(seg_dir, ignore_errors=True)  # replayed tagged write

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)


def _min_opt(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return min(a, b)


def _max_opt(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return max(a, b)


class ManifestLakeStreamWriter(ManifestLakeWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("manifest_lake")`` — the streaming twin
    of the batch writer: same staged-Arrow-file protocol per
    microbatch, same `_commit` publish, with EXACTLY-ONCE
    replay via a ``{checkpoint_tag}={batchId}`` idempotency tag (a
    restarted query re-delivers its last batch; the tag makes the
    replayed commit a no-op — the same guard the foreachBatch sinks
    use). ``option("checkpoint_tag", ...)`` must be stable across
    restarts and unique per query writing to the lake (it IS the
    replay identity; the default "stream" is only safe for a single
    writer). Empty microbatches publish nothing — no version churn.
    Append output mode only: streaming truncate has no exactly-once
    story on replay."""

    def __init__(self, options, schema, overwrite: bool) -> None:
        if overwrite:
            raise ValueError(
                "manifest_lake stream writer supports append output "
                "mode only"
            )
        super().__init__(options, schema, False)
        self._prefix = options.get("checkpoint_tag", "stream")
        # DETERMINISTIC staging dir (unlike the batch writer's
        # per-instance uuid): the streaming runner re-instantiates the
        # writer for the commit call, so a random staging path would
        # diverge between the executors' write() and the driver-side
        # commit() — files would strand in staging and the batch would
        # commit empty. Keyed by checkpoint_tag, which the contract
        # already requires to be unique per query writing to this lake
        # (microbatches of one query serialize, so sharing is safe).
        self._staging = (
            f"{self._root}/{_DATA_DIR}/.staging-stream-{self._prefix}"
        )

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        files = [m for m in messages if m is not None and m.file]
        if not files:
            import shutil

            shutil.rmtree(self._staging, ignore_errors=True)
            return  # empty microbatch: no commit, no churn
        self._tag = f"{self._prefix}={batchId}"
        ManifestLakeWriter.commit(self, messages)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)
