"""Minimal snapshot/manifest table format over the parquet lake —
atomic multi-file commits, lock-free snapshot-isolated readers, and
time travel, the slice of Iceberg/Delta semantics the batch-dir lake
needs (SCALE.md "Batch-dir compaction": plain dir swaps give readers
a maintenance window; a manifest removes it). The reference's own
warehouse intent is a transactional store (BigQuery, IaC/main.tf:45-55);
this is the lake-native equivalent.

Layout::

    lake/
      data/<segment>/          immutable parquet dirs (_SUCCESS-committed)
      _manifests/v<NNNNNNNN>.json   one JSON file per table version

A manifest lists the data segments that make up one table version.
Segments are IMMUTABLE once referenced: every operation (append,
replace, compact) writes NEW segment dirs and then publishes a new
manifest; nothing a committed manifest points at is ever rewritten.

**Commit = one atomic publish-if-absent.** The manifest is written to
a tmp name and published as ``v<version>.json`` only if that name is
free. Publish-if-absent doubles as optimistic concurrency control: if
two writers race to version N, one publish fails (destination exists).
Every write op commits through ONE
loop, `_commit`: each attempt reads the latest manifest and calls the
op's ``build(parent)``, which derives everything the new version
records (segment list, validation, rewritten segments, change segment)
from that parent — so the loser simply runs the attempt again on
N+1. Work that does not depend on the parent is done once and reused
(a plain append's data segment is written once; only the pointer
retries). The commit point lives in `manifest_store.write_if_absent`:
on a local lake it is a hard link of the written tmp file, atomic and
fail-on-existing, so any number of local writers (the JVM-side ops and
the Python datasource writer alike) serialize through it; on HDFS/ABFS
it is FileContext.rename without OVERWRITE, a single atomic
fail-on-existing namespace op; on S3 swap the rename for a conditional
PUT ``If-None-Match:*`` — same one-object commit point.

**Snapshot isolation for free.** A reader resolves ONE manifest file
and plans over the segments it lists. Compaction publishes a new
manifest pointing at the consolidated segment but deletes nothing, so
an in-flight reader of the old version keeps scanning the old segments
untouched — no maintenance window. Old segments die only in `vacuum`,
which retains the last ``keep_versions`` manifests and removes
segments no retained manifest references (plus dead partial writes).

**Crash anywhere is safe**: a crash before the publish leaves an orphan
segment and/or tmp manifest that no committed manifest references —
invisible to every reader, reclaimed by vacuum. A crash after the
publish is a completed commit.

**One encoding at rest.** Every lake data file (data, DV, compaction,
keyed ``partitionBy`` and CDF change segments) is written zstd with
Parquet 2.0 pages by `_lake_writer`; the ``manifest_lake`` DataSource
writes zstd and DataPage v2 through pyarrow. The codec is recorded per
file, in its footer, so a lake written snappy before stays readable
and one lake may hold both.

At 100 TB: the manifest holds directory names, not per-file entries, so
it stays KB-sized; resolution is one small-file read on the driver;
scan planning over the listed dirs is Spark's normal file-index path
(partition pruning and predicate pushdown still apply per segment).

**Segment metadata → manifest-level data skipping.** A commit may tag
its segment with a partition value (``partition={col: val}``) and/or
min/max column stats (``stats_cols=[...]``, one extra agg job at write
time). The metadata lives in the manifest (``meta``), so the DRIVER
prunes segments before Spark ever lists their files: a point lookup on
a partition-tagged lake opens one segment's directory, not a thousand
(`read_snapshot(part_eq=...)` / `ranges=...`). Segments without
metadata are never pruned (no information → must scan) — skipping is
always sound. ``commit_upsert_partitioned`` builds on the same tags to
MERGE facts by rewriting only the touched partitions' segments;
``commit_upsert_pruned`` does the same through min/max KEY stats for
key-range-clustered lakes (only stats-overlapping segments rewrite).

**Row-level deletes**, both flavors: ``commit_delete`` is copy-on-write
(stats-classified touched segments anti-joined and rewritten in place
in the layout; untouched transfer by name) and ``commit_delete_mor`` is
merge-on-read (an O(batch) tombstone commit; readers anti-join pending
tombstones, sequence-scoped so later appends are never retro-masked;
``compact`` materializes them) — the takedown/GDPR obligations a
100 TB training corpus carries. ``commit_delete_dv`` and
``commit_upsert_mor`` write deletion vectors (positional deletes).

The row-level deletes and MERGEs share one keyed-change core:
`_keyed_batch` (the physical batch, keys, pruning column and distinct
key frame), `_segments_overlapping_keys` (stats, then blooms, classify
the touched segments), `_dv_hits` (a deletion vector's ``(file, pos)``
scan), `_record_victims` / `_record_merge` (the write-time change
segment) and `_segment_empty` (a deletion-vector write left empty is
read off its footers, not counted by a job).

The segment rewrites share one maintenance core, `_rewrite_groups`:
`compact`, `compact_small` (through `_rewrite_tag_groups`), the three
cluster ops, and the row-removing rewrites of `commit_replace_where`
and `commit_delete` (through `_rewrite_survivors`) hand it every
group's rows, read in one scan (`_read_groups`), and it lands every
group's new segment in one keyed `_write_segments` pass, so their jobs
do not grow with the number of groups.
"""

from __future__ import annotations

import functools
import json
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..operators.partitioning import rows_frame
from . import manifest_store as store
from .manifest_store import (
    _CDF_DIR,
    _DATA_DIR,
    _MANIFEST_DIR,
    _is_widening,
    _props_triples,
)

# Idempotency-tag retention: each manifest keeps the most recent
# _MAX_TAGS tags (insertion order). Replay guards only need to cover
# the possible redelivery horizon — a handful of batches — so 10k is
# orders of magnitude past any real window while keeping the manifest
# KB-sized at unbounded commit counts.
_MAX_TAGS = 10_000

# the largest key batch a bloom point probe collects to the driver (the
# bloom step of `_segments_overlapping_keys`, `_check_unique`'s probe):
# a larger key set saturates the union false-positive rate anyway, and
# collecting it would not be bounded
_BLOOM_PROBE_CAP = 1024


def _jpath(spark: SparkSession, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _fs(spark: SparkSession, p: str):
    jp = _jpath(spark, p)
    return jp.getFileSystem(spark._jsc.hadoopConfiguration()), jp


def _manifest_versions(spark: SparkSession | None, path: str) -> list[int]:
    return store.versions(path, spark)


def _read_manifest(spark: SparkSession | None, path: str, version: int) -> dict:
    return store.read_manifest(path, version, spark)


_CKPT_INTERVAL = 32  # auto-rollup cadence; table prop "ckpt_interval"


def _ckpt_entry(m: dict, epochs: dict, epoch_ids: dict) -> dict:
    """One rollup row: exactly what the version-walking consumers
    (read_feed / consume_feed / _identity_chain /
    version_as_of_timestamp / snapshot_diff's recorded fast path)
    need — parent, op, ts, recorded-cdf segment, and the
    schema/colmap/dropped_cols props SUBSET, deduplicated into
    `epochs` (schema changes are rare, so 10^5 versions share a
    handful of epochs and the rollup stays ~60 bytes/version)."""
    props = dict(m.get("props", {}) or {})
    sub = {
        k: props[k]
        for k in ("schema", "colmap", "dropped_cols")
        if k in props
    }
    sig = json.dumps(sub, sort_keys=True)
    pe = epoch_ids.get(sig)
    if pe is None:
        pe = str(len(epochs))
        epochs[pe] = sub
        epoch_ids[sig] = pe
    e = {
        "parent": m.get("parent") or 0,
        "op": m.get("op"),
        "ts": float(m.get("ts", 0.0)),
        "pe": pe,
    }
    if m.get("cdf"):
        e["cdf"] = m["cdf"]
    return e


def _read_ckpt(spark: SparkSession | None, path: str) -> dict | None:
    """The rollup checkpoint, or None. Derived state: absent, stale or
    unparseable never fails a read — consumers fall back to the
    per-version manifests they would have read anyway."""
    try:
        ck = store.read_json(store.ckpt_file(path), spark)
        return ck if isinstance(ck.get("entries"), dict) else None
    except Exception:
        return None


def checkpoint_manifest(spark: SparkSession, path: str) -> int:
    """Roll the retained version history into ONE small file
    (`_manifests/_ckpt.json`) — the `_last_checkpoint` analog
    (VERDICT r11 #2). Every version-walking consumer then reads the
    rollup + the per-version manifests of the SUFFIX committed after
    it, instead of one KB JSON per version step: at 10^5 commits a
    feed walk costs 1 GET + O(new commits), not 10^5 GETs.

    Incremental by construction: versions the previous rollup already
    covers are carried over without re-reading their manifests, so
    the auto-cadence (every `_CKPT_INTERVAL` commits, table prop
    ``ckpt_interval`` overrides) amortizes to O(1) manifest reads per
    commit. Vacuumed versions drop out (the entry set is always the
    intersection with the LIVE listing — consumers gate on the
    listing, so the rollup can never resurrect a vacuumed version or
    mask a retention gap). The rollup is DERIVED state: the
    overwrite-rename publish is last-writer-wins, and a torn or stale
    file only costs the fallback manifest reads. Returns the head
    version rolled."""
    versions = _manifest_versions(spark, path)
    if not versions:
        return 0
    prev = _read_ckpt(spark, path)
    prev_entries = prev.get("entries", {}) if prev else {}
    prev_epochs = prev.get("epochs", {}) if prev else {}
    epochs: dict = {}
    epoch_ids: dict = {}
    entries: dict = {}
    for v in versions:
        pe = prev_entries.get(str(v))
        if pe is not None and str(pe.get("pe")) in prev_epochs:
            # carry over, re-interning its epoch under the new table
            sub = prev_epochs[str(pe["pe"])]
            sig = json.dumps(sub, sort_keys=True)
            eid = epoch_ids.get(sig)
            if eid is None:
                eid = str(len(epochs))
                epochs[eid] = sub
                epoch_ids[sig] = eid
            entries[str(v)] = {**pe, "pe": eid}
        else:
            entries[str(v)] = _ckpt_entry(
                _read_manifest(spark, path, v), epochs, epoch_ids
            )
    ck = {"version": versions[-1], "entries": entries, "epochs": epochs}
    store.write_replace(store.ckpt_file(path), ck, spark)
    return versions[-1]


def _walk_entries(
    spark: SparkSession, path: str, versions: list[int]
) -> dict[int, dict]:
    """{version: {parent, op, ts, cdf?, props}} for the given LIVE
    versions — the rollup checkpoint serves every version it covers
    from ONE read; only the suffix (and any pre-checkpoint lake)
    falls back to per-manifest reads. `versions` must come from the
    live listing: the rollup never introduces versions on its own."""
    ck = _read_ckpt(spark, path)
    ents = ck.get("entries", {}) if ck else {}
    eps = ck.get("epochs", {}) if ck else {}
    out: dict[int, dict] = {}
    for v in versions:
        e = ents.get(str(v))
        if e is not None and str(e.get("pe")) in eps:
            out[v] = {
                "parent": int(e.get("parent") or 0),
                "op": e.get("op"),
                "ts": float(e.get("ts", 0.0)),
                "cdf": e.get("cdf"),
                "props": dict(eps[str(e["pe"])]),
            }
        else:
            m = _read_manifest(spark, path, v)
            out[v] = {
                "parent": m.get("parent") or 0,
                "op": m.get("op"),
                "ts": float(m.get("ts", 0.0)),
                "cdf": m.get("cdf"),
                "props": dict(m.get("props", {}) or {}),
            }
    return out


def _lake_writer(df: DataFrame):
    """The writer of every lake data file: zstd column chunks and
    Parquet 2.0 pages (DataPage v2; where the dictionary does not pay,
    parquet-mr falls back to DELTA_BINARY_PACKED for integers and
    DELTA_BYTE_ARRAY for strings, so a unique int64 key costs bits per
    row, not eight bytes)."""
    return (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.writer.version", "PARQUET_2_0")
    )


def _write_segment(
    df: DataFrame,
    path: str,
    target_files: int | None,
    bloom_cols: list[str] | None = None,
    expected_ndv: int | None = None,
    partition_by: str | None = None,
) -> str:
    """Write `df` to a new dir under ``data/`` and return its name: a
    segment, or with `partition_by` the tmp dir `_write_segments`
    renames the partition dirs out of. The files take the lake's one
    encoding (`_lake_writer`: zstd, Parquet 2.0 pages); the codec is
    per file, so older snappy segments read beside them."""
    seg = f"{'.tmp' if partition_by else 'seg'}-{uuid.uuid4().hex[:12]}"
    w = _lake_writer(df.coalesce(target_files) if target_files else df)
    if partition_by:
        w = w.partitionBy(partition_by)
    # FILE-level parquet blooms on the declared point-lookup columns:
    # the documented hand-off from the manifest-level bloom, which is
    # omitted past ~32k distinct keys (see _fold_bloom) — for
    # oversize segments the parquet reader's own bloom consumption
    # takes over on point predicates INSIDE the segments the manifest
    # keeps. No read-side change (Spark's vectorized reader consumes
    # them). Parquet sizes the filter from EXPECTED ndv (default 1M ≈
    # 1.2 MB per file) — callers that know the scale pass
    # `expected_ndv` so a small rebuilt lake isn't charged megabytes
    # of bloom per KB of data (the compression-contract catch).
    for c in bloom_cols or []:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if expected_ndv is not None:
            w = w.option(
                f"parquet.bloom.filter.expected.ndv#{c}",
                str(max(int(expected_ndv), 1024)),
            )
    w.parquet(f"{path}/{_DATA_DIR}/{seg}")
    return seg


class CommitConflict(RuntimeError):
    """A commit that cannot land on the current head: `publish_branch`
    raises it when main moved past the branch's fork, `clone` and
    `create_branch` when their empty destination gained a commit, and
    `wap_ingest` replays its whole cycle on it."""


# attempts of the one commit loop before it gives up on a hot lake
_COMMIT_TRIES = 20


def _carry(parent: dict | None) -> list[str]:
    """The parent's segment list — a metadata-only commit's segments."""
    return list(parent["segments"]) if parent else []


def _props(parent: dict | None) -> dict:
    return dict(parent.get("props", {})) if parent else {}


def _version(parent: dict | None) -> int:
    return parent["version"] if parent else 0


def _commit(
    spark: SparkSession | None,
    path: str,
    op: str,
    build,
    tag: str | None = None,
    min_version: int | None = None,
) -> int:
    """Publish a new manifest via write-if-absent CAS — the ONE retry
    loop of the lake (the Python datasource writer commits through it
    too). Each attempt lists the versions, reads the parent manifest
    (None on an empty lake), runs the tag check, calls
    ``build(parent)`` and publishes the new manifest with
    `manifest_store.write_if_absent`; a lost publish runs the attempt
    again on the new head. Whatever the op commits is therefore derived
    from the parent it lands on. All metadata I/O goes through the
    store, so `spark` may be None on a local lake.

    ``build(parent)`` returns a dict of manifest fields: ``segments``
    (required: the new live segment list) plus whatever differs from
    the carried-forward defaults —

    - ``meta``: {seg: metadata} for new or changed segments, laid over
      the parent metadata of every listed segment (new segments start
      meta-less = never pruned);
    - ``deletes``: the merge-on-read TOMBSTONE segment list (see
      commit_delete_mor); by default the parent's carries forward
      unchanged — an append must never resurrect rows a tombstone
      killed. Tombstone segments keep their parent metadata (their
      ``delete_keys`` is what makes them applicable at read time);
    - ``props``: the new table properties (default: the parent's,
      verbatim);
    - any other key (e.g. the recorded change segment ``cdf``) is a
      version-scoped top-level manifest key, NOT carried forward.

    A bare list is shorthand for ``{"segments": list}``. A build that
    returns None commits nothing, and `_commit` returns the parent
    version (0 on an empty lake), as for a replayed tag. An exception
    raised by build refuses the commit: nothing is published.

    `min_version` floors the committed version number (version =
    max(parent + 1, min_version)) — version numbers may SKIP, which
    every reader tolerates (the manifest dir is scanned, not counted).
    Used by the branch/WAP flow so branch commits CONTINUE main's
    numbering and publish adopts the branch head's: the merge-on-read
    ``seq`` fence stays totally ordered across the branch boundary.

    `tag` is an idempotency token: it joins the manifest's CUMULATIVE
    ``tags`` list (parent tags + this one), so `committed_tags` answers
    "was this commit already applied?" from the latest manifest alone —
    the streaming sink's replay guard survives vacuum (which keeps the
    newest manifests, whose tag set is complete by construction)."""
    for _ in range(_COMMIT_TRIES):
        versions = _manifest_versions(spark, path)
        parent = versions[-1] if versions else 0
        parent_m = _read_manifest(spark, path, parent) if versions else None
        version = parent + 1
        if min_version is not None and version < min_version:
            version = min_version
        tags = list(parent_m.get("tags", [])) if parent_m else []
        if tag is not None:
            # atomic idempotency: the check runs INSIDE the CAS loop on
            # the freshly-read parent and BEFORE build, so a replayed
            # tagged commit does no work and two racing replays can't
            # both land — the loser sees the winner's tag here
            if tag in tags:
                return parent
            tags.append(tag)
            if len(tags) > _MAX_TAGS:
                tags = tags[-_MAX_TAGS:]
        out = build(parent_m)
        if out is None:
            return parent
        out = {"segments": out} if isinstance(out, list) else dict(out)
        segments = list(out.pop("segments"))
        parent_meta = dict(parent_m.get("meta", {})) if parent_m else {}
        if "deletes" in out:
            deletes = list(out.pop("deletes"))
        else:
            deletes = list(parent_m.get("deletes", [])) if parent_m else []
        meta = {s: parent_meta[s] for s in segments if s in parent_meta}
        # copies: the seq stamp below must not leak into a build's
        # memoized metadata (a retry stamps its own version)
        meta.update({s: dict(m) for s, m in out.pop("meta", {}).items()})
        for s in deletes:  # tombstones keep their delete_keys metadata
            if s not in meta and s in parent_meta:
                meta[s] = parent_meta[s]
        # stamp commit sequence on GENUINELY NEW segments (data and
        # tombstone alike): the scope fence for merge-on-read deletes.
        # Carried segments keep their original seq via carried meta.
        prior = set(parent_m["segments"]) | set(parent_m.get("deletes", [])) if parent_m else set()
        for s in list(segments) + deletes:
            if s not in prior:
                meta.setdefault(s, {}).setdefault("seq", version)
        # table properties (constraints, owner-defined config) carry
        # forward verbatim unless build returns new ones
        props = out.pop("props") if "props" in out else _props(parent_m)
        # commit timestamp, clamped STRICTLY increasing across versions
        # (wall clocks jitter and sub-ms commits tie; AS OF needs ts
        # order == version order — the Delta timestampAsOf adjustment)
        ts = max(
            time.time(),
            (float(parent_m.get("ts", 0.0)) if parent_m else 0.0) + 1e-6,
        )
        manifest = {
            "version": version,
            "parent": parent if versions else None,
            "op": op,
            "ts": ts,
            "segments": segments,
            "tags": tags,
            "meta": meta,
        }
        if deletes:
            manifest["deletes"] = deletes
        manifest.update(out)  # version-scoped extras, e.g. "cdf"
        if props:
            manifest["props"] = props
        # the commit point: atomic, fails if the version was taken (a
        # lost race runs the attempt again on the new head)
        if store.write_if_absent(store.manifest_file(path, version), manifest, spark):
            # periodic rollup (VERDICT r11 #2): best-effort, derived
            # state — a failure never un-commits the version
            try:
                interval = int(props.get("ckpt_interval", _CKPT_INTERVAL))
                if interval > 0 and version % interval == 0:
                    checkpoint_manifest(spark, path)
            except Exception:
                pass
            return version
    raise RuntimeError(
        f"manifest commit lost the CAS race {_COMMIT_TRIES} times: {path}"
    )


def committed_tags(spark: SparkSession, path: str) -> set[str]:
    """Idempotency tags of every commit folded into the current
    snapshot (cumulative in each manifest — one small-file read)."""
    versions = _manifest_versions(spark, path)
    if not versions:
        return set()
    return set(_read_manifest(spark, path, versions[-1]).get("tags", []))


class ConstraintViolation(ValueError):
    """A commit's incoming rows violate a table CHECK constraint."""


class SchemaDrift(ValueError):
    """A commit's incoming schema conflicts with the table schema."""


def table_schema(spark: SparkSession, path: str) -> list[list[str]] | None:
    """The table schema as ordered [name, type] pairs from the latest
    manifest (None for fresh/pre-feature lakes — stamped forward on the
    next write)."""
    sch = _latest_props(spark, path).get("schema")
    return [list(p) for p in sch["cols"]] if sch else None


def _df_schema_pairs(df: DataFrame) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _merge_schema_pairs(
    current: list[list[str]], incoming: list[list[str]], path: str
) -> list[list[str]]:
    """Additive schema evolution with strict type stability: columns
    shared with the table must match types EXACTLY (a drifted type
    poisons every later scan of the mixed segments — refuse at the
    write, not at some future read); new columns append (readers see
    them as NULL on old segments under merge-schema reads); columns
    missing from the batch are fine (NULL for its rows)."""
    cur = {n: t for n, t in current}
    for n, t in incoming:
        if n in cur and cur[n] != t:
            raise SchemaDrift(
                f"column {n!r} is {cur[n]} in the table but {t} in the "
                f"incoming batch — casts must happen before the write: {path}"
            )
    known = set(cur)
    return [list(p) for p in current] + [
        [n, t] for n, t in incoming if n not in known
    ]


def _schema_props(
    spark: SparkSession,
    path: str,
    props: dict,
    df: DataFrame,
    replace: bool = False,
) -> dict:
    """The parent `props` of a data-writing commit with the incoming
    schema validated against the table's and the evolved schema
    recorded. Called from the commit's build on the freshly-read
    parent props, so a racing additive writer's columns are never lost
    (and a racing type conflict is caught on the retry).
    ``replace=True`` resets the schema to the batch's (snapshot
    overwrite supersedes all prior segments)."""
    incoming = _df_schema_pairs(df)
    if replace:
        out = {**props, "schema": {"cols": incoming}}
        # a full rewrite lands under the batch's own (logical)
        # names: any column mapping is materialized and clears
        out.pop("colmap", None)
        out.pop("dropped_cols", None)
        return out
    sch = props.get("schema")
    if sch is not None:
        current = [list(p) for p in sch["cols"]]
    else:
        current = _probe_schema(spark, path) or []
    merged = _merge_schema_pairs(current, incoming, path)
    # column mapping, name mode: a NEW column may not reuse a
    # DROPPED column's physical name — old segments still hold the
    # dropped bytes under that name and the read projection would
    # resurrect them as the new column's values. (Delta avoids
    # this with id-based physical names; name mode refuses.)
    _refuse_physical_reuse(
        props, [n for n, _ in incoming], path, current=current
    )
    return {**props, "schema": {"cols": merged}}


def _relogical(
    df: DataFrame, old_props: dict, new_props: dict, path: str
) -> DataFrame:
    """Re-express a batch whose logical names were resolved against
    `old_props` in terms of `new_props`' logical schema: each column
    that EXISTED in the old schema keeps its physical identity and
    takes that physical's current logical name (so a raced rename
    follows the rename); a column whose physical was dropped in the
    meantime refuses loudly. Columns new to the table keep their
    names (the resurrection guard re-checks them on the retry)."""
    old_sch = old_props.get("schema")
    old_known = (
        {n for n, _ in old_sch["cols"]} if old_sch else set(df.columns)
    )
    old_cm = _colmap(old_props)
    phys_to_new = {p: lg for lg, p in _colmap(new_props).items()}
    new_dropped = set(new_props.get("dropped_cols", []))
    renames = {}
    for c in df.columns:
        if c not in old_known:
            continue
        p = old_cm.get(c, c)
        if p in new_dropped:
            raise SchemaDrift(
                f"column {c!r} was dropped while this append was in "
                f"flight — re-derive the batch against the current "
                f"schema: {path}"
            )
        nl = phys_to_new.get(p, p)
        if nl != c:
            renames[c] = nl
    return df.withColumnsRenamed(renames) if renames else df


def _refuse_physical_reuse(
    props: dict,
    incoming_cols: list[str],
    path: str,
    current: list[list[str]] | None = None,
) -> None:
    """A NEW logical column may not collide with a DROPPED or
    RENAMED-AWAY physical name: old segments still hold the prior
    column's bytes under that physical name, so the read projection
    would resurrect/conflate them (Delta avoids this with id-based
    physical names; name mode refuses — ADVICE r7). `current` is the
    table's logical schema pairs; defaults to the props schema."""
    dropped = set(props.get("dropped_cols", []))
    renamed_away = set(props.get("colmap", {}).values())
    taken = dropped | renamed_away
    if not taken:
        return
    if current is None:
        sch = props.get("schema")
        current = sch["cols"] if sch else []
    known = {n for n, _ in current}
    for n in incoming_cols:
        if n not in known and n in taken:
            what = "DROPPED from" if n in dropped else "RENAMED AWAY in"
            raise SchemaDrift(
                f"column name {n!r} was {what} this lake and its bytes "
                "remain in old segments under that physical name — reuse "
                "would conflate them; pick another name or materialize "
                f"the mapping with a full rewrite first: {path}"
            )


def _probe_schema(spark: SparkSession, path: str) -> list[list[str]] | None:
    """Pre-feature lake: recover the table schema from segment footers
    once (driver-side metadata read, no data scan); it is stamped into
    the manifest by the calling commit and never probed again."""
    versions = _manifest_versions(spark, path)
    if not versions:
        return None
    m = _read_manifest(spark, path, versions[-1])
    if not m["segments"]:
        return None
    return _df_schema_pairs(
        _read_segments(spark, path, m["segments"], merge_schema=True)
    )


def table_constraints(spark: SparkSession, path: str) -> dict[str, str]:
    """Name -> SQL expression of the table's CHECK constraints (empty
    for a fresh or constraint-less lake)."""
    return dict(_latest_props(spark, path).get("constraints", {}))


def set_constraint(spark: SparkSession, path: str, name: str, expr: str) -> int:
    """ADD CONSTRAINT name CHECK (expr) — Delta parity. The EXISTING
    snapshot is validated first (one partial-agg'd violation count;
    adding a constraint historical data breaks is refused), then the
    constraint lands as a metadata-only commit and every subsequent
    write validates its incoming rows against it (`_check_constraints`
    in the append/replace/merge paths).

    The validation runs inside the commit's build, on the parent the
    commit lands on: a write landing after it (which started before
    the constraint existed and therefore never checked it) loses the
    rename for this commit, and the validation re-runs on the new
    snapshot — the "existing data validated" guarantee holds with no
    race window."""
    from pyspark.sql import functions as F

    def build(parent):
        if parent and parent["segments"]:
            bad = (
                read_snapshot(spark, path, version=parent["version"])
                .filter(~F.coalesce(F.expr(expr), F.lit(False)))
                .count()
            )
            if bad:
                raise ConstraintViolation(
                    f"cannot add constraint {name}: {bad} existing rows "
                    f"violate CHECK ({expr}) in {path}"
                )
        props = _props(parent)
        cons = dict(props.get("constraints", {}))
        cons[name] = expr
        return {
            "segments": _carry(parent),
            "props": {**props, "constraints": cons},
        }

    return _commit(spark, path, "set_constraint", build)


def drop_constraint(spark: SparkSession, path: str, name: str) -> int:
    """DROP CONSTRAINT name (raises if absent — a typo'd drop that
    silently succeeds leaves the caller believing a gate is gone)."""
    if name not in table_constraints(spark, path):
        raise ValueError(f"no such constraint {name!r} on {path}")

    def build(parent):
        props = _props(parent)
        cons = dict(props.get("constraints", {}))
        cons.pop(name, None)
        out = {**props, "constraints": cons}
        if not cons:
            out.pop("constraints")
        return {"segments": _carry(parent), "props": out}

    return _commit(spark, path, "drop_constraint", build)


def generated_columns(spark: SparkSession, path: str) -> dict[str, str]:
    """{column: generation expression} — empty for an uncommitted lake."""
    v = current_version(spark, path)
    if v is None:
        return {}
    return dict(
        _read_manifest(spark, path, v).get("props", {}).get("generated", {})
    )


def set_generated_column(
    spark: SparkSession, path: str, col: str, expr: str
) -> int:
    """Declare `col` GENERATED ALWAYS AS (expr) — Delta generated-
    column parity. Every subsequent append/replace computes the column
    when the batch omits it and VALIDATES it when the batch supplies
    it (a mismatch is a ConstraintViolation — a generated column is a
    contract, not a default). The usual use is a derived partition
    column (o_year = year(o_orderdate)): writers ship the natural
    columns, partition tagging and pruning ride the generated one.

    Guard rails: on a non-empty lake the column must already exist in
    the schema AND match the expression on every existing row (the
    validation runs in the commit's build, on the parent it lands on —
    same shape as set_constraint) — adding a generated column that old
    segments would NULL-fill silently diverges, so it refuses with a
    rewrite-first remediation."""
    from pyspark.sql import functions as F

    def build(parent):
        if parent and parent["segments"]:
            snap = read_snapshot(spark, path, version=parent["version"])
            if col not in snap.columns:
                raise SchemaDrift(
                    f"set_generated_column({col!r}): the lake already has "
                    "rows without this column — old segments would NULL-"
                    "fill where the expression has a value. Backfill via "
                    f"a rewrite (replace/compact) first: {path}"
                )
            bad = snap.filter(
                ~F.col(col).eqNullSafe(F.expr(expr))
            ).count()
            if bad:
                raise ConstraintViolation(
                    f"cannot declare {col} GENERATED AS ({expr}): {bad} "
                    f"existing rows disagree in {path}"
                )
        props = _props(parent)
        gen = dict(props.get("generated", {}))
        gen[col] = expr
        return {"segments": _carry(parent), "props": {**props, "generated": gen}}

    return _commit(spark, path, "set_generated", build)


def _apply_generated(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """Materialize/validate generated columns on an incoming batch —
    one combined validation job for every supplied generated column
    (absent ones compute for free inside the write plan)."""
    from pyspark.sql import functions as F

    gen = generated_columns(spark, path)
    if not gen:
        return df
    checks = []
    for col, expr in gen.items():
        if col in df.columns:
            checks.append((col, expr))
        else:
            df = df.withColumn(col, F.expr(expr))
    if checks:
        cond = None
        for col, expr in checks:
            c = ~F.col(col).eqNullSafe(F.expr(expr))
            cond = c if cond is None else (cond | c)
        bad = df.filter(cond).count()
        if bad:
            raise ConstraintViolation(
                f"{bad} rows disagree with generated column(s) "
                f"{[c for c, _ in checks]} in a write to {path}"
            )
    return df


def unique_key(spark: SparkSession, path: str) -> list[str]:
    """The declared UNIQUE key columns (empty list when none)."""
    v = current_version(spark, path)
    if v is None:
        return []
    return list(_read_manifest(spark, path, v).get("props", {}).get("unique", []))


def set_table_property(
    spark: SparkSession, path: str, key: str, value
) -> int:
    """Set a free-form table property (metadata-only commit, carried
    forward verbatim by every subsequent commit). Engine-interpreted
    keys so far: ``ckpt_interval`` — the auto-rollup cadence of the
    manifest checkpoint (commits whose version is a multiple roll up;
    0 disables). Reserved structural keys (schema/colmap/unique/...)
    refuse — they have dedicated APIs whose validation this generic
    setter would bypass."""
    reserved = {
        "schema", "colmap", "dropped_cols", "unique", "constraints",
        "generated", "widened", "expectations",
    }
    if key in reserved:
        raise ValueError(
            f"table property {key!r} is engine-structural — use its "
            "dedicated API (set_unique_key / set_constraint / "
            "rename_column / ...)"
        )
    return _commit(
        spark,
        path,
        "set_property",
        lambda parent: {
            "segments": _carry(parent),
            "props": {**_props(parent), key: value},
        },
    )


def set_unique_key(spark: SparkSession, path: str, cols: list[str]) -> int:
    """Declare a UNIQUE KEY over `cols` — the constraint neither Delta
    nor Iceberg enforces (both punt to MERGE discipline); this lake
    enforces it on the append paths. Existing data must already be
    unique (one-job validation in the commit's build, same shape as
    set_constraint); subsequent appends check the batch against itself
    and against the table — O(batch) when the key carries blooms (the
    point-probe path), one semi-join otherwise — inside their own
    build, so two racing appends can't both sneak the same key in (the
    loser's rebuild revalidates against the winner's snapshot).
    SQL UNIQUE NULL semantics: rows with any NULL key column never
    conflict. Upserts keyed on these columns preserve uniqueness by
    construction; replace paths re-validate their full new contents."""
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("set_unique_key needs at least one column")

    def build(parent):
        if parent and parent["segments"]:
            snap = read_snapshot(spark, path, version=parent["version"])
            missing = [c for c in cols if c not in snap.columns]
            if missing:
                raise SchemaDrift(
                    f"set_unique_key: no column(s) {missing} in {path}"
                )
            nn = None
            for c in cols:
                e = F.col(c).isNotNull()
                nn = e if nn is None else nn & e
            dup = (
                snap.filter(nn)
                .groupBy(*cols)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ConstraintViolation(
                    f"cannot declare UNIQUE ({', '.join(cols)}): existing "
                    f"rows collide in {path}"
                )
        return {
            "segments": _carry(parent),
            "props": {**_props(parent), "unique": list(cols)},
        }

    return _commit(spark, path, "set_unique", build)


def _check_unique(
    spark: SparkSession, path: str, df: DataFrame, cols: list[str]
) -> None:
    """Validate an append batch against the declared UNIQUE key:
    in-batch duplicates (one partial-agg'd job over the batch), then
    batch-vs-table collisions — a bloom/stats-pruned point probe
    (`read_for_keys`) for bounded single-column keys, one column-pruned
    semi-join otherwise. NULL-keyed rows are exempt (SQL UNIQUE)."""
    from pyspark.sql import functions as F

    nn = None
    for c in cols:
        e = F.col(c).isNotNull()
        nn = e if nn is None else nn & e
    batch = df.filter(nn).select(*cols)
    if (
        batch.groupBy(*cols).count().filter(F.col("count") > 1)
        .limit(1).count()
    ):
        raise ConstraintViolation(
            f"UNIQUE ({', '.join(cols)}) violated inside the batch: {path}"
        )
    cur = current_version(spark, path)
    if cur is None or not _read_manifest(spark, path, cur)["segments"]:
        return
    if len(cols) == 1:
        head = batch.distinct().limit(_BLOOM_PROBE_CAP + 1).collect()
        if not head:
            return
        if len(head) <= _BLOOM_PROBE_CAP:
            vals = [r[0] for r in head]
            if read_for_keys(spark, path, cols[0], vals).limit(1).count():
                raise ConstraintViolation(
                    f"UNIQUE ({cols[0]}) violated: batch key already in "
                    f"{path}"
                )
            return
    snap = read_snapshot(spark, path, version=cur)
    if (
        snap.select(*cols)
        .join(batch.distinct(), on=list(cols), how="left_semi")
        .limit(1)
        .count()
    ):
        raise ConstraintViolation(
            f"UNIQUE ({', '.join(cols)}) violated: batch key already in "
            f"{path}"
        )


def _check_unique_self(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Replace-path uniqueness: the new contents supersede everything,
    so only the batch needs to agree with the declared UNIQUE key."""
    cols = unique_key(spark, path)
    if not cols:
        return
    _check_unique_dups(df, cols, path, "the replace contents")


def _check_unique_dups(
    df: DataFrame, cols: list[str], path: str, what: str
) -> None:
    """In-frame duplicate check on explicit (already-physical) UNIQUE
    columns — one partial-agg'd job; NULL-keyed rows exempt (SQL
    UNIQUE). The cols-explicit core the upsert/replace enforcement
    paths share (their frames are physical-named, so re-reading the
    logical declaration via `unique_key` would mistranslate)."""
    from pyspark.sql import functions as F

    nn = None
    for c in cols:
        e = F.col(c).isNotNull()
        nn = e if nn is None else nn & e
    if (
        df.filter(nn).groupBy(*cols).count()
        .filter(F.col("count") > 1).limit(1).count()
    ):
        raise ConstraintViolation(
            f"UNIQUE ({', '.join(cols)}) violated inside {what}: {path}"
        )


def _check_unique_remainder(
    spark: SparkSession,
    path: str,
    cols: list[str],
    batch: DataFrame,
    remainder: DataFrame,
    what: str,
) -> None:
    """Batch-vs-remainder UNIQUE collision: any key of `batch` already
    present in `remainder` (the rows the commit does NOT rewrite —
    untouched segments / NOT-scope survivors) violates the constraint.
    One column-pruned left-semi join; NULL-keyed rows exempt. Runs
    BEFORE any segment write so a refusal is atomic (no version, no
    orphan data). Cost note: O(remainder) scan of the key columns only,
    paid only on UNIQUE-declared lakes — the same shape (and the same
    segments) as the partitioned MERGE's key-stability scan."""
    from pyspark.sql import functions as F

    nn = None
    for c in cols:
        e = F.col(c).isNotNull()
        nn = e if nn is None else nn & e
    probe = batch.filter(nn).select(*cols).distinct()
    if (
        remainder.select(*cols)
        .join(probe, on=list(cols), how="left_semi")
        .limit(1)
        .count()
    ):
        raise ConstraintViolation(
            f"UNIQUE ({', '.join(cols)}) violated: {what} carries a key "
            f"that survives elsewhere in {path}"
        )


def _check_constraints(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Validate a commit's INCOMING rows against the table's CHECK
    constraints — one combined partial-agg'd count job when any exist
    (retained rows were validated by their own writing commit, so
    write paths only pay O(batch)). A NULL predicate result counts as
    a violation (CHECK must be provably true, the SQL standard's
    WITH CHECK OPTION reading — looser than Delta, which lets NULL
    through; explicitly OR IS NULL in the expression to allow it).

    Raced against a concurrent `set_constraint` the check uses the
    constraints read at commit START (documented: a constraint becomes
    binding for commits that begin after it lands — same read-time
    semantics as the snapshot the commit builds on)."""
    from pyspark.sql import functions as F

    cons = table_constraints(spark, path)
    if not cons:
        return
    counts = df.agg(
        *[
            F.sum(
                (~F.coalesce(F.expr(expr), F.lit(False))).cast("long")
            ).alias(name)
            for name, expr in cons.items()
        ]
    ).collect()[0]
    bad = {n: int(counts[n]) for n in cons if counts[n]}
    if bad:
        detail = ", ".join(
            f"{n}: {c} rows violate CHECK ({cons[n]})" for n, c in bad.items()
        )
        raise ConstraintViolation(f"commit rejected on {path}: {detail}")


def _check_schema(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Eager pre-write schema validation (same merge `_schema_props`
    re-runs in the commit's build): a drifting batch fails BEFORE its
    segment is written, not as a commit-time orphan."""
    cur = table_schema(spark, path)
    if cur is None:
        cur = _probe_schema(spark, path) or []
    _merge_schema_pairs(cur, _df_schema_pairs(df), path)


def _json_safe(v):
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)  # dates/timestamps: ISO str (lexicographic-comparable)


def _comparable(a, b) -> bool:
    """True when a Python comparison between `a` and `b` provably
    mirrors the engine's: same type, or both non-bool numerics (Python
    int/float cross-compare by VALUE, matching Spark's implicit numeric
    widening). A str-vs-int probe against an int-tagged segment is NOT
    provable either way (Spark would cast; Python would call 2017 !=
    '2017' "different") — the caller must KEEP the segment, because
    skipping must stay sound under type drift between the write-time
    tag and the read-time probe."""
    num = (int, float)
    a_num = isinstance(a, num) and not isinstance(a, bool)
    b_num = isinstance(b, num) and not isinstance(b, bool)
    if a_num and b_num:
        return True
    return type(a) is type(b)


def _provably_lt(a, b) -> bool:
    """a < b when both sides are present and comparably typed; False
    (= "can't prove, keep the segment") otherwise — never raises on a
    str-vs-int stats/probe mismatch."""
    if a is None or b is None or not _comparable(a, b):
        return False
    try:
        return a < b
    except TypeError:
        return False


def _provably_le(a, b) -> bool:
    """a <= b under the same provability contract as `_provably_lt`."""
    if a is None or b is None or not _comparable(a, b):
        return False
    try:
        return a <= b
    except TypeError:
        return False


# Per-segment bloom filters, ADAPTIVELY sized: ~16 bits per distinct
# key (≈0.5% FP at 7 hashes), bitmap between 2^14 bits (2 KB) and
# 2^19 bits (~87 KB base64 in the manifest). Above ~32k distinct keys
# the manifest-level bloom is omitted (never-pruned, always sound) —
# that regime belongs to FILE-level blooms, which parquet itself
# provides (`parquet.bloom.filter.enabled#col` write option; Spark's
# reader consumes them on point predicates inside the segments this
# manifest keeps). Point lookups on high-cardinality keys prune
# segments min/max stats can't: uniformly distributed keys span every
# segment's range but live in exactly one.
_BLOOM_MIN_BITS = 1 << 14
_BLOOM_MAX_BITS = 1 << 19
_BLOOM_BITS_PER_KEY = 16
_BLOOM_HASHES = 7


def _bloom_hash_cols(col):
    from pyspark.sql import functions as F

    # canonicalize through STRING before hashing: the probe side builds
    # a literal whose numeric TYPE (int vs long) the driver can't know,
    # and xxhash64 hashes int 2017 and long 2017 differently — a silent
    # false NEGATIVE. String form is type-stable for integer/string
    # keys (the bloom's use case; don't bloom float keys).
    s = col.cast("string")
    return [F.xxhash64(s, F.lit(seed)) for seed in range(_BLOOM_HASHES)]


def _segment_blooms(
    df: DataFrame, by: list[str], kinds: list[tuple[str, str]], keys: list
) -> dict[tuple, dict]:
    """{key: {kind: {col: bloom}}} for each of `keys` (tuples of the
    values of the `by` columns), where
    `kinds` lists ("bloom", col) and ("tok_bloom", col) pairs. A token
    bloom covers the lowercased WHITESPACE TOKENS of a string column:
    "which segments mention this term" answered from the manifest (the
    decontamination / attribution / grep-at-100TB probe); per-segment
    distinct tokens are vocabulary-bounded, so these stay small where a
    doc-id bloom would saturate.

    ONE aggregation for every column and group (AQE runs it as at most
    two scheduler jobs): bit positions are computed at the MAX bitmap
    size, offset by the column's index times that size, and
    partial-aggregated map-side into 64-bit words (``bit_or`` per
    group and word), so at most 2^19/64 = 8192 rows per group and
    column reach the driver. `_fold_bloom` sizes each bitmap."""
    from pyspark.sql import functions as F

    m_max = _BLOOM_MAX_BITS

    def positions(col, i):
        return [F.pmod(h, F.lit(m_max)) + i * m_max for h in _bloom_hash_cols(col)]

    arrays = []
    for i, (kind, c) in enumerate(kinds):
        if kind == "bloom":
            arrays.append(F.array(*positions(F.col(c), i)))
        else:
            toks = F.filter(F.split(F.lower(F.col(c)), r"\s+"), lambda t: t != "")
            arrays.append(F.coalesce(  # NULL text has no tokens
                F.flatten(F.transform(toks, lambda t: F.array(*positions(t, i)))),
                F.array().cast("array<bigint>"),
            ))
    rows = (
        df.select(*by, F.explode(F.concat(*arrays)).alias("__v"))
        .select(
            *by,
            (F.col("__v") / 64).cast("long").alias("__w"),
            # shiftleft via expr: the F.shiftleft wrapper takes only a
            # literal int shift, the SQL function takes a column
            F.expr("shiftleft(cast(1 as bigint), cast(__v % 64 as int))").alias("__b"),
        )
        .groupBy(*by, "__w")
        .agg(F.bit_or("__b").alias("__bits"))
        .collect()
    )
    words: dict = {}
    for r in rows:
        i, w = divmod(int(r["__w"]), m_max // 64)
        k = tuple(r[c] for c in by)
        words.setdefault((k, i), {})[w] = int(r["__bits"])
    out: dict = {}
    for k in keys:
        meta: dict = {}
        for i, (kind, c) in enumerate(kinds):
            b = _fold_bloom(words.get((k, i), {}))
            if b is not None:
                meta.setdefault(kind, {})[c] = b
        out[k] = meta
    return out


def _fold_bloom(words: dict[int, int]) -> dict | None:
    """{"bits": m, "b64": bitmap} from one segment column's words at the
    MAX bitmap size ({word index: bits}), sized to the segment's
    distinct key count, or None when the segment is too large for a
    useful manifest-level bloom.

    The distinct-key count is ESTIMATED from the fill ratio
    (n ≈ -(m/k)·ln(1−t/m), the standard bloom-occupancy inversion) to
    pick the adaptive target size, and the bitmap FOLDS down by
    OR-halving: with power-of-two sizes, (h mod M) mod (M/2) ==
    h mod (M/2), so folding preserves membership EXACTLY — the folded
    bloom equals the one built directly at the target size."""
    import base64
    import math

    m_max = _BLOOM_MAX_BITS
    bitmap = 0
    t = 0  # set-bit count at max size
    for w, bits in words.items():
        word = bits & 0xFFFFFFFFFFFFFFFF  # two's-complement -> unsigned
        bitmap |= word << (64 * w)
        t += word.bit_count()
    if t >= m_max:
        return None  # fully saturated (cannot happen below ~75k keys)
    n_est = -(m_max / _BLOOM_HASHES) * math.log1p(-t / m_max)
    want = max(_BLOOM_MIN_BITS, int(n_est * _BLOOM_BITS_PER_KEY))
    if want > _BLOOM_MAX_BITS:
        return None  # saturated bloom prunes nothing: omit, stay sound
    m = _BLOOM_MIN_BITS
    while m < want:
        m <<= 1
    size = m_max
    while size > m:
        half = size // 2
        bitmap = (bitmap & ((1 << half) - 1)) | (bitmap >> half)
        size = half
    return {
        "bits": m,
        "b64": base64.b64encode(bitmap.to_bytes(m // 8, "little")).decode(),
    }


# XXH64 (Collet's public xxHash spec) — the exact function behind the
# engine's xxhash64, reimplemented so bloom PROBES hash driver-side
# instead of paying a Spark job per read (r12, guide §1.2: the probe
# job cost ~0.25 s of fixed overhead on every bloom-pruned read path).
# Build-side hashing stays in the engine (data-scale); only the handful
# of probe values hash here. Bit-exactness vs F.xxhash64 is pinned by a
# differential pytest over unicode/length/sign edge cases.
_XXH64_P1 = 0x9E3779B185EBCA87
_XXH64_P2 = 0xC2B2AE3D27D4EB4F
_XXH64_P3 = 0x165667B19E3779F9
_XXH64_P4 = 0x85EBCA77C2B2AE63
_XXH64_P5 = 0x27D4EB2F165667C5
_MASK64 = (1 << 64) - 1


def _xxh64(data: bytes, seed: int) -> int:
    """Unsigned XXH64 of `data` with `seed` (reference algorithm)."""
    rotl = lambda x, r: ((x << r) | (x >> (64 - r))) & _MASK64  # noqa: E731
    length = len(data)
    i = 0
    if length >= 32:
        v1 = (seed + _XXH64_P1 + _XXH64_P2) & _MASK64
        v2 = (seed + _XXH64_P2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - _XXH64_P1) & _MASK64
        while i <= length - 32:
            for _j in range(4):
                lane = int.from_bytes(data[i:i + 8], "little")
                if _j == 0:
                    v1 = (rotl((v1 + lane * _XXH64_P2) & _MASK64, 31) * _XXH64_P1) & _MASK64
                elif _j == 1:
                    v2 = (rotl((v2 + lane * _XXH64_P2) & _MASK64, 31) * _XXH64_P1) & _MASK64
                elif _j == 2:
                    v3 = (rotl((v3 + lane * _XXH64_P2) & _MASK64, 31) * _XXH64_P1) & _MASK64
                else:
                    v4 = (rotl((v4 + lane * _XXH64_P2) & _MASK64, 31) * _XXH64_P1) & _MASK64
                i += 8
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _MASK64
        for v in (v1, v2, v3, v4):
            h ^= (rotl((v * _XXH64_P2) & _MASK64, 31) * _XXH64_P1) & _MASK64
            h = (h * _XXH64_P1 + _XXH64_P4) & _MASK64
    else:
        h = (seed + _XXH64_P5) & _MASK64
    h = (h + length) & _MASK64
    while i + 8 <= length:
        lane = int.from_bytes(data[i:i + 8], "little")
        h ^= (rotl((lane * _XXH64_P2) & _MASK64, 31) * _XXH64_P1) & _MASK64
        h = (rotl(h, 27) * _XXH64_P1 + _XXH64_P4) & _MASK64
        i += 8
    if i + 4 <= length:
        lane = int.from_bytes(data[i:i + 4], "little")
        h ^= (lane * _XXH64_P1) & _MASK64
        h = (rotl(h, 23) * _XXH64_P2 + _XXH64_P3) & _MASK64
        i += 4
    while i < length:
        h ^= (data[i] * _XXH64_P5) & _MASK64
        h = (rotl(h, 11) * _XXH64_P1) & _MASK64
        i += 1
    h ^= h >> 33
    h = (h * _XXH64_P2) & _MASK64
    h ^= h >> 29
    h = (h * _XXH64_P3) & _MASK64
    h ^= h >> 32
    return h


def _xxh64_int(i32: int, seed: int) -> int:
    """XXH64 of one 4-byte int lane (the engine's hashInt step: the
    expression `xxhash64(s, lit(seed))` folds the INT literal into the
    running hash with this exact shape)."""
    h = (seed + _XXH64_P5 + 4) & _MASK64
    h ^= ((i32 & 0xFFFFFFFF) * _XXH64_P1) & _MASK64
    h = ((((h << 23) | (h >> 41)) & _MASK64) * _XXH64_P2 + _XXH64_P3) & _MASK64
    h ^= h >> 33
    h = (h * _XXH64_P2) & _MASK64
    h ^= h >> 29
    h = (h * _XXH64_P3) & _MASK64
    h ^= h >> 32
    return h


def _probe_str(value) -> str | None:
    """The engine's CAST(v AS STRING) for the probe types the blooms
    support (int/str; bools cast to 'true'/'false'), or None for any
    type whose string form the driver can't reproduce bit-exactly
    (floats, dates, decimals) — those fall back to the engine job."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return value
    return None


def _local_probe_hashes(value) -> list[int] | None:
    """Driver-side twin of `_bloom_probe_hashes` for str/int probes —
    the k signed xxhash64(CAST(v AS STRING), lit(seed)) values, no job.
    The engine expression folds left-to-right from the fixed seed 42:
    h = XXH64(utf8(s), 42), then hashInt(seed_i, h) per probe seed."""
    s = _probe_str(value)
    if s is None:
        return None
    base = _xxh64(s.encode("utf-8"), 42)
    out = []
    for seed in range(_BLOOM_HASHES):
        h = _xxh64_int(seed, base)
        out.append(h - (1 << 64) if h >= (1 << 63) else h)
    return out


def _bloom_probe_hashes(spark: SparkSession, value) -> list[int]:
    """The k FULL 64-bit hashes for a probe value — computed with the
    SAME hash function (xxhash64 over the string cast) that built the
    segment blooms: driver-side for str/int probes (bit-exact XXH64
    twin, differential-pinned), via a 1-row engine job for any other
    type. Positions are taken per segment as hash mod that segment's
    bitmap size."""
    from pyspark.sql import functions as F

    local = _local_probe_hashes(value)
    if local is not None:
        return local
    row = (
        spark.range(1)
        .select(*[
            c.alias(f"h{i}")
            for i, c in enumerate(_bloom_hash_cols(F.lit(value)))
        ])
        .collect()[0]
    )
    return [int(row[f"h{i}"]) for i in range(_BLOOM_HASHES)]


def _bloom_probes(spark: SparkSession, bloom_eq: dict) -> dict:
    """{col: [probe-hash-list, ...]} for a `bloom_eq` whose values are
    scalars OR collections (any-of semantics — the dim-driven join
    probe). Collections hash in ONE job per column (a local frame of
    the probe values — bounded by the caller's broadcast contract),
    never a 1-row job per value."""
    from pyspark.sql import functions as F

    out: dict = {}
    for c, val in bloom_eq.items():
        vals = (
            list(val)
            if isinstance(val, (list, tuple, set, frozenset))
            else [val]
        )
        if not vals:
            # any-of NOTHING matches no key: every bloomed segment is
            # provably disprovable (empty probe list — _prune_segments'
            # any() over it is False). Adversarial catch: the empty
            # local frame otherwise crashes schema inference.
            out[c] = []
            continue
        local = [_local_probe_hashes(v) for v in vals]
        if all(h is not None for h in local):
            # str/int probes hash driver-side (r12): no engine job at all
            out[c] = local
            continue
        if len(vals) == 1:
            out[c] = [_bloom_probe_hashes(spark, vals[0])]
            continue
        rows = (
            rows_frame(spark, [(v,) for v in vals], ["__probe"])
            .select(*[
                h.alias(f"h{i}")
                for i, h in enumerate(_bloom_hash_cols(F.col("__probe")))
            ])
            .collect()
        )
        out[c] = [
            [int(r[f"h{i}"]) for i in range(_BLOOM_HASHES)] for r in rows
        ]
    return out


def _token_probes(spark: SparkSession, token_eq: dict | None) -> dict | None:
    """Probe hashes for `token_eq` ({text_col: token | [tokens]}) —
    lowercased to match the build-side normalization; any-of across
    multiple tokens, like every other probe."""
    if not token_eq:
        return None
    lowered = {
        c: (
            [str(t).lower() for t in v]
            if isinstance(v, (list, tuple, set, frozenset))
            else str(v).lower()
        )
        for c, v in token_eq.items()
    }
    return _bloom_probes(spark, lowered)


def _bloom_maybe_contains(entry: dict, hashes: list[int]) -> bool:
    import base64

    m = int(entry["bits"])
    bitmap = int.from_bytes(base64.b64decode(entry["b64"]), "little")
    # Python % on a negative int is floor-mod == Spark's pmod
    return all((bitmap >> (h % m)) & 1 for h in hashes)


def _stats_meta(
    df: DataFrame, by: list[str], stats_cols: list[str]
) -> list[tuple[tuple, dict]]:
    """[(values of the `by` columns, stats)] — segment-level statistics
    for each group of the written frame in ONE aggregation, whatever
    the number of groups (no `by`: the one global row, also for 0
    rows).
    Numeric / string / date columns; the write-time cost of read-time
    data skipping AND metadata-only aggregation:

      {"stats": {col: [min, max]},   # range pruning (_prune_segments)
       "rows": n,                    # metadata_agg COUNT(*)
       "nulls": {col: n_null}}       # metadata_agg COUNT(col)

    min/max ignore NULLs (Spark agg semantics — matches what a scan
    would compute); an all-NULL column records [None, None]."""
    from pyspark.sql import functions as F

    rows = df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("__rows"),
        *[F.min(c).alias(f"__mn_{c}") for c in stats_cols],
        *[F.max(c).alias(f"__mx_{c}") for c in stats_cols],
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nl_{c}")
            for c in stats_cols
        ],
    ).collect()
    return [
        (
            tuple(r[c] for c in by),
            {
                "stats": {
                    c: [_json_safe(r[f"__mn_{c}"]), _json_safe(r[f"__mx_{c}"])]
                    for c in stats_cols
                },
                "rows": int(r["__rows"]),
                "nulls": {c: int(r[f"__nl_{c}"] or 0) for c in stats_cols},
            },
        )
        for r in rows
    ]


# the dir Spark's partitioned writer gives a NULL partition value
_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def _write_segments(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    key: list | None = None,
    sort: list[str] | None = None,
    target_files: int | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    token_bloom_cols: list[str] | None = None,
    file_blooms: bool = True,
    expected_ndv: int | None = None,
) -> list[tuple[tuple, str, dict]]:
    """The one segment writer: lands `df` in new data segments and
    computes their manifest metadata, returning [(key values, segment,
    metadata)].

    Without `key`, `df` is ONE segment written straight to its dir
    (`_write_segment`, coalesced to `target_files`) and the key values
    are ``()``. With `key` (a
    list of Columns), each distinct key tuple (NULL is a value) becomes
    one segment, in a fixed number of jobs whatever the number of
    segments: the frame is written ONCE with ``partitionBy("__p")``
    into a tmp dir under ``data/``, and each ``__p=<v>`` dir is renamed
    into its own ``data/seg-<uuid>``, so the manifest layout and every
    reader stay as they are. One integral key column is ``__p`` itself
    (the z-run of the cluster ops, the group id of `_rewrite_groups`):
    the dirs the write made are the keys, and without `stats_cols` no
    aggregation runs. Any other key's tuples come out of the stats
    aggregation and a broadcast join copies each row's tuple into a
    dense int ``__p``, which keeps typed values (NULL, '/', '=', '%',
    non-ASCII) out of directory names. A key computed from helper
    columns never reaches the files. `sort` names helper
    columns that order the rows inside each keyed segment and are not
    written (the z value of the cluster ops, the group id of
    `_rewrite_groups`). `target_files` caps each keyed segment's file
    count: the rows shuffle on (``__p``, input partition mod
    `target_files`), so one task writes each of a segment's at most
    `target_files` files. Segments come back in key order, NULL first.
    The maintenance ops reach this pass through `_rewrite_groups`.

    Metadata takes at most two grouped aggregations: `_stats_meta`
    (``stats``/``rows``/``nulls``, recorded when `stats_cols` is given)
    and `_segment_blooms` (every ``bloom`` and ``tok_bloom`` column).
    `bloom_cols` also get FILE-level parquet blooms unless
    `file_blooms=False` (see `_write_segment`)."""
    from pyspark.sql import functions as F

    stats_cols, sort = list(stats_cols or []), list(sort or [])
    kinds = [("bloom", c) for c in bloom_cols or []]
    kinds += [("tok_bloom", c) for c in token_bloom_cols or []]
    file_bloom_cols = bloom_cols if file_blooms else None
    if key is None:
        seg = _write_segment(
            df, path, target_files,
            bloom_cols=file_bloom_cols, expected_ndv=expected_ndv,
        )
        stats = _stats_meta(df, [], stats_cols) if stats_cols else [((), {})]
        placed, meta_df, by = [((), seg)], df, []
    else:
        kcols = [f"__k{i}" for i in range(len(key))]
        kdf = df.select("*", *[k.alias(c) for c, k in zip(kcols, key)])
        direct = len(key) == 1 and dict(kdf.dtypes)["__k0"] in _INTEGRAL_TYPES
        if direct:  # an integral key names its dirs itself
            meta_df = kdf.withColumnRenamed("__k0", "__p")
        else:
            stats = sorted(
                _stats_meta(kdf, kcols, stats_cols),
                key=lambda ks: [(v is not None, v) for v in ks[0]],
            )
            if not stats:
                return []
            jcols = [f"__j{i}" for i in range(len(key))]
            ids = rows_frame(
                spark,
                [(i, *k) for i, (k, _) in enumerate(stats)],
                kdf.select(
                    F.lit(0).alias("__p"),
                    *[F.col(c).alias(j) for c, j in zip(kcols, jcols)],
                ).schema,
            )
            on = F.lit(True)
            for c, j in zip(kcols, jcols):
                on = on & F.col(c).eqNullSafe(F.col(j))
            meta_df = kdf.join(F.broadcast(ids), on).drop(*kcols, *jcols)
        out = meta_df if not target_files else meta_df.withColumn(
            "__f", F.pmod(F.spark_partition_id(), F.lit(target_files))
        ).repartition("__p", "__f").drop("__f")
        tmp = _write_segment(
            out.sortWithinPartitions("__p", *sort).drop(*sort), path, None,
            bloom_cols=file_bloom_cols, expected_ndv=expected_ndv,
            partition_by="__p",
        )
        fs, jtmp = _fs(spark, f"{path}/{_DATA_DIR}/{tmp}")
        if direct:  # the keys are the ``__p=<v>`` dirs the write made
            dirs = [
                f.getPath().getName()[4:] for f in fs.listStatus(jtmp) if f.isDirectory()
            ]
            vals = sorted(
                (None if d == _NULL_DIR else int(d) for d in dirs),
                key=lambda v: (v is not None, v),
            )
            got = dict(
                _stats_meta(meta_df, ["__p"], stats_cols) if stats_cols and vals else []
            )
            stats = [((v,), got.get((v,), {})) for v in vals]
        placed = []
        for i, (k, _) in enumerate(stats):
            d = k[0] if direct else i
            seg = f"seg-{uuid.uuid4().hex[:12]}"
            src = f"{tmp}/__p={_NULL_DIR if d is None else d}"
            if not fs.rename(
                _jpath(spark, f"{path}/{_DATA_DIR}/{src}"),
                _jpath(spark, f"{path}/{_DATA_DIR}/{seg}"),
            ):
                raise RuntimeError(f"failed to place the segment for key {k}")
            placed.append(((d,), seg))
        fs.delete(jtmp, True)
        by = ["__p"]
    blooms = (
        _segment_blooms(meta_df, by, kinds, [g for g, _ in placed])
        if kinds and placed else {}
    )
    return [
        (k, seg, {**(st if stats_cols else {}), **blooms.get(g, {})})
        for (k, st), (g, seg) in zip(stats, placed)
    ]


_NDV_BITMAP_MAX_BUCKETS = 64  # ~2.1M-value span; zlib keeps it small
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint", "long"}


def _ndv_meta(df: DataFrame, ndv_cols: list[str]) -> dict:
    """Per-segment DISTINCT-COUNT sketches (VERDICT r11 #4) — one
    mergeable structure per column so `metadata_agg` can answer
    COUNT(DISTINCT col) across segments from manifest metadata and
    `plan_maintenance` can see duplicate-heavy segments:

      kind="bitmap" — integral columns whose value span fits
        `_NDV_BITMAP_MAX_BUCKETS` 32768-bit buckets: the EXACT
        mergeable form (Spark's bitmap_construct_agg per bucket;
        cross-segment union is a byte-OR, count is a popcount).
        Buckets store zlib+b85 (sparse bitmaps compress to ~nothing).
      kind="theta" — everything else: a DataSketches Theta sketch
        (exact below 4096 retained hashes, ~2% relative error past —
        the 100 TB shape where exact bitmaps would outgrow the
        manifest).

    NULLs never count (COUNT DISTINCT semantics). Cost: one extra
    aggregate job per recorded column — the write-time price of
    metadata-answered NDV, same trade as stats/blooms."""
    import base64
    import zlib

    from pyspark.sql import functions as F

    out: dict = {}
    types = dict(df.dtypes)
    for c in ndv_cols:
        if types.get(c) in _INTEGRAL_TYPES:
            buckets = (
                df.filter(F.col(c).isNotNull())
                .groupBy(F.bitmap_bucket_number(F.col(c)).alias("__b"))
                .agg(
                    F.bitmap_construct_agg(
                        F.bitmap_bit_position(F.col(c))
                    ).alias("__bm")
                )
                .collect()
            )
            if len(buckets) <= _NDV_BITMAP_MAX_BUCKETS:
                enc = {
                    str(int(r["__b"])): base64.b85encode(
                        zlib.compress(bytes(r["__bm"]), 6)
                    ).decode("ascii")
                    for r in buckets
                }
                count = sum(
                    bin(int.from_bytes(bytes(r["__bm"]), "big")).count("1")
                    for r in buckets
                )
                out[c] = {"kind": "bitmap", "buckets": enc, "count": count}
                continue
        row = df.agg(
            F.theta_sketch_agg(F.col(c)).alias("__sk"),
            F.theta_sketch_estimate(
                F.theta_sketch_agg(F.col(c))
            ).alias("__est"),
        ).collect()[0]
        sk = row["__sk"]
        if sk is None:
            out[c] = {"kind": "bitmap", "buckets": {}, "count": 0}
            continue
        out[c] = {
            "kind": "theta",
            "sk": base64.b85encode(bytes(sk)).decode("ascii"),
            "est": int(row["__est"] or 0),
        }
    return out


def _ndv_bitmap_count(encoded_buckets: list[dict]) -> int:
    """Exact distinct count from per-segment bitmap dicts: byte-OR
    per bucket id, popcount the union — driver-side over KB-scale
    metadata, zero data files read."""
    import base64
    import zlib

    union: dict[str, bytes] = {}
    for enc in encoded_buckets:
        for b, payload in enc.items():
            bm = zlib.decompress(base64.b85decode(payload))
            prev = union.get(b)
            if prev is None:
                union[b] = bm
            else:
                union[b] = bytes(x | y for x, y in zip(prev, bm))
    return sum(
        bin(int.from_bytes(bm, "big")).count("1") for bm in union.values()
    )


def commit_append(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    target_files: int | None = None,
    tag: str | None = None,
    partition: dict | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    token_bloom_cols: list[str] | None = None,
    ndv_cols: list[str] | None = None,
) -> int:
    """Append `df` as a new segment; returns the committed version.
    Pass `tag` for an idempotency token (see `_commit`/`committed_tags`),
    `partition` ({col: value}) / `stats_cols` / `bloom_cols` /
    `token_bloom_cols` to record manifest metadata for segment-level
    pruning: partition equality, min/max ranges, bloom point lookups,
    and keyword-token blooms respectively (`read_snapshot(part_eq= /
    ranges= / bloom_eq= / token_eq=)`)."""

    def write(phys_df: DataFrame, props: dict) -> dict[str, dict]:
        # metadata keys (partition / stats / bloom) follow the physical
        # names the read-side probe translation expects
        partition_t = _translate_probe(props, partition)
        seg_meta: dict = {}
        if partition_t is not None:
            seg_meta["part"] = {k: _json_safe(v) for k, v in partition_t.items()}
        [(_, seg, m)] = _write_segments(
            spark, path, phys_df,
            target_files=target_files,
            stats_cols=_physical_cols(props, stats_cols),
            bloom_cols=_physical_cols(props, bloom_cols),
            token_bloom_cols=_physical_cols(props, token_bloom_cols),
        )
        seg_meta.update(m)
        if ndv_cols:
            seg_meta["ndv"] = _ndv_meta(phys_df, _physical_cols(props, ndv_cols))
            if "rows" not in seg_meta:
                # the advisor's rows/ndv ratio and metadata_agg's
                # count_rows both need the row count alongside
                seg_meta["rows"] = phys_df.count()
        return {seg: seg_meta}

    return _append(spark, path, df, tag, write)


def commit_append_partitioned(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    part_col: str,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Append `df` as ONE atomic commit carrying one partition-tagged
    segment per distinct `part_col` value (NULL is a valid partition).
    The multi-segment twin of `commit_append(partition=...)`: callers
    previously looped one commit per value, which exposes readers to
    partial states between loop iterations and burns a manifest CAS per
    partition — here the batch lands all-or-nothing in a single
    version, ready for partition-scoped MERGE / replaceWhere / pruning.
    The segments land through the one keyed `_write_segments` pass: the
    same number of jobs for 3 partitions or 3,000.

    Column-mapped lakes: the logical batch and the part/stats/bloom
    columns translate to physical names like `commit_append` (segment
    tags stay physical — the probe translation expects that), with the
    same commit-time mapping check + rewrite-on-race."""
    from pyspark.sql import functions as F

    return _append(
        spark,
        path,
        df,
        tag,
        lambda phys_df, props: _tagged(
            _physical(props, part_col),
            _write_segments(
                spark, path, phys_df, [F.col(_physical(props, part_col))],
                stats_cols=_physical_cols(props, stats_cols),
                bloom_cols=_physical_cols(props, bloom_cols),
            ),
        ),
    )


def _append(
    spark: SparkSession, path: str, df: DataFrame, tag: str | None, write
) -> int:
    """The one body of `commit_append` and `commit_append_partitioned`:
    they differ only in `write(physical_batch, props) -> {seg: meta}`,
    which lands the batch's segments.

    The segments are written ONCE, in the first build, and reused on a
    lost rename — only the pointer retries (a replayed tag returns
    before any build, so a replay writes nothing). Two things the
    write depends on are re-checked against every parent:

    - the column mapping: a column-mapped lake stores the LOGICAL batch
      under the original PHYSICAL names so every segment stays uniform.
      A rename_column/drop_column landing after the write would strand
      the segments under stale physical names (reads would null-fill
      the renamed column), so a moved mapping re-expresses the batch
      in the parent's logical names and rewrites the segments (the
      stale ones become vacuumable orphans);
    - the declared UNIQUE key: the batch is validated against itself
      and the parent before the (first) write, and again on every
      rebuild — a racing append of the same key, or a `set_unique_key`
      landing in between, is caught against the snapshot the commit
      actually lands on."""
    df = _apply_generated(spark, path, df)
    df = _upcast_to_schema(spark, path, df)
    _check_constraints(spark, path, df)
    _check_schema(spark, path, df)
    written: dict = {}

    def build(parent):
        nonlocal df
        props = _props(parent)
        mapping = (_colmap(props), set(props.get("dropped_cols", [])))
        if written and written["mapping"] != mapping:
            # the batch's intent is unambiguous — its logical names were
            # resolved against the props it was written under. Carry
            # that intent forward: each column's physical identity gets
            # its CURRENT logical name (a raced rename follows the
            # rename; a raced drop refuses), then rewrite fresh.
            df = _relogical(df, written["props"], props, path)
            written.clear()
        uniq = list(props.get("unique", []))
        if uniq:
            # against the latest version: when that is newer than the
            # parent, this attempt's rename loses and the rebuild checks
            # again
            _check_unique(spark, path, df, uniq)
        if not written:
            # eager twin of the _schema_props resurrection guard: a new
            # logical column colliding with a dropped or renamed-away
            # PHYSICAL name must fail with the real diagnosis here,
            # before _to_physical trips over the duplicate name
            _refuse_physical_reuse(props, df.columns, path)
            written.update(
                segs=write(_to_physical(df, props), props),
                props=props,
                mapping=mapping,
            )
        segs = written["segs"]
        return {
            "segments": _carry(parent) + list(segs),
            "meta": {s: m for s, m in segs.items() if m},
            "props": _schema_props(spark, path, props, df),
        }

    return _commit(spark, path, "append", build, tag=tag)


def _tagged(part_col: str, written: list) -> dict[str, dict]:
    """{segment: metadata} for a `_write_segments` pass keyed on
    `part_col` alone: each segment tagged with its partition value."""
    return {
        seg: {"part": {part_col: _json_safe(k[0])}, **m} for k, seg, m in written
    }


def commit_replace_partitioned(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    part_col: str,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Replace the table wholesale with one partition-tagged segment
    per distinct `part_col` value, in ONE atomic commit — the rebuild
    primitive for partitioned index tables (e.g. the IVF codes lake:
    thousands of cells land as one version; readers are
    snapshot-isolated for the whole rebuild and never see a partial
    index; the superseded segments stay readable via time travel until
    vacuum). Pending merge-on-read tombstones drop — the new contents
    supersede everything they applied to.

    Execution: one keyed `_write_segments` pass — a stats aggregation
    that also finds the partition values, ONE `partitionBy` write, and
    one bloom aggregation — so the job count does not grow with the
    number of cells."""
    from pyspark.sql import functions as F

    _check_constraints(spark, path, df)
    _check_unique_self(spark, path, df)
    new_segs = _tagged(part_col, _write_segments(
        spark, path, df, [F.col(part_col)],
        stats_cols=stats_cols, bloom_cols=bloom_cols,
    ))
    return _commit(
        spark,
        path,
        "replace",
        lambda parent: {
            "segments": list(new_segs),
            "meta": new_segs,
            "deletes": [],
            "props": _schema_props(spark, path, _props(parent), df, replace=True),
        },
        tag=tag,
    )


def commit_replace(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    target_files: int | None = None,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    file_blooms: bool = True,
) -> int:
    """Replace the table contents wholesale (snapshot overwrite).
    Pending merge-on-read tombstones are dropped — the new contents
    supersede everything they applied to. `tag` is the usual commit
    idempotency token (a replayed replace with a seen tag is a no-op
    returning the existing version — the MV-publish replay guard).
    `stats_cols`/`bloom_cols` record the same skipping metadata as
    commit_append — rebuilds keep range pruning, point lookups, AND
    pruned deletes working (a bloom-less rebuilt lake makes every
    later takedown a full rewrite). `file_blooms=False` records the
    KB-scale MANIFEST bloom only: the right trade for compact index
    lakes whose contract is minimum bytes on disk (the per-file
    parquet bloom is a fixed cost that only pays off on oversize
    segments the manifest bloom can't cover)."""
    df = _apply_generated(spark, path, df)
    df = _upcast_to_schema(spark, path, df)
    _check_constraints(spark, path, df)
    _check_unique_self(spark, path, df)
    ndv = df.count() if (bloom_cols and file_blooms) else None
    [(_, seg, seg_meta)] = _write_segments(
        spark, path, df,
        target_files=target_files,
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        file_blooms=file_blooms,
        expected_ndv=ndv,
    )
    return _commit(
        spark,
        path,
        "replace",
        lambda parent: {
            "segments": [seg],
            "meta": {seg: seg_meta} if seg_meta else {},
            "deletes": [],
            "props": _schema_props(spark, path, _props(parent), df, replace=True),
        },
        tag=tag,
    )


def _scope_pred(eq: dict | None, ranges: dict | None):
    """The row-level predicate a replaceWhere scope denotes: AND of
    null-safe equalities and inclusive BETWEENs. NULL range columns
    fall outside the scope (SQL three-valued logic: a NULL o_year row
    does not belong to `o_year BETWEEN lo AND hi`)."""
    from pyspark.sql import functions as F

    p = F.lit(True)
    for c, v in (eq or {}).items():
        p = p & F.col(c).eqNullSafe(F.lit(v))
    for c, (lo, hi) in (ranges or {}).items():
        p = p & F.coalesce(F.col(c).between(F.lit(lo), F.lit(hi)), F.lit(False))
    return p


def _provably_all_match(meta: dict, eq: dict | None, ranges: dict | None) -> bool:
    """True when a segment's manifest metadata PROVES every row
    satisfies the scope — the whole-segment-drop fast path of
    `commit_replace_where`. Unprovable (missing tag/stats, type drift
    between write-time tag and probe) means False: the segment falls
    back to the always-sound row-level rewrite."""
    part = meta.get("part", {})
    for c, want in (eq or {}).items():
        have, want_c = part.get(c), _json_safe(want)
        if c not in part:
            return False
        if have is None or want_c is None:
            if (have is None) != (want_c is None):
                return False
            continue
        if not (_comparable(have, want_c) and have == want_c):
            return False
    stats = meta.get("stats", {})
    for c, (lo, hi) in (ranges or {}).items():
        if c not in stats:
            return False
        mn, mx = stats[c]
        if not (_provably_le(_json_safe(lo), mn) and _provably_le(mx, _json_safe(hi))):
            return False
    return True


def commit_replace_where(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    eq: dict | None = None,
    ranges: dict | None = None,
    partition_by: str | None = None,
    allow_nonmatching_rows: bool = False,
    record_cdf: bool = False,
    cdf_keys: list[str] | None = None,
) -> int:
    """Predicate-scoped overwrite (Delta's ``replaceWhere`` /
    INSERT OVERWRITE ... WHERE): atomically swap the rows matching the
    scope for `df`, leaving every row outside the scope untouched.

    Scope = AND of `eq` ({col: value}, null-safe — a None value names
    the NULL partition) and `ranges` ({col: (lo, hi)} inclusive).
    Every row of `df` must satisfy the scope — rows outside it would
    silently survive the NEXT replace of their own scope, so this
    raises (Delta parity) unless ``allow_nonmatching_rows=True``
    explicitly filters them out instead.

    Segment handling is three-way, driver-side, from manifest metadata
    alone:

    - provably disjoint from the scope (partition tag mismatch, stats
      range disjoint — the `_prune_segments` proof) -> transfers into
      the new manifest BY NAME, zero data movement;
    - provably all-matching (tag equality on every `eq` col, stats
      fully inside every range) -> dropped wholesale, zero reads;
    - anything else -> rewritten keeping only ``NOT scope`` rows,
      every such segment in ONE keyed pass of the maintenance core
      (`_rewrite_survivors` → `_rewrite_groups`), so the jobs do not
      grow with the number of rewritten segments. The surviving rows
      are a subset, so the old tag and blooms stay SOUND (superset)
      bounds and carry forward; the row/null counts and stats are
      recomputed. A rewrite left with no rows writes nothing and is
      not listed; a version left with no segment keeps one 0-row
      segment so it stays readable.

    At 100 TB with date-partitioned segments, re-stating one day is
    one dropped segment + one appended segment and a KB manifest swap —
    the restatement pattern warehouses run nightly. `partition_by`
    splits the incoming rows into one partition-tagged segment per
    value (keeping a tagged lake tagged) in one keyed `_write_segments`
    pass; like MERGE, the classification and every write run in the
    commit's build, on the parent the commit lands on.
    Pending merge-on-read tombstones must be compacted first.

    Column-mapped lakes: the scope is DICTS (eq/ranges), so it
    translates like any probe — the scope check runs on the LOGICAL
    batch, then batch/scope/partition column translate to physical
    for classification, the NOT-scope rewrite, and the tagged
    writes.

    ``record_cdf=True`` stores the restatement's valued delta as a
    write-time change segment. A replace has no merge keys, so row
    identity comes from ``cdf_keys`` (default: the lake's declared
    UNIQUE key; raises if neither is present — a keyless restatement
    has no per-row change identity). Documented trade: the old side
    must READ the scope-matching rows (including segments the replace
    would otherwise DROP wholesale with zero reads) — O(replaced
    rows), the floor for a valued feed; a re-stated row identical to
    its predecessor emits nothing (diff semantics, not blind
    delete+insert), so nightly restatements that change 1% of a day
    record 1%."""
    _check_constraints(spark, path, df)
    _check_schema(spark, path, df)
    from pyspark.sql import functions as F

    if not eq and not ranges:
        raise ValueError("replace_where needs a scope: pass eq= and/or ranges=")
    pred = _scope_pred(eq, ranges)
    stray = df.filter(~F.coalesce(pred, F.lit(False))).limit(1).count()
    if stray:
        if allow_nonmatching_rows:
            df = df.filter(pred)
        else:
            raise ValueError(
                "replace_where: incoming rows fall outside the scope "
                f"(eq={eq}, ranges={ranges}); fix the batch or pass "
                "allow_nonmatching_rows=True to filter them"
            )
    _p0 = _latest_props(spark, path)
    logical_df = df
    df = _to_physical(df, _p0)
    eq = _translate_probe(_p0, eq)
    ranges = _translate_probe(_p0, ranges)
    pred_phys = _scope_pred(eq, ranges)
    partition_by = _physical(_p0, partition_by) if partition_by else None
    if record_cdf:
        cdf_keys = list(cdf_keys) if cdf_keys else unique_key(spark, path)
        if not cdf_keys:
            raise ValueError(
                "replace_where(record_cdf=True) needs row identity: pass "
                "cdf_keys= or declare a UNIQUE key on the lake"
            )

    def build(parent):
        untouched: list[str] = []
        dropped: list[str] = []
        rewrite: list[str] = []
        meta: dict = {}
        if parent is not None:
            _require_no_tombstones(parent, path, "commit_replace_where")
            _require_not_widened(_props(parent), path, "replaceWhere")
            meta = parent.get("meta", {})
            might = set(_prune_segments(parent, eq, ranges))
            for s in parent["segments"]:
                if s not in might:
                    untouched.append(s)
                elif _provably_all_match(meta.get(s, {}), eq, ranges):
                    dropped.append(s)
                else:
                    rewrite.append(s)
        # declared UNIQUE key (VERDICT r9 #1): validate the batch
        # against itself, then against the REMAINDER — the rows this
        # replace keeps (untouched segments by name + each rewritten
        # segment's NOT-scope survivors). Remainder-vs-remainder needs
        # no check (those rows validated when they landed, and a
        # replace removes rows from the scope, never adds). Runs
        # BEFORE any segment write so a refusal is atomic.
        props = _props(parent)
        uniq = _physical_cols(props, props.get("unique", []))
        if uniq:
            _check_unique_dups(df, uniq, path, "the replaceWhere batch")
            if untouched or rewrite:
                remainder = None
                if untouched:
                    remainder = _read_segments(spark, path, untouched)
                if rewrite:
                    kept_rows = _read_segments(spark, path, rewrite).filter(
                        ~F.coalesce(pred_phys, F.lit(False))
                    )
                    remainder = (
                        kept_rows if remainder is None
                        else remainder.unionByName(
                            kept_rows, allowMissingColumns=True
                        )
                    )
                _check_unique_remainder(
                    spark, path, uniq, df, remainder, "the replaceWhere batch"
                )
        new_segs: dict[str, dict] = {}
        if partition_by is not None:
            new_segs.update(_tagged(partition_by, _write_segments(
                spark, path, df, [F.col(partition_by)]
            )))
        elif df.limit(1).count():
            new_segs[_write_segment(df, path, None)] = {}
        if rewrite:
            new_segs = {**_rewrite_survivors(
                spark, path, parent, rewrite,
                lambda rows: rows.filter(~F.coalesce(pred_phys, F.lit(False))),
                untouched + list(new_segs),
            ), **new_segs}
        out = {
            "segments": untouched + list(new_segs),
            "meta": {s: sm for s, sm in new_segs.items() if sm},
            "props": _schema_props(spark, path, props, logical_df),
        }
        if record_cdf:
            # write-time change segment: old side = the scope-matching
            # rows being replaced (dropped segments read fully — the
            # price of a valued feed — plus rewrite segments filtered
            # TO the scope); new side = the incoming batch. LOGICAL
            # names, the snapshot_diff contract.
            victims = dropped + rewrite
            if victims:
                old_r = _project_logical(
                    _read_segments(spark, path, victims).filter(
                        F.coalesce(pred_phys, F.lit(False))
                    ),
                    _p0,
                )
            else:
                old_r = rows_frame(spark, [], logical_df.schema)
            out.update(
                _record_change_segment(spark, path, old_r, logical_df, cdf_keys)
            )
        return out

    return _commit(spark, path, "replace_where", build)


def _appends_since(
    spark: SparkSession,
    path: str,
    parent: dict | None,
    base_version: int,
    base_segs: set[str],
) -> list[str] | None:
    """Segments appended between a rewrite's base snapshot and
    `parent`, or None when some intervening commit was not an APPEND
    (the segment-list diff is only sound for appends — any op that
    removes rows invalidates the rewritten data) or its manifest is
    gone (vacuumed)."""
    m, v = parent, _version(parent)
    while v > base_version:
        if m is None or m.get("op") != "append":
            return None
        v = m.get("parent") or 0
        try:
            m = _read_manifest(spark, path, v) if v else None
        except Exception:  # intermediate manifest vacuumed
            return None
    return [s for s in _carry(parent) if s not in base_segs]


def _rebased(spark: SparkSession, path: str, rewrite):
    """`build` for a rewrite that stays valid across APPENDS (compact
    and the cluster ops). `rewrite(parent)` runs on the first parent;
    when a later attempt's parent is reached from that base by appends
    only, the rewrite is kept and the appended segments ride along
    (their rows are not in the rewrite and carry their own metadata).
    Any other commit in between re-runs the rewrite on the new parent,
    so maintenance can never resurrect replaced or deleted rows."""
    done: dict = {}

    def build(parent):
        if done:
            extra = _appends_since(
                spark, path, parent, done["base"], done["base_segs"]
            )
            if extra is not None:
                out = done["out"]
                return {**out, "segments": out["segments"] + extra}
        out = rewrite(parent)
        if out is not None:
            done.update(
                base=_version(parent), base_segs=set(_carry(parent)), out=out
            )
        return out

    return build


def _read_groups(
    spark: SparkSession, path: str, manifest: dict, group_of: dict[str, int]
) -> DataFrame:
    """The rows of the segments `group_of` lists, in ONE scan at the
    table's recorded physical schema, tombstones applied, each with
    ``__g``, the group id `group_of` gives its source segment (see
    `_read_with_tombstones`): the input of `_rewrite_groups`."""
    return _read_with_tombstones(
        spark, path, list(group_of), manifest, True, group_of
    )


def _rewrite_groups(
    spark: SparkSession, path: str, df: DataFrame,
    metas: dict[int, dict], kept: list[str], sort: list[str] = (),
    target_files: int | None = None, stats_cols=None, bloom_cols=None,
) -> dict[str, dict]:
    """The one segment rewrite of the lake's maintenance ops (`compact`,
    `compact_small`, the cluster ops, and through `_rewrite_survivors`
    `commit_replace_where` and `commit_delete`): every group's new
    segment lands in ONE keyed `_write_segments` pass on the group id,
    so the jobs do not grow with the number of groups: the write, a
    shuffle before it when `target_files` caps the files, and the
    stats aggregation when `stats_cols` asks for one (no lookup or
    key-discovery job: the int group id names the written dirs).

    `df` holds the rows of every group, each with its group id ``__g``,
    a key of `metas`, as `_read_groups` reads them: at the table's
    recorded physical schema, as the Arrow read path's `_project`
    projects (recorded order, narrow pre-widening columns upcast,
    missing columns null-filled, a dropped column's bytes not
    carried). `target_files` caps each segment's files; `sort` names
    helper columns that order the rows inside each segment. Neither
    they nor ``__g`` are written.

    Returns {segment: {**metas[g], **written metadata}} in group order.
    A group left with no row writes nothing: the keyed write makes no
    dir for it. When no group keeps a row and the new version lists no
    other segment (`kept`), one 0-row segment with the lowest group's
    metadata keeps the version readable."""
    from pyspark.sql import functions as F

    cols = dict(stats_cols=stats_cols, bloom_cols=bloom_cols)
    new = {
        seg: {**metas[g], **m}
        for (g,), seg, m in _write_segments(
            spark, path, df, [F.col("__g")], sort=[*sort, "__g"],
            target_files=target_files, **cols,
        )
    }
    if not (new or kept):
        empty = df.drop(*sort, "__g").limit(0)
        [(_, seg, m)] = _write_segments(spark, path, empty, target_files=1, **cols)
        new[seg] = {**metas[min(metas)], **m}
    return new


def _rewrite_survivors(
    spark: SparkSession, path: str, manifest: dict, segs: list[str],
    keep, kept: list[str], target_files: int | None = None,
) -> dict[str, dict]:
    """Rewrite each of `segs` with only the rows `keep(rows)` leaves,
    through `_rewrite_groups` (the row-removing rewrites of
    `commit_replace_where` and `commit_delete`). A segment left with no
    row drops out. A survivor keeps its segment's partition tag and
    blooms, sound superset bounds for a subset; its row and null counts
    are recomputed with its stats, over every stats column of `segs`,
    and its NDV sketch is dropped (seq is restamped by `_commit`)."""
    meta = manifest.get("meta", {})
    stale = ("seq", "rows", "nulls", "ndv")
    return _rewrite_groups(
        spark, path,
        keep(_read_groups(spark, path, manifest, {s: g for g, s in enumerate(segs)})),
        {
            g: {k: v for k, v in meta.get(s, {}).items() if k not in stale}
            for g, s in enumerate(segs)
        },
        kept,
        target_files=target_files,
        stats_cols=sorted({c for s in segs for c in meta.get(s, {}).get("stats", {})}),
    )


def _tag_groups(manifest: dict, segs: list[str]) -> dict[str, list[str]]:
    """`segs` grouped by partition tag, keyed by the tag's JSON (the
    untagged ones under ``"null"``), in first-seen order."""
    meta, out = manifest.get("meta", {}), {}
    for s in segs:
        tag = json.dumps(meta.get(s, {}).get("part"), sort_keys=True, default=str)
        out.setdefault(tag, []).append(s)
    return out


def _rewrite_tag_groups(
    spark: SparkSession, path: str, manifest: dict,
    groups: dict[str, list[str]], kept: list[str], **write,
) -> dict[str, dict]:
    """Consolidate each `_tag_groups` group into one segment that keeps
    the group's tag (`compact`, `compact_small`), through
    `_rewrite_groups`."""
    return _rewrite_groups(
        spark, path,
        _read_groups(spark, path, manifest, {
            s: g for g, k in enumerate(groups) for s in groups[k]
        }),
        {g: {"part": json.loads(k)} if k != "null" else {} for g, k in enumerate(groups)},
        kept, **write,
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    part_eq: dict | None = None,
) -> int:
    """Consolidate the CURRENT snapshot into one segment and commit.
    Concurrent readers are unaffected: their resolved manifests keep
    pointing at the old segments, which remain on disk until vacuum.

    Concurrency (`_rebased`): a concurrent APPEND survives — the
    committed segment list keeps the interleaved segment. Any
    NON-append commit landing after the compaction's base
    (replace/upsert/delete — ops that REMOVE rows) invalidates the
    consolidated segment, and the whole consolidation re-runs against
    the new snapshot, so compact can never resurrect replaced or
    deleted rows.

    Merge-on-read tombstones MATERIALIZE here: the consolidation read
    applies them (anti join per key group), and the new manifest clears
    the ``deletes`` list — compact is the "apply delete vectors" step
    of the MoR contract, after which reads pay no anti join.

    Partition-tagged lakes keep their tags: when EVERY base segment
    carries a ``part`` tag, consolidation runs PER PARTITION VALUE
    (one tagged output segment each), so manifest-level pruning and
    `commit_upsert_partitioned` survive maintenance. Every group lands
    in ONE keyed pass of the maintenance core (`_rewrite_tag_groups` →
    `_rewrite_groups`): one scan of all the groups' segments, the same
    number of jobs for 8 partitions or 8,000, `target_files` files at
    most per consolidated segment, every file at the recorded
    (widened) types; a group whose every row is tombstoned leaves no
    segment. Min/max stats and
    per-segment BLOOMS are dropped for compacted segments by default
    (the skipping columns aren't recorded in the manifest) — point
    lookups degrade to full-segment scans after maintenance unless the
    caller passes `stats_cols` / `bloom_cols`, which regenerate the
    skipping metadata for each consolidated segment at the usual
    commit-time cost (`_write_segments`: one stats aggregation, and one
    aggregation for all the bloom columns).

    `part_eq` scopes the compaction (OPTIMIZE ... WHERE parity): only
    partition-tagged segments matching every given key consolidate;
    everything else transfers by name — at 100 TB maintenance touches
    yesterday's partition, never the table. Scoped compaction CARRIES
    pending merge-on-read tombstones forward instead of clearing them
    (untouched segments still need the anti join; the consolidated
    segments get fresh commit sequences, so the sequence scope already
    exempts them from re-application). Requires a tagged lake."""
    # column-mapped lake: compaction is a PHYSICAL passthrough (reads
    # raw segments, rewrites raw segments — the mapping stays valid);
    # caller-passed skipping columns arrive logical, translate them
    _p0 = _latest_props(spark, path)
    stats_cols = _physical_cols(_p0, stats_cols)
    bloom_cols = _physical_cols(_p0, bloom_cols)

    def rewrite(base):
        if base is None:
            raise ValueError(f"cannot compact an empty manifest lake: {path}")
        groups = _tag_groups(base, base["segments"])
        if "null" in groups:  # not every segment tagged: consolidate all
            groups = {"null": list(base["segments"])}
        untouched: list[str] = []
        if part_eq is not None:
            def hit(k):
                tag = json.loads(k)
                return tag is not None and all(
                    tag.get(c) == _json_safe(v) for c, v in part_eq.items()
                )

            untouched = [s for k, g in groups.items() if not hit(k) for s in g]
            groups = {k: g for k, g in groups.items() if hit(k)}
            if not groups:
                raise ValueError(
                    f"compact(part_eq={part_eq!r}): no partition-tagged "
                    f"segments match (untagged segments never match): {path}"
                )
        new_segs = _rewrite_tag_groups(
            spark, path, base, groups, untouched,
            target_files=target_files, stats_cols=stats_cols, bloom_cols=bloom_cols,
        )
        return {
            "segments": list(new_segs) + untouched,
            "meta": {s: m for s, m in new_segs.items() if m},
        }

    rebased = _rebased(spark, path, rewrite)

    def build(parent):
        out = rebased(parent)
        if part_eq is not None:
            # scoped compact leaves untouched segments that still need
            # the tombstones and the widened read schema -> both carry
            return out
        # full compact materialized every tombstone -> clear (appends
        # interleaved after base carry the SAME tombstone list, so
        # clearing is exact); it also rewrote every file at the
        # recorded (widened) types -> the type-widening flag clears and
        # the gated modify ops come back
        props = {k: v for k, v in _props(parent).items() if k != "widened"}
        return {**out, "deletes": [], "props": props}

    return _commit(spark, path, "compact", build)


_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def _zorder_exprs(df: DataFrame, cluster_cols: list[str], bits_per_col: int):
    """(z_column, n_z_values): rank-space Morton (Z-order) value over
    `cluster_cols`, entirely as JVM Column expressions.

    Per-column bucket ids are RANK-space, not value-space — cut points
    come from one driver-side `approxQuantile` (O(2^bits) metadata per
    column, never data-scale), so skewed distributions still fill all
    buckets and every z-cell carries comparable row mass. Each row's
    bucket is the count of cut points <= value, computed by an
    `aggregate` HOF over the broadcast cut array (O(2^bits) comparisons
    per row, whole-stage-codegen'd — no Python, no shuffle). Buckets
    then interleave bitwise (shiftleft/shiftright/bitwiseAND) into the
    Morton code, so a RANGE on ANY clustered column maps to a bounded
    set of z-runs — the property segment min/max stats exploit after
    the range-partitioned rewrite. NULLs bucket to 0 (cluster low;
    min/max stats ignore them, so skipping stays sound)."""
    from pyspark.sql import functions as F

    nb = 1 << bits_per_col
    if bits_per_col * len(cluster_cols) > 62:
        raise ValueError(
            f"z-value would need {bits_per_col * len(cluster_cols)} bits; "
            f"lower bits_per_col or cluster on fewer columns (<= 62 total)"
        )
    for c in cluster_cols:
        dt = dict(df.dtypes).get(c)
        if dt is None:
            raise ValueError(f"cluster column {c!r} not in table schema")
        if not dt.startswith(_NUMERIC_PREFIXES):
            raise ValueError(
                f"cluster column {c!r} has non-numeric type {dt}; z-order "
                f"clustering buckets by quantile rank and needs numeric "
                f"(cast dates to days/epoch first)"
            )
    probs = [i / nb for i in range(1, nb)]
    dfq = df.select(*[F.col(c).cast("double").alias(c) for c in cluster_cols])
    all_cuts = dfq.stat.approxQuantile(cluster_cols, probs, 1.0 / (4 * nb))
    z, n_z = _zorder_from_cuts(cluster_cols, bits_per_col, all_cuts)
    return z, n_z, all_cuts


def _zorder_from_cuts(
    cluster_cols: list[str], bits_per_col: int, all_cuts: list[list[float]]
):
    """The z Column expression for FIXED cut points — the incremental
    path recomputes the exact mapping the original cluster used from
    the manifest-persisted cuts, so new rows route to the same z-runs."""
    from pyspark.sql import functions as F

    k = len(cluster_cols)
    z = F.lit(0).cast("long")
    for j, (c, cuts) in enumerate(zip(cluster_cols, all_cuts)):
        if not cuts:  # 0-row snapshot: every bucket is 0
            bucket = F.lit(0)
        else:
            bucket = F.aggregate(
                F.array(*[F.lit(float(x)) for x in cuts]),
                F.lit(0),
                lambda acc, cut: acc
                + F.when(F.col(c).cast("double") >= cut, 1).otherwise(0),
            )
        for i in range(bits_per_col):
            z = z + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)).cast("long"),
                i * k + j,
            )
    return z, 1 << (bits_per_col * k)


def compact_small(
    spark: SparkSession,
    path: str,
    target_rows: int,
    target_files: int | None = 1,
    bloom_cols: list[str] | None = None,
) -> int | None:
    """Auto-compaction policy: consolidate ONLY the small-segment tail
    — segments whose recorded ``rows`` metadata is under `target_rows`
    (plus segments with no row count, which are unknown and therefore
    candidates) — leaving full-sized segments untouched. The steady-
    state OPTIMIZE a streaming/incremental lake needs: micro-batch
    appends accumulate small files, and rewriting the whole table per
    maintenance pass (plain `compact`) is O(table) where this is
    O(small tail). Partition boundaries are respected (same-tag
    segments merge together, cross-tag never); every group lands in
    ONE keyed pass of `compact`'s core (`_rewrite_tag_groups`), so the
    jobs do not grow with the number of partitions; stats are
    recomputed over the union of all the candidates' stats columns, so
    range skipping and metadata-only aggregates survive. Returns the
    committed version, or None when no group has >= 2 candidates
    (nothing worth doing — idempotent steady state). Pending MoR
    tombstones must be compacted first (full `compact` materializes
    them); a widened lake stays widened (untouched segments keep the
    narrow physical type)."""
    acted = {}

    def build(m):
        acted["yes"] = False
        if m is None:
            return None
        _require_no_tombstones(m, path, "compact_small")
        meta = m.get("meta", {})
        small = [
            s for s in m["segments"]
            if meta.get(s, {}).get("rows") is None
            or int(meta[s]["rows"]) < target_rows
        ]
        groups = {
            k: g for k, g in sorted(_tag_groups(m, small).items()) if len(g) >= 2
        }
        if not groups:
            return None
        acted["yes"] = True
        consumed = {s for g in groups.values() for s in g}
        kept = [s for s in m["segments"] if s not in consumed]
        new_segs = _rewrite_tag_groups(
            spark, path, m, groups, kept,
            target_files=target_files,
            stats_cols=sorted(
                {c for s in consumed for c in meta.get(s, {}).get("stats", {})}
            ),
            bloom_cols=_physical_cols(_props(m), bloom_cols),
        )
        return {
            "segments": kept + list(new_segs),
            "meta": {s: sm for s, sm in new_segs.items() if sm},
        }

    v = _commit(spark, path, "compact_small", build)
    return v if acted["yes"] else None


def cluster(
    spark: SparkSession,
    path: str,
    cluster_cols: list[str],
    target_segments: int = 16,
    bits_per_col: int = 8,
    stats_cols: list[str] | None = None,
    allow_untag: bool = False,
) -> int:
    """OPTIMIZE ZORDER for the manifest lake: rewrite the current
    snapshot into `target_segments` segments ordered by the Morton
    (Z-order) interleave of `cluster_cols`' quantile-rank buckets, and
    record per-segment min/max stats on those columns (plus any extra
    `stats_cols`). Afterwards a range probe on ANY clustered column
    prunes most segments through `read_snapshot(ranges=...)` — the
    multi-column data-skipping layout a single sort key cannot give
    (sorting by (a, b) skips on `a` only; z-order skips on both).

    At 100 TB this is the standard maintenance op behind multi-dim
    point/range workloads (Delta/Iceberg OPTIMIZE ZORDER): one
    range-shuffle rewrite whose cost is paid once, against every
    subsequent scan touching a fraction of the key space.

    Execution: ONE pass computes z (pure bitwise/HOF Column exprs) and
    range-partitions by z-run into a persisted frame; a keyed
    `_write_segments` pass on the z-run id then records per-segment
    stats in one grouped aggregation and lands every segment, z-sorted
    inside, in a single `partitionBy` write. Merge-on-read tombstones
    MATERIALIZE here (the rewrite read applies them and clears the
    ``deletes`` list), like compact. Concurrency contract is compact's
    (`_rebased`): interleaved appends survive; any row-removing commit
    after the base forces a re-run.

    The z-run output segments are UNTAGGED, so clustering a
    partition-tagged lake forfeits partition pruning and partitioned
    MERGE — a hard error (the commit_upsert contract; quiet pruning
    regressions are worse than a refused call) unless
    ``allow_untag=True`` opts into the trade (z-range skipping
    replacing partition skipping is sometimes the point).

    Column-mapped lakes are supported like `compact`: clustering is a
    physical passthrough (reads raw segments, rewrites raw segments —
    the mapping stays valid), so the caller's LOGICAL cluster/stats
    columns translate to their physical names here; the recorded
    per-segment stats and the persisted z-order spec carry physical
    names, which is exactly what the read-side probe translation and
    `cluster_incremental`'s raw-segment routing expect. Physical names
    are immutable, so a rename landing mid-flight cannot invalidate
    the translation (Delta name-mode keeps OPTIMIZE ZORDER working for
    the same reason)."""
    from pyspark.sql import functions as F

    _p0 = _latest_props(spark, path)
    cluster_cols = _physical_cols(_p0, cluster_cols)
    stats_cols = _physical_cols(_p0, stats_cols)
    all_stats = list(dict.fromkeys(list(cluster_cols) + list(stats_cols or [])))
    layout: dict = {}

    def rewrite(base):
        if base is None:
            raise ValueError(f"cannot cluster an empty manifest lake: {path}")
        if not allow_untag:
            tagged = [
                s for s in base["segments"]
                if "part" in base.get("meta", {}).get(s, {})
            ]
            if tagged:
                raise ValueError(
                    f"cluster on a partition-tagged lake ({len(tagged)} "
                    "tagged segments) would forfeit partition pruning and "
                    "partitioned MERGE — pass allow_untag=True to trade "
                    f"partition skipping for z-range skipping: {path}"
                )
        new_segs: dict[str, dict] = {}
        zcuts: list[list[float]] = [[] for _ in cluster_cols]
        if base["segments"]:
            # one group for the read; the z-run is each row's group
            df = _read_groups(spark, path, base, dict.fromkeys(base["segments"], 0))
            z, n_z, zcuts = _zorder_exprs(df, list(cluster_cols), bits_per_col)
            zrun = F.least(
                F.lit(target_segments - 1),
                F.floor(F.col("__z") * target_segments / F.lit(n_z)),
            ).cast("int")
            prepared = (
                df.withColumn("__z", z)
                .repartitionByRange(target_segments, zrun, F.col("__z"))
                .persist()
            )
            # a 0-row snapshot (every row tombstoned) keeps one empty
            # run-0 segment, so reads stay valid
            new_segs = _rewrite_groups(
                spark, path, prepared.withColumn("__g", zrun),
                {
                    r: {"cluster": {"cols": list(cluster_cols), "zrun": r}}
                    for r in range(target_segments)
                },
                [], sort=["__z"], stats_cols=all_stats,
            )
            prepared.unpersist()

        # the layout spec rides the manifest so cluster_incremental can
        # reproduce the EXACT z mapping (same cuts -> same runs)
        layout["zorder"] = {
            "cols": list(cluster_cols),
            "bits": bits_per_col,
            "cuts": [[float(x) for x in cc] for cc in zcuts],
            "target_segments": target_segments,
            "stats_cols": all_stats,
        }
        # deletes cleared: the rewrite read materialized them (same
        # append-only lineage argument as compact)
        return {
            "segments": list(new_segs),
            "meta": {s: m for s, m in new_segs.items() if m},
            "deletes": [],
        }

    rebased = _rebased(spark, path, rewrite)
    return _commit(
        spark,
        path,
        "cluster",
        lambda parent: {
            **rebased(parent),
            "props": {**_props(parent), "zorder": layout["zorder"]},
        },
    )


def cluster_incremental(spark: SparkSession, path: str) -> int:
    """Incremental OPTIMIZE: fold segments appended SINCE the last
    `cluster` into the existing z-layout without rewriting settled
    runs — the liquid-clustering maintenance shape. New rows compute
    their z with the manifest-persisted cut points (identical mapping
    to the original layout), route to their run by the same
    ``floor(z * N / n_z)`` formula, and only runs that RECEIVE rows
    are rewritten (merged + re-sorted into one file, stats refreshed),
    all of them in ONE keyed pass of the maintenance core
    (`_rewrite_groups`, grouped by z-run); every other clustered
    segment transfers by name. Returns the committed version (the
    current one when there is nothing to fold).

    Repeated increments preserve query-time skipping exactly, but run
    sizes drift toward the hot z-cells; re-run full `cluster` when
    `files()` shows the spread (the cuts are quantiles of the ORIGINAL
    distribution — a distribution shift is what full re-clustering is
    for). Concurrency contract = cluster's (`_rebased`): interleaved
    appends stay unclustered for the next increment; row-removing
    commits force a re-run.

    Works on column-mapped lakes: the persisted z-order spec records
    PHYSICAL column names (immutable), fresh appends land physical
    (`commit_append` translates), and the routing below reads raw
    segments — nothing here sees a logical name."""
    from pyspark.sql import functions as F

    def rewrite(base):
        if base is None:
            raise ValueError(f"cannot cluster an empty manifest lake: {path}")
        spec = base.get("props", {}).get("zorder")
        if not spec:
            raise ValueError(
                f"cluster_incremental needs a prior cluster() commit "
                f"(no persisted z-order spec): {path}"
            )
        # the spec records PHYSICAL column names. A full-rewrite op that
        # MATERIALIZED a column mapping rewrote the segments under the
        # logical names — the spec's old physical names no longer exist
        # and routing would fail opaquely (or mis-bucket) — raise the
        # real diagnosis: the layout is gone, re-run cluster()
        props_b = dict(base.get("props", {}))
        sch_b = props_b.get("schema")
        if sch_b:
            phys_now = {_physical(props_b, n) for n, _ in sch_b["cols"]}
            stale = [c for c in spec["cols"] if c not in phys_now]
            if stale:
                raise ValueError(
                    f"cluster_incremental: persisted z-order spec references "
                    f"column(s) {stale} that no longer exist physically (a "
                    "full rewrite materialized a rename) — the clustered "
                    f"layout was destroyed; re-run cluster(): {path}"
                )
        _require_no_tombstones(base, path, "cluster_incremental")
        meta = base.get("meta", {})
        cols, bits = list(spec["cols"]), int(spec["bits"])
        n_runs = int(spec["target_segments"])
        all_stats = list(spec.get("stats_cols", cols))
        run_of = {
            s: int(meta[s]["cluster"]["zrun"])
            for s in base["segments"]
            if "zrun" in meta.get(s, {}).get("cluster", {})
        }
        fresh = [s for s in base["segments"] if s not in run_of]
        if not fresh:
            return None  # nothing to fold: _commit returns the head
        z, n_z = _zorder_from_cuts(cols, bits, spec["cuts"])
        zrun = F.least(F.lit(n_runs - 1), F.floor(z * n_runs / F.lit(n_z))).cast("int")
        # each row's group is its z-run: the fresh segments read as
        # group -1 and route by z, a receiving run's segments keep it
        fresh_g = dict.fromkeys(fresh, -1)
        touched = sorted(
            r[0] for r in _read_groups(spark, path, base, fresh_g)
            .select(zrun).distinct().collect()
        )
        olds = {s: r for s, r in run_of.items() if r in touched}
        rows = _read_groups(spark, path, base, {**fresh_g, **olds})
        kept = [s for s in base["segments"] if s not in olds and s not in fresh]
        # target_files=1: each run is one file, z-sorted throughout
        new_segs = _rewrite_groups(
            spark, path,
            rows.withColumn("__z", z).withColumn(
                "__g", F.when(F.col("__g") < 0, zrun).otherwise(F.col("__g"))
            ),
            {run: {"cluster": {"cols": cols, "zrun": run}} for run in touched},
            kept, sort=["__z"], target_files=1, stats_cols=all_stats,
        ) if touched else {}
        return {
            "segments": kept + list(new_segs),
            "meta": new_segs,
            "deletes": [],
        }

    return _commit(
        spark, path, "cluster_incremental", _rebased(spark, path, rewrite)
    )


def cluster_partitioned(
    spark: SparkSession,
    path: str,
    part_col: str,
    cluster_cols: list[str],
    target_segments_per_partition: int = 4,
    bits_per_col: int = 8,
    stats_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE ZORDER *within partitions* — the Delta semantics on a
    partitioned table: each partition value's segments rewrite into
    z-ordered, stats'd segments that KEEP their partition tag, so
    partition pruning, partitioned MERGE, and z-range skipping all
    coexist (plain `cluster` would untag; it hard-errors on tagged
    lakes for exactly that reason).

    One pass over the table: the z interleave and the per-partition
    z-run id are computed as Column exprs and the table is
    range-partitioned by (partition, z-run, z) into a persisted frame;
    a `_write_segments` pass keyed on (partition, z-run) records
    per-segment min/max stats in one grouped aggregation and lands
    every segment in a single `partitionBy` write. Its dense segment id
    keeps typed partition values out of directory names. Concurrency =
    `cluster`'s (`_rebased`): interleaved appends survive; row-removing
    commits force a re-run. Requires a
    fully `part_col`-tagged lake and no pending tombstones (same
    contract as partitioned MERGE).

    Column-mapped lakes: same physical-passthrough stance as `cluster`
    — the caller's logical part/cluster/stats columns translate to
    physical names, segments and tags stay physical throughout."""
    from pyspark.sql import functions as F

    _p0 = _latest_props(spark, path)
    part_col = _physical(_p0, part_col)
    cluster_cols = _physical_cols(_p0, cluster_cols)
    stats_cols = _physical_cols(_p0, stats_cols)
    all_stats = list(dict.fromkeys(list(cluster_cols) + list(stats_cols or [])))
    n_per = target_segments_per_partition

    def rewrite(base):
        if base is None:
            raise ValueError(f"cannot cluster an empty manifest lake: {path}")
        _require_no_tombstones(base, path, "cluster_partitioned")
        meta0 = base.get("meta", {})
        untagged = [
            s for s in base["segments"]
            if part_col not in meta0.get(s, {}).get("part", {})
        ]
        if untagged:
            raise ValueError(
                f"cluster_partitioned requires every segment tagged on "
                f"{part_col!r} ({len(untagged)} untagged): {path}"
            )
        # group id = the partition's index * n_per + the z-run
        vals = [json.dumps(meta0[s]["part"][part_col]) for s in base["segments"]]
        index = {v: i for i, v in enumerate(dict.fromkeys(vals))}
        df = _read_groups(spark, path, base, {
            s: index[v] for s, v in zip(base["segments"], vals)
        })
        z, n_z, _cuts_unused = _zorder_exprs(df, list(cluster_cols), bits_per_col)
        zrun = F.least(
            F.lit(n_per - 1), F.floor(F.col("__z") * n_per / F.lit(n_z))
        ).cast("int")
        prepared = (
            df.withColumn("__z", z)
            .withColumn("__g", F.col("__g") * n_per + zrun)
            .repartitionByRange(len(index) * n_per, "__g", "__z")
            .persist()
        )
        new_segs = _rewrite_groups(
            spark, path, prepared,
            {
                i * n_per + r: {
                    "part": {part_col: json.loads(v)},
                    "cluster": {"cols": list(cluster_cols)},
                }
                for v, i in index.items() for r in range(n_per)
            },
            [], sort=["__z"], stats_cols=all_stats,
        )
        prepared.unpersist()
        return {
            "segments": list(new_segs),
            "meta": {s: m for s, m in new_segs.items() if m},
            "deletes": [],
        }

    return _commit(
        spark, path, "cluster_partitioned", _rebased(spark, path, rewrite)
    )


def _is_abs_ref(s: str) -> bool:
    """True for absolute segment references (shallow-clone refs);
    False for plain names living in the lake's own data dir."""
    return "://" in s or s.startswith("/")


def _seg_path(path: str, s: str) -> str:
    """Resolve a manifest segment reference: plain names live in this
    lake's data dir; absolute references (shallow clones — see `clone`)
    resolve as written."""
    return s if _is_abs_ref(s) else f"{path}/{_DATA_DIR}/{s}"


def _read_segments(
    spark: SparkSession,
    path: str,
    segments: list[str],
    merge_schema: bool = False,
    schema_ddl: str | None = None,
) -> DataFrame:
    if not segments:
        raise ValueError("manifest lists no segments (empty table version)")
    reader = spark.read
    paths = [_seg_path(path, s) for s in segments]
    if schema_ddl is not None:
        # widened lake: the explicit recorded schema supersedes footer
        # inference AND mergeSchema — narrow files upcast, files
        # missing additive columns null-fill
        reader = reader.schema(schema_ddl)
    elif merge_schema:
        reader = reader.option("mergeSchema", "true")
    else:
        # segments are immutable CoW files, so the schema of a given
        # file set is pure metadata: `_segments_schema` reads it from
        # the footers (or infers it once) and memoizes it per file set.
        # Data is still scanned fresh at every execution.
        sch = _segments_schema(spark, paths)
        if sch is not None:
            reader = reader.schema(sch)
    return reader.parquet(*paths)


_SEG_SCHEMA_CACHE: dict[tuple, object] = {}

# the footer key Spark's parquet writer stores the row schema under
# (ParquetReadSupport.SPARK_METADATA_KEY) and its reader's
# readSchemaFromFooter prefers to the parquet schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _segments_schema(spark: SparkSession, paths: list[str]):
    """The schema ``spark.read.parquet(*paths)`` would infer for local
    segment dirs, memoized per (dir identities, inference confs); None
    for a non-local segment (plain inference then). A fresh file set is
    first tried from its footers (`_footer_schema`, no Spark job); when
    they do not settle it, Spark infers it (one job)."""
    import os

    ids = []
    try:
        for p in paths:
            st = os.stat(p)
            ids.append((p, st.st_mtime_ns, st.st_size))
    except OSError:
        return None  # non-local segment: fall back to plain inference
    key = (
        tuple(ids),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ", "true"),
        spark.conf.get("spark.sql.parquet.binaryAsString", "false"),
        spark.conf.get("spark.sql.parquet.int96AsTimestamp", "true"),
    )
    sch = _SEG_SCHEMA_CACHE.get(key)
    if sch is None:
        sch = _footer_schema(paths) or spark.read.parquet(*paths).schema
        _SEG_SCHEMA_CACHE[key] = sch
    return sch


def _footers(d: str) -> list | None:
    """The parquet footers (``pyarrow.parquet.FileMetaData``) of the
    data files in local dir `d`: the names Spark's file index keeps
    (not ``_``/``.``-prefixed, not ``._COPYING_``). None when `d` is
    not a readable dir of plain data files: it holds a subdir or a
    summary file (``_metadata``), or a footer does not parse."""
    import os

    import pyarrow.parquet as pq

    out = []
    try:
        with os.scandir(d) as entries:
            for e in entries:
                n = e.name
                if n.startswith(("_metadata", "_common_metadata")):
                    return None
                if (
                    n.startswith(".") or n.endswith("._COPYING_")
                    or (n.startswith("_") and "=" not in n)
                ):
                    continue
                if not e.is_file():
                    return None
                out.append(pq.read_metadata(e.path))
    except (OSError, ValueError):
        return None
    return out


def _segment_empty(path: str, seg: str) -> bool:
    """True when the just-written segment `seg` provably holds no row:
    its footers' row counts sum to 0. A non-local lake has no footers
    to read, and unknown counts as non-empty."""
    footers = _footers(_seg_path(path, seg))
    return footers is not None and not sum(f.num_rows for f in footers)


def _footer_schema(paths: list[str]):
    """The read schema of segment dirs `paths` from their footers alone:
    the Spark row schema each data file stores under
    `_SPARK_ROW_METADATA`, made nullable as Spark's file sources make
    it. Spark infers a set's schema from one of its files, so the
    footers settle it only when every data file carries the key and
    all of them agree; None otherwise (a pyarrow-written segment has
    no key, a mixed set has several schemas, an empty set has none)."""
    from pyspark.sql.types import StructType

    blobs = set()
    for p in paths:
        footers = _footers(p)
        if footers is None:
            return None
        for md in footers:
            blobs.add((md.metadata or {}).get(_SPARK_ROW_METADATA))
    if not blobs or None in blobs:
        return None
    try:
        schemas = [
            _as_nullable(StructType.fromJson(json.loads(b))) for b in blobs
        ]
    except (ValueError, KeyError, TypeError):
        return None
    return schemas[0] if all(s == schemas[0] for s in schemas) else None


def _as_nullable(t):
    """Spark's ``DataType.asNullable``: every field, array element and
    map value nullable, at every depth."""
    from pyspark.sql import types as T

    if isinstance(t, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def widen_column_type(
    spark: SparkSession, path: str, col: str, new_type: str
) -> int:
    """Metadata-only TYPE WIDENING (Delta type-widening parity):
    tinyint→smallint→int→bigint, float→double, and int-or-narrower→
    double — the upcasts the vectorized parquet reader performs for
    free when handed the wider read schema (no byte of data rewritten).
    Readers pass the recorded schema explicitly from here on
    (`_widened_ddl`), so narrow pre-widening files and wide
    post-widening files scan together; a narrow incoming batch upcasts
    automatically at the append boundary (`_upcast_to_schema`).

    Modify-in-place ops that re-read raw segments (MERGE, row deletes,
    replaceWhere's row-level path) REFUSE on a widened lake until a
    full `compact()` materializes the wide type and clears the flag —
    the same honest-gate + one-command remediation as tombstone
    materialization. Time travel to pre-widening versions still reads
    (and types) the old schema."""
    def build(parent):
        props = _props(parent)
        sch = (props.get("schema") or {}).get("cols")
        if not sch:
            raise ValueError(
                f"widen_column_type: lake has no recorded schema: {path}"
            )
        types = {n: t for n, t in sch}
        if col not in types:
            raise ValueError(f"widen_column_type: no column {col!r} in {path}")
        old = types[col]
        if old == new_type:
            return None  # no-op: _commit returns the head version
        if not _is_widening(old, new_type):
            raise ValueError(
                f"widen_column_type: {old} -> {new_type} is not a "
                "supported widening (tinyint<smallint<int<bigint, "
                "float<double, int-or-narrower->double)"
            )
        cols = [[n, new_type if n == col else t] for n, t in sch]
        return {
            "segments": _carry(parent),
            "props": {**props, "schema": {"cols": cols}, "widened": True},
        }

    return _commit(spark, path, "widen_type", build)


def _widened_ddl(props: dict) -> str | None:
    """Explicit PHYSICAL read schema for a widened lake (None
    otherwise): the vectorized reader upcasts each narrow file to the
    recorded type; files missing additive columns null-fill."""
    return _recorded_ddl(props) if props.get("widened") else None


def _recorded_ddl(props: dict) -> str | None:
    """The table's recorded PHYSICAL schema as a read DDL (None when
    the lake records none): recorded order and types, a renamed column
    under its physical name, a dropped column left out."""
    sch = (props.get("schema") or {}).get("cols")
    if not sch:
        return None
    cm = _colmap(props)
    return ", ".join(f"`{cm.get(n, n)}` {t}" for n, t in sch)


def _require_not_widened(props: dict, path: str, op: str) -> None:
    if props.get("widened"):
        raise ValueError(
            f"{op} re-reads raw segments and cannot assume a uniform "
            f"physical type on a widened lake — run compact() to "
            f"materialize the widened schema first: {path}"
        )


def _upcast_to_schema(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """Auto-upcast an incoming batch's narrower columns to the
    recorded (widened) types — old writers keep working after a
    widen_column_type, Delta-style."""
    from pyspark.sql import functions as F

    props = _latest_props(spark, path)
    if not props.get("widened"):
        return df
    types = {n: t for n, t in (props.get("schema") or {}).get("cols", [])}
    have = dict(_df_schema_pairs(df))
    for c in df.columns:
        rec = types.get(c)
        if rec and have.get(c) != rec and _is_widening(have.get(c, ""), rec):
            df = df.withColumn(c, F.col(c).cast(rec))
    return df


def _require_no_tombstones(manifest: dict, path: str, op: str) -> None:
    """Segment-transferring ops (partitioned/pruned MERGE, CoW delete)
    move untouched segments by NAME, which cannot carry a pending
    anti-join — materialize tombstones first (compact) so the transfer
    stays sound."""
    if manifest.get("deletes"):
        raise ValueError(
            f"{op} on a lake with pending merge-on-read tombstones would "
            f"transfer masked rows by name — run compact() to materialize "
            f"the deletes first: {path}"
        )


def _require_untagged(manifest: dict, path: str, op: str) -> None:
    """MERGEs that write one consolidated segment (pruned, MoR) record
    stats on it, not partition tags, so a partition-tagged lake must use
    `commit_upsert_partitioned`."""
    meta = manifest.get("meta", {})
    if any("part" in meta.get(s, {}) for s in manifest["segments"]):
        raise ValueError(
            f"{op} on a partition-tagged lake would strand an untagged "
            f"merged segment — use commit_upsert_partitioned: {path}"
        )


def _applicable_tombs(seg: str, dels: list[str], meta: dict) -> list[str]:
    """The tombstones of `dels` that apply to data segment `seg` — the
    lake's one tombstone rule, shared by the JVM read
    (`_tomb_groups`) and the Arrow read (`lake_datasource._tomb_specs`).
    Seq-fenced: a tombstone masks only segments committed before it.
    A positional deletion vector scopes to the data segments its
    manifest entry NAMES (`dv_segs`, stamped at commit from the
    write-time position resolution), so a segment no DV names skips
    the (file, pos) anti-join outright; a DV without `dv_segs`
    (pre-feature) conservatively applies everywhere."""

    def seq(s: str) -> int:
        return int(meta.get(s, {}).get("seq", 0))

    out = []
    for t in dels:
        if not (seq(seg) < seq(t)):
            continue
        tm = meta.get(t, {})
        if tm.get("dv"):
            dv_segs = tm.get("dv_segs")
            if dv_segs and seg not in set(dv_segs):
                continue  # DV provably names other files only
        out.append(t)
    return out


def _tomb_groups(
    segments: list[str], dels: list[str], meta: dict
) -> dict[tuple, list[str]]:
    """Group data segments by their `_applicable_tombs` set — the JVM
    twin of the Arrow readers' per-segment `lake_datasource._tomb_specs`."""
    groups: dict[tuple, list[str]] = {}
    for s in segments:
        groups.setdefault(tuple(_applicable_tombs(s, dels, meta)), []).append(s)
    return groups


def _read_with_tombstones(
    spark: SparkSession,
    path: str,
    segments: list[str],
    manifest: dict,
    merge_schema: bool = False,
    group_of: dict[str, int] | None = None,
) -> DataFrame:
    """Merge-on-read scan: anti-join the data segments against the
    manifest's pending tombstone segments (see commit_delete_mor).
    `group_of` ({segment: int group id}) makes it the read of the
    maintenance rewrite (`_read_groups`): the data files are read at
    the table's recorded physical schema (`_recorded_ddl`; merged from
    the footers on a lake that records none), and each row gets
    ``__g``, its source segment's group id, looked up at the scan from
    the dir name in ``_metadata.file_path`` (which does not resolve
    past a join or a union) in a constant map, so no job runs for the
    lookup.

    Tombstones are SEQUENCE-SCOPED, the Iceberg equality-delete rule:
    a tombstone masks only rows of segments committed BEFORE it
    (``meta[seg]["seq"]``, stamped at commit). A key re-inserted after
    its delete stays visible, and a concurrent append racing a
    compaction is never masked by tombstones the compaction
    materializes. Segments with no seq stamp are treated as oldest
    (every tombstone applies — sound for pre-feature segments).

    Plan shape: data segments group by their applicable-tombstone set
    — in the common case (all data predates all deletes) that is ONE
    group and ONE anti join per key-column set (usually one). Delete
    batches are small next to the table by premise; AQE picks
    broadcast for the key side when it is. NULL delete keys follow SQL
    semantics: they match no row."""
    from pyspark.sql import functions as F

    props = dict(manifest.get("props", {}))
    ddl = _widened_ddl(props)

    def scan(group):
        if group_of is None:
            return _read_segments(spark, path, group, merge_schema, ddl)
        names = {s.rstrip("/").rsplit("/", 1)[-1]: g for s, g in group_of.items()}
        ids = F.map_from_arrays(  # NUL-joined: no dir name holds one
            F.split(F.lit("\0".join(names)), "\0"),
            F.split(F.lit(",".join(map(str, names.values()))), ",").cast("array<int>"),
        )[F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2)]
        df = _read_segments(spark, path, group, merge_schema, _recorded_ddl(props))
        return df.withColumn("__g", ids)

    dels = list(manifest.get("deletes", []))
    if not dels:
        return scan(segments)
    meta = manifest.get("meta", {})
    groups = _tomb_groups(segments, dels, meta)
    parts = []
    for applicable, group in groups.items():
        df = scan(group)
        dv_tombs = [t for t in applicable if meta.get(t, {}).get("dv")]
        if dv_tombs:
            # positional tombstones (deletion vectors): the file
            # identity + row index are captured AT SCAN (they travel
            # with the rows, so ordering vs the equality anti-joins
            # below is immaterial), then ONE anti-join against the DV
            # rows — a per-file positional filter, no key comparison
            df = df.withColumn(
                "__dvf", _dv_relpath(F.col("_metadata.file_path"))
            ).withColumn("__dvp", F.col("_metadata.row_index"))
        by_keys: dict[tuple, list[str]] = {}
        for t in applicable:
            if t in dv_tombs:
                continue
            kcols = tuple(meta.get(t, {}).get("delete_keys", ()))
            if not kcols:
                raise ValueError(
                    f"tombstone segment {t} lacks delete_keys metadata: {path}"
                )
            by_keys.setdefault(kcols, []).append(t)
        # no .distinct() on the build sides: LeftAnti ignores duplicate
        # build rows, and the dedup cost a shuffle + two HashAggregates
        # on EVERY MoR read (the hash relation dedups keys anyway)
        for kcols, tsegs in by_keys.items():
            tomb = _read_segments(
                spark, path, tsegs, schema_ddl=ddl
            ).select(*kcols)
            df = df.join(tomb, on=list(kcols), how="left_anti")
        if dv_tombs:
            dv = (
                _read_segments(
                    spark, path, dv_tombs,
                    schema_ddl="file string, pos bigint",
                )
                # scope the broadcast to THIS group's files — DV rows
                # naming other segments can never match the group's
                # "<segment>/<basename>" identities
                .filter(
                    F.element_at(F.split(F.col("file"), "/"), 1).isin(group)
                )
                .selectExpr("file AS __dvf", "pos AS __dvp")
            )
            df = df.join(dv, on=["__dvf", "__dvp"], how="left_anti").drop(
                "__dvf", "__dvp"
            )
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=merge_schema)
    return out


def _part_tag_disjoint(have, want) -> bool:
    """True iff a segment's partition tag PROVABLY can't equal `want`:
    exactly one side NULL (NULL is its own partition), or comparable
    and unequal. A type-drifted probe (e.g. str '1997' vs int tag) is
    not provably disjoint -> False (keep, never prune)."""
    want_c = _json_safe(want)
    if have is None or want_c is None:
        return (have is None) != (want_c is None)
    return _comparable(have, want_c) and have != want_c


def _prune_segments(
    manifest: dict,
    part_eq: dict | None,
    ranges: dict | None,
    bloom_probes: dict | None = None,
    keys_in: dict | None = None,
    token_probes: dict | None = None,
    part_in: dict | None = None,
) -> list[str]:
    """Manifest-level data skipping: drop segments whose metadata PROVES
    they can't match. A segment without the relevant metadata is always
    kept — skipping is sound, never lossy. `bloom_probes` maps column →
    LIST of precomputed probe-hash lists (see `_bloom_probes`); a
    segment survives if ANY probe value maybe-matches (the multi-key
    dim-driven join probe degenerates to the point lookup at len 1).
    `keys_in` maps column → SORTED key list: a segment is dropped when
    NO key falls inside its [min, max] stats (one bisect per segment —
    the point-in-range skip that stays sharp at key counts where a
    bloom's union false-positive rate saturates). `part_in` maps
    column → LIST of partition-tag values: a segment is dropped when
    its tag is provably disjoint from EVERY listed value (the
    set-valued `part_eq` — lets an N-cell probe run as ONE pruned scan
    instead of an N-way union of per-cell reads — r12)."""
    segs = manifest["segments"]
    meta = manifest.get("meta", {})
    out = []
    for s in segs:
        m = meta.get(s, {})
        keep = True
        if part_eq:
            part = m.get("part", {})
            for col, want in part_eq.items():
                if col not in part:
                    continue
                if _part_tag_disjoint(part[col], want):
                    keep = False
                    break
        if keep and part_in:
            part = m.get("part", {})
            for col, wants in part_in.items():
                if col not in part:
                    continue
                if all(_part_tag_disjoint(part[col], w) for w in wants):
                    keep = False
                    break
        if keep and bloom_probes:
            blooms = m.get("bloom", {})
            for col, probe_lists in bloom_probes.items():
                if col in blooms and not any(
                    _bloom_maybe_contains(blooms[col], positions)
                    for positions in probe_lists
                ):
                    keep = False
                    break
        if keep and token_probes:
            tblooms = m.get("tok_bloom", {})
            for col, probe_lists in token_probes.items():
                if col in tblooms and not any(
                    _bloom_maybe_contains(tblooms[col], positions)
                    for positions in probe_lists
                ):
                    keep = False
                    break
        if keep and keys_in:
            import bisect

            stats = m.get("stats", {})
            for col, ks in keys_in.items():
                if col not in stats:
                    continue
                mn, mx = stats[col]
                if mn is None or mx is None:
                    continue  # all-NULL or typeless stats: keep
                try:
                    i = bisect.bisect_left(ks, mn)
                    if i >= len(ks) or _provably_lt(mx, ks[i]):
                        keep = False
                        break
                except TypeError:
                    continue  # probe-vs-stats type drift: keep, sound
        if keep and ranges:
            stats = m.get("stats", {})
            for col, (lo, hi) in ranges.items():
                if col in stats:
                    mn, mx = stats[col]
                    # _provably_lt keeps the segment (returns False) on
                    # any None or write-vs-probe type drift — a str
                    # range against int stats must not raise or prune
                    if _provably_lt(_json_safe(hi), mn):
                        keep = False
                        break
                    if _provably_lt(mx, _json_safe(lo)):
                        keep = False
                        break
        if keep:
            out.append(s)
    return out


# ----------------------------------------------------------------------
# Column mapping (Delta column-mapping parity, name mode): RENAME and
# DROP columns as METADATA-ONLY commits — no 100 TB rewrite. The
# manifest schema holds LOGICAL names; ``props["colmap"]`` maps logical
# -> PHYSICAL (the immutable name inside the parquet segments), and
# ``props["dropped_cols"]`` records dropped physicals (their bytes stay
# until a rewrite). Reads project physical -> logical at the snapshot
# boundary; appends translate logical -> physical at the write; probes
# (part_eq / ranges / bloom_eq) translate before pruning. Segments are
# UNIFORM-PHYSICAL by construction (every write path translates), so
# ops that transfer segments by name while rewriting others —
# partitioned/pruned MERGE, row deletes CoW+MoR, clustering, scoped
# compaction — stay sound on a mapped lake: their caller-facing
# columns translate to physical here and the rewrite side runs
# physical-vs-physical (Delta name-mode keeps the same ops working).
# Full-rewrite ops (upsert, replace) MATERIALIZE the mapping instead:
# their consolidated output is written under the logical names and the
# mapping clears. ``commit_replace_where``'s dict scope translates
# like any probe, and ``snapshot_diff`` projects BOTH versions through
# the to-version's logical schema (physical identity bridges renames)
# — as of round 8 no lake op refuses on a mapped lake.
# ----------------------------------------------------------------------


def _colmap(props: dict) -> dict:
    return dict(props.get("colmap", {}))


def _has_colmap(props: dict) -> bool:
    return bool(props.get("colmap")) or bool(props.get("dropped_cols"))


def _physical(props: dict, col: str) -> str:
    return _colmap(props).get(col, col)


def _physical_cols(props: dict, cols: list[str] | None) -> list[str] | None:
    return [_physical(props, c) for c in cols] if cols else cols


def _translate_probe(props: dict, probe: dict | None) -> dict | None:
    if probe is None or not _has_colmap(props):
        return probe
    return {_physical(props, c): v for c, v in probe.items()}


def _project_logical(df: DataFrame, props: dict) -> DataFrame:
    """physical -> logical projection at the read boundary: select the
    schema's columns (translated through colmap) in schema order;
    dropped physicals simply aren't selected."""
    if not _has_colmap(props):
        return df
    sch = props.get("schema")
    if not sch:
        return df
    cm = _colmap(props)
    from pyspark.sql import functions as F

    have = set(df.columns)
    cols = []
    for logical, _typ in sch["cols"]:
        phys = cm.get(logical, logical)
        if phys in have:
            cols.append(F.col(phys).alias(logical))
        else:  # pre-evolution segments under a non-merge read
            cols.append(F.lit(None).cast(_typ).alias(logical))
    return df.select(*cols)


def _to_physical(df: DataFrame, props: dict) -> DataFrame:
    """logical -> physical translation for an incoming batch (appends
    on a mapped lake keep writing the ORIGINAL physical names so every
    segment stays uniform)."""
    if not _has_colmap(props):
        return df
    cm = _colmap(props)
    renames = {lg: ph for lg, ph in cm.items() if lg in df.columns and lg != ph}
    return df.withColumnsRenamed(renames) if renames else df


def _clear_colmap(props: dict) -> dict:
    """`props` with the column mapping cleared — for full-rewrite ops
    whose output segment is written under the LOGICAL names (upsert):
    the mapping is materialized by the rewrite."""
    out = dict(props)
    out.pop("colmap", None)
    out.pop("dropped_cols", None)
    # a consolidated rewrite also materializes TYPE WIDENING: the
    # new segment is written at the recorded wide types
    out.pop("widened", None)
    return out


def _latest_props(spark: SparkSession, path: str) -> dict:
    versions = _manifest_versions(spark, path)
    if not versions:
        return {}
    return dict(_read_manifest(spark, path, versions[-1]).get("props", {}))


def rename_column(spark: SparkSession, path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN — metadata-only (no data rewrite):
    the logical schema renames, and the mapping records that logical
    `new` still lives under physical `old` (or old's own physical, for
    a second rename). Refused while any CHECK constraint references the
    old name (drop and re-add the constraint against the new name —
    rewriting SQL expressions by string surgery is how silent
    corruption happens)."""
    import re

    props = _latest_props(spark, path)
    sch = props.get("schema")
    if not sch:
        raise ValueError(f"rename_column needs a schema'd lake: {path}")
    names = [n for n, _ in sch["cols"]]
    if old not in names:
        raise ValueError(f"no such column {old!r} in {names}: {path}")
    if new in names:
        raise ValueError(f"column {new!r} already exists: {path}")
    for cname, expr in props.get("constraints", {}).items():
        if re.search(rf"\b{re.escape(old)}\b", expr):
            raise ValueError(
                f"constraint {cname!r} references column {old!r} — drop it, "
                f"rename, and re-add against {new!r}: {path}"
            )

    def build(parent):
        cur = _props(parent)
        sch2 = {"cols": [[new if n == old else n, t] for n, t in cur["schema"]["cols"]]}
        cm = _colmap(cur)
        physical = cm.pop(old, old)
        if physical != new:
            cm[new] = physical
        out = {**cur, "schema": sch2}
        if cm:
            out["colmap"] = cm
        else:
            out.pop("colmap", None)
        return {"segments": _carry(parent), "props": out}

    return _commit(spark, path, "rename_column", build)


def drop_column(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only: the column leaves
    the logical schema and reads stop projecting it; the physical bytes
    stay in the immutable segments until a full-rewrite op materializes
    the narrower schema (the Delta column-mapping drop contract).
    Refused while a CHECK constraint references it."""
    import re

    props = _latest_props(spark, path)
    sch = props.get("schema")
    if not sch or name not in [n for n, _ in sch["cols"]]:
        raise ValueError(f"no such column {name!r}: {path}")
    for cname, expr in props.get("constraints", {}).items():
        if re.search(rf"\b{re.escape(name)}\b", expr):
            raise ValueError(
                f"constraint {cname!r} references column {name!r} — drop the "
                f"constraint first: {path}"
            )

    def build(parent):
        cur = _props(parent)
        cm = _colmap(cur)
        physical = cm.pop(name, name)
        sch2 = {"cols": [[n, t] for n, t in cur["schema"]["cols"] if n != name]}
        dropped = list(cur.get("dropped_cols", [])) + [physical]
        out = {**cur, "schema": sch2, "dropped_cols": dropped}
        if cm:
            out["colmap"] = cm
        else:
            out.pop("colmap", None)
        return {"segments": _carry(parent), "props": out}

    return _commit(spark, path, "drop_column", build)


def _sortable_keys(keys_in: dict | None) -> dict | None:
    """Sort each probe key list for the bisect skip; a list whose types
    don't totally order (mixed int/str) is dropped from the probe —
    skipping is optional, soundness isn't."""
    if not keys_in:
        return None
    out = {}
    for c, v in keys_in.items():
        try:
            out[c] = sorted(v)
        except TypeError:
            pass
    return out or None


def resolve_segments(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    part_eq: dict | None = None,
    ranges: dict | None = None,
    bloom_eq: dict | None = None,
    keys_in: dict | None = None,
    token_eq: dict | None = None,
    part_in: dict | None = None,
) -> list[str]:
    """The segment list a read would scan after manifest-level pruning
    (exposed for tests/introspection — the pruning IS the point)."""
    versions = _manifest_versions(spark, path)
    if not versions:
        raise ValueError(f"no committed manifest under {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in committed versions {versions}")
    m = _read_manifest(spark, path, v)
    props = dict(m.get("props", {}))
    part_eq = _translate_probe(props, part_eq)
    part_in = _translate_probe(props, part_in)
    ranges = _translate_probe(props, ranges)
    bloom_eq = _translate_probe(props, bloom_eq)
    keys_in = _sortable_keys(_translate_probe(props, keys_in))
    probes = _bloom_probes(spark, bloom_eq) if bloom_eq else None
    tok = _token_probes(spark, _translate_probe(props, token_eq))
    return _prune_segments(m, part_eq, ranges, probes, keys_in, tok, part_in)


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
    part_eq: dict | None = None,
    ranges: dict | None = None,
    bloom_eq: dict | None = None,
    keys_in: dict | None = None,
    token_eq: dict | None = None,
    as_of_ts: float | None = None,
    part_in: dict | None = None,
) -> DataFrame:
    """The table AS OF `version` (default: latest). One manifest read,
    then a plain multi-dir parquet scan — pushdown/pruning intact.

    Schema evolution: segments are immutable, so adding a column is
    just appending segments with the wider schema; `merge_schema=True`
    unions footers across segments (old segments surface NULLs for new
    columns — additive evolution only, the parquet mergeSchema
    contract).

    `part_eq` / `ranges` prune segments through manifest metadata
    BEFORE Spark lists any file (driver-side skipping); they are hints
    only — rows from kept segments are NOT re-filtered, so apply the
    same predicate in the plan too (Catalyst then also pushes it into
    the surviving scans).

    `as_of_ts` (epoch seconds) is timestamp time travel — resolved to
    the newest commit at-or-before that instant via
    `version_as_of_timestamp`; mutually exclusive with `version`."""
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = version_as_of_timestamp(spark, path, as_of_ts)
    versions = _manifest_versions(spark, path)
    if not versions:
        raise ValueError(f"no committed manifest under {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in committed versions {versions}")
    m = _read_manifest(spark, path, v)
    props = dict(m.get("props", {}))
    if not m["segments"]:
        # a fully-emptied table version (every row deleted) is a valid
        # state, not an error: an empty frame typed by the recorded
        # LOGICAL schema (widened types included)
        cols = (props.get("schema") or {}).get("cols")
        if cols:
            return rows_frame(
                spark, [], ", ".join(f"`{n}` {t}" for n, t in cols)
            )
        raise ValueError(
            f"empty table version {v} with no recorded schema: {path}"
        )
    # column mapping: callers probe by LOGICAL names; segment metadata
    # is keyed by PHYSICAL — translate before pruning
    part_eq = _translate_probe(props, part_eq)
    part_in = _translate_probe(props, part_in)
    ranges = _translate_probe(props, ranges)
    bloom_eq = _translate_probe(props, bloom_eq)
    keys_in = _sortable_keys(_translate_probe(props, keys_in))
    probes = _bloom_probes(spark, bloom_eq) if bloom_eq else None
    tok = _token_probes(spark, _translate_probe(props, token_eq))
    segs = _prune_segments(m, part_eq, ranges, probes, keys_in, tok, part_in)
    if not segs and m["segments"]:
        # every segment provably disjoint from the probes: an EMPTY
        # frame with the table's schema, not an error (the adversarial
        # absent-token shape — a fully-pruned read is a normal result)
        df = _read_with_tombstones(
            spark, path, m["segments"], m, merge_schema
        ).limit(0)
    else:
        df = _read_with_tombstones(spark, path, segs, m, merge_schema)
    return _project_logical(df, props)


def read_for_keys(
    spark: SparkSession,
    path: str,
    col: str,
    keys,
    version: int | None = None,
    max_keys: int = 200_000,
) -> DataFrame:
    """Point-read a BOUNDED key set: manifest bloom + min/max range
    segment skipping, then an `isin` predicate so parquet row-group
    stats and file-level blooms prune INSIDE the surviving segments.
    This is the O(keys) fetch shape — at 100 TB the scan touches only
    segments whose bloom admits at least one key, and the pushed
    `isin` never reads a row group whose stats exclude the whole set.
    `keys` must fit the driver/broadcast contract (`max_keys` guards
    an unbounded dim from silently degrading to a full scan)."""
    from pyspark.sql import functions as F

    ks = sorted(
        {k for k in keys if k is not None},
        key=lambda v: (str(type(v)), v),
    )
    if len(ks) > max_keys:
        raise ValueError(
            f"read_for_keys: {len(ks)} keys exceeds max_keys={max_keys} — "
            "an unbounded probe side must go through a regular join, not "
            "a point fetch"
        )
    if not ks:
        return read_snapshot(spark, path, version=version).limit(0)
    try:  # homogeneous, ordered key types → add range skipping
        rng = {col: (min(ks), max(ks))}
    except TypeError:
        rng = None
    df = read_snapshot(
        spark,
        path,
        version=version,
        bloom_eq={col: ks},
        ranges=rng,
        # point-in-range skip: stays sharp for large key sets where
        # the bloom union saturates (each segment keeps only if some
        # key falls inside its own [min, max])
        keys_in={col: ks},
    )
    return df.filter(F.col(col).isin(ks))


def _recorded_fields(props: dict):
    """{logical name: DataType} from the recorded schema, or None for a
    pre-enforcement lake (caller falls back to a snapshot plan)."""
    sch = (props.get("schema") or {}).get("cols")
    if not sch:
        return None
    from pyspark.sql.types import _parse_datatype_string

    return {n: _parse_datatype_string(t) for n, t in sch}


def _spark_order(t):
    """Sort key under which JSON-safe stats of type `t` order as Spark
    orders the typed values: decimals (recorded as strings) by value,
    NaN above every other double. None for the other types, whose
    JSON-safe form already orders right (dates and timestamps as ISO
    strings)."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    if isinstance(t, DecimalType):
        return Decimal
    if isinstance(t, (DoubleType, FloatType)):
        return lambda v: (v != v, v)
    return None


def _metadata_agg(
    spark: SparkSession,
    path: str,
    fn: str,
    by: list[str],
    min_cols,
    max_cols,
    count_cols,
    version: int | None,
    allow_scan: bool,
    part_eq: dict | None = None,
    ndv_cols=(),
) -> DataFrame:
    """The one body of `metadata_agg` (``by=[]``) and
    `metadata_agg_by_partition` (``by=[part_col]``); `fn` names the
    caller in every error.

    One manifest walk; one aggregate list grouped by `by`, from which
    every scan builds (the tombstoned snapshot, the uncovered segments,
    the incomparable-stats fallback); one `covered` test; one
    driver-side fold of the covered segments' rows/stats/nulls and the
    scanned groups, keyed by the group value (empty for the global
    row); one output that casts the folded JSON-safe values to the
    recorded types. The NDV sketch union serves `ndv_cols`, which only
    the global form takes."""
    import base64

    from pyspark.sql import functions as F

    versions = _manifest_versions(spark, path)
    if not versions:
        raise ValueError(f"no committed manifest under {path}")
    v = versions[-1] if version is None else version
    m = _read_manifest(spark, path, v)
    props = dict(m.get("props", {}))
    meta = m.get("meta", {})
    want = list(dict.fromkeys([*by, *min_cols, *max_cols, *count_cols, *ndv_cols]))
    phys = {c: _physical(props, c) for c in want}
    part_t = _translate_probe(props, part_eq)

    # column types from the RECORDED schema — resolving them via a
    # snapshot plan would list every segment dir at analysis time,
    # which defeats the zero-file point of a metadata aggregate
    snap = functools.cache(lambda: read_snapshot(spark, path, version=v))
    fields = _recorded_fields(props)
    if fields is None:  # pre-schema lake
        fields = {f.name: f.dataType for f in snap().schema.fields}
    for c in [*want, *(part_eq or {})]:
        if c not in fields:
            raise ValueError(f"{fn}: no column {c!r} in {path}")

    def scope(df):
        for c, val in (part_eq or {}).items():
            df = df.filter(F.col(c).eqNullSafe(F.lit(val)))
        return df

    def scan(df):
        return scope(df).groupBy(*by).agg(
            F.count(F.lit(1)).alias("count_rows"),
            *[F.min(c).alias(f"min_{c}") for c in min_cols],
            *[F.max(c).alias(f"max_{c}") for c in max_cols],
            *[F.count(F.col(c)).alias(f"count_{c}") for c in count_cols],
            *[F.countDistinct(F.col(c)).alias(f"ndv_{c}") for c in ndv_cols],
        )

    def refuse(why: str) -> None:
        if not allow_scan:
            raise ValueError(f"{fn}(allow_scan=False): {why}: {path}")

    if m.get("deletes"):
        refuse("merge-on-read tombstones require a snapshot scan")
        return scan(snap())

    def covered(s: str) -> bool:
        sm = meta.get(s, {})
        st, nl = sm.get("stats", {}), sm.get("nulls", {})
        return (
            "rows" in sm
            and all(phys[c] in sm.get("part", {}) for c in by)
            and all(
                isinstance(st.get(phys[c]), list) and len(st[phys[c]]) == 2
                for c in [*min_cols, *max_cols]
            )
            and all(phys[c] in nl for c in count_cols)
            and (not part_t or _provably_all_match(sm, part_t, None))
        )

    segs = _prune_segments(m, part_t, None) if part_t else m["segments"]
    have, need = [], []
    for s in segs:
        (have if covered(s) else need).append(s)
    if need:
        refuse(
            f"{len(need)}/{len(segs)} segments lack rows/stats/nulls "
            "metadata (or a partition tag, or a whole-segment partition "
            "proof)"
        )

    # one contribution per covered segment and per scanned group: the
    # group key (values as strings, as the output casts them), then
    # count_rows, the mins, the maxes and the non-null counts
    def key(vals) -> tuple:
        return tuple(None if x is None else str(x) for x in vals)

    parts = [
        (
            key(meta[s]["part"][phys[c]] for c in by),
            int(meta[s]["rows"]),
            *[meta[s]["stats"][phys[c]][0] for c in min_cols],
            *[meta[s]["stats"][phys[c]][1] for c in max_cols],
            *[
                int(meta[s]["rows"]) - int(meta[s]["nulls"][phys[c]])
                for c in count_cols
            ],
        )
        for s in have
    ]
    if need:
        # widened lakes: read under the recorded widened schema, or
        # mergeSchema fails on mixed-type files
        scanned = scan(_project_logical(
            _read_segments(
                spark, path, need, merge_schema=True,
                schema_ddl=_widened_ddl(props),
            ),
            props,
        )).collect()
        width = 1 + len(min_cols) + len(max_cols) + len(count_cols)
        parts += [
            (key(r[: len(by)]), *map(_json_safe, r[len(by) : len(by) + width]))
            for r in scanned
        ]

    def pick(f, c):
        order = _spark_order(fields[c])
        return lambda vals: f(
            (x for x in vals if x is not None), key=order, default=None
        )

    fold = [
        sum,
        *[pick(min, c) for c in min_cols],
        *[pick(max, c) for c in max_cols],
        *[sum] * len(count_cols),
    ]
    groups: dict = {} if by else {(): []}
    for k, *vals in parts:
        groups.setdefault(k, []).append(vals)
    try:
        out = [
            [*k, *[f([g[j] for g in gs]) for j, f in enumerate(fold)]]
            for k, gs in groups.items()
        ]
    except TypeError:
        # cross-segment type drift (e.g. int stats next to str stats
        # after a retyping rewrite): metadata can't prove an order —
        # fall back to the honest scan
        refuse("incomparable cross-segment stats types")
        return scan(snap())

    # NDV never hybrid-merges (a scan over the uncovered segments would
    # double-count keys shared with covered ones): each column is
    # either fully sketch-answered or fully scanned
    ndv, scan_ndv = {}, []
    for c in ndv_cols:
        ents = [meta.get(s, {}).get("ndv", {}).get(phys[c]) for s in segs]
        kinds = {e["kind"] for e in ents if e is not None}
        if need or None in ents or len(kinds) > 1:
            scan_ndv.append(c)
        elif kinds <= {"bitmap"}:
            ndv[c] = _ndv_bitmap_count([e["buckets"] for e in ents])
        else:  # all theta: DataSketches union, estimate as long
            sks = [(bytearray(base64.b85decode(e["sk"])),) for e in ents]
            row = rows_frame(spark, sks, "sk binary").agg(
                F.theta_sketch_estimate(F.theta_union_agg(F.col("sk")))
                .alias("__ndv")
            ).collect()[0]
            ndv[c] = int(row["__ndv"] or 0)
    if scan_ndv:
        refuse(
            f"column(s) {scan_ndv} lack complete single-kind NDV sketches "
            "across the live segments"
        )
        row = scope(snap()).agg(*[
            F.countDistinct(F.col(c)).alias(f"ndv_{c}") for c in scan_ndv
        ]).collect()[0]
        ndv.update({c: int(row[f"ndv_{c}"] or 0) for c in scan_ndv})
    if ndv_cols:
        out[0] += [ndv[c] for c in ndv_cols]

    names = [
        *by, "count_rows",
        *[f"min_{c}" for c in min_cols],
        *[f"max_{c}" for c in max_cols],
        *[f"count_{c}" for c in count_cols],
        *[f"ndv_{c}" for c in ndv_cols],
    ]
    types = [
        *[fields[c] for c in by], "long",
        *[fields[c] for c in [*min_cols, *max_cols]],
        *["long"] * (len(count_cols) + len(ndv_cols)),
    ]
    raw = rows_frame(
        spark,
        [tuple(None if x is None else str(x) for x in r) for r in out],
        ", ".join(f"`{n}` string" for n in names),
    )
    return raw.select(*[F.col(n).cast(t).alias(n) for n, t in zip(names, types)])


def metadata_agg(
    spark: SparkSession,
    path: str,
    min_cols: list[str] | tuple = (),
    max_cols: list[str] | tuple = (),
    count_cols: list[str] | tuple = (),
    version: int | None = None,
    allow_scan: bool = True,
    part_eq: dict | None = None,
    ndv_cols: list[str] | tuple = (),
) -> DataFrame:
    """COUNT(*)/MIN/MAX/COUNT(col) answered from MANIFEST METADATA —
    zero data files read when every live segment carries `rows`/
    `stats`/`nulls` (recorded by any stats_cols write and by
    clustering rewrites). The Iceberg/Delta metadata-only aggregate:
    at 100 TB this is a KB-sized manifest read instead of a table
    scan.

    `part_eq` scopes the aggregate to one partition: segments whose
    tag PROVES every row matches contribute their metadata, segments
    the tag disproves contribute nothing, and ambiguous segments
    (untagged / type-drifted) scan WITH the predicate — three-way
    honesty, same proof rules as replaceWhere.

    Segments missing the needed entries fall back to ONE scan over
    exactly those segments, merged with the metadata side (hybrid —
    skipping stays sound, never lossy). Tombstoned lakes (MoR deletes)
    can't be answered from per-segment counts and fall back to a full
    snapshot aggregate. `allow_scan=False` raises instead of scanning
    — the introspection contract for plan tests.

    `ndv_cols` adds COUNT(DISTINCT col) answered from the per-segment
    NDV sketches (`commit_append(ndv_cols=...)` — VERDICT r11 #4):
    all-bitmap columns union EXACTLY (byte-OR + popcount,
    driver-side); all-theta columns union through DataSketches (exact
    below 4096 retained hashes, ~2% past — the 100 TB shape). A
    column any live segment lacks (or mixes kinds on) falls back to
    one scoped COUNT DISTINCT scan — `allow_scan=False` raises, the
    same honesty contract.

    Result: one row — `count_rows`, then `min_<c>` / `max_<c>` /
    `count_<c>` (non-null count) / `ndv_<c>` per requested LOGICAL
    column, typed by the table schema."""
    return _metadata_agg(
        spark, path, "metadata_agg", [], min_cols, max_cols, count_cols,
        version, allow_scan, part_eq, ndv_cols,
    )


def metadata_agg_by_partition(
    spark: SparkSession,
    path: str,
    part_col: str,
    min_cols: list[str] | tuple = (),
    max_cols: list[str] | tuple = (),
    count_cols: list[str] | tuple = (),
    version: int | None = None,
    allow_scan: bool = True,
) -> DataFrame:
    """``SELECT part, COUNT(*), MIN/MAX/COUNT(col) ... GROUP BY part``
    answered from the manifest: every partition-TAGGED segment with
    rows/stats/nulls metadata contributes driver-side; untagged or
    under-stats'd segments fall back to ONE grouped scan over exactly
    those segments, run at call time and folded with the tagged side
    per partition (sum counts, min of mins, max of maxes — all
    decomposable). At 100 TB the common case (partitioned appends with
    stats_cols) reads zero data files — `allow_scan=False` is the
    contract. Tombstoned lakes scan."""
    return _metadata_agg(
        spark, path, "metadata_agg_by_partition", [part_col], min_cols,
        max_cols, count_cols, version, allow_scan,
    )


def commit_upsert(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    version_col: str,
    target_files: int | None = None,
    allow_untag: bool = False,
    tag: str | None = None,
    record_cdf: bool = False,
) -> int:
    """MERGE (SCD1 last-writer-wins upsert) into the manifest lake:
    read the current snapshot, fold `changes` with
    ``operators.cdc.merge_upsert``, publish the merged table as a new
    snapshot. Because the new segment's CONTENT depends on the parent
    snapshot, the merge runs in the commit's build on the parent it
    lands on; losing the race re-reads and re-merges rather than
    committing stale data — the orphaned segment of a lost attempt is
    invisible and vacuumable.

    Scale note (documented trade): this rewrites the TABLE as one
    consolidated snapshot — correct and simple, right for dimension
    tables and MV publishes. For fact tables use
    `commit_upsert_partitioned` (touched partitions only) or
    `commit_upsert_pruned` (stats-overlap segments only). The
    full-rewrite op doesn't mix with a tagged layout: its consolidated
    segment is UNTAGGED, so running it on a partition-tagged lake
    FORFEITS pruning and partitioned MERGE — that's a hard error now
    (quiet pruning regressions on a fact table are worse than a
    retried call); pass ``allow_untag=True`` to opt into the
    downgrade deliberately.

    ``record_cdf=True`` additionally stores THIS commit's valued delta
    as a write-time change segment (Delta _change_data parity): the
    merge already holds both sides, so the delta is one `_diff_frames`
    over the CHANGE-KEY-restricted base and merged rows — O(changes)
    extra write, and every downstream single-step `snapshot_diff` /
    `read_feed` / `consume_feed` / MV refresh then reads it instead of
    re-diffing the rewrite width. The restatement-heavy-CDC
    optimization SCALE.md r10 names; unique-key premise as usual."""
    _check_constraints(spark, path, changes)
    _check_schema(spark, path, changes.drop(version_col))
    from ..operators.cdc import merge_upsert

    def build(parent):
        if parent is not None and not allow_untag:
            tagged = [
                s for s in parent["segments"]
                if "part" in parent.get("meta", {}).get(s, {})
            ]
            if tagged:
                raise ValueError(
                    f"commit_upsert on a partition-tagged lake ({len(tagged)} "
                    "tagged segments) would forfeit partition pruning and "
                    "partitioned MERGE — use commit_upsert_partitioned, or "
                    f"pass allow_untag=True to untag deliberately: {path}"
                )
        if parent is None:
            # empty lake: an upsert is just the changes, latest per key
            merged = merge_upsert(
                changes.limit(0).drop(version_col), changes, keys, version_col
            )
        else:
            base = read_snapshot(spark, path, version=parent["version"])
            merged = merge_upsert(base, changes, keys, version_col)
        # declared UNIQUE key (VERDICT r9 #1): the merged output IS the
        # new table, so one self-duplicate check on it validates the
        # whole constraint. Skipped when the merge keys are a subset of
        # the UNIQUE columns — merge_upsert emits at most one row per
        # key tuple, so uniqueness holds by construction. Runs BEFORE
        # the segment write: a refusal is atomic (no version, no data).
        props = _props(parent)
        uniq = list(props.get("unique", []))
        if uniq and not set(keys) <= set(uniq):
            _check_unique_dups(merged, uniq, path, "the MERGE output")
        seg = _write_segment(merged, path, target_files)
        out = {
            "segments": [seg],
            # tombstones cleared: the snapshot read above applied them
            "deletes": [],
            "props": _clear_colmap(_schema_props(spark, path, props, merged)),
        }
        if record_cdf:
            # the write-time change segment, restricted to the change
            # keys (non-change keys are provably identical across an
            # upsert) — upserts never delete, so the recorded ops are
            # insert/update only. The new side re-reads the freshly
            # written segment (fresh lineage: merged derives from base,
            # and diffing two frames that share lineage risks Spark's
            # ambiguous-self-join resolution). The segment and the
            # snapshot are both under logical names: the colmap-cleared
            # props make the logical projection the identity.
            out.update(_record_merge(
                spark, path, None if parent is None else base,
                _read_segments(spark, path, [seg]),
                changes.select(*keys).distinct(), keys, out["props"], keys,
            ))
        return out

    return _commit(spark, path, "upsert", build, tag=tag)


def commit_upsert_partitioned(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    version_col: str,
    part_col: str,
    check_stable_partitions: bool = True,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    tag: str | None = None,
    record_cdf: bool = False,
) -> int:
    """Fact-scale MERGE: rewrite ONLY the partitions the changes touch.
    ``record_cdf=True`` stores the commit's valued delta at write time
    like `commit_upsert` — on THIS path it matters most: a CDC batch
    touching 3 of 10,000 partitions rewrites 3, and the recorded
    segment saves every downstream single-step diff from re-reading
    even those 3 (O(changes) I/O; logical names, so column-mapped
    lakes read back exactly what snapshot_diff would compute).
    Requires every current segment to carry ``part`` metadata for
    `part_col` (i.e. the lake was written partition-tagged) — raises
    otherwise, because an untagged segment could hide rows of a touched
    partition and silently survive un-merged.

    **`part_col` must be immutable per key** (the standard
    partition-scoped-MERGE contract): a change row that moves a key to
    a different partition would leave the stale row alive in its old,
    untouched partition — two rows per key. With
    `check_stable_partitions=True` (default) that is ENFORCED: one
    key-columns-only semi-join of the change keys against the
    untouched segments (column-pruned scan) raises on any hit. At
    fact scale, callers whose pipeline guarantees key→partition
    stability (e.g. the partition is derived from the key) pass
    ``check_stable_partitions=False`` to skip the scan.

    Shape: the touched partition set is an O(partitions-in-batch)
    driver list (one distinct job over the CHANGES, which are
    batch-sized by premise); untouched segments transfer into the new
    manifest by name — zero data movement; touched partitions read ←
    merge_upsert ← one keyed `_write_segments` pass, which writes one
    fresh tagged segment per partition in a fixed number of jobs. Like
    `commit_upsert`, the classification, merge and writes run in the
    commit's build on the parent it lands on: racing commits force a
    re-read + re-merge, so concurrent appends are never lost. This is
    the file-level-skipping MERGE that `commit_upsert`'s docstring
    points to — at 100 TB a CDC batch touching 3 of 10,000 daily
    partitions rewrites 3.

    Column-mapped lakes: every segment is uniform-PHYSICAL after a
    rename (appends translate at the write), so name-transfer of
    untouched segments is sound; the rewrite side translates — the
    LOGICAL change batch and the caller's part/key/stats/bloom columns
    map to physical names, the merge runs physical-vs-physical, and
    the rewritten segments land physical like any append. Schema
    evolution/validation still sees the LOGICAL batch (constraints and
    the resurrection guard speak logical names)."""
    _check_constraints(spark, path, changes)
    _check_schema(spark, path, changes.drop(version_col))
    from pyspark.sql import functions as F

    from ..operators.cdc import merge_upsert

    logical_changes = changes
    logical_keys = list(keys)
    _p0, changes, keys, _, key_df = _keyed_batch(
        spark, path, changes, keys, checkpoint=False
    )
    part_col = _physical(_p0, part_col)
    stats_cols = _physical_cols(_p0, stats_cols)
    bloom_cols = _physical_cols(_p0, bloom_cols)
    parts = [
        _json_safe(r[part_col])
        for r in changes.select(part_col).distinct().collect()
    ]

    def build(parent):
        touched: list[str] = []
        untouched: list[str] = []
        if parent is not None:
            _require_no_tombstones(parent, path, "commit_upsert_partitioned")
            _require_not_widened(
                _props(parent), path, "commit_upsert_partitioned"
            )
            meta = parent.get("meta", {})
            for s in parent["segments"]:
                part = meta.get(s, {}).get("part", {})
                if part_col not in part:
                    raise ValueError(
                        f"segment {s} lacks '{part_col}' partition metadata — "
                        "partitioned upsert requires a fully partition-tagged "
                        "lake (write with commit_append(partition=...))"
                    )
                (touched if part[part_col] in parts else untouched).append(s)
        if untouched and check_stable_partitions:
            stray = (
                _read_segments(spark, path, untouched)
                .select(*keys)
                .join(key_df, on=list(keys), how="left_semi")
                .limit(1)
                .count()
            )
            if stray:
                raise ValueError(
                    "partition-scoped MERGE key-stability violation: a change "
                    f"key exists in an untouched partition of {path} — the "
                    f"change row moves the key across '{part_col}' values, "
                    "which would leave its stale row alive. Partition values "
                    "must be immutable per key; delete+insert across "
                    "partitions explicitly, or fix the change batch."
                )
        if touched:
            base = _read_segments(spark, path, touched)
            merged = merge_upsert(base, changes, keys, version_col)
        else:
            merged = merge_upsert(
                changes.limit(0).drop(version_col), changes, keys, version_col
            )
        merged = merged.localCheckpoint(eager=True)  # read before any delete
        # declared UNIQUE key (VERDICT r9 #1), both halves refused
        # BEFORE any write (atomic): (a) duplicates inside the merged
        # touched partitions; (b) a merged key colliding with a row in
        # an UNTOUCHED partition (which this commit transfers by name).
        # (a) skips when merge keys ⊆ UNIQUE cols — merge_upsert emits
        # one row per key tuple. (b) skips when that holds AND the
        # key-stability scan ran: merged keys are base(touched) keys
        # (unique table invariant — disjoint from untouched) plus
        # change keys (the stability scan just proved absent from
        # untouched), so no collision is possible. UNIQUE cols
        # translate to physical like every probe (merged is physical).
        props = _props(parent)
        uniq = _physical_cols(props, props.get("unique", []))
        if uniq:
            if not set(keys) <= set(uniq):
                _check_unique_dups(
                    merged, uniq, path, "the merged partitions"
                )
            if untouched and not (
                set(keys) <= set(uniq) and check_stable_partitions
            ):
                _check_unique_remainder(
                    spark, path, uniq, merged,
                    _read_segments(spark, path, untouched),
                    "the MERGE output",
                )
        out: dict = {}
        if record_cdf:
            # the write-time change segment (see commit_upsert); merged
            # is checkpointed above, so the diff isn't a self-join
            out = _record_merge(
                spark, path, base if touched else None, merged,
                key_df, keys, _p0, logical_keys,
            )
        # one keyed pass over the merged partitions; it regenerates the
        # skipping metadata on them (index-maintenance callers keep
        # blooms/stats fresh so point lookups survive MERGE, like
        # compact's stats_cols)
        new_segs = _tagged(part_col, _write_segments(
            spark, path, merged, [F.col(part_col)],
            stats_cols=stats_cols, bloom_cols=bloom_cols,
        ))
        return {
            **out,
            "segments": untouched + list(new_segs),
            "meta": new_segs,
            "props": _schema_props(
                spark, path, props, logical_changes.drop(version_col)
            ),
        }

    return _commit(spark, path, "upsert_partitioned", build, tag=tag)


# --- the keyed-change core: what the row-level deletes and MERGEs share

def _keyed_batch(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    keys: list[str],
    stats_key: str | None = None,
    checkpoint: bool = True,
) -> tuple[dict, DataFrame, list[str], str, DataFrame]:
    """The prelude of a keyed row-level op: ``(props, batch, keys,
    stats_key, key_df)``. `props` are the newest manifest's; the batch,
    the keys and the pruning column (`stats_key`, default the first
    key) come back under its column mapping's physical names, because
    segments are uniform-physical. `key_df` is the batch's distinct key
    tuples, checkpointed when `checkpoint` (the op reads it more than
    once, and every commit attempt classifies against it)."""
    props = _latest_props(spark, path)
    batch = _to_physical(batch, props)
    keys = [_physical(props, k) for k in keys]
    sk = _physical(props, stats_key) if stats_key else keys[0]
    if sk not in keys:
        raise ValueError(f"stats_key {stats_key!r} must be one of the keys {keys}")
    key_df = batch.select(*keys).distinct()
    if checkpoint:
        key_df = key_df.localCheckpoint(eager=True)
    return props, batch, keys, sk, key_df


def _segments_overlapping_keys(
    spark: SparkSession,
    manifest: dict,
    key_df: DataFrame,
    key_col: str,
    cap: int = _BLOOM_PROBE_CAP,
) -> tuple[list[str], list[str]]:
    """(touched, untouched): classify the manifest's data segments by
    PROVABLE overlap with the keys of `key_df` on `key_col`, in two
    steps. Soundness is inherited from the metadata: a range or a bloom
    that excludes every batch key PROVES the segment holds none.

    1. Stats: ONE agg job over the batch regardless of segment count
       (each segment's recorded [min,max] becomes one flag column; the
       manifest is KB-sized by construction so the column list is
       bounded). A segment without min/max stats on `key_col` is
       always touched — no information must mean "assume overlap",
       never "skip".
    2. Blooms: a touched segment whose bloom on `key_col` maybe-contains
       none of the keys moves to untouched. This is what makes point-id
       deletes on an id-bloomed cell-partitioned codes lake O(touched
       cells): ids are assigned by content, not by cell, so id ranges
       span every cell. It runs only when a touched segment has such a
       bloom and the batch holds at most `cap` keys (one bounded
       collect)."""
    from pyspark.sql import functions as F

    meta = manifest.get("meta", {})
    touched: list[str] = []
    untouched: list[str] = []
    candidates: list[tuple[str, object, object]] = []
    for s in manifest["segments"]:
        st = meta.get(s, {}).get("stats", {}).get(key_col)
        if st is None or st[0] is None or st[1] is None:
            touched.append(s)
        else:
            candidates.append((s, st[0], st[1]))
    if candidates:
        row = key_df.select(F.col(key_col).alias("__k")).agg(
            *[
                F.max(
                    F.when(
                        F.col("__k").between(F.lit(mn), F.lit(mx)), 1
                    ).otherwise(0)
                ).alias(f"__s{i}")
                for i, (_, mn, mx) in enumerate(candidates)
            ]
        ).collect()[0]
        for i, (s, _, _) in enumerate(candidates):
            # NULL flag = empty batch: provably no overlap
            (touched if row[f"__s{i}"] == 1 else untouched).append(s)
    blooms = {
        s: meta.get(s, {}).get("bloom", {}).get(key_col) for s in touched
    }
    blooms = {s: b for s, b in blooms.items() if b is not None}
    if not blooms or cap <= 0:
        return touched, untouched
    head = key_df.select(key_col).limit(cap + 1).collect()
    vals = [r[0] for r in head if r[0] is not None]
    if len(head) > cap or not vals:
        return touched, untouched
    probes = _bloom_probes(spark, {key_col: vals})[key_col]
    cleared = {
        s for s, bloom in blooms.items()
        if not any(_bloom_maybe_contains(bloom, h) for h in probes)
    }
    return (
        [s for s in touched if s not in cleared],
        untouched + [s for s in touched if s in cleared],
    )


def _dv_hits(
    spark: SparkSession,
    path: str,
    props: dict,
    touched: list[str],
    key_df: DataFrame,
    keys: list[str],
) -> DataFrame:
    """The position scan of a deletion vector (DV, a positional
    delete): ``(file, pos)`` of every row of the `touched` segments
    that holds a key of `key_df` — its segment-relative file and its
    row index there, read under the widened DDL of `props`."""
    from pyspark.sql import functions as F

    if not touched:
        return rows_frame(spark, [], "file string, pos bigint")
    raw = _read_segments(spark, path, touched, schema_ddl=_widened_ddl(props))
    return (
        raw.select(
            _dv_relpath(F.col("_metadata.file_path")).alias("file"),
            F.col("_metadata.row_index").alias("pos"),
            *keys,
        )
        .join(key_df, on=list(keys), how="left_semi")
        .select("file", "pos")
    )


def _record_victims(
    spark: SparkSession,
    path: str,
    parent: dict | None,
    touched: list[str],
    key_df: DataFrame,
    keys: list[str],
    props: dict,
    logical_keys: list[str],
    new: DataFrame | None = None,
) -> dict:
    """Record the rows a delete or an MoR merge supersedes as a change
    segment (`_record_change_segment`). The old side is the currently
    VISIBLE rows of the `touched` segments that hold a key of `key_df`,
    under logical names: pending tombstones apply, so a row an earlier
    delete already killed is not recorded as deleted again. The new
    side is `new` (the rows an MoR merge appends) or nothing (a
    delete)."""
    if touched:
        old = _project_logical(
            _read_with_tombstones(spark, path, touched, parent).join(
                key_df, on=list(keys), how="left_semi"
            ),
            props,
        )
    elif new is not None:
        old = rows_frame(spark, [], new.schema)
    else:
        old = read_snapshot(spark, path, version=parent["version"]).limit(0)
    if new is None:
        new = rows_frame(spark, [], old.schema)
    return _record_change_segment(spark, path, old, new, logical_keys)


def _record_merge(
    spark: SparkSession,
    path: str,
    old: DataFrame | None,
    new: DataFrame,
    key_df: DataFrame,
    keys: list[str],
    props: dict,
    logical_keys: list[str],
) -> dict:
    """Record a copy-on-write MERGE's valued delta as a change segment:
    `old` (the rows the merge read; None when it read none) against
    `new` (the rows it writes), both restricted to the change keys —
    the other rows are identical on both sides — and projected to
    LOGICAL names, so the record is what `snapshot_diff` computes."""
    new_r = _project_logical(
        new.join(key_df, on=list(keys), how="left_semi"), props
    )
    if old is None:
        old_r = rows_frame(spark, [], new_r.schema)
    else:
        old_r = _project_logical(
            old.join(key_df, on=list(keys), how="left_semi"), props
        )
    return _record_change_segment(spark, path, old_r, new_r, logical_keys)


def commit_upsert_pruned(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    version_col: str,
    stats_key: str | None = None,
    target_files: int | None = None,
    record_cdf: bool = False,
) -> int:
    """Segment-skipping MERGE — the documented step up from
    `commit_upsert`'s full-table rewrite for fact tables that are
    key-range clustered rather than partition-tagged: only segments
    whose recorded ``stats`` range on `stats_key` (default: first merge
    key) OVERLAPS the change batch, and whose bloom on it (if any) may
    hold a change key, are read, merged, and rewritten; every other
    segment transfers into the new manifest BY NAME — zero data
    movement. At 100 TB a CDC batch touching 3 of 10,000
    key-range segments rewrites 3.

    Soundness: pruning is keyed on the MERGE KEY itself, so an
    untouched segment provably contains no change key — unlike the
    partitioned variant there is no "key moved partitions" hazard.
    Contract (documented, not scanned-for): each key lives in at most
    one segment — the invariant this op maintains (the merged output
    is one consolidated segment whose stats are recorded for the next
    round of pruning) and key-disjoint `commit_append`s preserve.
    Stats-less segments are always merged (no info -> must assume
    overlap). Partition-tagged lakes must use
    `commit_upsert_partitioned` (this op's merged segment carries
    stats, not partition tags); pending MoR tombstones must be
    compacted first. Like `commit_upsert`, the classification, merge
    and writes run in the commit's build on the parent it lands on.

    Column-mapped lakes: same stance as the partitioned variant —
    name-transfer is sound (segments are uniform-physical), the
    change batch and key/stats columns translate to physical for the
    merge, and schema validation sees the logical batch.

    ``record_cdf=True`` stores the commit's valued delta as a
    write-time change segment (see commit_upsert). This is the path
    where recording pays MOST: the pruning proof says untouched
    segments hold no change key, so old-side candidates are exactly
    the TOUCHED segments the merge reads anyway, semi-joined to the
    change keys — O(changes) extra work even on a 10,000-segment fact
    table, and downstream single-step diffs / CDF streams then read
    the recorded segment instead of re-diffing the rewrite width."""
    _check_constraints(spark, path, changes)
    _check_schema(spark, path, changes.drop(version_col))
    from ..operators.cdc import merge_upsert

    logical_changes = changes
    logical_keys = list(keys)
    _p0, changes, keys, sk, key_df = _keyed_batch(
        spark, path, changes, keys, stats_key, checkpoint=False
    )

    def build(parent):
        touched: list[str] = []
        untouched: list[str] = []
        if parent is not None:
            _require_no_tombstones(parent, path, "commit_upsert_pruned")
            _require_not_widened(_props(parent), path, "commit_upsert_pruned")
            _require_untagged(parent, path, "commit_upsert_pruned")
            touched, untouched = _segments_overlapping_keys(
                spark, parent, key_df, sk
            )
        if touched:
            base = _read_segments(spark, path, touched)
            merged = merge_upsert(base, changes, keys, version_col)
        else:
            merged = merge_upsert(
                changes.limit(0).drop(version_col), changes, keys, version_col
            )
        # declared UNIQUE key (VERDICT r9 #1): self-duplicates in the
        # merged output, then merged-vs-untouched collisions — both
        # refused BEFORE the write. Both skip when merge keys ⊆ UNIQUE
        # cols: merge_upsert emits one row per key tuple, and pruning
        # is keyed on stats_key ∈ keys, so an untouched segment
        # provably holds no merged key tuple (base rows by the unique
        # table invariant; change rows by the stats or bloom proof).
        props = _props(parent)
        uniq = _physical_cols(props, props.get("unique", []))
        if uniq and not set(keys) <= set(uniq):
            _check_unique_dups(merged, uniq, path, "the MERGE output")
            if untouched:
                _check_unique_remainder(
                    spark, path, uniq, merged,
                    _read_segments(spark, path, untouched),
                    "the MERGE output",
                )
        seg = _write_segment(merged, path, target_files)
        out = {
            "segments": untouched + [seg],
            # stats for the NEXT merge's pruning, computed from the
            # written files (cheap rescan; re-running the merge plan
            # would be worse)
            "meta": {
                seg: _stats_meta(
                    _read_segments(spark, path, [seg]), [], [sk]
                )[0][1]
            },
            "props": _schema_props(
                spark, path, props, logical_changes.drop(version_col)
            ),
        }
        if record_cdf:
            # write-time change segment: old side = the touched segments
            # (the pruning proof: untouched segments hold no change
            # key); new side re-reads the freshly written segment
            # (fresh lineage, as commit_upsert)
            out.update(_record_merge(
                spark, path,
                _read_segments(spark, path, touched) if touched else None,
                _read_segments(spark, path, [seg]),
                key_df, keys, _p0, logical_keys,
            ))
        return out

    return _commit(spark, path, "upsert_pruned", build)


def commit_delete(
    spark: SparkSession,
    path: str,
    deletes: DataFrame,
    keys: list[str],
    stats_key: str | None = None,
    target_files: int | None = None,
    bloom_probe_cap: int = _BLOOM_PROBE_CAP,
    record_cdf: bool = False,
    tag: str | None = None,
) -> int:
    """Row-level DELETE, copy-on-write: rewrite ONLY the segments whose
    key range can contain a delete key (the one-job stats
    classification of `commit_upsert_pruned`, sharpened by segment
    BLOOMS for key batches up to `bloom_probe_cap` — the id-bloomed
    index-lake takedown path rewrites only bloom-positive cells even
    though id ranges span every cell); each touched segment is
    anti-joined against the delete keys and rewritten IN PLACE in the
    layout, all of them in one keyed pass (`_rewrite_survivors`: the
    partition tag and blooms carry over — still sound, deletion only
    shrinks a segment — and the row/null counts and stats are
    recomputed); a segment emptied entirely writes nothing and drops
    from the manifest. Untouched segments transfer by name — the
    takedown/GDPR path on a 100 TB lake rewrites the few segments that
    hold the keys, not the table. NULL delete keys match no row (SQL
    semantics). The classification and rewrite run in the commit's
    build, on the parent it lands on; time travel keeps pre-delete
    versions readable until vacuum (point-in-time obligations are the
    caller's retention policy).

    For O(batch)-latency deletes that defer the rewrite entirely, see
    `commit_delete_mor`.

    Column-mapped lakes: the delete batch and key/stats columns
    translate to physical names (segments are uniform-physical, the
    anti-join and the by-name transfer both stay sound); carried-over
    segment metadata is already physical.

    ``record_cdf=True`` stores the deleted rows as a write-time change
    segment (op='delete' with the old values — see commit_upsert): the
    victims are one semi-join of the TOUCHED segments the delete reads
    anyway, so the recording costs O(deleted rows), and downstream
    single-step diffs skip re-reading the rewrite width."""
    logical_keys = list(keys)
    _p0, _, keys, sk, key_df = _keyed_batch(
        spark, path, deletes, keys, stats_key
    )

    def build(m):
        if m is None:
            raise ValueError(f"cannot delete from an empty manifest lake: {path}")
        _require_no_tombstones(m, path, "commit_delete")
        _require_not_widened(_props(m), path, "commit_delete")
        touched, untouched = _segments_overlapping_keys(
            spark, m, key_df, sk, bloom_probe_cap
        )
        out: dict = {}
        if record_cdf:
            # the write-time change segment: deleted rows with their
            # old values — only the touched segments are read, and
            # they're the ones the rewrite below reads anyway
            out = _record_victims(
                spark, path, m, touched, key_df, keys, _p0, logical_keys
            )
        new_segs = _rewrite_survivors(
            spark, path, m, touched,
            lambda rows: rows.join(key_df, on=list(keys), how="left_anti"),
            untouched, target_files,
        ) if touched else {}
        return {
            **out,
            "segments": untouched + list(new_segs),
            "meta": {s: mm for s, mm in new_segs.items() if mm},
        }

    return _commit(spark, path, "delete", build, tag=tag)


def commit_delete_mor(
    spark: SparkSession,
    path: str,
    deletes: DataFrame,
    keys: list[str],
    tag: str | None = None,
    record_cdf: bool = False,
    stats_key: str | None = None,
) -> int:
    """Row-level DELETE, merge-on-read: write the delete KEYS as a
    tombstone segment and record it in the manifest's ``deletes`` list
    — an O(batch) commit with ZERO data rewritten. Readers anti-join
    pending tombstones at scan time (`_read_with_tombstones`); the
    next `compact` materializes them and clears the list. This is the
    takedown/GDPR shape for hot ingest paths: the obligation lands
    immediately and atomically, the rewrite cost is deferred to
    maintenance.

    Tombstones are sequence-scoped: they mask only segments committed
    BEFORE them, so re-appending a deleted key later works, and racing
    appends are never retro-masked. The tombstone's content doesn't
    depend on the snapshot it lands on, so it is written once and a
    lost race retries only the pointer.
    `tag` gives streaming replays the usual idempotency token. The
    physical delete happens at compact+vacuum; until then deleted rows
    remain on disk (and in time-travel versions) — retention policy
    governs the actual erasure deadline.

    Column-mapped lakes: tombstones are applied to RAW segments before
    the logical projection (`_read_with_tombstones`), so the delete
    keys and the tombstone segment translate to PHYSICAL names here.

    ``record_cdf=True`` additionally stores the victims (op='delete'
    with old values) as a write-time change segment. Documented trade:
    the bare MoR commit reads ZERO data; recording must read the rows
    it kills, so it scans the stats-overlapping (bloom-refined)
    segments once — O(overlapping segments), the same bound as the CoW
    delete's read side, against which downstream diffs then read
    O(deleted rows) instead of re-deriving the tombstone's effect.
    ``stats_key`` picks the pruning column (default: first key)."""
    logical_keys = list(keys)
    _p0, _, keys, sk, key_df = _keyed_batch(
        spark, path, deletes, keys, stats_key, checkpoint=record_cdf
    )
    seg = _write_segment(key_df, path, 1)

    def build(parent):
        out = {
            "segments": _carry(parent),
            "deletes": (list(parent.get("deletes", [])) if parent else []) + [seg],
            "meta": {seg: {"delete_keys": list(keys)}},
        }
        if not record_cdf:
            return out
        # recorded path: unlike the bare tombstone, the victims depend
        # on the parent snapshot (an interleaved append's rows WOULD be
        # masked by this tombstone), so they resolve here, on the
        # parent the commit lands on
        if parent is None:
            raise ValueError(
                f"cannot delete from an empty manifest lake: {path}"
            )
        touched, _ = _segments_overlapping_keys(spark, parent, key_df, sk)
        out.update(_record_victims(
            spark, path, parent, touched, key_df, keys, _p0, logical_keys
        ))
        return out

    return _commit(spark, path, "delete_mor", build, tag=tag)


def commit_multi(
    spark: SparkSession,
    group: str,
    token: str,
    parts: list,
) -> dict[str, int]:
    """MULTI-LAKE atomic-by-convergence publish (VERDICT r10 #4): one
    write-side primitive for the N-lake commits the mvj / cdfmv /
    annidx / takedown tag disciplines each re-derived by hand.

    ``parts`` is an ORDERED list of ``(path, fn)``; every participant
    shares the group tag ``{group}={token}``, and ``fn(tag)`` performs
    exactly ONE tagged commit on its lake, computing its content
    LAZILY (a skipped participant must cost nothing). Contract: the
    fns are deterministic given the token — the token names the
    group's input window — so any crash/replay converges:

    - participants commit in order, each skipped when the tag already
      sits in its cumulative tag set (exactly-once per lake);
    - a crash always leaves a PREFIX committed (lake i landed, i+1..
      did not) — re-invoking with the same token completes the
      suffix, and completed participants skip without recomputing;
    - the newest token on the FIRST participant is therefore the
      group the system last STARTED (`newest_multi_token`) — a caller
      that derives its next input window from a later participant
      (e.g. a high-water state lake) must let that token outrank a
      lagging participant, which is the r10 join-MV crash repair
      expressed once instead of per-consumer.

    Visibility note (the honest contract): between the prefix and the
    suffix, independent per-lake readers see the crash window — the
    primitive guarantees write-side convergence, not cross-lake
    isolation. Readers needing a consistent multi-lake view pin a
    catalog (`pin_catalog`) — the read-side half that already exists.

    A participant may be ``(path, fn, name)``: its tag becomes
    ``{group}={token}:{name}`` — REQUIRED when one lake appears twice
    in a group (e.g. the ann-CDF delete+MERGE pair: a shared tag
    would make the second commit skip whenever the first landed) and
    how the takedown group keeps its per-lake-suffixed on-disk tag
    format. `newest_multi_token` parses the bare token either way
    (a ':'-suffixed name sorts below numeric elements).

    Adopters (r12 — every multi-commit sink): `maintain_join_matview`
    (mvj), `ann_index_ingest_sink` (annidx), `pack_ingest_sink`
    (pack), `apply_cdf_to_ivf_index`'s delete+MERGE pair (anncdf,
    named delete part), `corpus_takedown`'s ordered index→embeddings→
    docs chain (takedown, path-named parts), and the single-lake
    `cdf_matview_sink` (uniformity — the tag gate is the same check).

    Returns {path: committed-or-current version}."""
    out: dict[str, int] = {}
    for part in parts:
        path, fn = part[0], part[1]
        name = part[2] if len(part) > 2 else None
        tag = f"{group}={token}" if name is None else f"{group}={token}:{name}"
        if tag in committed_tags(spark, path):
            out[path] = current_version(spark, path)
            continue
        out[path] = fn(tag)
    return out


def newest_multi_token(
    spark: SparkSession, group: str, path: str
):
    """The newest `group` token committed on `path`, parsed as a tuple
    of ints on ':' (None if the group never committed, or a tuple of
    raw strings for non-numeric tokens). The repair probe for
    `commit_multi` callers: the FIRST participant's newest token is
    the last group the system started; a later participant whose
    derived state trails it has a pending crash window."""
    prefix = f"{group}="
    toks = [
        t[len(prefix):]
        for t in committed_tags(spark, path)
        if t.startswith(prefix)
    ]
    if not toks:
        return None

    def parse(t: str):
        # one comparison scheme for ALL tokens: each ':'-element
        # becomes (is_numeric, value) so a group mixing numeric and
        # non-numeric tokens still totally orders (numeric sorts
        # above string) instead of raising TypeError on tuple[int]
        # vs tuple[str]
        out = []
        for x in t.split(":"):
            try:
                out.append((1, int(x)))
            except ValueError:
                out.append((0, x))
        return tuple(out)

    best = max(toks, key=parse)
    parsed = parse(best)
    if all(num for num, _ in parsed):
        return tuple(v for _, v in parsed)
    return tuple(best.split(":"))


def _dv_relpath(col):
    """Segment-relative file identity ``<segment>/<basename>`` from a
    scan's ``_metadata.file_path`` — location-independent (a shallow
    clone or moved lake keeps matching; segment dir names are uuids,
    so two components identify a file uniquely)."""
    from pyspark.sql import functions as F

    parts = F.split(col, "/")
    return F.concat_ws(
        "/", F.element_at(parts, -2), F.element_at(parts, -1)
    )


def commit_delete_dv(
    spark: SparkSession,
    path: str,
    deletes: DataFrame,
    keys: list[str],
    stats_key: str | None = None,
    bloom_probe_cap: int = _BLOOM_PROBE_CAP,
    tag: str | None = None,
    record_cdf: bool = False,
) -> int:
    """Row-level DELETE, merge-on-read via POSITION DELETES (deletion
    vectors — the Iceberg v2 position-delete / Delta DV shape, VERDICT
    r10 #3): resolve the delete keys to ``(file, pos)`` pairs ONCE at
    write time (one stats+bloom-pruned scan of the overlapping
    segments with ``_metadata.file_path``/``row_index``) and commit
    them as a positional tombstone segment. No data rewritten — the
    O(batch-scan) commit of MoR — but readers then apply a per-file
    POSITIONAL filter instead of re-running a key anti-join on every
    scan: the read-side cost moves from O(scan × tombstone keys) to a
    membership test against the file's own DV rows (the measured gap
    SCALE.md records; equality tombstones made the streaming-takedown
    read 0.632 s vs the CoW twin's 0.37 s at sf0.1).

    Semantics vs `commit_delete_mor`: identical visibility for the
    keys present at commit time, but a DV names FILES, so a key
    re-appended later is never masked (equality tombstones get this
    from sequence scoping; DVs get it structurally) — and absent keys
    simply produce no positions. Because positions reference the
    parent's physical files, they resolve in the commit's build on the
    parent it lands on (a racing compaction would re-home the rows).
    `compact` materializes
    DVs exactly like equality tombstones and clears the list; vacuum
    keeps DV segments as long as a retained manifest references them.

    NULL delete keys match no row (SQL semantics). Column-mapped
    lakes: keys translate to physical names; positions are physical by
    nature.

    ``record_cdf=True`` stores the victims (op='delete', old values)
    as a write-time change segment — nearly free here: the position
    scan already reads the victim rows, so recording adds one
    projected write of O(deleted rows), and the DV path joins the
    other delete tiers on the recorded O(changes) feed."""
    logical_keys = list(keys)
    _p0, _, keys, sk, key_df = _keyed_batch(
        spark, path, deletes, keys, stats_key
    )

    def build(m):
        if m is None:
            raise ValueError(f"cannot delete from an empty manifest lake: {path}")
        touched, _ = _segments_overlapping_keys(
            spark, m, key_df, sk, bloom_probe_cap
        )
        dv_seg = _write_segment(
            _dv_hits(spark, path, _props(m), touched, key_df, keys), path, 1
        )
        out = {
            "segments": _carry(m),
            "deletes": list(m.get("deletes", [])) + [dv_seg],
            # dv marker drives the readers; dv_segs lets the pyarrow
            # planner skip irrelevant data segments without reading
            # the DV parquet (the anti-join scopes by file anyway)
            "meta": {dv_seg: {"dv": True, "dv_segs": list(touched)}},
        }
        if record_cdf:
            # victims for the recorded feed = currently-VISIBLE rows
            # (the raw position scan above may legitimately carry
            # redundant already-masked positions)
            out.update(_record_victims(
                spark, path, m, touched, key_df, keys, _p0, logical_keys
            ))
        return out

    return _commit(spark, path, "delete_dv", build, tag=tag)


def commit_upsert_mor(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    version_col: str,
    stats_key: str | None = None,
    target_files: int | None = None,
    bloom_probe_cap: int = _BLOOM_PROBE_CAP,
    tag: str | None = None,
    record_cdf: bool = False,
) -> int:
    """MERGE-ON-READ MERGE (VERDICT r11 #1 — the Iceberg v2 /
    Delta DV-update shape): ONE commit lands (a) a positional
    deletion vector over the rows the change batch supersedes —
    resolved to ``(file, pos)`` at write time by the same
    stats+bloom-pruned scan as `commit_delete_dv` — and (b) the
    LWW-folded change batch as a new data segment. No existing data
    file is rewritten: a CDC batch whose keys SCATTER across the
    keyspace (the common fact-table case without clustering) costs
    O(batch + pruned position scan) where every copy-on-write path
    (`commit_upsert`, `_partitioned`, `_pruned`) rewrites
    each touched segment in full. `compact()` materializes the DVs
    and re-consolidates, exactly as for DV deletes — write-cheap now,
    read-optimal after maintenance, the deferred-compaction contract.

    Semantics match `commit_upsert`: last-writer-wins inside the
    batch by `version_col`, insert when the key is absent, update
    when present (the old row is position-masked, the new row lives
    in the appended segment — `seq` fencing keeps prior equality
    tombstones applying only to pre-existing segments). Repeated
    MoR merges stack DVs; a superseded row that is already masked
    resolves a redundant position (harmless, the delete_dv rule).
    Insert-only batches (no overlapping segment, or no position hit)
    commit WITHOUT a tombstone — the DV segment is only referenced
    when it actually kills rows, so append-heavy CDC never bloats the
    read path's anti-join list.

    Works on lakes the CoW paths refuse: pending MoR tombstones
    (segments are carried in place, never name-transferred into a
    tombstone-less manifest) and widened lakes (the position scan
    reads under the widened DDL; the incoming batch upcasts at the
    append boundary). Partition-tagged lakes still refuse — the
    consolidated new segment carries stats, not partition tags.
    UNIQUE-key parity with `commit_upsert_pruned`: self-duplicates in
    the folded batch, then batch-vs-survivors collisions, both before
    any write; both skipped when the merge keys ⊆ the UNIQUE columns
    (one row per key by construction; any survivor sharing the uniq
    tuple shares the key tuple and is therefore masked).

    Because positions reference the parent's physical files, they
    resolve in the commit's build on the parent it lands on.
    Column-mapped lakes translate keys and batch to physical names;
    positions are physical by nature.

    ``record_cdf=True`` is nearly free here — THE BATCH IS THE DELTA:
    old side = currently-visible victims (the tombstone-applied read
    of the touched segments, restricted to the batch keys), new side
    = the folded batch itself; one `_diff_frames` of O(batch) rows,
    no post-hoc table diff."""
    changes = _upcast_to_schema(spark, path, changes)  # before validation
    _check_constraints(spark, path, changes)
    _check_schema(spark, path, changes.drop(version_col))
    from ..operators.cdc import merge_upsert

    logical_keys = list(keys)
    # version_col is batch-only (never lands), so its name is shared
    # between the logical batch and the physical translation
    logical_changes = changes.drop(version_col)
    _p0, changes, keys, sk, _ = _keyed_batch(
        spark, path, changes, keys, stats_key, checkpoint=False
    )
    # LWW fold of the batch alone (no base rows — the base never
    # rewrites): one row per key tuple, version_col dropped
    folded = merge_upsert(
        changes.limit(0).drop(version_col), changes, keys, version_col
    ).localCheckpoint(eager=True)
    key_df = folded.select(*keys).distinct()

    def build(m):
        touched: list[str] = []
        if m is not None:
            _require_untagged(m, path, "commit_upsert_mor")
            touched, _ = _segments_overlapping_keys(
                spark, m, key_df, sk, bloom_probe_cap
            )
        props = _props(m)
        uniq = _physical_cols(props, props.get("unique", []))
        if uniq and not set(keys) <= set(uniq):
            _check_unique_dups(folded, uniq, path, "the MERGE batch")
            if m is not None:
                survivors = _read_with_tombstones(
                    spark, path, list(m["segments"]), m
                ).join(key_df, on=list(keys), how="left_anti")
                _check_unique_remainder(
                    spark, path, uniq, folded, survivors, "the MERGE batch"
                )
        dv_seg = None
        if touched:
            dv_seg = _write_segment(
                _dv_hits(spark, path, props, touched, key_df, keys), path, 1
            )
            # reference the tombstone only when it kills rows — a pure
            # insert batch that merely stats-overlapped must not tax
            # every future read with an empty anti-join
            if _segment_empty(path, dv_seg):
                shutil.rmtree(_seg_path(path, dv_seg))
                dv_seg = None
        new_seg = _write_segment(folded, path, target_files)
        [(_, st)] = _stats_meta(_read_segments(spark, path, [new_seg]), [], [sk])
        meta = {new_seg: st}
        if dv_seg:
            meta[dv_seg] = {"dv": True, "dv_segs": list(touched)}
        out = {
            "segments": _carry(m) + [new_seg],
            "deletes": (list(m.get("deletes", [])) if m else [])
            + ([dv_seg] if dv_seg else []),
            "meta": meta,
            "props": _schema_props(spark, path, props, logical_changes),
        }
        if record_cdf:
            # the batch IS the delta: visible victims vs folded rows
            out.update(_record_victims(
                spark, path, m, touched, key_df, keys, _p0, logical_keys,
                new=_project_logical(
                    _read_segments(spark, path, [new_seg]), _p0
                ),
            ))
        return out

    return _commit(spark, path, "upsert_mor", build, tag=tag)


def manifest_append_sink(path: str, target_files: int | None = None):
    """foreachBatch function: EXACTLY-ONCE streaming append into the
    manifest lake. Each micro-batch commits as one atomic manifest
    version carrying the idempotency tag ``batch=<id>``; a replayed
    batch (at-least-once delivery after a crash between the commit and
    the checkpoint write) finds its tag in the cumulative tag set and
    skips — no double-append, no partial visibility (a crash before
    the manifest rename leaves only an invisible orphan segment).

    This is the missing half of the batch-dir sinks: readers of the
    manifest lake see each batch atomically and never need the
    maintenance-window rule; compaction/vacuum run concurrently."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = f"batch={batch_id}"
        if tag in committed_tags(spark, path):
            return  # replay of an already-committed batch
        commit_append(spark, path, batch_df, target_files=target_files, tag=tag)

    return _apply


def manifest_upsert_sink(
    path: str,
    keys: list[str],
    version_col: str,
    target_files: int | None = None,
):
    """foreachBatch function: EXACTLY-ONCE streaming MERGE into the
    manifest lake — the CDC-apply sink. Each micro-batch of change rows
    folds into the table via `commit_upsert` (SCD1 last-writer-wins on
    `keys` by `version_col`) in ONE atomic manifest version tagged
    ``upsert_batch=<id>``; a replayed batch (at-least-once delivery
    after a crash between commit and checkpoint write) is skipped by
    the cumulative tag set — and even a replay that races past the
    pre-check is absorbed inside the commit CAS, whose tag check runs
    on the freshly-read parent.

    This completes the streaming story: `manifest_append_sink` for
    insert-only feeds, this for keyed CDC streams (Debezium-shaped
    upserts), `feed_to_lake_sink` for lake→lake replication. Downstream
    readers always see a consistent keyed snapshot; `read_feed`
    consumers see each batch as one version delta."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = f"upsert_batch={batch_id}"
        if tag in committed_tags(spark, path):
            return  # replay of an already-committed batch
        commit_upsert(
            spark,
            path,
            batch_df,
            keys,
            version_col,
            target_files=target_files,
            tag=tag,
        )

    return _apply


# Commit ops whose single-step delta is EMPTY by construction: the
# logical snapshot is invariant across them. compact/compact_small
# consolidate the same rows (MoR tombstones either materialize in the
# read or carry forward — logical row set unchanged either way);
# cluster/cluster_incremental/cluster_partitioned rewrite the same rows
# in z-order; the set_*/drop_*/register ops commit parent["segments"]
# verbatim and only touch props. Schema-changing ops (rename_column,
# widen_type, drop_column) are deliberately NOT here — their steps run
# through the schema bridge like any other. Any new op added to this
# set must keep the row-preservation contract or feeds will silently
# skip its changes.
_IDENTITY_OPS = frozenset({
    "compact",
    "compact_small",
    "cluster",
    "cluster_incremental",
    "cluster_partitioned",
    "set_property",
    "set_unique",
    "set_constraint",
    "drop_constraint",
    "set_expectation",
    "drop_expectation",
    "set_generated",
    "register_catalog",
})


def _empty_diff(
    spark: SparkSession, props_to: dict, keys: list[str], include_values: bool
):
    """Typed empty (key..., op[, old, new]) frame matching what
    `_diff_frames` would emit for this schema, or None when the lake
    predates schema recording / the keys aren't all recorded columns
    (callers fall back to the join path, which raises the real
    diagnosis for a bad key)."""
    from pyspark.sql import types as T

    sch = props_to.get("schema")
    if not sch:
        return None
    cols = list(sch["cols"])
    by_name = dict(cols)
    if any(k not in by_name for k in keys):
        return None
    try:
        fields = [
            T.StructField(k, T._parse_datatype_string(by_name[k]))
            for k in keys
        ]
        fields.append(T.StructField("op", T.StringType()))
        if include_values:
            val = T.StructType(
                [
                    T.StructField(n, T._parse_datatype_string(t))
                    for n, t in cols
                    if n not in keys
                ]
            )
            fields.append(T.StructField("old", val))
            fields.append(T.StructField("new", val))
        return rows_frame(spark, [], T.StructType(fields))
    except Exception:
        return None  # unparseable recorded type: join path handles it


def snapshot_diff(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    include_values: bool = False,
    _m_to: dict | None = None,
) -> DataFrame:
    """Change data feed between two table versions: one row per changed
    key with op ∈ {insert, delete, update} — what a downstream
    incremental consumer (MV maintenance, replication, CDC export)
    reads INSTEAD of diffing full snapshots itself.

    ``include_values=True`` adds ``old`` / ``new`` structs of the
    non-key columns (NULL on the side that doesn't exist — old for
    inserts, new for deletes): the valued feed an incremental
    aggregate maintainer needs to RETRACT the old contribution and add
    the new one (operators/matview.py). Default stays keys+op — the
    replication/export consumers don't pay for values they re-read
    anyway.

    Shape: ONE null-safe full-outer join of the two snapshots on the
    key (both sides prune/pushdown as normal scans), per-column
    null-safe comparison for the update test — no row hashing, no
    driver state. At 100 TB: key-partition both reads (the snapshots
    share segment layout for untouched partitions, and AQE handles the
    usually-small changed side). Unchanged rows leave the plan at the
    join's filter — the output is O(changes).

    Column-mapped lakes: the two versions' LOGICAL schemas can
    disagree across a rename (the old snapshot would project the old
    name and the column-by-column diff would silently miss the
    renamed column's updates), so BOTH versions project through the
    TO-version's schema here — physical names are immutable, so the
    old snapshot's raw segments resolve under the new logical names
    exactly (`keys` are v_to's logical names). Columns dropped by
    v_to leave the diff, the current-schema CDC contract.

    RECORDED change data (r10, Delta _change_data parity): a writer
    that passed ``record_cdf=True`` (commit_upsert) stored this
    commit's valued delta as a change segment at write time — a
    single-step diff then READS it instead of re-scanning the rewrite
    width (O(changes) I/O, zero joins). The recorded frame was
    produced by the SAME `_diff_frames` core on the change-key-
    restricted inputs, so the two paths are interchangeable (pinned by
    a differential pytest); recorded files keep their write-time
    column names like Delta change files (a later rename recomputes
    post-hoc instead — the recorded fast path only serves single-step
    diffs whose schema matches v_to's)."""
    from pyspark.sql import functions as F

    # `_m_to` is a prefetched rollup entry (parent/props/cdf — see
    # _walk_entries): a feed walking a checkpointed history plans
    # every recorded step without re-reading its manifest
    if _m_to is not None:
        props_to = dict(_m_to.get("props", {}) or {})
        par_to = _m_to.get("parent") or 0
        cdf_seg = _m_to.get("cdf")
        op_to = _m_to.get("op")
    else:
        m_to = _read_manifest(spark, path, v_to)
        props_to = dict(m_to.get("props", {}))
        par_to = m_to.get("parent") or 0
        cdf_seg = m_to.get("cdf")
        op_to = m_to.get("op")
    # "single step" = v_from is v_to's recorded PARENT, not v_to-1:
    # WAP/branch publishes skip version numbers, and the recorded
    # segment captures exactly the parent→v_to delta
    if v_from == par_to and cdf_seg:
        rec = spark.read.parquet(f"{path}/{_CDF_DIR}/{cdf_seg}")
        sch = props_to.get("schema")
        want = set(keys) | {"op", "old", "new"}
        cols_ok = set(rec.columns) == want and (
            sch is None
            or [f.name for f in rec.schema["old"].dataType.fields]
            == [n for n, _ in sch["cols"] if n not in keys]
        )
        if cols_ok:
            if include_values:
                return rec.select(*keys, "op", "old", "new")
            return rec.select(*keys, "op")

    # identity-op fast path (r12, guide §2.4 — remove shuffles outright):
    # maintenance and metadata commits preserve the LOGICAL snapshot by
    # construction (compact/cluster rewrite the same rows; set_*/drop_*
    # touch only props), so their single-step delta is provably empty —
    # emit a typed empty frame instead of full-outer-joining two complete
    # snapshots of the table. Only fires for a single step against the
    # recorded parent and only when the schema is recorded (the empty
    # frame needs exact key/value types); otherwise the join path runs.
    if v_from == par_to and op_to in _IDENTITY_OPS:
        empty = _empty_diff(spark, props_to, keys, include_values)
        if empty is not None:
            return empty

    def _snap(version: int) -> DataFrame:
        if not _has_colmap(props_to):
            return read_snapshot(spark, path, version=version)
        m = _read_manifest(spark, path, version)
        if not m["segments"]:
            sch = props_to.get("schema")
            ddl = ", ".join(f"{n} {t}" for n, t in sch["cols"]) if sch else ""
            return rows_frame(spark, [], ddl)
        raw = _read_with_tombstones(
            spark, path, m["segments"], m, merge_schema=True
        )
        return _project_logical(raw, props_to)

    b_frame = _snap(v_to)
    if v_from == 0:  # version 0 = the empty table before the first commit
        # bootstrap fast path (r12, guide §2.4): diffing against the
        # empty table classifies EVERY row as an insert — project the
        # snapshot directly instead of full-outer-joining it against an
        # empty frame (the join shuffled the whole snapshot; identical
        # output row-for-row, each row once, dup keys included)
        val_cols = [c for c in b_frame.columns if c not in keys]
        extra = []
        if include_values:
            new_struct = F.struct(*[b_frame[c].alias(c) for c in val_cols])
            # typed NULL of the same struct (old never exists for inserts)
            extra = [
                F.when(F.lit(False), new_struct).alias("old"),
                new_struct.alias("new"),
            ]
        return b_frame.select(
            *[b_frame[k].alias(k) for k in keys],
            F.lit("insert").alias("op"),
            *extra,
        )
    a_frame = _snap(v_from)
    return _diff_frames(a_frame, b_frame, keys, include_values)


def _diff_frames(
    a_frame: DataFrame,
    b_frame: DataFrame,
    keys: list[str],
    include_values: bool,
) -> DataFrame:
    """The diff core `snapshot_diff` and the write-time CDF recorder
    share: one null-safe full-outer join of old-vs-new on the keys,
    per-column null-safe change test, (key..., op[, old, new]) out —
    unchanged rows leave the plan."""
    from pyspark.sql import functions as F

    a = a_frame.withColumn("__in_a", F.lit(1))
    b = b_frame.withColumn("__in_b", F.lit(1))
    val_cols = [c for c in b.columns if c not in keys and c != "__in_b"]
    cond = None
    for k in keys:
        c = a[k].eqNullSafe(b[k])
        cond = c if cond is None else (cond & c)
    j = a.join(b, cond, "full_outer")
    changed = None
    for c in val_cols:
        if c in a.columns:
            d = ~a[c].eqNullSafe(b[c])
            changed = d if changed is None else (changed | d)
    op = (
        F.when(a["__in_a"].isNull(), F.lit("insert"))
        .when(b["__in_b"].isNull(), F.lit("delete"))
        .when(changed if changed is not None else F.lit(False), F.lit("update"))
    )
    out_keys = [F.coalesce(a[k], b[k]).alias(k) for k in keys]
    extra = []
    if include_values:
        old_struct = F.when(
            a["__in_a"].isNotNull(),
            F.struct(
                *[
                    (a[c] if c in a.columns else F.lit(None)).alias(c)
                    for c in val_cols
                ]
            ),
        )
        new_struct = F.when(
            b["__in_b"].isNotNull(),
            F.struct(*[b[c].alias(c) for c in val_cols]),
        )
        extra = [old_struct.alias("old"), new_struct.alias("new")]
    return (
        j.select(*out_keys, op.alias("op"), *extra)
        .filter(F.col("op").isNotNull())
    )


def _record_change_segment(
    spark: SparkSession,
    path: str,
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
) -> dict:
    """Write a commit's valued delta (`old` -> `new` on `keys`, LOGICAL
    names — the snapshot_diff contract) as a write-time change segment
    under ``cdf/``; returns the manifest extra that records it."""
    seg = f"seg-{uuid.uuid4().hex[:12]}"
    _lake_writer(
        _diff_frames(old, new, list(keys), include_values=True)
    ).parquet(f"{path}/{_CDF_DIR}/{seg}")
    return {"cdf": seg}


def _identity_chain(
    spark: SparkSession,
    path: str,
    versions: list[int],
    entries: dict | None = None,
):
    """{version: {logical_name: identity_token}} across the retained
    history — the column-identity ledger the schema-bridged feed needs.
    Identity threads by PHYSICAL name within a column-mapping epoch
    (renames keep the physical) and by LOGICAL name across a
    materializing rewrite (a colmap-clearing full MERGE rehomes
    physicals to the current logicals but never renames logically —
    detected as parent-mapped → version-unmapped). Columns with no
    match in the parent mint fresh tokens (added columns). A version
    that predates schema recording maps to None and breaks the chain
    (its steps fall back to caller-name diffs)."""
    if entries is None:
        entries = _walk_entries(spark, path, versions)
    out: dict = {}
    prev = None  # (by_logical, by_physical, was_mapped)
    counter = [0]
    for v in versions:
        props = dict(entries[v]["props"])
        trip = _props_triples(props)
        if trip is None:
            out[v] = None
            prev = None
            continue
        v_mapped = _has_colmap(props)
        boundary = prev is not None and prev[2] and not v_mapped
        by_log: dict = {}
        by_phys: dict = {}
        for n, t, p in trip:
            ident = None
            if prev is not None:
                if boundary:  # logical survives the rehoming
                    ident = prev[0].get(n) or prev[1].get(p)
                else:
                    ident = prev[1].get(p) or prev[0].get(n)
            if ident is None:
                ident = f"c{counter[0]}"
                counter[0] += 1
            by_log[n] = ident
            by_phys[p] = ident
        out[v] = by_log
        prev = (by_log, by_phys, v_mapped)
    return out


def _feed_step(
    spark: SparkSession,
    path: str,
    v: int,
    par: int,
    keys: list[str],
    include_values: bool,
    cur_trip,
    cur_map,
    step_map,
    trip_v=None,
    entry: dict | None = None,
) -> DataFrame:
    """One version step of the feed, emitted under the CURRENT logical
    schema (r11 — the batch-side twin of the stream's schema bridge):
    the caller's keys translate to the step's logical names through
    the COLUMN-IDENTITY chain (`_identity_chain` — a key renamed
    mid-history, even across a colmap-materializing rewrite, no longer
    breaks the feed with a raw unresolved-column error), the step's
    diff runs under its own names — so a write-time recorded change
    segment still serves it — and the key columns plus old/new struct
    fields rename/cast/null-fill back to the current schema so the
    union across steps is well-typed. A key column that did not EXIST
    at the step (added later) has no row identity there and raises the
    real diagnosis."""
    from pyspark.sql import functions as F

    if cur_trip is None or not cur_map or not step_map:
        return snapshot_diff(
            spark, path, par, v, keys, include_values, _m_to=entry
        )
    at_step = {i: n for n, i in step_map.items()}
    step_keys = []
    for k in keys:
        ident = cur_map.get(k)
        sk = at_step.get(ident) if ident is not None else None
        if sk is None:
            raise ValueError(
                f"read_feed: key column {k!r} does not exist at version "
                f"{v} of {path} (added later) — rows there have no "
                "identity under it; start the feed at a version where "
                "every key column exists"
            )
        step_keys.append(sk)
    d = snapshot_diff(
        spark, path, par, v, step_keys, include_values, _m_to=entry
    )
    for sk, k in zip(step_keys, keys):
        if sk != k:
            d = d.withColumnRenamed(sk, k)
    if not include_values:
        return d
    if trip_v is None:
        trip_v = _props_triples(
            dict(_read_manifest(spark, path, v).get("props", {}))
        )
    val_now = [(n, t) for n, t, _ in cur_trip if n not in keys]
    step_vals = [(n, t) for n, t, _ in trip_v if n not in step_keys]
    if val_now == step_vals:
        return d  # identical value schema: structs pass through
    field_at_step = {
        n: at_step.get(cur_map.get(n)) for n, _ in val_now
    }
    step_val_names = {n for n, _ in step_vals}
    for side in ("old", "new"):
        d = d.withColumn(
            side,
            F.when(
                F.col(side).isNotNull(),
                F.struct(*[
                    (
                        F.col(f"{side}.{field_at_step[n]}").cast(t).alias(n)
                        if field_at_step.get(n) in step_val_names
                        else F.lit(None).cast(t).alias(n)
                    )
                    for n, t in val_now
                ]),
            ),
        )
    return d


def _feed_stepper(
    spark: SparkSession,
    path: str,
    versions: list[int],
    entries: dict,
    keys: list[str],
    include_values: bool,
):
    """The per-version body of `read_feed` and `consume_feed`:
    ``step(v)`` is version v's (key..., op[, old, new], version) delta
    against its recorded parent (``entries[v]``), emitted under the
    CURRENT logical schema. Each caller keeps its own retention guard.

    A step whose LOGICAL schema (names+types) equals the current one is
    a plain `snapshot_diff` — diffs run in logical space, so physical
    drift alone needs no bridge; any other step goes through
    `_feed_step`'s identity bridge. The identity chain over `versions`
    builds LAZILY: a rename-free history — every step's schema equals
    the current — never pays for it (the common case); when it does
    build, it too walks the rollup."""
    from pyspark.sql import functions as F

    cur_trip = _props_triples(_latest_props(spark, path))

    @functools.cache
    def _maps():
        ch = _identity_chain(
            spark, path, versions, entries=_walk_entries(spark, path, versions)
        )
        return ch.get(versions[-1]) if versions else None, ch

    def step(v: int) -> DataFrame:
        e = entries[v]
        trip_v = _props_triples(e["props"])
        same_logical = trip_v is not None and cur_trip is not None and [
            (n, t) for n, t, _ in trip_v
        ] == [(n, t) for n, t, _ in cur_trip]
        if cur_trip is None or same_logical:
            d = snapshot_diff(
                spark, path, e["parent"], v, keys,
                include_values=include_values, _m_to=e,
            )
        else:
            cur_map, ch = _maps()
            d = _feed_step(
                spark, path, v, e["parent"], keys, include_values,
                cur_trip, cur_map, ch.get(v), trip_v=trip_v, entry=e,
            )
        return d.withColumn("version", F.lit(v))

    return step


def read_feed(
    spark: SparkSession,
    path: str,
    keys: list[str],
    v_from: int,
    v_to: int | None = None,
    include_values: bool = False,
) -> DataFrame:
    """Change data feed for every commit in (v_from, v_to]: the batch
    twin of `consume_feed` — one (key..., op, version) row per change,
    one `snapshot_diff` per version step so each change attributes to
    the commit that made it. ``include_values=True`` adds the old/new
    structs (consume_feed parity — Delta readChangeFeed's batch form);
    recorded change segments serve their steps either way.
    ``v_from=0`` means "from the beginning" (the first commit's rows
    all surface as inserts). Raises if a needed manifest was vacuumed
    — an incremental consumer that fell behind retention must
    re-bootstrap from a full snapshot, not silently skip changes."""
    from functools import reduce

    versions = _manifest_versions(spark, path)
    if v_to is None:
        v_to = versions[-1] if versions else 0
    # iterate the versions that EXIST in (v_from, v_to] and diff each
    # against its recorded PARENT — numbering may skip (WAP publish),
    # so a dense range would fabricate "vacuumed" versions. A REAL
    # retention gap is a parent that is neither 0 nor present.
    have = set(versions)
    in_range = [v for v in versions if v_from < v <= v_to]
    # rollup-served walk (VERDICT r11 #2): parent/props/cdf for every
    # step come from ONE checkpoint read + the post-checkpoint suffix,
    # not a KB manifest read per version
    entries = _walk_entries(spark, path, in_range)
    step = _feed_stepper(spark, path, versions, entries, keys, include_values)
    parts = []
    for v in in_range:
        par = entries[v]["parent"]
        if par and par not in have:
            raise ValueError(
                f"feed range ({v_from}, {v_to}] crosses vacuumed version "
                f"{par}: re-bootstrap from a snapshot ({path})"
            )
        parts.append(step(v))
    if not parts:
        raise ValueError(f"empty feed range ({v_from}, {v_to}]: {path}")
    return reduce(lambda x, y: x.unionByName(y), parts)


def consume_feed(
    spark: SparkSession,
    path: str,
    keys: list[str],
    state_path: str,
    process,
    max_versions: int | None = None,
    include_values: bool = False,
) -> int:
    """Incremental change-feed consumer with a checkpointed high-water
    version — the AvailableNow-trigger shape over the manifest lake's
    CDF (the streaming half of `snapshot_diff`; mirrors the
    python_datasource streamReader pattern of offset-checkpointed
    pull). Per new commit: compute its delta (`snapshot_diff(v-1, v)`),
    call ``process(delta_df, v)``, then advance the checkpoint
    ATOMICALLY (tmp write + rename). Returns versions processed.

    Delivery contract: a crash between `process` and the checkpoint
    write redelivers that version (at-least-once); a `process` that
    lands its output with an idempotency token — e.g.
    ``commit_append(..., tag=f"feed={version}")`` into a downstream
    manifest lake — is exactly-once end-to-end, the same tag discipline
    as `manifest_append_sink`. One consumer per `state_path` (the
    checkpoint is last-writer-wins by design, like a streaming query's
    checkpoint dir).

    The checkpoint goes through the manifest store like the lake's own
    metadata, so `state_path` may live on hdfs/s3a/gcs next to the
    lake, not just driver-local disk; the commit point is
    `manifest_store.write_replace` (a tmp write + atomic replace —
    last-writer-wins is the declared contract)."""
    state_file = f"{state_path}/high_water.json"
    try:
        hw = int(store.read_json(state_file, spark)["version"])
    except FileNotFoundError:
        hw = 0
    latest = current_version(spark, path) or 0
    done = 0
    all_versions = _manifest_versions(spark, path)
    have = set(all_versions)
    # rollup-served walk (VERDICT r11 #2): ONE checkpoint read + the
    # post-checkpoint suffix instead of a KB manifest read per version
    entries = _walk_entries(
        spark, path, [v for v in all_versions if hw < v <= latest]
    )
    step = _feed_stepper(
        spark, path, all_versions, entries, keys, include_values
    )
    # actual versions only — numbering may skip (WAP publish); each
    # version diffs against its recorded parent and emits under the
    # CURRENT logical schema (see _feed_stepper)
    for v in all_versions:
        if not (hw < v <= latest):
            continue
        if max_versions is not None and done >= max_versions:
            break
        par = entries[v]["parent"]
        # retention-gap guard BEFORE serving (read_feed's rule): the
        # version's parent must be 0, at-or-below the checkpoint
        # (continuity — those changes were already consumed), or a
        # surviving version (served earlier in this walk). A parent
        # strictly inside the unconsumed range whose manifest was
        # vacuumed means that window's changes are GONE — advancing
        # the checkpoint past it would silently drop them, and the
        # recorded-CDF fast path in snapshot_diff would otherwise
        # serve the surviving step without ever probing the parent.
        if par and par > hw and par not in have:
            raise ValueError(
                f"consume_feed: versions in ({hw}, {v}) were vacuumed "
                f"(version {v}'s parent {par} is gone): re-bootstrap "
                f"from a snapshot ({path})"
            )
        # same (key..., op, version) schema as read_feed
        process(step(v), v)
        store.write_replace(state_file, {"version": v}, spark)  # the commit point
        done += 1
    return done


def backfill_snapshot_chunks(
    spark: SparkSession,
    path: str,
    process,
    state_path: str,
    chunk_segments: int = 8,
) -> int:
    """Chunked-backlog bootstrap for the manifest stream. The Python
    DataSource API has no admission control (SCALE.md records
    per-trigger caps as a non-feature: latestOffset never sees the
    start offset), so a fresh stream over a settled 100 TB lake would
    plan ONE giant initial batch. Operational equivalent, in one call
    via `lake_stream.stream_after_backfill`:

    (1) pin V = the current version and read snapshot V in BOUNDED
        chunks of at most `chunk_segments` segments each (segment list
        of a pinned version is immutable, so chunk boundaries are
        stable across crashes); pending MoR tombstones apply per chunk
        and column mapping projects per chunk — each chunk df is
        exactly a slice of ``read_snapshot(version=V)``;
    (2) call ``process(chunk_df, chunk_index, n_chunks)`` per chunk and
        advance the checkpointed chunk index ATOMICALLY after each
        (same tmp-write + rename state layout as `consume_feed`; a
        crash between process and checkpoint redelivers ONE chunk —
        at-least-once, and an idempotency-tagged process, e.g.
        ``commit_append(..., tag=f"backfill={i}")``, is exactly-once);
    (3) return V: commits in (V, ...] are the STREAM's to deliver
        under ``starting_version=V+1`` — seamless handoff, nothing
        delivered twice, nothing skipped.

    Re-entry with the same `state_path` resumes after the last
    checkpointed chunk; a completed backfill returns V immediately
    (zero chunks re-processed). The pinned version must stay within
    vacuum retention for the duration of the backfill — size
    `keep_versions`/retain-hours accordingly (the usual CDC-bootstrap
    contract)."""
    state_file = f"{state_path}/backfill.json"
    try:
        state = store.read_json(state_file, spark)
    except FileNotFoundError:
        v = current_version(spark, path)
        if v is None:
            raise ValueError(f"cannot backfill an empty manifest lake: {path}")
        state = {"version": int(v), "done": 0}
    v = int(state["version"])
    done = int(state["done"])
    m = _read_manifest(spark, path, v)  # raises _if_ vacuumed past V
    props = dict(m.get("props", {}))
    segs = list(m["segments"])
    chunks = [
        segs[i : i + chunk_segments]
        for i in range(0, len(segs), chunk_segments)
    ] or [[]]
    for i in range(done, len(chunks)):
        group = chunks[i]
        if group:
            df = _read_with_tombstones(spark, path, group, m, merge_schema=True)
            df = _project_logical(df, props)
            process(df, i, len(chunks))
        # the commit point
        store.write_replace(state_file, {"version": v, "done": i + 1}, spark)
    return v


def feed_to_lake_sink(spark: SparkSession, dst_path: str, target_files: int | None = None):
    """`process` function for `consume_feed` that lands each version's
    delta in a downstream manifest lake with the ``feed=<version>``
    idempotency tag — redelivered versions find their tag and skip, so
    the source-lake → CDF → destination-lake pipeline is exactly-once
    under any crash/replay (the CDC-export twin of
    `manifest_append_sink`)."""

    def _apply(delta: DataFrame, version: int) -> None:
        commit_append(
            spark, dst_path, delta, target_files=target_files,
            tag=f"feed={version}",
        )

    return _apply


def current_version(spark: SparkSession, path: str) -> int | None:
    versions = _manifest_versions(spark, path)
    return versions[-1] if versions else None


def version_as_of_timestamp(spark: SparkSession, path: str, ts: float) -> int:
    """The newest version whose commit timestamp is <= `ts` (epoch
    seconds) — Delta's ``timestampAsOf`` resolution. Commit timestamps
    are clamped monotone at write time, so a linear scan over the
    retained manifests (KB-sized JSON each) is exact. Raises when `ts`
    predates the oldest RETAINED commit: vacuum may have dropped the
    manifest that covered it, and silently answering with a later
    snapshot would misattribute history."""
    versions = _manifest_versions(spark, path)
    if not versions:
        raise ValueError(f"no committed manifest under {path}")
    entries = _walk_entries(spark, path, versions)  # rollup-served
    best: int | None = None
    for v in versions:
        if entries[v]["ts"] <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the oldest retained commit of {path} "
            f"(v{versions[0]}); the covering manifest may have been vacuumed"
        )
    return best


def history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per retained commit — version, parent,
    op, commit timestamp, live segment/tombstone counts, plus the
    operation metrics derivable from segment metadata (Delta
    operationMetrics parity): segments added/removed vs the parent and
    the added ROW count where the new segments carry `rows` stats
    (NULL where any added segment is uncounted — honest, never a
    guess). Driver-side over the KB manifests (never data-scale),
    returned as a DataFrame so it composes with SQL like any table."""
    versions = _manifest_versions(spark, path)
    rows = []
    prev_segs: set = set()
    by_version: dict[int, dict] = {}
    for v in versions:
        m = _read_manifest(spark, path, v)
        by_version[v] = m
        # the parent may be vacuumed: fall back to the previous
        # RETAINED version's segment set (metrics then span the gap)
        parent = m.get("parent")
        base = set(
            by_version[parent]["segments"]
        ) if parent in by_version else prev_segs
        cur = set(m.get("segments", []))
        added = cur - base
        meta = m.get("meta", {})
        counts = [meta.get(s, {}).get("rows") for s in added]
        rows_added = (
            sum(int(c) for c in counts)
            if added and all(c is not None for c in counts)
            else None
        )
        rows.append(
            (
                v,
                parent,
                str(m.get("op", "")),
                float(m.get("ts", 0.0)),
                len(cur),
                len(m.get("deletes", [])),
                len(added),
                len(base - cur),
                rows_added,
            )
        )
        prev_segs = cur
    return rows_frame(
        spark,
        rows,
        "version int, parent int, op string, ts double, "
        "n_segments int, n_tombstones int, "
        "segments_added int, segments_removed int, rows_added bigint",
    )


def files(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Metadata table (Iceberg ``table.files`` analog): one row per
    live segment with its partition tags, stat'd columns, bloom'd
    columns, commit sequence, and row count. Everything except
    ``n_rows`` comes from the KB-sized manifest alone; row counts are
    parquet FOOTER sums (``count(*)`` compiles to a metadata-only
    LocalTableScan per segment — no data pages read)."""
    from functools import reduce

    from pyspark.sql import functions as F

    if version is None:
        version = current_version(spark, path)
        if version is None:
            raise ValueError(f"no commits: {path}")
    m = _read_manifest(spark, path, version)
    meta = m.get("meta", {})
    schema_ddl = (
        "segment string, part string, stats_cols array<string>, "
        "bloom_cols array<string>, seq int, n_rows bigint"
    )
    # a zero-segment manifest is legal (e.g. set_constraint as the
    # first commit on an empty lake): no counts job, empty table out
    if not m["segments"]:
        return rows_frame(spark, [], schema_ddl)
    # ONE job for every segment's row count: a union of per-segment
    # count aggregates — each subtree is a footer-only count, and they
    # run as parallel stages of a single action instead of O(segments)
    # sequential driver round-trips
    counts_df = reduce(
        lambda a, b: a.unionByName(b),
        [
            _read_segments(spark, path, [s])
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(s).alias("segment"), "n")
            for s in m["segments"]
        ],
    )
    counts = {r["segment"]: int(r["n"]) for r in counts_df.collect()}
    rows = []
    for s in m["segments"]:
        sm = meta.get(s, {})
        rows.append(
            (
                s,
                json.dumps(sm.get("part", {}), sort_keys=True),
                sorted(sm.get("stats", {}).keys()),
                sorted(sm.get("bloom", {}).keys()),
                int(sm.get("seq", 0)),
                counts[s],
            )
        )
    return rows_frame(spark, rows, schema_ddl)


def describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL (Delta parity): one row with the table's
    current version, commit timestamp, segment/tombstone counts, total
    live bytes (filesystem metadata walk — no data read), recorded
    schema DDL, constraint count, and partition-tag columns in use."""
    version = current_version(spark, path)
    if version is None:
        raise ValueError(f"no commits: {path}")
    m = _read_manifest(spark, path, version)
    meta = m.get("meta", {})
    props = m.get("props", {})
    fs, _ = _fs(spark, path)
    total = 0
    for s in list(m["segments"]) + list(m.get("deletes", [])):
        p = _jpath(spark, _seg_path(path, s))
        if fs.exists(p):
            total += fs.getContentSummary(p).getLength()
    part_cols = sorted(
        {c for s in m["segments"] for c in meta.get(s, {}).get("part", {})}
    )
    ndv_cols = sorted(
        {c for s in m["segments"] for c in meta.get(s, {}).get("ndv", {})}
    )
    sch = props.get("schema")
    ddl = ", ".join(f"{n} {t}" for n, t in sch["cols"]) if sch else None
    return rows_frame(
        spark,
        [
            (
                version,
                float(m.get("ts", 0.0)),
                m.get("op"),
                len(m["segments"]),
                len(m.get("deletes", [])),
                total,
                ddl,
                len(props.get("constraints", {})),
                part_cols,
                ndv_cols,
            )
        ],
        "version int, ts double, last_op string, n_segments int, "
        "n_tombstones int, size_bytes bigint, schema string, "
        "n_constraints int, partition_cols array<string>, "
        "ndv_cols array<string>",
    )


def partitions(spark: SparkSession, path: str) -> DataFrame:
    """Metadata table (``table.partitions``): per partition-tag value,
    segment and row counts — the partition census a maintenance job
    reads to find skew/small-partition compaction targets. Untagged
    segments aggregate under the empty tag '{}'."""
    from pyspark.sql import functions as F

    return (
        files(spark, path)
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


def _state_meta(target: dict) -> dict:
    """A manifest's per-segment metadata for restore/clone carries,
    with missing ``seq`` pinned to 0 (= oldest, the pre-feature
    reading) so `_commit`'s new-segment seq stamping can't reinterpret
    an old segment as newer than the tombstones that mask it."""
    meta = dict(target.get("meta", {}))
    out = {}
    for s in list(target["segments"]) + list(target.get("deletes", [])):
        m = dict(meta.get(s, {}))
        m.setdefault("seq", 0)
        out[s] = m
    return out


def restore(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    ts: float | None = None,
    record_cdf: bool = False,
    cdf_keys: list[str] | None = None,
) -> int:
    """RESTORE TABLE — roll the table back (or forward) to a prior
    version's state as a NEW commit: metadata-only (the target's
    segment/tombstone lists and their metadata are re-published
    verbatim), zero data movement, history preserved — a mistaken
    restore is itself restorable. Delta parity: ``RESTORE TABLE t TO
    VERSION AS OF v`` / ``TIMESTAMP AS OF ts``.

    Safety: the target manifest must still be retained (reading it
    raises otherwise), and vacuum keeps every segment a retained
    manifest references — so a restorable version's data is present by
    the retention invariant, no existence probe needed.

    Table properties are NOT restored (Delta parity): the latest
    schema and CHECK constraints stay in force, and restored rows are
    not re-validated against constraints added after the target
    version — re-run the constraint's expression over the snapshot if
    the rollback must prove compliance. A write racing the restore
    resolves by version order (the restore SETS the table state —
    last writer wins, Delta RESTORE semantics).

    ``record_cdf=True`` stores the rollback's valued delta (state at
    the parent vs state at the target) as a write-time change segment
    so downstream CDF consumers fold the restore as ordinary
    retractions+inserts instead of re-diffing two snapshots. Row
    identity comes from ``cdf_keys`` (default: the declared UNIQUE
    key; raises if neither exists). Documented trades: the otherwise
    metadata-only commit now reads both snapshots once (the diff a
    downstream consumer would otherwise run per-consumer), and the
    recorded delta depends on the parent state, so it is computed in
    the commit's build on the parent the restore lands on (plain
    restore keeps its raceless last-writer-wins). Refused across a
    schema change between the two versions (the recorded frame must
    carry the CURRENT schema, which restore keeps in force)."""
    if (version is None) == (ts is None):
        raise ValueError("restore: pass exactly one of version= / ts=")
    if ts is not None:
        version = version_as_of_timestamp(spark, path, ts)
    target = _read_manifest(spark, path, version)  # raises if vacuumed
    state = {
        "segments": list(target["segments"]),
        "meta": _state_meta(target),
        "deletes": list(target.get("deletes", [])),
    }
    if not record_cdf:
        return _commit(spark, path, "restore", lambda parent: state)
    cdf_keys = list(cdf_keys) if cdf_keys else unique_key(spark, path)
    if not cdf_keys:
        raise ValueError(
            "restore(record_cdf=True) needs row identity: pass cdf_keys= "
            "or declare a UNIQUE key on the lake"
        )

    def build(parent):
        old_r = read_snapshot(spark, path, version=_version(parent))
        new_r = read_snapshot(spark, path, version=version)
        if old_r.dtypes != new_r.dtypes:
            # (name, type) pairs, not names alone: a type widening
            # between target and current would otherwise pass, and the
            # recorded delta's old/new structs would carry field types
            # disagreeing with the current schema — a recording the
            # name-only bridge check would still serve, wrongly
            raise ValueError(
                "restore(record_cdf=True) across a schema change "
                f"(parent schema {old_r.dtypes} vs target "
                f"{new_r.dtypes}) — restore without recording and let "
                "consumers fall back to the computed diff"
            )
        return {
            **state,
            **_record_change_segment(spark, path, old_r, new_r, cdf_keys),
        }

    return _commit(spark, path, "restore", build)


def clone(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    version: int | None = None,
    deep: bool = False,
) -> int:
    """CLONE a table version into a fresh lake. Shallow (default):
    the new manifest references the source's segment files by ABSOLUTE
    path — a zero-copy, KB-sized commit; writes to the clone land as
    normal local segments next to the absolute references, and
    maintenance (compact / z-order) rewrites references into local
    segments, detaching the clone over time. Delta-parity caveat,
    same as Delta shallow clones: `vacuum` on the SOURCE doesn't know
    about clones — run it only past every clone's lifetime, or clone
    deep. Deep: segment directories are copied byte-for-byte into the
    clone's own data dir (same names — the destination is fresh), so
    the clone is fully self-contained.

    The destination must be empty: a clone is a table-create, not a
    merge (mirror of Delta's CREATE TABLE ... CLONE)."""
    if current_version(spark, dst_path) is not None:
        raise ValueError(f"clone destination already has commits: {dst_path}")
    if version is None:
        version = current_version(spark, src_path)
        if version is None:
            raise ValueError(f"clone source has no commits: {src_path}")
    target = _read_manifest(spark, src_path, version)
    src_meta = _state_meta(target)

    if deep:
        # Re-home EVERY reference under a fresh LOCAL segment name. A
        # source manifest can hold absolute references (the source is
        # itself a shallow clone); keeping the absolute string in the
        # new manifest would leave the "deep" clone reading the
        # ORIGINAL files while the byte copy landed at an unreferenced
        # mangled path — the clone would not survive a source vacuum,
        # which is the whole point of deep. Plain names keep their
        # name; absolute refs take their basename (uniquified on
        # collision — two upstream lakes can share a segment name).
        all_refs = list(target["segments"]) + list(target.get("deletes", []))
        local: dict[str, str] = {}
        used: set[str] = set()
        for s in all_refs:
            base = s.rstrip("/").split("/")[-1] if _is_abs_ref(s) else s
            name = base
            while name in used:
                name = f"{base}-{uuid.uuid4().hex[:8]}"
            used.add(name)
            local[s] = name
        dst_fs, _ = _fs(spark, dst_path)
        FileUtil = spark._jvm.org.apache.hadoop.fs.FileUtil
        conf = spark._jsc.hadoopConfiguration()
        dst_fs.mkdirs(_jpath(spark, f"{dst_path}/{_DATA_DIR}"))
        for s in all_refs:
            src_seg = _seg_path(src_path, s)
            # the source segment may live on a DIFFERENT filesystem
            # than the destination (absolute ref into another store)
            src_fs, src_jp = _fs(spark, src_seg)
            ok = FileUtil.copy(
                src_fs,
                src_jp,
                dst_fs,
                _jpath(spark, f"{dst_path}/{_DATA_DIR}/{local[s]}"),
                False,
                conf,
            )
            if not ok:
                raise RuntimeError(f"deep clone failed copying segment {s}")

        def ref(s: str) -> str:
            return local[s]

    else:

        def ref(s: str) -> str:
            return _seg_path(src_path, s)

    return _commit(
        spark,
        dst_path,
        "clone",
        _create(
            dst_path,
            {
                "segments": [ref(s) for s in target["segments"]],
                "meta": {ref(s): m for s, m in src_meta.items()},
                "deletes": [ref(s) for s in target.get("deletes", [])],
                # table properties travel with the clone (CREATE TABLE
                # CLONE copies properties): schema enforcement and CHECK
                # constraints keep applying to writes against the clone
                "props": dict(target.get("props", {})),
            },
        ),
    )


def _create(path: str, state: dict):
    """`build` for a table-create commit (clone, branch fork): commits
    `state` on an EMPTY lake only — a writer racing the create into the
    same destination fails it with CommitConflict, it is never silently
    replaced."""

    def build(parent):
        if parent is not None:
            raise CommitConflict(
                f"expected parent v0, latest is v{parent['version']}: {path}"
            )
        return state

    return build


# ----------------------------------------------------------------------
# Branches + write-audit-publish (WAP). A branch is a full lake rooted
# at ``{path}/_branches/{name}`` whose v1 is a SHALLOW clone of main
# (absolute refs — zero copy), stamped with the fork version. Writers
# append/merge/delete on the branch; audits (expectations, checksums)
# read the branch; ``publish_branch`` FAST-FORWARDS main to the branch
# head in one CAS commit — refs into main's own data dir fold back to
# plain names (zero copy), branch-local segments (the audited new data)
# are copied in, so a crash or CAS loss leaves main untouched and the
# branch intact (orphaned copies are vacuumable). The Iceberg
# write-audit-publish pattern re-expressed on this manifest format.
#
# Caveats (documented, not silent): publish is fast-forward-only — if
# main advanced past the fork, publish raises CommitConflict and the
# writer re-branches and replays (rebase is the caller's policy);
# idempotency tags do not cross the branch boundary; `vacuum` on main
# during a branch's lifetime can reclaim fork-version segments the
# branch still references (the shallow-clone retention caveat — keep
# WAP windows shorter than vacuum retention).
# ----------------------------------------------------------------------

_BRANCH_DIR = "_branches"


def branch_path(path: str, name: str) -> str:
    if not name or not all(ch.isalnum() or ch in "-_." for ch in name):
        raise ValueError(f"invalid branch name: {name!r}")
    return f"{path}/{_BRANCH_DIR}/{name}"


def create_branch(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> str:
    """Fork `path` at `version` (default: latest) into a writable
    branch lake; returns the branch root (pass it to any lake op).
    KB-sized commit — segments are absolute references into main."""
    bpath = branch_path(path, name)
    if current_version(spark, bpath) is not None:
        raise ValueError(f"branch already exists: {name} ({bpath})")
    if version is None:
        version = current_version(spark, path)
        if version is None:
            raise ValueError(f"cannot branch an empty lake: {path}")
    target = _read_manifest(spark, path, version)
    props = dict(target.get("props", {}))
    props["wap_fork"] = {"src": path, "version": int(version)}
    state = {
        "segments": [_seg_path(path, s) for s in target["segments"]],
        "meta": {_seg_path(path, s): m for s, m in _state_meta(target).items()},
        "deletes": [_seg_path(path, s) for s in target.get("deletes", [])],
        "props": props,
    }
    _commit(
        spark,
        bpath,
        "branch-fork",
        _create(bpath, state),
        # the branch CONTINUES main's version numbering (its first
        # commit mirrors the fork version) so merge-on-read seq fences
        # stay totally ordered across branch and publish
        min_version=int(version),
    )
    return bpath


def list_branches(spark: SparkSession, path: str) -> list[str]:
    fs, jp = _fs(spark, f"{path}/{_BRANCH_DIR}")
    if not fs.exists(jp):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(jp) if st.isDirectory()
    )


def drop_branch(spark: SparkSession, path: str, name: str) -> None:
    fs, jp = _fs(spark, branch_path(path, name))
    fs.delete(jp, True)


def publish_branch(
    spark: SparkSession,
    path: str,
    name: str,
    keep_branch: bool = False,
) -> int:
    """Fast-forward main to the branch head (ONE CAS commit on main).
    Zero-copy for segments main already owns; branch-local segments
    (the branch's new/rewritten data) copy into main's data dir first,
    so the commit point is atomic and a lost CAS leaves only
    vacuumable orphans. Raises CommitConflict if main advanced past
    the fork version."""
    bpath = branch_path(path, name)
    bv = current_version(spark, bpath)
    if bv is None:
        raise ValueError(f"no such branch: {name} ({bpath})")
    bm = _read_manifest(spark, bpath, bv)
    props = dict(bm.get("props", {}))
    fork = props.pop("wap_fork", None)
    if not fork or fork.get("src") != path:
        raise ValueError(
            f"branch {name} carries no fork stamp for {path} — not a "
            "create_branch product"
        )

    def fast_forward_only(main_v) -> None:
        if main_v != fork["version"]:
            raise CommitConflict(
                f"publish_branch({name}): main is at v{main_v}, branch "
                f"forked at v{fork['version']} — fast-forward only; "
                "re-branch from the current head and replay the writes"
            )

    # checked before the copies below, and again on the parent the
    # publish lands on
    fast_forward_only(current_version(spark, path))

    main_prefix = f"{path}/{_DATA_DIR}/"
    fs, _ = _fs(spark, path)
    FileUtil = spark._jvm.org.apache.hadoop.fs.FileUtil
    conf = spark._jsc.hadoopConfiguration()
    fs.mkdirs(_jpath(spark, f"{path}/{_DATA_DIR}"))
    translated: dict[str, str] = {}

    def xlate(s: str) -> str:
        if s in translated:
            return translated[s]
        if _is_abs_ref(s):
            rest = s[len(main_prefix):] if s.startswith(main_prefix) else None
            # a ref back into main's own data dir folds to a plain name;
            # a foreign absolute ref (main was itself a clone) stays
            out = rest if rest and "/" not in rest else s
        else:
            # branch-local segment: copy bytes into main (uuid names —
            # collisions are defensive-only)
            out = s
            while fs.exists(_jpath(spark, f"{main_prefix}{out}")):
                out = f"{s}-{uuid.uuid4().hex[:8]}"
            src_fs, src_jp = _fs(spark, f"{bpath}/{_DATA_DIR}/{s}")
            if not FileUtil.copy(
                src_fs, src_jp, fs, _jpath(spark, f"{main_prefix}{out}"),
                False, conf,
            ):
                raise RuntimeError(f"publish_branch: failed copying {s}")
        translated[s] = out
        return out

    state = {
        "segments": [xlate(s) for s in bm["segments"]],
        "meta": {xlate(s): m for s, m in _state_meta(bm).items()},
        "deletes": [xlate(s) for s in bm.get("deletes", [])],
        "props": props,
    }

    def build(parent):
        fast_forward_only(parent["version"] if parent else None)
        return state

    v = _commit(
        spark,
        path,
        "publish",
        build,
        # main adopts the branch head's version number (numbers may
        # skip): every branch-stamped seq stays <= the publish version
        min_version=int(bv),
    )
    if not keep_branch:
        drop_branch(spark, path, name)
    return v


def set_expectation(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """Record a SOFT quality rule on the table (props-persisted, like
    constraints but non-blocking): writes through `wap_ingest` with no
    explicit audit quarantine rows that fail ANY recorded expectation.
    Unlike CHECK constraints, existing data is NOT validated and plain
    appends are NOT gated — expectations are the quarantine contract
    of the audited-ingestion path, not a hard invariant."""

    def build(parent):
        props = _props(parent)
        ex = dict(props.get("expectations", {}))
        ex[name] = expr
        return {"segments": _carry(parent), "props": {**props, "expectations": ex}}

    return _commit(spark, path, "set_expectation", build)


def drop_expectation(spark: SparkSession, path: str, name: str) -> int:
    if name not in table_expectations(spark, path):
        raise ValueError(f"no such expectation {name!r} on {path}")

    def build(parent):
        props = _props(parent)
        ex = dict(props.get("expectations", {}))
        ex.pop(name, None)
        return {"segments": _carry(parent), "props": {**props, "expectations": ex}}

    return _commit(spark, path, "drop_expectation", build)


def table_expectations(spark: SparkSession, path: str) -> dict[str, str]:
    v = current_version(spark, path)
    if v is None:
        return {}
    return dict(
        _read_manifest(spark, path, v).get("props", {}).get("expectations", {})
    )


def _expectations_audit(spark: SparkSession, path: str, batch_keys):
    """Default `wap_ingest` audit: flag batch rows failing ANY recorded
    expectation (an unprovable rule — NULL — is a failure, the
    three-valued-logic stance every gate here takes)."""
    from pyspark.sql import functions as F

    rules = table_expectations(spark, path)

    def audit(snap: DataFrame) -> DataFrame:
        scoped = snap.join(batch_keys, on=list(batch_keys.columns), how="semi")
        if not rules:
            return scoped.filter(F.lit(False))
        ok = F.lit(True)
        for expr in rules.values():
            ok = ok & F.coalesce(F.expr(expr), F.lit(False))
        return scoped.filter(~ok)

    return audit


def wap_ingest(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    audit=None,
    keys: list[str] = None,
    quarantine: str | None = None,
    **append_kwargs,
) -> int:
    """The whole write-audit-publish loop as one call: fork a branch,
    append the batch, run ``audit(branch_snapshot) -> DataFrame of key
    rows to remove`` (the audit sees the batch IN CONTEXT of the whole
    table — constraint-vs-existing checks, corpus dedup, FK orphans),
    CoW-delete the flagged rows on the branch (optionally appending
    the matching BATCH rows to a ``quarantine`` lake first), and
    fast-forward main. On a publish conflict (main advanced mid-audit)
    the branch is dropped and the whole cycle REPLAYS against the new
    head — the audit re-runs in the new context, which is exactly why
    a conflicting publish can't just be rebased. The audit must flag
    only rows it intends to remove (keys matching pre-existing rows
    delete those too — same contract as commit_delete).

    ``append_kwargs`` pass through to the branch append (stats_cols /
    bloom_cols / partition / target_files). Returns the published main
    version.

    ``audit=None`` uses the table's RECORDED expectations
    (`set_expectation`) scoped to the batch's keys — the lake carries
    its own quality contract and every audited ingestion applies it.

    Quarantine appends carry ONE idempotency tag per call, so conflict
    replays (and retried failures) never duplicate the quarantine lake.
    Consequence: if a replayed audit flags MORE rows than the first
    attempt (main advanced with conflicting data), the extra rows are
    still deleted from the branch but only the first attempt's flagged
    set lands in quarantine — dedup-over-duplication, the same bias as
    every tagged sink in streaming/sinks.py."""
    if keys is None:
        raise ValueError("wap_ingest requires the batch key columns")
    if audit is None:
        audit = _expectations_audit(
            spark, path, batch_df.select(*keys).distinct()
        )
    last: Exception | None = None
    # one idempotency token per wap_ingest CALL: a publish conflict
    # replays the whole cycle, and without the tag each replay would
    # re-append the same flagged rows to the quarantine lake (and a
    # fully-failed call would still leave one copy behind per attempt)
    qtag = f"wap-quarantine-{uuid.uuid4().hex}"
    for _ in range(_COMMIT_TRIES):
        name = f"wap-{uuid.uuid4().hex[:8]}"
        b = create_branch(spark, path, name)
        try:
            commit_append(spark, b, batch_df, **append_kwargs)
            bad = audit(read_snapshot(spark, b)).select(*keys)
            if bad.limit(1).count():
                if quarantine is not None:
                    commit_append(
                        spark,
                        quarantine,
                        batch_df.join(bad, on=keys, how="semi"),
                        tag=qtag,
                    )
                commit_delete(spark, b, bad, keys)
            return publish_branch(spark, path, name)
        except CommitConflict as e:
            last = e
            drop_branch(spark, path, name)
            continue
        except BaseException:
            drop_branch(spark, path, name)
            raise
    raise CommitConflict(
        f"wap_ingest lost the fast-forward race {_COMMIT_TRIES} times: {path}"
    ) from last


def pinned_versions(
    spark: SparkSession, pins: list[str], path: str
) -> set[int]:
    """Every version of lake `path` that ANY version of ANY catalog in
    `pins` still pins (older catalog pins stay readable through
    catalog time travel, so they all count). Catalog histories are
    KB-scale manifests — this is a metadata walk, no data reads."""
    import posixpath

    def _norm(p: str) -> str:
        return posixpath.normpath(p.rstrip("/"))

    want = _norm(path)
    out: set[int] = set()
    for cat in pins:
        for cv in _manifest_versions(spark, cat):
            for r in read_snapshot(spark, cat, version=cv).collect():
                if _norm(r["path"]) == want:
                    out.add(int(r["version"]))
    return out


def registered_catalogs(spark: SparkSession, path: str) -> list[str]:
    """Catalog lakes recorded on the table's props — `pin_catalog`
    registers itself here so `vacuum` discovers pins WITHOUT the
    caller passing `pins=[...]` (VERDICT r9 #5: a forgotten flag must
    not silently break a training-run manifest's reproducibility)."""
    v = current_version(spark, path)
    if v is None:
        return []
    return list(
        _read_manifest(spark, path, v).get("props", {}).get("catalogs", [])
    )


def register_catalog(
    spark: SparkSession, path: str, catalog_path: str
) -> int | None:
    """Record on the LAKE that `catalog_path` pins versions of it (a
    props-only commit, idempotent — re-registration is a no-op).
    `pin_catalog` calls this for every pinned lake by default; call it
    directly for catalogs created before the registry existed."""
    v = current_version(spark, path)
    if v is None:
        raise ValueError(f"register_catalog: no commits at {path}")
    if catalog_path in registered_catalogs(spark, path):
        return v

    def build(parent):
        props = _props(parent)
        cats = list(props.get("catalogs", []))
        if catalog_path not in cats:
            cats = cats + [catalog_path]
        return {"segments": _carry(parent), "props": {**props, "catalogs": cats}}

    return _commit(spark, path, "register_catalog", build)


def plan_maintenance(
    spark: SparkSession,
    path: str,
    small_row_fraction: float = 0.25,
    max_partition_segments: int = 4,
    keep_versions: int = 2,
    dup_ratio: float = 2.0,
) -> list[dict]:
    """MAINTENANCE ADVISOR (VERDICT r10 #6): turn the metadata tables
    (`files()` / `partitions()` / `describe_detail()` / a dry-run
    vacuum) into a RANKED action plan instead of leaving operators to
    eyeball them. Each entry is ``{action, priority, reason, args}``
    where `action` names an executable verb (`apply_maintenance` runs
    them; the CLI exposes ``lake advise [--apply]``). Priorities:

    1. ``compact`` — pending merge-on-read tombstones (equality or
       deletion-vector): every read pays the anti-join/positional
       filter and segment-transferring ops refuse until materialized.
       Also carries stats/bloom regeneration args when live segments
       have PARTIAL skipping-metadata coverage (post-compact loss).
    2. ``compact_small`` — a small-segment tail: >=2 live segments in
       one partition group under ``small_row_fraction`` x the mean
       segment row count (the micro-batch append shape). Subsumed by
       a priority-1 full compact when one is advised.
    3. ``compact`` scoped ``part_eq`` — a partition fragmented past
       ``max_partition_segments`` segments (OPTIMIZE ... WHERE).
    4. ``cluster_incremental`` — the lake has a persisted z-order
       spec and post-cluster appends that aren't folded into it
       (query-time skipping degrades until folded).
    5. ``compact`` with stats/bloom args — partial skipping-metadata
       coverage with no other compact advised.
    6. ``vacuum`` — a dry-run reports reclaimable segments outside
       the newest ``keep_versions`` (and any pins, honored as usual).

    7. ``review_duplicates`` — ADVISORY (r12, from the per-segment
       NDV sketches): a segment whose rows/ndv on a recorded column
       is >= ``dup_ratio`` is a dedup / keyed-rewrite candidate.
       No automatic verb (deduping is semantic); apply_maintenance
       reports it and the flattening contract excludes it.

    The plan FLATTENS: executing every advised EXECUTABLE action
    (repeating until the plan is empty — maintenance commits expire
    versions that the next vacuum reclaims) leaves a census the
    advisor has nothing to say about; advisory entries persist until
    the data itself changes. Metadata-scale by construction:
    everything reads KB manifests + parquet footers; no data pages."""
    version = current_version(spark, path)
    if version is None:
        return []
    m = _read_manifest(spark, path, version)
    meta = m.get("meta", {})
    props = dict(m.get("props", {}))
    out: list[dict] = []
    f_rows = files(spark, path).collect()
    # partial skipping-metadata coverage: a column stat'd/bloom'd on
    # some live segments but not others (compaction without the cols
    # is the usual cause) — pruning silently degrades to full scans
    stats_union = sorted({c for r in f_rows for c in r["stats_cols"]})
    bloom_union = sorted({c for r in f_rows for c in r["bloom_cols"]})
    stats_partial = [
        c for c in stats_union
        if any(c not in r["stats_cols"] for r in f_rows)
    ]
    bloom_partial = [
        c for c in bloom_union
        if any(c not in r["bloom_cols"] for r in f_rows)
    ]
    regen_args = {}
    if stats_partial:
        regen_args["stats_cols"] = stats_partial
    if bloom_partial:
        regen_args["bloom_cols"] = bloom_partial
    # every compact-shaped advice carries the UNION of in-use skipping
    # columns — the advisor's own action must PRESERVE metadata, not
    # create next round's partial-coverage advice (compaction drops
    # stats/blooms unless told to regenerate)
    keep_args = {}
    if stats_union:
        keep_args["stats_cols"] = stats_union
    if bloom_union:
        keep_args["bloom_cols"] = bloom_union
    full_compact = False
    if m.get("deletes"):
        n_dv = sum(1 for t in m["deletes"] if meta.get(t, {}).get("dv"))
        n_eq = len(m["deletes"]) - n_dv
        kinds = " + ".join(
            s for s, n in (("equality", n_eq), ("deletion-vector", n_dv))
            if n
        )
        out.append({
            "action": "compact",
            "priority": 1,
            "reason": (
                f"{len(m['deletes'])} pending merge-on-read tombstone "
                f"segment(s) ({kinds}): every read pays the mask and "
                "segment-transferring ops (partitioned/pruned MERGE, CoW "
                "delete, replaceWhere) refuse until materialized"
            ),
            "args": dict(keep_args),
        })
        full_compact = True
    # small-segment tail, per partition group (compact_small semantics)
    if len(f_rows) >= 2 and not full_compact:
        mean_rows = sum(r["n_rows"] for r in f_rows) / len(f_rows)
        floor_rows = max(int(mean_rows * small_row_fraction), 1)
        by_part: dict[str, int] = {}
        for r in f_rows:
            if r["n_rows"] < floor_rows:
                by_part[r["part"]] = by_part.get(r["part"], 0) + 1
        n_small = sum(n for n in by_part.values() if n >= 2)
        if n_small:
            out.append({
                "action": "compact_small",
                "priority": 2,
                "reason": (
                    f"{n_small} live segment(s) under {floor_rows} rows "
                    f"({small_row_fraction:.0%} of the {int(mean_rows)}-row "
                    "mean) in compactable groups — the micro-batch append "
                    "tail; scans pay per-file overhead"
                ),
                "args": {"target_rows": floor_rows, **keep_args},
            })
    # fragmented partitions (scoped OPTIMIZE ... WHERE). Census folded
    # driver-side from the f_rows already collected above: calling
    # partitions() here re-ran files() — and with it the whole
    # per-segment footer-counts job — for a groupBy over rows we
    # already hold (one of q_lake_advisor's three metadata jobs,
    # r12, guide §1/§5)
    if not full_compact:
        by_tag: dict[str, int] = {}
        for fr in f_rows:
            by_tag[fr["part"]] = by_tag.get(fr["part"], 0) + 1
        for part_s, n_segs in sorted(by_tag.items()):
            tags = json.loads(part_s)
            if tags and n_segs > max_partition_segments:
                out.append({
                    "action": "compact",
                    "priority": 3,
                    "reason": (
                        f"partition {part_s} holds {n_segs} "
                        f"segments (> {max_partition_segments}) — scoped "
                        "consolidation keeps maintenance O(partition)"
                    ),
                    "args": {"part_eq": tags, **keep_args},
                })
    # z-order spec with unfolded post-cluster appends
    if props.get("zorder"):
        unclustered = [
            s for s in m["segments"]
            if "cluster" not in meta.get(s, {})
        ]
        if unclustered:
            out.append({
                "action": "cluster_incremental",
                "priority": 4,
                "reason": (
                    f"{len(unclustered)} segment(s) appended after the "
                    "last cluster aren't in the z-layout — range skipping "
                    "degrades until folded"
                ),
                "args": {},
            })
    if regen_args and not any(
        a["action"] in ("compact", "compact_small") for a in out
    ):
        out.append({
            "action": "compact",
            "priority": 5,
            "reason": (
                "partial skipping-metadata coverage (stats: "
                f"{stats_partial or '-'}; blooms: {bloom_partial or '-'}) "
                "— segments without it scan fully; compacting with the "
                "columns regenerates"
            ),
            "args": dict(keep_args),
        })
    reclaimable = vacuum(
        spark, path, keep_versions=keep_versions, dry_run=True
    )
    if reclaimable:
        out.append({
            "action": "vacuum",
            "priority": 6,
            "reason": (
                f"{reclaimable} segment(s) referenced only by versions "
                f"outside the newest {keep_versions} (pins honored) — "
                "reclaimable storage"
            ),
            "args": {"keep_versions": keep_versions},
        })
    # duplicate-heavy segments from the recorded NDV sketches (r12 —
    # VERDICT r11 #4): rows/ndv >= dup_ratio on a recorded column.
    # ADVISORY: there is no safe automatic verb (deduping is a
    # semantic decision — operators/dedup.py exact_dedup or an
    # upsert-keyed rewrite), so apply_maintenance reports it without
    # executing and the flattening contract excludes it.
    dup: list[dict] = []
    for s in m["segments"]:
        sm = meta.get(s, {})
        rows_s = sm.get("rows")
        if not rows_s:
            continue
        for c, e in (sm.get("ndv") or {}).items():
            n = e.get("count") if e.get("kind") == "bitmap" else e.get("est")
            if n and rows_s / max(n, 1) >= dup_ratio:
                dup.append({
                    "segment": s, "col": c,
                    "rows": int(rows_s), "ndv": int(n),
                })
    if dup:
        worst = max(dup, key=lambda d: d["rows"] / d["ndv"])
        out.append({
            "action": "review_duplicates",
            "priority": 7,
            "reason": (
                f"{len(dup)} segment/column pair(s) carry >= "
                f"{dup_ratio:g}x duplicate keys (worst: "
                f"{worst['col']} at {worst['rows']}/{worst['ndv']} "
                "rows/ndv) — exact-dedup or upsert-keyed rewrite "
                "candidates"
            ),
            "args": {"pairs": dup},
        })
    return sorted(out, key=lambda a: a["priority"])


def apply_maintenance(
    spark: SparkSession, path: str, plan: list[dict]
) -> list[dict]:
    """Execute a `plan_maintenance` plan in priority order. Returns
    the executed entries with each action's result appended (committed
    version / segments deleted). The advisor's flattening contract:
    repeat plan+apply until the plan is empty (a maintenance commit
    expires versions the next vacuum reclaims)."""
    done = []
    for a in plan:
        args = dict(a.get("args", {}))
        if a["action"] == "compact":
            res = compact(
                spark, path,
                part_eq=args.get("part_eq"),
                stats_cols=args.get("stats_cols"),
                bloom_cols=args.get("bloom_cols"),
            )
        elif a["action"] == "compact_small":
            res = compact_small(
                spark, path, target_rows=int(args["target_rows"]),
                bloom_cols=args.get("bloom_cols"),
            )
        elif a["action"] == "cluster_incremental":
            res = cluster_incremental(spark, path)
        elif a["action"] == "vacuum":
            res = vacuum(
                spark, path,
                keep_versions=int(args.get("keep_versions", 2)),
            )
        elif a["action"] == "review_duplicates":
            # advisory only — deduping is a semantic decision (exact
            # dedup vs keyed rewrite); reported, never auto-executed
            res = "advisory"
        else:
            raise ValueError(f"unknown maintenance action {a['action']!r}")
        done.append({**a, "result": res})
    return done


def vacuum(
    spark: SparkSession,
    path: str,
    keep_versions: int = 2,
    older_than_ts: float | None = None,
    dry_run: bool = False,
    pins: list[str] | None = None,
    include_registered_pins: bool = True,
) -> int:
    """Drop expired manifests and delete every data segment no retained
    manifest references — including orphans from crashed writers.
    Returns segments deleted. Retention is the UNION of three guards:
    the newest `keep_versions` versions, (when `older_than_ts` is
    given) every version committed at-or-after that epoch timestamp —
    the Delta ``RETAIN n HOURS`` contract, now that commits carry
    monotone clocks — and every version of THIS lake any catalog pin
    still references: the union of explicit `pins` and the catalogs
    the lake itself records (`pin_catalog` auto-registers; VERDICT r9
    #5 — a vacuum that needed a remembered flag could silently break a
    training-run manifest's reproducibility). Pass
    ``include_registered_pins=False`` (CLI ``--no-pins``) to reclaim
    pinned versions DELIBERATELY. Timestamp time travel (`as_of_ts`)
    keeps working for any instant at-or-after the oldest retained
    commit. Run only when no OTHER reader can be pinned to an expired
    version (the usual table-format retention contract)."""
    versions = _manifest_versions(spark, path)
    if not versions:
        return 0
    keep = set(versions[-keep_versions:])
    if older_than_ts is not None:
        for v in versions:
            if float(_read_manifest(spark, path, v).get("ts", 0.0)) >= older_than_ts:
                keep.add(v)
    catalogs = set(pins or [])
    if include_registered_pins:
        catalogs |= set(registered_catalogs(spark, path))
    if catalogs:
        keep |= pinned_versions(spark, sorted(catalogs), path) & set(versions)
    fs, _ = _fs(spark, path)
    live: set[str] = set()
    ever_committed: set[str] = set()  # referenced by ANY manifest, incl. expired
    live_cdf: set[str] = set()
    ever_cdf: set[str] = set()
    for v in versions:
        m = _read_manifest(spark, path, v)
        # tombstone segments are as live as data segments: a retained
        # manifest's reads depend on them for the merge-on-read anti join
        segs = list(m["segments"]) + list(m.get("deletes", []))
        ever_committed.update(segs)
        if m.get("cdf"):
            ever_cdf.add(m["cdf"])
        if v in keep:
            live.update(segs)
            if m.get("cdf"):  # recorded change segments live with their version
                live_cdf.add(m["cdf"])
    for v in versions:
        if v not in keep and not dry_run:
            fs.delete(_jpath(spark, store.manifest_file(path, v)), False)
    # stray tmp manifests from crashed commits — but only STALE ones:
    # a fresh .tmp may belong to an in-flight concurrent commit whose
    # publish hasn't happened yet; deleting it would turn that writer's
    # clean CAS loss into a FileNotFound error. 10 minutes is far past
    # any write-to-publish window (the tmp write is one small file).
    now_ms = spark._jvm.java.lang.System.currentTimeMillis()
    mdir = f"{path}/{_MANIFEST_DIR}"
    for st in fs.listStatus(_jpath(spark, mdir)):
        name = st.getPath().getName()
        if not name.startswith(".tmp-"):
            continue
        if now_ms - st.getModificationTime() > 600_000:
            # dry_run is audit-only: even stale tmp cleanup must not
            # mutate the table directory under the "nothing deleted"
            # contract
            if not dry_run:
                fs.delete(st.getPath(), False)
        else:
            # surviving fresh tmp: whatever segments it references may
            # commit any moment — treat them as live
            try:
                pending = store.read_json(st.getPath().toString(), spark)
                live.update(pending.get("segments", []))
                live.update(pending.get("deletes", []))
            except Exception:
                pass  # torn/unreadable tmp: its segments stay age-guarded
    ddir = f"{path}/{_DATA_DIR}"
    jddir = _jpath(spark, ddir)
    n = 0
    if fs.exists(jddir):
        for st in fs.listStatus(jddir):
            name = st.getPath().getName()
            if name in live:
                continue
            # expired-version segments (were committed, their manifest
            # just aged out) reclaim immediately; a NEVER-referenced
            # segment is deleted only when stale — a fresh one is
            # (likely) an in-flight commit between its data write and
            # its manifest rename, and deleting it would dangle the
            # winner's manifest.
            if name in ever_committed or now_ms - st.getModificationTime() > 600_000:
                if not dry_run:
                    fs.delete(st.getPath(), True)
                n += 1
    # recorded change segments (write-time CDF) follow their version's
    # retention: expired-version deltas reclaim, retained ones stay
    cdir = f"{path}/{_CDF_DIR}"
    jcdir = _jpath(spark, cdir)
    if fs.exists(jcdir):
        for st in fs.listStatus(jcdir):
            name = st.getPath().getName()
            if name in live_cdf:
                continue
            if name in ever_cdf or now_ms - st.getModificationTime() > 600_000:
                if not dry_run:
                    fs.delete(st.getPath(), True)
                n += 1
    # refresh the rollup checkpoint so it stops carrying vacuumed
    # versions (hygiene only — consumers gate on the live listing, so
    # a stale rollup can't resurrect anything; best-effort like the
    # auto-rollup in _commit)
    if not dry_run and _read_ckpt(spark, path) is not None:
        try:
            checkpoint_manifest(spark, path)
        except Exception:
            pass
    return n


# ---------------------------------------------------------------------
# r9: catalog pins — multi-lake consistent snapshots. A training run
# (or a report, or a reproduction) needs "the exact corpus + embedding
# + index versions I used" as ONE durable name; per-lake time travel
# alone makes the reader coordinate N version numbers by hand.
# ---------------------------------------------------------------------


def pin_catalog(
    spark: SparkSession,
    catalog_path: str,
    lakes: dict[str, str],
    tag: str | None = None,
    register: bool = True,
) -> int:
    """Record one named, durable PIN of every lake in `lakes`
    ({name: lake_path}) at its CURRENT version — the training-run
    manifest: a catalog commit is itself a manifest-lake version, so
    pins are ordered, time-travelable, and vacuum-retained like any
    other commit. Read back with `read_pinned`.

    Consistency model: the pin captures each lake's latest version AT
    PIN TIME (read committed per lake; lakes are independent CAS
    domains, so cross-lake atomicity is observational — pin AFTER the
    writes you mean to capture). With ``register=True`` (default) the
    catalog also records itself on every pinned lake
    (`register_catalog`, a props-only commit AFTER the pinned version
    is captured — the pin itself is unaffected), so each lake's
    `vacuum` discovers and honors the pins with no flags
    (VERDICT r9 #5); registration is idempotent, one commit per lake
    the first time only."""
    rows = []
    for name, path in sorted(lakes.items()):
        v = current_version(spark, path)
        if v is None:
            raise ValueError(f"pin_catalog: no commits at {path} ({name!r})")
        rows.append((name, path, v))
    if register:
        for _, path, _v in rows:
            register_catalog(spark, path, catalog_path)
    return commit_replace(
        spark,
        catalog_path,
        rows_frame(
            spark, rows, "name string, path string, version long"
        ),
        tag=tag,
    )


def catalog_entries(
    spark: SparkSession, catalog_path: str, catalog_version: int | None = None
) -> dict[str, tuple[str, int]]:
    """{name: (lake_path, pinned_version)} of a catalog pin (latest by
    default; pass `catalog_version` to read an OLDER pin — pins nest
    time travel)."""
    return {
        r["name"]: (r["path"], int(r["version"]))
        for r in read_snapshot(
            spark, catalog_path, version=catalog_version
        ).collect()
    }


def read_pinned(
    spark: SparkSession,
    catalog_path: str,
    name: str,
    catalog_version: int | None = None,
    **read_kwargs,
) -> DataFrame:
    """`read_snapshot` of lake `name` at its pinned version — every
    probe/pruning kwarg passes through (part_eq/ranges/bloom_eq/...)."""
    entries = catalog_entries(spark, catalog_path, catalog_version)
    if name not in entries:
        raise ValueError(
            f"catalog {catalog_path} has no pin for {name!r} "
            f"(has {sorted(entries)})"
        )
    path, v = entries[name]
    return read_snapshot(spark, path, version=v, **read_kwargs)
