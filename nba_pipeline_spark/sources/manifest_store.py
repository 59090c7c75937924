"""The manifest lake's metadata store — the ONE module that knows where
the lake keeps its metadata and how a version is committed. It imports
no pyspark, so the driver, the Python DataSource workers (which have
no Py4J gateway) and plain scripts share it.

Four operations, all on KB-sized JSON files:

- `versions(path)` — the committed versions, ascending;
- `read_json(file)` — a manifest, ``_ckpt.json`` or a state file
  (`read_manifest` is the version-numbered shorthand);
- `write_if_absent(file, obj)` — THE commit point: publishes `obj`
  under `file` only if no other writer got there first;
- `write_replace(file, obj)` — last-writer-wins state (the rollup
  checkpoint, feed high-water marks, backfill progress).

Each takes an optional ``spark`` and picks a backend by the path's
scheme:

- **bare paths and ``file:``** — plain ``os``, whatever ``spark`` is.
  The write is a tmp file, then ``os.link`` to the final name (atomic,
  and fails if the name exists: two writers can never both publish a
  version), then the tmp is unlinked. Replacement is ``os.replace``.
  Hadoop's local checksum siblings (``.v*.json.crc``, written by older
  commits) are ignored, so a lake that holds them still reads — and no
  local metadata read goes through Hadoop, which would fail the
  checksum of a file Python replaced.
- **any other scheme, with a session** — the Hadoop ``FileSystem`` for
  listing and reads, ``FileContext.rename`` without / with OVERWRITE
  for the commit / the replace (the fail-on-existing rename is atomic
  on HDFS/ABFS — Delta's HDFSLogStore commits the same way).
- **any other scheme, no session** (a Python worker) — ``pyarrow.fs``
  for listing and reads; writes refuse (a conditional put is
  store-specific and pyarrow.fs does not expose one).
"""

from __future__ import annotations

import json
import os
import re
import uuid

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_CDF_DIR = "cdf"  # write-time recorded change segments
_CKPT_FILE = "_ckpt.json"

# the lake's metadata-only type widenings (manifest.widen_column_type)
_WIDEN_CHAINS = (
    ["tinyint", "smallint", "int", "bigint"],
    ["float", "double"],
    # every int32-or-narrower integer is exactly representable in a
    # double; bigint is NOT (2^53) and never widens to double
    ["tinyint", "smallint", "int", "double"],
)


def _is_widening(old: str, new: str) -> bool:
    for chain in _WIDEN_CHAINS:
        if old in chain and new in chain and chain.index(old) < chain.index(new):
            return True
    return False


def _props_triples(props: dict):
    """[(logical, type, physical)] per column of a manifest's props, or
    None when the lake predates schema recording. Physical differs
    from logical under column mapping: a renamed column keeps its
    original name inside the immutable segment files."""
    sch = props.get("schema")
    if not sch:
        return None
    cm = dict(props.get("colmap", {}))
    return [(n, t, cm.get(n, n)) for n, t in sch["cols"]]


def manifest_file(path: str, version: int) -> str:
    return f"{path}/{_MANIFEST_DIR}/v{version:08d}.json"


def ckpt_file(path: str) -> str:
    return f"{path}/{_MANIFEST_DIR}/{_CKPT_FILE}"


class _RetentionGap(ValueError, FileNotFoundError):
    """A version's manifest provably does not exist — vacuum reclaimed
    it. Carries restart guidance for streams (a stream starting at
    version 0, or resuming a checkpoint older than the lake's
    retention, hits this) instead of a raw FileNotFoundError."""

    def __init__(self, path: str, v: int) -> None:
        super().__init__(
            f"version {v} of {path} is outside the lake's retention "
            "(its manifest was vacuumed) — a stream must restart with a "
            "fresh checkpoint from the current snapshot (batch-read "
            "read_snapshot() for the base, then stream from the current "
            "version)"
        )
        self.version = v


_SCHEME = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]+):")


def local_path(path: str) -> str | None:
    """The filesystem path of a bare or ``file:`` lake path; None for
    every other scheme."""
    m = _SCHEME.match(path)
    if m is None:
        return path
    if m.group(1).lower() != "file":
        return None
    rest = path[m.end():]
    return rest[2:] if rest.startswith("//") else rest


def _pafs(path: str):
    """(pyarrow FileSystem, normalized path) for a lake/file URI —
    scheme-dispatched (file/s3/gs native; hdfs via libhdfs), falling
    back to the local filesystem for bare paths."""
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(path)


class _Local:
    def list_names(self, d: str) -> list[str]:
        try:
            return os.listdir(local_path(d))
        except FileNotFoundError:
            return []

    def read(self, f: str) -> bytes:
        with open(local_path(f), "rb") as fh:
            return fh.read()

    def _write_tmp(self, f: str, data: bytes) -> str:
        d = os.path.dirname(local_path(f))
        os.makedirs(d, exist_ok=True)
        tmp = f"{d}/.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        return tmp

    def write_if_absent(self, f: str, data: bytes) -> bool:
        tmp = self._write_tmp(f, data)
        try:
            os.link(tmp, local_path(f))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def write_replace(self, f: str, data: bytes) -> None:
        os.replace(self._write_tmp(f, data), local_path(f))


class _Hadoop:
    def __init__(self, spark) -> None:
        self._spark = spark
        self._jvm = spark._jvm

    def _jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        jp = self._jpath(p)
        return jp.getFileSystem(self._spark._jsc.hadoopConfiguration()), jp

    def list_names(self, d: str) -> list[str]:
        fs, jp = self._fs(d)
        if not fs.exists(jp):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jp)]

    def read(self, f: str) -> str:
        fs, jp = self._fs(f)
        try:
            stream = fs.open(jp)
        except Exception as e:  # Py4JJavaError
            if "FileNotFoundException" in str(e):
                raise FileNotFoundError(f) from e
            raise
        try:
            # py4j byte[] args are pass-by-value (a Python-side buffer
            # never sees Java-side writes), so drain via commons-io
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def _write_tmp(self, f: str, data: bytes) -> str:
        d = f.rsplit("/", 1)[0]
        fs, jd = self._fs(d)
        fs.mkdirs(jd)
        tmp = f"{d}/.tmp-{uuid.uuid4().hex}"
        out = fs.create(self._jpath(tmp), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return tmp

    def _rename(self, src: str, dst: str, overwrite: bool) -> bool:
        """``FileContext.rename`` — never ``FileSystem.rename``, whose
        overwrite behavior differs per implementation (RawLocalFileSystem
        delegates to POSIX rename(2) and silently replaces; HDFS
        refuses). Without OVERWRITE it fails on an existing destination
        on every implementation; False = the destination was taken."""
        jvm = self._jvm
        jdst = self._jpath(dst)
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jdst.toUri(), self._spark._jsc.hadoopConfiguration()
        )
        opts = self._spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1 if overwrite else 0
        )
        if overwrite:
            opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        try:
            fc.rename(self._jpath(src), jdst, opts)
            return True
        except Exception as e:  # Py4JJavaError: lost the CAS race
            msg = str(e)
            if not overwrite and ("AlreadyExists" in msg or "already exists" in msg):
                return False
            raise

    def write_if_absent(self, f: str, data: bytes) -> bool:
        tmp = self._write_tmp(f, data)
        if self._rename(tmp, f, overwrite=False):
            return True
        fs, jtmp = self._fs(tmp)
        fs.delete(jtmp, False)
        return False

    def write_replace(self, f: str, data: bytes) -> None:
        self._rename(self._write_tmp(f, data), f, overwrite=True)


class _Arrow:
    def list_names(self, d: str) -> list[str]:
        from pyarrow import fs as pafs

        fs, norm = _pafs(d)
        sel = pafs.FileSelector(norm, allow_not_found=True)
        return [info.base_name for info in fs.get_file_info(sel)]

    def read(self, f: str) -> bytes:
        from pyarrow import fs as pafs

        fs, norm = _pafs(f)
        try:
            with fs.open_input_stream(norm) as fh:
                return fh.read()
        except OSError as e:
            # only a PROVABLY-absent file is "not found"; a transient
            # store error must surface raw
            if fs.get_file_info(norm).type == pafs.FileType.NotFound:
                raise FileNotFoundError(f) from e
            raise

    def write_if_absent(self, f: str, data: bytes) -> bool:
        raise ValueError(
            "committing to a non-local lake needs a SparkSession (the "
            f"Hadoop FileContext rename is its commit point): {f}"
        )

    write_replace = write_if_absent


_LOCAL = _Local()
_ARROW = _Arrow()


def _backend(path: str, spark):
    if local_path(path) is not None:
        return _LOCAL
    return _Hadoop(spark) if spark is not None else _ARROW


def versions(path: str, spark=None) -> list[int]:
    """Committed versions, ascending. A ``.tmp-`` file is a write in
    flight (and ``_ckpt.json`` derived state) — never listed."""
    out = []
    for name in _backend(path, spark).list_names(f"{path}/{_MANIFEST_DIR}"):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def read_json(file: str, spark=None) -> dict:
    """One metadata file; FileNotFoundError when it provably does not
    exist."""
    return json.loads(_backend(file, spark).read(file))


def read_manifest(path: str, version: int, spark=None) -> dict:
    """Version `version`'s manifest; `_RetentionGap` when it provably
    does not exist."""
    try:
        return read_json(manifest_file(path, version), spark)
    except FileNotFoundError as e:
        raise _RetentionGap(path, version) from e


def write_if_absent(file: str, obj: dict, spark=None) -> bool:
    """Publish `obj` as `file` unless it exists — the commit point.
    False = another writer took the name (nothing was written)."""
    data = json.dumps(obj).encode("utf-8")
    return _backend(file, spark).write_if_absent(file, data)


def write_replace(file: str, obj: dict, spark=None) -> None:
    """Atomically replace `file` with `obj` (last writer wins)."""
    _backend(file, spark).write_replace(file, json.dumps(obj).encode("utf-8"))
