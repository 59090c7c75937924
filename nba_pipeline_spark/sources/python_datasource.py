"""Spark 4 Python DataSource wrapping the recorded-HTML edge
(SURVEY §2.1 S1/S2) — the idiomatic way to mount the reference's
scrape layer (playerInfo.py:8, games.py:23, coaches.py:15-19) INTO the
engine: ``spark.read.format("html_tables").load(dir)`` instead of a
driver-side parse loop.

Why a DataSource and not a helper function: the reads become part of
the plan — Spark schedules ONE INPUT PARTITION PER PAGE FILE, so a
backfill over thousands of recorded pages parses across the cluster
(the reference's process-per-season Airflow fan-out, §3 EP2, executed
as ordinary task parallelism), and the result is a DataFrame from the
first operator on.

Schema is the fixed row-wise shape every page reduces to (one row per
<tr>, cells as an array, header rows flagged); `cells_to_columns`
(edge_ingest.py) lifts it to named columns downstream — the same
two-step the pandas reference does with read_html + column fixes. The
network fetch stays out of scope (sandbox: recorded bytes; production
swaps the file open for an HTTP GET inside `read`, which then runs ON
EXECUTORS — the scrape itself parallelizes).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..session import register_data_source, tune


class HtmlTablesDataSource(DataSource):
    """``format("html_tables")``: one row per <tr> of every <table> in
    every .html file under ``path`` (file or directory)."""

    @classmethod
    def name(cls) -> str:
        return "html_tables"

    def schema(self) -> str:
        return (
            "file string, table_idx int, row_idx int, "
            "is_header boolean, cells array<string>"
        )

    def reader(self, schema) -> "HtmlTablesReader":
        return HtmlTablesReader(self.options)

    def streamReader(self, schema) -> "HtmlTablesStreamReader":
        return HtmlTablesStreamReader(self.options)


class HtmlTablesReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("html_tables requires a path (option or load(path))")
        self._path = path
        self._file_eq: str | None = None

    def pushFilters(self, filters):
        # Partition pruning through the Python source: a `file = X`
        # equality prunes the page list BEFORE any file is opened —
        # the custom-source analog of parquet partition filters. All
        # other filters are returned for Spark to evaluate post-scan.
        from pyspark.sql.datasource import EqualTo

        remaining = []
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and tuple(f.attribute) == ("file",)
                and isinstance(f.value, str)
            ):
                self._file_eq = f.value
            else:
                remaining.append(f)
        return remaining

    def partitions(self):
        # One partition per page file: a 10k-page backfill parses on
        # 10k tasks, not one driver loop.
        #
        # Split granularity (deliberate): pages are NOT byte-split into
        # row-group-style chunks. An HTML document can't be parsed from
        # a byte offset — tag scopes (<table>, rowspans, the header
        # <thead>) span arbitrary byte ranges, so a chunk parser would
        # need the whole page anyway. Pages are also small by
        # construction (a stats table page is KBs–low MBs; the scrape
        # writes one page per season/date), so the parallelism lever at
        # scale is PAGE COUNT, which this already maximizes. A
        # pathological multi-GB page would make one long task, not an
        # OOM (the parser streams rows out lazily) — acceptable for a
        # shape the edge never produces.
        p = self._path
        if not os.path.exists(p):
            # genuinely missing root: fail analysis loudly
            raise ValueError(f"html_tables path does not exist: {p}")
        if os.path.isdir(p):
            files = sorted(
                os.path.join(p, f) for f in os.listdir(p) if f.endswith(".html")
            )
        else:
            files = [p]
        if self._file_eq is not None:
            files = [f for f in files if os.path.basename(f) == self._file_eq]
        # Empty page dir / pushdown pruned to zero files → empty result,
        # same semantics the filter would have post-scan. One no-op
        # partition because Spark's Python source requires ≥1 partition.
        if not files:
            return [InputPartition(None)]
        return [InputPartition(f) for f in files]

    def read(self, partition):
        from nba_pipeline_spark.sources.html_parse import parse_tables

        fname = partition.value
        if fname is None:  # pruned-to-zero sentinel partition
            return
        with open(fname, "rb") as fh:
            raw = fh.read()
        base = os.path.basename(fname)
        for t_idx, table in enumerate(parse_tables(raw)):
            header = table.get("header")
            if header is not None:
                # header travels as row_idx -1 so downstream
                # cells_to_columns can name the data columns
                yield (base, t_idx, -1, True, list(header))
            for r_idx, cells in enumerate(table["rows"]):
                yield (base, t_idx, r_idx, False, list(cells))


class HtmlTablesStreamReader(DataSourceStreamReader):
    """Streaming form: the page directory is an append-only feed (the
    reference's scheduled incremental scrape, §3 EP2/EP3 — each DAG run
    drops one new page); every micro-batch picks up files that arrived
    since the last committed offset.

    Offset = the sorted file-name high-water mark, JSON-serialized by
    the engine into the checkpoint — a restart resumes after the last
    committed page with no ledger of our own. Page order rides the
    file NAME (the scrape stamps season/date into it), not mtime,
    so the offset is total-ordered and replay-stable."""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("html_tables requires a path option")
        self._dir = path

    def _files(self) -> list[str]:
        if not os.path.isdir(self._dir):
            return []
        return sorted(f for f in os.listdir(self._dir) if f.endswith(".html"))

    def initialOffset(self) -> dict:
        return {"last": ""}

    def latestOffset(self) -> dict:
        files = self._files()
        return {"last": files[-1] if files else ""}

    def partitions(self, start: dict, end: dict):
        lo, hi = start.get("last", ""), end.get("last", "")
        batch = [f for f in self._files() if lo < f <= hi]
        # one partition per newly-arrived page, same as the batch reader
        return [InputPartition(os.path.join(self._dir, f)) for f in batch]

    def read(self, partition):
        from nba_pipeline_spark.sources.html_parse import parse_tables

        fname = partition.value
        with open(fname, "rb") as fh:
            raw = fh.read()
        base = os.path.basename(fname)
        for t_idx, table in enumerate(parse_tables(raw)):
            header = table.get("header")
            if header is not None:
                yield (base, t_idx, -1, True, list(header))
            for r_idx, cells in enumerate(table["rows"]):
                yield (base, t_idx, r_idx, False, list(cells))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: the offset IS the directory state


def register_html_source(spark) -> None:
    """Idempotent registration: after this,
    ``spark.read.format("html_tables").load(path)`` and
    ``spark.readStream.format("html_tables")...`` both work.

    Python-source filter pushdown is opt-in engine-wide; a reader that
    implements pushFilters FAILS ANALYSIS while the flag is off, so
    registration calls `tune`, which pins it with the session's other
    confs and reads it back.

    HANDLE-REUSE CAVEAT (upstream Spark 4.1, affects every Python
    DataSource with pushFilters): the JVM caches the planned read per
    ``load()`` relation and a filtered query's pushdown REPLACES it —
    an unfiltered query re-run on the SAME DataFrame handle afterwards
    reuses the pruned plan and drops rows. Take a fresh ``load()`` per
    query. Pinned in tests/test_lake_datasource.py (the lake source
    documents the same engine behavior)."""
    tune(spark)
    register_data_source(spark, HtmlTablesDataSource)
