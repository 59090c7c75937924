"""Edge ingest (SURVEY §2.1 S1): the reference's per-page HTML scrape
(``pd.io.html.read_html(url)`` call sites in playerInfo.py:8,
games.py:23,36, playByplay.py:107, boxScores.py:43) re-shaped for a
cluster: a URL frame fanned out over executors via Arrow-batched
``mapInPandas``, each worker fetching and parsing its slice.

The reference fetches serially inside one Airflow task per season; here
10k URLs spread over the cluster and land directly as rows — the edge
is the ONLY place eager/row-wise work is allowed (SURVEY §2.12 policy).

The HTTP fetch itself is STUBBED (`fetch_table_stub`): this environment
has no network and no bs4/lxml; the batching, schema, partitioning and
retry accounting are the real production shape. Swap ``fetcher`` for a
requests+read_html closure in a connected deployment.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.partitioning import rows_frame

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("row_idx", T.IntegerType()),
        T.StructField("cells", T.ArrayType(T.StringType())),
        T.StructField("fetch_error", T.StringType()),
    ]
)


def fetch_table_stub(url: str) -> list[list[str]]:
    """Deterministic stand-in for requests + read_html: derives a tiny
    'table' from the URL so plumbing is testable offline. Raises for
    urls containing 'bad' to exercise the per-row error channel."""
    if "bad" in url:
        raise ValueError(f"simulated fetch failure for {url}")
    slug = url.rstrip("/").rsplit("/", 1)[-1] or "root"
    return [[slug, str(len(url))], [slug.upper(), str(sum(map(ord, slug)) % 997)]]


def recorded_html_fetcher(
    pages: dict[str, str | bytes],
    columns: dict[str, str] | list[str] | None = None,
    table_index: int | None = 0,
    prepend_table_idx: bool = False,
):
    """Build a ``fetch_urls`` fetcher over RECORDED page bytes — the
    sandbox equivalent of requests + read_html (reference games.py:23,
    boxScores.py:43): url -> parse_tables -> header-mapped cell rows.

    ``columns`` selects/reorders cells by HEADER NAME (missing headers
    yield None cells — the schedule pages' era-dependent 'Start (ET)'
    column); ``table_index=None`` concatenates every table in the page
    (box-score pages carry away+home tables) and ``prepend_table_idx``
    tags each row with its table's position so the consumer can map
    table order to away/home the way boxScores.py:53-57 does. Unknown
    URLs raise -> fetch_urls' per-row error channel."""
    from .html_parse import parse_tables, table_to_records

    def fetch(url: str) -> list[list[str | None]]:
        tables = parse_tables(pages[url])
        if not tables:
            raise ValueError(f"no <table> in recorded page for {url}")
        picked = tables if table_index is None else [tables[table_index]]
        out: list[list[str | None]] = []
        for ti, tbl in enumerate(picked):
            for rec in table_to_records(tbl, columns):
                out.append(([str(ti)] + rec) if prepend_table_idx else rec)
        return out

    return fetch


def cells_to_columns(
    df: DataFrame, names: list[str], empty_as_null: bool = True
) -> DataFrame:
    """Project the fetch_urls cell-array rows into named string columns
    (positional — pair with a `columns`-mapped fetcher), keeping url and
    row_idx for provenance/ordering. ``empty_as_null`` collapses empty
    <td> text to NULL — web tables conflate the two, and the engine's
    try_cast/fill semantics key on NULL."""
    from pyspark.sql import functions as F

    def cell(i: int):
        c = F.col("cells").getItem(i)
        return F.nullif(c, F.lit("")) if empty_as_null else c

    return df.filter(F.col("fetch_error").isNull()).select(
        "url",
        "row_idx",
        *[cell(i).alias(n) for i, n in enumerate(names)],
    )


def fetch_urls(
    spark: SparkSession,
    urls: list[str],
    fetcher: Callable[[str], list[list[str]]] = fetch_table_stub,
    partitions: int | None = None,
) -> DataFrame:
    """Fan URLs out over the cluster; one output row per scraped table
    row, with a per-URL error column instead of task failure (one dead
    page must not kill a 10k-page ingest)."""
    n_part = partitions or min(len(urls), 64) or 1
    url_df = rows_frame(spark, [(u,) for u in urls], schema="url string").repartition(n_part)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for u in pdf["url"]:
                try:
                    for i, cells in enumerate(fetcher(u)):
                        # preserve missing cells as NULL (str(None) is a bug)
                        out.append(
                            (u, i, [None if c is None else str(c) for c in cells], None)
                        )
                except Exception as e:  # noqa: BLE001 - error channel by design
                    out.append((u, None, None, f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(out, columns=["url", "row_idx", "cells", "fetch_error"])

    return url_df.mapInPandas(run, FETCH_RESULT_SCHEMA)
