"""Partition-shape helpers.

`fan_out` rescues the "tiny scan, heavy projection" shape: a corpus
that fits in one parquet row group arrives as ONE scan partition, so a
compute-bound projection (minhash signatures, per-pair cosine) runs on
a single core no matter how many executors exist. Splitting by
`spark.sql.files.maxPartitionBytes` can't help — a row group is the
atomic read unit — so the fix is an explicit round-robin repartition.

Guarded so it is a no-op at scale: a 100 TB scan already has thousands
of partitions (> defaultParallelism), and an unconditional repartition
there would shuffle the whole corpus for nothing. The explicit
numPartitions also means AQE will NOT coalesce it back down (AQE only
coalesces its own shuffle outputs, byte-sized — which is exactly how
the single-task plans happened: 600 KB of docs coalesce to 1 partition
even when each row costs milliseconds of compute downstream).

The probe is Catalyst's own cost-model size (optimizedPlan stats), not
``df.rdd.getNumPartitions()`` — the RDD conversion forced a second
full plan analysis + physical planning per guarded query build. Stats
come from the same plan object the query will execute, so reading them
is free, and for the scan-shaped frames this guard runs on (every call
site is a fresh parquet load) sizeInBytes is the exact on-disk size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# Catalyst's "unknown size" default is Long.MaxValue-ish (8 EB); any
# estimate at or beyond this means "no stats — assume big" and the
# fan_out guard must treat it as already-parallel (no-op), which is
# also the safe direction at scale.
_UNKNOWN_SIZE = 1 << 62


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated output size of `df` in bytes (on-disk size
    for parquet scans; conservative propagation elsewhere). Reads the
    already-analyzed plan — no job, no RDD conversion."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _bytes_conf(df: DataFrame, key: str, default: int) -> int:
    raw = df.sparkSession.conf.get(key, str(default))
    s = raw.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def under_parallelized(df: DataFrame, min_parts: int | None = None) -> bool:
    """True when the scan is estimated to yield fewer partitions than
    the cluster can run in parallel — the trigger for `fan_out` and for
    pinning computed projections against filter push-through (see
    plans/corpus_queries.py). Estimate = plan size / maxPartitionBytes
    (the split rule FileSourceScan itself uses, modulo row-group
    rounding — close enough for a greater/less-than-parallelism test)."""
    size = plan_size_bytes(df)
    if size >= _UNKNOWN_SIZE:
        return False  # no stats: assume big, never shuffle on a guess
    max_part = _bytes_conf(df, "spark.sql.files.maxPartitionBytes", 128 << 20)
    est_parts = max(1, (size + max_part - 1) // max_part)
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    return est_parts < target


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition up to `min_parts` (default: defaultParallelism) when
    the current plan has fewer partitions; unchanged otherwise."""
    if not under_parallelized(df, min_parts):
        return df
    return df.repartition(
        min_parts or df.sparkSession.sparkContext.defaultParallelism
    )


# --- driver-local tier for iterative loops --------------------------------
#
# The iterative operators (min-label CC, star-CC, pagerank, BPE train)
# run a driver-sequential loop whose every round is a Spark job over a
# frame the size of the loop input. At convergence scale that input is
# KB-sized, so each round costs job scheduling, not compute (measured
# at sf0.01: 15 builder jobs for a 5-node pagerank, 28 for 24 BPE
# merges, each job mostly fixed overhead). When the loop input
# (the pinned pair list, the aggregated edge list, the word table) has
# at most `local_rows_max(spark)` rows, the operator collects it in ONE
# job and runs the same round-synchronous arithmetic in plain Python on
# the driver, handing the result back through `rows_frame`.
#
# Scale safety: the threshold (default 100k rows, a few MB of driver
# memory; conf key spark.nba_pipeline.iterative.narrowRowsMax) bounds
# what is ever collected. The probe is a LIMIT, so above the threshold
# it stops after T + 1 rows of its input, and the Spark rounds then run
# as before, with adaptive execution on. No session conf is touched on
# either path.

_LOCAL_ROWS_CONF = "spark.nba_pipeline.iterative.narrowRowsMax"
_LOCAL_ROWS_DEFAULT = 100_000
# DataFrame.limit takes a JVM int; the probe asks for one row past the cap
_LIMIT_MAX = (1 << 31) - 2


def local_rows_max(spark) -> int:
    """Row threshold at or under which an iterative loop runs on the
    driver instead of as one Spark job per round."""
    try:
        return int(spark.conf.get(_LOCAL_ROWS_CONF, str(_LOCAL_ROWS_DEFAULT)))
    except ValueError:
        return _LOCAL_ROWS_DEFAULT


def collect_if_small(df: DataFrame) -> list | None:
    """The rows of ``df`` when it has at most ``local_rows_max`` of them,
    else None. Size probe and collect are one ``limit(T + 1)`` action,
    so at most T + 1 rows ever reach the driver."""
    cap = min(local_rows_max(df.sparkSession), _LIMIT_MAX)
    if cap < 0:
        return None
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def rows_frame(spark, rows: list, schema: StructType) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` shipped as Arrow batches.
    The JVM builds the frame from the batches itself; a plain Python
    list would travel as a pickled RDD whose re-serialization starts
    Python worker processes on first use (measured on a 4-core VM: ~200 MB
    more peak RSS on perfbench's llm_curation, which otherwise starts no
    Python workers)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in schema.fields]
    return spark.createDataFrame(pa.table(cols, schema=to_arrow_schema(schema)), schema)
