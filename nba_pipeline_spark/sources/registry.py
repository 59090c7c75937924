"""Schema-checked sources/sinks for the lake tables.

Reference parity (SURVEY.md §2.1): the reference stages CSV and
converts to Parquet per season partition
(``scrape_data_to_gcs.py:34-46,196-266``); here every table has an
explicit StructType, reads go straight to Parquet, and partitioned
writes use ``partitionBy`` so partition pruning works at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import sql_ident

# Explicit schemas for the driver testdata tables (FIXTURES.md §A).
# Inference is banned inside the engine; these are asserted on read.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(SCHEMAS)


# r12 (guide §6 file listing / §7.3 planning time): spark.read.parquet()
# re-infers the schema with a footer read on EVERY call (~90 ms measured
# vs ~20 ms with an explicit schema). The inferred schema is pure plan
# METADATA — memoizing it per (file identity, inference-relevant confs)
# and handing it back to the reader skips re-inference while the data is
# still scanned fresh from parquet at every execution (no rows, results
# or intermediates are cached; conf keys cover the session settings that
# change what inference returns). The identity is the stat of what the
# path resolves to, not the path string: a symlinked alias of an sf dir
# shares its target's entry, and regenerating the testdata changes
# inode, mtime or size and so misses.
_READ_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def _inferred_schema(spark: SparkSession, path: str) -> T.StructType | None:
    import os

    try:
        st = os.stat(path)
    except OSError:
        return None  # non-local path: fall back to plain inference
    key = (
        st.st_dev,
        st.st_ino,
        st.st_mtime_ns,
        st.st_size,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ", "true"),
        spark.conf.get("spark.sql.parquet.binaryAsString", "false"),
        spark.conf.get("spark.sql.parquet.int96AsTimestamp", "true"),
    )
    sch = _READ_SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _READ_SCHEMA_CACHE[key] = sch
    return sch


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one lake table; assert column names match the declared schema."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    sch = _inferred_schema(spark, path)
    if sch is not None:
        df = spark.read.schema(sch).parquet(path)
    else:
        df = spark.read.parquet(path)
    expected = [f.name for f in SCHEMAS[name].fields]
    if df.columns != expected:
        raise ValueError(f"schema drift for {name}: {df.columns} != {expected}")
    # Normalize timestamp physical encodings to TimestampType:
    # - TIMESTAMP(NANOS) read as long (spark.sql.legacy.parquet.nanosAsLong):
    #   nanos are micro-aligned in the testdata (verified: epoch_ns % 1000 == 0).
    # - timestamp[us] without isAdjustedToUTC → TimestampNTZType under
    #   spark.sql.parquet.inferTimestampNTZ; session tz is UTC, so the cast
    #   preserves the wall-clock values byte-for-byte.
    # All of them land in one order-keeping projection, built only when
    # some column needs one.
    fixes = {}
    for field in SCHEMAS[name].fields:
        if isinstance(field.dataType, T.TimestampType):
            got, q = df.schema[field.name].dataType, sql_ident(field.name)
            if isinstance(got, T.LongType):
                fixes[field.name] = f"timestamp_micros({q} div 1000) AS {q}"
            elif isinstance(got, T.TimestampNTZType):
                fixes[field.name] = f"CAST({q} AS TIMESTAMP) AS {q}"
    return df.selectExpr(*(fixes.get(c, sql_ident(c)) for c in expected)) if fixes else df


def parquet_ts_encoding(path: str, col: str) -> str:
    """Physical encoding of a parquet timestamp column: ``"nanos"``
    (TIMESTAMP(NANOS) — Spark reads as long under nanosAsLong),
    ``"ntz"`` (no UTC adjustment — Spark reads as TimestampNTZ), or
    ``"utc"`` (instant-adjusted — plain TimestampType).

    File-stream sources need the schema up front, so the batch reader's
    inspect-what-arrived normalization (load_table) is resolved here by
    probing one footer instead — a metadata-only read.
    """
    import pyarrow.parquet as pa_pq
    import pyarrow.types as pa_types

    t = pa_pq.read_schema(path).field(col).type
    if not pa_types.is_timestamp(t):
        raise ValueError(f"{path}:{col} is {t}, not a parquet timestamp")
    if t.unit == "ns":
        return "nanos"
    return "utc" if t.tz else "ntz"


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    if schema is not None:
        names = [f.name for f in schema.fields]
        missing = set(names) - set(df.columns)
        if missing:
            raise ValueError(f"missing columns in {path}: {sorted(missing)}")
        df = df.select(*names)
    return df


def read_evolved(
    spark: SparkSession, path: str, required: list[str] | None = None
) -> DataFrame:
    """Schema-evolution-tolerant lake read (reference analog: yearly
    re-scrapes changing shape across seasons, scrape_data_to_gcs.py's
    per-year objects). ``mergeSchema`` unions every file footer's
    schema; files written before a column existed surface NULLs for it.
    `required` pins the contract columns a downstream pipeline needs —
    fail fast at the source boundary, not 40 operators later.

    Scale note: mergeSchema reads every file footer at planning time
    (driver-side listing); on a 100 TB lake pin the schema in a
    catalog / read_parquet(schema=...) instead and reserve this for
    exploratory reads — which is why it's a separate entry point.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    missing = set(required or []) - set(df.columns)
    if missing:
        raise ValueError(f"missing contract columns in {path}: {sorted(missing)}")
    return df


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    """Reference S3/S5 (``pd.read_csv`` / ``pv.read_csv``): schema-checked CSV scan."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str | None = "_corrupt_record",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Schema-checked JSON-lines scan with an explicit bad-row channel.

    A 100 TB ingest cannot die on one malformed line (the reference's
    analog: try/except-continue around every fetch, games.py:21-27).
    PERMISSIVE parsing routes unparseable lines into ``corrupt_col``
    (added to the schema here) instead of nulling them silently —
    downstream splits the frame on ``corrupt_col IS NULL`` into the
    clean table and a quarantine table. ``mode`` passes through for
    DROPMALFORMED / FAILFAST when silence or loudness is wanted.
    """
    full = schema
    if corrupt_col is not None and mode == "PERMISSIVE":
        full = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
        reader = spark.read.schema(full).option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    else:
        reader = spark.read.schema(full)
    return reader.option("mode", mode).json(path)


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE-parsed frame into (clean, quarantine).

    Spark refuses plans that reference ONLY the corrupt column (the
    parser would have to re-run just to rebuild it), so the frame is
    persisted first — which is what a real quarantine job does anyway:
    one parse pass feeding two sinks. Caller unpersists when both
    branches are written.
    """
    df = df.persist()
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull())
    return clean, quarantine


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet") -> None:
    """Reference S7 partitioned lake layout (one object per season,
    ``scrape_data_to_gcs.py:196-266``) -> directory partitions that Spark
    prunes statically and dynamically at 100 TB."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)
