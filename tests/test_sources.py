"""Source/sink coverage: schema checks, partitioned writes, CSV staging,
cloud sink gating."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.sources import SCHEMAS, load_table, write_partitioned
from nba_pipeline_spark.sources.cloud import (
    ConnectorMissing,
    save_as_warehouse_table,
    write_bigquery,
    write_gcs_parquet,
)
from conftest import SF_DIR


def test_load_table_schema_names(spark):
    for name in SCHEMAS:
        df = load_table(spark, SF_DIR, name)
        assert df.columns == [f.name for f in SCHEMAS[name].fields]


def test_events_nanos_normalized_to_timestamp(spark):
    df = load_table(spark, SF_DIR, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    # values survive the nanos->micros conversion
    r = df.agg(F.min("ts"), F.max("ts")).collect()[0]
    assert r[0].year == 2024 and r[1].year == 2024


def test_unknown_table_raises(spark):
    with pytest.raises(KeyError):
        load_table(spark, SF_DIR, "nope")


def test_write_partitioned_roundtrip(spark, tmp_path):
    df = load_table(spark, SF_DIR, "orders").withColumn("y", F.year("o_orderdate"))
    path = str(tmp_path / "orders_part")
    write_partitioned(df, path, ["y"])
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    assert back.filter(F.col("y") == 1997).count() == df.filter(F.col("y") == 1997).count()


def test_cloud_sinks_gate_cleanly(spark):
    df = load_table(spark, SF_DIR, "region")
    with pytest.raises(ConnectorMissing, match="gcs-connector"):
        write_gcs_parquet(df, "bucket", "raw/region", [])
    with pytest.raises(ConnectorMissing, match="bigquery"):
        write_bigquery(df, "region", "all_nba_data", "tmp-bucket")


def test_warehouse_table_local(spark):
    df = load_table(spark, SF_DIR, "region")
    save_as_warehouse_table(df, "wh_region")
    assert spark.sql("SELECT count(*) AS n FROM wh_region").collect()[0]["n"] == 5


def test_read_evolved_merges_schema_and_checks_contract(spark, tmp_path):
    """Files written before a column existed surface NULLs for it;
    missing contract columns fail at the source boundary."""
    from nba_pipeline_spark.sources.registry import read_evolved

    lake = str(tmp_path / "lake")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(f"{lake}/y=1997")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id int, v string, score double"
    ).write.parquet(f"{lake}/y=1998")

    df = read_evolved(spark, lake, required=["id", "v", "score"])
    rows = {r["id"]: (r["v"], r["score"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}  # old file: NULL score

    with pytest.raises(ValueError, match="missing contract columns"):
        read_evolved(spark, lake, required=["id", "nope"])


def test_jsonl_corrupt_record_channel(spark, tmp_path):
    """PERMISSIVE: bad lines land whole in the corrupt column (other
    fields NULL); DROPMALFORMED silently drops them; the clean/
    quarantine split accounts for every input line."""
    from pyspark.sql import types as T

    from nba_pipeline_spark.sources import read_jsonl
    from nba_pipeline_spark.sources.registry import split_corrupt

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        '{"id": 2, "v": "b"}\n'
        'THIS IS NOT JSON\n'
        '{"id": "not-an-int", "v": "c"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    df = read_jsonl(spark, str(p), schema)
    clean, quarantine = split_corrupt(df)
    assert clean.count() + quarantine.count() == 4
    assert sorted(r["id"] for r in clean.collect()) == [1, 2]
    # the raw offending line is preserved for replay/debugging
    assert any("NOT JSON" in r["_corrupt_record"] for r in quarantine.collect())

    dropped = read_jsonl(spark, str(p), schema, mode="DROPMALFORMED", corrupt_col=None)
    assert sorted(r["id"] for r in dropped.select("id").collect()) == [1, 2]


def test_observe_metrics_piggyback_on_action(spark):
    """df.observe(): operational metrics (row count, sum, null count)
    computed DURING the action — no second scan. The way a 100 TB
    ingest reports volume/quality without doubling its cost."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from nba_pipeline_spark.sources import load_table
    from conftest import SF_DIR

    obs = Observation("ingest_metrics")
    df = load_table(spark, SF_DIR, "supplier").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("s_acctbal").cast("decimal(18,4)")).cast("double").alias("sum_bal"),
        F.sum(F.col("s_name").isNull().cast("int")).alias("null_names"),
    )
    df.write.mode("overwrite").parquet("/tmp/nba_spark_lake/observe_sink")
    m = obs.get
    direct = load_table(spark, SF_DIR, "supplier").agg(
        F.count(F.lit(1)), F.sum(F.col("s_acctbal").cast("decimal(18,4)")).cast("double")
    ).first()
    assert m["n_rows"] == direct[0]
    assert m["sum_bal"] == direct[1]
    assert m["null_names"] == 0


def test_html_tables_python_datasource(spark):
    """Spark-4 Python DataSource over recorded pages: one input
    partition per file (the parse runs on executors), rows match a
    direct parse_tables call, header rows carry row_idx -1."""
    from nba_pipeline_spark.sources.html_parse import parse_tables
    from nba_pipeline_spark.sources.python_datasource import register_html_source

    register_html_source(spark)
    fixdir = "tests/fixtures/html"
    df = spark.read.format("html_tables").load(fixdir)

    import os
    n_files = len([f for f in os.listdir(fixdir) if f.endswith(".html")])
    assert df.rdd.getNumPartitions() == n_files  # partition-per-page

    got = df.filter("file = 'games_NBA_1997.html' AND table_idx = 0").collect()
    with open(f"{fixdir}/games_NBA_1997.html", "rb") as fh:
        want = parse_tables(fh.read())[0]
    hdr = [r for r in got if r["is_header"]]
    data = sorted((r for r in got if not r["is_header"]), key=lambda r: r["row_idx"])
    assert len(hdr) == 1 and hdr[0]["row_idx"] == -1
    assert list(hdr[0]["cells"]) == want["header"]
    assert [list(r["cells"]) for r in data] == [list(r) for r in want["rows"]]


def test_html_tables_stream_source_incremental_pages(spark, tmp_path):
    """Custom streaming source: pages arriving between micro-batches
    are picked up exactly once (file-name high-water-mark offset in
    the checkpoint); a restart resumes AFTER the committed offset."""
    import shutil

    from nba_pipeline_spark.sources.python_datasource import register_html_source

    register_html_source(spark)
    fixdir = "tests/fixtures/html"
    feed = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    import os
    os.makedirs(feed)

    def drain():
        q = (
            spark.readStream.format("html_tables").option("path", feed).load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    shutil.copy(f"{fixdir}/games_NBA_1997.html", f"{feed}/a_1997.html")
    drain()
    files1 = {r["file"] for r in spark.read.parquet(out).select("file").distinct().collect()}
    assert files1 == {"a_1997.html"}

    shutil.copy(f"{fixdir}/games_NBA_2019.html", f"{feed}/b_2019.html")
    drain()  # same checkpoint: only the NEW page is read
    rows = spark.read.parquet(out).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file"], 0)
        by_file[r["file"]] += 1
    assert set(by_file) == {"a_1997.html", "b_2019.html"}
    # exactly-once: page A's rows were not re-emitted by batch 2
    from nba_pipeline_spark.sources.html_parse import parse_tables
    with open(f"{fixdir}/games_NBA_1997.html", "rb") as fh:
        tables = parse_tables(fh.read())
    want_a = sum(len(t["rows"]) + (1 if t["header"] else 0) for t in tables)
    assert by_file["a_1997.html"] == want_a


def test_html_tables_pushdown_prunes_partitions(spark):
    """file = 'X' equality reaches the Python source's pushFilters and
    prunes the partition list to ONE page — no other file is opened."""
    from nba_pipeline_spark.sources.python_datasource import register_html_source

    register_html_source(spark)
    fixdir = "tests/fixtures/html"
    df = (
        spark.read.format("html_tables").load(fixdir)
        .filter("file = 'games_NBA_2019.html'")
    )
    assert df.rdd.getNumPartitions() == 1  # pruned from 7 pages
    files = {r["file"] for r in df.select("file").distinct().collect()}
    assert files == {"games_NBA_2019.html"}


def test_html_tables_pushdown_zero_match_returns_empty(spark, tmp_path):
    """A pushed file-equality that matches NO file (or an empty page
    dir) yields an empty DataFrame — pushdown must not change the
    semantics from empty-result to AnalysisException."""
    from nba_pipeline_spark.sources.python_datasource import register_html_source

    register_html_source(spark)
    fixdir = "tests/fixtures/html"
    df = (
        spark.read.format("html_tables").load(fixdir)
        .filter("file = 'does_not_exist.html'")
    )
    assert df.count() == 0
    assert df.columns == ["file", "table_idx", "row_idx", "is_header", "cells"]

    empty_dir = str(tmp_path / "no_pages")
    import os
    os.makedirs(empty_dir)
    assert spark.read.format("html_tables").load(empty_dir).count() == 0


def test_html_tables_large_page_single_partition_streams_rows(spark, tmp_path):
    """Split granularity is the PAGE (documented in partitions()):
    a page with thousands of rows is still one input partition — the
    parser yields rows lazily, so a big page is a long task, never a
    buffered-whole-page blowup; parallelism scales with page count."""
    from nba_pipeline_spark.sources.python_datasource import register_html_source

    register_html_source(spark)
    pages = str(tmp_path / "pages")
    import os
    os.makedirs(pages)
    rows = "".join(f"<tr><td>r{i}</td><td>{i}</td></tr>" for i in range(2000))
    with open(f"{pages}/big.html", "w") as fh:
        fh.write(f"<html><table><thead><tr><th>a</th><th>b</th></tr></thead>{rows}</table></html>")

    df = spark.read.format("html_tables").load(pages)
    assert df.rdd.getNumPartitions() == 1
    assert df.filter("NOT is_header").count() == 2000


def test_load_table_schema_cache_matches_inference(spark, tmp_path):
    """r12: load_table memoizes the INFERRED schema per file identity
    (mtime/size) so repeat reads skip footer re-inference. The cached
    read must be indistinguishable from a plain inference read, and
    rewriting the file (new mtime/size) must invalidate the entry."""
    import os
    import shutil
    import time as _time

    from nba_pipeline_spark.sources import registry as R

    # cached-read == inference-read on the real testdata, schema and rows
    for name in ("orders", "events", "documents"):
        path = f"{SF_DIR}/{name}.parquet"
        plain = spark.read.parquet(path)
        cached = load_table(spark, SF_DIR, name)
        # the normalization in load_table may cast timestamp encodings;
        # compare the raw reader output instead
        raw = spark.read.schema(R._inferred_schema(spark, path)).parquet(path)
        assert raw.schema == plain.schema
        assert raw.orderBy(raw.columns[0]).limit(5).collect() == \
            plain.orderBy(plain.columns[0]).limit(5).collect()
        assert cached.columns == [f.name for f in SCHEMAS[name].fields]

    # rewriting the file invalidates the cache entry (new mtime/size)
    d = tmp_path / "sfx"
    d.mkdir()
    p = str(d / "region.parquet")
    shutil.copy(f"{SF_DIR}/region.parquet", p)
    s1 = R._inferred_schema(spark, p)
    assert s1 is not None
    key_count = len(R._READ_SCHEMA_CACHE)
    # same file: hit, no new entry
    assert R._inferred_schema(spark, p) == s1
    assert len(R._READ_SCHEMA_CACHE) == key_count
    # rewrite with a different schema: must re-infer, not serve stale
    _time.sleep(0.01)
    spark.createDataFrame(
        [(1, "x", 2.0)], "r_regionkey int, r_name string, extra double"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "tmp_out"))
    part = [f for f in os.listdir(d / "tmp_out") if f.endswith(".parquet")][0]
    shutil.copy(str(d / "tmp_out" / part), p)
    s2 = R._inferred_schema(spark, p)
    assert [f.name for f in s2.fields] == ["r_regionkey", "r_name", "extra"]


def test_schema_memo_keys_on_the_file_not_its_name(spark, tmp_path):
    """A second name for the same file (a symlinked sf alias, as the
    benchmark gives every cold pass) reuses the memoized schema with no
    inference job; a file rewritten under the same name does not."""
    import os
    import shutil

    from nba_pipeline_spark.sources import registry as R

    d = tmp_path / "sf"
    d.mkdir()
    p = d / "region.parquet"
    shutil.copy(f"{SF_DIR}/region.parquet", p)
    alias = tmp_path / "alias"
    os.symlink(d, alias)
    tracker = spark.sparkContext.statusTracker()

    s1 = R._inferred_schema(spark, str(p))
    entries = len(R._READ_SCHEMA_CACHE)
    jobs = set(tracker.getJobIdsForGroup(None))
    assert R._inferred_schema(spark, str(alias / "region.parquet")) == s1
    assert len(R._READ_SCHEMA_CACHE) == entries
    assert set(tracker.getJobIdsForGroup(None)) == jobs

    # a rewrite lands a new file under the old name: a miss, re-inferred
    out = tmp_path / "out"
    spark.createDataFrame([(1, "x", 2.0)], "r_regionkey int, r_name string, extra double") \
        .coalesce(1).write.parquet(str(out))
    part = next(f for f in os.listdir(out) if f.endswith(".parquet"))
    os.replace(out / part, p)
    s2 = R._inferred_schema(spark, str(alias / "region.parquet"))
    assert s2.names == ["r_regionkey", "r_name", "extra"]
    assert len(R._READ_SCHEMA_CACHE) == entries + 1


@pytest.mark.parametrize("encoding", ["ntz", "nanos", "utc"])
def test_load_table_normalizes_every_timestamp_encoding(spark, tmp_path, encoding):
    """events.ts written as timestamp[us] without a zone (read as
    TimestampNTZ), TIMESTAMP(NANOS) (read as long) or UTC-adjusted
    timestamp[us] loads as one schema and one row set: the pinned
    schema string and sha256 of the sorted JSON rows."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = Path(__file__).resolve().parent.parent / "perfbench/testdata/sf0.001/events.parquet"
    t = pq.read_table(src)
    typ = {"ntz": pa.timestamp("us"), "nanos": pa.timestamp("ns"),
           "utc": pa.timestamp("us", tz="UTC")}[encoding]
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t.column("ts").cast(typ))
    pq.write_table(t, tmp_path / "events.parquet")
    df = load_table(spark, str(tmp_path), "events")
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}{'' if f.nullable else ' NOT NULL'}"
        for f in df.schema
    )
    rows = sorted(r[0] for r in df.selectExpr("to_json(struct(*))").collect())
    assert schema == (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    assert len(rows) == 1000
    assert hashlib.sha256("\n".join(rows).encode()).hexdigest() == (
        "757a5dded82489d476fdec822b057a16b42430a8ac0a0010433cc46e3d65a804"
    )
