"""Tests for the sanctioned UDF escape hatches and the stateful
streaming period counter (state must carry across micro-batches)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.functions.udfs import (
    normalize_embedding,
    register_parity_udfs,
    zscore_per_group,
)
from nba_pipeline_spark.functions.vectors import norm_sql
from nba_pipeline_spark.operators.windows import running_count_with_reset
from nba_pipeline_spark.streaming.stateful import streaming_period_counter
from conftest import SF_DIR


def test_pandas_udf_normalize(spark):
    from nba_pipeline_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    out = emb.select(normalize_embedding(F.col("embedding")).alias("nv"))
    norms = [r["n"] for r in out.select(F.expr(norm_sql("nv")).alias("n")).collect()]
    assert all(abs(n - 1.0) < 1e-9 for n in norms)


def test_apply_in_pandas_zscore(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 10.0)],
        ["k", "v"],
    )
    out = zscore_per_group(df, ["k"], "v", "z").collect()
    by_kv = {(r["k"], r["v"]): r["z"] for r in out}
    assert abs(by_kv[("a", 2.0)]) < 1e-12
    assert abs(by_kv[("a", 3.0)] - 1.0) < 1e-12
    assert by_kv[("b", 10.0)] == 0.0  # zero-variance group


def test_registered_udf_matches_builtin(spark):
    register_parity_udfs(spark)
    df = spark.createDataFrame([("11:43.0",), ("1st Q",), ("0:59.9",)], ["t"])
    df.createOrReplaceTempView("t_mmss")
    got = spark.sql(
        "SELECT mmss_to_seconds_py(t) AS s FROM t_mmss"
    ).collect()
    from nba_pipeline_spark.functions.scalar import mmss_to_seconds

    want = df.select(F.expr(mmss_to_seconds("t")).alias("s")).collect()
    assert [r["s"] for r in got] == [r["s"] for r in want]


@pytest.fixture()
def staged_pbp_stream(spark, tmp_path):
    """Two parquet files -> two micro-batches; game g1 spans both, so the
    counter must continue from state."""
    batch1 = [("g1", 1, True), ("g1", 2, False), ("g1", 3, False)]
    batch2 = [("g1", 4, True), ("g1", 5, False), ("g2", 6, True), ("g2", 7, False)]
    d = str(tmp_path / "pbp_stream")
    os.makedirs(d)
    for i, rows in enumerate([batch1, batch2]):
        spark.createDataFrame(rows, "game_id string, seq long, is_reset boolean").coalesce(
            1
        ).write.parquet(f"{d}/f{i}")
        # one file per subdir won't stream; flatten files into d with ordered names
    files = []
    for i in range(2):
        sub = f"{d}/f{i}"
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        dest = f"{d}/{i:03d}.parquet"
        shutil.move(f"{sub}/{part}", dest)
        shutil.rmtree(sub)
        os.utime(dest, (1000 + i, 1000 + i))  # deterministic processing order
        files.append(dest)
    return d


def test_stateful_forward_fill_across_batches(spark, tmp_path):
    from nba_pipeline_spark.streaming.stateful import streaming_forward_fill

    b1 = [("g1", 1, 5.0), ("g1", 2, None)]
    b2 = [("g1", 3, None), ("g1", 4, 9.0), ("g2", 5, None)]
    d = str(tmp_path / "ffill_stream")
    os.makedirs(d)
    for i, rows in enumerate([b1, b2]):
        sub = f"{d}/w{i}"
        spark.createDataFrame(rows, "game_id string, seq long, v double").coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{d}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{d}/{i:03d}.parquet", (1000 + i, 1000 + i))
    stream = (
        spark.readStream.schema("game_id string, seq long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        streaming_forward_fill(stream)
        .writeStream.format("memory")
        .queryName("t_ffill_state")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["game_id"], r["seq"]): r["filled"] for r in spark.table("t_ffill_state").collect()}
    # seq 3 is in batch 2 but carries the value from batch 1 (state!)
    assert got == {("g1", 1): 5.0, ("g1", 2): 5.0, ("g1", 3): 5.0, ("g1", 4): 9.0, ("g2", 5): None}


def test_stateful_period_counter_across_batches(spark, staged_pbp_stream):
    stream = (
        spark.readStream.schema("game_id string, seq long, is_reset boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_pbp_stream)
    )
    out = streaming_period_counter(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["game_id"], r["seq"]): r["period"]
        for r in spark.table("t_stateful").collect()
    }
    # batch equivalence: same data through the batch window operator
    all_rows = [("g1", 1, True), ("g1", 2, False), ("g1", 3, False),
                ("g1", 4, True), ("g1", 5, False), ("g2", 6, True), ("g2", 7, False)]
    batch_df = spark.createDataFrame(all_rows, "game_id string, seq long, is_reset boolean")
    want = {
        (r["game_id"], r["seq"]): r["period"]
        for r in running_count_with_reset(
            batch_df, ["game_id"], ["seq"], "is_reset", "period"
        ).collect()
    }
    assert got == want
    # the cross-batch carry: g1 seq4 reset AFTER first row -> period 2
    assert got[("g1", 4)] == 2 and got[("g2", 6)] == 1


def test_transform_with_state_plan_builds(spark, staged_pbp_stream):
    """The transformWithStateInPandas plan analyzes (schema + streaming
    flag) regardless of whether the protobuf runtime is present — only
    query START needs the Python runner."""
    from nba_pipeline_spark.streaming.stateful import streaming_period_counter_tws

    stream = (
        spark.readStream.schema("game_id string, seq long, is_reset boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_pbp_stream)
    )
    out = streaming_period_counter_tws(stream)
    assert out.isStreaming
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("game_id", "string"), ("seq", "bigint"), ("period", "bigint")
    ]


def test_transform_with_state_matches_apply_in_pandas(spark, staged_pbp_stream):
    """Spark 4 transformWithStateInPandas produces the same result as the
    applyInPandasWithState version, including cross-batch state carry."""
    from nba_pipeline_spark.streaming.stateful import (
        streaming_period_counter_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf not installed; transformWithState runner needs it")

    stream = (
        spark.readStream.schema("game_id string, seq long, is_reset boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_pbp_stream)
    )
    q = (
        streaming_period_counter_tws(stream)
        .writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["game_id"], r["seq"]): r["period"] for r in spark.table("t_tws").collect()
    }
    assert got == {
        ("g1", 1): 1, ("g1", 2): 1, ("g1", 3): 1,
        ("g1", 4): 2, ("g1", 5): 2,  # cross-batch: reset counted from state
        ("g2", 6): 1, ("g2", 7): 1,
    }


def test_weighted_mean_udaf(spark):
    from nba_pipeline_spark.functions.udfs import weighted_mean

    df = spark.createDataFrame(
        [("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 2.0), ("b", None, 9.0)],
        "g string, v double, w double",
    )
    got = {
        r["g"]: r["wm"]
        for r in df.groupBy("g").agg(weighted_mean("v", "w").alias("wm")).collect()
    }
    assert got["a"] == pytest.approx((10 * 1 + 20 * 3) / 4.0)
    assert got["b"] == pytest.approx(5.0)  # NULL value excluded pairwise


def test_ngram_udtf_emits_typed_rows(spark):
    from nba_pipeline_spark.functions.udfs import ngram_udtf

    spark.udtf.register("ngram_udtf", ngram_udtf)
    rows = spark.sql(
        "SELECT t.* FROM (SELECT 'the quick brown fox' AS s), LATERAL ngram_udtf(s) t"
    ).collect()
    assert [(r["ngram"], r["pos"]) for r in rows] == [
        ("the quick", 0),
        ("quick brown", 1),
        ("brown fox", 2),
    ]


def test_streaming_ewma_equals_batch_fold(spark, tmp_path):
    """The stateful streaming EWMA's last output per key across TWO
    micro-batches equals the batch array-fold (q_ewma's recurrence) —
    the state carries the accumulator across the batch boundary."""
    import pandas as pd

    from nba_pipeline_spark.streaming.stateful import streaming_ewma

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [(1, 0, 10.0), (1, 1, 20.0), (2, 0, 7.0)]
    rows2 = [(1, 2, 15.0), (1, 3, 0.0), (2, 1, 14.0)]
    schema = "user_id long, seq long, value double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(
        str(src / "b1")
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("overwrite").parquet(
        str(src / "b2")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    q = (
        streaming_ewma(stream)
        .writeStream.format("memory")
        .queryName("t_ewma")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["seq"]): r["ewma"] for r in spark.table("t_ewma").collect()
    }

    def fold(vals):
        acc = vals[0]
        for x in vals[1:]:
            acc = 0.1 * x + 0.9 * acc
        return acc

    assert got[(1, 3)] == pytest.approx(fold([10.0, 20.0, 15.0, 0.0]), abs=1e-12)
    assert got[(2, 1)] == pytest.approx(fold([7.0, 14.0]), abs=1e-12)
    assert got[(1, 0)] == 10.0


def test_tws_skip_reason_cannot_silently_widen():
    """VERDICT r7 next #8: the suite's one environment-gated skip must
    track EXACTLY its documented cause (google.protobuf absent). If
    protobuf is present, tws_available() must be True — any other
    hidden failure mode would widen the skip silently; if absent, the
    sibling test above skips with that precise reason and the
    applyInPandasWithState twin still covers the semantics (its
    stream==batch test never skips)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        have = True
    except ImportError:
        have = False
    from nba_pipeline_spark.streaming.stateful import tws_available

    assert tws_available() == have
