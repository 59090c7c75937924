"""Streaming batch-equivalence (SURVEY §5.5): the same window
expressions over readStream + Trigger.AvailableNow must equal the batch
results on the events table."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from nba_pipeline_spark.plans.streaming_queries import AGGS
from nba_pipeline_spark.sources import load_table
from nba_pipeline_spark.streaming.windows import (
    read_events_stream,
    run_available_now,
    session_agg,
    streaming_dedup,
    tumbling_agg,
    with_watermark,
)
from conftest import SF_DIR


def _norm(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.reindex(sorted(pdf.columns), axis=1).sort_values(
        by=sorted(pdf.columns), ignore_index=True
    )


def test_tumbling_stream_equals_batch(spark):
    batch = tumbling_agg(load_table(spark, SF_DIR, "events"), "ts", "1 hour", ["event_type"], AGGS())
    stream = tumbling_agg(read_events_stream(spark, SF_DIR), "ts", "1 hour", ["event_type"], AGGS())
    got = run_available_now(stream, "t_tumbling")
    pd.testing.assert_frame_equal(_norm(got), _norm(batch))


def test_session_stream_equals_batch(spark):
    ev_b = load_table(spark, SF_DIR, "events")
    batch = session_agg(ev_b, "ts", "30 minutes", ["user_id"], AGGS())
    ev_s = with_watermark(read_events_stream(spark, SF_DIR), "ts", "1 hour")
    stream = session_agg(ev_s, "ts", "30 minutes", ["user_id"], AGGS())
    got = run_available_now(stream, "t_session")
    pd.testing.assert_frame_equal(_norm(got), _norm(batch))


def test_sliding_stream_equals_batch(spark):
    from nba_pipeline_spark.streaming.windows import sliding_agg

    batch = sliding_agg(
        load_table(spark, SF_DIR, "events"), "ts", "1 hour", "15 minutes", ["event_type"], AGGS()
    )
    stream = sliding_agg(
        read_events_stream(spark, SF_DIR), "ts", "1 hour", "15 minutes", ["event_type"], AGGS()
    )
    got = run_available_now(stream, "t_sliding")
    pd.testing.assert_frame_equal(_norm(got), _norm(batch))


def test_streaming_dedup_drops_resent_keys(spark):
    ev = read_events_stream(spark, SF_DIR)
    doubled = ev.unionByName(ev)  # simulate at-least-once redelivery
    deduped = streaming_dedup(doubled, ["event_id"], "ts", "1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.table("t_dedup").count()
    n_batch = load_table(spark, SF_DIR, "events").count()
    assert n == n_batch


def test_interval_join_stream_equals_batch(spark):
    """T8: the stream-stream interval join (purchase<-click attribution)
    equals the identical batch join plan."""
    from nba_pipeline_spark.streaming.windows import interval_join

    def branches(ev):
        p = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
        c = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
        return p, c

    batch = interval_join(*branches(load_table(spark, SF_DIR, "events")),
                          "user_id", "ts", "ts", "10 MINUTES")
    stream = interval_join(*branches(read_events_stream(spark, SF_DIR)),
                           "user_id", "ts", "ts", "10 MINUTES")
    got = run_available_now(stream, "t_interval_join", output_mode="append")
    assert got.count() > 0
    pd.testing.assert_frame_equal(_norm(got), _norm(batch))


def test_stream_writes_partitioned_lake(spark, tmp_path):
    """T1 sink side: the stream lands in a partitionBy(event_type)
    parquet lake with a checkpoint; the drained lake equals the batch
    table row-for-row, and the directory layout prunes like any other
    partitioned table."""
    import glob

    ev = read_events_stream(spark, SF_DIR)
    out = str(tmp_path / "events_lake")
    ckpt = str(tmp_path / "ckpt")
    q = (
        ev.writeStream.format("parquet")
        .partitionBy("event_type")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert glob.glob(f"{out}/event_type=*"), "no partition directories"
    back = spark.read.parquet(out)
    batch = load_table(spark, SF_DIR, "events")
    assert back.count() == batch.count()
    got = _norm(back.select("event_id", "event_type", "user_id"))
    want = _norm(batch.select("event_id", "event_type", "user_id"))
    pd.testing.assert_frame_equal(got, want)


def test_foreach_batch_upsert_sink_idempotent(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite: streamed lake equals
    the batch write, and re-running the SAME sink over the same data
    (the replay case) leaves the lake unchanged — effectively exactly
    once."""
    from nba_pipeline_spark.sources import load_table
    from nba_pipeline_spark.streaming.sinks import (
        run_foreach_batch,
        upsert_partitions_sink,
    )
    from nba_pipeline_spark.streaming.windows import read_events_stream

    lake = str(tmp_path / "lake")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    cols = ["event_id", "user_id", "event_type", "value"]

    stream = read_events_stream(spark, SF_DIR).select(*cols)
    run_foreach_batch(stream, upsert_partitions_sink(lake, "event_type"), ck1)
    got1 = spark.read.parquet(lake).toPandas()

    batch = load_table(spark, SF_DIR, "events").select(*cols).toPandas()

    def norm(pdf):
        pdf = pdf.reindex(sorted(pdf.columns), axis=1)
        return pdf.sort_values(by=sorted(pdf.columns), ignore_index=True).astype(
            {"event_type": str}
        )

    pd.testing.assert_frame_equal(norm(got1), norm(batch))

    # replay: a FRESH checkpoint re-delivers everything; the dynamic
    # overwrite must leave the lake identical, not doubled
    stream2 = read_events_stream(spark, SF_DIR).select(*cols)
    run_foreach_batch(stream2, upsert_partitions_sink(lake, "event_type"), ck2)
    got2 = spark.read.parquet(lake).toPandas()
    pd.testing.assert_frame_equal(norm(got2), norm(batch))


def test_foreach_batch_checkpoint_resume_processes_nothing_new(spark, tmp_path):
    """Resuming with the SAME checkpoint must process zero new batches
    against an unchanged source (the batch-id ledger, not the sink's
    idempotency, provides exactly-once here) — the lake stays
    byte-identical."""
    from nba_pipeline_spark.streaming.sinks import (
        run_foreach_batch,
        upsert_partitions_sink,
    )
    from nba_pipeline_spark.streaming.windows import read_events_stream

    lake = str(tmp_path / "lake")
    ck = str(tmp_path / "ck")
    cols = ["event_id", "user_id", "event_type", "value"]

    calls = []

    def counting_sink(batch_df, batch_id):
        calls.append(batch_id)
        upsert_partitions_sink(lake, "event_type")(batch_df, batch_id)

    stream = read_events_stream(spark, SF_DIR).select(*cols)
    run_foreach_batch(stream, counting_sink, ck)
    first_calls = list(calls)
    assert first_calls  # the initial drain processed at least one batch
    got1 = spark.read.parquet(lake).count()

    # resume: same checkpoint, unchanged source -> ledger says done
    stream2 = read_events_stream(spark, SF_DIR).select(*cols)
    run_foreach_batch(stream2, counting_sink, ck)
    assert calls == first_calls  # zero new batch deliveries
    assert spark.read.parquet(lake).count() == got1


def test_stream_static_enrich_equals_batch(spark):
    """T10: stream-static dim join (no watermark, no join state) then
    tumbling rollup — the streamed result must equal the batch plan,
    sharing the exact same plan body (_enriched_hourly)."""
    from nba_pipeline_spark.plans.streaming_queries import _enriched_hourly

    dim = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    batch = _enriched_hourly(load_table(spark, SF_DIR, "events"), dim)
    stream = _enriched_hourly(read_events_stream(spark, SF_DIR), dim)
    got = run_available_now(stream, "t_enrich")
    pd.testing.assert_frame_equal(_norm(got), _norm(batch))


def test_enrich_with_dim_rejects_unbounded_directions(spark):
    import pytest

    from nba_pipeline_spark.streaming.windows import enrich_with_dim

    a = spark.createDataFrame([(1,)], "k int")
    b = spark.createDataFrame([(1,)], "j int")
    with pytest.raises(ValueError):
        enrich_with_dim(a, b, a["k"] == b["j"], "full")


def test_dedup_ingest_sink_cross_batch_and_replay(spark, tmp_path):
    """Streaming corpus ingestion: duplicates WITHIN a batch collapse to
    the min-id representative, duplicates ACROSS batches are rejected by
    the seen-hash anti join, a gate filters pre-dedup, and a full replay
    (fresh checkpoint, same batch ids) converges to the same lake."""
    import os, shutil

    from nba_pipeline_spark.streaming.sinks import dedup_ingest_sink, run_foreach_batch

    src = str(tmp_path / "docs")
    os.makedirs(src)
    batches = [
        [(1, "Alpha text"), (2, "alpha TEXT"), (3, "beta")],   # 2 dups of 1
        [(4, "ALPHA text"), (5, "gamma"), (6, "")],            # 4 dups batch-0's 1; 6 gated
        [(7, "beta"), (8, "delta")],                           # 7 dups batch-0's 3
    ]
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, "doc_id int, text string").coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    lake = str(tmp_path / "lake")
    seen = str(tmp_path / "seen")
    gate = lambda df: df.filter(F.length("text") > 0)

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id int, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_foreach_batch(
            stream,
            dedup_ingest_sink(lake, seen, "text", "doc_id", gate=gate),
            str(tmp_path / ckpt),
        )

    drain("ckpt1")
    got = {(r["doc_id"], r["text"]) for r in spark.read.parquet(lake).collect()}
    assert got == {(1, "Alpha text"), (3, "beta"), (5, "gamma"), (8, "delta")}

    drain("ckpt2")  # replay: overwrite-by-batch-dir layout must converge
    got2 = {(r["doc_id"], r["text"]) for r in spark.read.parquet(lake).collect()}
    assert got2 == got


def test_dedup_ingest_sink_overwrites_crashed_attempt(spark, tmp_path):
    """A crashed attempt leaves partial batch=0 output in BOTH sinks;
    the retry must overwrite it and must NOT let the stale seen-hashes
    anti-join the retry's own rows away."""
    import os, shutil

    from nba_pipeline_spark.streaming.sinks import dedup_ingest_sink, run_foreach_batch

    src = str(tmp_path / "docs")
    os.makedirs(src)
    sub = f"{src}/w0"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id int, text string"
    ).coalesce(1).write.parquet(sub)
    part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
    shutil.move(f"{sub}/{part}", f"{src}/000.parquet")
    shutil.rmtree(sub)

    lake, seen = str(tmp_path / "lake"), str(tmp_path / "seen")
    # fabricate the crashed attempt: batch=0 already holds this batch's
    # hashes (the dangerous case) plus a junk lake row
    from pyspark.sql import functions as SF

    spark.createDataFrame([(99, "junk")], "doc_id int, text string").write.parquet(
        f"{lake}/batch=0"
    )
    spark.createDataFrame([("alpha",), ("beta",)], "t string").select(
        SF.sha2(SF.lower(SF.col("t")), 256).alias("__h")
    ).write.parquet(f"{seen}/batch=0")

    stream = (
        spark.readStream.schema("doc_id int, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_foreach_batch(
        stream, dedup_ingest_sink(lake, seen, "text", "doc_id"), str(tmp_path / "ckpt")
    )
    got = {(r["doc_id"], r["text"]) for r in spark.read.parquet(lake).collect()}
    assert got == {(1, "alpha"), (2, "beta")}  # junk gone, rows not self-excluded


def test_neardup_ingest_sink_cross_batch_and_replay(spark, tmp_path):
    """Streaming NEAR-dup ingestion: batch N+1's docs are rejected when
    they near-duplicate (tier-3 MinHash candidates on shared shingles)
    a SETTLED doc — whose text was never re-read: the decision runs
    against the persisted signature table. In-batch near-dups collapse
    toward the min id; a replay with a fresh checkpoint converges."""
    import os, shutil

    from nba_pipeline_spark.streaming.sinks import (
        neardup_ingest_sink,
        run_foreach_batch,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest tonight")
    near = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest today")   # near-dup of base
    other = ("completely different subject matter entirely about spark "
             "partitions shuffles joins aggregates and windows at scale")

    src = str(tmp_path / "docs")
    os.makedirs(src)
    batches = [
        [(1, base), (2, near)],            # 2 near-dups 1 in-batch -> dropped
        [(3, near), (4, other)],           # 3 near-dups SETTLED 1 -> dropped
        [(5, other + " again today")],     # 5 near-dups settled 4 -> dropped
    ]
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, "doc_id int, text string").coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    lake = str(tmp_path / "lake")
    sigs = str(tmp_path / "sigs")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id int, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_foreach_batch(
            stream,
            neardup_ingest_sink(lake, sigs, "text", "doc_id"),
            str(tmp_path / ckpt),
        )

    drain("ckpt1")
    got = {r["doc_id"] for r in spark.read.parquet(lake).collect()}
    assert got == {1, 4}
    # the signature lake holds exactly the accepted docs' signatures
    sig_ids = {r["doc_id"] for r in spark.read.parquet(f"{sigs}/batch=0").collect()}
    assert sig_ids == {1}

    drain("ckpt2")  # replay converges on the same lake
    got2 = {r["doc_id"] for r in spark.read.parquet(lake).collect()}
    assert got2 == got


def test_token_tally_sink_stream_equals_batch_and_replay(spark, tmp_path):
    """Per-source token tallies maintained incrementally over 3
    micro-batches equal the one-shot batch aggregate over the same
    docs; a full replay (fresh checkpoint, same batch ids) is skipped
    by the snapshot-commit layout — no double count."""
    import os, shutil

    from nba_pipeline_spark.operators.cdc import read_maintained_view
    from nba_pipeline_spark.plans.streaming_queries import token_tally_batch
    from nba_pipeline_spark.streaming.sinks import token_tally_sink

    src = str(tmp_path / "docs")
    os.makedirs(src)
    batches = [
        [(1, "web", "alpha beta gamma"), (2, "books", "one two")],
        [(3, "web", "delta"), (4, "code", "x = 1")],
        [(5, "books", "three four five six"), (6, "web", "")],
    ]
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(
            rows, "doc_id int, source string, text string"
        ).coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    view = str(tmp_path / "view")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id int, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        token_tally_sink(stream, view, str(tmp_path / ckpt)).awaitTermination()

    drain("ckpt1")
    got = {
        (r["source"], r["n_docs"], int(r["n_tokens"]))
        for r in read_maintained_view(spark, view).collect()
    }
    batch = {
        (r["source"], r["n_docs"], int(r["n_tokens"]))
        for r in token_tally_batch(spark.read.parquet(src)).collect()
    }
    assert got == batch == {
        ("web", 3, 4),    # 3 + 1 + 0 tokens
        ("books", 2, 6),  # 2 + 4
        ("code", 1, 3),   # "x", "=", "1"
    }

    drain("ckpt2")  # replay converges
    got2 = {
        (r["source"], r["n_docs"], int(r["n_tokens"]))
        for r in read_maintained_view(spark, view).collect()
    }
    assert got2 == got


def test_quarantine_ingest_sink_dual_channel_and_replay(spark, tmp_path):
    """Streaming expectations gate: pass rows -> lake, fail rows ->
    quarantine with rule tags, per batch; a full replay converges (the
    batch-dir overwrite layout is idempotent)."""
    import os, shutil

    from pyspark.sql import functions as F

    from nba_pipeline_spark.streaming.sinks import (
        quarantine_ingest_sink,
        run_foreach_batch,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src)
    batches = [
        [(1, 10.0, "A"), (2, -5.0, "A")],
        [(3, 7.0, "Z"), (4, 1.0, "N")],
    ]
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, "id int, qty double, flag string").coalesce(
            1
        ).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    lake = str(tmp_path / "lake")
    quar = str(tmp_path / "quar")
    rules_fn = lambda: {
        "qty_positive": F.col("qty") > 0,
        "flag_domain": F.col("flag").isin("A", "N", "R"),
    }

    def drain(ckpt):
        stream = (
            spark.readStream.schema("id int, qty double, flag string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_foreach_batch(
            stream, quarantine_ingest_sink(lake, quar, rules_fn), str(tmp_path / ckpt)
        )

    drain("ckpt1")
    ok = {r["id"] for r in spark.read.parquet(f"{lake}/batch=*").collect()}
    assert ok == {1, 4}
    bad = {
        r["id"]: r["failed_rules"]
        for r in spark.read.parquet(f"{quar}/batch=*").collect()
    }
    assert bad == {2: "qty_positive", 3: "flag_domain"}

    drain("ckpt2")  # replay: same dirs rewritten, same contents
    ok2 = {r["id"] for r in spark.read.parquet(f"{lake}/batch=*").collect()}
    assert ok2 == ok


def test_pack_ingest_sink_stream_equals_batch_and_replay(spark, tmp_path):
    """Streaming sequence packing over 3 micro-batches equals the
    incremental batch fold over the same ingest order; a full replay
    (fresh checkpoint, same batch ids) is a tag-skipped no-op."""
    import os, shutil

    from nba_pipeline_spark.plans.corpus_queries import pack_batch
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.streaming.sinks import pack_ingest_sink

    src = str(tmp_path / "docs")
    os.makedirs(src)
    batches = [
        [(i, "w", "tok " * (i + 1)) for i in range(0, 4)],
        [(i, "w", "tok " * (i + 1)) for i in range(4, 7)],
        [(i, "w", "tok " * (i + 1)) for i in range(7, 10)],
    ]
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(
            rows, "doc_id int, source string, text string"
        ).coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    placed_lake = str(tmp_path / "placed")
    state_lake = str(tmp_path / "state")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id int, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pack_ingest_sink(
            stream, placed_lake, state_lake, str(tmp_path / ckpt)
        ).awaitTermination()

    drain("ckpt1")
    got = {
        (r["doc_id"], r["shard"], int(r["start"]), int(r["n"]))
        for r in M.read_snapshot(spark, placed_lake).collect()
    }
    # batch twin: fold the same three batches through pack_batch
    state = None
    want = set()
    for rows in batches:
        df = spark.createDataFrame(rows, "doc_id int, source string, text string")
        placed, state = pack_batch(df, state)
        placed = placed.localCheckpoint(eager=True)
        want |= {
            (r["doc_id"], r["shard"], int(r["start"]), int(r["n"]))
            for r in placed.collect()
        }
    assert got == want and len(got) == 10
    # totals in the state lake equal the per-shard max end
    totals = {
        r["shard"]: int(r["total"])
        for r in M.read_snapshot(spark, state_lake).collect()
    }
    ends: dict = {}
    for d, sh, st, n in got:
        ends[sh] = max(ends.get(sh, 0), st + n)
    assert totals == ends
    # replay: fresh checkpoint, same batch ids -> both commits tag-skip
    v_placed = M.current_version(spark, placed_lake)
    v_state = M.current_version(spark, state_lake)
    drain("ckpt2")
    assert M.current_version(spark, placed_lake) == v_placed
    assert M.current_version(spark, state_lake) == v_state
    assert M.read_snapshot(spark, placed_lake).count() == 10


def test_ann_index_ingest_sink_stream_equals_batch_and_replay(spark, tmp_path):
    """Streaming IVF index maintenance over 3 micro-batches produces
    the SAME codes lake as batch update_ivf_quantized_index over the
    same deltas, search finds streamed-in vectors, and a full replay
    (fresh checkpoint, same batch ids) is a tag-skipped no-op on both
    lakes."""
    import os, shutil

    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.streaming.sinks import ann_index_ingest_sink

    rng = np.random.default_rng(7)

    def vec():
        return [float(x) for x in rng.standard_normal(8)]

    base_rows = [(int(i), vec()) for i in range(40)]
    batches = [
        [(int(i), vec()) for i in range(40, 44)],
        [(int(i), vec()) for i in range(44, 47)],
        [(int(i), vec()) for i in range(47, 50)],
    ]
    schema = "vec_id long, embedding array<double>"

    # bootstrap: embeddings lake + built index over the settled corpus
    ep = str(tmp_path / "emb")
    cp, kp = str(tmp_path / "cent"), str(tmp_path / "codes")
    M.commit_append(spark, ep, spark.createDataFrame(base_rows, schema))
    SIM.build_ivf_quantized_index(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding", 4, cp, kp
    )

    # stage the ingest as one file per micro-batch
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        sub = f"{src}/w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(f"{sub}/{part}", f"{src}/{i:03d}.parquet")
        shutil.rmtree(sub)
        os.utime(f"{src}/{i:03d}.parquet", (1000 + i, 1000 + i))

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ann_index_ingest_sink(
            stream, "vec_id", "embedding", ep, cp, kp,
            str(tmp_path / ckpt),
        ).awaitTermination()

    drain("ckpt1")
    # batch twin over an independent copy of the bootstrap index
    ep2 = str(tmp_path / "emb2")
    cp2, kp2 = str(tmp_path / "cent2"), str(tmp_path / "codes2")
    M.commit_append(spark, ep2, spark.createDataFrame(base_rows, schema))
    SIM.build_ivf_quantized_index(
        spark, M.read_snapshot(spark, ep2), "vec_id", "embedding", 4, cp2, kp2
    )
    for rows in batches:
        delta = spark.createDataFrame(rows, schema)
        M.commit_append(spark, ep2, delta)
        SIM.update_ivf_quantized_index(
            spark, delta, "vec_id", "embedding", cp2, kp2
        )

    def codes_map(path):
        return {
            int(r["vec_id"]): (int(r["cid"]), list(r["codes"]))
            for r in M.read_snapshot(spark, path).collect()
        }

    assert codes_map(kp) == codes_map(kp2)
    assert M.read_snapshot(spark, ep).count() == 50
    # the maintained index SERVES the streamed-in vectors
    got = SIM.ivf_quantized_topk(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        45, 5, cp, kp, pool=100,
    ).collect()
    assert len(got) == 5
    # replay: fresh checkpoint, same batch ids -> tag-skip on both lakes
    v_e, v_k = M.current_version(spark, ep), M.current_version(spark, kp)
    drain("ckpt2")
    assert M.current_version(spark, ep) == v_e
    assert M.current_version(spark, kp) == v_k
    assert M.read_snapshot(spark, ep).count() == 50


def test_join_matview_maintain_sink_stream_equals_batch_and_replay(
    spark, tmp_path
):
    """Streaming JOIN-MV maintenance (r10): a manifest_stream-triggered
    sink folds BOTH lakes' change feeds; after each drain the MV
    equals the from-scratch join-aggregate; a fresh-checkpoint replay
    redelivers every micro-batch and changes nothing (mvj dual-tag +
    consumed-window repair)."""
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.lake_stream import register_lake_stream
    from nba_pipeline_spark.streaming.sinks import join_matview_maintain_sink

    fp, dp = str(tmp_path / "fact"), str(tmp_path / "dim")
    mvp, stp = str(tmp_path / "mv"), str(tmp_path / "state")

    def fact(rows):
        return spark.createDataFrame(rows, "fk int, dk int, v bigint, ver int")

    def dim(rows):
        return spark.createDataFrame(rows, "dk int, grp string, ver int")

    def recompute():
        return {
            (r["grp"], int(r["cnt"]), int(r["sv"]))
            for r in M.read_snapshot(spark, fp).alias("f")
            .join(M.read_snapshot(spark, dp).alias("d"), F.col("f.dk") == F.col("d.dk"))
            .groupBy(F.col("d.grp").alias("grp"))
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("f.v").alias("sv"))
            .collect()
        }

    def mv_rows():
        return {
            (r["grp"], int(r["cnt"]), int(r["sum_v"]))
            for r in M.read_snapshot(spark, mvp).collect()
        }

    M.commit_append(spark, fp, fact([(1, 10, 100, 0), (2, 20, 200, 0)]))
    M.commit_append(spark, dp, dim([(10, "a", 0), (20, "b", 0)]))
    register_lake_stream(spark)

    def drain(ckpt):
        q = join_matview_maintain_sink(
            spark.readStream.format("manifest_stream").option("path", fp).load(),
            fp, dp, ["fk"], ["dk"], "dk", "dk", "grp", ["v"],
            mvp, stp, str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("ckpt")  # bootstrap
    assert mv_rows() == recompute() == {("a", 1, 100), ("b", 1, 200)}

    # BOTH lakes advance: fact append (triggers the stream) + dim MERGE
    # moving dk=20 into group a (the trigger stream never sees it)
    M.commit_upsert(spark, dp, dim([(20, "a", 1)]), ["dk"], "ver")
    M.commit_append(spark, fp, fact([(3, 10, 50, 1)]))
    drain("ckpt")
    assert mv_rows() == recompute() == {("a", 3, 350)}

    # full replay on a fresh checkpoint: every micro-batch redelivers,
    # the maintainer no-ops (window already consumed) — no MV drift
    mv_v, st_v = M.current_version(spark, mvp), M.current_version(spark, stp)
    drain("ckpt_replay")
    assert M.current_version(spark, mvp) == mv_v
    assert M.current_version(spark, stp) == st_v
    assert mv_rows() == recompute()


def test_takedown_ingest_sink_three_lakes_and_replay(spark, tmp_path):
    """Streaming GDPR (r10): victim-id micro-batches drive the full
    corpus_takedown composition; after the drain all three lakes agree
    on the survivor set; a fresh-checkpoint replay (same ids, batch 0)
    is a per-lake tag no-op — no new versions, no double tombstones."""
    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.streaming.sinks import takedown_ingest_sink

    rng = np.random.default_rng(11)
    docsp, embp = str(tmp_path / "docs"), str(tmp_path / "emb")
    cp, kp = str(tmp_path / "cent"), str(tmp_path / "codes")
    docs = spark.createDataFrame(
        [(int(i), f"text {i}") for i in range(30)], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.standard_normal(8)])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    M.commit_append(spark, docsp, docs, stats_cols=["doc_id"])
    M.commit_append(spark, embp, emb, stats_cols=["vec_id"])
    SIM.build_ivf_quantized_index(
        spark, M.read_snapshot(spark, embp), "vec_id", "embedding", 4, cp, kp
    )

    # two victim micro-batches staged as files
    import os

    src = str(tmp_path / "victims")
    os.makedirs(src)
    for i, ids in enumerate([[0, 7, 14], [21, 28]]):
        spark.createDataFrame(
            [(int(k),) for k in ids], "doc_id long"
        ).coalesce(1).write.parquet(f"{src}/b{i}")

    def drain(ckpt):
        q = takedown_ingest_sink(
            spark.readStream.schema("doc_id long").parquet(f"{src}/b*"),
            docsp, str(tmp_path / ckpt),
            emb_path=embp, index_code_paths=[kp],
        )
        q.awaitTermination(120)

    drain("ck")
    gone = {0, 7, 14, 21, 28}
    live = {int(r["doc_id"]) for r in M.read_snapshot(spark, docsp).collect()}
    assert live == set(range(30)) - gone
    assert {
        int(r["vec_id"]) for r in M.read_snapshot(spark, embp).collect()
    } == live
    assert {
        int(r["vec_id"]) for r in M.read_snapshot(spark, kp).collect()
    } == live
    # fresh-checkpoint replay: everything redelivers as batch 0 — the
    # per-lake takedown tags were recorded under batch ids 0/1, and a
    # replayed batch 0's ids are a strict subset already tombstoned;
    # versions may advance only for the batch-1 ids re-keyed as batch 0
    vs = {p: M.current_version(spark, p) for p in (docsp, embp, kp)}
    drain("ck")  # SAME checkpoint first: a true engine replay no-ops
    assert {p: M.current_version(spark, p) for p in (docsp, embp, kp)} == vs
    assert {
        int(r["doc_id"]) for r in M.read_snapshot(spark, docsp).collect()
    } == set(range(30)) - gone


def test_ann_cdf_maintain_sink_folds_merges_and_deletes(spark, tmp_path):
    """CDF-fed ANN maintenance (VERDICT r10 #2): one manifest_cdf
    consumer folds appends, re-embeddings (cell movers included) and
    deletes from the embeddings lake into the codes lake. Truth: the
    final codes lake must equal the independent assignment of the
    FINAL embeddings snapshot against the fixed centroids. A fresh-
    checkpoint replay is a wholesale no-op (anncdf tag gate — the
    delete step must not re-run)."""
    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.cdf_stream import register_cdf_stream
    from nba_pipeline_spark.streaming.sinks import ann_cdf_maintain_sink

    register_cdf_stream(spark)
    rng = np.random.default_rng(11)

    def vec():
        return [float(x) for x in rng.standard_normal(6)]

    sch = "vec_id long, embedding array<double>"
    ep = str(tmp_path / "emb")
    cp, kp = str(tmp_path / "cent"), str(tmp_path / "codes")
    M.commit_append(
        spark, ep,
        spark.createDataFrame([(int(i), vec()) for i in range(20)], sch),
    )
    SIM.build_ivf_quantized_index(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding", 4, cp, kp
    )
    # v2: MERGE — re-embed 3 keys (random vectors: movers likely),
    # insert 3 new keys
    M.commit_upsert(
        spark, ep,
        spark.createDataFrame(
            [(int(i), vec(), 1) for i in (3, 4, 7, 20, 21, 22)],
            sch + ", ver int",
        ),
        ["vec_id"], "ver",
    )
    # v3: CoW delete (one original, one just-streamed-in key)
    M.commit_delete(
        spark, ep, spark.createDataFrame([(1,), (21,)], "vec_id long"),
        ["vec_id"],
    )
    # v4: plain append
    M.commit_append(
        spark, ep,
        spark.createDataFrame([(int(i), vec()) for i in (23, 24)], sch),
    )

    def drain(ckpt):
        q = ann_cdf_maintain_sink(
            spark.readStream.format("manifest_cdf")
            .option("path", ep).option("keys", "vec_id")
            .option("starting_version", "2")  # index built at v1
            .load(),
            "vec_id", "embedding", cp, kp, str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    drain("ck1")

    def codes_map():
        return {
            int(r["vec_id"]): (int(r["cid"]), float(r["s"]), list(r["codes"]))
            for r in M.read_snapshot(spark, kp).collect()
        }

    # independent truth: assignment of the FINAL snapshot
    cents = M.read_snapshot(spark, cp).select("cid", "cv")
    e = M.read_snapshot(spark, ep).select(
        "vec_id", SIM.to_double_array("embedding").alias("v")
    )
    assigned = SIM.assign_cells(e, cents, "vec_id")
    codes, scale = SIM.int8_codes("v")
    want = {
        int(r["vec_id"]): (int(r["cid"]), float(r["s"]), list(r["codes"]))
        for r in assigned.select(
            "vec_id", "cid", scale.alias("s"), codes.alias("codes")
        ).collect()
    }
    assert codes_map() == want
    assert 1 not in codes_map() and 21 not in codes_map()
    # search serves a streamed-in id through the maintained index
    got = SIM.ivf_quantized_topk(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        22, 5, cp, kp, pool=100,
    ).collect()
    assert len(got) == 5
    # replay: fresh checkpoint — the anncdf tag gates the whole fold
    v_k = M.current_version(spark, kp)
    drain("ck2")
    assert M.current_version(spark, kp) == v_k
    assert codes_map() == want


class _Boom(RuntimeError):
    pass


def _pre_crash(monkeypatch, module, name, times=1):
    """Monkeypatch module.name to raise _Boom BEFORE doing anything,
    for the first `times` calls, then pass through."""
    orig = getattr(module, name)
    left = [times]

    def wrapper(*a, **k):
        if left[0] > 0:
            left[0] -= 1
            raise _Boom(f"injected crash before {name}")
        return orig(*a, **k)

    monkeypatch.setattr(module, name, wrapper)
    return lambda: monkeypatch.setattr(module, name, orig)


def test_pack_apply_crash_injection_soak(spark, tmp_path, monkeypatch):
    """Seeded crash soak for the commit_multi-based packing sink
    (VERDICT r11 #3): per batch, a crash injects BEFORE the placed
    append or BETWEEN the append and the state replace; the replay
    converges through the primitive's prefix contract. Final placed
    rows and shard totals equal the crash-free batch fold."""
    import random

    from nba_pipeline_spark.plans.corpus_queries import pack_batch
    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.streaming.sinks import pack_apply_batch

    rng = random.Random(12)
    placed_lake = str(tmp_path / "placed")
    state_lake = str(tmp_path / "state")
    batches = []
    next_id = 0
    for _ in range(6):
        rows = [
            (next_id + j, "w", "tok " * rng.randint(1, 9))
            for j in range(rng.randint(1, 4))
        ]
        next_id += len(rows)
        batches.append(rows)
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "doc_id int, source string, text string"
        )
        window = rng.choice(["none", "pre_append", "between"])
        if window != "none":
            target = "commit_append" if window == "pre_append" else "commit_replace"
            restore = _pre_crash(monkeypatch, M, target)
            try:
                pack_apply_batch(df, bid, placed_lake, state_lake)
                raise AssertionError("injected crash did not fire")
            except _Boom:
                pass
            restore()
        pack_apply_batch(df, bid, placed_lake, state_lake)  # the replay
        pack_apply_batch(df, bid, placed_lake, state_lake)  # full no-op
    got = {
        (r["doc_id"], r["shard"], int(r["start"]), int(r["n"]))
        for r in M.read_snapshot(spark, placed_lake).collect()
    }
    state = None
    want = set()
    for rows in batches:
        df = spark.createDataFrame(rows, "doc_id int, source string, text string")
        placed, state = pack_batch(df, state)
        placed = placed.localCheckpoint(eager=True)
        want |= {
            (r["doc_id"], r["shard"], int(r["start"]), int(r["n"]))
            for r in placed.collect()
        }
    assert got == want and len(got) == next_id
    totals = {
        r["shard"]: int(r["total"])
        for r in M.read_snapshot(spark, state_lake).collect()
    }
    ends: dict = {}
    for d, sh, st, n in got:
        ends[sh] = max(ends.get(sh, 0), st + n)
    assert totals == ends


def test_ann_cdf_apply_crash_injection_soak(spark, tmp_path, monkeypatch):
    """Seeded crash soak for the anncdf delete+MERGE commit_multi
    group: crashes inject before the cell-loser delete and between
    the delete and the MERGE; replays tag-skip the landed prefix (the
    delete NEVER re-runs once committed — re-homed movers survive).
    Truth: the codes lake equals the independent assignment of the
    final embeddings snapshot."""
    import random

    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(12)
    pyr = random.Random(12)

    def vec():
        return [float(x) for x in rng.standard_normal(6)]

    sch = "vec_id long, embedding array<double>"
    ep = str(tmp_path / "emb")
    cp, kp = str(tmp_path / "cent"), str(tmp_path / "codes")
    M.commit_append(
        spark, ep,
        spark.createDataFrame([(int(i), vec()) for i in range(16)], sch),
    )
    SIM.build_ivf_quantized_index(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding", 4, cp, kp
    )
    live = set(range(16))
    nxt = 16
    applied_from = M.current_version(spark, ep)
    for step in range(5):
        kind = pyr.choice(["upsert", "delete", "append"])
        if kind == "upsert" and live:
            ids = pyr.sample(sorted(live), min(3, len(live)))
            ids.append(nxt)
            live.add(nxt)
            nxt += 1
            M.commit_upsert(
                spark, ep,
                spark.createDataFrame(
                    [(int(i), vec(), 1) for i in ids], sch + ", ver int"
                ),
                ["vec_id"], "ver",
            )
        elif kind == "delete" and len(live) > 4:
            ids = pyr.sample(sorted(live), 2)
            live -= set(ids)
            M.commit_delete(
                spark, ep,
                spark.createDataFrame([(int(i),) for i in ids], "vec_id long"),
                ["vec_id"],
            )
        else:
            rows = [(int(nxt + j), vec()) for j in range(2)]
            live |= {nxt, nxt + 1}
            nxt += 2
            M.commit_append(spark, ep, spark.createDataFrame(rows, sch))
        # fold the feed window through the anncdf group, maybe crashing
        v_now = M.current_version(spark, ep)
        batch = M.read_feed(
            spark, ep, ["vec_id"], applied_from, v_now, include_values=True
        ).withColumnRenamed("version", "_commit_version")
        applied_from = v_now
        tag = f"anncdf={step}"
        window = pyr.choice(["none", "pre_delete", "between"])
        if window != "none":
            target = (
                "commit_delete" if window == "pre_delete"
                else "commit_upsert_partitioned"
            )
            restore = _pre_crash(monkeypatch, M, target)
            try:
                SIM.apply_cdf_to_ivf_index(
                    spark, batch, "vec_id", "embedding", cp, kp, tag=tag
                )
            except _Boom:
                pass
            restore()
        SIM.apply_cdf_to_ivf_index(
            spark, batch, "vec_id", "embedding", cp, kp, tag=tag
        )
    cents = M.read_snapshot(spark, cp).select("cid", "cv")
    e = M.read_snapshot(spark, ep).select(
        "vec_id", SIM.to_double_array("embedding").alias("v")
    )
    assigned = SIM.assign_cells(e, cents, "vec_id")
    codes, scale = SIM.int8_codes("v")
    want = {
        int(r["vec_id"]): (int(r["cid"]), float(r["s"]), list(r["codes"]))
        for r in assigned.select(
            "vec_id", "cid", scale.alias("s"), codes.alias("codes")
        ).collect()
    }
    got = {
        int(r["vec_id"]): (int(r["cid"]), float(r["s"]), list(r["codes"]))
        for r in M.read_snapshot(spark, kp).collect()
    }
    assert got == want
    assert set(got) == live


def test_takedown_crash_injection_soak(spark, tmp_path, monkeypatch):
    """Seeded crash soak for the path-named takedown commit_multi
    group (index → embeddings → docs): a crash strands a strict
    PREFIX of lakes; the replay completes the suffix without
    re-tombstoning the prefix (version counts advance exactly once
    per lake per batch)."""
    import random

    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(5)
    pyr = random.Random(5)
    docsp, embp = str(tmp_path / "docs"), str(tmp_path / "emb")
    cp, kp = str(tmp_path / "cent"), str(tmp_path / "codes")
    M.commit_append(
        spark, docsp,
        spark.createDataFrame(
            [(int(i), f"text {i}") for i in range(24)],
            "doc_id long, text string",
        ),
        stats_cols=["doc_id"],
    )
    M.commit_append(
        spark, embp,
        spark.createDataFrame(
            [(int(i), [float(x) for x in rng.standard_normal(6)])
             for i in range(24)],
            "vec_id long, embedding array<double>",
        ),
        stats_cols=["vec_id"],
    )
    SIM.build_ivf_quantized_index(
        spark, M.read_snapshot(spark, embp), "vec_id", "embedding", 4, cp, kp
    )
    live = set(range(24))
    for step in range(4):
        ids = sorted(pyr.sample(sorted(live), 3))
        live -= set(ids)
        tag = f"takedown={step}"
        vs_before = {
            p: M.current_version(spark, p) for p in (kp, embp, docsp)
        }
        # crash inside participant 1..3 (commit_delete_mor raises on
        # its k-th invocation this batch)
        k = pyr.randint(1, 3)
        calls = [0]
        orig = M.commit_delete_mor

        def crashing(*a, **kw):
            calls[0] += 1
            if calls[0] == k:
                raise _Boom("injected takedown crash")
            return orig(*a, **kw)

        monkeypatch.setattr(M, "commit_delete_mor", crashing)
        try:
            SIM.corpus_takedown(
                spark, ids, docsp, emb_path=embp, index_code_paths=[kp],
                doc_key="doc_id", vec_key="vec_id", mode="mor", tag=tag,
            )
            raise AssertionError("injected crash did not fire")
        except _Boom:
            pass
        monkeypatch.setattr(M, "commit_delete_mor", orig)
        # replay completes the suffix; a second replay is a full no-op
        SIM.corpus_takedown(
            spark, ids, docsp, emb_path=embp, index_code_paths=[kp],
            doc_key="doc_id", vec_key="vec_id", mode="mor", tag=tag,
        )
        SIM.corpus_takedown(
            spark, ids, docsp, emb_path=embp, index_code_paths=[kp],
            doc_key="doc_id", vec_key="vec_id", mode="mor", tag=tag,
        )
        for p in (kp, embp, docsp):
            assert M.current_version(spark, p) == vs_before[p] + 1, (
                step, p,
            )
    for p, key in ((docsp, "doc_id"), (embp, "vec_id"), (kp, "vec_id")):
        assert {
            int(r[key]) for r in M.read_snapshot(spark, p).collect()
        } == live, p
