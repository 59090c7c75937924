"""CDC / merge patterns (warehouse maintenance, SURVEY §2 extended).

Reference parity: the reference refreshes its lake by re-scraping a
season and overwriting the same GCS object path per table/year
(scrape_data_to_gcs.py:55-90, rm + re-upload) — "partition replace by
rewrite". At 100 TB that strategy rewrites everything; the Spark-native
scale path is a keyed merge: ship only the changed rows and apply them
with ONE shuffle on the merge key.

Both operators are pure DataFrame compositions (union + window / anti
join), so Catalyst sees the whole plan: filters on the base table
still push to the parquet scan, and AQE can pick broadcast for a small
changelog. No UDFs, no driver-side loops.

Scale notes:
- ``merge_upsert``: unionByName is free (no shuffle); the row_number
  window shuffles once on `keys` — same cost as the groupBy any
  engine needs for last-writer-wins. Its plan is SQL text, one Dataset
  op per layer: every commit_upsert* and sink batch builds it. Skewed keys follow the same
  salting recipe as `salted_join` if a hot key dominates the changelog.
- ``apply_changelog``: latest-change dedup shuffles the changelog on
  `keys` (changelog << base, cheap); the anti join of base vs changed
  keys is broadcast-able whenever the distinct changed-key set is
  small — the common CDC shape (AQE handles it; no hint needed). The
  changelog subplan is referenced twice (anti-join keys + upsert rows)
  and Catalyst can't reuse the exchange across them (the join adds an
  IsNotNull(key) below one window); with a big changelog, persist it
  (or pre-dedup to latest) before calling.
- NULL merge keys follow SQL equality: a NULL-keyed change never
  matches a base row (anti join keeps base NULLs; the change row, if
  an upsert, inserts as its own row) — pinned by the adversarial gate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import sql_ident


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    version_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """SCD1 / last-writer-wins upsert: every key keeps exactly one row —
    the highest-version change if any change exists, else the base row.
    Keys present only in `changes` are inserted.

    `changes` must carry the base columns plus `version_col`; pass
    `tiebreak` columns when versions can collide (ordering is pinned
    NULLS LAST on every sort key so both engines agree). A base that
    stores `version_col` keeps it: a winning change row carries its own
    version into it.
    """
    ver = sql_ident(version_col)
    b = base.selectExpr("*", "0 AS __src", "CAST(NULL AS BIGINT) AS __ver")
    keep_ver = version_col in base.columns
    cols = [
        sql_ident(c) for c in changes.columns if c != version_col or keep_ver
    ]
    c = changes.selectExpr(*cols, "1 AS __src", f"CAST({ver} AS BIGINT) AS __ver")
    u = b.unionByName(c, allowMissingColumns=True)
    order = ["__src", "__ver"] + [sql_ident(t) for t in tiebreak]
    w = (
        f"PARTITION BY {', '.join(map(sql_ident, keys))} "
        f"ORDER BY {' DESC NULLS LAST, '.join(order)} DESC NULLS LAST"
    )
    return (
        u.selectExpr("*", f"row_number() OVER ({w}) AS __rn")
        .where("__rn = 1")
        .drop("__rn", "__src", "__ver")
    )


def streaming_upsert_sink(
    changes_stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    version_col: str,
    checkpoint_dir: str,
    tiebreak: Sequence[str] = (),
):
    """Continuous CDC apply: drain a changelog stream into a parquet
    target with last-writer-wins semantics, one transactional merge per
    micro-batch (``foreachBatch`` + ``merge_upsert``).

    Exactly-once story: foreachBatch may REPLAY a batch after a crash,
    but merge_upsert is idempotent (same change rows -> same winners),
    so replays converge. The target is read fresh each batch; at lake
    scale the overwrite step becomes a partition-replace (or a Delta/
    Iceberg MERGE) — plain parquet has no atomic row-level commit, which
    is exactly why the merge itself stays a pure DataFrame op.

    Returns the StreamingQuery (caller awaits termination).
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = spark.read.parquet(target_path)
        merged = merge_upsert(base, batch_df, keys, version_col, tiebreak)
        # write-then-swap: parquet can't overwrite a path it's reading
        tmp = f"{target_path}__staging"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(target_path)

    return (
        changes_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_agg_maintain(
    mv: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sums: dict[str, F.Column],
    count_col: str = "cnt",
    sign_col: str = "__sign",
) -> DataFrame:
    """Incremental materialized-view maintenance for SUM/COUNT views.

    `mv` is a pre-aggregated view: one row per `keys` with a row count
    (`count_col`) and sum measures (the keys of `sums`). `delta` is a
    changelog of FACT rows carrying `sign_col` = +1 (insert) / -1
    (delete) plus the source columns each `sums` expression reads.
    Returns the view as if recomputed over (base rows − deletes +
    inserts) — without touching the base fact table.

    Why this exists: the reference refreshes aggregates by full rewrite
    (scrape_data_to_gcs.py:55-90 rm + re-upload per season). At 100 TB
    a full re-aggregation scans the entire fact table to absorb a few
    million changed rows; this operator's cost is O(|delta|) + one
    keyed merge against the view:

      1. delta-aggregate: groupBy(keys) over the changelog with signed
         measures (sum(sign) for the count, sum(sign·expr) per sum) —
         map-side partial agg, one shuffle of the CHANGELOG only;
      2. full-outer merge with the view on null-safe key equality
         (groupBy groups NULL keys; the merge must too) — AQE
         broadcasts the delta aggregate when small, which is the
         common CDC shape; at lake scale bucket the view on `keys`
         so its side is shuffle-free;
      3. counts that reach zero drop the row (the group no longer
         exists in the base).

    Only self-maintainable aggregates are offered: SUM and COUNT (AVG
    = SUM/COUNT downstream). MIN/MAX are NOT maintainable under
    deletes without the full group (a deleted max needs the runner-up)
    — recompute affected groups for those, deliberately unsupported
    here.
    """
    sign = F.col(sign_col).cast("bigint")
    aggs = [F.sum(sign).alias("__d_cnt")]
    for out_col, expr in sums.items():
        aggs.append(F.sum(sign * expr).alias(f"__d_{out_col}"))
    d = delta.groupBy(*[F.col(k) for k in keys]).agg(*aggs)

    m = mv
    for k in keys:
        d = d.withColumnRenamed(k, f"__dk_{k}")
    cond = None
    for k in keys:
        c = m[k].eqNullSafe(d[f"__dk_{k}"])
        cond = c if cond is None else (cond & c)
    joined = m.join(d, cond, "full_outer")

    out_keys = [
        F.coalesce(m[k], d[f"__dk_{k}"]).alias(k) for k in keys
    ]
    new_cnt = F.coalesce(m[count_col], F.lit(0)) + F.coalesce(
        F.col("__d_cnt"), F.lit(0)
    )
    out_sums = []
    for out_col in sums:
        zero = F.lit(0).cast("decimal(18,4)")
        out_sums.append(
            (
                F.coalesce(m[out_col], zero) + F.coalesce(F.col(f"__d_{out_col}"), zero)
            ).alias(out_col)
        )
    return (
        joined.select(*out_keys, new_cnt.alias(count_col), *out_sums)
        .filter(F.col(count_col) > 0)
    )


def minmax_refresh_affected(
    base: DataFrame,
    mv: DataFrame,
    changed_keys: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[F.Column],
) -> DataFrame:
    """Partial refresh for NON-self-maintainable aggregates (MIN/MAX,
    exact distinct counts): recompute ONLY the groups whose key appears
    in `changed_keys`, re-reading `base` (the fact table AFTER changes)
    for just those groups; every other view row passes through
    untouched.

    This is the honest scale answer for deletes under MIN/MAX — a
    deleted maximum needs the group's runner-up, which no delta can
    carry. Cost: one semi join of base against the changed-key set
    (broadcast when the key set is small — the common CDC shape; at
    lake scale the base side partition-prunes on the same keys) + a
    groupBy over the affected rows only, instead of a full-table
    re-aggregation.

    NULL keys use null-safe equality throughout so a NULL-keyed change
    refreshes the NULL group (groupBy groups NULLs; the joins must
    agree).
    """
    ck = changed_keys.select(*keys).distinct()
    for k in keys:
        ck = ck.withColumnRenamed(k, f"__ck_{k}")
    cond_base = None
    cond_mv = None
    for k in keys:
        cb = base[k].eqNullSafe(ck[f"__ck_{k}"])
        cm = mv[k].eqNullSafe(ck[f"__ck_{k}"])
        cond_base = cb if cond_base is None else (cond_base & cb)
        cond_mv = cm if cond_mv is None else (cond_mv & cm)
    refreshed = (
        base.join(ck, cond_base, "left_semi").groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    )
    untouched = mv.join(ck, cond_mv, "left_anti")
    return untouched.unionByName(refreshed)


def _view_fs(spark: SparkSession, view_path: str):
    """(Hadoop FileSystem, Path) for `view_path`, resolved through the
    session's Hadoop conf so ``file:``, ``hdfs:`` and ``s3a:`` URIs all
    work — a driver-local ``os.listdir`` would silently see nothing on
    an object store and break the replay skip-guard."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(view_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _committed_view_batches(
    spark: SparkSession, view_path: str
) -> list[tuple[int, str]]:
    """``batch=<id>`` snapshot dirs under `view_path` whose write fully
    committed (Spark's ``_SUCCESS`` marker present), sorted by id.
    Partial dirs from a crashed write have no marker and are invisible.

    Listed via the Hadoop FileSystem API so the commit protocol holds on
    any URI scheme the cluster can write, not just driver-local disk."""
    fs, jpath = _view_fs(spark, view_path)
    if not fs.exists(jpath):
        return []
    jvm = spark._jvm
    out: list[tuple[int, str]] = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not name.startswith("batch="):
            continue
        try:
            i = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            out.append((i, st.getPath().toString()))
    return sorted(out)


def read_maintained_view(
    spark: SparkSession, view_path: str, before: int | None = None
) -> DataFrame | None:
    """Resolve the current maintained view: the HIGHEST fully-committed
    ``batch=<id>`` snapshot (optionally restricted to ids `< before`,
    which is how a replayed batch sees exactly its pre-batch state).
    Returns None when no snapshot has committed yet."""
    dirs = _committed_view_batches(spark, view_path)
    if before is not None:
        dirs = [x for x in dirs if x[0] < before]
    if not dirs:
        return None
    return spark.read.parquet(dirs[-1][1])


def streaming_agg_maintain_sink(
    changes_stream: DataFrame,
    view_path: str,
    keys: Sequence[str],
    sums: dict[str, F.Column],
    checkpoint_dir: str,
    count_col: str = "cnt",
    sign_col: str = "__sign",
    keep_batches: int = 2,
):
    """Continuous view maintenance: drain a signed changelog stream into
    a parquet SUM/COUNT view, one `incremental_agg_maintain` per
    micro-batch.

    Replay safety: unlike ``streaming_upsert_sink`` (last-writer-wins is
    idempotent), applying the SAME retraction batch twice double-counts.
    View state and applied-batch-id therefore commit TOGETHER: batch N's
    merged view is written to its own ``view_path/batch=N`` snapshot dir
    (the crash-safe layout ``dedup_ingest_sink`` uses), and "current
    view" resolves to the highest dir whose write fully committed
    (``_SUCCESS`` present — see ``read_maintained_view``). The snapshot
    write IS the commit point, so there is no window where view and
    ledger disagree:

    - crash mid-write of ``batch=N`` → no ``_SUCCESS`` → the partial dir
      is invisible; the replay merges ``batch=<id < N>`` (its exact
      pre-batch state) and overwrites the partial dir;
    - replay after a committed ``batch>=N`` exists → skipped (the batch
      is already folded into every later snapshot).

    Snapshots older than the newest `keep_batches` are pruned AFTER the
    new snapshot commits; a crash mid-prune only leaves extra committed
    snapshots behind, which the highest-id resolution ignores. The view
    is an aggregate (one row per group), so a snapshot is O(groups),
    not O(changelog).
    """
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        committed = _committed_view_batches(spark, view_path)
        if committed and committed[-1][0] >= batch_id:
            return  # replay of a batch already folded into the view
        mv = read_maintained_view(spark, view_path, before=batch_id)
        if mv is None:
            mv = batch_df.limit(0).groupBy(*[F.col(k) for k in keys]).agg(
                F.count(F.lit(1)).alias(count_col),
                *[F.sum(expr).alias(c) for c, expr in sums.items()],
            )
        merged = incremental_agg_maintain(
            mv, batch_df, keys, sums, count_col=count_col, sign_col=sign_col
        )
        merged.write.mode("overwrite").parquet(f"{view_path}/batch={batch_id}")
        after = _committed_view_batches(spark, view_path)
        if not any(i == batch_id for i, _ in after):
            # e.g. mapreduce.fileoutputcommitter.marksuccessfuljobs=false:
            # the skip-guard would never fire and every replay would
            # rebuild from the pre-batch view — fail loudly instead.
            raise RuntimeError(
                f"view snapshot batch={batch_id} wrote but is not visible "
                f"as committed under {view_path}; the maintenance sink "
                "requires _SUCCESS markers (marksuccessfuljobs=true)"
            )
        fs, _ = _view_fs(spark, view_path)
        jvm = spark._jvm
        for _, stale in after[:-keep_batches]:
            fs.delete(jvm.org.apache.hadoop.fs.Path(stale), True)

    return (
        changes_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_changelog(
    base: DataFrame,
    changelog: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    delete_op: str = "delete",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Delete-aware CDC apply: per key, the highest-`seq_col` changelog
    row decides the outcome — `delete_op` removes the key, anything
    else replaces (or inserts) it. Base rows whose key never appears in
    the changelog pass through untouched.

    `changelog` must carry the base columns plus (`seq_col`, `op_col`).
    """
    order = [F.col(seq_col).desc_nulls_last()]
    order += [F.col(t).desc_nulls_last() for t in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    untouched = base.join(latest.select(*keys), on=list(keys), how="left_anti")
    upserts = latest.filter(F.col(op_col) != F.lit(delete_op)).drop(op_col, seq_col)
    return untouched.unionByName(upserts, allowMissingColumns=True)
