"""Similarity search over embedding columns (SURVEY.md §2.10 X4;
BASELINE north star: ANN).

Two paths:

- ``brute_force_topk``: exact cosine top-k against a query vector.
  The query vector rides along as a broadcast single-row frame; scoring
  is a narrow map (JVM higher-order fns); ``orderBy().limit(k)``
  compiles to TakeOrderedAndProject — per-partition top-k, k-row merge.
  At 100 TB this is one full scan, no shuffle: the right baseline.

- ``ivf_topk``: IVF-style two-stage ANN. Stage 1 assigns every vector
  to its nearest centroid (broadcast cross join over k centroids —
  narrow). Stage 2 searches only the query's cell (nprobe=1 here).
  With cells materialized as a ``partitionBy(cell)`` lake layout, the
  probe prunes to 1/k of the data — that's the scale path; centroids
  come from a proper k-means offline, here deterministically the first
  k vectors so the oracle can replay it.

Determinism contract for hash-compared results: order by the SCORE
ROUNDED to 6dp with the id as tiebreak, so last-bit float divergence
across engines cannot flip the top-k set.

Literature (PAPERS.md corpus): the incremental/banded pruning stance —
score cheaply first, probe only a shrinking candidate set — follows the
top-k similarity-search line of work (e.g. "Incremental Based Framework
for Efficient Top-K Similarity Search", EDBT 2020; distributed top-k
search with local reference points, ICDE 2021). The IVF cell layout is
the standard inverted-file ANN design, mapped here onto Spark partition
pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import (
    cosine_expr,
    dot_fixed_sql,
    dot_sql,
    norm_sql,
    sql_ident,
    to_double_array,
    to_double_array_sql,
)
from .partitioning import fits_broadcast, rows_frame


def _kmeans_centroid_lists(
    emb: DataFrame, id_col: str, vec_col: str, k: int, iterations: int = 5
) -> list[list[float]]:
    """Lloyd-iteration core shared by `kmeans_cells` (assignment output)
    and `kmeans_centroids` (centroid-frame output). Driver holds only
    the k centroid lists between iterations."""
    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    # first k by id ORDER, not id < k: ids need not be 0-based/contiguous
    centroids = [
        [float(x) for x in r["v"]] for r in e.orderBy(id_col).limit(k).collect()
    ]
    if not centroids:
        raise ValueError("kmeans_cells: empty input")
    k = len(centroids)  # fewer rows than k -> shrink
    dims = len(centroids[0])

    # per-dim means as ONE array expression (same Py4J-cost rationale as
    # assign_cells; avg(v[i]) ≡ F.avg(F.col("v").getItem(i)))
    mean_arr = F.expr(
        "array(" + ",".join(f"avg(v[{i}])" for i in range(dims)) + ")"
    ).alias("m")
    # literal-direct assignment: the centroid lists live on the driver
    # between iterations — building a centroid DataFrame just to
    # collect it back cost one extra job per iteration
    for _ in range(iterations):
        assigned = _assign_cells_literal(e, id_col, list(enumerate(centroids)))
        new_rows = assigned.groupBy("cid").agg(mean_arr).collect()
        by_cid = {int(r["cid"]): [float(x) for x in r["m"]] for r in new_rows}
        # empty cells keep their previous centroid
        centroids = [by_cid.get(cid, centroids[cid]) for cid in range(k)]
    return centroids


def kmeans_cells(
    emb: DataFrame, id_col: str, vec_col: str, k: int, iterations: int = 5
) -> DataFrame:
    """Mini k-means for IVF cell training — the iterative-algorithm class
    the reference lacks, as a pure DataFrame loop.

    Each iteration: embed the k centroids as literal expressions
    (narrow argmin map — no broadcast, no shuffle), assign every vector
    to its nearest by rounded L2 (engine-deterministic argmin),
    recompute centroids as per-cell means (one partial+final agg).
    Driver holds only the k centroids between iterations — the corpus
    never leaves the cluster, so the loop is O(iterations) scans at any
    scale. Init: first k vectors by id (deterministic; replayable).
    """
    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    centroids = _kmeans_centroid_lists(emb, id_col, vec_col, k, iterations)
    return _assign_cells_literal(e, id_col, list(enumerate(centroids))).select(
        id_col, F.col("cid").alias("cell")
    )


def kmeans_centroids(
    emb: DataFrame, id_col: str, vec_col: str, k: int, iterations: int = 5
) -> DataFrame:
    """Trained centroids as a (cid, cv) frame — the IVF/SemDeDup
    'training' artifact. k rows, built from the driver-held lists (the
    frame a production run would persist next to the cell layout and
    feed to `assign_cells` / `semdedup_pairs(centroids=...)` on every
    ingest batch without retraining)."""
    centroids = _kmeans_centroid_lists(emb, id_col, vec_col, k, iterations)
    return rows_frame(
        emb.sparkSession,
        [(cid, cv) for cid, cv in enumerate(centroids)],
        "cid int, cv array<double>",
    )


def brute_force_topk(
    emb: DataFrame, query: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Exact top-k by cosine. ``query`` is a 1-row frame with ``qv``
    (array<double>); returns (id, sim rounded 4).

    fan_out (r13): the per-row cosine is the whole cost and is NARROW —
    an embeddings corpus in one parquet row group arrives as one scan
    partition and scores on one core (the semantic_decontaminate
    finding, same shape). Guarded no-op on a real multi-partition scan."""
    from .partitioning import fan_out

    scored = fan_out(emb).crossJoin(F.broadcast(query)).select(
        F.col(id_col),
        F.round(
            cosine_expr(to_double_array_sql(sql_ident(vec_col)), "qv"), 6
        ).alias("sim6"),
    )
    return (
        scored.orderBy(F.desc("sim6"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round(F.col("sim6"), 4).alias("sim"))
    )


def assign_cells(emb: DataFrame, centroids: DataFrame, id_col: str) -> DataFrame:
    """Nearest-centroid assignment: argmin by rounded L2 with
    centroid-id tiebreak (engine-portable argmin), as a NARROW map.

    The centroid frame is tiny by contract (k cells — both callers
    build it from a driver-side list), so it is collapsed into literal
    arrays and the argmin becomes `array_position(dists, array_min(
    dists))` over k per-row distance expressions: first match = lowest
    cid among ties, identical semantics to the previous
    min_by(struct(dist6, cid)) form. What changes is the plan: the old
    crossJoin duplicated every corpus row k times and the min_by
    groupBy SHUFFLED the whole corpus (vectors included) once per call
    — per k-means iteration, per semdedup/IVF assignment. The narrow
    form does the same FLOPs with zero shuffle and zero row
    duplication, so at 100 TB assignment is a pure scan stage
    (partition-prunable, incremental per ingest batch).

    A NULL/short vector yields NULL distances for every centroid →
    cid NULL (the row is unassignable; downstream cell joins drop it,
    same as SQL equi-join semantics on NULL).
    """
    rows = sorted(centroids.collect(), key=lambda r: int(r["cid"]))
    if not rows:
        raise ValueError("assign_cells: empty centroid frame")
    cid_type = centroids.schema["cid"].dataType.simpleString()
    return _assign_cells_literal(
        emb, id_col, [(int(r["cid"]), r["cv"]) for r in rows], cid_type
    )


def _assign_cells_literal(
    emb: DataFrame, id_col: str, cells: list, cid_type: str = "int"
) -> DataFrame:
    """Literal-direct assignment core: ``cells`` = [(cid, vector), ...]
    already in driver memory (k-means holds them between iterations —
    routing them through a DataFrame + collect cost a full job per
    iteration). Sorted by cid here so the first-match argmin keeps the
    lowest-cid tiebreak.

    The distance array is built as ONE SQL string parsed JVM-side: a
    k×dims literal forest built with per-element F.lit/lambda calls
    costs seconds of Py4J round-trips PER CALL (measured 2.05 s build
    + 3.8 s analysis for k=16, dims=64 vs 5 ms + 1.1 s in this form,
    bit-identical results) — and k-means pays it every iteration.
    The zip_with/aggregate fold accumulates left to right from 0.0
    (the order the rounded distances depend on).
    """
    cells = sorted(cells, key=lambda c: int(c[0]))

    def arr_sql(vals) -> str:
        # repr(nan/inf) renders 'nanD'/'infD', which fails SQL parsing
        # with an opaque analysis error — fail loudly instead (a NaN
        # vector poisoning a k-means cell mean is the realistic source)
        import math

        vals = [float(x) for x in vals]
        if not all(math.isfinite(x) for x in vals):
            raise ValueError(
                "assign_cells: non-finite centroid component (NaN/Inf "
                "vector data poisoned a centroid?)"
            )
        return "array(" + ",".join(repr(x) + "D" for x in vals) + ")"

    dist_sqls = [
        "round(sqrt(aggregate(zip_with(v, " + arr_sql(cv) + ", "
        "(x,y)->(x-y)*(x-y)), cast(0.0 as double), (acc,w)->acc+w)), 6)"
        for _, cv in cells
    ]
    darr = F.expr("array(" + ",".join(dist_sqls) + ")")
    pos = F.array_position(darr, F.array_min(darr))  # 1-based FIRST match; NULL if all-NULL
    cid_arr = F.array(*[F.lit(int(cid)) for cid, _ in cells])
    cid = F.when(pos > 0, F.element_at(cid_arr, pos.cast("int")))
    return emb.select(F.col(id_col), F.col("v"), cid.cast(cid_type).alias("cid"))


def hyperplane_planes(n_bits: int, dims: int) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane set (sign-random-projection
    LSH). Seedless integer mixing so the identical planes can be
    regenerated anywhere (including inlined into an oracle SQL string):
    sign(b, i) = +1 iff ((b*73856093 + i*19349663) % 97) is even."""
    return [
        [1.0 if ((b * 73856093 + i * 19349663) % 97) % 2 == 0 else -1.0 for i in range(dims)]
        for b in range(n_bits)
    ]


def _plane_sql(vals: list[float]) -> str:
    import math

    vals = [float(x) for x in vals]
    if not all(math.isfinite(x) for x in vals):  # 'nanD' fails SQL parsing
        raise ValueError("hyperplane literal has a non-finite component")
    return "array(" + ",".join(repr(x) + "D" for x in vals) + ")"


def _dot_literal_sql(col_name: str, plane: list[float]) -> str:
    # projection of a vector onto one literal plane: the zip_with/
    # aggregate fold, accumulated left to right from 0.0
    return (
        f"aggregate(zip_with({col_name}, {_plane_sql(plane)}, (x,y)->x*y), "
        "cast(0.0 as double), (a,w)->a+w)"
    )


def hyperplane_bucket(v: str, planes: list[list[float]]) -> Column:
    """Bucket id = sign bits of the plane projections, packed little-
    endian. The sign test uses the 6dp-rounded projection (NULL-safe:
    a NULL projection contributes bit 0 on both engines) so last-bit
    float divergence cannot flip a bucket.

    `v` is SQL text (a column name). The whole bucket is ONE parsed SQL
    expression with the planes inlined as array literals; a per-element
    F.lit / per-lambda Py4J forest measured 2.7 s of pure driver build
    time per embedding-LSH query (SCALE.md "literal forests are Py4J
    storms")."""
    bits = " + ".join(
        f"(CASE WHEN round({_dot_literal_sql(v, plane)}, 6) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b, plane in enumerate(planes)
    )
    return F.expr(f"CAST(({bits}) AS INT)")


def lsh_topk(
    emb: DataFrame, id_col: str, vec_col: str, query_id, k: int, n_bits: int, dims: int
) -> DataFrame:
    """Sign-random-projection LSH ANN: bucket every vector by the sign
    pattern of ``n_bits`` fixed hyperplane projections (a narrow map —
    no shuffle, no training, unlike IVF), then cosine-rerank only the
    query's bucket. Expected candidates = corpus / 2^n_bits: n_bits
    tunes recall vs cost. At 100 TB the bucket column becomes a
    ``partitionBy(bucket)`` lake axis so a probe is partition pruning;
    multi-probe = also visiting buckets at Hamming distance 1 (flip the
    lowest-|projection| bits) — same plan, more buckets in the IN list.

    Versus IVF (ivf_topk): no centroid training or assignment shuffle,
    data-independent buckets (stable under corpus growth — new vectors
    never move old ones between buckets, so incremental ingest appends
    instead of re-clustering); the price is data-oblivious cell shapes
    and thus lower recall per probe on clustered data.
    """
    planes = hyperplane_planes(n_bits, dims)
    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    bucketed = e.withColumn("bucket", hyperplane_bucket("v", planes))
    q = bucketed.filter(F.col(id_col) == query_id).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    cand = bucketed.join(F.broadcast(q), F.col("bucket") == F.col("qb")).filter(
        F.col(id_col) != query_id
    )
    scored = cand.select(
        F.col(id_col), F.round(cosine_expr("v", "qv"), 6).alias("sim6")
    )
    return (
        scored.orderBy(F.desc("sim6"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round(F.col("sim6"), 4).alias("sim"))
    )


def lsh_topk_multiprobe(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int,
    n_bits: int,
    dims: int,
    n_probe: int = 1,
) -> DataFrame:
    """Multi-probe sign-LSH: visit the query's bucket PLUS the buckets
    at Hamming distance 1 obtained by flipping its lowest-|projection|
    bits — the bits most likely to disagree for a true neighbor sitting
    near a hyperplane. Standard multi-probe trade: recall of a
    (n_probe)x bigger bucket at the cost of probing n_probe buckets,
    WITHOUT rebucketing anything.

    The probe set derives from the query row alone (one collect — same
    driver-side footprint as IVF's centroid pull); the corpus-side plan
    is identical to single-probe except the bucket filter becomes an
    IN list, so at scale it stays partition pruning over a
    partitionBy(bucket) layout.
    """
    planes = hyperplane_planes(n_bits, dims)
    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    bucketed = e.withColumn("bucket", hyperplane_bucket("v", planes))
    qrow = (
        bucketed.filter(F.col(id_col) == query_id)
        .select(
            "v",
            "bucket",
            *[
                F.expr(f"round({_dot_literal_sql('v', p)}, 6)").alias(f"proj{b}")
                for b, p in enumerate(planes)
            ],
        )
        .first()
    )
    if qrow is None:
        raise ValueError(f"query id {query_id!r} not found")
    qb = qrow["bucket"]
    by_margin = sorted(range(n_bits), key=lambda b: (abs(qrow[f"proj{b}"] or 0.0), b))
    probes = [qb] + [qb ^ (1 << b) for b in by_margin[: max(0, n_probe - 1)]]
    q = rows_frame(emb.sparkSession, [(list(qrow["v"]),)], "qv array<double>")
    cand = bucketed.filter(
        F.col("bucket").isin(probes) & (F.col(id_col) != query_id)
    ).crossJoin(F.broadcast(q))
    scored = cand.select(
        F.col(id_col), F.round(cosine_expr("v", "qv"), 6).alias("sim6")
    )
    return (
        scored.orderBy(F.desc("sim6"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round(F.col("sim6"), 4).alias("sim"))
    )


def ivf_topk(
    emb: DataFrame, id_col: str, vec_col: str, query_id, k: int, n_cells: int
) -> DataFrame:
    """IVF ANN with deterministic 'training': centroids = first n_cells
    vectors by id. Search probes only the query's cell."""
    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    # first n_cells by id order (robust to non-contiguous ids; equals the
    # id < n_cells set when ids are 0-based like the testdata)
    centroids = e.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).alias("cid"), F.col("v").alias("cv")
    )
    assigned = assign_cells(e, centroids, id_col)
    q = assigned.filter(F.col(id_col) == query_id).select(
        F.col("v").alias("qv"), F.col("cid").alias("qcid")
    )
    cand = assigned.join(F.broadcast(q), F.col("cid") == F.col("qcid")).filter(
        F.col(id_col) != query_id
    )
    scored = cand.select(
        F.col(id_col), F.round(cosine_expr("v", "qv"), 6).alias("sim6")
    )
    return (
        scored.orderBy(F.desc("sim6"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round(F.col("sim6"), 4).alias("sim"))
    )


def knn_join(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_bits: int | None = None,
    dims: int | None = None,
) -> DataFrame:
    """Batch k-NN join: the top-k cosine neighbors for EVERY row of a
    query set at once (retrieval / RAG-index eval / near-dup audit
    batch shape), not just one probe vector.

    ``queries`` carries (query_id, qv array<double>). Two plans:

    - exact (``n_bits=None``): broadcast the query set and score every
      (corpus row × query) pair in a narrow map — one corpus scan, no
      shuffle of the corpus, right while |queries| × dims fits an
      executor (batch lookups are typically 10²-10⁴ queries).
    - bucketed (``n_bits`` set): both sides bucket by the same
      data-independent sign-LSH hyperplanes and the pair space is the
      bucket EQUI-JOIN — candidates drop to ~|corpus|/2^n_bits per
      query, the join shuffles on the bucket key (or prunes partitions
      when the lake is laid out partitionBy(bucket)), and the query
      set no longer needs to fit anywhere. Approximate: recall follows
      the sign-LSH collision curve (1 - θ/π)^n_bits.

    Per-query top-k is a row_number window partitioned by query_id —
    parallelism = |queries|, never a global sort.
    """
    dot = dot_fixed_sql("v", "qv", dims) if dims else dot_sql("v", "qv")
    # fan_out (r13): the |emb| x |queries| scoring below is narrow — a
    # single-row-group scan otherwise scores on one core regardless of
    # cluster width (guarded no-op at scale)
    from .partitioning import fan_out

    e = fan_out(emb).select(
        F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v")
    ).withColumn("nrm", F.expr(norm_sql("v")))
    q = queries.select(
        F.col("query_id"), to_double_array(sql_ident("qv")).alias("qv")
    ).withColumn("qnrm", F.expr(norm_sql("qv")))
    if n_bits is None:
        cand = e.crossJoin(F.broadcast(q))
    else:
        if dims is None:
            raise ValueError("bucketed knn_join needs dims for the hyperplanes")
        planes = hyperplane_planes(n_bits, dims)
        eb = e.withColumn("bucket", hyperplane_bucket("v", planes))
        qb = q.withColumn("bucket", hyperplane_bucket("qv", planes))
        cand = eb.join(qb, "bucket")
    scored = cand.filter(F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col),
        F.expr(f"round(try_divide({dot}, nrm * qnrm), 6)").alias("sim6"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim6"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", id_col, F.round(F.col("sim6"), 4).alias("sim"), F.col("rk").cast("int").alias("rk"))
    )


def int8_codes_sql(v: str) -> tuple[str, str]:
    """SQL text of `int8_codes` for splicing into larger expressions."""
    scale = f"(array_max(transform({v}, __ia -> abs(__ia))) / 127.0D)"
    codes = (
        f"CASE WHEN {scale} > 0 THEN "
        f"transform({v}, __ic -> cast(floor(__ic / {scale} + 0.5D) as bigint)) "
        f"ELSE transform({v}, __iz -> cast(0 as bigint)) END"
    )
    return codes, scale


def int8_codes(v: str) -> tuple[Column, Column]:
    """(codes, scale): symmetric scale-only int8 quantization of a
    double array — code_i = floor(x_i/s + 0.5), s = max|x|/127 per
    vector. No affine offset (an offset breaks dot-product ranking);
    every step is one correctly-rounded IEEE op on exactly-derived
    doubles, so codes are bit-identical cross-engine. The scan-side
    scheme of the quantized ANN family (storage-side quantization with
    per-vector (min,max) lives in q_embed_quantize). `v` is SQL text;
    each output is one parse."""
    codes_s, scale_s = int8_codes_sql(v)
    return F.expr(codes_s), F.expr(scale_s)


def quantized_dot_sql(codes_a: str, codes_b: str) -> str:
    """SQL text of `quantized_dot` for splicing into larger
    expressions."""
    return (
        f"aggregate(zip_with({codes_a}, {codes_b}, (__qa, __qb) -> __qa * __qb), "
        f"cast(0 as bigint), (__qacc, __qx) -> __qacc + __qx)"
    )


def quantized_dot(codes_a: str, codes_b: str) -> Column:
    """BIGINT zip-sum of two code arrays — the integer-exact core of
    the asymmetric quantized score (codes_a · codes_b) · s_a · s_b.
    Inputs are SQL text; one parse."""
    return F.expr(quantized_dot_sql(codes_a, codes_b))


def build_ivf_quantized_index(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    centroids_path: str,
    codes_path: str,
) -> None:
    """IVF-PQ-style index AS TABLES (the Jégou et al. inverted-file +
    quantization layout, index-as-manifest-lake): persist (cid, cv)
    centroids and per-cell int8 code segments into two manifest lakes.

    The codes lake commits ONE PARTITION-TAGGED SEGMENT PER CELL with a
    bloom on the id column, so the search composes three prunes before
    touching data: manifest part_eq prunes to the probe cell's segment
    (1/k of the codes), the id bloom answers the query-row point lookup,
    and the quantized scan reads 4x less than float32. Centroids are
    deterministically the first `n_cells` vectors by id (the oracle can
    replay it; production swaps in k-means centroids — same layout,
    see kmeans_cells). Rebuild = re-run: each lake takes ONE replace
    commit (`commit_replace_partitioned` for the codes lake lands every
    cell's tagged segment in a single version — readers stay
    snapshot-isolated for the whole rebuild, never see a partial index,
    and the build pays one manifest CAS instead of one per cell)."""
    from ..sources import manifest as M

    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    centroids = e.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).cast("int").alias("cid"), F.col("v").alias("cv")
    )
    assigned = assign_cells(e, centroids, id_col)
    codes, scale = int8_codes("v")
    code_rows = assigned.select(
        F.col(id_col),
        F.col("cid"),
        scale.alias("s"),
        codes.alias("codes"),
    ).localCheckpoint(eager=True)  # one assignment pass, one keyed write
    M.commit_replace(spark, centroids_path, centroids)
    M.commit_replace_partitioned(
        spark,
        codes_path,
        code_rows,
        part_col="cid",
        bloom_cols=[id_col],
    )


def update_ivf_quantized_index(
    spark,
    emb_delta: DataFrame,
    id_col: str,
    vec_col: str,
    centroids_path: str,
    codes_path: str,
    tag: str | None = None,
) -> int:
    """INCREMENTAL maintenance of the persisted IVF-PQ index: fold a
    batch of new/re-embedded vectors into the codes lake without a
    rebuild. Assignment against the EXISTING centroids (read once from
    the centroids lake, broadcast as literals — the IVF contract:
    centroids move only on retrain), int8 codes per row, then ONE
    partition-scoped MERGE (`commit_upsert_partitioned`) that rewrites
    only the cells the batch touches and regenerates their id blooms —
    point lookups keep pruning after maintenance. Untouched cell
    segments transfer by name: at 100 TB an ingest batch touching 3 of
    4096 cells rewrites 3 segments and a KB manifest.

    A re-embedded vector that MOVES cells is refused by the MERGE's
    key-stability check (its stale row would survive in the old cell);
    delete it first or retrain. Returns the committed version."""
    from ..sources import manifest as M

    centroids = M.read_snapshot(spark, centroids_path).select("cid", "cv")
    e = emb_delta.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    assigned = assign_cells(e, centroids, id_col)
    codes, scale = int8_codes("v")
    change_rows = assigned.select(
        F.col(id_col),
        F.col("cid"),
        scale.alias("s"),
        codes.alias("codes"),
        F.lit(1).alias("__ver"),
    )
    return M.commit_upsert_partitioned(
        spark,
        codes_path,
        change_rows,
        keys=[id_col],
        version_col="__ver",
        part_col="cid",
        bloom_cols=[id_col],
        tag=tag,  # streaming maintenance: one token per micro-batch
    )


def apply_cdf_to_ivf_index(
    spark,
    cdf_batch: DataFrame,
    id_col: str,
    vec_col: str,
    centroids_path: str,
    codes_path: str,
    tag: str | None = None,
) -> None:
    """Fold a CHANGE-DATA-FEED batch — rows of ``(id, op ∈ {insert,
    update, delete}, old struct, new struct, _commit_version)``, the
    format("manifest_cdf") shape over the embeddings lake — into the
    persisted IVF codes lake (VERDICT r10 #2): ONE consumer handles
    inserts, re-embeddings AND deletes, where `update_ivf_quantized_
    index` takes inserts/same-cell updates only and deletes needed the
    separate `propagate_index_deletes` call.

    A batch may carry several versions of one key; the NET fold is
    min_by(old)/max_by(new) on the version — the codes lake reflects
    the state before the batch, so the first old is its current row
    and the last new is its target. Cells derive from the vectors
    themselves (centroids are FIXED between retrains, so assigning the
    OLD vector reproduces the key's current cell without reading the
    codes lake): a delete, or an update whose new cell differs, first
    removes the key via `commit_delete` (stats+bloom-pruned CoW —
    rewrites only the bloom-positive cell segments), then the
    insert/update rows land through the partition-scoped tagged MERGE.

    Crash/replay discipline (r12 — the delete+MERGE pair runs through
    `manifest.commit_multi` as ONE ``{group}={token}`` group with a
    NAMED delete participant, tag ``...:del``): the caller still gates
    on the MERGE (bare) tag before calling — a replay after full
    completion no-ops wholesale; a crash between the delete and the
    MERGE now tag-SKIPS the delete (it used to re-run as a semantic
    no-op) and lands the MERGE — the hand-rolled two-commit discipline
    this primitive was built to subsume (VERDICT r11 #3). A `tag`
    without '=' keeps the legacy single-tag behavior for ad-hoc batch
    calls. Unassignable vectors (NULL/short — NULL cid) drop, the
    assign_cells contract."""
    from ..sources import manifest as M

    batch = cdf_batch.localCheckpoint(eager=True)  # one computation
    centroids = M.read_snapshot(spark, centroids_path).select("cid", "cv")
    net = batch.groupBy(id_col).agg(
        F.min_by("old", "_commit_version").alias("__old0"),
        F.max_by("new", "_commit_version").alias("__new1"),
    ).localCheckpoint(eager=True)
    ups = net.filter(F.col("__new1").isNotNull()).select(
        F.col(id_col),
        to_double_array(f"`__new1`.{sql_ident(vec_col)}").alias("v"),
    )
    assigned_new = assign_cells(ups, centroids, id_col).filter(
        F.col("cid").isNotNull()
    )
    olds = net.filter(F.col("__old0").isNotNull()).select(
        F.col(id_col),
        to_double_array(f"`__old0`.{sql_ident(vec_col)}").alias("v"),
    )
    assigned_old = assign_cells(olds, centroids, id_col).select(
        F.col(id_col), F.col("cid").alias("__cid_old")
    )
    kill = (
        assigned_old.join(
            assigned_new.select(id_col, "cid"), on=id_col, how="left"
        )
        .filter(F.col("cid").isNull() | (F.col("cid") != F.col("__cid_old")))
        .select(id_col)
    )
    codes, scale = int8_codes("v")
    change_rows = assigned_new.select(
        F.col(id_col),
        F.col("cid"),
        scale.alias("s"),
        codes.alias("codes"),
        F.lit(1).alias("__ver"),
    )

    def _del(t):
        if kill.limit(1).count():
            return M.commit_delete(spark, codes_path, kill, [id_col], tag=t)
        return M.current_version(spark, codes_path)

    def _merge(t):
        if change_rows.limit(1).count():
            return M.commit_upsert_partitioned(
                spark,
                codes_path,
                change_rows,
                keys=[id_col],
                version_col="__ver",
                part_col="cid",
                bloom_cols=[id_col],
                tag=t,
            )
        return M.current_version(spark, codes_path)

    if tag is not None and "=" in tag:
        group, token = tag.split("=", 1)
        M.commit_multi(
            spark, group, token,
            [(codes_path, _del, "del"), (codes_path, _merge)],
        )
    else:  # legacy ad-hoc batch call: untagged delete + tagged MERGE
        _del(None)
        _merge(tag)


def ivf_quantized_topk(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int,
    centroids_path: str,
    codes_path: str,
    pool: int = 50,
) -> DataFrame:
    """IVF-PQ search end-to-end over the persisted index: (1) the query
    row's cell + codes come from the codes lake via a BLOOM point
    lookup (manifest prunes to ~1 segment); (2) the probe cell's
    segment — and only it, via part_eq manifest pruning — is scanned
    with the integer asymmetric score; (3) the top-`pool` candidates
    are RERANKED EXACT: a broadcast-sized id join fetches the original
    vectors and exact cosine orders the final top-k. Every stage is
    deterministic (BIGINT dot, 6dp-rounded cosine, id tiebreaks) so the
    whole path is oracle-replayable — no recall pin needed, the result
    is exact over the probed cell."""
    from ..sources import manifest as M

    qrow = (
        M.read_snapshot(spark, codes_path, bloom_eq={id_col: query_id})
        .filter(F.col(id_col) == query_id)
        .select(
            F.col("cid").alias("qcid"),
            F.col("s").alias("qs"),
            F.col("codes").alias("qcodes"),
        )
    )
    qcid = qrow.collect()
    if not qcid:
        raise ValueError(f"query id {query_id!r} not in the codes index")
    qcid_val = qcid[0]["qcid"]
    cand = (
        M.read_snapshot(spark, codes_path, part_eq={"cid": int(qcid_val)})
        .filter(F.col("cid") == int(qcid_val))
        .filter(F.col(id_col) != query_id)
    )
    qb = F.broadcast(qrow)
    pooled = (
        cand.crossJoin(qb)
        .select(
            F.col(id_col),
            (quantized_dot("codes", "qcodes")
             * (F.col("s") * F.col("qs"))).alias("qscore"),
        )
        .orderBy(F.col("qscore").desc_nulls_last(), F.col(id_col).asc())
        .limit(pool)
    )
    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    qv = e.filter(F.col(id_col) == query_id).select(F.col("v").alias("qv"))
    reranked = (
        e.join(F.broadcast(pooled.select(id_col)), on=id_col)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col(id_col),
            F.round(cosine_expr("v", "qv"), 6).alias("sim6"),
        )
    )
    return (
        reranked.orderBy(F.desc("sim6"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round(F.col("sim6"), 4).alias("sim"))
    )


# ----------------------------------------------------------------------
# Product quantization (codebook PQ): the 16-32x compression tier.
# Jégou et al., "Product Quantization for Nearest Neighbor Search"
# (TPAMI 2011): split d dims into m subspaces, learn ksub codewords per
# subspace, store each vector as m small codes; search = one m*ksub
# ASYMMETRIC DISTANCE TABLE from the query, then the scan is m integer
# table lookups per row instead of d float multiplies.
#
# Determinism contract (the q_ann_quantized_rerank discipline): every
# comparison that picks a code or cuts the candidate pool happens on
# BIGINTs — vectors land on a fixed-point grid (floor(x * 2^bits + 0.5),
# one correctly-rounded IEEE op per element), distances and partial
# dots are integer zip-sums (order-free), ties break on code/id. The
# pool is then reranked with exact 6dp cosine, so the final top-k
# hash-matches a SQL replay; recall (does the true top-k survive the
# pool cut?) is pinned separately in pytest.
# ----------------------------------------------------------------------


def fixed_point_sql(v: str, bits: int = 20) -> str:
    """SQL text of `fixed_point` for splicing into larger expressions."""
    scale = repr(float(1 << bits))
    return f"transform({v}, __fp -> cast(floor(__fp * {scale}D + 0.5D) as bigint))"


def fixed_point(v: str, bits: int = 20) -> Column:
    """array<bigint> fixed-point grid of a double array: floor(x *
    2^bits + 0.5) — one correctly-rounded multiply + floor per element,
    bit-identical cross-engine (the int8_codes argument, without the
    per-vector scale so values stay COMPARABLE across vectors).
    `v` is SQL text; one parse."""
    return F.expr(fixed_point_sql(v, bits))


def pq_train_codebooks(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
) -> DataFrame:
    """(sub, code, cw) codebooks: codeword j of subspace s is the s-th
    slice of the j-th vector in `id_col` order — deterministic so the
    oracle can replay it (production swaps in per-subspace k-means via
    `_kmeans_centroid_lists` on each slice; same layout, same scan).
    ksub is bounded (<=256 per the PQ byte-code contract), so a
    driver-side collect of ksub rows is O(1) by construction."""
    rows = (
        emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
        .filter(F.col("v").isNotNull())  # NULL vectors train nothing
        .orderBy(id_col)
        .limit(ksub)
        .select("v")
        .collect()
    )
    if not rows:
        raise ValueError("pq_train_codebooks: empty input")
    d = len(rows[0]["v"])
    if d % m != 0:
        raise ValueError(f"pq: dims {d} not divisible by m={m}")
    dsub = d // m
    data = [
        (s, j, [float(x) for x in r["v"][s * dsub:(s + 1) * dsub]])
        for j, r in enumerate(rows)
        for s in range(m)
    ]
    return rows_frame(spark, data, "sub int, code int, cw array<double>")


def pq_train_codebooks_kmeans(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    iterations: int = 5,
    train_rows: int = 10_000,
) -> DataFrame:
    """The PRODUCTION codebook trainer: per-subspace Lloyd k-means
    (ksub centroids over each d/m-dim slice), the Jégou et al. training
    procedure — same (sub, code, cw) layout as `pq_train_codebooks`,
    drops into `pq_encode`/`pq_topk`/`build_pq_index` unchanged.

    PQ training is always SAMPLE-bounded (FAISS trains on ~100k
    vectors regardless of index size): the first `train_rows` by id
    pin the training set (deterministic), it is checkpointed once, and
    the m x `iterations` Lloyd loop runs over that bounded frame — so
    training cost is independent of corpus scale; the corpus-scale
    work stays in `pq_encode`. Not SQL-replayable (iterative means),
    so queries built on it are rows-only; layout/recall parity with
    the sampled trainer is pinned in pytest instead."""
    e = (
        emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
        .orderBy(id_col)
        .limit(train_rows)
        .localCheckpoint(eager=True)
    )
    first = e.select(F.size("v").alias("d")).limit(1).collect()
    if not first:
        raise ValueError("pq_train_codebooks_kmeans: empty input")
    d = int(first[0]["d"])
    if d % m != 0:
        raise ValueError(f"pq: dims {d} not divisible by m={m}")
    dsub = d // m
    data = []
    for s in range(m):
        sub = e.select(
            F.col(id_col), F.slice("v", s * dsub + 1, dsub).alias("sv")
        )
        cents = _kmeans_centroid_lists(sub, id_col, "sv", ksub, iterations)
        data.extend(
            (s, j, [float(x) for x in cw]) for j, cw in enumerate(cents)
        )
    return rows_frame(spark, data, "sub int, code int, cw array<double>")


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    bits: int = 20,
) -> DataFrame:
    """(id, codes array<int>): each vector's m nearest-codeword codes.
    Plan shape: one narrow pass slices + fixed-points the vectors,
    posexplode to (id, sub) rows, broadcast-join the m*ksub codebook,
    BIGINT L2^2 zip-sum per candidate codeword, per-(id, sub) argmin
    window (dist asc, code asc — the deterministic tiebreak), then the
    m codes fold back into one array. Cost: O(n * m * ksub) narrow
    rows, one (id, sub)-partitioned window, one groupBy — nothing
    quadratic in the corpus."""
    v = to_double_array(sql_ident(vec_col))
    sub_rows = (
        emb.select(F.col(id_col), v.alias("v"))
        # a NULL vector has no codes — drop it here (equi-join
        # semantics would drop it downstream anyway, loudly is better)
        .filter(F.col("v").isNotNull())
        # in-plan length assertion: _subvectors_dyn floors size/m, so a
        # vector whose length isn't divisible by m would SILENTLY drop
        # its trailing dims (the trainer raises on the same condition) —
        # fail loudly per offending id instead
        .withColumn(
            "v",
            F.when(
                F.size("v") % F.lit(m) != 0,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"pq_encode: vector length not divisible by m={m} at id "
                        ),
                        F.col(id_col).cast("string"),
                    )
                ),
            ).otherwise(F.col("v")),
        )
        .select(
            id_col,
            F.posexplode(
                _subvectors_dyn("v", m)
            ).alias("sub", "sv"),
        )
        .select(id_col, "sub", fixed_point("sv", bits).alias("svf"))
    )
    cb = codebooks.select(
        "sub", "code", fixed_point("cw", bits).alias("cwf")
    )
    dist = F.expr(
        'aggregate(zip_with(svf, cwf, (__da, __db) -> (__da - __db) * (__da - __db)), '
        'cast(0 as bigint), (__dacc, __dx) -> __dacc + __dx)'
    )
    # asc is NULLS FIRST in Spark: a NULL distance (vector length !=
    # codeword length) must never win the argmin — nulls last, so a
    # mismatched row surfaces no valid assignment instead of an
    # arbitrary code
    w = Window.partitionBy(id_col, "sub").orderBy(
        F.col("dist").asc_nulls_last(), F.col("code").asc()
    )
    assigned = (
        sub_rows.join(F.broadcast(cb), "sub")
        .select(id_col, "sub", "code", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return assigned.groupBy(id_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(sub, code))), "
            "__pc -> cast(__pc.code as int))"
        ).alias("codes")
    )


def _subvectors_dyn(v: str, m: int) -> Column:
    """m contiguous slices with the sub-dim derived IN-PLAN from the
    array length (size(v)/m) — no driver-side dims probe on the hot
    encode path. Divisibility (size(v) % m == 0) is validated by the
    trainers (`pq_train_codebooks*` raise on d % m != 0); a corpus
    vector of a DIFFERENT length than the codewords yields NULL
    zip_with distances downstream, which the nulls-LAST argmin windows
    refuse to promote to a code (the row surfaces no assignment rather
    than an arbitrary one). `v` is SQL text; one parse for all m
    slices."""
    dsub = f"cast((size({v}) / {m}) as int)"
    slices = ", ".join(f"slice({v}, {s} * {dsub} + 1, {dsub})" for s in range(m))
    return F.expr(f"array({slices})")


def pruned_vector_fetch(e: DataFrame, id_col: str, ids: list) -> DataFrame:
    """Bounded point-read of original vectors for the exact-rerank
    finish: the id set arrives as LITERALS (collected driver-side from
    a pool that is <= `pool` rows by construction), so Catalyst pushes
    ``In(id, [...])`` into the scan — parquet row-group min/max stats
    and file-level blooms prune, and a manifest-lake source pairs it
    with ``read_snapshot(ranges=...)`` segment skipping. This replaces
    a broadcast-hash join of the pool against an UNPRUNED full scan of
    the embeddings table, which at 100 TB would re-read every float
    byte the m-int code scan just avoided (plan-tested:
    tests/test_plans.py asserts the pushed In filter on the rerank
    scan)."""
    return e.filter(F.col(id_col).isin(list(ids)))


def build_pq_index(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    codebooks_path: str,
    codes_path: str,
    codebooks: DataFrame | None = None,
) -> None:
    """Persist the PQ index as TABLES (the index-as-manifest-lake
    discipline of build_ivf_quantized_index): a codebooks lake (m*ksub
    rows) and a codes lake (one array<int> of m codes per vector —
    the 16-32x compressed representation the ADT scan reads). Each
    lake takes ONE replace commit: readers stay snapshot-isolated for
    the whole (re)build, and superseded segments reclaim via the
    age-based vacuum like any other lake.

    `codebooks` overrides the default deterministic sampled trainer
    with a precomputed (sub, code, cw) frame — e.g. the k-means
    trainer `pq_train_codebooks_kmeans` (the production path); the
    layout and search are identical either way."""
    from ..sources import manifest as M

    cb = codebooks if codebooks is not None else pq_train_codebooks(
        spark, emb, id_col, vec_col, m, ksub
    )
    codes = pq_encode(emb, cb, id_col, vec_col, m)
    M.commit_replace(spark, codebooks_path, cb)
    # MANIFEST id blooms on the flat codes lake: bloom-pruned
    # takedowns (propagate_index_deletes) without paying the per-file
    # parquet bloom — this tier's contract is minimum bytes on disk
    M.commit_replace(
        spark, codes_path, codes, bloom_cols=[id_col], file_blooms=False
    )


def pq_topk(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int,
    m: int,
    codebooks_path: str,
    codes_path: str,
    pool: int = 50,
    bits: int = 20,
) -> DataFrame:
    """PQ search over the persisted index, exact-rerank finish:
    (1) build the ASYMMETRIC DISTANCE TABLE — the query's m fixed-point
    subvectors dotted with every codeword, m*ksub BIGINT rows, broadcast;
    (2) scan the CODES lake (m ints per row, 16-32x less IO than
    float32), join each (sub, code) against the ADT and sum partial
    dots per id — integer-exact, order-free;
    (3) cut a top-`pool` candidate set (score desc, id asc) —
    TakeOrderedAndProject, no full sort;
    (4) rerank the pool — and only the pool — with exact 6dp cosine
    against the ORIGINAL vectors (O(pool) point fetches at 100 TB),
    return top-k at 4dp. Exact-at-the-top whenever the true top-k
    survives the pool cut (pool >> k), so the result hash-matches the
    SQL replay; the recall floor is pinned in pytest."""
    from ..sources import manifest as M

    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    qrow = e.filter(F.col(id_col) == query_id).select(
        F.col("v").alias("qv"),
        F.posexplode(_subvectors_dyn("v", m)).alias("sub", "qsv"),
    ).select("sub", fixed_point("qsv", bits).alias("qsvf"), "qv")
    cb = M.read_snapshot(spark, codebooks_path).select(
        "sub", "code", fixed_point("cw", bits).alias("cwf")
    )
    pdot = quantized_dot("qsvf", "cwf")
    adt = (
        qrow.join(F.broadcast(cb), "sub")
        .select("sub", "code", pdot.alias("pdot"))
    )
    codes = M.read_snapshot(spark, codes_path).filter(
        F.col(id_col) != query_id
    )
    scored = (
        codes.select(id_col, F.posexplode("codes").alias("sub", "code"))
        .join(F.broadcast(adt), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("pdot").alias("score"))
    )
    pool_df = scored.orderBy(
        F.col("score").desc_nulls_last(), F.col(id_col).asc()
    ).limit(pool)
    # the pool is bounded (<= `pool` rows) by construction: collect the
    # ids and push them back as an In() predicate so the rerank reads
    # O(pool) row groups/segments, never a full float scan
    pool_ids = [r[0] for r in pool_df.select(id_col).collect()]
    if not pool_ids:
        return e.filter(F.lit(False)).select(
            id_col, F.lit(None).cast("double").alias("sim")
        )
    qv = e.filter(F.col(id_col) == query_id).select(F.col("v").alias("qv"))
    reranked = (
        pruned_vector_fetch(e, id_col, pool_ids)
        .crossJoin(F.broadcast(qv))
        .select(id_col, F.round(cosine_expr("v", "qv"), 6).alias("sim6"))
    )
    return (
        reranked.orderBy(F.desc("sim6"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round(F.col("sim6"), 4).alias("sim"))
    )


def ivfpq_knn_join(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    k: int,
    m: int,
    centroids_path: str,
    codebooks_path: str,
    codes_path: str,
    pool: int = 50,
    bits: int = 20,
    nprobe: int = 1,
    narrow_pool: bool | None = None,
) -> DataFrame:
    """Batch k-NN join served through the persisted IVF-PQ index — the
    batch-inference shape a training-data pipeline actually runs
    (dedup audits, retrieval eval, hard-negative mining): top-k
    neighbors for EVERY query in one pass, paying the index's pruned
    cost instead of `knn_join`'s full corpus scan per batch.

    Plan shape (VERDICT r7 next #5):
    (1) the bounded query set's vectors arrive via ONE id-pushed point
        read (`pruned_vector_fetch`); each query ranks the n_cells
        centroids IN-PLAN (a |Q| x n_cells broadcast-nested-loop row
        set with ivfpq_topk's exact ordering — rounded L2, cid
        tiebreak) and probes its `nprobe` nearest — the deployed
        index's recall knob, no rebuild, and no O(|Q| * n_cells)
        driver loop;
    (2) one ADT per query via a single query×codebook broadcast join
        (|Q|·m·ksub BIGINT rows — broadcast back out);
    (3) the probed cells' segments — the UNION over all queries, each
        via part_eq manifest pruning — are scanned ONCE and shared: a
        candidate row joins only the queries probing its cell
        (broadcast (qid, cid, q·c) map), m integer lookups + a BIGINT
        sum per (candidate, query) pair; cross-cell scores compare by
        adding the per-(query, cell) fixed-point q·centroid constant
        (exact BIGINTs, same grid as the ADT);
    (4) per-query top-`pool` by a qid-partitioned row_number window
        (parallelism = |Q|, never a global sort), then the bounded
        pool-pair set collects and the exact 6dp-cosine rerank reads
        ONLY those candidate vectors (id-pushed point read again).
    No full-table float read anywhere (plan-tested). Deterministic
    end-to-end — hash-matches the SQL replay. Self-matches excluded.
    Queries are corpus members by id (the eval/audit contract); serve
    out-of-corpus vectors by appending them to the embeddings lake
    first, which is what a production pipeline does anyway."""
    from ..sources import manifest as M

    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    qv0 = pruned_vector_fetch(e, id_col, query_ids).select(
        F.col(id_col).alias("qid"), F.col("v").alias("qv")
    )
    id_t = e.schema[id_col].dataType.simpleString()
    # per-query nearest cells IN-PLAN (|Q| x n_cells broadcast-nested-
    # loop rows — bounded by contract, never a Python loop over it):
    # the IDENTICAL rounded-L2 + cid-tiebreak ordering as assignment/
    # ivfpq_topk (round HALF_UP == the floor(x*1e6+0.5) grid for
    # positive distances), so nprobe=1 probes exactly each query's own
    # cell; the per-(query, cell) fixed-point q·c constant rides along
    # as an exact BIGINT zip-sum on the ADT's 2^bits grid.
    cents_df = M.read_snapshot(spark, centroids_path)
    d6 = F.expr(
        'round(sqrt(aggregate(zip_with(qv, cv, '
        '(__la, __lb) -> (__la - __lb) * (__la - __lb)), '
        '0.0D, (__lacc, __lw) -> __lacc + __lw)), 6)'
    )
    qc_col = quantized_dot(fixed_point_sql("qv", bits), fixed_point_sql("cv", bits))
    wq = Window.partitionBy("qid").orderBy(
        F.col("d6").asc_nulls_last(), F.col("cid").asc()
    )
    # ONE driver round-trip serves the point read AND the cell ranking
    # (r12, guide §1.2 — the two collects were sequential jobs over the
    # same bounded query set; the ranking rows carry the query vectors
    # alongside, both bounded by |Q| * nprobe by construction)
    rank_rows = (
        qv0.crossJoin(F.broadcast(cents_df))
        .select("qid", "qv", "cid", d6.alias("d6"), qc_col.alias("qc"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max(1, nprobe))
        .select("qid", "qv", "cid", "qc")
        .collect()  # bounded: |Q| * nprobe rows
    )
    qcell_rows = [
        (r["qid"], int(r["cid"]), int(r["qc"]))
        for r in rank_rows
        if r["cid"] is not None
    ]
    if not qcell_rows:
        return e.filter(F.lit(False)).select(
            F.col(id_col).alias("query_id"),
            F.col(id_col),
            F.lit(None).cast("double").alias("sim"),
        )
    # the query vectors are driver-held (bounded): every downstream
    # consumer (ADT build, rerank) reads the literal frame instead of
    # re-running the point-read scan once per action
    qv_by_id: dict = {}
    for r in rank_rows:
        qv_by_id.setdefault(r["qid"], [float(x) for x in r["qv"]])
    qv = rows_frame(
        spark,
        sorted(qv_by_id.items()),
        f"qid {id_t}, qv array<double>",
    )
    probe_cids = sorted({cid for _, cid, _ in qcell_rows})
    qcell_map = rows_frame(
        spark, qcell_rows, f"qid {id_t}, cid int, qc bigint"
    )
    qsub = qv.select(
        "qid", F.posexplode(_subvectors_dyn("qv", m)).alias("sub", "qsv")
    ).select("qid", "sub", fixed_point("qsv", bits).alias("qsvf"))
    cb = M.read_snapshot(spark, codebooks_path).select(
        "sub", "code", fixed_point("cw", bits).alias("cwf")
    )
    pdot = quantized_dot("qsvf", "cwf")
    adt = qsub.join(F.broadcast(cb), "sub").select(
        "qid", "sub", "code", pdot.alias("pdot")
    )
    # ONE manifest-pruned scan over the probed cells (part_in = the
    # set-valued part_eq): the previous per-cell read_snapshot union
    # built |cells| scan plans + an N-way union — ~1.7 s of pure
    # planning at 6 cells with identical rows scanned (the in-plan
    # isin replays the pruning hint, same contract as part_eq) —
    # r12, guide §1.5/§3
    cand = M.read_snapshot(
        spark, codes_path, part_in={"cid": [int(c) for c in probe_cids]}
    ).filter(F.col("cid").isin([int(c) for c in probe_cids]))
    pool_src = cand.join(F.broadcast(qcell_map), "cid").filter(
        F.col(id_col) != F.col("qid")
    )
    # size-guarded pool-job fan-in (r13, guide §2.4/§1.2): hash-
    # partitioning the candidate stream by qid up front lets BOTH the
    # ADT aggregation (clustering on (qid, id, qc) — a superset of the
    # partition key) and the per-query pool window reuse ONE exchange
    # (2 Exchanges -> 1, one fewer AQE stage job). Guarded by the
    # package's one broadcast bar (`fits_broadcast`) because the
    # narrow shape shuffles candidate PAYLOADS (m-code arrays) and caps
    # scoring parallelism at |Q| tasks — above the bar the wide shape
    # (map-side partial agg, scan-width scoring, WindowGroupLimit-
    # pre-limited second exchange) is the 100 TB plan.
    if narrow_pool is None:
        narrow_pool = fits_broadcast(cand)
    if narrow_pool:
        pool_src = pool_src.repartition("qid")
    scored = (
        pool_src
        .select("qid", "qc", id_col, F.posexplode("codes").alias("sub", "code"))
        .join(F.broadcast(adt), ["qid", "sub", "code"])
        .groupBy("qid", id_col, "qc")
        .agg(F.sum("pdot").alias("rdot"))
        # q·x̂ = q·c + q·r̂ on one fixed-point grid: cross-cell scores
        # compare exactly (a per-query constant when nprobe=1)
        .select("qid", id_col, (F.col("rdot") + F.col("qc")).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc_nulls_last(), F.col(id_col).asc()
    )
    pool_pairs = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pool)
        .select("qid", id_col)
        .collect()  # bounded: |Q| * pool rows by construction
    )
    if not pool_pairs:
        return e.filter(F.lit(False)).select(
            F.col(id_col).alias("query_id"),
            F.col(id_col),
            F.lit(None).cast("double").alias("sim"),
        )
    id_t = e.schema[id_col].dataType.simpleString()
    pairs_df = rows_frame(
        spark,
        [(r["qid"], r[id_col]) for r in pool_pairs],
        f"qid {id_t}, {id_col} {id_t}",
    )
    cand_ids = sorted({r[id_col] for r in pool_pairs})
    fetch = pruned_vector_fetch(e, id_col, cand_ids)
    rr = (
        fetch.join(F.broadcast(pairs_df), id_col)
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            id_col,
            F.round(cosine_expr("v", "qv"), 6).alias("sim6"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("sim6"), F.asc(id_col))
    return (
        rr.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col(id_col),
            F.round(F.col("sim6"), 4).alias("sim"),
        )
    )


def build_ivfpq_index(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    m: int,
    ksub: int,
    centroids_path: str,
    codebooks_path: str,
    codes_path: str,
) -> None:
    """Full IVF-PQ (Jégou et al. TPAMI 2011, the composed design):
    coarse inverted-file cells + product quantization of the RESIDUAL
    (x - centroid) with codebooks SHARED across cells — the layout a
    100 TB embedding store actually runs (a probe prunes to 1/n_cells
    of the codes, then pays m integer lookups per row).

    Three lakes: centroids (n_cells rows), codebooks (m*ksub residual
    codewords), codes (one per-cell-tagged segment, id-bloomed, m small
    codes per vector). One replace commit per lake — readers never see
    a partial index. Centroids/codebooks are deterministically the
    first-N rows' vectors/residuals (oracle-replayable; production
    swaps k-means into the same lakes). Residual encoding beats raw PQ
    at equal bytes because residual magnitudes are cell-bounded —
    the paper's central observation."""
    from ..sources import manifest as M

    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    centroids = e.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).cast("int").alias("cid"), F.col("v").alias("cv")
    )
    assigned = assign_cells(e, centroids, id_col)
    res = (
        assigned.join(F.broadcast(centroids), "cid")
        .select(
            F.col(id_col),
            "cid",
            F.expr("zip_with(v, cv, (__ra, __rb) -> __ra - __rb)").alias("r"),
        )
        .localCheckpoint(eager=True)  # one assignment pass feeds train+encode
    )
    cb = pq_train_codebooks(spark, res, id_col, "r", m, ksub)
    codes = pq_encode(res, cb, id_col, "r", m).join(
        res.select(id_col, "cid"), id_col
    )
    M.commit_replace(spark, centroids_path, centroids)
    M.commit_replace(spark, codebooks_path, cb)
    M.commit_replace_partitioned(
        spark, codes_path, codes, part_col="cid", bloom_cols=[id_col]
    )


def ivfpq_topk(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int,
    m: int,
    centroids_path: str,
    codebooks_path: str,
    codes_path: str,
    pool: int = 50,
    bits: int = 20,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ search over the persisted three-lake index: (1) the
    `nprobe` nearest cells to the query vector come from the centroids
    lake (n_cells rows — a driver-side argsort, the same rounded-L2 +
    cid-tiebreak ordering as assignment, so nprobe=1 probes exactly
    the query's own cell); (2) the ADT is the FULL query vector's
    fixed-point subvectors dotted with every residual codeword (within
    one cell, ranking by q·x̂ = q·c + q·r̂ needs only the residual term;
    across probed cells the per-cell constant q·c is ADDED back —
    fixed-point integer, still exact); (3) the probed cells' segments
    — and only those, via part_eq manifest pruning — are scanned with
    m integer lookups + a BIGINT sum per row; (4) top-`pool` by the
    integer score (id tiebreak), exact 6dp-cosine rerank.
    Deterministic end-to-end, so the result hash-matches a SQL replay.
    `nprobe` is the recall knob a deployed IVF index turns WITHOUT
    rebuilding anything — each extra probe adds one pruned segment
    scan (recall-vs-probes pinned in pytest)."""
    from ..sources import manifest as M

    e = emb.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    # ONE driver round-trip serves the centroid read AND the query
    # point-read (r12, guide §1.2 — they were two sequential bounded
    # jobs; the union is |cells| + 1 rows by construction)
    both = (
        M.read_snapshot(spark, centroids_path)
        .select(F.col("cid").cast("int").alias("cid"), F.col("cv"))
        .unionByName(
            e.filter(F.col(id_col) == query_id).select(
                F.lit(None).cast("int").alias("cid"), F.col("v").alias("cv")
            )
        )
        .collect()
    )
    cents = [r for r in both if r["cid"] is not None]
    qv_rows = [r for r in both if r["cid"] is None]
    if not qv_rows:
        raise ValueError(f"query id {query_id!r} not in the embeddings")
    qvec = [float(x) for x in qv_rows[0]["cv"]]
    # nearest cells by the assignment ordering: round(L2, 6) asc, cid
    # asc — identical to assign_cells, so nprobe=1 == the query's cell.
    # HALF-UP rounding spelled out (python round() is banker's; the
    # SQL engines round half away from zero — distances are positive,
    # so floor(x*1e6 + 0.5) is the same grid both oracles use)
    import math as _math

    def _l2(cv):
        d = sum((a - b) ** 2 for a, b in zip(qvec, cv)) ** 0.5
        return _math.floor(d * 1e6 + 0.5) / 1e6

    ranked = sorted((( _l2([float(x) for x in r["cv"]]), int(r["cid"])) for r in cents))
    probe_cids = [cid for _, cid in ranked[: max(1, nprobe)]]
    qsub = (
        e.filter(F.col(id_col) == query_id)
        .select(F.posexplode(_subvectors_dyn("v", m)).alias("sub", "qsv"))
        .select("sub", fixed_point("qsv", bits).alias("qsvf"))
    )
    cb = M.read_snapshot(spark, codebooks_path).select(
        "sub", "code", fixed_point("cw", bits).alias("cwf")
    )
    pdot = quantized_dot("qsvf", "cwf")
    adt = qsub.join(F.broadcast(cb), "sub").select(
        "sub", "code", pdot.alias("pdot")
    )
    # per-probed-cell constant q·c on the SAME fixed-point scale as the
    # ADT partial dots (2^2bits): cross-cell scores are comparable
    # integers. Driver-side over the already-collected centroid rows —
    # the identical IEEE multiply+floor both engines replay.
    import math

    grid = float(1 << bits)
    qfp = [int(math.floor(x * grid + 0.5)) for x in qvec]
    cent_by_cid = {int(r["cid"]): [float(x) for x in r["cv"]] for r in cents}
    qc = {
        c: sum(
            a * int(math.floor(x * grid + 0.5))
            for a, x in zip(qfp, cent_by_cid[c])
        )
        for c in probe_cids
    }
    # ONE manifest-pruned scan over the probed cells (part_in): see
    # knn_join_through_pq — same N-way-union planning cost collapsed
    # into one pruned read + an in-plan isin (r12, guide §1.5/§3)
    cand = (
        M.read_snapshot(
            spark, codes_path, part_in={"cid": [int(c) for c in probe_cids]}
        )
        .filter(F.col("cid").isin([int(c) for c in probe_cids]))
        .filter(F.col(id_col) != query_id)
    )
    qc_map = F.create_map(
        *[x for c in probe_cids for x in (F.lit(c), F.lit(qc[c]).cast("bigint"))]
    )
    scored = (
        cand.select(id_col, "cid", F.posexplode("codes").alias("sub", "code"))
        .join(F.broadcast(adt), ["sub", "code"])
        .groupBy(id_col, "cid")
        .agg(F.sum("pdot").alias("rdot"))
        .select(
            F.col(id_col),
            (F.col("rdot") + qc_map[F.col("cid")]).alias("score"),
        )
    )
    pooled = scored.orderBy(
        F.col("score").desc_nulls_last(), F.col(id_col).asc()
    ).limit(pool)
    # bounded pool -> literal In() pushdown: the rerank fetch prunes at
    # the scan instead of joining against an unpruned full float table
    pool_ids = [r[0] for r in pooled.select(id_col).collect()]
    if not pool_ids:
        return e.filter(F.lit(False)).select(
            id_col, F.lit(None).cast("double").alias("sim")
        )
    qv = e.filter(F.col(id_col) == query_id).select(F.col("v").alias("qv"))
    reranked = (
        pruned_vector_fetch(e, id_col, pool_ids)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col(id_col),
            F.round(cosine_expr("v", "qv"), 6).alias("sim6"),
        )
    )
    return (
        reranked.orderBy(F.desc("sim6"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round(F.col("sim6"), 4).alias("sim"))
    )


def propagate_index_deletes(
    spark,
    ids: list,
    id_col: str,
    index_code_paths: list[str] | tuple = (),
    emb_path: str | None = None,
    mode: str = "cow",
    tag: str | None = None,
) -> dict[str, int]:
    """Compose a corpus delete (takedown / GDPR) with the persisted ANN
    index lakes, NO rebuild: remove `ids` from every codes lake in
    `index_code_paths` (IVF / PQ / IVF-PQ — any lake whose rows carry
    `id_col`), then from the embeddings lake itself. Ordering is
    index-first so there is no window in which a pruned index scan can
    score a code whose vector the corpus already disowned; between the
    two commits a search may still return the id (it is still corpus
    data), never after. Returns {path: committed_version}.

    `mode="cow"` routes through `commit_delete`: stats classification +
    the id-bloom refinement rewrite ONLY the bloom-positive cell
    segments — at 100 TB a takedown batch touching 3 of 4096 cells
    rewrites 3 segments; untouched cells transfer by name, their
    partition tags and blooms intact (deletion shrinks a segment, so
    carried-over metadata stays a sound superset). `mode="mor"` routes
    through `commit_delete_mor`: O(batch) tombstone commits, the
    reader anti-joins at scan time and the next compact() materializes
    — the hot-ingest shape (note MoR defers the physical erasure and
    blocks in-place index maintenance until compacted). `mode="dv"`
    routes through `commit_delete_dv`: same O(batch-scan) deferred
    shape, but the keys resolve to (file, pos) pairs at write time so
    every subsequent read pays a per-file positional filter instead of
    the key anti-join (the r11 deletion-vector tier). `tag` gives
    streaming replays one idempotency token across every lake (suffixed
    per path so lakes don't share a token namespace).

    Reference analog: the lake retention intent (IaC/main.tf:31-38) —
    the reference ages data out of GCS wholesale; a vector store must
    instead delete point-wise through every derived representation."""
    from ..sources import manifest as M

    if mode not in ("cow", "mor", "dv"):
        raise ValueError(f"mode must be 'cow', 'mor' or 'dv', got {mode!r}")
    key_rows = [(i,) for i in ids]
    if not key_rows:
        return {}
    out: dict[str, int] = {}
    paths = list(index_code_paths) + ([emb_path] if emb_path else [])
    for p in paths:
        key_df = rows_frame(spark, key_rows, [id_col])
        if mode == "cow":
            out[p] = M.commit_delete(spark, p, key_df, [id_col])
        elif mode == "dv":
            out[p] = M.commit_delete_dv(
                spark, p, key_df, [id_col],
                tag=f"{tag}:{p}" if tag is not None else None,
            )
        else:
            out[p] = M.commit_delete_mor(
                spark, p, key_df, [id_col],
                tag=f"{tag}:{p}" if tag is not None else None,
            )
    return out


def corpus_takedown(
    spark,
    doc_ids: list,
    docs_path: str,
    emb_path: str | None = None,
    index_code_paths: list[str] | tuple = (),
    doc_key: str = "doc_id",
    vec_key: str = "vec_id",
    vec_ids: list | None = None,
    mode: str = "cow",
    tag: str | None = None,
) -> dict[str, int]:
    """The full GDPR/takedown composition: remove documents AND every
    derived representation — embeddings and ANN index codes — in one
    call. `vec_ids` defaults to `doc_ids` (the 1:1 doc→vector layout);
    pass the mapped ids when the embedding store keys differently.
    Ordering: indexes first, then embeddings, then documents — derived
    representations are never reachable after their source row is
    gone, and between commits the corpus is only ever MORE present
    than its derivatives (a search can net a still-live doc, never a
    dangling one). Each lake's delete is the bloom-refined CoW (or
    tagged MoR tombstone) of `propagate_index_deletes` /
    `commit_delete`.

    A ``tag`` of the form ``{group}={token}`` routes the whole ordered
    chain through `manifest.commit_multi` with PATH-NAMED participants
    (r12 — VERDICT r11 #3): per-lake tags stay byte-identical to the
    old hand-suffixed ``{tag}:{path}`` discipline, so pre-upgrade
    streaming checkpoints replay cleanly, and the prefix-convergence /
    exactly-once-per-lake argument now lives in ONE primitive instead
    of this loop. Returns {path: version}."""
    from ..sources import manifest as M

    vids = doc_ids if vec_ids is None else vec_ids
    if tag is not None and "=" in tag and mode in ("mor", "dv"):
        delete = M.commit_delete_mor if mode == "mor" else M.commit_delete_dv
        group, token = tag.split("=", 1)

        def _part(p, key, ids):
            def fn(t):
                key_df = rows_frame(spark, [(i,) for i in ids], [key])
                return delete(spark, p, key_df, [key], tag=t)

            return (p, fn, p)

        parts = [_part(p, vec_key, vids) for p in index_code_paths]
        if emb_path:
            parts.append(_part(emb_path, vec_key, vids))
        parts.append(_part(docs_path, doc_key, doc_ids))
        return M.commit_multi(spark, group, token, parts)
    out = propagate_index_deletes(
        spark,
        vids,
        vec_key,
        index_code_paths=index_code_paths,
        emb_path=emb_path,
        mode=mode,
        tag=tag,
    )
    key_df = rows_frame(spark, [(i,) for i in doc_ids], [doc_key])
    if mode == "mor":
        out[docs_path] = M.commit_delete_mor(
            spark, docs_path, key_df, [doc_key],
            tag=f"{tag}:{docs_path}" if tag is not None else None,
        )
    elif mode == "dv":
        out[docs_path] = M.commit_delete_dv(
            spark, docs_path, key_df, [doc_key],
            tag=f"{tag}:{docs_path}" if tag is not None else None,
        )
    else:
        out[docs_path] = M.commit_delete(spark, docs_path, key_df, [doc_key])
    return out
