"""Deduplication queries over the documents/embeddings tables
(SURVEY.md §2.10 X6; BASELINE north star).

The md5-based hashes are engine-portable, so every tier — including
MinHash LSH and SimHash — has an exact DuckDB oracle replaying the same
algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as OD
from ..sources import load_table
from ..session import tune
from .queries import register

_DUCK_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
_DUCK_SHINGLES = (
    "list_transform(range(1, greatest(len(toks) - 1, 1)), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, "documents")


# --- tier 1: exact ------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return OD.exact_dup_groups(_docs(spark, sf_dir), "text", "doc_id")


register(
    "q_dedup_exact",
    q_dedup_exact,
    """
    SELECT min(doc_id) AS keep_id, count(*) AS n_dupes
    FROM documents GROUP BY sha256(lower(text)) HAVING count(*) > 1
    """,
)


# --- tier 2: canonical fingerprint --------------------------------------------

def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return OD.fingerprint_dup_groups(_docs(spark, sf_dir), "text", "doc_id")


register(
    "q_dedup_fingerprint",
    q_dedup_fingerprint,
    f"""
    WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    SELECT CASE WHEN text IS NULL THEN NULL
                ELSE md5(COALESCE(array_to_string(list_sort(list_distinct(toks)), ' '), ''))
           END AS fp,
           min(doc_id) AS keep_id, count(*) AS n_dupes
    FROM t GROUP BY 1 HAVING count(*) > 1
    """,
)


# --- tier 3: MinHash LSH ------------------------------------------------------

N_HASHES, BAND_ROWS = 8, 2
# Hot-bucket cap: buckets with more ids than this are boilerplate noise
# (tier-1/2 already collapsed exact dupes) and would emit O(m²) pair
# structs in ONE row. Replayed in the oracles so the algorithms stay
# provably identical.
MAX_BUCKET = 1000


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return OD.minhash_lsh_pairs(
        _docs(spark, sf_dir), "text", "doc_id",
        n_hashes=N_HASHES, band_rows=BAND_ROWS, max_bucket=MAX_BUCKET,
    )


def _minhash_cand_ctes() -> str:
    """Shared DuckDB CTE chain: docs -> shingles -> signatures -> bands
    -> capped buckets -> candidate pairs (`cand`). Reused by the tier-3
    pair query and the tier-3→5 verified-jaccard query."""
    mh_cols = ",\n           ".join(
        f"list_min(list_transform(sh, x -> md5(concat('{s}|', x)))) AS mh{s}"
        for s in range(N_HASHES)
    )
    n_bands = N_HASHES // BAND_ROWS
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, concat(mh{b * BAND_ROWS}, mh{b * BAND_ROWS + 1}) AS sig "
        f"FROM sig WHERE mh{b * BAND_ROWS} IS NOT NULL"
        for b in range(n_bands)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    shing AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t),
    sig AS (SELECT doc_id,
           {mh_cols}
           FROM shing),
    bands AS (
      {band_selects}
    ),
    ok AS (SELECT band, sig FROM bands GROUP BY band, sig
           HAVING count(*) <= {MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN ok ON a.band = ok.band AND a.sig = ok.sig
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle() -> str:
    return f"""
    {_minhash_cand_ctes()}
    SELECT id_a, id_b FROM cand
    """


register("q_dedup_minhash", q_dedup_minhash, _minhash_oracle())


# --- tier 3b: library MinHashLSH (rows-only) ----------------------------------

def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    return OD.minhash_lsh_pairs_ml(_docs(spark, sf_dir), "text", "doc_id", threshold=0.6)


register("q_dedup_minhash_ml", q_dedup_minhash_ml, None)


# --- tier 4: SimHash ----------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return OD.simhash16(_docs(spark, sf_dir), "text", "doc_id")


def _simhash_oracle() -> str:
    hv = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (hv & {1 << j}) <> 0 THEN 1 ELSE -1 END) AS v{j}" for j in range(16)
    )
    bits = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
    WITH tk AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    hv AS (SELECT doc_id, {hv} AS hv FROM tk),
    v AS (SELECT doc_id,
           {votes}
          FROM hv GROUP BY doc_id)
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM v
    """


register("q_dedup_simhash", q_dedup_simhash, _simhash_oracle())


# A nibble bucket holding >600 docs (>10% of the sf0.1 corpus) under
# the 16-bit demo hash is non-discriminative template mass, not near-dup
# signal — production runs 64-bit simhash where buckets are sparse.
# 600 leaves every sf0.01 bucket intact (max observed 197) and drops the
# sf0.1 boilerplate cliques (2087/1511/1346/1012/939/931-doc buckets).
SIMHASH_MAX_BUCKET = 600


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return OD.simhash_neardup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", hamming_max=3,
        max_bucket=SIMHASH_MAX_BUCKET,
    )


def _simhash_pairs_oracle() -> str:
    base = _simhash_oracle().strip().rstrip()
    # reuse the per-doc simhash CTE, then band nibbles -> buckets -> verify
    inner = base.replace("SELECT doc_id, CAST(", "SELECT doc_id, CAST(", 1)
    return f"""
    WITH sim AS ({inner}),
    bands AS (
      SELECT doc_id, b.b AS band, (simhash >> (4 * b.b)) & 15 AS nib
      FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b),
    bsz AS (SELECT band, nib, COUNT(*) AS n FROM bands GROUP BY band, nib),
    kept AS (SELECT bands.* FROM bands JOIN bsz USING (band, nib)
             WHERE bsz.n <= {SIMHASH_MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM kept a JOIN kept c
        ON a.band = c.band AND a.nib = c.nib AND a.doc_id < c.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cand
    JOIN sim sa ON cand.id_a = sa.doc_id
    JOIN sim sb ON cand.id_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    """


register("q_dedup_simhash_pairs", q_dedup_simhash_pairs, _simhash_pairs_oracle())


# --- tier 5a: blocked n-gram jaccard ------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return OD.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", block_cols=["lang", "source"], threshold=0.5
    )


register(
    "q_dedup_ngram_jaccard",
    q_dedup_ngram_jaccard,
    f"""
    WITH t AS (SELECT doc_id, lang, source, {_DUCK_TOKS} AS toks FROM documents),
    d AS (SELECT doc_id, lang, source, list_distinct({_DUCK_SHINGLES}) AS sh FROM t)
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.5
    """,
)


# --- tier 3→5: LSH-blocked exact jaccard (the 100 TB registered plan) ---------

def q_dedup_ngram_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-jaccard verification of MinHash-LSH candidates: tier-3
    output IS the candidate set, so the quadratic term of tier-5 is
    bounded by LSH bucket sizes (capped), never by metadata-block
    cardinality. Verification = two equi-joins on doc id. This is the
    plan to run at corpus scale; q_dedup_ngram_jaccard keeps the
    metadata-blocked shape for small, well-partitioned corpora."""
    return OD.lsh_verified_jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold=0.5,
        n_hashes=N_HASHES, band_rows=BAND_ROWS, max_bucket=MAX_BUCKET,
    )


register(
    "q_dedup_ngram_lsh",
    q_dedup_ngram_lsh,
    f"""
    {_minhash_cand_ctes()},
    d AS (SELECT doc_id, list_distinct(sh) AS sh FROM shing)
    SELECT id_a, id_b, jaccard FROM (
      SELECT cand.id_a, cand.id_b,
             ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
      FROM cand
      JOIN d a ON cand.id_a = a.doc_id
      JOIN d b ON cand.id_b = b.doc_id)
    WHERE jaccard >= 0.5
    """,
)


# --- quality-aware canonical selection ------------------------------------------

def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the member with the MOST tokens (tie: lowest id) — the keep
    policy web pipelines actually ship (the min-id rule of
    q_dedup_cluster is arbitrary; keep-longest retains the most
    content when near-dups are truncations of each other).

    Scale shape: clusters from the tier-3 candidate graph (min-label
    CC over capped LSH pairs), one equi-join to attach per-doc token
    counts, and a rank window PARTITIONED BY cluster — frames are
    cluster-sized (near-dup clusters are small by construction; the
    hot-bucket cap bounds the degenerate case), never global."""
    from pyspark.sql import Window

    from ..functions.text import tokenize
    from ..operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = OD.minhash_lsh_pairs(
        docs, "text", "doc_id",
        n_hashes=N_HASHES, band_rows=BAND_ROWS, max_bucket=MAX_BUCKET,
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    counts = docs.select(
        F.col("doc_id"), F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    j = comp.join(counts, comp["node"] == counts["doc_id"]).select(
        "doc_id", F.col("comp").alias("cluster_id"), "n_tokens"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "cluster_id",
        "n_tokens",
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
    )


register(
    "q_dedup_keep_best",
    q_dedup_keep_best,
    f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_oracle()})),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT src AS node, src AS comp FROM edges
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
    tl AS (SELECT doc_id, len({_DUCK_TOKS}) AS n_tokens FROM documents)
    SELECT cc.node AS doc_id, cc.comp AS cluster_id,
           CAST(tl.n_tokens AS INT) AS n_tokens,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY cc.comp
                                        ORDER BY tl.n_tokens DESC, cc.node ASC) = 1
                THEN 1 ELSE 0 END AS keep
    FROM cc JOIN tl ON cc.node = tl.doc_id
    """,
)


# --- fuzzy decontamination (cross-corpus near-dup) ------------------------------

FUZZY_EVAL_MOD, FUZZY_J = 10, 0.5


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: train docs near-duplicating an eval doc
    (3-gram jaccard >= {FUZZY_J} via MinHash-LSH candidates) — the
    paraphrase-robust companion to exact n-gram q_decontaminate. The
    doc_id % {FUZZY_EVAL_MOD} stripe plays the eval set; only MIXED
    LSH buckets generate pairs (operators/dedup.py::
    fuzzy_decontaminate_pairs), so the train-side quadratic term never
    materializes at corpus scale."""
    docs = _docs(spark, sf_dir)
    pairs = OD.fuzzy_decontaminate_pairs(
        docs.withColumn("is_eval", F.col("doc_id") % FUZZY_EVAL_MOD == 0),
        "text", "doc_id", "is_eval", threshold=FUZZY_J,
        n_hashes=N_HASHES, band_rows=BAND_ROWS, max_bucket=MAX_BUCKET,
    )
    is_a_eval = F.col("id_a") % FUZZY_EVAL_MOD == 0
    return pairs.select(
        F.when(is_a_eval, F.col("id_b")).otherwise(F.col("id_a")).alias("train_id"),
        F.when(is_a_eval, F.col("id_a")).otherwise(F.col("id_b")).alias("eval_id"),
        "jaccard",
    )


register(
    "q_decontaminate_fuzzy",
    q_decontaminate_fuzzy,
    f"""
    {_minhash_cand_ctes()},
    d AS (SELECT doc_id, list_distinct(sh) AS sh FROM shing),
    x AS (
      SELECT cand.id_a, cand.id_b,
             ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
      FROM cand
      JOIN d a ON cand.id_a = a.doc_id
      JOIN d b ON cand.id_b = b.doc_id
      WHERE (cand.id_a % {FUZZY_EVAL_MOD} = 0) <> (cand.id_b % {FUZZY_EVAL_MOD} = 0))
    SELECT CASE WHEN id_a % {FUZZY_EVAL_MOD} = 0 THEN id_b ELSE id_a END AS train_id,
           CASE WHEN id_a % {FUZZY_EVAL_MOD} = 0 THEN id_a ELSE id_b END AS eval_id,
           jaccard
    FROM x WHERE jaccard >= {FUZZY_J}
    """,
)


# --- winnowing fingerprints ---------------------------------------------------

WINNOW_W = 4


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return OD.winnow_fingerprints(_docs(spark, sf_dir), "text", "doc_id", window=WINNOW_W)


register(
    "q_winnow_fingerprint",
    q_winnow_fingerprint,
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, list_transform({_DUCK_SHINGLES}, x -> md5(x)) AS h FROM t),
    w AS (SELECT doc_id,
                 CASE WHEN len(h) < {WINNOW_W} THEN []
                      ELSE list_transform(range(1, len(h) - {WINNOW_W} + 2),
                                          i -> list_min(h[i:i+{WINNOW_W}-1]))
                 END AS mins
          FROM s)
    SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w
    """,
)


# --- tier 4b: pairs -> clusters (connected components) ------------------------

def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation: MinHash-LSH candidate pairs fed
    through iterative min-label connected components
    (operators/graph.py), the transitive-closure step that turns
    pairwise matches into keep/drop decisions — the published pipeline
    order (RefinedWeb/Dolma run CC on tier-3 candidates). Oracle
    replays it with a DuckDB recursive CTE over the same capped
    candidate CTEs as q_dedup_minhash. (Round 2: switched the source
    from the 16-bit simhash pairs — on a homogeneous corpus their
    nibble buckets emit ~30x more candidate edges, all of which the
    label propagation then has to traverse; tier-3 minhash candidates
    are the selective input every published dedup pipeline clusters.)"""
    from ..operators.graph import dedup_clusters

    pairs = OD.minhash_lsh_pairs(
        _docs(spark, sf_dir), "text", "doc_id",
        n_hashes=N_HASHES, band_rows=BAND_ROWS, max_bucket=MAX_BUCKET,
    ).select("id_a", "id_b")
    return dedup_clusters(pairs)


def _cluster_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_oracle()})),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT src AS node, src AS comp FROM edges
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
    sz AS (SELECT comp, count(*) AS cluster_size FROM cc GROUP BY comp)
    SELECT cc.node AS doc_id, cc.comp AS cluster_id,
           sz.cluster_size AS cluster_size,
           CASE WHEN cc.node = cc.comp THEN 1 ELSE 0 END AS keep
    FROM cc JOIN sz ON cc.comp = sz.comp
    """


register("q_dedup_cluster", q_dedup_cluster, _cluster_oracle())


def q_dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same transitive closure as q_dedup_cluster, computed with the
    alternating large-star/small-star algorithm (Kiveris et al.
    SoCC'14, operators/graph.py::connected_components_star) — O(log n)
    rounds on ANY graph depth, the variant you run when dup chains are
    long (web-link graphs). Same recursive-CTE oracle: both algorithms
    must land on identical (node, min-id) components."""
    from ..operators.graph import connected_components_star

    pairs = OD.minhash_lsh_pairs(
        _docs(spark, sf_dir), "text", "doc_id",
        n_hashes=N_HASHES, band_rows=BAND_ROWS, max_bucket=MAX_BUCKET,
    ).select("id_a", "id_b")
    return connected_components_star(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


register(
    "q_dedup_cluster_star",
    q_dedup_cluster_star,
    f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_oracle()})),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT src AS node, src AS comp FROM edges
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node
    """,
)


# --- tier 5b: blocked embedding cosine ----------------------------------------

def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked cosine near-dups. The operator makes the query's
    one plan-size estimate: under the broadcast bar it broadcasts the
    corpus and fans the probe out to core width; past it the blocked
    sort-merge self-join (parallelism = #blocks; at TB+ feed IVF cells
    / LSH buckets as block_cols)."""
    tune(spark)
    return OD.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), "embedding", "vec_id",
        block_cols=["label"], threshold=0.3,
    )


register(
    "q_dedup_embedding",
    q_dedup_embedding,
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT id_a, id_b, sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
    WHERE sim >= 0.3
    """,
)


# --- tier 5b at scale: sign-LSH banded bucket blocking ------------------------

EMB_LSH_BITS, EMB_LSH_BANDS, EMB_DIMS = 4, 2, 64


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale registered plan for embedding near-dup: no
    label/metadata blocks, no broadcast — (band, bucket) equi-blocked
    SMJ over data-independent sign-LSH buckets (operators/dedup.py::
    embedding_lsh_neardup_pairs). Parallelism = n_bands × 2^n_bits
    blocks regardless of label skew."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return OD.embedding_lsh_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.3,
        dims=EMB_DIMS, n_bits=EMB_LSH_BITS, n_bands=EMB_LSH_BANDS,
    )


def _emb_lsh_oracle() -> str:
    from ..operators.similarity import hyperplane_planes

    rows = []
    for b, plane in enumerate(hyperplane_planes(EMB_LSH_BANDS * EMB_LSH_BITS, EMB_DIMS)):
        arr = ",".join(str(x) for x in plane)
        rows.append(f"({b}, CAST([{arr}] AS DOUBLE[]))")
    planes_sql = ", ".join(rows)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT * FROM (VALUES {planes_sql}) AS t(b, plane)),
    bk AS (
      SELECT vec_id, b // {EMB_LSH_BITS} AS band,
             CAST(SUM(CASE WHEN ROUND(list_dot_product(v, plane), 6) >= 0
                           THEN (1 << (b % {EMB_LSH_BITS})) ELSE 0 END) AS INT) AS bucket
      FROM e CROSS JOIN p GROUP BY vec_id, b // {EMB_LSH_BITS}),
    eb AS (SELECT e.vec_id, v, band, bucket FROM e JOIN bk USING (vec_id))
    SELECT DISTINCT id_a, id_b, sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
      FROM eb a JOIN eb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    WHERE sim >= 0.3
    """


register("q_dedup_embedding_lsh", q_dedup_embedding_lsh, _emb_lsh_oracle())


# --- tier 5c: SemDeDup (k-means cluster blocking, arXiv:2303.09540) -----------

SEMDEDUP_CELLS, SEMDEDUP_THRESHOLD, SEMDEDUP_MAX_CELL = 8, 0.3, 1000


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup drop list: cluster-blocked cosine pairs + the paper's
    keep policy (drop the side closer to its centroid; ties on larger
    id). Assignment is a broadcast over SEMDEDUP_CELLS centroid
    literals; the pair join shuffles once on the cell id — quadratic
    work is per-cell only, and cells over SEMDEDUP_MAX_CELL rows (a
    degenerate boilerplate cluster would be an O(m²) cell self-join)
    are dropped before the pair join; the oracle replays the cap
    (operators/dedup.py::semdedup_pairs)."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return OD.semdedup_drop_list(
        emb, "embedding", "vec_id",
        n_cells=SEMDEDUP_CELLS, threshold=SEMDEDUP_THRESHOLD, dims=64,
        max_cell=SEMDEDUP_MAX_CELL,
    )


register(
    "q_semdedup",
    q_semdedup,
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {SEMDEDUP_CELLS}),
    asg AS (
      -- v IS NOT NULL mirrors Spark's inner join on cid: unassignable
      -- (NULL-vector) rows get cid NULL there and never reach a cell,
      -- while NULLS FIRST here would lump them into the lowest cid and
      -- could flip a cell across the max_cell cap.
      SELECT vec_id, v, cid, cv,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY ROUND(list_distance(v, cv), 6) ASC NULLS FIRST,
                                         cid ASC NULLS FIRST) AS rn
      FROM e CROSS JOIN c WHERE v IS NOT NULL),
    cells AS (
      SELECT vec_id, v, cid,
             ROUND(list_cosine_similarity(v, cv), 6) AS csim
      FROM asg WHERE rn = 1),
    ok AS (SELECT cid FROM cells GROUP BY cid HAVING COUNT(*) <= {SEMDEDUP_MAX_CELL}),
    pairs AS (
      SELECT a.cid AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
             a.csim AS ca, b.csim AS cb,
             ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
      FROM cells a JOIN ok ON a.cid = ok.cid
      JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id)
    SELECT DISTINCT cell,
           CASE WHEN ca > cb OR (ca = cb AND id_a > id_b)
                THEN id_a ELSE id_b END AS drop_id
    FROM pairs WHERE sim >= {SEMDEDUP_THRESHOLD}
    """,
)


def q_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-centroid SemDeDup end-to-end: `kmeans_centroids` (Lloyd
    iterations, k centroids held driver-side, one scan per iteration)
    feeds `semdedup_drop_list` through its `centroids` parameter — the
    production shape where the cell layout is trained once and every
    ingest batch assigns against the persisted centroid frame. Rows-only
    (k-means training is engine-specific); pair-set parity with the
    first-k-centroid variant on seeded clusters is pinned in
    tests/test_dedup_similarity.py."""
    tune(spark)
    from nba_pipeline_spark.operators.similarity import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(
        emb, "vec_id", "embedding", k=SEMDEDUP_CELLS, iterations=3
    )
    return OD.semdedup_drop_list(
        emb, "embedding", "vec_id",
        n_cells=SEMDEDUP_CELLS, threshold=SEMDEDUP_THRESHOLD, dims=64,
        max_cell=SEMDEDUP_MAX_CELL, centroids=cents,
    )


register("q_semdedup_trained", q_semdedup_trained, None)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the %10>=8 stripe of `documents` plays
    the new batch; candidate pairs must touch it — (old, old) pairs are
    never generated, and all-old buckets are skipped before pair
    explode. Same banded structure (and hot-bucket cap) as
    q_dedup_minhash, so the oracle is the tier-3 candidate set filtered
    to pairs with a new side. Demonstrates that per-ingest dedup cost
    scales with the batch, not the settled corpus."""
    docs = _docs(spark, sf_dir)
    return OD.minhash_lsh_pairs_incremental(
        docs.withColumn("is_new", (F.col("doc_id") % 10) >= 8),
        "text",
        "doc_id",
        "is_new",
        n_hashes=N_HASHES,
        band_rows=BAND_ROWS,
        max_bucket=MAX_BUCKET,
    )


register(
    "q_dedup_incremental",
    q_dedup_incremental,
    f"""
    {_minhash_cand_ctes()}
    SELECT id_a, id_b FROM cand
    WHERE id_a % 10 >= 8 OR id_b % 10 >= 8
    """,
)


# --- Containment (asymmetric) near-dup tier (round 5) -------------------------

def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set containment |A∩B|/min(|A|,|B|) over the tier-3 LSH
    candidate set — the doc-contains-doc detector symmetric jaccard
    misses (operators/dedup.py::lsh_verified_containment_pairs).
    BIGINT basis-point scoring: hash-exact on any engine."""
    return OD.lsh_verified_containment_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold_bp=5000,
        n_hashes=N_HASHES, band_rows=BAND_ROWS, max_bucket=MAX_BUCKET,
    )


register(
    "q_dedup_containment",
    q_dedup_containment,
    f"""
    {_minhash_cand_ctes()},
    d AS (SELECT doc_id, list_distinct(sh) AS sh FROM shing)
    SELECT id_a, id_b, n_common, containment_bp FROM (
      SELECT cand.id_a, cand.id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
             (CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 10000) //
               CAST(least(len(a.sh), len(b.sh)) AS BIGINT) AS containment_bp
      FROM cand JOIN d a ON cand.id_a = a.doc_id
                JOIN d b ON cand.id_b = b.doc_id
      WHERE least(len(a.sh), len(b.sh)) > 0)
    WHERE containment_bp >= 5000
    """,
)


def q_dedup_containment_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-recall containment via the inverted shingle index (df-capped
    hot shingles) — finds small-in-big pairs the jaccard-LSH candidate
    path cannot; score is an exact lower bound in BIGINT basis points.
    operators/dedup.py::shingle_partitioned_containment_pairs."""
    return OD.shingle_partitioned_containment_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold_bp=8000,
        max_shingle_df=50,
    )


register(
    "q_dedup_containment_full",
    q_dedup_containment_full,
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    shing AS (SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM t),
    e AS (SELECT doc_id, unnest(sh) AS s FROM shing),
    sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM shing),
    hot AS (SELECT s FROM e GROUP BY s HAVING COUNT(*) > 50),
    kept AS (SELECT doc_id, s FROM e WHERE s NOT IN (SELECT s FROM hot)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_common,
           (n_common * 10000) // least(sa.n_sh, sb.n_sh) AS containment_bp
    FROM shared
    JOIN sizes sa ON shared.id_a = sa.doc_id
    JOIN sizes sb ON shared.id_b = sb.doc_id
    WHERE (n_common * 10000) // least(sa.n_sh, sb.n_sh) >= 8000
    """,
)


# --- semantic decontamination (embedding tier) ---------------------------------

SEM_EVAL_MOD, SEM_THRESH = 20, 0.35


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine decontamination (operators/dedup.py::
    semantic_decontaminate): train vectors within {SEM_THRESH} cosine
    of ANY eval vector (vec_id % {SEM_EVAL_MOD} stripe plays the eval
    benchmark) — catches re-written leakage that shares no n-grams
    with the eval set. Eval side is one broadcast row; the train
    corpus is never shuffled."""
    emb = load_table(spark, sf_dir, "embeddings")
    return OD.semantic_decontaminate(
        emb.selectExpr("*", f"vec_id % {SEM_EVAL_MOD} = 0 AS is_eval"),
        "vec_id", "embedding", "is_eval", SEM_THRESH,
    )


register(
    "q_decontaminate_semantic",
    q_decontaminate_semantic,
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ev AS (SELECT vec_id AS eid, v AS evv FROM e WHERE vec_id % {SEM_EVAL_MOD} = 0),
    tr AS (SELECT vec_id, v FROM e WHERE vec_id % {SEM_EVAL_MOD} <> 0),
    scored AS (
      SELECT tr.vec_id, ev.eid,
             ROUND(list_cosine_similarity(tr.v, ev.evv), 6) AS sim6
      FROM tr CROSS JOIN ev),
    best AS (
      SELECT vec_id, eid, sim6,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sim6 DESC NULLS LAST, eid ASC) AS rn
      FROM scored)
    SELECT vec_id AS train_id, eid AS eval_id,
           CAST(FLOOR(sim6 * 10000 + 0.5) AS BIGINT) AS sim_e4
    FROM best WHERE rn = 1 AND sim6 >= {SEM_THRESH}
    """,
)
