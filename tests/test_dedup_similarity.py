"""Behavioral tests for dedup tiers and similarity search on seeded
near-duplicates (SURVEY §5.4: precision on planted dupes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nba_pipeline_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash16,
)
from nba_pipeline_spark.operators.similarity import brute_force_topk, ivf_topk
from nba_pipeline_spark.functions.vectors import to_double_array, to_double_array_sql

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "the bird and the fish swim in the pond near the old mill house"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one token changed
FAR = "completely different content about spark dataframes and shuffle partitions at scale"


def corpus(spark):
    return spark.createDataFrame(
        [(0, BASE, "en", "s"), (1, BASE, "en", "s"), (2, NEAR, "en", "s"), (3, FAR, "en", "s")],
        ["doc_id", "text", "lang", "source"],
    )


def test_exact_dedup_finds_planted(spark):
    got = exact_dup_groups(corpus(spark), "text", "doc_id").collect()
    assert len(got) == 1 and got[0]["keep_id"] == 0 and got[0]["n_dupes"] == 2


def test_minhash_finds_near_dup_not_far(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(corpus(spark), "text", "doc_id").collect()}
    assert (0, 1) in pairs            # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # one-token change collides in some band
    assert all(3 not in p for p in pairs)      # unrelated doc never pairs


def test_ngram_jaccard_scores(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            corpus(spark), "text", "doc_id", ["lang", "source"], threshold=0.0
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert pairs.get((0, 3), 0.0) < 0.05


def test_simhash_near_means_close(spark):
    hashes = {r["doc_id"]: r["simhash"] for r in simhash16(corpus(spark), "text", "doc_id").collect()}
    assert hashes[0] == hashes[1]
    ham_near = bin(hashes[0] ^ hashes[2]).count("1")
    ham_far = bin(hashes[0] ^ hashes[3]).count("1")
    assert ham_near <= ham_far
    assert ham_near <= 4  # one-token change flips few bits


def _emb(spark):
    import math

    def vec(seed, n=8):
        vals = [math.sin(seed * 7.3 + i) for i in range(n)]
        return vals

    rows = [(i, vec(i), i % 2) for i in range(20)]
    rows.append((100, vec(5), 1))  # planted duplicate of vec_id 5
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_brute_force_topk_finds_planted_duplicate(spark):
    emb = _emb(spark)
    query = emb.filter(F.col("vec_id") == 5).select(to_double_array("embedding").alias("qv"))
    others = emb.filter(F.col("vec_id") != 5)
    top = brute_force_topk(others, query, "vec_id", "embedding", 3).collect()
    assert top[0]["vec_id"] == 100 and abs(top[0]["sim"] - 1.0) < 1e-9


def test_ivf_results_subset_of_brute_force(spark):
    emb = _emb(spark)
    ivf = {r["vec_id"] for r in ivf_topk(emb, "vec_id", "embedding", 5, 3, n_cells=2).collect()}
    query = emb.filter(F.col("vec_id") == 5).select(to_double_array("embedding").alias("qv"))
    brute = {r["vec_id"] for r in brute_force_topk(emb.filter(F.col("vec_id") != 5), query, "vec_id", "embedding", 21).collect()}
    assert ivf and ivf.issubset(brute)
    assert 100 in ivf  # the planted dup shares the query's cell by construction


def test_connected_components_topology(spark):
    from nba_pipeline_spark.operators.graph import connected_components, dedup_clusters

    # chain 1-2-3-4 (diameter 3), clique 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (2, None)],
        "src int, dst int",
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    rows = dedup_clusters(
        edges.filter("dst IS NOT NULL").withColumnsRenamed({"src": "id_a", "dst": "id_b"})
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[4]["cluster_id"] == 1 and by_id[4]["cluster_size"] == 4
    assert by_id[4]["keep"] == 0 and by_id[1]["keep"] == 1
    assert sum(r["keep"] for r in rows) == 3  # one canonical per cluster


def test_incremental_dedup_persisted_signature_round_trip(spark, tmp_path):
    """The 100 TB ingest contract (VERDICT r2 #6): batch N+1 deduped
    against the signature table READ BACK from the lake must emit
    exactly the pairs the recompute-both-sides path emits — proving an
    ingest never re-signatures the settled corpus."""
    from nba_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs_from_signatures,
        minhash_lsh_pairs_incremental,
        with_minhash_signatures,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    old_docs = docs.filter(F.col("doc_id") % 10 < 8)
    new_docs = docs.filter(F.col("doc_id") % 10 >= 8)

    # run 1 persists the settled corpus's signatures to the lake
    sig_path = str(tmp_path / "signatures")
    with_minhash_signatures(old_docs, "text", "doc_id", n_hashes=8).write.parquet(
        sig_path
    )

    # run 2 ingests the batch against the READ-BACK table
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_from_signatures(
            new_docs, "text", "doc_id", spark.read.parquet(sig_path)
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_incremental(
            docs.withColumn("is_new", F.col("doc_id") % 10 >= 8),
            "text", "doc_id", "is_new",
        ).collect()
    }
    assert got == want
    assert want  # non-vacuous: the stripe does contain near-dups


def test_cc_star_matches_minlabel_on_mixed_topology(spark):
    """Large/small-star must agree with min-label propagation on the
    same mixed graph (chain + clique + pair + NULL edge + self-loop)."""
    from nba_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21),
         (2, None), (30, 30)],
        "src int, dst int",
    )
    star = {r["node"]: r["comp"] for r in connected_components_star(edges).collect()}
    label = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert star == label
    assert star[30] == 30  # self-loop-only node names itself


def test_cc_star_converges_logarithmically_on_deep_path(spark):
    """The round-2 verdict ask: a 1000-node path graph (diameter 999 —
    min-label would need 999 rounds) must converge in O(log n) star
    rounds with the correct single component. max_iter=15 IS the bound
    under test: ceil(log2(1000)) + 5; non-convergence raises."""
    from nba_pipeline_spark.operators.graph import connected_components_star

    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src int, dst int"
    )
    comp = connected_components_star(edges, max_iter=15).collect()
    assert len(comp) == n
    assert {r["comp"] for r in comp} == {0}


def test_cc_star_raises_when_budget_exhausted(spark):
    from nba_pipeline_spark.operators.graph import connected_components_star

    import pytest as _pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src int, dst int"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(edges, max_iter=1)


def test_minlabel_cc_raises_instead_of_partial_labels(spark):
    """min-label propagation on a graph deeper than its iteration
    budget must raise (a partial labeling splits components — a wrong
    dedup answer), pointing at the star variant."""
    from nba_pipeline_spark.operators.graph import connected_components

    import pytest as _pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src int, dst int"
    )
    with _pytest.raises(RuntimeError, match="connected_components_star"):
        connected_components(edges, max_iter=3)


def test_lsh_topk_finds_near_duplicates(spark):
    """Sign-LSH collision probability (1 - theta/pi)^bits -> 1 as
    theta -> 0: near-identical vectors MUST share the query's bucket
    and dominate the rerank."""
    from nba_pipeline_spark.operators.similarity import lsh_topk

    dims = 16

    import hashlib

    def vec(seed: int, wobble: float) -> list[float]:
        # md5-mixed pseudo-randoms in [-1, 1): decorrelated across seeds
        def h(i: int) -> float:
            d = hashlib.md5(f"{seed}:{i}".encode()).digest()
            return int.from_bytes(d[:4], "big") / 2**31 - 1.0

        return [h(i) + wobble * h(i + 1000) for i in range(dims)]

    rows = [(0, vec(1, 0.0))]
    rows += [(i, vec(1, 0.02 * i)) for i in range(1, 6)]       # near dups of v0
    rows += [(i, vec(i * 13 + 7, 0.0)) for i in range(6, 50)]  # unrelated
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = lsh_topk(emb, "vec_id", "embedding", 0, 5, n_bits=4, dims=dims).collect()
    ids = {r["vec_id"] for r in got}
    assert set(range(1, 6)) <= ids, ids


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    """Multi-probe visits the single-probe bucket plus its lowest-margin
    neighbors: its candidate set is a superset, so brute-force top-k
    overlap can only improve. On this corpus it must recover the full
    exact top-5."""
    import hashlib

    from nba_pipeline_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        lsh_topk_multiprobe,
        to_double_array,
    )
    from pyspark.sql import functions as F

    dims = 16

    def h(seed, i):
        d = hashlib.md5(f"{seed}:{i}".encode()).digest()
        return int.from_bytes(d[:4], "big") / 2**31 - 1.0

    rows = [(i, [h(i * 31 + 1, j) for j in range(dims)]) for i in range(120)]
    # plant near-dups of v0 with varying wobble (some will sit near planes)
    rows += [
        (200 + m, [x + 0.05 * m * h(999, j) for j, x in enumerate(rows[0][1])])
        for m in range(1, 6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        r["vec_id"]
        for r in brute_force_topk(
            emb.filter(F.col("vec_id") != 0),
            emb.filter(F.col("vec_id") == 0).select(
                to_double_array("embedding").alias("qv")
            ),
            "vec_id",
            "embedding",
            5,
        ).collect()
    }
    single = {r["vec_id"] for r in lsh_topk(emb, "vec_id", "embedding", 0, 5, 4, dims).collect()}
    multi = {
        r["vec_id"]
        for r in lsh_topk_multiprobe(
            emb, "vec_id", "embedding", 0, 5, 4, dims, n_probe=4
        ).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert multi == exact, (multi, exact)


def test_minhash_hot_bucket_cap_bounds_boilerplate(spark):
    """One m-doc boilerplate cluster must NOT emit m² pair structs: with
    max_bucket set, its buckets are dropped before pair generation and
    the drop is observable (VERDICT r1 #4)."""
    from pyspark.sql import Observation

    m = 40
    boiler = "same boilerplate footer text repeated on every single page of the site"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(m)]
        # a small legit near-dup cluster that must SURVIVE the cap
        + [(100, BASE), (101, NEAR), (102, BASE)],
        ["doc_id", "text"],
    )
    obs = Observation("hot_bucket_cap")
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", max_bucket=10, observation=obs
    ).collect()
    metrics = obs.get
    assert metrics["hot_buckets_dropped"] > 0
    assert metrics["docs_in_dropped_buckets"] >= m
    # no pair from the capped boilerplate cluster survives, while the
    # legit small cluster still pairs
    assert pairs and all(r["id_a"] >= 100 and r["id_b"] >= 100 for r in pairs)
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(100, 102)}
    # uncapped control: the same corpus explodes into >= m*(m-1)/2 pairs
    uncapped = minhash_lsh_pairs(docs, "text", "doc_id", max_bucket=None).count()
    assert uncapped >= m * (m - 1) // 2


def test_lsh_verified_jaccard_matches_blocked_verify(spark):
    """Tier-3→5 wiring: LSH-verified jaccard must agree with the
    metadata-blocked exact verify on every candidate LSH surfaces."""
    from nba_pipeline_spark.operators.dedup import lsh_verified_jaccard_pairs

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in lsh_verified_jaccard_pairs(
            corpus(spark), "text", "doc_id", threshold=0.5
        ).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            corpus(spark), "text", "doc_id", ["lang", "source"], 0.5
        ).collect()
    }
    # every verified LSH pair exists in the exhaustive blocked verify
    # with the identical exact score
    assert got and all(blocked.get(k) == v for k, v in got.items())
    # and the planted identical pair is found by both
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_semdedup_drops_centroid_closer_side(spark):
    from nba_pipeline_spark.operators.dedup import semdedup_drop_list, semdedup_pairs

    # 2 well-separated cells (axis 0 vs axis 1). Cell of vec 0: the
    # centroid itself (id 0), an exact duplicate (id 2), and a slightly
    # rotated near-dup (id 3). Cell of vec 1: one lone vector (id 4) —
    # no pair. Paper policy: in each duplicate pair drop the side
    # closer to its centroid.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),        # exact dup of centroid 0
        (3, [0.96, 0.28, 0.0]),      # near-dup, farther from centroid
        (4, [0.0, 0.9, 0.1]),        # near-dup of centroid 1 (cos .994)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semdedup_pairs(emb, "embedding", "vec_id", n_cells=2, threshold=0.9).collect()
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs}
    # same-cell pairs only; (2,3) rides along since 2 duplicates 0
    assert got_pairs == {(0, 2), (0, 3), (1, 4), (2, 3)}

    drops = semdedup_drop_list(
        emb, "embedding", "vec_id", n_cells=2, threshold=0.9
    ).collect()
    drop_ids = {r["drop_id"] for r in drops}
    # (0,2): identical csim=1.0 tie -> larger id 2 dropped.
    # (0,3): id 0 IS the centroid (csim 1.0) -> 0 dropped, outlier 3 kept.
    # (1,4): id 1 IS the centroid -> 1 dropped, outlier 4 kept.
    assert drop_ids == {0, 1, 2}


def test_dsir_ranks_target_like_docs_first(spark, monkeypatch, tmp_path):
    """DSIR importance weighting must rank raw docs sharing the target
    corpus's vocabulary above dissimilar ones."""
    import nba_pipeline_spark.plans.corpus_queries as CQ

    rows = (
        # target corpus (src0): medical vocabulary
        [(i, "clinical trial patient dosage outcome measured", "en", "src0", 40)
         for i in range(4)]
        # raw pool: 2 target-like, 2 off-domain
        + [
            (10, "patient dosage outcome in the clinical trial", "en", "web", 40),
            (11, "the trial measured patient outcome and dosage", "en", "web", 40),
            (12, "football match final score highlights tonight", "en", "web", 40),
            (13, "stock market futures rally on earnings beat", "en", "web", 40),
        ]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    import nba_pipeline_spark.sources as SRC

    real_load = SRC.load_table
    monkeypatch.setattr(
        CQ, "load_table",
        lambda sp, sf, name: sp.read.parquet(path) if name == "documents"
        else real_load(sp, sf, name),
    )
    got = CQ.q_dsir_sample(spark, str(tmp_path)).collect()
    ranked = [r["doc_id"] for r in got]
    assert set(ranked) == {10, 11, 12, 13}  # raw pool only, target excluded
    assert set(ranked[:2]) == {10, 11}      # target-like docs outscore off-domain
    scores = {r["doc_id"]: r["dsir_score"] for r in got}
    assert min(scores[10], scores[11]) > max(scores[12], scores[13])


def test_knn_join_exact_matches_per_query_brute_force(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id").isin(3, 5)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    from nba_pipeline_spark.operators.similarity import knn_join

    got = knn_join(emb, queries, "vec_id", "embedding", 3).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rk"])):
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert set(by_q) == {3, 5}
    assert all(len(v) == 3 for v in by_q.values())
    # per-query result equals the single-probe brute force
    for qid in (3, 5):
        q = emb.filter(F.col("vec_id") == qid).select(
            to_double_array("embedding").alias("qv")
        )
        brute = [
            r["vec_id"]
            for r in brute_force_topk(
                emb.filter(F.col("vec_id") != qid), q, "vec_id", "embedding", 3
            ).collect()
        ]
        assert by_q[qid] == brute
    assert 100 in by_q[5]  # planted duplicate of vec 5 retrieved


def test_knn_join_bucketed_subset_of_exact(spark):
    emb = _emb(spark).withColumn(
        "embedding", to_double_array("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    from nba_pipeline_spark.operators.similarity import knn_join

    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_join(emb, queries, "vec_id", "embedding", 50).collect()
    }
    lsh = {
        (r["query_id"], r["vec_id"])
        for r in knn_join(
            emb, queries, "vec_id", "embedding", 50, n_bits=3, dims=8
        ).collect()
    }
    assert lsh and lsh.issubset(exact)  # bucket equi-join only prunes


def test_pagerank_star_graph_and_mass_conservation(spark):
    from nba_pipeline_spark.operators.graph import pagerank

    # star: 1,2,3 all link to hub 0; hub links back to 1. Node 9 dangles
    # (edge in, none out) - its mass must redistribute, not vanish.
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1), (1, 9)], "src int, dst int"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=10).collect()}
    assert set(got) == {0, 1, 2, 3, 9}
    # hub 0 collects from 3 leaves; node 1 receives the hub's ENTIRE
    # rank (its only out-edge) — they dominate the symmetric leaves
    assert {0, 1} == set(sorted(got, key=got.get, reverse=True)[:2])
    assert got[2] == got[3]                     # symmetric leaves tie
    assert got[0] > got[2] and got[1] > got[2]
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved
    # deterministic across reruns (fixed-point arithmetic contract)
    again = {r["node"]: r["rank"] for r in pagerank(edges, iterations=10).collect()}
    assert got == again


def test_semdedup_hot_cell_cap_bounds_boilerplate(spark):
    """One m-embedding degenerate cluster must NOT emit an O(m²)
    per-cell self-join: with max_cell set, the cell is dropped before
    the pair join and the drop is observable (VERDICT r2 #1 — the same
    blowup class minhash_lsh_pairs caps for text)."""
    from pyspark.sql import Observation

    from nba_pipeline_spark.operators.dedup import semdedup_pairs

    dims, m = 8, 40
    c0 = [1.0] + [0.0] * (dims - 1)   # centroid 0 (vec_id 0)
    c1 = [0.0, 1.0] + [0.0] * (dims - 2)  # centroid 1 (vec_id 1)
    rows = [(0, c0), (1, c1)]
    # degenerate boilerplate cluster: m identical vectors in cell 0
    rows += [(100 + i, [0.9, 0.1] + [0.0] * (dims - 2)) for i in range(m)]
    # legit small near-dup pair in cell 1 that must SURVIVE the cap
    rows += [(500, [0.05, 0.95] + [0.0] * (dims - 2)),
             (501, [0.06, 0.94] + [0.0] * (dims - 2))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    obs = Observation("hot_cell_cap")
    pairs = semdedup_pairs(
        emb, "embedding", "vec_id", n_cells=2, threshold=0.5,
        max_cell=10, observation=obs,
    ).collect()
    metrics = obs.get
    assert metrics["hot_cells_dropped"] >= 1
    assert metrics["docs_in_dropped_cells"] >= m
    # no pair from the capped cell; the legit cell-1 pairs survive
    assert pairs and all(r["id_a"] >= 1 and r["id_b"] >= 1 for r in pairs)
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(500, 501)}
    # uncapped control: the same corpus explodes into >= m*(m-1)/2 pairs
    uncapped = semdedup_pairs(
        emb, "embedding", "vec_id", n_cells=2, threshold=0.5, max_cell=None
    ).count()
    assert uncapped >= m * (m - 1) // 2


def test_embedding_block_cap_bounds_hot_block(spark):
    """Same guard on the metadata/IVF-cell blocked tier: a hot block is
    dropped probe-side before the pair join, small blocks survive."""
    from pyspark.sql import Observation

    from nba_pipeline_spark.operators.dedup import embedding_neardup_pairs

    dims, m = 8, 30
    rows = [(100 + i, "hot", [0.9, 0.1] + [0.0] * (dims - 2)) for i in range(m)]
    rows += [(500, "ok", [0.05, 0.95] + [0.0] * (dims - 2)),
             (501, "ok", [0.06, 0.94] + [0.0] * (dims - 2))]
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")

    obs = Observation("hot_block_cap")
    pairs = embedding_neardup_pairs(
        emb, "embedding", "vec_id", ["label"], threshold=0.5,
        max_block=10, observation=obs,
    ).collect()
    metrics = obs.get
    assert metrics["hot_blocks_dropped"] == 1
    assert metrics["docs_in_dropped_blocks"] == m
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(500, 501)}
    uncapped = embedding_neardup_pairs(
        emb, "embedding", "vec_id", ["label"], threshold=0.5
    ).count()
    assert uncapped >= m * (m - 1) // 2


def test_embedding_lsh_bucket_cap_bounds_hot_cluster(spark):
    """max_bucket on the banded sign-LSH tier: a degenerate cluster of m
    identical embeddings (m² pairs per band otherwise) is dropped before
    the pair join; a distant legit near-dup pair survives. The row
    metric counts exploded (doc, band) rows — m docs hot in all n_bands
    bands report m*n_bands, by contract."""
    from pyspark.sql import Observation

    from nba_pipeline_spark.operators.dedup import embedding_lsh_neardup_pairs

    dims, m, n_bands = 8, 30, 2
    rows = [(100 + i, [0.9, 0.1] + [0.0] * (dims - 2)) for i in range(m)]
    rows += [(500, [-0.95, -0.05] + [0.0] * (dims - 2)),
             (501, [-0.94, -0.06] + [0.0] * (dims - 2))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    obs = Observation("hot_lsh_bucket_cap")
    pairs = embedding_lsh_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.5, dims=dims,
        n_bits=4, n_bands=n_bands, max_bucket=10, observation=obs,
    ).collect()
    metrics = obs.get
    assert metrics["hot_buckets_dropped"] >= 1
    # identical vectors share a bucket in EVERY band: m rows per band
    assert metrics["bucket_rows_dropped"] >= m * n_bands
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got and all(a >= 500 for a, _ in got)
    assert (500, 501) in got
    uncapped = embedding_lsh_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.5, dims=dims,
        n_bits=4, n_bands=n_bands,
    ).count()
    assert uncapped >= m * (m - 1) // 2


def test_cosine_kernels_plan_broadcast_on_small_frames(spark):
    """The embedding tiers' one cosine kernel picks its join from the
    input's plan size: on a small frame, with no flag and with
    auto-broadcast off (so only that choice can broadcast), all three
    tiers broadcast the build side and round-robin the probe — none
    plans the blocked sort-merge join."""
    from nba_pipeline_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
        embedding_neardup_pairs,
        semdedup_pairs,
    )

    from nba_pipeline_spark.operators.partitioning import rows_frame

    dims = 8
    rows = [
        (i, "ab"[i % 2], [float(i % 3), 1.0] + [0.0] * (dims - 2)) for i in range(12)
    ]
    # a local relation: its plan carries a size estimate (a parallelized
    # RDD's would be unknown, i.e. past any bar)
    emb = rows_frame(spark, rows, "vec_id long, label string, embedding array<double>")
    kernels = {
        "embedding_neardup_pairs": lambda: embedding_neardup_pairs(
            emb, "embedding", "vec_id", ["label"], threshold=0.5
        ),
        "embedding_lsh_neardup_pairs": lambda: embedding_lsh_neardup_pairs(
            emb, "embedding", "vec_id", threshold=0.5, dims=dims
        ),
        "semdedup_pairs": lambda: semdedup_pairs(
            emb, "embedding", "vec_id", n_cells=2, threshold=0.5
        ),
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name, build in kernels.items():
            df = build()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            assert "BroadcastHashJoin" in plan, name
            assert "RoundRobinPartitioning" in plan, name
            assert "SortMergeJoin" not in plan, name
    finally:
        spark.conf.set(key, old)


def test_embedding_lsh_recall_vs_exact_ground_truth(spark):
    """Measured recall of the banded sign-LSH tier against the exact
    pair set (VERDICT r2 #8): on seeded near-dups, recall must (a)
    clear a floor at the registered (n_bits=4, n_bands=2) setting and
    (b) be monotone in bands — the OR-construction's
    1-(1-p^bits)^bands guarantee. The (bands, bits) trade is
    documented in SCALE.md §LSH recall."""
    import hashlib

    from nba_pipeline_spark.operators.dedup import (
        embedding_lsh_neardup_pairs,
        embedding_neardup_pairs,
    )

    dims, n_base = 16, 60

    def unit(seed: str) -> list[float]:
        h = hashlib.sha256(seed.encode()).digest()
        v = [(b - 127.5) / 127.5 for b in h[:dims]]
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    def wobble(v: list[float], eps: float, seed: str) -> list[float]:
        h = hashlib.sha256(seed.encode()).digest()
        w = [x + eps * (b - 127.5) / 127.5 for x, b in zip(v, h[:dims])]
        n = sum(x * x for x in w) ** 0.5
        return [x / n for x in w]

    rows = []
    for i in range(n_base):
        base = unit(f"base{i}")
        rows.append((2 * i, base))
        rows.append((2 * i + 1, wobble(base, 0.05, f"dup{i}")))  # planted near-dup
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    threshold = 0.95
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            emb.withColumn("blk", F.lit(1)), "embedding", "vec_id", ["blk"],
            threshold=threshold,
        ).collect()
    }
    assert len(exact) >= n_base * 0.9  # the seeds really are near-dups

    def recall(n_bits: int, n_bands: int) -> float:
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_lsh_neardup_pairs(
                emb, "embedding", "vec_id", threshold=threshold, dims=dims,
                n_bits=n_bits, n_bands=n_bands,
            ).collect()
        }
        assert got <= exact  # verify step makes LSH precision exact
        return len(got & exact) / len(exact)

    r_registered = recall(4, 2)
    r_more_bands = recall(4, 4)
    assert r_registered >= 0.5          # floor at the registered setting
    assert r_more_bands >= r_registered  # OR-construction monotonicity
    assert r_more_bands >= 0.8


def test_semdedup_trained_centroids_parity_on_seeded_clusters(spark):
    """Trained-centroid SemDeDup (kmeans_centroids → semdedup_pairs)
    must produce the SAME pair set as the first-k variant when the
    first k vectors already sit at the true cluster centers (Lloyd
    iterations then leave assignments unchanged)."""
    from nba_pipeline_spark.operators.dedup import semdedup_pairs
    from nba_pipeline_spark.operators.similarity import kmeans_centroids

    dims = 8
    c0 = [1.0] + [0.0] * (dims - 1)
    c1 = [0.0, 1.0] + [0.0] * (dims - 2)
    rows = [(0, c0), (1, c1)]
    # tight, symmetric clusters around each seed (mean stays on-center
    # in the non-perturbed dims; k-means converges to ~the same cells)
    rows += [(10, [0.98, 0.02] + [0.0] * (dims - 2)),
             (11, [0.98, -0.02] + [0.0] * (dims - 2)),
             (20, [0.02, 0.98] + [0.0] * (dims - 2)),
             (21, [-0.02, 0.98] + [0.0] * (dims - 2))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairset(centroids=None):
        return {
            (r["id_a"], r["id_b"])
            for r in semdedup_pairs(
                emb, "embedding", "vec_id", n_cells=2, threshold=0.8,
                centroids=centroids,
            ).collect()
        }

    trained = kmeans_centroids(emb, "vec_id", "embedding", k=2, iterations=3)
    assert pairset(trained) == pairset(None)
    assert pairset(None)  # non-vacuous: the clusters do pair


def test_assign_cells_rejects_non_finite_centroid(spark):
    """A NaN-poisoned centroid must raise a clear ValueError, not an
    opaque SQL analysis error from a 'nanD' literal (ADVICE r2)."""
    import pytest

    from nba_pipeline_spark.operators.similarity import assign_cells

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, v array<double>"
    )
    bad = spark.createDataFrame(
        [(0, [float("nan"), 0.5])], "cid int, cv array<double>"
    )
    with pytest.raises(ValueError, match="non-finite"):
        assign_cells(emb, bad, "vec_id")


import pytest as _pytest_mod


@_pytest_mod.mark.slow
def test_star_cc_round_count_logarithmic_at_10x(spark):
    """Scale-ramp evidence (round-5 verdict task 4): on a PATH graph —
    the worst case for min-label (diameter = n) — star-CC's round count
    stays <= ceil(log2(n)) + 4 when n grows 10x (1k -> 10k nodes).
    tools/scale_ramp.py records the same curve with wall times at 100k
    in SCALE.md."""
    import math

    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators.graph import connected_components_star

    for n in (1_000, 10_000):
        edges = (
            spark.range(n - 1)
            .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
            .localCheckpoint(eager=True)
        )
        stats: dict = {}
        comp = connected_components_star(edges, stats=stats)
        assert comp.select("comp").distinct().count() == 1
        bound = math.ceil(math.log2(n)) + 4
        assert stats["rounds"] <= bound, (n, stats["rounds"], bound)


def test_containment_catches_doc_contains_doc(spark):
    """A short doc embedded verbatim in a long doc: symmetric jaccard
    scores low (small intersection over big union) but containment is
    ~1.0 — the asymmetric tier exists for exactly this shape."""
    from nba_pipeline_spark.operators.dedup import (
        lsh_verified_containment_pairs,
        lsh_verified_jaccard_pairs,
    )

    # moderate size ratio: LSH (which estimates JACCARD) still buckets
    # the pair, but symmetric jaccard scores below the usual 0.5 gate
    # while containment is exactly 1.0 — the shape this tier exists for.
    # (Extreme small-in-big ratios need shingle-partitioned candidates;
    # documented recall caveat on the operator.)
    short = " ".join(f"word{i}" for i in range(22))
    long = short + " " + " ".join(f"filler{i}" for i in range(26))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different words here entirely")],
        "doc_id int, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment_bp"]
        for r in lsh_verified_containment_pairs(
            df, "text", "doc_id", threshold_bp=9000, n_hashes=32
        ).collect()
    }
    assert cont.get((1, 2), 0) == 10000  # full containment, exact bp
    jac = lsh_verified_jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, n_hashes=32
    ).collect()
    assert not any(r["id_a"] == 1 and r["id_b"] == 2 for r in jac)


def test_shingle_partitioned_containment_full_recall(spark):
    """The inverted-index path finds the extreme small-in-big pair the
    jaccard-LSH candidates miss (the scenario from the operator's
    recall caveat), with exact bp scoring."""
    from nba_pipeline_spark.operators.dedup import (
        shingle_partitioned_containment_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " " + " ".join(f"filler{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different words here entirely")],
        "doc_id int, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment_bp"]
        for r in shingle_partitioned_containment_pairs(
            df, "text", "doc_id", threshold_bp=9000
        ).collect()
    }
    assert got == {(1, 2): 10000}  # jaccard here is ~0.09 — LSH missed it


def test_quantized_ann_recall_vs_exact(spark):
    """The int8 scan approximates the exact DOT-product ranking (its
    own metric — scale-only codes estimate a·q, not cosine): top-10
    overlap vs exact dot >= 70% on the fixture embeddings. The exact
    rerank of a widened candidate list restores the rest — the
    standard compressed-scan contract."""
    from pyspark.sql import functions as F

    from nba_pipeline_spark.functions.vectors import to_double_array
    from nba_pipeline_spark.plans.queries import REGISTRY
    from nba_pipeline_spark.sources import load_table

    SF = "/root/testdata/sf0.001"
    emb = load_table(spark, SF, "embeddings")
    v = to_double_array("embedding")
    qv = emb.filter(F.col("vec_id") == 0).select(v.alias("qv"))
    exact = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(v, "qv", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
        .orderBy(F.col("dot").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    quant = [r["vec_id"] for r in REGISTRY["q_ann_quantized"].fn(spark, SF).collect()]
    overlap = len(set(exact) & set(quant)) / len(exact)
    assert overlap >= 0.7, (overlap, exact, quant)


def test_quantized_rerank_is_exact_when_pool_covers(spark):
    """With corpus <= pool size, the quantized candidate cut is a
    no-op and the exact-cosine rerank must EQUAL brute force — the
    rerank retires the recall pin for this path (its top-k is exact
    whenever the true top-k survives the 5x-overprovisioned pool)."""
    import numpy as np

    from nba_pipeline_spark.plans.queries import REGISTRY

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)])
        for i in range(40)  # 40 < RERANK_POOL=50: pool covers everything
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from nba_pipeline_spark.operators.similarity import (
        brute_force_topk,
        int8_codes,
        quantized_dot,
    )

    v = to_double_array("embedding")
    qv = emb.filter(F.col("vec_id") == 0).select(v.alias("qv"))
    exact = brute_force_topk(
        emb.filter(F.col("vec_id") != 0), qv, "vec_id", "embedding", 10
    ).collect()

    codes, scale = int8_codes(to_double_array_sql("embedding"))
    q = emb.select("vec_id", v.alias("v"), codes.alias("codes"), scale.alias("s"))
    qrow = q.filter(F.col("vec_id") == 0).select(
        F.col("codes").alias("qcodes"), F.col("s").alias("qs"), F.col("v").alias("qv")
    )
    pool = (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id", "v", "qv",
            (quantized_dot("codes", "qcodes")
             * (F.col("s") * F.col("qs"))).alias("qscore"),
        )
        .orderBy(F.col("qscore").desc_nulls_last(), F.col("vec_id").asc())
        .limit(50)
    )
    from nba_pipeline_spark.functions.vectors import cosine_expr

    rer = (
        pool.select("vec_id", F.round(cosine_expr("v", "qv"), 6).alias("sim6"))
        .orderBy(F.desc("sim6"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round(F.col("sim6"), 4).alias("sim"))
        .collect()
    )
    assert [(r["vec_id"], r["sim"]) for r in rer] == [
        (r["vec_id"], r["sim"]) for r in exact
    ]


def test_ivf_quantized_index_prunes_segments(spark, tmp_path):
    """The persisted IVF-PQ codes lake prunes at the manifest: the
    probe cell's part_eq resolves to ONE segment of k, and the bloom
    point lookup for the query row resolves to <=2; the search result
    matches exact cosine within the probed cell."""
    import numpy as np

    from nba_pipeline_spark.operators.similarity import (
        assign_cells,
        build_ivf_quantized_index,
        ivf_quantized_topk,
    )
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cpath = str(tmp_path / "centroids")
    kpath = str(tmp_path / "codes")
    build_ivf_quantized_index(spark, emb, "vec_id", "embedding", 4, cpath, kpath)

    all_segs = M.resolve_segments(spark, kpath)
    assert len(all_segs) == 4  # one tagged segment per cell
    # cell pruning: each cell's probe opens exactly one segment
    for cid in range(4):
        assert len(M.resolve_segments(spark, kpath, part_eq={"cid": cid})) == 1
    # bloom point lookup on the id column
    assert len(M.resolve_segments(spark, kpath, bloom_eq={"vec_id": 137})) <= 2

    got = ivf_quantized_topk(
        spark, emb, "vec_id", "embedding", 5, 10, cpath, kpath, pool=300
    ).collect()
    # ground truth: exact cosine within query 5's assigned cell
    e = emb.select("vec_id", to_double_array("embedding").alias("v"))
    cents = M.read_snapshot(spark, cpath)
    assigned = assign_cells(e, cents, "vec_id")
    qcid = assigned.filter(F.col("vec_id") == 5).collect()[0]["cid"]
    cell = assigned.filter((F.col("cid") == qcid) & (F.col("vec_id") != 5))
    from nba_pipeline_spark.functions.vectors import cosine_expr

    qv = e.filter(F.col("vec_id") == 5).select(F.col("v").alias("qv"))
    truth = (
        cell.crossJoin(F.broadcast(qv))
        .select("vec_id", F.round(cosine_expr("v", "qv"), 6).alias("sim6"))
        .orderBy(F.desc("sim6"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round(F.col("sim6"), 4).alias("sim"))
        .collect()
    )
    assert [(r["vec_id"], r["sim"]) for r in got] == [
        (r["vec_id"], r["sim"]) for r in truth
    ]


def test_dedup_duplicated_spans_semantics(spark):
    """Exact-substring span dedup: the global first occurrence (min
    (id, pos)) survives, every other occurrence's k-token cover is cut,
    overlapping duplicated windows merge their covers, and short/NULL
    docs pass through intact."""
    from nba_pipeline_spark.operators.dedup import dedup_duplicated_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail one"),
            (2, "prefix a b c d e f g h tail two"),  # shares a 9-token run
            (3, "a b c d e f g h"),                   # exactly one dup window
            (4, None),
            (5, "short text"),
            (6, "x " * 7 + "y"),                      # 8 tokens, unique window
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_duplicated_spans(df, k=8).collect()}
    assert len(out) == 6
    # doc 1 is the canonical first occurrence: untouched
    assert out[1]["text_clean"] == "a b c d e f g h tail one"
    assert out[1]["n_removed"] == 0
    # doc 2: windows (a..h)@1 and (b..tail)@2 both duplicated -> cover 1..9
    assert out[2]["text_clean"] == "prefix two"
    assert out[2]["n_removed"] == 9
    # doc 3: its only window duplicates doc 1's -> whole doc removed
    assert out[3]["text_clean"] == ""
    assert out[3]["n_removed"] == 8
    # NULL and sub-k docs survive untouched
    assert out[4]["text_clean"] == "" and out[4]["n_removed"] == 0
    assert out[5]["text_clean"] == "short text" and out[5]["n_removed"] == 0
    assert out[6]["n_removed"] == 0


def test_update_ivf_quantized_index_incremental(spark, tmp_path):
    """Incremental IVF-PQ maintenance: a delta touching one cell
    rewrites only that cell's segment (the other transfers BY NAME,
    bloom intact), regenerates the touched cell's bloom, converges to
    the full-rebuild state, and refuses a cell-moving re-embed."""
    import pytest as _pt

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    def emb(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # ids 0/1 are the centroids (first 2 by id), one per cluster
    base = emb([
        (0, [10.0, 0.0]), (1, [0.0, 10.0]),
        (2, [9.0, 1.0]), (3, [1.0, 9.0]),
    ])
    delta = emb([(4, [0.5, 8.0]), (5, [1.5, 9.5])])  # cluster of id 1 only

    c_inc, k_inc = str(tmp_path / "c_inc"), str(tmp_path / "k_inc")
    SIM.build_ivf_quantized_index(spark, base, "vec_id", "embedding", 2, c_inc, k_inc)
    before = M._read_manifest(spark, k_inc, M.current_version(spark, k_inc))
    cell0_seg = [
        s for s in before["segments"] if before["meta"][s]["part"]["cid"] == 0
    ]
    SIM.update_ivf_quantized_index(spark, delta, "vec_id", "embedding", c_inc, k_inc)
    after = M._read_manifest(spark, k_inc, M.current_version(spark, k_inc))
    assert set(cell0_seg) < set(after["segments"]), "untouched cell must transfer by name"
    for s in after["segments"]:
        assert "bloom" in after["meta"].get(s, {}), "every cell keeps a bloom"

    # convergence: incremental state == full rebuild over base+delta
    c_full, k_full = str(tmp_path / "c_full"), str(tmp_path / "k_full")
    SIM.build_ivf_quantized_index(
        spark, base.unionByName(delta), "vec_id", "embedding", 2, c_full, k_full
    )
    inc = {
        (r["vec_id"], r["cid"], tuple(r["codes"]))
        for r in M.read_snapshot(spark, k_inc).collect()
    }
    full = {
        (r["vec_id"], r["cid"], tuple(r["codes"]))
        for r in M.read_snapshot(spark, k_full).collect()
    }
    assert inc == full

    # a re-embed that moves id 2 into the other cell is refused
    mover = emb([(2, [0.0, 9.9])])
    with _pt.raises(ValueError, match="key-stability"):
        SIM.update_ivf_quantized_index(spark, mover, "vec_id", "embedding", c_inc, k_inc)


def test_ivf_incremental_query_cells_keep_blooms(spark):
    """q_ann_ivf_incremental's codes lake: after the incremental MERGE,
    every live cell segment still carries its id bloom, so point
    lookups keep pruning (the metadata freshness compaction-style
    rewrites usually lose)."""
    from conftest import SF_DIR

    from nba_pipeline_spark.plans.similarity_queries import _ivfq_incr_index
    from nba_pipeline_spark.sources import manifest as M

    _, codes = _ivfq_incr_index(spark, SF_DIR)
    m = M._read_manifest(spark, codes, M.current_version(spark, codes))
    assert m["segments"]
    for s in m["segments"]:
        assert "bloom" in m["meta"].get(s, {}), f"segment {s} lost its bloom"


def test_ivf_index_build_is_one_commit_and_rebuildable(spark, tmp_path):
    """The codes lake gains exactly ONE version per build (all cells
    land atomically — readers never see a partial index), and a
    rebuild is one replace commit whose superseded segments the
    age-based vacuum reclaims while time travel to the pre-rebuild
    index keeps working within retention."""
    import numpy as np

    from nba_pipeline_spark.operators.similarity import build_ivf_quantized_index
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(4)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cpath, kpath = str(tmp_path / "c"), str(tmp_path / "k")

    build_ivf_quantized_index(spark, emb, "vec_id", "embedding", 3, cpath, kpath)
    assert M.current_version(spark, kpath) == 1, "build must be ONE commit"
    assert len(M.resolve_segments(spark, kpath)) == 3
    v1_rows = M.read_snapshot(spark, kpath).count()

    # rebuild: one more version, one replace
    build_ivf_quantized_index(spark, emb, "vec_id", "embedding", 3, cpath, kpath)
    assert M.current_version(spark, kpath) == 2
    assert M.read_snapshot(spark, kpath).count() == v1_rows
    # pre-rebuild index still time-travels within retention
    assert M.read_snapshot(spark, kpath, version=1).count() == v1_rows

    # vacuum past retention: v1 segments reclaimed, one live segment set
    import os

    n = M.vacuum(spark, kpath, keep_versions=1)
    assert n == 3, "rebuild's superseded per-cell segments reclaim"
    assert sorted(os.listdir(os.path.join(kpath, "data"))) == sorted(
        M.resolve_segments(spark, kpath)
    )


def test_pq_index_recall_floor_and_layout(spark, tmp_path):
    """Codebook PQ (m-subvector, fixed-point integer assignment):
    recall@10 of the ADT-pool + exact-rerank search is pinned against
    exact brute force on seeded data; each index build is ONE replace
    commit per lake; the codes lake measures an order of magnitude
    smaller than the raw vectors (the 16-32x tier, see SCALE.md)."""
    import os

    import numpy as np

    from nba_pipeline_spark.functions.vectors import to_double_array
    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(42)
    n, d, m, ksub = 300, 32, 8, 32
    rows = [(int(i), [float(x) for x in rng.standard_normal(d)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cbp, cdp = str(tmp_path / "cb"), str(tmp_path / "codes")
    SIM.build_pq_index(spark, emb, "vec_id", "embedding", m, ksub, cbp, cdp)
    assert M.current_version(spark, cbp) == 1
    assert M.current_version(spark, cdp) == 1

    # deterministic recall floor (everything integer -> exact replay)
    qid = 5
    q = emb.filter(F.col("vec_id") == qid).select(
        to_double_array("embedding").alias("qv")
    )
    exact = {
        r[0]
        for r in SIM.brute_force_topk(
            emb.filter(F.col("vec_id") != qid), q, "vec_id", "embedding", 10
        ).collect()
    }
    got = {
        r["vec_id"]
        for r in SIM.pq_topk(
            spark, emb, "vec_id", "embedding", qid, 10, m, cbp, cdp, pool=50
        ).collect()
    }
    assert len(got & exact) / 10 >= 0.7

    # codes are m ints each, every code < ksub
    codes = M.read_snapshot(spark, cdp).collect()
    assert all(len(r["codes"]) == m for r in codes)
    assert all(0 <= c < ksub for r in codes for c in r["codes"])
    assert len(codes) == n

    # compression: the codes lake is >=10x smaller than the raw
    # float32 vectors (codebook is fixed-size — constant at scale)
    def du(p):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    raw = str(tmp_path / "raw")
    emb.write.mode("overwrite").parquet(raw)
    assert du(raw) / du(os.path.join(cdp, "data")) >= 10

    # rebuild: one more version, same state
    SIM.build_pq_index(spark, emb, "vec_id", "embedding", m, ksub, cbp, cdp)
    assert M.current_version(spark, cdp) == 2
    assert M.read_snapshot(spark, cdp).count() == n


def test_span_dedup_incremental_matches_full_recompute(spark, tmp_path):
    """Incremental span dedup against a persisted window table equals
    the full recompute restricted to the new batch (the round-4
    signature-table discipline applied to windows), and the folded
    window table equals a full rebuild's."""
    from nba_pipeline_spark.operators.dedup import (
        dedup_duplicated_spans,
        dedup_duplicated_spans_incremental,
        merge_span_windows,
        span_window_table,
    )
    from nba_pipeline_spark.sources import manifest as M

    settled_docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h settled one"),
            (2, "prefix a b c d e f g h settled two"),
            (3, "unique settled text with no duplicated windows at all"),
        ],
        "doc_id long, text string",
    )
    new_docs = spark.createDataFrame(
        [
            (10, "a b c d e f g h brand new tail"),   # dups a settled window
            (11, "x1 x2 x3 x4 x5 x6 x7 x8 fresh"),    # first occurrence in batch
            (12, "pad x1 x2 x3 x4 x5 x6 x7 x8 end"),  # dups doc 11's window
            (13, None),
            (14, "short doc"),
        ],
        "doc_id long, text string",
    )
    # persist the settled window table to a lake and read it back — the
    # storage contract, not just an in-memory frame
    wpath = str(tmp_path / "windows")
    M.commit_replace(spark, wpath, span_window_table(settled_docs, k=8))
    settled_w = M.read_snapshot(spark, wpath)

    inc = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in dedup_duplicated_spans_incremental(
            new_docs, settled_w, k=8
        ).collect()
    }
    full = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in dedup_duplicated_spans(
            settled_docs.unionByName(new_docs), k=8
        ).collect()
        if r["doc_id"] >= 10
    }
    assert inc == full
    # doc 10's shared window is cut (settled owns it), 11 survives as
    # the batch-first occurrence, 12's copy is cut
    assert inc[10][1] == 8 and inc[11][1] == 0 and inc[12][1] == 8
    assert inc[13] == ("", 0) and inc[14] == ("short doc", 0)

    # state fold-forward == full rebuild of the window table
    merged = {
        (r["wh"], r["first_id"], r["first_pos"])
        for r in merge_span_windows(
            settled_w, span_window_table(new_docs, k=8)
        ).collect()
    }
    rebuilt = {
        (r["wh"], r["first_id"], r["first_pos"])
        for r in span_window_table(
            settled_docs.unionByName(new_docs), k=8
        ).collect()
    }
    assert merged == rebuilt


def test_ivfpq_index_prunes_and_matches_exact_in_cell(spark, tmp_path):
    """Full IVF-PQ: the probe opens exactly ONE of n_cells segments,
    each build is one commit per lake, and the searched top-k equals
    exact cosine within the probed cell (pool >> cell population) —
    residual PQ loses nothing after the exact rerank."""
    import numpy as np

    from nba_pipeline_spark.functions.vectors import to_double_array
    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(5)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cp, cbp, kp = (str(tmp_path / x) for x in ("cent", "books", "codes"))
    SIM.build_ivfpq_index(spark, emb, "vec_id", "embedding", 4, 4, 16, cp, cbp, kp)
    for p in (cp, cbp, kp):
        assert M.current_version(spark, p) == 1
    assert len(M.resolve_segments(spark, kp)) == 4
    for cid in range(4):
        assert len(M.resolve_segments(spark, kp, part_eq={"cid": cid})) == 1

    got = SIM.ivfpq_topk(
        spark, emb, "vec_id", "embedding", 7, 10, 4, cp, cbp, kp, pool=300
    ).collect()
    # ground truth: exact cosine within query 7's assigned cell
    e = emb.select("vec_id", to_double_array("embedding").alias("v"))
    cents = M.read_snapshot(spark, cp)
    assigned = SIM.assign_cells(e, cents, "vec_id")
    qcid = assigned.filter(F.col("vec_id") == 7).collect()[0]["cid"]
    cell_ids = [
        int(r["vec_id"])
        for r in assigned.filter(
            (F.col("cid") == qcid) & (F.col("vec_id") != 7)
        ).collect()
    ]
    q = e.filter(F.col("vec_id") == 7).select(F.col("v").alias("qv"))
    truth = SIM.brute_force_topk(
        emb.filter(F.col("vec_id").isin(cell_ids)), q, "vec_id", "embedding", 10
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in got] == [
        (r["vec_id"], r["sim"]) for r in truth
    ]


def test_pq_kmeans_trainer_same_layout_better_recall(spark, tmp_path):
    """The production k-means codebook trainer drops into the same
    index layout and search path; on seeded gaussian data its trained
    codebooks reach at least the sampled trainer's recall@10 (Lloyd
    refinement can only improve subspace coverage here)."""
    import numpy as np

    from nba_pipeline_spark.functions.vectors import to_double_array
    from nba_pipeline_spark.operators import similarity as SIM

    rng = np.random.default_rng(42)
    n, d, m, ksub = 300, 32, 8, 32
    rows = [(int(i), [float(x) for x in rng.standard_normal(d)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qid = 5
    q = emb.filter(F.col("vec_id") == qid).select(
        to_double_array("embedding").alias("qv")
    )
    exact = {
        r[0]
        for r in SIM.brute_force_topk(
            emb.filter(F.col("vec_id") != qid), q, "vec_id", "embedding", 10
        ).collect()
    }

    def recall(codebooks):
        cbp = str(tmp_path / f"cb{id(codebooks)}")
        cdp = str(tmp_path / f"cd{id(codebooks)}")
        SIM.build_pq_index(
            spark, emb, "vec_id", "embedding", m, ksub, cbp, cdp,
            codebooks=codebooks,
        )
        got = {
            r["vec_id"]
            for r in SIM.pq_topk(
                spark, emb, "vec_id", "embedding", qid, 10, m, cbp, cdp, pool=50
            ).collect()
        }
        return len(got & exact) / 10

    sampled = recall(None)
    trained = recall(
        SIM.pq_train_codebooks_kmeans(
            spark, emb, "vec_id", "embedding", m, ksub, iterations=3
        )
    )
    assert trained >= sampled >= 0.7, (sampled, trained)


def test_ivfpq_nprobe_widens_recall(spark, tmp_path):
    """nprobe is the recall knob: probing more cells can only widen the
    candidate set toward exact global top-k — recall@10 vs the global
    exact answer is monotone in nprobe, and at nprobe = n_cells the
    search IS exact (every cell scanned, rerank exact)."""
    import numpy as np

    from nba_pipeline_spark.functions.vectors import to_double_array
    from nba_pipeline_spark.operators import similarity as SIM

    rng = np.random.default_rng(13)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cp, cbp, kp = (str(tmp_path / x) for x in ("c", "b", "k"))
    n_cells = 4
    SIM.build_ivfpq_index(spark, emb, "vec_id", "embedding", n_cells, 4, 16, cp, cbp, kp)
    qid = 9
    q = emb.filter(F.col("vec_id") == qid).select(
        to_double_array("embedding").alias("qv")
    )
    exact = {
        r[0]
        for r in SIM.brute_force_topk(
            emb.filter(F.col("vec_id") != qid), q, "vec_id", "embedding", 10
        ).collect()
    }
    recalls = []
    for nprobe in (1, 2, n_cells):
        got = {
            r["vec_id"]
            for r in SIM.ivfpq_topk(
                spark, emb, "vec_id", "embedding", qid, 10, 4,
                cp, cbp, kp, pool=200, nprobe=nprobe,
            ).collect()
        }
        recalls.append(len(got & exact) / 10)
    assert recalls == sorted(recalls), recalls  # monotone in nprobe
    assert recalls[-1] == 1.0, recalls  # all cells probed = exact


def test_pca_matches_numpy_reference(spark):
    """PCA parity: Spark's decimal-exact Gram + driver eigh reproduces
    numpy's reference PCA on the same rows (sign-normalized), the
    components are orthonormal, and reconstruction error shrinks as k
    grows."""
    import numpy as np

    from nba_pipeline_spark.operators import pca as PCA

    rng = np.random.default_rng(21)
    # anisotropic data so the principal axes are unambiguous
    base = rng.standard_normal((300, 8)) * np.array([5, 4, 3, 2.5, 2, 1.5, 1, 0.5])
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    X = np.array([[np.float32(x) for x in row] for row in base], dtype=np.float64)

    comps, means, ratios = PCA.pca_train(emb, "embedding", 3)
    C = np.array(comps)
    # orthonormal rows
    assert np.allclose(C @ C.T, np.eye(3), atol=1e-9)
    # numpy reference on the same float32-rounded rows
    mu = X.mean(axis=0)
    cov = np.cov(X - mu, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    ref = evecs[:, order].T
    for i in range(3):  # same sign normalization as pca_train
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(np.array(means), mu, atol=1e-8)
    assert np.allclose(C, ref, atol=1e-6), np.abs(C - ref).max()
    assert ratios == sorted(ratios, reverse=True)

    # projection parity + reconstruction error monotone in k
    proj = {
        r["vec_id"]: np.array(r["proj"])
        for r in PCA.pca_project(emb, "vec_id", "embedding", comps, means).collect()
    }
    ref_proj = (X - mu) @ ref.T
    got = np.array([proj[i] for i in range(len(X))])
    assert np.allclose(got, ref_proj, atol=1e-6)

    def recon_err(k):
        c, m, _ = PCA.pca_train(emb, "embedding", k)
        Ck = np.array(c)
        P = (X - np.array(m)) @ Ck.T
        return float(np.square((X - np.array(m)) - P @ Ck).sum())

    errs = [recon_err(k) for k in (1, 3, 8)]
    assert errs[0] > errs[1] > errs[2] >= -1e-9


def test_weighted_sample_is_weight_proportional_and_deterministic(spark):
    """Efraimidis–Spirakis sanity: across many salts, heavy docs are
    included ~proportionally more often than light ones (pure-python
    replay of the identical formula — no engine RNG anywhere), and the
    Spark query's selection is invariant under repartitioning."""
    import hashlib
    import math

    import pyspark.sql.functions as F

    # python replay of the exact expression over synthetic weights
    weights = {i: (10 if i < 20 else 1) for i in range(200)}  # 20 heavy docs

    def pick(salt, k=20):
        keys = {}
        for i, w in weights.items():
            word = int(hashlib.md5(f"{salt}|{i}".encode()).hexdigest()[:13], 16)
            u = (word + 1) / float(1 << 52)
            keys[i] = -math.log(u) / w
        return set(sorted(keys, key=lambda i: (keys[i], i))[:k])

    heavy_hits = light_hits = 0
    for s in range(40):
        got = pick(str(s))
        heavy_hits += sum(1 for i in got if i < 20)
        light_hits += sum(1 for i in got if i >= 20)
    # per-DOC inclusion rates: 20 heavy (w=10) vs 180 light (w=1); the
    # unbiased E-S expectation here is ~9.26 heavy per 20-pick draw
    # (verified by direct Exp-order-stat simulation), i.e. ~46% per
    # heavy doc vs ~6% per light doc — assert the proportionality with
    # slack, not exact counts
    heavy_rate = heavy_hits / (40 * 20)
    light_rate = light_hits / (40 * 180)
    assert heavy_rate > 5 * light_rate, (heavy_rate, light_rate)
    assert 0.35 < heavy_rate < 0.6, heavy_rate

    # Spark determinism under partitioning
    from nba_pipeline_spark.plans.corpus_queries import q_weighted_sample
    from conftest import SF_DIR

    a = {r["doc_id"] for r in q_weighted_sample(spark, SF_DIR).collect()}
    b = {r["doc_id"] for r in q_weighted_sample(spark, SF_DIR).collect()}
    assert a == b and len(a) == 100


def test_pq_encode_rejects_indivisible_vector(spark):
    # ADVICE r7: _subvectors_dyn floors size/m, so a vector whose length
    # isn't divisible by m used to silently drop trailing dims; pq_encode
    # now raises in-plan per offending id
    import pytest

    from nba_pipeline_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 8)], "vec_id int, embedding array<double>"
    )
    cb = SIM.pq_train_codebooks(spark, emb, "vec_id", "embedding", 4, 2)
    ok = SIM.pq_encode(emb, cb, "vec_id", "embedding", 4).collect()
    assert len(ok) == 2
    bad = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 7)], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="not divisible|raise_error|USER_RAISED"):
        SIM.pq_encode(bad, cb, "vec_id", "embedding", 4).collect()


def test_ivfpq_knn_join_matches_per_query_topk(spark, tmp_path):
    # the batch join must return EXACTLY what the single-query probe
    # returns for each member of the batch (same cells, same ADT, same
    # pool cut, same rerank)
    from conftest import SF_DIR

    from nba_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    paths = [str(tmp_path / p) for p in ("cent", "cb", "codes")]
    SIM.build_ivfpq_index(spark, emb, "vec_id", "embedding", 4, 4, 8, *paths)
    qids = [0, 3, 7]
    got = SIM.ivfpq_knn_join(
        spark, emb, "vec_id", "embedding", qids, 5, 4, *paths, pool=20
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["sim"]))
    assert set(by_q) == set(qids)
    for q in qids:
        solo = [
            (r["vec_id"], r["sim"])
            for r in SIM.ivfpq_topk(
                spark, emb, "vec_id", "embedding", q, 5, 4, *paths, pool=20
            ).collect()
        ]
        assert by_q[q] == solo, f"query {q}: batch != solo"
    # nprobe parity: the batch recall knob must match the single-query
    # probe cell-for-cell (same ranking, same q·c constants)
    got2 = SIM.ivfpq_knn_join(
        spark, emb, "vec_id", "embedding", qids, 5, 4, *paths, pool=20, nprobe=2
    ).collect()
    by_q2 = {}
    for r in got2:
        by_q2.setdefault(r["query_id"], []).append((r["vec_id"], r["sim"]))
    for q in qids:
        solo2 = [
            (r["vec_id"], r["sim"])
            for r in SIM.ivfpq_topk(
                spark, emb, "vec_id", "embedding", q, 5, 4, *paths,
                pool=20, nprobe=2,
            ).collect()
        ]
        assert by_q2[q] == solo2, f"query {q}: batch nprobe=2 != solo"


# ---------------------------------------------- index delete propagation


def test_propagate_index_deletes_cow(spark, tmp_path):
    """Takedown without rebuild: deleting a vector propagates through
    the IVF-PQ codes lake so the search can never return it; only the
    bloom-positive cell segments rewrite, untouched cells transfer BY
    NAME with their partition tags and id blooms intact."""
    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(5)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(200)
    ]
    emb_df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ep = str(tmp_path / "emb")
    M.commit_append(spark, ep, emb_df, stats_cols=["vec_id"])
    cp, cbp, kp = (str(tmp_path / x) for x in ("cent", "books", "codes"))
    SIM.build_ivfpq_index(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        4, 4, 16, cp, cbp, kp,
    )
    before = SIM.ivfpq_topk(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        7, 10, 4, cp, cbp, kp, pool=300,
    ).collect()
    victim = int(before[0]["vec_id"])
    segs_before = M.resolve_segments(spark, kp)
    meta_before = M._read_manifest(spark, kp, M.current_version(spark, kp))
    victim_cell = [
        r["cid"] for r in M.read_for_keys(
            spark, kp, "vec_id", [victim]
        ).collect()
    ][0]

    out = SIM.propagate_index_deletes(
        spark, [victim], "vec_id", index_code_paths=[kp], emb_path=ep
    )
    assert set(out) == {kp, ep}
    # the search cannot return the deleted id, no rebuild happened
    after = SIM.ivfpq_topk(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        7, 10, 4, cp, cbp, kp, pool=300,
    ).collect()
    got_ids = {int(r["vec_id"]) for r in after}
    assert victim not in got_ids
    assert len(after) == 10
    # codes lake: the victim's row is gone, the lake still has 4 cells
    assert M.read_for_keys(spark, kp, "vec_id", [victim]).count() == 0
    assert M.read_snapshot(spark, kp).count() == 199
    # by-name transfer: every cell segment whose bloom disproved the
    # victim is THE SAME segment file as before the delete
    segs_after = M.resolve_segments(spark, kp)
    m_after = M._read_manifest(spark, kp, M.current_version(spark, kp))
    transferred = set(segs_before) & set(segs_after)
    assert len(transferred) >= 1  # at least the provably-clear cells
    changed = set(segs_after) - set(segs_before)
    # only the victim's cell (plus possible bloom false positives, none
    # at this scale/seed) rewrote
    assert {m_after["meta"][s]["part"]["cid"] for s in changed} == {
        victim_cell
    }
    for s in transferred:
        assert m_after["meta"][s] == meta_before["meta"][s]
    # embeddings lake: corpus row gone too
    assert M.read_snapshot(spark, ep).filter(
        F.col("vec_id") == victim
    ).count() == 0


def test_propagate_index_deletes_mor(spark, tmp_path):
    """MoR mode: O(batch) tombstone commits on every lake; the pruned
    index scan applies tombstones at read time, so the deleted id is
    excluded with ZERO segments rewritten; replaying the same tag is a
    no-op (exactly-once for streaming callers)."""
    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(120)
    ]
    emb_df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ep = str(tmp_path / "emb")
    M.commit_append(spark, ep, emb_df)
    cp, cbp, kp = (str(tmp_path / x) for x in ("cent", "books", "codes"))
    SIM.build_ivfpq_index(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        4, 4, 8, cp, cbp, kp,
    )
    before = SIM.ivfpq_topk(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        3, 8, 4, cp, cbp, kp, pool=200,
    ).collect()
    victim = int(before[0]["vec_id"])
    segs_before = set(M.resolve_segments(spark, kp))

    SIM.propagate_index_deletes(
        spark, [victim], "vec_id", index_code_paths=[kp], emb_path=ep,
        mode="mor", tag="takedown-1",
    )
    v_codes = M.current_version(spark, kp)
    # replay with the same tag: no new versions anywhere
    SIM.propagate_index_deletes(
        spark, [victim], "vec_id", index_code_paths=[kp], emb_path=ep,
        mode="mor", tag="takedown-1",
    )
    assert M.current_version(spark, kp) == v_codes
    # zero rewrites: same data segments, the delete is a tombstone
    assert set(M.resolve_segments(spark, kp)) == segs_before
    after = SIM.ivfpq_topk(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        3, 8, 4, cp, cbp, kp, pool=200,
    ).collect()
    assert victim not in {int(r["vec_id"]) for r in after}
    assert len(after) == 8
    # compact materializes the tombstones; search result unchanged
    M.compact(spark, kp, target_files=1)
    assert M.read_snapshot(spark, kp).filter(
        F.col("vec_id") == victim
    ).count() == 0


def test_commit_delete_bloom_refinement_prunes_rewrites(spark, tmp_path):
    """The bloom refinement in commit_delete: on a lake whose id ranges
    overlap every segment (interleaved keys), stats classification
    alone touches everything — segment blooms clear the provably-key-
    free segments, so only the bloom-positive ones rewrite."""
    from nba_pipeline_spark.sources import manifest as M

    lake = str(tmp_path / "lake")
    # two segments with INTERLEAVED ids: evens and odds — [min,max]
    # ranges overlap completely, only blooms can tell them apart
    base = spark.range(0, 200).select((F.col("id") * 2).alias("k"))
    M.commit_append(spark, lake, base, bloom_cols=["k"], stats_cols=["k"])
    odds = spark.range(0, 200).select((F.col("id") * 2 + 1).alias("k"))
    M.commit_append(spark, lake, odds, bloom_cols=["k"], stats_cols=["k"])
    segs_before = M.resolve_segments(spark, lake)
    assert len(segs_before) == 2
    # delete two EVEN keys: the odd segment's bloom disproves them
    M.commit_delete(
        spark, lake,
        spark.createDataFrame([(4,), (100,)], ["k"]), ["k"],
    )
    segs_after = M.resolve_segments(spark, lake)
    assert len(set(segs_before) & set(segs_after)) == 1  # odds untouched
    snap = M.read_snapshot(spark, lake)
    assert snap.count() == 398
    assert snap.filter(F.col("k").isin([4, 100])).count() == 0
    # cap=0 disables the refinement (both segments rewrite) — same rows
    M.commit_delete(
        spark, lake,
        spark.createDataFrame([(6,), (102,)], ["k"]), ["k"],
        bloom_probe_cap=0,
    )
    assert M.read_snapshot(spark, lake).count() == 396


def test_flat_pq_codes_lake_bloom_prunes_takedown(spark, tmp_path):
    """The flat PQ codes lake carries MANIFEST id blooms (no per-file
    parquet bloom — the tier's contract is minimum bytes): a takedown
    through propagate_index_deletes prunes via the manifest bloom and
    the compression contract holds."""
    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(2)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cbp, cdp = str(tmp_path / "cb"), str(tmp_path / "codes")
    SIM.build_pq_index(spark, emb, "vec_id", "embedding", 4, 16, cbp, cdp)
    m = M._read_manifest(spark, cdp, M.current_version(spark, cdp))
    seg = m["segments"][0]
    assert "vec_id" in m["meta"][seg].get("bloom", {})  # manifest bloom
    SIM.propagate_index_deletes(
        spark, [7], "vec_id", index_code_paths=[cdp]
    )
    assert M.read_snapshot(spark, cdp).count() == 199
    assert M.read_for_keys(spark, cdp, "vec_id", [7]).count() == 0


def test_propagate_index_deletes_dv(spark, tmp_path):
    """Deletion-vector mode (r11): O(batch-scan) positional tombstone
    commits on every lake — zero data rewritten, the deleted id leaves
    the pruned index scan via the per-file positional filter, tag
    replay is a no-op, and compact materializes the vectors."""
    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(13)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(120)
    ]
    emb_df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ep = str(tmp_path / "emb")
    M.commit_append(spark, ep, emb_df, stats_cols=["vec_id"])
    cp, cbp, kp = (str(tmp_path / x) for x in ("cent", "books", "codes"))
    SIM.build_ivfpq_index(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        4, 4, 8, cp, cbp, kp,
    )
    before = SIM.ivfpq_topk(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        3, 8, 4, cp, cbp, kp, pool=200,
    ).collect()
    victim = int(before[0]["vec_id"])
    segs_before = set(M.resolve_segments(spark, kp))

    SIM.propagate_index_deletes(
        spark, [victim], "vec_id", index_code_paths=[kp], emb_path=ep,
        mode="dv", tag="takedown-dv-1",
    )
    v_codes = M.current_version(spark, kp)
    SIM.propagate_index_deletes(
        spark, [victim], "vec_id", index_code_paths=[kp], emb_path=ep,
        mode="dv", tag="takedown-dv-1",
    )
    assert M.current_version(spark, kp) == v_codes  # tag replay no-op
    assert set(M.resolve_segments(spark, kp)) == segs_before  # zero rewrites
    after = SIM.ivfpq_topk(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding",
        3, 8, 4, cp, cbp, kp, pool=200,
    ).collect()
    assert victim not in {int(r["vec_id"]) for r in after}
    assert len(after) == 8
    assert M.read_snapshot(spark, ep).filter(
        F.col("vec_id") == victim
    ).count() == 0
    M.compact(spark, kp, target_files=1)
    assert not M._read_manifest(
        spark, kp, M.current_version(spark, kp)
    ).get("deletes")
    assert M.read_snapshot(spark, kp).filter(
        F.col("vec_id") == victim
    ).count() == 0


def test_vector_sql_twins_match_column_builders(spark):
    """r12: the SQL-text builders (cosine_expr / to_double_array /
    dot_sql / norm_sql / dot_fixed_sql) must produce bit-identical
    results to the Column/lambda builders they replaced on every edge
    shape — NULL vectors, zero norms, empty arrays, length mismatches,
    float inputs."""
    import pytest
    from pyspark.sql import functions as F

    from nba_pipeline_spark.functions.exprs import let
    from nba_pipeline_spark.functions.vectors import (
        cosine_expr,
        cosine_sql,
        dot_fixed_sql,
        dot_sql,
        norm_sql,
        sql_ident,
        to_double_array,
        to_double_array_sql,
    )

    # Column/lambda builders exactly as they were before the SQL-text-only
    # rewrite
    def old_tda(c):
        return F.transform(c, lambda x: x.cast("double"))

    def old_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )

    def old_dot_fixed(a, b, dims):
        acc = F.lit(0.0)
        for i in range(dims):
            acc = acc + a.getItem(i) * b.getItem(i)
        return acc

    def old_norm(a):
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))

    def old_cosine(a, b):
        return let(
            a,
            lambda aa: let(
                b, lambda bb: F.try_divide(old_dot(aa, bb), old_norm(aa) * old_norm(bb))
            ),
        )

    rows = [
        ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        ([0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),   # zero norm -> NULL
        (None, [1.0, 1.0, 1.0]),               # NULL vector
        ([1.5, -2.5], [0.5, 0.25]),
        ([], []),                               # empty arrays
        ([1.0, 2.0], [1.0, 2.0, 3.0]),          # length mismatch
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "i int, a array<float>, b array<float>",
    )
    oa, ob = old_tda(F.col("a")), old_tda(F.col("b"))
    ta, tb = to_double_array_sql(sql_ident("a")), to_double_array_sql(sql_ident("b"))
    old = df.orderBy("i").select(
        old_cosine(oa, ob).alias("c"),
        old_dot(oa, ob).alias("d"),
        old_norm(oa).alias("n"),
        oa.alias("ta"),
    ).collect()
    new = df.orderBy("i").select(
        cosine_expr(ta, tb).alias("c"),
        F.expr(dot_sql(ta, tb)).alias("d"),
        F.expr(norm_sql(ta)).alias("n"),
        to_double_array(sql_ident("a")).alias("ta"),
    ).collect()
    assert [tuple(r) for r in old] == [tuple(r) for r in new]

    # dot_fixed_sql at the full rows' width (3): equal to the Column
    # chain and to the HOF fold wherever both sides are 3 long or NULL;
    # a shorter side fails the subscript (ANSI INVALID_ARRAY_INDEX)
    # exactly as the Column chain did
    full = [
        i
        for i, (a, b) in enumerate(rows)
        if a is None or b is None or len(a) == len(b) == 3
    ]
    got = df.filter(F.col("i").isin(full)).orderBy("i").select(
        old_dot_fixed(oa, ob, 3).alias("o"),
        F.expr(dot_fixed_sql(ta, tb, 3)).alias("n"),
    ).collect()
    assert [(r["o"], r["n"]) for r in got] == [(new[i]["d"],) * 2 for i in full]

    for i in sorted(set(range(len(rows))) - set(full)):
        one = df.filter(F.col("i") == i)
        for c in (old_dot_fixed(oa, ob, 3), F.expr(dot_fixed_sql(ta, tb, 3))):
            with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
                one.select(c).collect()

    # plain-name form over double arrays (the rerank call shape)
    dd = spark.createDataFrame(
        [([1.0, 2.0], [2.0, 1.0]), (None, [1.0, 0.0])],
        "v array<double>, qv array<double>",
    )
    o = dd.select(old_cosine(F.col("v"), F.col("qv")).alias("c")).collect()
    n = dd.select(cosine_expr("v", "qv").alias("c")).collect()
    assert [r["c"] for r in o] == [r["c"] for r in n]
    # text is stable enough to compose (no stray lambda-name capture)
    assert "__ca" in cosine_sql("v", "qv") and "0.0D" in dot_sql("v", "qv")
    assert dot_fixed_sql("v", "qv", 2) == "0.0D + v[0] * qv[0] + v[1] * qv[1]"


def test_quantizer_sql_twins_match_column_builders(spark):
    """r12: the PQ/quantizer SQL-text builders (int8_codes,
    quantized_dot, fixed_point, _subvectors_dyn, the L2-d6 and
    affine-quantize texts) must be bit-identical to the Column/lambda
    builders they replaced on every edge shape — NULLs, zero vectors,
    empty arrays, NaN, negative zero, length mismatches, NULL
    elements."""
    from pyspark.sql import functions as F

    from nba_pipeline_spark.operators import similarity as SIM

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0], [0.5, -0.25, 3.0, 4.0]),
        (2, [0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]),   # zero scale
        (3, None, [1.0, 2.0, 3.0, 4.0]),                    # NULL vector
        (4, [], []),                                        # empty arrays
        (5, [1e-300, -127.3, 127.3, -0.0], [float("nan"), 1.0, 2.0, 3.0]),
        (6, [1.5, 2.5], [1.0, 2.0, 3.0, 4.0]),              # length mismatch
        (7, [None, 1.0, 2.0, 3.0], [1.0, None, 2.0, 3.0]),  # NULL elements
        (8, [0.003, -0.017, 0.42, -0.9999], [0.1, 0.2, -0.3, 0.77]),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>, w array<double>")

    # Column/lambda builders exactly as they were before the r12 rewrite
    def old_int8(v):
        scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
        codes = F.when(
            scale > 0,
            F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("bigint")),
        ).otherwise(F.transform(v, lambda x: F.lit(0).cast("bigint")))
        return codes, scale

    def old_qdot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    def old_fp(v, bits=20):
        sc = F.lit(float(1 << bits))
        return F.transform(
            v, lambda x: F.floor(x * sc + F.lit(0.5)).cast("bigint")
        )

    def old_sub(v, m):
        d = (F.size(v) / F.lit(m)).cast("int")
        return F.array(*[F.slice(v, s * d + 1, d) for s in range(m)])

    oc, osc = old_int8(F.col("v"))
    nc, nsc = SIM.int8_codes("v")
    od6 = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "w", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, w: acc + w,
            )
        ),
        6,
    )
    nd6 = F.expr(
        "round(sqrt(aggregate(zip_with(v, w, "
        "(__la, __lb) -> (__la - __lb) * (__la - __lb)), "
        "0.0D, (__lacc, __lw) -> __lacc + __lw)), 6)"
    )
    # affine (q_embed_quantize) twin
    tv = F.transform(F.col("v"), lambda x: x.cast("double"))
    mn, mx = F.array_min(tv), F.array_max(tv)
    oaff = F.when(
        mx > mn,
        F.transform(
            tv,
            lambda x: F.floor(
                (x - mn) * F.lit(255.0) / (mx - mn) + F.lit(0.5)
            ).cast("bigint"),
        ),
    ).otherwise(F.transform(tv, lambda x: F.lit(0).cast("bigint")))
    vs = "transform(v, __td -> cast(__td as double))"
    mns, mxs = f"array_min({vs})", f"array_max({vs})"
    naff = F.expr(
        f"CASE WHEN {mxs} > {mns} THEN transform({vs}, __qx -> "
        f"cast(floor((__qx - {mns}) * 255.0D / ({mxs} - {mns}) + 0.5D) as bigint)) "
        f"ELSE transform({vs}, __qz -> cast(0 as bigint)) END"
    )
    pairs = [
        (oc, nc), (osc, nsc),
        (old_fp(F.col("v")), SIM.fixed_point("v")),
        (
            old_qdot(old_fp(F.col("v"), 8), old_fp(F.col("w"), 8)),
            SIM.quantized_dot(
                SIM.fixed_point_sql("v", 8), SIM.fixed_point_sql("w", 8)
            ),
        ),
        (old_sub(F.col("v"), 2), SIM._subvectors_dyn("v", 2)),
        (od6, nd6), (oaff, naff),
    ]
    sel = ["id"]
    for i, (o, n) in enumerate(pairs):
        sel += [o.alias(f"o{i}"), n.alias(f"n{i}")]
    for r in df.select(*sel).collect():
        for i in range(len(pairs)):
            assert str(r[f"o{i}"]) == str(r[f"n{i}"]), (r["id"], i, r[f"o{i}"], r[f"n{i}"])


def test_ivfpq_knn_join_narrow_pool_identical(spark, tmp_path):
    # the size-guarded pool fan-in (r13) changes scheduling, never
    # results: force both pool shapes on the same index and compare
    # exactly (including nprobe > 1, where qc varies per (qid, cid))
    from conftest import SF_DIR

    from nba_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    paths = [str(tmp_path / p) for p in ("cent", "cb", "codes")]
    SIM.build_ivfpq_index(spark, emb, "vec_id", "embedding", 4, 4, 8, *paths)
    qids = [0, 3, 7]
    for nprobe in (1, 2):
        out = {}
        for narrow in (True, False):
            rows = SIM.ivfpq_knn_join(
                spark, emb, "vec_id", "embedding", qids, 5, 4, *paths,
                pool=20, nprobe=nprobe, narrow_pool=narrow,
            ).collect()
            out[narrow] = sorted(map(tuple, rows))
        assert out[True] == out[False], f"nprobe={nprobe}: narrow != wide"
