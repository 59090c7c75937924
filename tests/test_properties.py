"""Property-based tests (SURVEY §5.4) — hypothesis drives edge cases the
fixtures don't."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nba_pipeline_spark.functions.scalar import mmss_to_seconds, score_pair, surrogate_key

_slow = settings(
    max_examples=8,  # each example is a Spark job — keep the suite fast
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@_slow
@given(m=st.integers(0, 59), s=st.integers(0, 59), frac=st.integers(0, 9))
def test_mmss_roundtrip(spark, m, s, frac):
    df = spark.createDataFrame([(f"{m}:{s:02d}.{frac}",)], ["t"])
    got = df.select(F.expr(mmss_to_seconds("t")).alias("v")).collect()[0]["v"]
    assert got == m * 60 + s


@_slow
@given(a=st.integers(0, 300), b=st.integers(0, 300))
def test_score_pair_roundtrip(spark, a, b):
    df = spark.createDataFrame([(f"{a}-{b}",)], ["s"])
    x, y = score_pair("s")
    r = df.selectExpr(f"{x} AS a", f"{y} AS b").collect()[0]
    assert (r["a"], r["b"]) == (a, b)


@_slow
@given(
    st.lists(
        st.tuples(st.text(max_size=8), st.text(max_size=8)), min_size=2, max_size=6, unique=True
    )
)
def test_surrogate_key_injective_on_distinct_inputs(spark, pairs):
    df = spark.createDataFrame(pairs, ["x", "y"])
    keys = [r[0] for r in df.select(F.expr(surrogate_key("x", "y"))).collect()]
    assert len(set(keys)) == len(pairs)


def test_kmeans_cells_partition_all_vectors(spark):
    from nba_pipeline_spark.operators.similarity import kmeans_cells
    from nba_pipeline_spark.sources import load_table
    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").limit(100)
    cells = kmeans_cells(emb, "vec_id", "embedding", k=4, iterations=2)
    rows = cells.collect()
    assert len(rows) == 100                      # every vector assigned
    assert {r["cell"] for r in rows} <= set(range(4))
    # deterministic across runs
    again = kmeans_cells(emb, "vec_id", "embedding", k=4, iterations=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ml_lsh_finds_identical_docs(spark):
    from nba_pipeline_spark.operators.dedup import minhash_lsh_pairs_ml

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again today"),
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely unrelated text about shuffle partitions and broadcast joins"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs_ml(docs, "text", "doc_id", 0.5).collect()}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)


@_slow
@given(
    li=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 200)), min_size=1, max_size=8
    ),
    ri=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 200)), min_size=1, max_size=8
    ),
    width=st.sampled_from([7, 50, 100, 1000]),
)
def test_interval_overlap_join_equals_naive(spark, li, ri, width):
    """The bucketed interval join must equal the naive cross+filter
    join for ANY intervals and ANY bucket width (the canonical-bucket
    dedup is width-independent)."""
    from nba_pipeline_spark.operators.joins import interval_overlap_join

    lrows = [(i, s, s + d) for i, (s, d) in enumerate(li)]
    rrows = [(i, s, s + d) for i, (s, d) in enumerate(ri)]
    left = spark.createDataFrame(lrows, "lid long, ls long, le long")
    right = spark.createDataFrame(rrows, "rid long, rs long, re long")

    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_width=width
        ).collect()
    }
    want = {
        (l[0], r[0])
        for l in lrows
        for r in rrows
        if l[1] <= r[2] and r[1] <= l[2]
    }
    assert got == want


@_slow
@given(
    pts=st.lists(
        st.tuples(st.integers(-50, 400), st.integers(0, 20)), min_size=1, max_size=12
    ),
    width=st.sampled_from([3, 100, 100_000]),
)
def test_skyline_equals_brute_force(spark, pts, width):
    """Bucketed skyline == brute-force strict-dominance filter for any
    points (duplicates included) and any bucket width."""
    from nba_pipeline_spark.operators.windows import skyline_2d

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = sorted(r["id"] for r in skyline_2d(df, "x", "y", bucket_width=width).collect())
    want = sorted(
        i
        for i, (x, y) in enumerate(pts)
        if not any(px > x and py > y for px, py in pts)
    )
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)),
        min_size=1, max_size=25,
    )
)
def test_interpolate_properties(spark, vals):
    """Interpolation invariants on random series: identity on non-null
    points, interpolated values bounded by their two anchors, NULLs
    only where an anchor side is missing."""
    from nba_pipeline_spark.operators.windows import interpolate_linear

    rows = [("k", 10 * i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {
        r["t"]: r["vi"]
        for r in interpolate_linear(df, ["k"], "t", F.col("v"), "vi").collect()
    }
    nn = [(10 * i, v) for i, v in enumerate(vals) if v is not None]
    for i, v in enumerate(vals):
        t = 10 * i
        if v is not None:
            assert abs(got[t] - round(v, 6)) < 1e-9  # identity on anchors
        else:
            left = [p for p in nn if p[0] < t]
            right = [p for p in nn if p[0] > t]
            if left and right:
                lo = min(left[-1][1], right[0][1]) - 1e-6
                hi = max(left[-1][1], right[0][1]) + 1e-6
                assert got[t] is not None and lo <= got[t] <= hi  # bounded
            else:
                assert got[t] is None  # no extrapolation


@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1, max_size=20,
    )
)
def test_cc_star_equals_minlabel_on_random_graphs(spark, edges):
    """Alternating large/small-star and min-label propagation must
    produce identical components on arbitrary small graphs (self-loops
    and duplicate edges included — node range 0..15 keeps diameters
    within min-label's default budget)."""
    from nba_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "src int, dst int")
    star = {r["node"]: r["comp"] for r in connected_components_star(df).collect()}
    label = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert star == label


@_slow
@given(
    vec=st.lists(
        st.floats(-100, 100, allow_nan=False, allow_infinity=False, width=32),
        min_size=2,
        max_size=16,
    )
)
def test_quantize_codes_bounded_and_reconstruction(spark, vec):
    """int8 quantization invariants for arbitrary float32 vectors:
    codes in [0, 255]; dequantized values within half a step of the
    original (the scalar-quantization error bound); degenerate
    constant vectors quantize to all zeros."""
    df = spark.createDataFrame([(0, vec)], "vec_id int, embedding array<float>")
    v = F.transform("embedding", lambda x: x.cast("double"))
    mn, mx = F.array_min(v), F.array_max(v)
    code = lambda x: F.floor((x - mn) * F.lit(255.0) / (mx - mn) + F.lit(0.5)).cast(
        "bigint"
    )
    codes_col = F.when(mx > mn, F.transform(v, code)).otherwise(
        F.transform(v, lambda x: F.lit(0).cast("bigint"))
    )
    r = df.select(
        codes_col.alias("codes"), mn.alias("mn"), mx.alias("mx")
    ).collect()[0]
    codes, lo, hi = r["codes"], r["mn"], r["mx"]
    assert all(0 <= c <= 255 for c in codes)
    if hi > lo:
        step = (hi - lo) / 255.0
        originals = [float(x) for x in df.collect()[0]["embedding"]]
        for c, x in zip(codes, originals):
            assert abs((lo + c * step) - x) <= step / 2 + 1e-9 * max(abs(hi), abs(lo), 1)
    else:
        assert set(codes) == {0}


@_slow
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=4, max_size=12).map(
            lambda ws: " ".join(f"tok{w}" for w in ws)
        ),
        min_size=2,
        max_size=5,
    )
)
def test_containment_bp_bounds_and_symmetry_floor(spark, docs):
    """Containment invariants on arbitrary corpora: 0 <= bp <= 10000,
    and containment_bp >= the jaccard-equivalent bp for every emitted
    pair (containment dominates jaccard by definition)."""
    from nba_pipeline_spark.operators.dedup import (
        shingle_partitioned_containment_pairs,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
    )
    rows = shingle_partitioned_containment_pairs(
        df, "text", "doc_id", threshold_bp=0, max_shingle_df=1000
    ).collect()
    toks = {i: t.lower().split() for i, t in enumerate(docs)}
    sh = {
        i: {tuple(t[j : j + 3]) for j in range(len(t) - 2)} for i, t in toks.items()
    }
    for r in rows:
        a, b = r["id_a"], r["id_b"]
        assert 0 <= r["containment_bp"] <= 10000
        inter = len(sh[a] & sh[b])
        small = min(len(sh[a]), len(sh[b]))
        union = len(sh[a] | sh[b])
        assert r["n_common"] == inter  # uncapped: the join IS the intersection
        assert r["containment_bp"] == (inter * 10000) // small
        assert r["containment_bp"] >= (inter * 10000) // union  # dominates jaccard


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=8
    ),
    cut=st.integers(min_value=1, max_value=7),
)
def test_span_window_merge_is_fold_order_independent(spark, docs, cut):
    """merge_span_windows(settled, batch) == span_window_table(all):
    folding state forward in ANY split reproduces the full rebuild —
    the associativity incremental ingest depends on."""
    from nba_pipeline_spark.operators.dedup import (
        merge_span_windows,
        span_window_table,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = df.filter(F.col("doc_id") < cut)
    b = df.filter(F.col("doc_id") >= cut)
    k = 2
    merged = {
        (r["wh"], r["first_id"], r["first_pos"])
        for r in merge_span_windows(
            span_window_table(a, k=k), span_window_table(b, k=k)
        ).collect()
    }
    full = {
        (r["wh"], r["first_id"], r["first_pos"])
        for r in span_window_table(df, k=k).collect()
    }
    assert merged == full


def test_pq_codes_invariant_under_repartition(spark):
    """PQ encoding is a pure function of the data: codes are identical
    whatever the input partitioning (the fixed-point BIGINT argmin has
    no accumulation-order dependence to break)."""
    import numpy as np

    from nba_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    rng = np.random.default_rng(31)
    rows = [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = pq_train_codebooks(spark, emb, "vec_id", "embedding", 4, 8)

    def codes_of(df):
        return {
            r["vec_id"]: tuple(r["codes"])
            for r in pq_encode(df, cb, "vec_id", "embedding", 4).collect()
        }

    assert codes_of(emb.repartition(1)) == codes_of(emb.repartition(13, "vec_id"))
