"""Driver-local tier of the iterative operators (operators/partitioning.py
``collect_if_small``): a loop input of at most ``narrowRowsMax`` rows is
collected and iterated on the driver, a larger one runs as Spark rounds.
The two paths must agree bit for bit, so each differential forces each
path with the threshold conf (``0``: always wide, ``10**9``: always
local) on the same input and compares the results exactly. The two
``*_wide_vs_narrow`` tests keep their names from the single-partition
mode the driver-local path replaced; "narrow" there means local.
"""

import math
import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.operators import bpe, graph
from nba_pipeline_spark.operators.partitioning import (
    _LOCAL_ROWS_CONF,
    collect_if_small,
    local_rows_max,
)


@contextmanager
def _threshold(spark, value: str):
    prev = spark.conf.getAll.get(_LOCAL_ROWS_CONF)
    spark.conf.set(_LOCAL_ROWS_CONF, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_LOCAL_ROWS_CONF)
        else:
            spark.conf.set(_LOCAL_ROWS_CONF, prev)


def _local_and_wide(spark, run):
    """(run() on the driver-local path, run() on the Spark-round path)."""
    out = []
    for value in (str(10**9), "0"):
        with _threshold(spark, value):
            out.append(run())
    return tuple(out)


def _cc_both(edges, **kw):
    """Labels and round counts of both CC variants."""
    s1, s2 = {}, {}
    cc = sorted(map(tuple, graph.connected_components(edges, stats=s1, **kw).collect()))
    star = sorted(
        map(tuple, graph.connected_components_star(edges, stats=s2, **kw).collect())
    )
    return cc, s1["rounds"], star, s2["rounds"]


def test_probe_returns_rows_only_at_or_under_threshold(spark):
    df = spark.range(5)
    with _threshold(spark, "5"):
        assert local_rows_max(spark) == 5
        assert sorted(r.id for r in collect_if_small(df)) == [0, 1, 2, 3, 4]
    with _threshold(spark, "4"):
        assert collect_if_small(df) is None
    with _threshold(spark, "0"):
        assert collect_if_small(df) is None
        assert collect_if_small(df.limit(0)) == []


def test_iterative_results_identical_wide_vs_narrow(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (30, 31), (31, 32), (32, 33)],
        "src bigint, dst bigint",
    )
    local, wide = _local_and_wide(spark, lambda: _cc_both(edges))
    assert local == wide
    assert local[0] == local[2]  # both variants label identically


def _random_pairs(rng, n_nodes, n_edges, name=lambda i: i):
    pairs = [(name(rng.randrange(n_nodes)), name(rng.randrange(n_nodes)))
             for _ in range(n_edges)]
    # a chain deepens min-label propagation; a self-loop names a node
    pairs += [(name(i), name(i + 1)) for i in range(n_nodes, n_nodes + 6)]
    pairs.append((name(n_nodes + 20), name(n_nodes + 20)))
    return pairs


@pytest.mark.parametrize("ids", ["int", "str"])
def test_cc_labels_and_rounds_identical_on_random_graphs(spark, ids):
    # string ids pin Python's str order to Spark's UTF-8 binary order
    rng = random.Random(7 if ids == "int" else 8)
    name = (lambda i: i) if ids == "int" else (lambda i: "éAa中b"[i % 5] + str(i))
    pairs = _random_pairs(rng, 30, 18, name)
    ddl = "src bigint, dst bigint" if ids == "int" else "src string, dst string"
    edges = spark.createDataFrame(pairs, ddl)
    local, wide = _local_and_wide(spark, lambda: _cc_both(edges))
    assert local == wide
    assert local[0] == local[2]


def test_cc_budget_exhaustion_identical(spark):
    # the round count and the verdict after max_iter rounds are part of
    # the contract: a partial labeling must raise on both paths
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "src int, dst int")

    def run():
        got = []
        for fn, budget in ((graph.connected_components, 3),
                           (graph.connected_components_star, 1)):
            stats = {}
            with pytest.raises(RuntimeError, match="did not converge") as exc:
                fn(chain, max_iter=budget, stats=stats)
            got.append((stats["rounds"], str(exc.value)))
        return got

    local, wide = _local_and_wide(spark, run)
    assert local == wide
    assert [r for r, _ in local] == [3, 1]


def _pagerank_rows(edges, **kw):
    return sorted(map(tuple, graph.pagerank(edges, **kw).collect()))


@pytest.mark.parametrize("weights", ["integral", "dyadic", "unweighted"])
def test_pagerank_identical_on_random_graphs(spark, weights):
    rng = random.Random({"integral": 1, "dyadic": 2, "unweighted": 3}[weights])
    n = 12
    edges = [(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}") for _ in range(40)]
    if weights != "unweighted":
        # sink-only nodes make the dangling-mass term non-zero
        edges += [(f"n{i}", f"sink{i % 3}") for i in range(0, n, 4)]
        edges += [("n0", "n0"), ("n5", "n5")]
    w = {
        "integral": lambda: float(rng.randint(1, 9)),
        "dyadic": lambda: rng.randint(1, 64) / 16.0,
        "unweighted": lambda: 1.0,
    }[weights]
    df = spark.createDataFrame(
        [(s, d, w()) for s, d in edges], "src string, dst string, w double"
    )
    kw = {"iterations": 4, "weight": None if weights == "unweighted" else "w"}
    local, wide = _local_and_wide(spark, lambda: _pagerank_rows(df, **kw))
    assert local == wide
    assert len(local) > 0
    if weights != "unweighted":
        assert any(node.startswith("sink") for node, _ in local)


def test_round12_matches_spark_round(spark):
    # Spark's ROUND(x, 12) and CAST(x AS DECIMAL(38,12)) on a double are
    # BigDecimal(Double.toString(x)) at scale 12, HALF_UP; the local
    # pagerank replays them from repr(x). Ties are where a digit-string
    # mismatch would show, so most samples sit on or next to one.
    rng = random.Random(12)
    xs = []
    for _ in range(5000):
        xs.append(rng.random() * 10 ** rng.randint(-6, 2))
        tie = (rng.randrange(10**12) + 0.5) / 10**12 * 10 ** rng.randint(-3, 1)
        xs += [tie, math.nextafter(tie, 0.0), math.nextafter(tie, 2.0)]
    xs += [-x for x in xs[:200]] + [0.0, -0.0, 1e-13, -1e-13, 5e-13, -5e-13]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    rows = df.select(
        "i",
        F.round("x", 12).alias("r"),
        F.col("x").cast("decimal(38,12)").alias("d"),
    ).collect()
    assert len(rows) == len(xs) >= 20000
    # hex() tells -0.0 from 0.0; a Spark decimal has no negative zero
    bad_round = [
        (xs[r.i], r.r) for r in rows if graph._round12(xs[r.i]).hex() != r.r.hex()
    ]
    bad_dec = [(xs[r.i], r.d) for r in rows if graph._dec12(xs[r.i]) != r.d]
    assert bad_round == [] and bad_dec == []


def test_bpe_train_results_identical_wide_vs_narrow(spark):
    words = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "w string, freq bigint",
    )

    def run():
        merges, final = bpe.train_bpe(words, 6)
        return (
            [(m.rank, m.left, m.right, m.count) for m in merges],
            sorted(map(tuple, final.collect())),
        )

    local, wide = _local_and_wide(spark, run)
    assert local == wide


def test_bpe_train_identical_on_random_corpus(spark):
    # unicode symbols, repeats and count ties exercise the argmax
    # tie-break and the greedy fold
    rng = random.Random(29)
    alphabet = "abé中a"
    vocab = {
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6))):
            rng.randint(1, 4)
        for _ in range(30)
    }
    words = spark.createDataFrame(list(vocab.items()), "w string, freq bigint")

    def run():
        merges, final = bpe.train_bpe(words, 12)
        return (
            [(m.rank, m.left, m.right, m.count) for m in merges],
            sorted(map(tuple, final.collect())),
        )

    local, wide = _local_and_wide(spark, run)
    assert local == wide
    assert len(local[0]) == 12
