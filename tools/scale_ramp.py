"""Scale-ramp probe for the iterative operators (round-5 verdict task
4): measure ROUND COUNTS and per-iteration wall time for star-CC vs
min-label CC and pagerank at 1x and 10x, to pin the convergence-growth
claims in SCALE.md with data instead of asymptotics.

Graph shapes:
- PATH graph (worst case for min-label: diameter = n): star-CC's round
  count must grow ~log2(n) while min-label's grows linearly — the
  reason the star variant is the registered 100 TB path for deep
  graphs.
- NEAR-DUP graph from the sf dir's documents (tier-3 LSH pairs, the
  real workload): shallow components, where min-label's lower
  per-round constant wins.
- PAGERANK on the orders->customer bipartite projection at 1x and a
  10x key-shifted replication (same degree distribution, 10x edges):
  fixed 5 iterations, so the metric is per-iteration time growth,
  which should be ~linear in edges (one shuffle join + keyed sum).

Usage: python tools/scale_ramp.py [sf_dir]   (default /root/testdata/sf0.1)
Prints one JSON line per experiment; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def path_graph(spark, n: int):
    return spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


def run_cc(spark, name: str, edges, variant: str, max_iter: int = 60):
    from nba_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    stats: dict = {}
    t0 = time.monotonic()
    fn = connected_components_star if variant == "star" else connected_components
    comp = fn(edges, max_iter=max_iter, stats=stats)
    n_comp = comp.select("comp").distinct().count()
    dt = time.monotonic() - t0
    rec = {
        "exp": name,
        "variant": variant,
        "rounds": stats.get("rounds"),
        "sec": round(dt, 2),
        "sec_per_round": round(dt / max(stats.get("rounds", 1), 1), 2),
        "n_components": n_comp,
    }
    print(json.dumps(rec), flush=True)
    return rec


def run_pagerank(spark, name: str, edges, iterations: int = 5):
    from nba_pipeline_spark.operators.graph import pagerank

    n_edges = edges.count()
    t0 = time.monotonic()
    pr = pagerank(edges, iterations=iterations)
    pr.agg(F.sum("rank")).collect()
    dt = time.monotonic() - t0
    rec = {
        "exp": name,
        "variant": "pagerank",
        "iterations": iterations,
        "n_edges": n_edges,
        "sec": round(dt, 2),
        "sec_per_iter": round(dt / iterations, 2),
    }
    print(json.dumps(rec), flush=True)
    return rec


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .appName("scale_ramp")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from nba_pipeline_spark.session import tune

    tune(spark)

    # 1) path graphs: diameter-bound vs log-bound round growth.
    #    min-label needs diameter rounds (n-1 on a path) — measurable
    #    only at a toy n; that contrast IS the result.
    small = path_graph(spark, 200).localCheckpoint(eager=True)
    run_cc(spark, "path_200", small, "minlabel", max_iter=250)
    run_cc(spark, "path_200", small, "star")
    for n in (10_000, 100_000):
        edges = path_graph(spark, n).localCheckpoint(eager=True)
        run_cc(spark, f"path_{n}", edges, "star")

    # 2) the real dedup-pair workload at 1x and 10x (key-shifted copies:
    #    10x the components, same shallow shape)
    from nba_pipeline_spark.sources import load_table
    from nba_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        minhash_lsh_pairs(docs, "text", "doc_id")
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .localCheckpoint(eager=True)
    )
    shift = 10_000_000
    pairs10 = None
    for k in range(10):
        p = pairs.select(
            (F.col("src") + k * shift).alias("src"),
            (F.col("dst") + k * shift).alias("dst"),
        )
        pairs10 = p if pairs10 is None else pairs10.union(p)
    pairs10 = pairs10.localCheckpoint(eager=True)
    for tag, e in (("duppairs_1x", pairs), ("duppairs_10x", pairs10)):
        run_cc(spark, tag, e, "minlabel")
        run_cc(spark, tag, e, "star")

    # 3) pagerank per-iteration growth at 1x / 10x edges
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"), (F.col("o_orderkey") % 997).alias("dst")
    )
    e1 = orders.localCheckpoint(eager=True)
    e10 = None
    for k in range(10):
        p = orders.select(
            (F.col("src") + k * shift).alias("src"),
            (F.col("dst") + k * shift).alias("dst"),
        )
        e10 = p if e10 is None else e10.union(p)
    e10 = e10.localCheckpoint(eager=True)
    run_pagerank(spark, "pagerank_1x", e1)
    run_pagerank(spark, "pagerank_10x", e10)

    spark.stop()


if __name__ == "__main__":
    main()
