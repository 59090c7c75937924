"""Scaling datapoint (VERDICT r12 "do this" #9): run the heaviest
headline queries once at ~10x sf0.1 (tools/make_ramp.py output) at two
core counts and report the 8-vs-32 ratios — evidence the sf0.1 bench
structurally cannot provide (every query there is fixed-overhead-bound).

Each core count runs in its OWN process/JVM (master local[N] is fixed at
session build). Timing is best-of-2 warm count() per query, mirroring
bench.py's methodology. Results paste into SCALE.md.

Usage:
  python tools/ramp_bench.py <cores> [ramp_dir] [query ...]   # one JVM
  (run once with 32, once with 8; compare)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

DEFAULT_QUERIES = [
    "q_dedup_cluster_star",
    "q_bpe_train",
    "q_semdedup",
    "q_knn_join_pq",
    "q_knn_join_pq_nprobe",
    "q_decontaminate_semantic",
    "q_pagerank",
    "q_flagship",
    "q_decontaminate_fuzzy",
    "q_data_recipe",
]


def main() -> None:
    cores = int(sys.argv[1])
    ramp = sys.argv[2] if len(sys.argv) > 2 else "/tmp/ramp_sf1"
    queries = sys.argv[3:] or DEFAULT_QUERIES

    from nba_pipeline_spark.session import get_spark
    from nba_pipeline_spark.plans.queries import REGISTRY

    spark = get_spark(f"ramp{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, float] = {}
    for q in queries:
        fn = REGISTRY[q].fn
        try:
            fn(spark, ramp).count()  # warm (also stages any index lakes)
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, ramp).count()
                best = min(best, time.perf_counter() - t0)
            out[q] = round(best, 3)
        except Exception as exc:  # a ramp-incompatible query is data, not a crash
            out[q] = -1.0
            print(f"# {q} failed: {exc}", file=sys.stderr)
    print(json.dumps({"cores": cores, "ramp": ramp, "queries": out}))


if __name__ == "__main__":
    main()
