"""Best-of-N timing probe for registered queries (guide §1).

Reproduces bench.py methodology (warm session, time to .count(),
gc between runs) but with N repetitions per query so before/after
comparisons of a single optimization are not drowned by the sandbox's
run-to-run jitter (median 1.13x vs minima on this box).

Usage: python tools/probe.py [-n N] [--sf DIR] <query> [query ...]
"""

from __future__ import annotations

import gc
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    argv = sys.argv[1:]
    n = 5
    sf_dir = "/root/testdata/sf0.1"
    names = []
    i = 0
    while i < len(argv):
        if argv[i] == "-n":
            n = int(argv[i + 1]); i += 2
        elif argv[i] == "--sf":
            sf_dir = argv[i + 1]; i += 2
        else:
            names.append(argv[i]); i += 1

    from nba_pipeline_spark.session import get_spark
    from nba_pipeline_spark.plans.queries import REGISTRY

    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = "/root/testdata/sf0.001"
    for q in names:
        try:
            REGISTRY[q].fn(spark, warm_dir).count()
        except Exception:
            pass
    for q in names:
        fn = REGISTRY[q].fn
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            times.append(time.perf_counter() - t0)
            gc.collect()
        ts = " ".join(f"{t:.3f}" for t in times)
        print(f"PROBE {q}: min={min(times):.3f}  runs=[{ts}]", flush=True)


if __name__ == "__main__":
    main()
