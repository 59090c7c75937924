"""Whole-registry timing sweep — find the slow tail beyond the headline set.

Times EVERY registered query once (cold, in registry order) at the given
sf dir and prints a sorted table plus a JSON line. Unlike bench.py
(best-of-2, warmed, headline-only), this is a coverage profiler: the
absolute numbers carry first-run codegen/JIT noise, but the ranking
reliably surfaces which operators dominate a full-registry run.

Usage: python tools/sweep_bench.py [sf_dir] [top_n]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 25

    from nba_pipeline_spark.session import get_spark
    from nba_pipeline_spark.plans.queries import REGISTRY

    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")

    # one warmup to absorb JVM/session bring-up
    REGISTRY["q_flagship"].fn(spark, "/root/testdata/sf0.001").count()

    import gc

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name, spec in REGISTRY.items():
        t0 = time.perf_counter()
        try:
            spec.fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # keep sweeping; report at the end
            failures[name] = repr(e)[:200]
        gc.collect()

    total = round(sum(timings.values()), 3)
    print(f"\ntotal {total}s over {len(timings)} queries; {len(failures)} failed")
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1])[:top_n]:
        print(f"{sec:8.3f}  {name}")
    for name, err in failures.items():
        print(f"FAIL {name}: {err}")
    print(json.dumps({"metric": "registry_sweep_wall", "value": total,
                      "unit": "sec", "n": len(timings), "queries": timings}))


if __name__ == "__main__":
    main()
