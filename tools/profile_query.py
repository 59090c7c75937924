"""Per-action profiler for registered queries (guide §1: measure first).

Wraps DataFrame.collect/count/toPandas and SparkSession.createDataFrame
with timers that record the repo-side call site, runs each named query
(warm, best-of-2 like bench.py), and prints a per-call-site breakdown so
the expensive driver round-trips are attributable to code lines.

Usage: python tools/profile_query.py <query> [query ...] [--sf DIR]
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

RECORDS: list[tuple[str, str, float]] = []  # (kind, site, sec)
ACTIVE = False


def _site() -> str:
    for fr in reversed(traceback.extract_stack()):
        fn = fr.filename
        if f"{ROOT}/" in fn and "profile_query" not in fn:
            return f"{fn.split(f'{ROOT}/')[-1]}:{fr.lineno}"
    return "<external>"


def _wrap(cls, name):
    orig = getattr(cls, name)

    def timed(self, *a, **kw):
        if not ACTIVE:
            return orig(self, *a, **kw)
        t0 = time.perf_counter()
        out = orig(self, *a, **kw)
        RECORDS.append((name, _site(), time.perf_counter() - t0))
        return out

    setattr(cls, name, timed)


def main() -> None:
    global ACTIVE
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.1"
    for i, a in enumerate(sys.argv[1:]):
        if a == "--sf":
            sf_dir = sys.argv[1:][i + 1]
            args.remove(sf_dir) if sf_dir in args else None

    # Spark 4: the concrete class (whose methods instances resolve) is
    # pyspark.sql.classic.dataframe.DataFrame, not the abstract base.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    for m in ("collect", "count", "toPandas", "localCheckpoint"):
        _wrap(DataFrame, m)

    from nba_pipeline_spark.session import get_spark
    from nba_pipeline_spark.plans.queries import REGISTRY

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup pass at tiny sf (mirrors bench.py)
    for q in args:
        try:
            REGISTRY[q].fn(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass

    for q in args:
        best = float("inf")
        best_recs = None
        for run in range(2):
            RECORDS.clear()
            ACTIVE = True
            t0 = time.perf_counter()
            REGISTRY[q].fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            ACTIVE = False
            if dt < best:
                best = dt
                best_recs = list(RECORDS)
        print(f"\n=== {q}: best {best:.3f}s ===")
        agg: dict[tuple[str, str], list[float]] = defaultdict(list)
        for kind, site, sec in best_recs:
            agg[(kind, site)].append(sec)
        rows = sorted(agg.items(), key=lambda kv: -sum(kv[1]))
        attributed = 0.0
        for (kind, site), secs in rows:
            attributed += sum(secs)
            print(f"  {sum(secs):7.3f}s  n={len(secs):3d}  {kind:15s} {site}")
        print(f"  ({attributed:.3f}s attributed of {best:.3f}s; "
              f"rest = final count + lazy planning)")


if __name__ == "__main__":
    main()
