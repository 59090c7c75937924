"""Dump explain('formatted') for named queries into plans/r12/<q>_<tag>.txt.

Usage: python tools/dump_r12_plans.py <tag> <query> [query ...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    from nba_pipeline_spark.session import get_spark
    from nba_pipeline_spark.plans.queries import REGISTRY

    spark = get_spark("plans_r12")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(f"{ROOT}/plans/r12", exist_ok=True)
    for q in names:
        df = REGISTRY[q].fn(spark, "/root/testdata/sf0.1")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(f"{ROOT}/plans/r12/{q}_{tag}.txt", "w") as fh:
            fh.write(buf.getvalue())
        print(f"dumped {q}_{tag}")


if __name__ == "__main__":
    main()
