"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB over the
same parquet tables, then compares row count, column names, and values
(order-insensitive, exact for non-floats, 1e-9 tolerance reported for
floats — the real driver hashes, so we also flag any non-exact float).

Spark reads a fresh symlinked alias of sf_dir, whose staged lakes and
stream sources are removed at exit: the package keys its stages on the
sf_dir path, so every stage a run reads is built by this checkout's
code, never reused from an earlier run. DuckDB reads sf_dir itself.

Usage: python tools/local_verify.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    try:
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    except Exception:
        df = df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str))
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        return [f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}"]
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return [f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"]
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) != pd.api.types.is_float_dtype(bv):
            # int64-vs-float64 column: values may compare equal as floats,
            # but the driver hashes the rendered frame ('42' vs '42.0') —
            # always a hash mismatch. Seen live: q_table_checksum r3 (DuckDB
            # SUM(BIGINT) -> HUGEINT -> float64 vs Spark long).
            problems.append(
                f"col {c}: dtype mismatch spark={av.dtype} duck={bv.dtype} — HASH RISK"
            )
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            avf = av.astype(float).to_numpy()
            bvf = bv.astype(float).to_numpy()
            both_nan = np.isnan(avf) & np.isnan(bvf)
            eq = (avf == bvf) | both_nan
            if not eq.all():
                close = np.isclose(avf, bvf, rtol=1e-9, atol=1e-9) | both_nan
                n_bad = int((~eq).sum())
                if close.all():
                    problems.append(f"col {c}: {n_bad} non-bit-exact floats (within 1e-9) — HASH RISK")
                else:
                    i = int(np.argmax(~close))
                    problems.append(f"col {c}: value mismatch e.g. {avf[i]} vs {bvf[i]}")
        else:
            eq = (av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                problems.append(f"col {c}: mismatch e.g. {av.iloc[i]!r} vs {bv.iloc[i]!r}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from nba_pipeline_spark.session import get_spark

    spark = get_spark("local_verify")
    con = duck_con(sf_dir)
    alias_dir = tempfile.mkdtemp(prefix="local_verify-")
    alias = os.path.join(alias_dir, "sf")
    os.symlink(os.path.abspath(sf_dir), alias)
    try:
        failures = run(spark, con, alias, only)
    finally:
        tag = alias.strip("/").replace("/", "_")
        for root in ("/tmp/nba_spark_lake", "/tmp/nba_stream_src"):
            shutil.rmtree(f"{root}/{tag}", ignore_errors=True)
        shutil.rmtree(alias_dir, ignore_errors=True)
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


def run(spark, con, alias: str, only: set) -> int:
    from nba_pipeline_spark.plans.queries import REGISTRY

    failures = 0
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, alias)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"ok?  {name}: rows-only ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            duck_pdf = con.execute(spec.oracle).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"PASS {name} ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
