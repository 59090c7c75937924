"""Randomized differential tests: the order-dependent operators vs
DuckDB on seeded random frames (stronger than fixtures — hundreds of
random shapes, ties, NULL patterns).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.operators.joins import asof_join
from nba_pipeline_spark.operators.windows import forward_fill, running_count_with_reset

SEEDS = [7, 42, 1234]


def _rand_events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "k": rng.integers(0, 4, n),
            "seq": np.arange(n),
            "v": np.where(rng.random(n) < 0.3, np.nan, rng.integers(0, 50, n).astype(float)),
            "reset": rng.random(n) < 0.2,
        }
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_forward_fill_matches_duckdb(spark, seed):
    pdf = _rand_events(np.random.default_rng(seed), 60)
    df = spark.createDataFrame(pdf.astype({"k": int, "seq": int}))
    got = (
        forward_fill(df, ["k"], ["seq"], "v", "f", default=-1.0)
        .select("k", "seq", "f")
        .toPandas()
        .sort_values(["k", "seq"], ignore_index=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        """
        SELECT k, seq, COALESCE(LAST_VALUE(v IGNORE NULLS) OVER
          (PARTITION BY k ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0) AS f
        FROM t ORDER BY k, seq
        """
    ).fetchdf()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()), check_exact=True)


@pytest.mark.parametrize("seed", SEEDS)
def test_running_reset_matches_duckdb(spark, seed):
    pdf = _rand_events(np.random.default_rng(seed), 60)
    df = spark.createDataFrame(pdf.astype({"k": int, "seq": int}))
    got = (
        running_count_with_reset(df, ["k"], ["seq"], "reset", "period")
        .select("k", "seq", "period")
        .toPandas()
        .sort_values(["k", "seq"], ignore_index=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        """
        WITH s AS (SELECT k, seq, reset, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq) AS rn FROM t)
        SELECT k, seq, 1 + SUM(CASE WHEN rn <> 1 AND reset THEN 1 ELSE 0 END) OVER
          (PARTITION BY k ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS period
        FROM s ORDER BY k, seq
        """
    ).fetchdf()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()), check_exact=True)


@pytest.mark.parametrize("seed", SEEDS)
def test_marker_fill_matches_duckdb(spark, seed):
    from nba_pipeline_spark.operators.windows import marker_flag_fill

    rng = np.random.default_rng(seed)
    n = 50
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, n).astype(int),
            "seq": np.arange(n),
            "tag": rng.choice(["row", "row", "row", "MARK0", "MARK1"], n),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        marker_flag_fill(
            df, ["k"], ["seq"], {"MARK0": 0, "MARK1": 1}, "tag", "flag", first_default=1
        )
        .select("k", "seq", "flag")
        .toPandas()
        .sort_values(["k", "seq"], ignore_index=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        """
        WITH f AS (
          SELECT k, seq, tag, COALESCE(LAST_VALUE(
            CASE WHEN tag = 'MARK0' THEN 0 WHEN tag = 'MARK1' THEN 1 END IGNORE NULLS)
            OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1) AS flag
          FROM t)
        SELECT k, seq, flag FROM f WHERE tag NOT IN ('MARK0','MARK1') ORDER BY k, seq
        """
    ).fetchdf()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()), check_exact=True)


@pytest.mark.parametrize("seed", SEEDS)
def test_asof_matches_duckdb_native(spark, seed):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 40).astype(int),
            "t": rng.choice(np.arange(0, 100), 40, replace=False).astype(int),
            "lid": np.arange(40),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 15).astype(int),
            "t": rng.choice(np.arange(0, 100), 15, replace=False).astype(int),
            "v": rng.integers(0, 1000, 15).astype(float),
        }
    )
    got = (
        asof_join(spark.createDataFrame(left), spark.createDataFrame(right), "k", "t", ["v"])
        .select("lid", "asof_v")
        .toPandas()
        .sort_values("lid", ignore_index=True)
    )
    con = duckdb.connect()
    con.register("l", left)
    con.register("r", right)
    want = con.execute(
        "SELECT l.lid, r.v AS asof_v FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.t >= r.t ORDER BY lid"
    ).fetchdf()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()), check_exact=True)


@pytest.mark.parametrize("seed", SEEDS)
def test_bm25_matches_pure_python_reference(spark, seed, tmp_path):
    """BM25 scores from the distributed plan vs a straightforward
    pure-Python Okapi implementation on random corpora — validates the
    formula end-to-end, not just cross-engine SQL parity."""
    import math

    import nba_pipeline_spark.plans.similarity_queries as SQ

    rng = np.random.default_rng(seed)
    vocab = ["table", "scan", "merge", "filler", "noise", "words"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(3, 30)).tolist()))
        for i in range(30)
    ]
    pdf = pd.DataFrame(
        {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
         "lang": "en", "source": "web", "n_chars": 10}
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    got = {r["doc_id"]: r["bm25"] for r in SQ._bm25_scored(spark, sf).collect()}

    # reference implementation
    toks = {i: t.split() for i, t in docs}
    dls = {i: len(t) for i, t in toks.items() if t}
    n, avgdl = len(dls), round(sum(dls.values()) / len(dls), 6)
    k1, b = SQ.BM25_K1, SQ.BM25_B
    want = {}
    for i, t in toks.items():
        s = 0.0
        for term in SQ.BM25_TERMS:
            tf = t.count(term)
            if tf == 0:
                continue
            df_ = sum(1 for tt in toks.values() if term in tt)
            idf = round(math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5)), 6)
            s += round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl)), 6)
        if s:
            want[i] = round(s, 4)
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_pagerank_matches_pure_python_reference(spark, seed):
    """pagerank() vs a straightforward Python power iteration with the
    identical rounding contract — validates the formula (damping,
    weighted contributions, dangling redistribution), independent of
    the SQL oracle replay."""
    from nba_pipeline_spark.operators.graph import pagerank

    rng = np.random.default_rng(seed)
    nodes = list(range(10))
    edges = [
        (int(rng.integers(0, 10)), int(rng.integers(0, 10)))
        for _ in range(25)
    ]
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}

    # reference: same fixed-point arithmetic in plain Python
    from collections import Counter

    w = Counter(edges)
    present = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(present)
    out_w = Counter()
    for (s, d), c in w.items():
        out_w[s] += c
    # engine ROUND is half-up on the shortest repr; Python round is
    # banker's — emulate half-up the way both engines behave for these
    # magnitudes
    import decimal

    def r12(x):
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("1e-12"), rounding=decimal.ROUND_HALF_UP
            )
        )

    rank = {v: r12(1.0 / n) for v in present}
    base = r12((1.0 - 0.85) / n)
    for _ in range(4):
        dm = sum(decimal.Decimal(repr(r12(rank[v] / n))) for v in present if out_w[v] == 0)
        contrib = {v: decimal.Decimal(0) for v in present}
        for (s, d), c in w.items():
            contrib[d] += decimal.Decimal(repr(r12(rank[s] * c / out_w[s])))
        rank = {
            v: r12(base + 0.85 * (float(contrib[v]) + float(dm))) for v in present
        }
    want = {v: round(rank[v], 12) for v in present}
    assert set(got) == set(want)
    for v in present:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


@pytest.mark.parametrize("seed", SEEDS)
def test_shingles_match_pure_python_reference(spark, seed):
    """The let-bound shingle builder vs a direct Python n-gram
    reference over random texts with whitespace runs, unicode, empty
    and NULL docs, and sub-shingle lengths — regression net for the
    expression-binding rewrite (values must be IDENTICAL, not just
    fast)."""
    import re

    from nba_pipeline_spark.functions.text import shingles, tokenize

    rng = np.random.default_rng(seed)
    words = ["alpha", "Beta", "GAMMA", "δélta", "x", "1_2", "..", ""]
    texts = []
    for _ in range(80):
        k = int(rng.integers(0, 9))
        sep = rng.choice([" ", "  ", "\t", " \n "], k) if k else []
        texts.append("".join(w + s for w, s in zip(rng.choice(words, k), list(sep) + [" "])))
    texts += [None, "", "   ", "one two", "one two three four"]
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})

    def py_sh(text, n=3):
        if text is None:
            return []
        toks = [t for t in re.split(r"\s+", text.lower()) if t != ""]
        if len(toks) < n:
            return []
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    df = spark.createDataFrame(pdf)
    got = {
        r["i"]: r["sh"]
        for r in df.select("i", shingles(tokenize(F.col("text")), 3).alias("sh")).collect()
    }
    for i, text in enumerate(texts):
        assert got[i] == py_sh(text), (i, text, got[i], py_sh(text))


@pytest.mark.parametrize("seed", SEEDS)
def test_incremental_agg_maintain_matches_recompute_random(spark, seed):
    """Random base + random signed changelog (deletes re-send existing
    base rows, inserts are new): the maintained view must equal a
    groupBy recompute over the effective row multiset."""
    from nba_pipeline_spark.operators.cdc import incremental_agg_maintain

    rng = np.random.default_rng(seed)
    n = 120
    base = pd.DataFrame(
        {
            "k": rng.integers(0, 6, n),
            "x": np.where(rng.random(n) < 0.15, np.nan, rng.integers(0, 100, n) / 4.0),
        }
    )
    # deletes: a random subset of base rows re-sent with sign -1
    del_idx = rng.choice(n, size=n // 4, replace=False)
    deletes = base.iloc[del_idx].assign(__sign=-1)
    inserts = pd.DataFrame(
        {
            "k": rng.integers(0, 8, 40),  # includes brand-new keys 6,7
            "x": np.where(rng.random(40) < 0.15, np.nan, rng.integers(0, 100, 40) / 4.0),
            "__sign": 1,
        }
    )
    delta = pd.concat([deletes, inserts], ignore_index=True)
    effective = pd.concat(
        [base.drop(index=del_idx), inserts.drop(columns="__sign")], ignore_index=True
    )

    def to_sdf(pdf, schema):
        # NaN -> real NULL (Spark NaN is not NULL and ANSI decimal
        # casts of NaN throw); row tuples with None avoid the coercion
        rows = [
            tuple(None if (isinstance(v, float) and np.isnan(v)) else v for v in t)
            for t in pdf.itertuples(index=False)
        ]
        return spark.createDataFrame(rows, schema)

    bdf = to_sdf(base.astype({"k": int}), "k int, x double")
    ddf = to_sdf(delta.astype({"k": int, "__sign": int}), "k int, x double, __sign int")
    dec = F.col("x").cast("decimal(18,4)")
    mv = bdf.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(dec).alias("total")
    )
    got = {
        r["k"]: (r["cnt"], float(r["total"]))
        for r in incremental_agg_maintain(mv, ddf, ["k"], {"total": dec}).collect()
    }
    want = {}
    for k, grp in effective.groupby("k"):
        total = grp["x"].dropna().sum()
        want[int(k)] = (len(grp), round(float(total), 4))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])


@pytest.mark.parametrize("seed", SEEDS)
def test_intradoc_dedup_matches_python_reference(spark, seed, tmp_path):
    """q_intradoc_dedup's indexed-HOF keep-first-span filter vs a plain
    Python reference on random repetitive token streams (small alphabet
    so intra-doc span repeats actually occur)."""
    from nba_pipeline_spark.plans import corpus_queries as CQ

    rng = np.random.default_rng(seed)
    vocab = ["a", "b", "c"]
    rows = []
    for doc_id in range(40):
        n = int(rng.integers(0, 20))
        toks = [vocab[i] for i in rng.integers(0, len(vocab), n)]
        rows.append((doc_id, " ".join(toks), "en", "s", n))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["dedup_text"])
        for r in CQ.q_intradoc_dedup(spark, str(tmp_path)).collect()
    }

    S = CQ.SPAN_TOKENS
    for doc_id, text, *_ in rows:
        toks = text.split()
        spans = [
            " ".join(toks[i * S:(i + 1) * S]) for i in range(len(toks) // S)
        ]
        kept, seen = [], set()
        for sp in spans:
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        assert got[doc_id] == (len(spans), len(kept), " ".join(kept)), doc_id


# ---------------------------------------------------------------- r9:
# the SQL DataSource vs the programmatic reader on RANDOM lake
# layouts — every reader feature the r9 round closed (MoR tombstones,
# widened types, renames, partition tags, multi-file segments) must
# agree with read_snapshot on randomized commit histories.


@pytest.mark.parametrize("seed", SEEDS)
def test_sql_datasource_matches_read_snapshot_random_layouts(
    spark, tmp_path, seed
):
    import random

    from nba_pipeline_spark.sources import manifest as M
    from nba_pipeline_spark.sources.lake_datasource import read_lake

    rng = random.Random(seed)
    lake = str(tmp_path / f"lake{seed}")
    nxt = 0
    live = False
    vcol = "v"  # current logical name (renames go strictly forward)
    renames = 0

    def batch(n, narrow):
        nonlocal nxt
        rows = [
            (
                nxt + i,
                rng.randint(0, 3),
                None if rng.random() < 0.2 else rng.randint(0, 999),
            )
            for i in range(n)
        ]
        nxt += n
        ktype = "int" if narrow else "bigint"
        return spark.createDataFrame(
            rows, f"k {ktype}, band bigint, {vcol} bigint"
        )

    widened = False
    for step in range(6):
        op = rng.choice(
            ["append", "append_part", "delete_mor", "delete_cow", "rename",
             "widen"]
            if live
            else ["append"]
        )
        if op == "append":
            M.commit_append(
                spark, lake, batch(rng.randint(3, 10), narrow=not widened),
                stats_cols=["k"], bloom_cols=["k"],
                target_files=rng.choice([1, 2]),
            )
            live = True
        elif op == "append_part":
            M.commit_append_partitioned(
                spark, lake, batch(rng.randint(3, 10), narrow=not widened),
                "band",
            )
        elif op == "delete_mor":
            snap = M.read_snapshot(spark, lake)
            keys = snap.select("k").limit(3)
            M.commit_delete_mor(spark, lake, keys, ["k"])
        elif op == "delete_cow":
            m = M._read_manifest(spark, lake, M.current_version(spark, lake))
            if m.get("deletes"):
                continue  # CoW refuses on tombstoned lakes by contract
            snap = M.read_snapshot(spark, lake)
            keys = snap.select("k").limit(2)
            M.commit_delete(spark, lake, keys, ["k"])
        elif op == "rename":
            # strictly forward (a rename BACK would hit the
            # resurrection guard — the renamed-away physical name is
            # taken, by contract)
            new = f"v{renames + 1}"
            M.rename_column(spark, lake, vcol, new)
            vcol, renames = new, renames + 1
        elif op == "widen" and not widened:
            try:
                M.widen_column_type(spark, lake, "k", "bigint")
                widened = True
            except ValueError:
                pass  # already bigint in this history
        # after every commit: full parity, counts and sums per band
        exp = M.read_snapshot(spark, lake)
        agg = lambda d: sorted(
            (r["band"], r["n"], r["sk"], r["sv"])
            for r in d.groupBy("band").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("k").cast("bigint").alias("sk"),
                F.sum(vcol).cast("bigint").alias("sv"),
            ).collect()
        )
        assert agg(read_lake(spark, lake)) == agg(exp), f"seed {seed} step {step} op {op}"
        # pushdown parity on a random band
        b = rng.randint(0, 3)
        assert (
            read_lake(spark, lake).filter(F.col("band") == b).count()
            == exp.filter(F.col("band") == b).count()
        ), f"seed {seed} step {step} pushdown"


def test_pagerank_explicit_dangling_node(spark):
    """Deterministic dangling coverage for the r12 structure probe: a
    graph where node 3 has no out-edges must redistribute its mass
    (the probe keeps the per-iteration dangling aggregate), and the
    result must match the same pure-Python reference."""
    from nba_pipeline_spark.operators.graph import pagerank
    import decimal

    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3)]  # 3 is dangling
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}

    def r12(x):
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("1e-12"), rounding=decimal.ROUND_HALF_UP
            )
        )

    from collections import Counter

    w = Counter(edges)
    present = [0, 1, 2, 3]
    n = len(present)
    out_w = Counter()
    for (s, d), c in w.items():
        out_w[s] += c
    rank = {v: r12(1.0 / n) for v in present}
    base = r12((1.0 - 0.85) / n)
    for _ in range(4):
        dm = sum(
            decimal.Decimal(repr(r12(rank[v] / n)))
            for v in present if out_w[v] == 0
        )
        contrib = {v: decimal.Decimal(0) for v in present}
        for (s, d), c in w.items():
            contrib[d] += decimal.Decimal(repr(r12(rank[s] * c / out_w[s])))
        rank = {
            v: r12(base + 0.85 * (float(contrib[v]) + float(dm)))
            for v in present
        }
    assert got == {v: round(rank[v], 12) for v in present}
    assert rank[3] > 0  # the dangling node holds mass (sanity)
