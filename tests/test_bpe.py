"""Golden tests: distributed BPE training vs a pure-Python reference
implementation of Sennrich et al. 2015 (learn-on-word-counts BPE with
deterministic (count desc, pair asc) tie-break)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from nba_pipeline_spark.operators import bpe


# --- pure-Python reference (independent of the Spark code) -------------------

def _ref_pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    c: Counter = Counter()
    for syms, freq in vocab.items():
        for a, b in zip(syms, syms[1:]):
            c[(a, b)] += freq
    return c


def _ref_merge(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == pair[0] and s == pair[1]:
            out[-1] = pair[0] + pair[1]
        else:
            out.append(s)
    return tuple(out)


def ref_bpe(words: dict[str, int], num_merges: int):
    vocab = {tuple(w): f for w, f in words.items() if w}
    merges = []
    for _ in range(num_merges):
        counts = _ref_pair_counts(vocab)
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merges.append((pair[0], pair[1], counts[pair]))
        vocab = {_ref_merge(s, pair): f for s, f in vocab.items()}
        # identical symbolizations can collide after a merge only if two
        # distinct words merged to the same symbol tuple — impossible,
        # the tuple always concatenates back to the original word
    return merges, vocab


CORPUS = {
    "low": 5, "lower": 2, "newest": 6, "widest": 3,
    "aaa": 4, "banana": 2, "bandana": 1, "the": 9, "then": 3,
}


def _spark_words(spark, words: dict[str, int]):
    return spark.createDataFrame(
        [(w, f) for w, f in words.items()], "w string, freq bigint"
    )


def test_train_matches_reference(spark):
    got_merges, got_tbl = bpe.train_bpe(_spark_words(spark, CORPUS), 12)
    want_merges, want_vocab = ref_bpe(CORPUS, 12)
    assert [(m.left, m.right, m.count) for m in got_merges] == want_merges
    got = {r["w"]: tuple(r["syms"]) for r in got_tbl.collect()}
    want = {"".join(s): s for s in want_vocab}
    assert got == {w: want[w] for w in got}


def test_merge_greedy_no_remerge(spark):
    # canonical single-pass greedy: 'aaaa' + (a,a) -> [aa, aa]; the
    # freshly formed 'aa' does not merge with the next raw 'a'
    df = spark.range(1).select(
        bpe.merge_pair(F.split(F.lit("aaaa"), "(?!$)"), "a", "a").alias("m")
    )
    assert df.collect()[0]["m"] == ["aa", "aa"]


def test_roundtrip_concat_invariant(spark):
    # every symbolization concatenates back to the original word
    merges, tbl = bpe.train_bpe(_spark_words(spark, CORPUS), 8)
    bad = tbl.filter(F.array_join("syms", "") != F.col("w")).count()
    assert bad == 0


def test_apply_merges_matches_training_state(spark):
    # encoding fresh words with the learned merge list reproduces the
    # trainer's final symbolization exactly
    words = _spark_words(spark, CORPUS)
    merges, trained = bpe.train_bpe(words, 10)
    encoded = bpe.apply_merges(words.select("w"), merges, checkpoint_every=3)
    t = {r["w"]: r["syms"] for r in trained.collect()}
    e = {r["w"]: r["syms"] for r in encoded.collect()}
    assert t == e


def test_early_stop_fully_merged(spark):
    # single repeated word collapses to one symbol, then training stops
    merges, tbl = bpe.train_bpe(_spark_words(spark, {"ab": 3}), 10)
    assert [(m.left, m.right) for m in merges] == [("a", "b")]
    assert tbl.collect()[0]["syms"] == ["ab"]


def test_randomized_corpora_match_reference(spark):
    # seeded randomized corpora: adversarial word shapes (repeats,
    # single chars, shared prefixes/suffixes, unicode) — the Spark
    # trainer must reproduce the reference merge sequence exactly
    import random

    rng = random.Random(61)
    alphabet = "abcdefgé中"
    for case in range(3):
        words = {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 7))):
                rng.randint(1, 9)
            for _ in range(40)
        }
        got, _ = bpe.train_bpe(_spark_words(spark, words), 10)
        want, _ = ref_bpe(words, 10)
        assert [(m.left, m.right, m.count) for m in got] == want, f"case {case}"


def test_merge_pair_sql_twin_matches_column_builder(spark):
    # r12: the per-round fold is built as ONE SQL parse (merge_pair_sql)
    # instead of a py4j lambda chain — pin bit-identical results across
    # greedy-overlap, unicode, quote/backslash symbols, and empties, in
    # BOTH string-literal parser modes (the session no longer pins one)
    cases = [
        ("aaaa", "a", "a"),
        ("abab", "a", "b"),
        ("xyz", "y", "z"),
        ("", "a", "b"),
        ("ééé", "é", "é"),
        ("中中a", "中", "中"),
        ("a'b\\c", "'", "b"),
        ("a'b\\c", "\\", "c"),
        ("x'\\y", "'", "\\"),  # merged symbol holds both
        ("qq", "q", "x"),  # no match anywhere
    ]
    # each word travels as a column, so only merge_pair_sql's own
    # literals meet the parser
    words = spark.createDataFrame(
        [tuple(w for w, _, _ in cases)],
        ", ".join(f"w{i} string" for i in range(len(cases))),
    )
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.getAll.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            cols = []
            for i, (_, left, right) in enumerate(cases):
                syms = F.split(F.col(f"w{i}"), "(?!$)")
                cols += [
                    bpe.merge_pair(syms, left, right).alias(f"col{i}"),
                    F.expr(
                        bpe.merge_pair_sql(f"split(w{i}, '(?!$)')", left, right)
                    ).alias(f"sql{i}"),
                ]
            row = words.select(*cols).collect()[0]
            for i, (word, left, right) in enumerate(cases):
                got = row[f"sql{i}"]
                assert row[f"col{i}"] == got, (mode, word, left, right)
                if left + right in word:
                    assert left + right in got, (mode, word, left, right)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
