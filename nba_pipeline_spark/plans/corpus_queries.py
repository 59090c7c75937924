"""End-to-end training-corpus pipeline (BASELINE north star).

One declarative plan chaining the stages a 100 TB pre-training data
pipeline runs: tokenize -> language-ID gate -> quality gate -> exact
near-dup removal -> per-source corpus stats. Every stage is a JVM
Column expression (functions.text) reused verbatim from its standalone
query, so the composite inherits each stage's proven oracle parity.

Physical shape: the whole filter chain is ONE narrow pass over the
scan (no shuffle until dedup); the dedup window shuffles once on the
fingerprint; the final per-source rollup is a partial-agg'd groupBy on
a low-cardinality key. At 100 TB: filters prune early (cheap gates
first would matter if lang_id were expensive — it's a marker-token
count), and the only wide ops are the two keyed shuffles any engine
needs for dedup + rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import bpe as BPE
from ..operators.partitioning import fan_out, rows_frame, under_parallelized
from ..session import tune
from ..sources import load_table
from .queries import _ensure_stage, _stage_dir, register
from .text_queries import _DUCK_TOKS, _marker_hits

MIN_TOKENS = 20


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    raw = load_table(spark, sf_dir, "documents")
    small = under_parallelized(raw)
    docs = fan_out(raw).withColumn("__toks", TX.tokenize(F.col("text")))
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        TX.lang_id(F.col("__toks")).alias("lang_pred"),
        F.size(F.col("__toks")).alias("n_tokens"),
    )
    if small:
        # Single-row-group corpus: Catalyst pushes the lang/length
        # filter below the fan_out repartition to the one-partition
        # scan, serializing (and double-evaluating) the scoring
        # expressions on one core. Pinning the scored projection with
        # a lazy localCheckpoint keeps scoring 32-way and once-only.
        # At scale the scan is already parallel, fan_out is a no-op,
        # and that same pushdown is a WIN (filter early at the scan) —
        # so the pin stays off.
        scored = scored.localCheckpoint(eager=False)
    kept = scored.filter(
        (F.col("lang_pred") == "en") & (F.col("n_tokens") >= MIN_TOKENS)
    )
    # Fingerprint as a real column BEFORE the window: a non-attribute
    # expression in partitionBy is re-evaluated outside codegen; as a
    # projected column it's computed once per row, map-side.
    kept = kept.withColumn("__fp", TX.fingerprint(F.col("text")))
    # exact dedup: keep the lowest doc_id per canonical fingerprint
    w = Window.partitionBy(F.col("__fp")).orderBy(F.asc("doc_id"))
    deduped = kept.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


register(
    "q_corpus_pipeline",
    q_corpus_pipeline,
    f"""
    WITH t AS (SELECT doc_id, source, text, {_DUCK_TOKS} AS toks FROM documents),
    h AS (SELECT doc_id, source, text, toks,
                 {_marker_hits('de')} AS de_h, {_marker_hits('en')} AS en_h,
                 {_marker_hits('es')} AS es_h, {_marker_hits('fr')} AS fr_h,
                 len(toks) AS n_tokens
          FROM t),
    kept AS (
      SELECT doc_id, source, text, n_tokens FROM h
      WHERE de_h IS NOT NULL AND greatest(de_h, en_h, es_h, fr_h) > 0
        AND de_h < greatest(de_h, en_h, es_h, fr_h)
        AND en_h = greatest(de_h, en_h, es_h, fr_h)
        AND n_tokens >= {MIN_TOKENS}),
    deduped AS (
      SELECT * FROM (
        SELECT kept.*, ROW_NUMBER() OVER (
          PARTITION BY CASE WHEN text IS NULL THEN NULL
            ELSE md5(COALESCE(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' '), ''))
          END ORDER BY doc_id ASC) AS rn
        FROM kept) z
      WHERE rn = 1)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 4) AS avg_tokens
    FROM deduped GROUP BY source
    """,
)


# --- Chunking: the pre-tokenization window step --------------------------------

def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character windows (200 wide, stride 150 —
    25% overlap), the chunking step ahead of embedding/tokenization in
    a training-data pipeline. sequence+explode generates chunk starts
    JVM-side (no Python, no UDF); chunks inherit the scan's
    partitioning — a pure narrow map, embarrassingly parallel at any
    scale. Row growth is len/stride ≈ 1.33× chars, paid exactly once."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text"), F.lit(150))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            F.expr("CAST((pos - 1) DIV 150 AS INT) + 1").alias("chunk_id"),
            F.expr("substring(text, pos, 200)").alias("chunk_text"),
        )
    )


register(
    "q_chunk_docs",
    q_chunk_docs,
    """
    SELECT d.doc_id,
           CAST((t.pos - 1) // 150 AS INT) + 1 AS chunk_id,
           substr(d.text, t.pos, 200) AS chunk_text
    FROM documents d,
         unnest(generate_series(1, greatest(length(d.text), 1), 150)) t(pos)
    WHERE d.text IS NOT NULL AND length(d.text) > 0
    """,
)


# --- Sequence packing: bin docs into context-window groups ---------------------

def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: per source, docs are laid
    end-to-end in doc_id order and assigned to the 8192-char context
    bin their START offset lands in — the offset-based variant of
    greedy packing that a distributed engine can compute with one
    keyed window (cumulative sum), no sequential loop, no driver.
    Same one-shuffle shape as sessionization; bin sizes overshoot by
    at most one document, the standard trade for parallel packing."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.coalesce(F.col("n_chars"), F.lit(0))
    start = (F.sum(n).over(w) - n).cast("bigint")
    staged = docs.select(
        "source",
        "doc_id",
        n.alias("n"),
        (start - (start % F.lit(8192))).alias("bin_start"),
    )
    return staged.groupBy("source", (F.col("bin_start") / 8192).cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("packed_chars"),
    )


register(
    "q_seq_pack",
    q_seq_pack,
    """
    WITH s AS (
      SELECT source, doc_id, COALESCE(n_chars, 0) AS n,
             CAST(SUM(COALESCE(n_chars, 0)) OVER w - COALESCE(n_chars, 0) AS BIGINT) AS start
      FROM documents
      WINDOW w AS (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT source, CAST(start // 8192 AS BIGINT) AS bin,
           COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS packed_chars
    FROM s GROUP BY source, CAST(start // 8192 AS BIGINT)
    """,
)


# --- Deterministic train/val/test split ----------------------------------------

def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/val/test assignment (98/1/1 by md5 bucket):
    the split is a pure function of the salted document key — stable
    across runs, cluster sizes, and re-partitioning, and new documents
    never reshuffle old ones (the property random-split lacks). The
    16-bit-hash mod 100 carries a ~0.05% bucket bias — irrelevant for
    corpus splitting and kept for exact DuckDB replay."""
    from ..operators.dedup import _hex4_to_int

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    h4 = _hex4_to_int(
        F.substring(F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 4)
    )
    bucket = F.pmod(h4, F.lit(100)).cast("int")
    return docs.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        F.when(bucket < 98, "train")
        .when(bucket == 98, "val")
        .otherwise("test")
        .alias("split"),
    )


def _split_oracle() -> str:
    hv = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('split|' || CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    )
    return f"""
    WITH b AS (
      SELECT doc_id, source, CAST(({hv}) % 100 AS INT) AS bucket
      FROM documents
    )
    SELECT doc_id, source, bucket,
           CASE WHEN bucket < 98 THEN 'train'
                WHEN bucket = 98 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """


register("q_split_assign", q_split_assign, _split_oracle())


# --- Paragraph/span-level corpus dedup (CCNet-style line dedup) -----------------

SPAN_TOKENS, SPAN_DF_MAX = 3, 10


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level corpus dedup — the paragraph/line-hash dedup step of
    published web-corpus pipelines (CCNet, RefinedWeb), re-expressed
    over fixed token spans because the synthetic docs carry no newline
    structure: split each doc into consecutive SPAN_TOKENS-token spans,
    hash each span, count corpus-wide DOCUMENT frequency per hash, and
    flag spans appearing in more than SPAN_DF_MAX distinct docs as
    boilerplate. Output: per-doc span counts + boilerplate ratio (the
    downstream filter drops flagged spans or whole docs by ratio).

    Scale shape: span generation is a narrow map (sequence+slice HOFs,
    tokens materialized per the lambda rule); document frequency is ONE
    groupBy on the 32-char hash (partial-agg'd); flagging is an
    equi-join on the hash — broadcastable whenever the over-threshold
    set is small (it is: boilerplate is by definition few distinct
    spans), otherwise a plain shuffled join. Nothing is quadratic."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", TX.tokenize(F.col("text")).alias("__toks"))
    n_full = F.expr(f"size(__toks) div {SPAN_TOKENS}")
    idx = F.when(
        F.size("__toks") >= SPAN_TOKENS, F.sequence(F.lit(0), n_full - 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = staged.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.array_join(
                    F.slice(F.col("__toks"), i * SPAN_TOKENS + 1, SPAN_TOKENS), " "
                ),
            )
        ).alias("span"),
    ).select("doc_id", F.md5(F.col("span")).alias("h"))
    freq = spans.groupBy("h").agg(F.count_distinct("doc_id").alias("df"))
    flagged = spans.join(freq, "h").select(
        "doc_id", (F.col("df") > SPAN_DF_MAX).cast("int").alias("boiler")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("boiler").cast("bigint").alias("n_boiler"),
        F.round(F.sum("boiler") / F.count(F.lit(1)), 4).alias("boiler_ratio"),
    )


register(
    "q_paragraph_dedup",
    q_paragraph_dedup,
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             md5(array_to_string(toks[i*{SPAN_TOKENS}+1:i*{SPAN_TOKENS}+{SPAN_TOKENS}], ' ')) AS h
      FROM t, unnest(range(0, len(toks) // {SPAN_TOKENS})) u(i)),
    freq AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM s GROUP BY h),
    j AS (SELECT s.doc_id, CASE WHEN freq.df > {SPAN_DF_MAX} THEN 1 ELSE 0 END AS boiler
          FROM s JOIN freq USING (h))
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(boiler) AS BIGINT) AS n_boiler,
           ROUND(SUM(boiler) * 1.0 / COUNT(*), 4) AS boiler_ratio
    FROM j GROUP BY doc_id
    """,
)


# --- Intra-document span dedup (CCNet line-dedup, span form) --------------------

def q_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition removal — the CCNet/Gopher "drop
    duplicated lines inside the doc" preprocessing step, over fixed
    token spans (the synthetic docs carry no newline structure): keep
    the FIRST occurrence of each distinct span in document order,
    reassemble the text. q_repetition_filter SCORES intra-doc
    repetition; this query REMOVES it.

    Scale shape: entirely narrow — one pass of array HOFs per row,
    zero shuffles (the `.explain` shows no Exchange). The keep-first
    filter is O(spans²) per document via an indexed lambda
    (array_position over the preceding prefix), bounded by per-doc
    span counts, never by corpus size."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", TX.tokenize(F.col("text")).alias("__toks"))
    n_full = F.expr(f"size(__toks) div {SPAN_TOKENS}")
    idx = F.when(
        F.size("__toks") >= SPAN_TOKENS, F.sequence(F.lit(0), n_full - 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = staged.select(
        "doc_id",
        F.transform(
            idx,
            lambda i: F.array_join(
                F.slice(F.col("__toks"), i * SPAN_TOKENS + 1, SPAN_TOKENS), " "
            ),
        ).alias("sp"),
    )
    kept = F.filter(
        F.col("sp"),
        lambda x, i: F.array_position(F.slice(F.col("sp"), F.lit(1), i), x) == 0,
    )
    return spans.select(
        "doc_id",
        F.size("sp").alias("n_spans"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, " ").alias("dedup_text"),
    )


register(
    "q_intradoc_dedup",
    q_intradoc_dedup,
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CASE WHEN toks IS NULL OR len(toks) < {SPAN_TOKENS} THEN []
                  ELSE list_transform(range(0, len(toks) // {SPAN_TOKENS}),
                       i -> array_to_string(toks[i*{SPAN_TOKENS}+1:i*{SPAN_TOKENS}+{SPAN_TOKENS}], ' '))
             END AS sp
      FROM t),
    k AS (SELECT doc_id, sp,
                 -- list_position = 0 when absent (NOT NULL, unlike SQL
                 -- NULLs) — mirrors Spark array_position == 0
                 list_filter(sp, (x, i) -> list_position(sp[1:i-1], x) = 0) AS kept
          FROM s)
    SELECT doc_id, len(sp) AS n_spans, len(kept) AS n_kept,
           -- array_to_string([]) is NULL in DuckDB but '' in Spark
           COALESCE(array_to_string(kept, ' '), '') AS dedup_text
    FROM k
    """,
)


# --- Token-budget allocator (data-recipe mixing math) ----------------------------

TOKEN_BUDGET, EPOCH_CAP = 100_000, 2


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget allocation — the arithmetic behind a
    training-data recipe: give each source a share of TOKEN_BUDGET
    proportional to its token count, cap any source at EPOCH_CAP
    epochs (alloc <= cap × its own tokens), and redistribute the
    capped sources' surplus proportionally across the uncapped ones
    (one waterfill round). ALL integer arithmetic (BIGINT floor-div),
    so the result is hash-exact across engines and partitionings —
    the property a recipe gate needs (re-sharding the corpus must
    never change the mix).

    Scale shape: one partial-agg'd groupBy(source) over the corpus
    (the only corpus-sized work), then two 1-row aggregates broadcast
    back over the O(sources) frame — no global window, no collect."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    # Pinned: per_src is referenced by the total aggregate, the spill
    # aggregate AND the final projection — un-pinned, each reference
    # re-derives from the corpus scan (8 scans in the dumped plan).
    # The pinned frame is O(sources) rows; the corpus is scanned ONCE.
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(TX.tokenize(F.col("text")))).cast("bigint").alias("n_tokens")
    ).localCheckpoint(eager=False)
    tot = per_src.agg(F.sum("n_tokens").alias("__total"))
    j = per_src.crossJoin(F.broadcast(tot)).withColumn(
        "__alloc1",
        F.least(
            F.expr(f"(cast({TOKEN_BUDGET} as bigint) * n_tokens) div __total"),
            F.lit(EPOCH_CAP).cast("bigint") * F.col("n_tokens"),
        ),
    )
    sums = j.agg(
        F.sum("__alloc1").alias("__alloc_sum"),
        F.sum(
            F.when(
                F.col("__alloc1") < F.lit(EPOCH_CAP).cast("bigint") * F.col("n_tokens"),
                F.col("n_tokens"),
            )
        ).alias("__u_tot"),
    )
    capped = F.col("__alloc1") >= F.lit(EPOCH_CAP).cast("bigint") * F.col("n_tokens")
    spill_share = F.expr(
        f"((cast({TOKEN_BUDGET} as bigint) - __alloc_sum) * n_tokens) div __u_tot"
    )
    alloc = F.col("__alloc1") + F.when(
        ~capped & F.col("__u_tot").isNotNull() & (F.col("__u_tot") > 0), spill_share
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        j.crossJoin(F.broadcast(sums))
        .withColumn("alloc_tokens", alloc)
        .select(
            "source",
            "n_tokens",
            "alloc_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("(alloc_tokens * 10000) div n_tokens"),
            ).alias("epochs_bp"),
        )
    )


register(
    "q_token_budget",
    q_token_budget,
    f"""
    WITH t AS (SELECT source, {_DUCK_TOKS} AS toks FROM documents),
    per_src AS (SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
                FROM t GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS total FROM per_src),
    a1 AS (SELECT source, n_tokens,
                  LEAST((CAST({TOKEN_BUDGET} AS BIGINT) * n_tokens) // total,
                        CAST({EPOCH_CAP} AS BIGINT) * n_tokens) AS alloc1
           FROM per_src, tot),
    s AS (SELECT CAST(SUM(alloc1) AS BIGINT) AS alloc_sum,
                 CAST(SUM(CASE WHEN alloc1 < {EPOCH_CAP} * n_tokens
                               THEN n_tokens END) AS BIGINT) AS u_tot
          FROM a1),
    fin AS (SELECT source, n_tokens,
                   alloc1 + CASE WHEN alloc1 < {EPOCH_CAP} * n_tokens
                                      AND u_tot IS NOT NULL AND u_tot > 0
                                 THEN ((CAST({TOKEN_BUDGET} AS BIGINT) - alloc_sum)
                                       * n_tokens) // u_tot
                                 ELSE 0 END AS alloc_tokens
            FROM a1, s)
    -- outer CASTs: DuckDB integer ops promote through HUGEINT, which
    -- pandas fetches as float64 (the q_table_checksum lesson)
    SELECT source, n_tokens, CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN n_tokens > 0
                THEN (alloc_tokens * 10000) // n_tokens END AS BIGINT) AS epochs_bp
    FROM fin
    """,
)


# --- Curated data mixture: exact per-source quota sampling ----------------------

MIX_QUOTAS = {"src0": 30, "src1": 18, "src2": 12}  # 50/30/20 of 60 docs


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curated-mixture sampling: downsample chosen
    sources to EXACT per-source quotas (the domain-weighting step of a
    pre-training data recipe — e.g. 50% web / 30% books / 20% code).
    Rows are ranked per source by a salted md5 of the doc key and the
    first quota_s rows kept: reproducible on any engine/partitioning,
    stable under reruns, and exact (rank, not Bernoulli), which is why
    it hash-matches its oracle while RNG sampling cannot. One window
    shuffle keyed by source; at scale replace row_number with the
    hash-threshold variant (q_sample_hash) when approximate counts
    suffice — that one is shuffle-free."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    word = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    quota = F.create_map(
        *[F.lit(x) for kv in MIX_QUOTAS.items() for x in kv]
    )[F.col("source")]
    w = Window.partitionBy("source").orderBy(F.col("hw"), F.col("doc_id"))
    ranked = (
        docs.filter(F.col("source").isin(*MIX_QUOTAS))
        .select("doc_id", "source", word.alias("hw"))
        .withColumn("rk", F.row_number().over(w))
    )
    return ranked.filter(F.col("rk") <= quota).select(
        "doc_id", "source", F.col("rk").cast("int").alias("rk")
    )


def _mixture_oracle() -> str:
    src_list = ", ".join(f"'{s}'" for s in MIX_QUOTAS)
    quota_case = " ".join(
        f"WHEN source = '{s}' THEN {q}" for s, q in MIX_QUOTAS.items()
    )
    return f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                        doc_id) AS rk
      FROM documents WHERE source IN ({src_list}))
    SELECT doc_id, source, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= CASE {quota_case} END
    """


register("q_mixture_sample", q_mixture_sample, _mixture_oracle())


# --- DSIR-style importance resampling (arXiv:2302.03169) ----------------------

DSIR_BUCKETS, DSIR_TARGET, DSIR_KEEP = 256, "src0", 100


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169), deterministically: hashed unigram+bigram
    features, per-bucket log importance ratio between the target
    distribution (docs from DSIR_TARGET — the curated corpus) and the
    raw pool, per-doc score = sum(count_b * lr_b), top-DSIR_KEEP raw
    docs selected. The paper's Gumbel-noise resampling step is replaced
    by deterministic rank (score desc, id) so the selection is
    reproducible and oracle-checkable; plug noise back in by adding a
    salted-md5 jitter column (q_mixture_sample's trick) if sampling
    without replacement is wanted.

    Physical shape at 100 TB: ONE explode pass over the corpus feeds
    (a) the bucket distributions — partial-agg'd map-side into <=
    DSIR_BUCKETS rows per task, a ~256-row frame after the shuffle —
    and (b) per-doc bucket counts, map-side combined on (doc_id,
    bucket) so the doc-score shuffle carries at most docs x
    min(doc_tokens, 256) skinny rows, NOT the raw token stream. The
    256-row log-ratio table broadcast-joins back; selection is
    TakeOrderedAndProject. The target side is typically tiny (curated
    corpora); nothing here depends on it fitting anywhere special.
    The exploded feature frame is pinned: three consumers, and
    un-pinned the tokenize/shingle/md5 chain re-evaluates per consumer.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokenize(F.col("text"))
    feats = F.concat(toks, TX.shingles(toks, 2))
    bucket = (
        F.conv(F.substring(F.md5(F.col("feat")), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    ).cast("int")
    # the position stream is aggregated EXACTLY ONCE, map-side partial,
    # into the (doc, source, bucket) count table — both the bucket
    # distributions and the per-doc counts derive from it by re-summing
    # (r12, guide §2.3: aggregate before you shuffle / reuse partials).
    # Previously the pinned position stream itself was materialized and
    # scanned by TWO full aggregation passes; the pin now holds the
    # docs x min(doc_tokens, 256) table instead of O(corpus positions).
    base = (
        fan_out(docs)
        .select("doc_id", "source", F.explode(feats).alias("feat"))
        .select("doc_id", "source", bucket.alias("bucket"))
    )
    pd_all = (
        base.groupBy("doc_id", "source", "bucket")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    is_t = F.col("source") == DSIR_TARGET
    dist = pd_all.groupBy("bucket").agg(
        F.sum(F.when(is_t, F.col("cnt")).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_t, F.col("cnt")).otherwise(0)).alias("cr"),
    )
    tot = dist.agg(F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot"))
    lr = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("ct") + 1) * (F.col("r_tot") + DSIR_BUCKETS))
                / ((F.col("cr") + 1) * (F.col("t_tot") + DSIR_BUCKETS))
            ),
            6,
        ).alias("lr"),
    )
    per_doc = pd_all.filter(~is_t).select("doc_id", "bucket", "cnt")
    # the per-doc score sums cnt*lr over the doc's buckets — as a
    # DOUBLE sum that is accumulation-order-dependent and the 4dp round
    # then flips at half-way boundaries across engines (found at
    # sf0.1). The 6dp-rounded lr casts to DECIMAL(18,6) identically on
    # both engines; the decimal sum is exact and order-free.
    lr_dec = F.col("lr").cast("decimal(18,6)")
    scored = (
        per_doc.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("cnt") * lr_dec), 4)
            .cast("double")
            .alias("dsir_score")
        )
    )
    return scored.orderBy(F.desc("dsir_score"), F.asc("doc_id")).limit(DSIR_KEEP)


_DUCK_BIGRAMS = (
    "list_transform(range(1, greatest(len(toks), 1)), "
    "i -> concat_ws(' ', toks[i], toks[i+1]))"
)

register(
    "q_dsir_sample",
    q_dsir_sample,
    f"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    f AS (SELECT doc_id, source,
                 unnest(list_concat(toks, {_DUCK_BIGRAMS})) AS feat
          FROM t),
    b AS (SELECT doc_id, source,
                 CAST(CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT)
                      % {DSIR_BUCKETS} AS INT) AS bucket
          FROM f),
    dist AS (SELECT bucket,
                    SUM(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct,
                    SUM(CASE WHEN source <> '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS cr
             FROM b GROUP BY bucket),
    tot AS (SELECT SUM(ct) AS t_tot, SUM(cr) AS r_tot FROM dist),
    lr AS (SELECT bucket,
                  ROUND(LN(((ct + 1) * (r_tot + {DSIR_BUCKETS}))
                           / ((cr + 1) * (t_tot + {DSIR_BUCKETS}))), 6) AS lr
           FROM dist, tot),
    pd AS (SELECT doc_id, bucket, COUNT(*) AS cnt
           FROM b WHERE source <> '{DSIR_TARGET}' GROUP BY doc_id, bucket)
    SELECT pd.doc_id,
           CAST(ROUND(SUM(pd.cnt * CAST(lr.lr AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS dsir_score
    FROM pd JOIN lr USING (bucket)
    GROUP BY pd.doc_id
    ORDER BY dsir_score DESC NULLS LAST, pd.doc_id ASC NULLS FIRST
    LIMIT {DSIR_KEEP}
    """,
)


# --- vocab induction + tokenize-to-ids ----------------------------------------

VOCAB_SIZE, UNK_ID = 200, 0


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase tokenizer the way a training pipeline ships one:
    (1) vocab induction — top-VOCAB_SIZE tokens by corpus frequency,
    ids assigned by (count desc, token) rank; (2) encode — every
    (doc, pos) token joined against the vocab, OOV -> UNK_ID.

    Scale shape: induction is a token-count groupBy (map-side partials,
    vocab-cardinality result) followed by orderBy().limit(V) —
    TakeOrderedAndProject, never a global sort of the corpus; the
    row_number that assigns ids runs on the V-row survivor frame
    (bounded by construction, exactly like the k-centroid collects).
    Encoding is a broadcast join of the V-row vocab against the
    posexploded token stream — narrow, no shuffle of the corpus. A
    real BPE would iterate merges; each iteration is this same
    count+join shape (PAPERS.md: the merge loop is inherently
    sequential, the counting is what distributes).
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        fan_out(docs)
        .select(
            "doc_id",
            F.posexplode(TX.tokenize(F.col("text"))).alias("pos", "tok"),
        )
        .localCheckpoint(eager=False)
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    top = counts.orderBy(F.desc("c"), F.asc("tok")).limit(VOCAB_SIZE)
    w = Window.orderBy(F.desc("c"), F.asc("tok"))  # V-row frame: bounded
    vocab = top.select("tok", F.row_number().over(w).alias("tid"))
    enc = toks.join(F.broadcast(vocab), "tok", "left")
    return enc.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.coalesce(F.col("tid"), F.lit(UNK_ID)).cast("int").alias("tid"),
        F.col("tid").isNull().cast("int").alias("is_oov"),
    )


register(
    "q_tokenize_ids",
    q_tokenize_ids,
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    tk AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS tok
      FROM t, unnest(range(1, coalesce(len(toks), 0) + 1)) AS r(i)),
    counts AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
    vocab AS (
      SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS INT) AS tid
      FROM counts ORDER BY c DESC, tok ASC LIMIT {VOCAB_SIZE})
    SELECT tk.doc_id, tk.pos,
           CAST(COALESCE(vocab.tid, {UNK_ID}) AS INT) AS tid,
           CASE WHEN vocab.tid IS NULL THEN 1 ELSE 0 END AS is_oov
    FROM tk LEFT JOIN vocab USING (tok)
    """,
)


# --- deterministic training-order shuffle -------------------------------------

SHUFFLE_SHARDS = 8


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global example shuffle — the step between curation
    and training (loaders read shards sequentially, so between-epoch
    randomness must be baked into the shard layout). Each doc gets
    shard = md5-hash % SHUFFLE_SHARDS and a position from ranking the
    salted hash WITHIN its shard: a perfect random permutation under
    the random-oracle view of md5, yet identical on every engine, rerun
    and partitioning.

    Scale: NO global sort — one shuffle keyed on the shard id,
    parallelism = shard count (pick shards >> executors at 100 TB; the
    per-shard window sorts shard-local data only). Writing
    partitionBy(shard) turns the result straight into loader files.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shuf|"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    sharded = docs.select("doc_id", h.alias("h")).withColumn(
        "shard", (F.col("h") % SHUFFLE_SHARDS).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(F.col("h"), F.col("doc_id"))
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).cast("int").alias("pos")
    )


register(
    "q_corpus_shuffle",
    q_corpus_shuffle,
    f"""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('shuf|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM documents)
    SELECT doc_id,
           CAST(h % {SHUFFLE_SHARDS} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % {SHUFFLE_SHARDS}
                                   ORDER BY h, doc_id) AS INT) AS pos
    FROM h
    """,
)


# --- the full data recipe as ONE declarative plan -----------------------------

RECIPE_SHARDS = 8
RECIPE_MIN_TOKENS = 20
RECIPE_DUP_RATIO = 0.2


def q_data_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published pre-training curation pipeline end-to-end, as one
    Catalyst plan: held-out exclusion -> language gate -> length gate ->
    repetition gate (Gopher) -> exact dedup (keep min id) ->
    decontamination vs the held-out set (GPT-3 App. C) -> reproducible
    shard/position shuffle for the loader. Composes the exact
    expressions of the standalone queries (each separately
    oracle-proven), so the composite inherits their parity.

    Physical shape at 100 TB: ONE narrow pass evaluates every per-doc
    gate (tokenize once; lang/length/repetition all read the same
    token array, nothing shuffles); exact dedup is one sha-keyed
    groupBy join; decontamination is a broadcast left-anti against the
    held-out shingle set (zero train-side shuffle); the shard shuffle
    is one exchange keyed on the 8-way shard id. Four shuffles total —
    gates prune the corpus before any of them.
    """
    tune(spark)
    TEST_SOURCE = RECIPE_TEST_SOURCE

    docs = load_table(spark, sf_dir, "documents")
    # Gate QUANTITIES are materialized as columns in ONE projection and
    # the frame pinned BEFORE filtering: four filters referencing a
    # projected __toks would otherwise each get tokenize() re-inlined
    # by CollapseProject (and per-element inside the shingle lambdas —
    # the O(tokens²) pitfall), re-tokenizing every doc per gate.
    # Measured 19 s -> sub-second for the gate stage at sf0.1.
    # the held-out-source gate moves AHEAD of the scoring projection:
    # it needs no token array, commutes with row-wise scoring, and
    # pushed to the parquet scan it keeps test-source docs from ever
    # being tokenized/lang-scored/shingled (r12, guide §6 — predicate
    # pushdown before the expensive projection)
    toked = fan_out(docs.filter(F.col("source") != TEST_SOURCE)).withColumn(
        "__toks", TX.tokenize(F.col("text"))
    )
    sh3 = TX.shingles(F.col("__toks"), 3)
    scored = toked.select(
        "doc_id",
        "text",
        "__toks",
        TX.lang_id(F.col("__toks")).alias("__lang"),
        F.size("__toks").alias("__n"),
        F.round(
            F.lit(1.0)
            - F.try_divide(F.size(F.array_distinct(sh3)) * F.lit(1.0), F.size(sh3)),
            4,
        ).alias("__dup"),
    ).localCheckpoint(eager=False)
    gated = scored.filter(
        (F.col("__lang") == "en")
        & (F.col("__n") >= RECIPE_MIN_TOKENS)
        & (F.col("__dup") < RECIPE_DUP_RATIO)
    ).select("doc_id", "text", "__toks")
    # exact dedup: keep the min doc id per sha of lowercased text
    h = F.sha2(F.lower(F.col("text")), 256)
    keep = (
        gated.select("doc_id", h.alias("__h"))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    deduped = (
        gated.withColumn("__h", h)
        .join(keep, "__h")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "__toks")
        .localCheckpoint(eager=False)  # contamination AND the anti-join read it
    )
    # decontamination: drop any doc sharing a 5-gram with the held-out set
    test_sh = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == TEST_SOURCE)
        .select(
            F.explode(
                F.array_distinct(
                    F.transform(
                        TX.shingles(TX.tokenize(F.col("text")), 5),
                        lambda s: F.xxhash64(s),
                    )
                )
            ).alias("sh")
        )
        .distinct()
    )
    train_sh = deduped.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(TX.shingles(F.col("__toks"), 5), lambda s: F.xxhash64(s))
            )
        ).alias("sh"),
    )
    contaminated = train_sh.join(F.broadcast(test_sh), "sh").select("doc_id").distinct()
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    # reproducible loader shuffle (same salted-md5 permutation as
    # q_corpus_shuffle)
    hw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shuf|"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    sharded = clean.select("doc_id", hw.alias("h")).withColumn(
        "shard", (F.col("h") % RECIPE_SHARDS).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(F.col("h"), F.col("doc_id"))
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).cast("int").alias("pos")
    )


# Local copies of quality_queries' held-out source and shingle SQL —
# importing them at module-init would be circular (quality_queries ->
# registry -> corpus_queries). test_quality asserts they stay in sync.
RECIPE_TEST_SOURCE = "src0"
_R_DUCK_SH5 = (
    "list_transform(range(1, greatest(len(toks) - 3, 1)), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"
)
_R_DUCK_SH3 = (
    "list_transform(range(1, greatest(len(toks) - 1, 1)), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
)


def _recipe_oracle() -> str:
    from .text_queries import _marker_hits

    TEST_SOURCE, _DUCK_SH5, _DUCK_SH3 = RECIPE_TEST_SOURCE, _R_DUCK_SH5, _R_DUCK_SH3

    return f"""
    WITH t0 AS (SELECT doc_id, source, text, {_DUCK_TOKS} AS toks FROM documents),
    langed AS (
      SELECT *, {_marker_hits('de')} AS de_h, {_marker_hits('en')} AS en_h,
             {_marker_hits('es')} AS es_h, {_marker_hits('fr')} AS fr_h,
             {_DUCK_SH3} AS sh3
      FROM t0),
    gated AS (
      SELECT doc_id, text, toks FROM langed
      WHERE source <> '{TEST_SOURCE}'
        AND de_h IS NOT NULL AND greatest(de_h, en_h, es_h, fr_h) > 0
        AND en_h = greatest(de_h, en_h, es_h, fr_h)
        AND de_h <> greatest(de_h, en_h, es_h, fr_h)
        AND len(toks) >= {RECIPE_MIN_TOKENS}
        AND ROUND(1.0 - len(list_distinct(sh3)) * 1.0 / nullif(len(sh3), 0), 4)
              < {RECIPE_DUP_RATIO}),
    keep AS (
      SELECT sha256(lower(text)) AS h, MIN(doc_id) AS keep_id
      FROM gated GROUP BY sha256(lower(text))),
    deduped AS (
      SELECT g.doc_id, g.toks FROM gated g
      JOIN keep ON sha256(lower(g.text)) = keep.h AND g.doc_id = keep.keep_id),
    test_sh AS (
      SELECT DISTINCT unnest(list_distinct({_DUCK_SH5})) AS sh
      FROM (SELECT {_DUCK_TOKS} AS toks FROM documents WHERE source = '{TEST_SOURCE}')),
    contaminated AS (
      SELECT DISTINCT d.doc_id
      FROM (SELECT doc_id, unnest(list_distinct(
              list_transform(range(1, greatest(len(toks) - 3, 1)),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))) AS sh
            FROM deduped) d
      JOIN test_sh USING (sh)),
    clean AS (
      SELECT doc_id FROM deduped
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('shuf|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM clean)
    SELECT doc_id, CAST(h % {RECIPE_SHARDS} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % {RECIPE_SHARDS}
                                   ORDER BY h, doc_id) AS INT) AS pos
    FROM h
    """


register("q_data_recipe", q_data_recipe, _recipe_oracle())


SPAN_DEDUP_K = 8


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document duplicated-span removal (operators/dedup.py::
    dedup_duplicated_spans) — the exact-substring dedup of Lee et al.
    2107.06499 as sliding 8-token windows: only the global first
    occurrence of each duplicated window survives; every other
    occurrence's span is cut and the documents reassembled.
    q_intradoc_dedup removes repetition WITHIN a doc; this removes the
    boilerplate shared ACROSS docs (licence headers, templates) that
    MinHash-level dedup keeps because the documents differ overall.

    Scale shape: shuffle volume is O(corpus tokens) — one
    map-side-combinable min-reduction over window text, one join back,
    one per-doc set — the distributed floor for exact substring
    matching (the suffix-array pass of the paper, without a global
    sort)."""
    from ..operators.dedup import dedup_duplicated_spans

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return dedup_duplicated_spans(
        docs, id_col="doc_id", text_col="text", k=SPAN_DEDUP_K
    )


register(
    "q_dedup_spans",
    q_dedup_spans,
    f"""
    WITH arr AS (
      SELECT doc_id, COALESCE({_DUCK_TOKS}, []) AS ts FROM documents),
    occ AS (
      SELECT doc_id, s.pos AS pos, s.w AS w FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(ts) < {SPAN_DEDUP_K} THEN []
                           ELSE list_transform(range(1, len(ts) - {SPAN_DEDUP_K} + 2),
                                i -> struct_pack(pos := i - 1,
                                     w := array_to_string(ts[i:i+{SPAN_DEDUP_K}-1], ' ')))
                      END) AS s
        FROM arr)),
    ranked AS (
      SELECT doc_id, pos, w,
             row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
      FROM occ),
    covered AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {SPAN_DEDUP_K})) AS cp
      FROM ranked WHERE rn > 1),
    toks AS (
      SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS tok
      FROM arr),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.cp
      WHERE c.cp IS NULL),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id),
    ncov AS (
      SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id)
    SELECT a.doc_id, COALESCE(r.text_clean, '') AS text_clean,
           CAST(COALESCE(n.n_removed, 0) AS BIGINT) AS n_removed
    FROM arr a LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN ncov n USING (doc_id)
    """,
)


SPAN_SPLIT = 300  # doc_id < SPLIT = settled corpus, >= SPLIT = ingest batch


def _span_window_lake(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted window table of the settled half of the
    corpus (doc_id < SPAN_SPLIT) — the state incremental span dedup
    reads instead of re-windowing settled text."""
    from ..operators.dedup import span_window_table
    from ..sources import manifest as M

    root = _stage_dir(sf_dir, "documents", "span_windows_h")  # hashed-key table
    wpath = f"{root}/windows"

    def build():
        settled = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < SPAN_SPLIT
        )
        M.commit_replace(
            spark, wpath, span_window_table(settled, k=SPAN_DEDUP_K)
        )

    _ensure_stage(root, build)
    return wpath


def q_dedup_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest span dedup (operators/dedup.py::
    dedup_duplicated_spans_incremental): the batch (doc_id >=
    {SPAN_SPLIT}) is cleaned against the PERSISTED window table of the
    settled corpus — settled text is never re-windowed, so the
    full rebuild's O(corpus tokens) shuffle becomes O(batch tokens) +
    one equi-join against stored windows. The canonical reduction is
    the full-recompute min, so the oracle is simply the full span
    dedup over the whole corpus restricted to batch rows — exact, no
    weaker incremental-only check."""
    from ..operators.dedup import dedup_duplicated_spans_incremental
    from ..sources import manifest as M

    tune(spark)
    wpath = _span_window_lake(spark, sf_dir)
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= SPAN_SPLIT
    )
    return dedup_duplicated_spans_incremental(
        batch, M.read_snapshot(spark, wpath), k=SPAN_DEDUP_K
    )


register(
    "q_dedup_spans_incremental",
    q_dedup_spans_incremental,
    f"""
    WITH arr AS (
      SELECT doc_id, COALESCE({_DUCK_TOKS}, []) AS ts FROM documents),
    occ AS (
      SELECT doc_id, s.pos AS pos, s.w AS w FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(ts) < {SPAN_DEDUP_K} THEN []
                           ELSE list_transform(range(1, len(ts) - {SPAN_DEDUP_K} + 2),
                                i -> struct_pack(pos := i - 1,
                                     w := array_to_string(ts[i:i+{SPAN_DEDUP_K}-1], ' ')))
                      END) AS s
        FROM arr)),
    ranked AS (
      SELECT doc_id, pos, w,
             row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
      FROM occ),
    covered AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {SPAN_DEDUP_K})) AS cp
      FROM ranked WHERE rn > 1),
    toks AS (
      SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS tok
      FROM arr),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.cp
      WHERE c.cp IS NULL),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id),
    ncov AS (
      SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id)
    SELECT a.doc_id, COALESCE(r.text_clean, '') AS text_clean,
           CAST(COALESCE(n.n_removed, 0) AS BIGINT) AS n_removed
    FROM arr a LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN ncov n USING (doc_id)
    WHERE a.doc_id >= {SPAN_SPLIT}
    """,
)


# --- BPE tokenizer training (distributed merge learning) ----------------------

BPE_MERGES = 24


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        fan_out(docs)
        .select(F.explode(TX.tokenize(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn BPE_MERGES byte-pair merges from the documents corpus
    (operators/bpe.py — Sennrich et al. 1508.07909 on the word-freq
    table). Rows-only by design: the merge loop is argmax-iterate,
    not SQL-expressible; the merge sequence is golden-tested against
    a pure-Python reference implementation (tests/test_bpe.py) and is
    a deterministic function of the corpus (ties break on pair order),
    so the driver's rows/schema check is stable across runs.

    Scale: ONE corpus-scale shuffle (word-count groupBy); every merge
    round then touches only the distinct-word table — pair-count
    partial aggs + a 1-row TakeOrdered collect + a narrow fold."""
    tune(spark)
    merges, _ = BPE.train_bpe(_word_freqs(spark, sf_dir), BPE_MERGES)
    return BPE.merges_df(spark, merges).orderBy("rank")


register("q_bpe_train", q_bpe_train, None)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the merges learned by q_bpe_train: the
    DISTINCT-word table is symbolized once (trainer's final state —
    apply_merges equivalence is pytest-pinned), then broadcast-joined
    back to the per-doc word stream; per-doc token/char tallies come
    out of one partial-agg'd groupBy. The corpus itself is never
    folded — at 100 TB the fold cost is O(distinct words), the join is
    narrow. Rows-only for the same reason as q_bpe_train; the
    concat-roundtrip invariant (decode == original word) is the
    correctness anchor, tested in tests/test_bpe.py."""
    tune(spark)
    _, word_syms = BPE.train_bpe(_word_freqs(spark, sf_dir), BPE_MERGES)
    docs = load_table(spark, sf_dir, "documents")
    words = fan_out(docs).select(
        "doc_id", F.explode(TX.tokenize(F.col("text"))).alias("w")
    )
    enc = words.join(F.broadcast(word_syms.select("w", "syms")), "w")
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.size("syms")).alias("n_bpe_tokens"),
            F.sum(F.length("w")).alias("n_chars"),
        )
        .orderBy("doc_id")
    )


register("q_bpe_encode", q_bpe_encode, None)


def q_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable slice of the BPE surface: train ONE merge
    with the real trainer (argmax over weighted digram counts, pair-
    order tiebreak), apply it with the real greedy fold, and report
    per-doc (word count, char count, token count after merge 1) plus
    the learned pair itself. SQL can replay all of it: the argmax is a
    grouped digram count, and a greedy left-to-right non-overlapping
    fold of one pair over single-char symbols is EXACTLY what SQL
    ``replace(w, l || r, '')`` removes — tokens_after = len(w) -
    (len(w) - len(replace)) / 2. So the driver hash-checks the
    trainer's argmax, the fold semantics, and the encode join — the
    invariant anchor next to the rows-only q_bpe_train/q_bpe_encode
    (the full merge LOOP stays argmax-iterate, golden-tested in
    tests/test_bpe.py)."""
    tune(spark)
    merges, word_syms = BPE.train_bpe(_word_freqs(spark, sf_dir), 1)
    docs = load_table(spark, sf_dir, "documents")
    out_schema = (
        "doc_id bigint, n_words bigint, n_chars bigint, n_tokens_m1 bigint, "
        "merge_left string, merge_right string, merge_cnt bigint"
    )
    if not merges:
        # degenerate corpus (all 1-char words): no pair to merge; the
        # oracle's argmax CTE is empty too, so both sides return 0 rows
        return rows_frame(spark, [], out_schema)
    m = merges[0]
    words = fan_out(docs).select(
        "doc_id", F.explode(TX.tokenize(F.col("text"))).alias("w")
    )
    enc = words.join(F.broadcast(word_syms.select("w", "syms")), "w")
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum(F.size("syms")).cast("bigint").alias("n_tokens_m1"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_tokens_m1",
            F.lit(m.left).alias("merge_left"),
            F.lit(m.right).alias("merge_right"),
            F.lit(m.count).cast("bigint").alias("merge_cnt"),
        )
    )


register(
    "q_bpe_first_merge",
    q_bpe_first_merge,
    f"""
    WITH t AS (SELECT doc_id, {{toks}} AS toks FROM documents),
    words AS (SELECT doc_id, unnest(toks) AS w FROM t),
    wf AS (SELECT w, COUNT(*) AS freq FROM words GROUP BY w),
    dgl AS (SELECT freq,
                   unnest(list_transform(range(1, length(w)),
                          i -> struct_pack(l := substring(w, CAST(i AS INT), 1),
                                           r := substring(w, CAST(i AS INT) + 1, 1)))) AS p
            FROM wf),
    cnt AS (SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM dgl GROUP BY p.l, p.r),
    m1 AS (SELECT l, r, cnt FROM cnt ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
    perdoc AS (
      SELECT w.doc_id,
             COUNT(*) AS n_words,
             CAST(SUM(length(w.w)) AS BIGINT) AS n_chars,
             CAST(SUM(length(w.w)
                      - ((length(w.w) - length(replace(w.w, m1.l || m1.r, ''))) // 2))
                  AS BIGINT) AS n_tokens_m1
      FROM words w CROSS JOIN m1
      GROUP BY w.doc_id)
    SELECT p.doc_id, p.n_words, p.n_chars, p.n_tokens_m1,
           m1.l AS merge_left, m1.r AS merge_right, m1.cnt AS merge_cnt
    FROM perdoc p CROSS JOIN m1
    """.format(toks=_DUCK_TOKS),
)


# --- dataset card (per-source composition report) ------------------------------


def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the per-source composition report a released
    corpus ships (Dolma/RedPajama-style) — document and token counts,
    corpus token share, mean stopword ratio (the cheap fluency proxy),
    and the exact-duplicate rate within the source, all in ONE pass:
    a narrow projection, one partial-agg'd groupBy on source, and a
    1-row corpus-total frame crossed back in for the share. Integer /
    scaled-integer outputs keep the hash engine-portable."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    per_doc = fan_out(docs).select(
        "source",
        TX.token_count_ws(F.col("text")).alias("__nt"),
        TX.stopword_ratio(TX.tokenize(F.col("text"))).alias("__sw"),
        TX.fingerprint(F.col("text")).alias("__fp"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").cast("bigint").alias("n_tokens"),
        # mean stopword ratio as 1e4-scaled BIGINT (sum of per-doc
        # ratios is order-dependent in doubles: accumulate decimal)
        F.floor(
            F.avg(F.col("__sw").cast("decimal(18,9)")) * 10000 + F.lit(0.5)
        ).cast("bigint").alias("stopword_e4"),
        F.count_distinct(F.col("__fp")).alias("__uniq"),
        F.count(F.col("__fp")).alias("__withfp"),
    )
    total = per_src.agg(F.sum("n_tokens").alias("__tot"))
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # token share in basis points: BIGINT floor division on
            # both sides (float `/` + cast splits engines: DuckDB CAST
            # rounds, Spark truncates)
            F.expr("(n_tokens * 10000) div __tot").alias("token_share_bp"),
            "stopword_e4",
            # exact-dup rate in basis points: 1 - distinct/total fps
            F.expr("((__withfp - __uniq) * 10000) div __withfp").alias(
                "dup_rate_bp"
            ),
        )
    )


register(
    "q_data_card",
    q_data_card,
    f"""
    WITH t AS (SELECT doc_id, source, text, {_DUCK_TOKS} AS toks FROM documents),
    d AS (
      SELECT source, len(toks) AS nt,
             CASE WHEN len(toks) > 0 THEN
               CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','an','of','to','and','in','is','it','that'], x)))
                 AS DECIMAL(18,9)) / len(toks)
             ELSE CAST(0 AS DECIMAL(18,9)) END AS sw,
             CASE WHEN text IS NULL THEN NULL
                  ELSE md5(COALESCE(array_to_string(list_sort(list_distinct(toks)), ' '), ''))
             END AS fp
      FROM t),
    s AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
             CAST(FLOOR(AVG(sw) * 10000 + 0.5) AS BIGINT) AS stopword_e4,
             COUNT(DISTINCT fp) AS uniq, COUNT(fp) AS withfp
      FROM d GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS t FROM s)
    SELECT source, n_docs, n_tokens,
           CAST((n_tokens * 10000) // tot.t AS BIGINT) AS token_share_bp,
           stopword_e4,
           CAST(((withfp - uniq) * 10000) // withfp AS BIGINT) AS dup_rate_bp
    FROM s CROSS JOIN tot
    """,
)


WEIGHTED_SAMPLE_K = 100


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, engine-reproducibly:
    Efraimidis–Spirakis exponential keys with a salted-hash uniform —
    key_i = -ln(u_i)/w_i, keep the K smallest — so inclusion odds are
    proportional to weight (here: token count — the 'sample long docs
    proportionally' recipe; swap any quality score in), yet the SAME
    rows come back on any engine/partitioning/retry (u comes from md5
    of the doc id, not engine RNG — the q_sample_hash discipline, which
    is why this hash-matches its oracle while RNG sampling is
    rows-only). Plan: narrow scan + TakeOrderedAndProject — the global
    top-K never materializes a sort. A-ES keys are THE distributed
    weighted-reservoir construction (one pass, mergeable), so the same
    expression is the streaming form's per-batch scorer."""
    tune(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = F.size(TX.tokenize(F.col("text")))
    word = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit("ws"), F.col("doc_id"))), 1, 13),
        16,
        10,
    ).cast("long")
    # u in (0, 1]: 52 hash bits + 1 — exactly representable, one division
    u = (word + 1).cast("double") / F.lit(float(1 << 52))
    key = -F.log(u) / w.cast("double")
    return (
        docs.select("doc_id", w.alias("n_tokens"), key.alias("__k"))
        .filter(F.col("n_tokens") > 0)
        .orderBy(F.col("__k").asc(), F.col("doc_id").asc())
        .limit(WEIGHTED_SAMPLE_K)
        .select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))
    )


register(
    "q_weighted_sample",
    q_weighted_sample,
    f"""
    WITH t AS (SELECT doc_id, len({_DUCK_TOKS}) AS w FROM documents),
    s AS (SELECT doc_id, w,
                 -ln((CAST(('0x' || substr(md5(concat_ws('|', 'ws',
                        CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) + 1)
                      / 4503599627370496.0) / CAST(w AS DOUBLE) AS k
          FROM t WHERE w > 0)
    SELECT doc_id, CAST(w AS BIGINT) AS n_tokens FROM s
    ORDER BY k ASC, doc_id ASC LIMIT {WEIGHTED_SAMPLE_K}
    """,
)


# ---------------------------------------------------------------------
# r8: sequence packing — the step between the shuffled corpus and the
# trainer's fixed-length context windows (GPT-style concat-and-chunk:
# each shard's token stream is laid end-to-end and cut every CTX_LEN
# tokens; a doc's bin is where its first token lands, and docs whose
# span crosses a cut are the loader's boundary cases).
# ---------------------------------------------------------------------

PACK_CTX = 2048     # tokens per training sequence
PACK_SHARDS = 8     # pack per shard: the per-shard cumsum is the ONLY
                    # window — no global token stream, no single
                    # partition; parallelism = shard count at 100 TB


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(shard, bin) packing census for CTX={PACK_CTX} sequences:
    docs hash into {PACK_SHARDS} shards with the q_corpus_shuffle
    salted-hash order (reproducible across engines/partitionings/
    retries), the shard-local running token offset places every doc in
    its bin (floor(start / CTX)), and the report counts docs, tokens,
    and boundary-spanning docs per bin. Plan: one narrow tokenize
    pass, ONE shuffle keyed on the shard, a shard-partitioned cumsum
    window, a partial-agg'd groupBy — the loader-shard build a
    pre-training run does after curation."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    toks = docs.select(
        "doc_id",
        h.alias("h"),
        TX.token_count_ws(F.col("text")).cast("bigint").alias("n"),
    ).withColumn("shard", (F.col("h") % PACK_SHARDS).cast("int"))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("h"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = toks.select(
        "shard",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0).cast("bigint")).alias("start"),
    ).select(
        "shard",
        "n",
        # BIGINT floor division on both engines: no float on the grid
        F.expr(f"start div {PACK_CTX}").alias("bin"),
        (
            F.expr(f"start div {PACK_CTX}")
            != F.expr(f"(start + n - 1) div {PACK_CTX}")
        ).cast("int").alias("spans"),
    )
    return placed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.sum("spans").cast("bigint").alias("n_spanning"),
    )


register(
    "q_pack_sequences",
    q_pack_sequences,
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n
      FROM documents),
    s AS (SELECT doc_id, h, n, CAST(h % {PACK_SHARDS} AS INT) AS shard FROM t),
    placed AS (
      SELECT shard, n,
             COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY h, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start
      FROM s)
    SELECT shard, CAST(start // {PACK_CTX} AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN start // {PACK_CTX}
                         <> (start + n - 1) // {PACK_CTX} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spanning
    FROM placed GROUP BY shard, start // {PACK_CTX}
    """,
)


# ---------------------------------------------------------------------
# r8: INCREMENTAL sequence packing — new ingest batches append to each
# shard's token stream at the persisted per-shard offset (the
# incremental span-dedup discipline applied to the loader build):
# settled docs are never re-read, each batch costs O(batch) plus one
# broadcast join against an O(shards) state table.
# ---------------------------------------------------------------------

PACK_BATCHES = 3  # deterministic ingest split: doc_id % 3


def pack_batch(
    batch: DataFrame, state: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Place one ingest batch into the packed stream: within (shard)
    the batch's docs order by (h, doc_id), offsets continue from the
    persisted per-shard token total (0 for unseen shards). Returns
    (placed rows with absolute `start`, the NEW state = per-shard
    totals). Batch cost: one narrow tokenize pass, one shard-keyed
    window over BATCH rows only, one broadcast join against the
    O(shards) state."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    toks = batch.select(
        "doc_id",
        h.alias("h"),
        TX.token_count_ws(F.col("text")).cast("bigint").alias("n"),
    ).withColumn("shard", (F.col("h") % PACK_SHARDS).cast("int"))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("h"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = toks.select(
        "doc_id",
        "h",
        "shard",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0).cast("bigint")).alias("__loc"),
    )
    if state is not None:
        base = state.select("shard", F.col("total").alias("__base"))
        local = local.join(F.broadcast(base), "shard", "left").withColumn(
            "__base", F.coalesce(F.col("__base"), F.lit(0).cast("bigint"))
        )
    else:
        local = local.withColumn("__base", F.lit(0).cast("bigint"))
    placed = local.select(
        "doc_id",
        "shard",
        "n",
        (F.col("__base") + F.col("__loc")).alias("start"),
    )
    new_totals = placed.groupBy("shard").agg(
        (F.max(F.col("start") + F.col("n"))).alias("total")
    )
    if state is not None:
        merged = (
            state.select("shard", "total")
            .unionByName(new_totals)
            .groupBy("shard")
            .agg(F.max("total").alias("total"))
        )
    else:
        merged = new_totals
    return placed, merged


def _pack_incr_stage(spark: SparkSession, sf_dir: str) -> str:
    """Three deterministic ingest batches (doc_id % 3 = 0, 1, 2) folded
    through pack_batch with the state persisted as a manifest lake
    between batches — the loader-shard build running as ingestion, not
    as a full-corpus job."""
    from ..sources import manifest as M

    root = _stage_dir(sf_dir, "documents", "pack_incremental")
    placed_lake, state_lake = f"{root}/placed", f"{root}/state"

    def build():
        docs = load_table(spark, sf_dir, "documents")
        for b in range(PACK_BATCHES):
            batch = docs.filter(F.col("doc_id") % PACK_BATCHES == b)
            state = (
                M.read_snapshot(spark, state_lake)
                if M.current_version(spark, state_lake)
                else None
            )
            placed, new_state = pack_batch(batch, state)
            M.commit_append(
                spark, placed_lake,
                placed.withColumn("batch", F.lit(b)),
                tag=f"pack={b}",
            )
            M.commit_replace(spark, state_lake, new_state)

    _ensure_stage(root, build)
    return placed_lake


def q_pack_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sequence packing: three ingest batches (doc_id % 3)
    each place their docs at the PERSISTED per-shard offsets and
    advance the state — settled docs never re-read, per-batch cost
    O(batch) + one broadcast of the O(shards) state table. Because
    offsets are deterministic functions of (batch, salted hash,
    doc_id), the oracle replays the whole incremental history as ONE
    window ordered by (batch, h, doc_id) per shard — exact, no weaker
    incremental-only check (the q_dedup_spans_incremental
    discipline)."""
    from ..sources import manifest as M

    tune(spark)
    placed_lake = _pack_incr_stage(spark, sf_dir)
    placed = M.read_snapshot(spark, placed_lake)
    return placed.select(
        "shard",
        "n",
        F.expr(f"start div {PACK_CTX}").alias("bin"),
        (
            F.expr(f"start div {PACK_CTX}")
            != F.expr(f"(start + n - 1) div {PACK_CTX}")
        ).cast("int").alias("spans"),
    ).groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.sum("spans").cast("bigint").alias("n_spanning"),
    )


register(
    "q_pack_incremental",
    q_pack_incremental,
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(doc_id % {PACK_BATCHES} AS INT) AS batch,
             CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n
      FROM documents),
    s AS (SELECT doc_id, batch, h, n, CAST(h % {PACK_SHARDS} AS INT) AS shard FROM t),
    placed AS (
      SELECT shard, n,
             COALESCE(SUM(n) OVER (PARTITION BY shard
                                   ORDER BY batch, h, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start
      FROM s)
    SELECT shard, CAST(start // {PACK_CTX} AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN start // {PACK_CTX}
                         <> (start + n - 1) // {PACK_CTX} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spanning
    FROM placed GROUP BY shard, start // {PACK_CTX}
    """,
)


# --- r9: cascade attrition report + length-bucketed batch planning -----------


def q_filter_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage ATTRITION REPORT for the filter cascade — the
    operational artifact every production cleaning pipeline publishes
    (FineWeb/RefinedWeb-style: how many docs and tokens survive each
    gate). Stages: 1 raw → 2 non-empty → 3 length ≥ {MIN_TOKENS} →
    4 lang == 'en' → 5 exact-dedup (first doc per fingerprint among
    stage-4 survivors). ONE scan computes every stage: per-doc boolean
    flags + one fingerprint window (min surviving doc_id per print),
    then a single aggregate unpivoted with stack() — no per-stage jobs,
    no second scan; at 100 TB the report costs one pass + one window
    shuffle. Counts are cumulative by construction (stage N implies
    stage N-1)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__toks", TX.tokenize(F.col("text"))
    )
    d = docs.select(
        "doc_id",
        F.coalesce(F.size("__toks"), F.lit(0)).alias("n_tokens"),
        TX.lang_id(F.col("__toks")).alias("lang_pred"),
        TX.fingerprint(F.col("text")).alias("__fp"),
        (F.col("text").isNotNull() & (F.length("text") > 0)).alias("s2"),
    )
    d = d.withColumn(
        "s3", F.col("s2") & (F.col("n_tokens") >= MIN_TOKENS)
    ).withColumn("s4", F.col("s3") & (F.col("lang_pred") == "en"))
    w = Window.partitionBy("__fp")
    d = d.withColumn(
        "s5",
        F.col("s4")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("s4"), F.col("doc_id"))).over(w)
        ),
    )

    def cnt(flag):
        return F.sum(F.when(flag, 1).otherwise(0)).cast("bigint")

    def tok(flag):
        return F.sum(
            F.when(flag, F.col("n_tokens")).otherwise(0)
        ).cast("bigint")

    one = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("n_tokens").cast("bigint").alias("t1"),
        cnt(F.col("s2")).alias("n2"), tok(F.col("s2")).alias("t2"),
        cnt(F.col("s3")).alias("n3"), tok(F.col("s3")).alias("t3"),
        cnt(F.col("s4")).alias("n4"), tok(F.col("s4")).alias("t4"),
        cnt(F.col("s5")).alias("n5"), tok(F.col("s5")).alias("t5"),
    )
    return one.selectExpr(
        "stack(5, 1, 'raw', n1, t1, 2, 'nonempty', n2, t2, "
        "3, 'length', n3, t3, 4, 'lang', n4, t4, 5, 'dedup', n5, t5) "
        "AS (stage, gate, n_docs, n_tokens)"
    )


register(
    "q_filter_attrition",
    q_filter_attrition,
    f"""
    WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
    h AS (SELECT doc_id, text, toks,
                 {_marker_hits('de')} AS de_h, {_marker_hits('en')} AS en_h,
                 {_marker_hits('es')} AS es_h, {_marker_hits('fr')} AS fr_h,
                 COALESCE(len(toks), 0) AS n_tokens,
                 (text IS NOT NULL AND len(text) > 0) AS s2
          FROM t),
    f AS (SELECT *, (s2 AND n_tokens >= {MIN_TOKENS}) AS s3,
                 (s2 AND n_tokens >= {MIN_TOKENS}
                  AND de_h IS NOT NULL AND greatest(de_h, en_h, es_h, fr_h) > 0
                  AND de_h < greatest(de_h, en_h, es_h, fr_h)
                  AND en_h = greatest(de_h, en_h, es_h, fr_h)) AS s4,
                 CASE WHEN text IS NULL THEN NULL
                      ELSE md5(COALESCE(array_to_string(
                             list_sort(list_distinct(toks)), ' '), ''))
                 END AS fp
          FROM h),
    g AS (SELECT *, (s4 AND doc_id = MIN(CASE WHEN s4 THEN doc_id END)
                               OVER (PARTITION BY fp)) AS s5
          FROM f),
    agg AS (SELECT
        CAST(COUNT(*) AS BIGINT) AS n1, CAST(SUM(n_tokens) AS BIGINT) AS t1,
        CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN s2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
        CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        CAST(SUM(CASE WHEN s3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
        CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        CAST(SUM(CASE WHEN s4 THEN n_tokens ELSE 0 END) AS BIGINT) AS t4,
        CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
        CAST(SUM(CASE WHEN s5 THEN n_tokens ELSE 0 END) AS BIGINT) AS t5
      FROM g)
    SELECT 1 AS stage, 'raw' AS gate, n1 AS n_docs, t1 AS n_tokens FROM agg
    UNION ALL SELECT 2, 'nonempty', n2, t2 FROM agg
    UNION ALL SELECT 3, 'length', n3, t3 FROM agg
    UNION ALL SELECT 4, 'lang', n4, t4 FROM agg
    UNION ALL SELECT 5, 'dedup', n5, t5 FROM agg
    """,
)


BUCKET_WIDTH = 32   # token-length bucket granularity
BATCH_DOCS = 16     # docs per inference micro-batch


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed BATCH PLANNING — the vLLM/padded-batch shape:
    bucket documents by token length (width {BUCKET_WIDTH}), and per
    bucket report doc count, the bucket's max length, total real
    tokens, the padded token bill (every doc padded to the bucket max
    — the cost model of fixed-shape batching), and the number of
    {BATCH_DOCS}-doc micro-batches. All BIGINT-exact (no float
    ratios — the padding-waste division lands on rounding grids that
    split engines; consumers divide the two integer columns). One
    groupBy on a derived int key: a single shuffle, trivially
    skew-free (bucket cardinality = max_len / width)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__toks", TX.tokenize(F.col("text"))
    )
    d = docs.select(
        F.coalesce(F.size("__toks"), F.lit(0)).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    b = d.groupBy(
        F.floor(F.col("n_tokens") / BUCKET_WIDTH).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )
    return b.select(
        "bucket",
        "n_docs",
        "max_tokens",
        "sum_tokens",
        (F.col("n_docs") * F.col("max_tokens")).cast("bigint").alias(
            "padded_tokens"
        ),
        F.ceil(F.col("n_docs") / F.lit(BATCH_DOCS)).cast("bigint").alias(
            "n_batches"
        ),
    )


register(
    "q_length_buckets",
    q_length_buckets,
    f"""
    WITH t AS (SELECT COALESCE(len({_DUCK_TOKS}), 0) AS n_tokens
               FROM documents),
    d AS (SELECT n_tokens FROM t WHERE n_tokens > 0),
    b AS (SELECT CAST(n_tokens // {BUCKET_WIDTH} AS INT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
                 CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          FROM d GROUP BY 1)
    SELECT bucket, n_docs, max_tokens, sum_tokens,
           CAST(n_docs * max_tokens AS BIGINT) AS padded_tokens,
           CAST(CEIL(n_docs / {BATCH_DOCS}.0) AS BIGINT) AS n_batches
    FROM b
    """,
)


def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDTF surface (functions/udtfs.py — Spark 4 table
    functions): `chunk_text_udtf(doc_id, text)` invoked through a SQL
    LATERAL join produces the SAME chunks as the builtin
    explode+substring plan of q_chunk_docs, proving registration,
    lateral planning, and the rows-out Python boundary. Deliberately
    NOT the recommended plan (the builtin twin stays in whole-stage
    codegen; this one pays the Python row boundary) — it pins the
    declared escape surface, and the bench records its cost honestly.
    Oracle: identical to q_chunk_docs'."""
    from ..functions.udtfs import register_udtfs

    tune(spark)
    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__udtf_docs"
    )
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_id, c.chunk_text
        FROM __udtf_docs d,
             LATERAL chunk_text_udtf(d.doc_id, d.text) c
        """
    )


register(
    "q_udtf_chunks",
    q_udtf_chunks,
    """
    SELECT d.doc_id,
           CAST((t.pos - 1) // 150 AS INT) + 1 AS chunk_id,
           substr(d.text, t.pos, 200) AS chunk_text
    FROM documents d,
         unnest(generate_series(1, greatest(length(d.text), 1), 150)) t(pos)
    WHERE d.text IS NOT NULL AND length(d.text) > 0
    """,
)


def q_pack_nfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXT-FIT-DECREASING bin packing — the third packing strategy
    (vs q_pack_sequences' concat-and-chunk and q_pack_incremental):
    docs are NEVER split; within each salted-hash shard they sort by
    length desc (id tiebreak) and fill CTX={PACK_CTX} bins greedily,
    opening a new bin on overflow. The inner fold is a genuine
    sequential recurrence (the reset depends on the accumulated
    remainder — not prefix-sum expressible), so it runs as ONE
    `applyInPandas` per shard: the sanctioned grouped-map escape
    (SURVEY §2.12), parallelism = shard count, per-shard state O(1).
    Docs longer than CTX truncate to CTX for the census. Oracled via a
    RECURSIVE CTE that replays every shard's fold one item per
    iteration — all shards advance in lockstep, depth = max items per
    shard."""
    import pandas as pd

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    toks = (
        docs.select(
            "doc_id",
            h.alias("h"),
            F.least(
                TX.token_count_ws(F.col("text")).cast("bigint"),
                F.lit(PACK_CTX).cast("bigint"),
            ).alias("n"),
        )
        .filter(F.col("n") > 0)
        .withColumn("shard", (F.col("h") % PACK_SHARDS).cast("int"))
    )

    def nfd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["n", "doc_id"], ascending=[False, True], ignore_index=True
        )
        shard = int(pdf["shard"].iloc[0])
        rows = []
        b, rem, ndocs, ntok = -1, -1, 0, 0
        for n in pdf["n"]:
            n = int(n)
            if n > rem:
                if b >= 0:
                    rows.append((shard, b, ndocs, ntok))
                b, rem, ndocs, ntok = b + 1, PACK_CTX, 0, 0
            rem -= n
            ndocs += 1
            ntok += n
        if b >= 0:
            rows.append((shard, b, ndocs, ntok))
        return pd.DataFrame(
            rows, columns=["shard", "bin", "n_docs", "n_tokens"]
        )

    out = toks.groupBy("shard").applyInPandas(
        nfd, "shard int, bin bigint, n_docs bigint, n_tokens bigint"
    )
    return out.select(
        "shard",
        "bin",
        "n_docs",
        "n_tokens",
        (F.lit(PACK_CTX).cast("bigint") - F.col("n_tokens")).alias("padding"),
    )


register(
    "q_pack_nfd",
    q_pack_nfd,
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
             LEAST(CAST(len({_DUCK_TOKS}) AS BIGINT), {PACK_CTX}) AS n
      FROM documents),
    i AS (SELECT CAST(h % {PACK_SHARDS} AS INT) AS shard, doc_id, n,
                 ROW_NUMBER() OVER (PARTITION BY h % {PACK_SHARDS}
                                    ORDER BY n DESC, doc_id ASC) AS rn
          FROM t WHERE n > 0),
    fold AS (
      SELECT shard, rn, n, CAST(0 AS BIGINT) AS bin,
             CAST({PACK_CTX} - n AS BIGINT) AS rem
      FROM i WHERE rn = 1
      UNION ALL
      SELECT nxt.shard, nxt.rn, nxt.n,
             CASE WHEN nxt.n <= f.rem THEN f.bin ELSE f.bin + 1 END,
             CASE WHEN nxt.n <= f.rem THEN f.rem - nxt.n
                  ELSE CAST({PACK_CTX} - nxt.n AS BIGINT) END
      FROM fold f JOIN i nxt ON nxt.shard = f.shard AND nxt.rn = f.rn + 1)
    SELECT shard, bin, COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST({PACK_CTX} - SUM(n) AS BIGINT) AS padding
    FROM fold GROUP BY shard, bin
    """,
)
