"""Training-data quality & decontamination queries (BASELINE north
star; the published pipeline ops: n-gram decontamination à la
GPT-3/PaLM appendix C, PII redaction, and Gopher-style repetition
filtering — each as a pure Column-expression plan with a DuckDB
oracle).

Scale shapes:
- decontamination broadcasts the held-out side's distinct shingles
  (tiny: thousands of benchmark docs vs billions of training docs)
  against the exploded train-side shingle stream — zero train-side
  shuffle, the same layout as the published bloom-of-test-ngrams
  decontamination runs, never doc × doc. If the test side ever
  outgrew broadcast, fall back to a shuffle join on fixed-width
  hashed shingles.
- PII redaction and repetition scoring are narrow map-side passes;
  zero shuffles, scan-speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.text import shingles
from ..operators.partitioning import BROADCAST_BYTES, fan_out, fits_broadcast
from ..session import tune
from ..sources import load_table
from .queries import register

_DUCK_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
_DUCK_SH5 = (
    "list_transform(range(1, greatest(len(toks) - 3, 1)), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"
)
_DUCK_SH3 = (
    "list_transform(range(1, greatest(len(toks) - 1, 1)), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
)

TEST_SOURCE = "src0"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return fan_out(load_table(spark, sf_dir, "documents"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (source != src0) that
    share any 5-gram with the held-out set (source = src0), with the
    size of the overlap. Distinct shingles per doc BEFORE the join so
    a repeated phrase can't multiply the shuffle; the test side is
    BROADCAST — at 100 TB the held-out benchmark set is thousands of
    docs against billions, so the train-side shingle stream never
    shuffles (the same shape as the published bloom-of-test-ngrams
    decontamination runs). Only the contaminated survivors (a tiny
    fraction) hit the final doc_id aggregation exchange.

    Physical choices (20.3 s -> see BENCH for current): shingles are
    xxhash64'd to int64 INSIDE the per-doc array, so everything past
    the tokenizer — distinct, explode, broadcast hash table, join keys
    — moves 8-byte longs instead of ~40-byte strings (collision odds
    across train×test shingle pairs ~1e-10 at this corpus; at 100 TB
    pair counts, still < 1e-4 per run — below the sampling noise of any
    contamination report). The test side is pre-aggregated to ONE row
    per shingle carrying its collect_set of test docs, which turns the
    final per-doc aggregation from a two-countDistinct expand (2x row
    multiplication through the shuffle) into a plain count + one
    array-flatten distinct."""
    docs = _docs(spark, sf_dir)
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles(TX.tokenize(F.col("text")), 5), lambda s: F.xxhash64(s)
                )
            )
        ).alias("sh"),
    )
    test = (
        sh.filter(F.col("source") == TEST_SOURCE)
        .groupBy("sh")
        .agg(F.collect_set("doc_id").alias("test_docs"))
    )
    train = sh.filter(
        F.col("source").isNotNull() & (F.col("source") != TEST_SOURCE)
    )
    # one row per (train doc, matched shingle): train shingles are
    # distinct per doc and the test side is unique per shingle
    hits = train.join(F.broadcast(test), "sh")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared_ngrams"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("test_docs")))
        ).cast("long").alias("n_test_docs"),
    )


register(
    "q_decontaminate",
    q_decontaminate,
    f"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, unnest(list_distinct({_DUCK_SH5})) AS sh FROM t),
    test AS (SELECT sh, doc_id AS test_doc FROM sh WHERE source = '{TEST_SOURCE}'),
    train AS (SELECT doc_id, sh FROM sh
              WHERE source IS NOT NULL AND source <> '{TEST_SOURCE}')
    SELECT train.doc_id, COUNT(DISTINCT train.sh) AS n_shared_ngrams,
           COUNT(DISTINCT test.test_doc) AS n_test_docs
    FROM train JOIN test ON train.sh = test.sh
    GROUP BY train.doc_id
    """,
)


# Patterns kept to the Java-regex ∩ RE2 common subset so both engines
# compile them identically.
_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_LONGNUM = "[0-9][0-9][0-9]+"


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization before hashing/dedup — without it,
    NFC 'café' and NFD 'café' get different sha256s and near-dup
    pipelines silently miss pairs. Spark has no builtin that RETURNS a
    normalized string, so this is the sanctioned Arrow-vectorized UDF
    escape (functions/udfs.py::nfc_normalize, SURVEY §2.12); the
    DuckDB oracle replays it with its native nfc_normalize. The
    testdata is pure ASCII, so each text gets a decomposed suffix
    appended (e + COMBINING ACUTE) that NFC must compose — the changed
    flag proves the normalizer ran, not just passed bytes through.

    Scale shape: narrow map over the scan (one Python worker batch per
    Arrow chunk, no shuffle); at 100 TB this is scan-bound and the
    Arrow transfer is the known UDF tax (SURVEY §2.12's 'when you
    must' path)."""
    from ..functions.udfs import nfc_normalize

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    # 'e' + U+0301 (combining acute): NFC composes it to U+00E9
    decomposed = F.concat(F.col("text"), F.lit(" cafe\u0301"))
    # materialize the UDF output as a column FIRST: referencing the
    # expression twice would run the Python worker twice per row
    # (verified: 2 ArrowEvalPython nodes before this split, 1 after)
    staged = docs.select(
        "doc_id",
        F.length(decomposed).alias("__len_in"),
        nfc_normalize(decomposed).alias("text_nfc"),
    )
    return staged.select(
        "doc_id",
        "text_nfc",
        (F.length("text_nfc") < F.col("__len_in")).alias("changed"),
    )


register(
    "q_unicode_normalize",
    q_unicode_normalize,
    """
    SELECT doc_id,
           nfc_normalize(text || ' caf' || 'e' || chr(769)) AS text_nfc,
           length(nfc_normalize(text || ' caf' || 'e' || chr(769)))
             < length(text || ' caf' || 'e' || chr(769)) AS changed
    FROM documents
    """,
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count + redact emails and long digit runs.
    Result hashed (md5 of redacted text) so the gate proves the exact
    redacted bytes, not just the counts. Clean synthetic text redacts
    nothing; the adversarial junk fixture is where this earns its keep."""
    docs = _docs(spark, sf_dir)
    lower = F.lower(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(lower, _EMAIL, "<EMAIL>"), _LONGNUM, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(lower, F.lit(_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(lower, F.lit(_LONGNUM), F.lit(0))).alias("n_longnums"),
        F.md5(red).alias("redacted_md5"),
    )


register(
    "q_pii_redact",
    q_pii_redact,
    f"""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE CAST(len(regexp_extract_all(lower(text), '{_EMAIL}')) AS INT)
           END AS n_emails,
           CASE WHEN text IS NULL THEN NULL
                ELSE CAST(len(regexp_extract_all(lower(text), '{_LONGNUM}')) AS INT)
           END AS n_longnums,
           md5(regexp_replace(regexp_replace(lower(text), '{_EMAIL}', '<EMAIL>', 'g'),
                              '{_LONGNUM}', '<NUM>', 'g')) AS redacted_md5
    FROM documents
    """,
)


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: fraction of duplicate 3-grams per
    doc (1 - distinct/total); docs above threshold get flagged. NULL
    ratio (fewer than 3 tokens) flags 0 on both engines."""
    docs = _docs(spark, sf_dir)
    sh = shingles(TX.tokenize(F.col("text")), 3)
    n_total = F.size(sh)
    n_distinct = F.size(F.array_distinct(sh))
    ratio = F.round(
        F.lit(1.0) - F.try_divide(n_distinct * F.lit(1.0), n_total), 4
    )
    return docs.select(
        "doc_id",
        n_total.alias("n_shingles"),
        ratio.alias("dup_ratio"),
        F.when(ratio >= 0.2, F.lit(1)).otherwise(F.lit(0)).alias("flagged"),
    )


register(
    "q_repetition_filter",
    q_repetition_filter,
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {_DUCK_SH3} AS sh FROM t)
    SELECT doc_id,
           CAST(len(sh) AS INT) AS n_shingles,
           ROUND(1.0 - len(list_distinct(sh)) * 1.0 / nullif(len(sh), 0), 4) AS dup_ratio,
           CASE WHEN ROUND(1.0 - len(list_distinct(sh)) * 1.0 / nullif(len(sh), 0), 4) >= 0.2
                THEN 1 ELSE 0 END AS flagged
    FROM s
    """,
)


# --- unigram-LM perplexity scoring (CCNet-style quality signal) ---------------

# Perplexity-bucket thresholds, the stand-in for CCNet's offline
# percentile calibration (Wenzek et al. 2020 computes head/middle/tail
# cutoffs once on a held-out sample, then applies them as constants —
# exactly what literals are). Chosen inside the testdata's CE range
# (stable across SFs: median ~4.91, tail up to ~5.8) so every bucket
# is populated.
PPL_HEAD, PPL_TAIL = 4.95, 5.1


def q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under a corpus-trained unigram LM, with
    CCNet-style head/middle/tail quality buckets (arXiv:1911.00359
    uses a KenLM 5-gram; the unigram form keeps the exact same
    pipeline shape and is replayable in SQL).

    ce(doc) = log2(T) - mean(log2 c_tok) where c_tok is the corpus
    count of each token and T the total token count: low ce = the doc
    looks like the corpus (head), high ce = rare-token soup (tail).

    Determinism: per-token log2(c_tok) is rounded to 6dp and summed AS
    DECIMAL — an exact, order-independent integer sum, so the score
    cannot drift with partitioning (no float-summation-order hash
    risk). Physical shape at 100 TB: one explode pass; the LM
    "training" is a token-count groupBy partial-agg'd map-side (vocab-
    sized result); counts broadcast-join back onto the token stream
    (vocab tables up to ~100M rows shuffle-join instead — flip the
    hint); per-doc mean shuffles skinny (doc_id, dec) rows.
    """
    docs = _docs(spark, sf_dir)
    toks = (
        docs.select("doc_id", F.explode(TX.tokenize(F.col("text"))).alias("tok"))
        .localCheckpoint(eager=False)
    )
    lm = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = lm.agg(F.sum("c").alias("t"))
    scored = (
        toks.join(F.broadcast(lm), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.round(F.log2("c"), 6).cast("decimal(28,6)")).alias("s"),
        )
        .crossJoin(F.broadcast(total))
    )
    ce = F.round(
        F.round(F.log2("t"), 6) - F.col("s").cast("double") / F.col("n_tokens"), 4
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        ce.alias("ce"),
        F.when(ce < PPL_HEAD, "head")
        .when(ce < PPL_TAIL, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


register(
    "q_unigram_ppl",
    q_unigram_ppl,
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    lm AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM lm),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(CAST(ROUND(log2(c), 6) AS DECIMAL(28,6))) AS s
      FROM toks JOIN lm USING (tok) GROUP BY doc_id),
    ced AS (
      SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             ROUND(ROUND(log2(t), 6) - CAST(s AS DOUBLE) / n_tokens, 4) AS ce
      FROM scored, total)
    SELECT doc_id, n_tokens, ce,
           CASE WHEN ce < {PPL_HEAD} THEN 'head'
                WHEN ce < {PPL_TAIL} THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ced
    """,
)


# --- curriculum ordering (difficulty-staged training order) --------------------

CURR_SHARDS, CURR_SALT = 8, "curr1"


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: easy→hard training order from the
    unigram-LM difficulty signal (the q_unigram_ppl score — curriculum
    learning orders examples by a competence proxy; Bengio et al. 2009,
    and LM variants order by perplexity). Stage 1 = head (corpus-like),
    2 = middle, 3 = tail; WITHIN a stage the order is a reproducible
    salted-hash shuffle sharded CURR_SHARDS ways — the loader streams
    stage 1's shards (in parallel), then stage 2's, then 3's.

    Scale shape: the CE pass is q_unigram_ppl's (one explode, vocab
    broadcast, skinny per-doc shuffle); ordering adds ONE window
    partitioned by (stage, shard) — shards bound every sort frame at
    corpus/(stages×shards), so no global sort exists anywhere (the
    same trick as q_corpus_shuffle). Deterministic end to end: same
    corpus + salt → identical order on any partitioning."""
    docs = _docs(spark, sf_dir)
    toks = (
        docs.select("doc_id", F.explode(TX.tokenize(F.col("text"))).alias("tok"))
        .localCheckpoint(eager=False)
    )
    lm = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = lm.agg(F.sum("c").alias("t"))
    scored = (
        toks.join(F.broadcast(lm), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.round(F.log2("c"), 6).cast("decimal(28,6)")).alias("s"),
        )
        .crossJoin(F.broadcast(total))
    )
    ce = F.round(
        F.round(F.log2("t"), 6) - F.col("s").cast("double") / F.col("n_tokens"), 4
    )
    staged = scored.select(
        "doc_id",
        ce.alias("ce"),
        F.when(ce < PPL_HEAD, 1).when(ce < PPL_TAIL, 2).otherwise(3).alias("stage"),
        F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(CURR_SALT))).alias(
            "__h"
        ),
    )
    shard = (
        F.conv(F.substring(F.col("__h"), 1, 8), 16, 10).cast("long") % CURR_SHARDS
    ).cast("int")
    from pyspark.sql import Window

    w = Window.partitionBy("stage", "shard").orderBy("__h", "doc_id")
    return (
        staged.withColumn("shard", shard)
        .select(
            "doc_id",
            "ce",
            "stage",
            "shard",
            F.row_number().over(w).alias("pos"),
        )
    )


register(
    "q_curriculum_order",
    q_curriculum_order,
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    lm AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM lm),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(CAST(ROUND(log2(c), 6) AS DECIMAL(28,6))) AS s
      FROM toks JOIN lm USING (tok) GROUP BY doc_id),
    staged AS (
      SELECT doc_id,
             ROUND(ROUND(log2(t), 6) - CAST(s AS DOUBLE) / n_tokens, 4) AS ce,
             md5(concat_ws('|', CAST(doc_id AS VARCHAR), '{CURR_SALT}')) AS h
      FROM scored, total),
    st AS (
      SELECT doc_id, ce,
             CASE WHEN ce < {PPL_HEAD} THEN 1
                  WHEN ce < {PPL_TAIL} THEN 2 ELSE 3 END AS stage,
             h,
             CAST(CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % {CURR_SHARDS} AS INT) AS shard
      FROM staged)
    SELECT doc_id, ce, stage, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY stage, shard
                                   ORDER BY h, doc_id) AS INT) AS pos
    FROM st
    """,
)


# --- linear hashed-BoW quality classifier (fastText-style inference) ----------

CLS_BUCKETS = 64
CLS_BIAS = -0.15


def _cls_weights() -> list[float]:
    """Deterministic stand-in for offline-trained classifier weights
    (a fastText / logistic-regression doc-quality model ships as a
    plain weight vector; training happens off-cluster). md5-mixed so
    they are reproducible anywhere, including inside the oracle SQL."""
    import hashlib

    out = []
    for b in range(CLS_BUCKETS):
        d = hashlib.md5(f"qw|{b}".encode()).digest()
        out.append(round(int.from_bytes(d[:4], "big") / 2**32 - 0.5, 6))
    return out


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear classifier inference over hashed bag-of-words features —
    the quality-model scoring pass every curated-corpus pipeline runs
    (fastText classifiers in GPT-3/LLaMA data work; arXiv:2005.14165
    App. A). score = sigmoid(bias + sum_b tf_b * w_b) with tf_b =
    count_b / n_tokens over CLS_BUCKETS md5-hashed buckets.

    Determinism: the dot product accumulates ROUND(cnt * w_b, 6) AS
    DECIMAL (exact, order-free) and divides by n_tokens once; only the
    final sigmoid is float, rounded to 4dp. Physical shape: explode ->
    map-side combined (doc, bucket) counts -> 64-row broadcast weight
    join -> per-doc sum. One corpus scan, one skinny shuffle; the
    model is a literal — inference adds NO distributed state at any
    scale."""
    docs = _docs(spark, sf_dir)
    w = _cls_weights()
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % CLS_BUCKETS
    ).cast("int")
    wmap = F.create_map(*[F.lit(x) for b, wt in enumerate(w) for x in (b, wt)])
    per_bucket = (
        docs.select("doc_id", F.explode(TX.tokenize(F.col("text"))).alias("tok"))
        .select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("cnt"))
    )
    scored = per_bucket.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.round(F.col("cnt") * wmap[F.col("b")], 6).cast("decimal(28,6)")).alias("dot"),
    )
    z = F.lit(CLS_BIAS) + F.col("dot").cast("double") / F.col("n_tokens")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        score.alias("quality_score"),
        (score >= 0.5).cast("int").alias("keep"),
    )


def _cls_oracle() -> str:
    w_rows = ", ".join(f"({b}, {wt})" for b, wt in enumerate(_cls_weights()))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    b AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
                  % {CLS_BUCKETS} AS INT) AS b
      FROM toks),
    pb AS (SELECT doc_id, b, COUNT(*) AS cnt FROM b GROUP BY doc_id, b),
    w AS (SELECT * FROM (VALUES {w_rows}) AS t(b, wt)),
    scored AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             SUM(CAST(ROUND(cnt * wt, 6) AS DECIMAL(28,6))) AS dot
      FROM pb JOIN w USING (b) GROUP BY doc_id),
    z AS (
      SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             ROUND(1.0 / (1.0 + exp(-({CLS_BIAS} + CAST(dot AS DOUBLE) / n_tokens))), 4)
               AS quality_score
      FROM scored)
    SELECT doc_id, n_tokens, quality_score,
           CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END AS keep
    FROM z
    """


register("q_quality_classifier", q_quality_classifier, _cls_oracle())


BLOOM_BITS, BLOOM_K = 1 << 17, 3  # 128k bits / ~30k shingles -> ~1% fp


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase decontamination: a Bloom filter over the held-out
    shingle set prefilters the train-side stream map-side, then the
    exact hash join verifies survivors — the published
    "bloom of test n-grams" shape. False positives only cost verify
    work, never precision, so the RESULT (and the oracle) is identical
    to q_decontaminate's exact join.

    The bloom ships as a literal long[] bitset (2048 words = 16 KB —
    at 100 TB this is the file-sized artifact a decontamination run
    distributes with the job). Build and probe positions come from the
    SAME Spark expression, pmod(xxhash64(sh, seed_i), m), so there is
    no cross-language hash to keep in sync; the build collects only
    bit POSITIONS (bounded by k x |held-out shingles| — the side that
    is small by premise). Phase 1 is a pure narrow filter: no shuffle,
    no join, evaluated at the scan."""
    docs = _docs(spark, sf_dir)
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles(TX.tokenize(F.col("text")), 5), lambda s: F.xxhash64(s)
                )
            )
        ).alias("sh"),
    )
    test = (
        sh.filter(F.col("source") == TEST_SOURCE)
        .groupBy("sh")
        .agg(F.collect_set("doc_id").alias("test_docs"))
        .localCheckpoint(eager=False)  # bloom build AND verify join read it
    )

    def probe(col, i):
        return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(BLOOM_BITS))

    positions = (
        test.select(
            F.explode(F.array(*[probe(F.col("sh"), i) for i in range(BLOOM_K)])).alias("p")
        )
        .distinct()
        .collect()
    )
    # 63 usable bits per word keeps every word non-negative, so the
    # probe can extract a bit with exact integer math (div by a
    # power-of-two literal) — PySpark's shift functions only take
    # Python-int shift amounts, not columns.
    n_words = (BLOOM_BITS + 62) // 63
    words = [0] * n_words
    for r in positions:
        p = int(r["p"])
        words[p // 63] |= 1 << (p % 63)
    # ONE parsed expression, not 2048 F.lit Py4J round-trips (measured
    # 6.4 s of pure driver time per query build for the element-wise
    # form; the parsed string is ~10 ms and constant-folds identically)
    bitset = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
    train = sh.filter(
        F.col("source").isNotNull() & (F.col("source") != TEST_SOURCE)
    ).withColumn("__bf", bitset)
    # each probe position computed ONCE (the bit extract reads it twice:
    # word index and in-word offset — recomputing xxhash64 inline doubled
    # the per-shingle hash work)
    for i in range(BLOOM_K):
        train = train.withColumn(f"__p{i}", probe(F.col("sh"), i))
    hit = None
    for i in range(BLOOM_K):
        bit = F.expr(
            f"(element_at(__bf, CAST(__p{i} DIV 63 AS INT) + 1)"
            f" DIV CAST(pow(2, __p{i} % 63) AS BIGINT)) % 2 = 1"
        )
        hit = bit if hit is None else (hit & bit)
    # phase 1: narrow map-side prefilter
    train = train.filter(hit).drop("__bf", *[f"__p{i}" for i in range(BLOOM_K)])
    hits = train.join(F.broadcast(test), "sh")  # phase 2: exact verify
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared_ngrams"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("test_docs")))
        ).cast("long").alias("n_test_docs"),
    )


register(
    "q_decontaminate_bloom",
    q_decontaminate_bloom,
    # identical output to the exact join -> identical oracle
    f"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, unnest(list_distinct({_DUCK_SH5})) AS sh FROM t),
    test AS (SELECT sh, doc_id AS test_doc FROM sh WHERE source = '{TEST_SOURCE}'),
    train AS (SELECT doc_id, sh FROM sh
              WHERE source IS NOT NULL AND source <> '{TEST_SOURCE}')
    SELECT train.doc_id, COUNT(DISTINCT train.sh) AS n_shared_ngrams,
           COUNT(DISTINCT test.test_doc) AS n_test_docs
    FROM train JOIN test ON train.sh = test.sh
    GROUP BY train.doc_id
    """,
)


def q_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under a corpus-trained BIGRAM LM with
    add-one smoothing — the n-gram-context step up from q_unigram_ppl
    toward the CCNet KenLM filter (arXiv:1911.00359): repeated-phrase
    soup that unigram ce scores as "head" (common tokens) surfaces here
    because its CONTEXTS are unusual.

    p(w|h) = (c(h,w) + 1) / (c(h) + V), all exact integers, so the
    per-position log2 is the same deterministic shape the unigram query
    pinned: round to 6dp, sum AS DECIMAL (order-independent), divide
    once at the end. Physical shape at 100 TB: bigram extraction is a
    narrow arrays_zip over the token array (no Python); LM training is
    one partial-agg'd groupBy per order (bigram table ~O(vocab²)
    bounded by corpus, unigram vocab-sized); counts join back onto the
    bigram stream through a SIZE GUARD, not a hardcoded hint: both
    count tables are strictly smaller than the corpus text they
    aggregate, so when Catalyst's estimate of the text scan fits the
    broadcast budget they broadcast, and past it they degrade to
    shuffle joins (AQE still converts back at runtime if the actual
    agg output is small) — no human flips anything at 100×; the
    per-doc mean shuffles skinny rows."""
    return _bigram_ppl_plan(spark, sf_dir)


def _bigram_ppl_plan(
    spark: SparkSession, sf_dir: str, broadcast_cap: int = BROADCAST_BYTES
) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # upper bound for BOTH count tables: each aggregates the bigram
    # stream, whose bytes are bounded by the text scan (the lazy
    # localCheckpoint below erases plan stats, so the guard reads the
    # PRE-checkpoint scan estimate — the sound side of the proxy)
    corpus_fits = fits_broadcast(docs.select("text"), broadcast_cap)

    def guarded(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if corpus_fits else df
    # pin the TOKENIZED arrays once: the bigram stream and the vocab
    # count both consume them, and un-pinned the regexp tokenization of
    # the whole corpus executed twice (r12, guide §2.4)
    tokd = docs.select(
        "doc_id", TX.tokenize(F.col("text")).alias("__ts")
    ).localCheckpoint(eager=False)
    ts = F.col("__ts")
    pairs = tokd.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))).alias("h"),
                F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))).alias("w"),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.h").alias("h"), F.col("b.w").alias("w"))
    pairs = pairs.localCheckpoint(eager=False)
    # bi pinned: both its consumers (the derived context table and the
    # probe-side count join) otherwise re-aggregate the corpus-positions
    # pair cache — measured 0.90x with the pin (1.46 s -> 1.31 s
    # isolated sf0.1, results bit-identical) — r12, guide §2.4
    bi = pairs.groupBy("h", "w").agg(F.count("*").alias("cb"))
    bi = bi.localCheckpoint(eager=False)
    # the context table derives from the vocabulary-sized bigram table
    # (sum of per-(h,w) counts == count per h), not from a second
    # aggregation pass over the O(corpus positions) pair stream — the
    # same lower-order-from-higher-order derivation q_trigram_ppl uses
    # (r12, guide §2.3: shuffle fewer bytes / reuse partials)
    uni = bi.groupBy("h").agg(F.sum("cb").alias("ch"))
    vocab = (
        tokd.select(F.explode(ts).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    lp = F.round(
        F.log2((F.col("cb") + 1) / (F.col("ch") + F.col("v"))), 6
    ).cast("decimal(28,6)")
    scored = (
        pairs.join(guarded(bi), ["h", "w"])
        .join(guarded(uni), "h")
        # vocab is a 1-row global aggregate — bounded by construction,
        # always broadcast
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum(lp).alias("s"))
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        F.round(-F.col("s").cast("double") / F.col("n_bigrams"), 4).alias("ce"),
    )


register(
    "q_bigram_ppl",
    q_bigram_ppl,
    f"""
    WITH arr AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    pairs AS (
      SELECT doc_id, b.h AS h, b.w AS w FROM (
        SELECT doc_id,
               unnest(CASE WHEN ts IS NULL OR len(ts) < 2 THEN []
                           ELSE list_transform(range(1, len(ts)),
                                i -> struct_pack(h := ts[i], w := ts[i+1]))
                      END) AS b
        FROM arr)),
    uni AS (SELECT h, COUNT(*) AS ch FROM pairs GROUP BY h),
    bi AS (SELECT h, w, COUNT(*) AS cb FROM pairs GROUP BY h, w),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v
              FROM (SELECT unnest(ts) AS tok FROM arr)),
    scored AS (
      SELECT p.doc_id, COUNT(*) AS n_bigrams,
             SUM(CAST(ROUND(log2((bi.cb + 1) / (uni.ch + vocab.v)), 6)
                      AS DECIMAL(28,6))) AS s
      FROM pairs p
      JOIN bi ON p.h = bi.h AND p.w = bi.w
      JOIN uni ON p.h = uni.h
      CROSS JOIN vocab
      GROUP BY p.doc_id)
    SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
           ROUND(-CAST(s AS DOUBLE) / n_bigrams, 4) AS ce
    FROM scored
    """,
)


def q_trigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under an INTERPOLATED trigram LM —
    the KenLM-shaped quality filter (CCNet, arXiv:1911.00359, scores
    with a 5-gram LM; fixed-weight interpolation of orders 3/2/1 is
    the classical Jelinek-Mercer form of the same idea and keeps the
    whole path SQL-replayable): p(w|h1,h2) = 0.6*p3 + 0.3*p2 + 0.1*p1,
    each order add-one smoothed over exact integer counts.

    Determinism: every term is a single IEEE division of exact
    integers, the interpolation is a fixed-order multiply-add chain —
    both engines compute bit-identical doubles; per-position log2
    rounds to 6dp and sums AS DECIMAL (order-independent).

    Physical shape at 100 TB: ONE explode pass feeds all three count
    tables (map-side partial aggs, trigram table bounded by corpus);
    counts join back through the same size guard as q_bigram_ppl
    (broadcast while the corpus scan estimate fits, shuffle past it);
    the per-doc mean shuffles skinny rows."""
    return _trigram_ppl_plan(spark, sf_dir)


def _trigram_ppl_plan(
    spark: SparkSession, sf_dir: str, broadcast_cap: int = BROADCAST_BYTES
) -> DataFrame:
    docs = _docs(spark, sf_dir)
    corpus_fits = fits_broadcast(docs.select("text"), broadcast_cap)

    def guarded(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if corpus_fits else df

    # pin the TOKENIZED arrays once: the trigram stream and the unigram
    # token stream both consume them, and un-pinned the regexp
    # tokenization of the whole corpus executed twice (r12, guide §2.4;
    # the two derived explodes below are cheap reads of cached arrays)
    tokd = docs.select(
        "doc_id", TX.tokenize(F.col("text")).alias("__ts")
    ).localCheckpoint(eager=False)
    ts = F.col("__ts")
    n = F.size(ts)
    tri = tokd.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(ts, 1, F.greatest(n - 2, F.lit(0))).alias("h1"),
                F.slice(ts, 2, F.greatest(n - 2, F.lit(0))).alias("h2"),
                F.slice(ts, 3, F.greatest(n - 2, F.lit(0))).alias("w"),
            )
        ).alias("g"),
    ).select(
        "doc_id",
        F.col("g.h1").alias("h1"),
        F.col("g.h2").alias("h2"),
        F.col("g.w").alias("w"),
    )
    tri = tri.localCheckpoint(eager=False)
    # no checkpoint on toks: c1 is its ONLY pass (tot derives from c1
    # below — r12), so there is nothing to share
    toks = tokd.select(F.explode(ts).alias("tok"))
    # the trigram stream is aggregated EXACTLY ONCE (c3); every
    # lower-order table derives from c3 by re-summing the counts
    # (vocabulary-sized frames), and the stream takes 3 count joins
    # instead of 5 — no second pass over O(corpus positions) anywhere.
    # c3 IS pinned: the "ReusedExchange dedups it" assumption measured
    # false — the executed plan carried four independent c3 aggregation
    # towers over the tri cache (plans/r12/q_trigram_ppl, zero
    # ReusedExchange nodes), and pinning the vocabulary-sized c3 ran
    # 0.78x (2.68 s -> 2.10 s isolated sf0.1, results bit-identical) —
    # r12, guide §2.4 (don't recompute shared subtrees)
    c3 = tri.groupBy("h1", "h2", "w").agg(F.count("*").alias("c3"))
    c3 = c3.localCheckpoint(eager=False)
    ctx3 = c3.groupBy("h1", "h2").agg(F.sum("c3").alias("cc3"))
    c3e = c3.join(ctx3, ["h1", "h2"])
    c2 = c3.groupBy("h2", "w").agg(F.sum("c3").alias("c2"))
    ctx2 = c2.groupBy("h2").agg(F.sum("c2").alias("cc2"))
    c2e = c2.join(ctx2, "h2")
    c1 = toks.groupBy("tok").agg(F.count("*").alias("c1"))
    # tot derives from the vocabulary-sized c1 (sum of counts == token
    # total, non-null group count == distinct tokens) instead of a
    # second aggregation pass over the O(corpus positions) token
    # stream — r12, guide §2.3 (shuffle fewer bytes / reuse partials)
    tot = c1.agg(F.sum("c1").alias("t"), F.count("tok").alias("v"))
    p3 = (F.col("c3") + 1) / (F.col("cc3") + F.col("v"))
    p2 = (F.col("c2") + 1) / (F.col("cc2") + F.col("v"))
    p1 = (F.col("c1") + 1) / (F.col("t") + F.col("v"))
    lp = F.round(
        F.log2(F.lit(0.6) * p3 + F.lit(0.3) * p2 + F.lit(0.1) * p1), 6
    ).cast("decimal(28,6)")
    scored = (
        tri.join(guarded(c3e), ["h1", "h2", "w"])
        .join(guarded(c2e), ["h2", "w"])
        .join(guarded(c1), F.col("w") == F.col("tok"))
        .crossJoin(F.broadcast(tot))  # 1-row global: bounded by construction
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_trigrams"), F.sum(lp).alias("s"))
    )
    return scored.select(
        "doc_id",
        F.col("n_trigrams").cast("int").alias("n_trigrams"),
        F.round(-F.col("s").cast("double") / F.col("n_trigrams"), 4).alias("ce"),
    )


register(
    "q_trigram_ppl",
    q_trigram_ppl,
    f"""
    WITH arr AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    -- MATERIALIZED: inlined, DuckDB re-expands this CTE into each of
    -- its five join references and the planner degenerates (minutes
    -- instead of 0.1 s at sf0.001)
    tri AS MATERIALIZED (
      SELECT doc_id, g.h1 AS h1, g.h2 AS h2, g.w AS w FROM (
        SELECT doc_id,
               unnest(CASE WHEN ts IS NULL OR len(ts) < 3 THEN []
                           ELSE list_transform(range(1, len(ts) - 1),
                                i -> struct_pack(h1 := ts[i], h2 := ts[i+1],
                                                 w := ts[i+2]))
                      END) AS g
        FROM arr)),
    c3 AS (SELECT h1, h2, w, COUNT(*) AS c3 FROM tri GROUP BY h1, h2, w),
    ctx3 AS (SELECT h1, h2, COUNT(*) AS cc3 FROM tri GROUP BY h1, h2),
    c2 AS (SELECT h2, w, COUNT(*) AS c2 FROM tri GROUP BY h2, w),
    ctx2 AS (SELECT h2, COUNT(*) AS cc2 FROM tri GROUP BY h2),
    toks AS (SELECT unnest(ts) AS tok FROM arr),
    c1 AS (SELECT tok, COUNT(*) AS c1 FROM toks GROUP BY tok),
    tot AS (SELECT COUNT(*) AS t, COUNT(DISTINCT tok) AS v FROM toks),
    scored AS (
      SELECT tri.doc_id, COUNT(*) AS n_trigrams,
             SUM(CAST(ROUND(log2(
                   0.6 * ((c3.c3 + 1) / (ctx3.cc3 + tot.v))
                   + 0.3 * ((c2.c2 + 1) / (ctx2.cc2 + tot.v))
                   + 0.1 * ((c1.c1 + 1) / (tot.t + tot.v))), 6)
                 AS DECIMAL(28,6))) AS s
      FROM tri
      JOIN c3 ON tri.h1 = c3.h1 AND tri.h2 = c3.h2 AND tri.w = c3.w
      JOIN ctx3 ON tri.h1 = ctx3.h1 AND tri.h2 = ctx3.h2
      JOIN c2 ON tri.h2 = c2.h2 AND tri.w = c2.w
      JOIN ctx2 ON tri.h2 = ctx2.h2
      JOIN c1 ON tri.w = c1.tok
      CROSS JOIN tot
      GROUP BY tri.doc_id)
    SELECT doc_id, CAST(n_trigrams AS INT) AS n_trigrams,
           ROUND(-CAST(s AS DOUBLE) / n_trigrams, 4) AS ce
    FROM scored
    """,
)
