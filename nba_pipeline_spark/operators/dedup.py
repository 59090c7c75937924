"""Deduplication operators for training-data pipelines (SURVEY.md §2.10
X6; BASELINE north star).

Five tiers, cheapest first — at 100 TB you run them in this order and
each tier prunes the candidate space for the next:

1. exact         — sha256(normalized text) groupBy. One shuffle on a
                   32-byte key; AQE handles skew from boilerplate docs.
2. fingerprint   — sha over the sorted distinct token SET (word-order /
                   duplication invariant canonical form).
3. minhash LSH   — per-row signatures (NO shuffle to build: array
                   higher-order fns), banded into buckets, candidate
                   pairs from an equi-join on (band, sig). Shuffle
                   volume = O(docs × bands), never O(docs²).
4. simhash       — 16-bit portable simhash fingerprint; near-dups share
                   buckets under Hamming distance (pair generation via
                   bit-rotation buckets, same equi-join trick).
5. ngram jaccard / embedding cosine — exact verification of candidate
   pairs, run ONLY inside blocks (lang/source or LSH bucket / label) so
   the quadratic term is bounded by block size.

The md5-based hash functions are engine-portable on purpose: the DuckDB
oracles replay the identical algorithm, so correctness is provable, and
md5 min-hashing (lexicographic min over hex strings) is a valid uniform
min-hash family.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles, tokenize
from ..functions.vectors import (
    dot,
    dot_fixed,
    dot_sql,
    norm,
    sql_ident,
    to_double_array,
)
from .partitioning import fan_out

HEX = "0123456789abcdef"


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Tier 1: groups of byte-identical (after lowercase) texts.
    Returns (keep_id, n_dupes) per duplicate group — keep the min id."""
    h = F.sha2(F.lower(F.col(text_col)), 256)
    return (
        df.groupBy(h.alias("__h"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
        .drop("__h")
    )


def fingerprint_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Tier 2: same token SET (order/multiplicity-invariant). Uses the
    shared canonical-fingerprint expression so q_fingerprint and this
    operator can never drift apart."""
    from ..functions.text import fingerprint

    fp = fingerprint(F.col(text_col))
    return (
        df.groupBy(fp.alias("fp"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
    )


def with_minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    shingle_n: int = 3,
    carry_cols: Sequence[str] = (),
    keep_shingles: bool = False,
) -> DataFrame:
    """(id, mh0..mhk) — per-row minhash signature, one column per seed.

    min over shingles of md5(seed || '|' || shingle) — computed entirely
    with array higher-order functions: building signatures is a narrow
    map over the scan, zero shuffle, regardless of corpus size.
    Docs with < shingle_n tokens get NULL signatures (excluded later).

    PERF: tokens and shingles are materialized as real columns before
    the per-seed transforms. Lambda bodies that reference a non-attribute
    expression re-evaluate it per array element (interpreted, outside
    codegen) — with tokenize() inlined this was O(tokens²) per doc and
    15× slower at sf0.1.
    """

    def seeded(seed: int):
        # NB: must be a 1-arg lambda — a 2-arg lambda makes F.transform
        # pass the array index as the second argument.
        return lambda x: F.md5(F.concat(F.lit(f"{seed}|"), x))

    carry = list(carry_cols)
    staged = df.select(
        F.col(id_col), *carry, tokenize(F.col(text_col)).alias("__toks")
    ).select(id_col, *carry, shingles(F.col("__toks"), shingle_n).alias("__sh"))
    # keep_shingles carries the raw shingle array through (column
    # "__sh") so a caller that ALSO needs exact shingle sets (fuzzy
    # decontamination's jaccard verify) shares this one tokenize+
    # shingle pass instead of re-running it over the corpus (r13,
    # guide §2.4)
    tail = [F.col("__sh")] if keep_shingles else []
    return staged.select(
        id_col,
        *carry,
        *[F.array_min(F.transform(F.col("__sh"), seeded(s))).alias(f"mh{s}") for s in range(n_hashes)],
        *tail,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    band_rows: int = 2,
    max_bucket: int | None = 1000,
    observation=None,
) -> DataFrame:
    """Tier 3: banded LSH candidate pairs (id_a < id_b, distinct).

    Signature -> b bands of r hashes; docs sharing any band signature are
    candidates. Tune (n_hashes, band_rows) for the target jaccard
    threshold t ≈ (1/b)^(1/r).

    Physical shape (matters at 100 TB): signatures and (band, sig) rows
    are produced in ONE narrow pass over the scan — posexplode of an
    in-row band array, not a union of b branches each re-reading the
    corpus, and no bands⋈bands self-join re-scanning both sides (the
    first version did both: 56 s at sf0.1; this one ~3 s). `fan_out`
    spreads a single-row-group scan across cores before the signature
    projection (no-op on real multi-partition scans). The only other
    shuffle is the groupBy(band, sig); candidate pairs are generated
    row-locally inside each bucket, so total work is
    O(docs × bands + Σ bucket²) with near-dup-sized buckets — never
    O(docs²). Pathologically hot buckets (boilerplate: one cluster of m
    near-identical docs puts m ids in one bucket row, whose pair array
    is m² structs — a row-size blowup at corpus scale) are DROPPED when
    they exceed ``max_bucket`` ids; tier-1/tier-2 exact dedup upstream
    already collapses byte-identical boilerplate, so a hot bucket here
    is template noise, not signal. Drops are observable: pass a
    ``pyspark.sql.Observation`` as ``observation`` (metrics
    ``hot_buckets_dropped`` / ``docs_in_dropped_buckets`` after the
    first action); a named observe is attached otherwise so the drop
    counts land in the Spark UI / QueryExecution metrics regardless.
    ``max_bucket=None`` disables the cap (oracle-exact replay).
    Caveat: if the cap empties the bucket frame entirely, AQE's
    empty-relation propagation elides the metrics node and
    ``Observation.get`` raises — treat a missing observation on an
    empty result as "every bucket was dropped".

    The signature frame is PINNED (localCheckpoint): Catalyst's
    CollapseProject re-inlines the md5-min signature expressions into
    the Generate and the downstream shuffle map stages, evaluating each
    signature several times per row (measured 18.8 s -> 4.9 s at sf0.1
    for the full pair pipeline). The pinned frame is tiny relative to
    the corpus — O(docs × n_hashes × 32 B), the same signature table a
    100 TB run would persist anyway before banding.
    """
    sigs = with_minhash_signatures(
        fan_out(df), text_col, id_col, n_hashes
    ).localCheckpoint(eager=False)
    n_bands = n_hashes // band_rows
    # Null-propagating concat: a doc with no shingles gets NULL band sigs,
    # filtered AFTER the generate on the cheap attribute — filtering on
    # mh0 before it would reference the expensive expression twice and
    # make the optimizer re-evaluate the whole signature per reference.
    band_arr = F.array(
        *[
            F.concat(*[F.col(f"mh{b * band_rows + r}") for r in range(band_rows)])
            for b in range(n_bands)
        ]
    )
    bands = sigs.select(F.col(id_col), F.posexplode(band_arr).alias("band", "sig")).filter(
        F.col("sig").isNotNull()
    )
    buckets = (
        bands.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        hot = F.size("ids") > max_bucket
        metrics = (
            F.coalesce(F.sum(F.when(hot, 1)), F.lit(0)).alias("hot_buckets_dropped"),
            F.coalesce(F.sum(F.when(hot, F.size("ids"))), F.lit(0)).alias(
                "docs_in_dropped_buckets"
            ),
        )
        if observation is not None:
            buckets = buckets.observe(observation, *metrics)
        else:
            buckets = buckets.observe("minhash_lsh_bucket_cap", *metrics)
        buckets = buckets.filter(~hot)
    # all (i < j) pairs within a bucket, generated row-locally
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda a: F.transform(
                    F.col("ids"), lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))
                ),
            )
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs_incremental(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_new_col: str,
    n_hashes: int = 8,
    band_rows: int = 2,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Tier 3, incremental ingest form: candidate pairs that TOUCH the
    new batch — (new, new) and (new, old) pairs, never (old, old).

    This is how dedup actually runs on a growing corpus: the banded
    bucket structure is the same as ``minhash_lsh_pairs``, but

    - buckets whose members are all OLD are dropped BEFORE pair
      generation (one `max` per bucket — the corpus-side work is a
      bucket-key groupBy, no pair ever materializes for settled data);
    - within a mixed bucket, row-local pair generation keeps only
      pairs with a new member, so pair output is O(batch × bucket),
      not O(bucket²).

    At 100 TB the old side's signatures are not recomputed either:
    they are the persisted signature table every run already writes
    (`with_minhash_signatures` output partitioned by band in the
    lake), so an ingest batch costs signatures-of-batch + one bucket
    join against stored buckets. Here both sides derive from one
    `documents` scan (the testdata has no persisted sig table), which
    demonstrates the PLAN; the docstring contract is the storage.
    """
    flag = F.col(is_new_col).cast("boolean")
    sigs = with_minhash_signatures(
        fan_out(df.withColumn("__new", flag)), text_col, id_col, n_hashes,
        carry_cols=["__new"],
    ).localCheckpoint(eager=False)
    return _mixed_bucket_pairs(sigs, id_col, n_hashes, band_rows, max_bucket)


def minhash_lsh_pairs_from_signatures(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    old_sigs: DataFrame,
    n_hashes: int = 8,
    band_rows: int = 2,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Tier 3 incremental ingest against a PERSISTED signature table —
    the storage contract ``minhash_lsh_pairs_incremental`` documents,
    made literal: the settled corpus arrives as `old_sigs` (the
    ``with_minhash_signatures`` output a previous run wrote to the
    lake, read back as (id, mh0..mhk)), so an ingest batch costs
    signatures-of-batch + one bucket groupBy — the old side is never
    re-read as text, never re-tokenized, never re-hashed. Produces
    exactly the pairs ``minhash_lsh_pairs_incremental`` produces when
    both sides are recomputed from text (pinned by the lake round-trip
    test in tests/test_dedup_similarity.py)."""
    new_sigs = with_minhash_signatures(
        fan_out(new_df), text_col, id_col, n_hashes
    ).withColumn("__new", F.lit(True))
    sig_cols = [f"mh{s}" for s in range(n_hashes)]
    old = old_sigs.select(
        F.col(id_col), *[F.col(c) for c in sig_cols]
    ).withColumn("__new", F.lit(False))
    sigs = new_sigs.select(id_col, *sig_cols, "__new").unionByName(old)
    return _mixed_bucket_pairs(
        sigs.localCheckpoint(eager=False), id_col, n_hashes, band_rows, max_bucket
    )


def fuzzy_decontaminate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_col: str,
    threshold: float,
    n_hashes: int = 8,
    band_rows: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Fuzzy (near-duplicate) decontamination: train docs whose 3-gram
    jaccard against ANY eval doc clears `threshold` — the companion to
    exact n-gram decontamination (plans/quality_queries.py): exact
    overlap misses paraphrased/reformatted leakage; published pipelines
    (GPT-3 appendix C, FLAN) therefore also strip fuzzy matches.

    Shape: ONE signature pass over train ∪ eval (the eval set rides the
    same scan, flagged by `eval_col`); banding keeps only MIXED buckets
    (an all-train or all-eval bucket can't produce a contamination
    pair — skipped before the row-local pair explode, so at 100 TB the
    train-side quadratic term never materializes); candidates are
    verified with exact jaccard via two id equi-joins (the
    `lsh_verified_jaccard_pairs` back half). Returns
    (id_a < id_b, jaccard) with exactly one eval side per pair; the
    caller orients train/eval.

    Behaviour change: the minhash signatures are built from the same
    `shingle_n`-grams as the jaccard verify. Earlier versions always
    signed 3-grams, so for ``shingle_n != 3`` the LSH candidate recall,
    and with it the returned pairs, differ from those versions. The
    default (3) is unchanged.
    """
    flag = F.col(eval_col).cast("boolean")
    # ONE tokenize+shingle pass feeds both the banded signatures and
    # the exact-jaccard shingle sets (r13, guide §2.4): un-shared, the
    # corpus was tokenized and shingled TWICE — once for the signature
    # pin, once for the verify pin. The single pin carries (id, flag,
    # mh*, __sh); banding projects the signature columns, the verify
    # join projects the distinct shingle sets, both from the same
    # cached blocks — bit-identical inputs by construction.
    sigs = with_minhash_signatures(
        fan_out(df.withColumn("__new", flag)), text_col, id_col, n_hashes,
        shingle_n=shingle_n, carry_cols=["__new"], keep_shingles=True,
    ).localCheckpoint(eager=False)
    cand = _mixed_bucket_pairs(
        sigs.drop("__sh"), id_col, n_hashes, band_rows, max_bucket,
        cross_only=True,
    )
    docs = sigs.select(
        id_col, F.array_distinct(F.col("__sh")).alias("sh")
    )
    a = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("__sa"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    union = F.size("__sa") + F.size("__sb") - inter
    jac = F.try_divide(inter * F.lit(1.0), union)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _mixed_bucket_pairs(
    sigs: DataFrame,
    id_col: str,
    n_hashes: int,
    band_rows: int,
    max_bucket: int | None,
    cross_only: bool = False,
) -> DataFrame:
    """Shared back half of the incremental tier: band the tagged
    signature frame (id, mh*, __new), keep buckets with >1 member AND
    at least one new member, emit (id_a < id_b) pairs touching the new
    side. All-old buckets die at the groupBy; (old, old) pairs die in
    the row-local filter — per-batch pair cost is O(batch × bucket).

    ``cross_only=True`` is the two-corpus form (fuzzy decontamination:
    train vs eval): only pairs with EXACTLY one flagged side are
    emitted, and single-side buckets (all-train or all-eval) are
    skipped before pair generation."""
    n_bands = n_hashes // band_rows
    band_arr = F.array(
        *[
            F.concat(*[F.col(f"mh{b * band_rows + r}") for r in range(band_rows)])
            for b in range(n_bands)
        ]
    )
    bands = sigs.select(
        F.col(id_col), F.col("__new"), F.posexplode(band_arr).alias("band", "sig")
    ).filter(F.col("sig").isNotNull())
    buckets = (
        bands.groupBy("band", "sig")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("__new")))
            ).alias("ids"),
            F.max(F.col("__new")).alias("has_new"),
            F.min(F.col("__new")).alias("all_new"),
        )
        .filter(F.size("ids") > 1)
        .filter(
            (F.col("has_new") & ~F.col("all_new"))
            if cross_only
            else F.col("has_new")
        )
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda a: F.transform(
                    F.col("ids"),
                    lambda b: F.struct(
                        a["id"].alias("id_a"),
                        b["id"].alias("id_b"),
                        (
                            (a["__new"] != b["__new"])
                            if cross_only
                            else (a["__new"] | b["__new"])
                        ).alias("emit"),
                    ),
                ),
            )
        ),
        lambda p: (p["id_a"] < p["id_b"]) & p["emit"],
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs_ml(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.6, n_hashes: int = 8
) -> DataFrame:
    """Tier 3 via pyspark.ml (library path, vs the hand-rolled portable
    path above): shingles -> HashingTF sparse vectors -> MinHashLSH
    approxSimilarityJoin. Seeded, so deterministic per Spark version,
    but the hash family is JVM-internal — no SQL oracle (rows-only).

    Kept alongside the md5 implementation deliberately: the library path
    is less portable but gives tuned band/bucket internals for free.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    staged = (
        fan_out(df)
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
        .select(id_col, shingles(F.col("__toks"), 3).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 16)
    # localCheckpoint: approxSimilarityJoin re-derives its inputs and the
    # optimizer can evaluate the LSH hash UDF on rows the size-filter
    # later removes — an all-zero vector then crashes MLlib ('at least 1
    # non zero entry'). Materializing the filtered features pins the
    # evaluation order (and caches the double-scanned side of the join).
    feats = tf.transform(staged).localCheckpoint(eager=True)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=n_hashes, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="jaccard_dist")
    return (
        pairs.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(F.lit(1.0) - F.col("jaccard_dist"), 4).alias("jaccard_sim"),
        )
        .distinct()
    )


def simhash_neardup_pairs(
    df: DataFrame, text_col: str, id_col: str, hamming_max: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Tier 4b: near-duplicate pairs from SimHash via banded buckets.

    The 16-bit simhash splits into 4 nibbles; by pigeonhole, any pair
    within Hamming distance 3 shares at least one exact nibble — so
    candidates come from an equi-join on (band, nibble) buckets (same
    bucket-local pair generation as MinHash LSH, O(docs×4) shuffle rows)
    and are verified with an exact popcount. Never O(docs²).

    16 bits is the oracle-replayable demo width; on a homogeneous corpus
    its nibble buckets are dense (many candidates). Production uses the
    same shape at 64 bits (4×16-bit bands), where buckets are sparse and
    the hamming verify prunes hard.

    ``max_bucket`` is the same hot-bucket cap as ``minhash_lsh_pairs``:
    a homogeneous corpus concentrates thousands of docs into a nibble
    bucket whose row-local pair array is m² structs — a row-size blowup
    (measured: the top sf0.1 bucket holds 2087 docs = 2.2M structs in
    ONE row). Buckets above the cap are template noise, dropped with
    observable counts; oracles replay the cap in SQL.
    """
    # Pinned: `sims` feeds the banding AND both sides of the verify
    # join — unpinned, the md5-per-token signature scan re-executes
    # three times (same rationale and shape as the minhash signature
    # pin; the frame is O(docs × 8 B)).
    sims = simhash16(df, text_col, id_col).localCheckpoint(eager=False)
    nibbles = F.array(
        *[F.shiftright(F.col("simhash"), 4 * b).bitwiseAND(F.lit(15)) for b in range(4)]
    )
    bands = sims.select(F.col(id_col), F.posexplode(nibbles).alias("band", "nib"))
    buckets = (
        bands.groupBy("band", "nib")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        hot = F.size("ids") > max_bucket
        buckets = buckets.observe(
            "simhash_bucket_cap",
            F.coalesce(F.sum(F.when(hot, 1)), F.lit(0)).alias("hot_buckets_dropped"),
            F.coalesce(F.sum(F.when(hot, F.size("ids"))), F.lit(0)).alias(
                "docs_in_dropped_buckets"
            ),
        ).filter(~hot)
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda a: F.transform(
                    F.col("ids"), lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))
                ),
            )
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    cand = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    a = sims.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__sa"))
    b = sims.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__sb"))
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= hamming_max)
        .select("id_a", "id_b", "hamming")
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken MOSS scheme): per doc, the
    distinct minima of each sliding window of ``window`` consecutive
    n-gram hashes. Guarantees any shared run of >= window+shingle_n-1
    tokens contributes a shared fingerprint — position-robust plagiarism
    / overlap detection with output ~1/window the size of full shingling.

    All array ops row-local (zero shuffle until the final explode);
    arrays materialized as columns per the HOF-lambda rule.
    """
    from ..functions.text import rolling_hashes

    staged = df.select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks")).select(
        id_col, rolling_hashes(F.col("__toks"), shingle_n).alias("__h")
    )
    wins = F.when(F.size("__h") < window, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("__h") - window),
            lambda i: F.array_min(F.slice(F.col("__h"), i + 1, window)),
        )
    )
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(wins)).alias("fp")
    )


def _hex4_to_int(h: Column) -> Column:
    """Portable hex->int for the first 4 md5 chars (0..65535), expressed
    with instr arithmetic so DuckDB can replay it exactly."""
    val = F.lit(0)
    for i in range(4):
        digit = F.instr(F.lit(HEX), F.substring(h, i + 1, 1)) - 1
        val = val * 16 + digit
    return val


def simhash16(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Tier 4: 16-bit simhash fingerprint per document.

    Token hash = first 4 hex chars of md5 -> 16-bit int; each bit votes
    +1/-1 weighted by token multiplicity; simhash bit j = sign of vote.
    One explode + one groupBy(doc) with 16 conditional sums — a single
    shuffle keyed by doc id, partial-aggregated map-side.
    """
    toks = fan_out(df).select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok"))
    val = _hex4_to_int(F.substring(F.md5(F.col("tok")), 1, 4))
    toks = toks.withColumn("hv", val)
    votes = [
        F.sum(
            F.when((F.col("hv").bitwiseAND(F.lit(1 << j))) != 0, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(16)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(16):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col(id_col), sim.cast("bigint").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Tier 5a: exact n-gram jaccard within blocks.

    The self-join carries the block equi-keys, so Spark shuffles on the
    block and the quadratic term is per-block only. At 100 TB use
    `lsh_verified_jaccard_pairs` instead — tier-3 LSH candidates
    verified by id equi-joins, no metadata-cardinality quadratic term.
    """
    docs = (
        fan_out(df)
        .select(F.col(id_col), *block_cols, tokenize(F.col(text_col)).alias("__toks"))
        .select(id_col, *block_cols, F.array_distinct(shingles(F.col("__toks"), shingle_n)).alias("sh"))
    )
    a, b = docs.alias("a"), docs.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    # try_divide: two shingle-less docs give union=0 — NULL (dropped by
    # the threshold filter), not an ANSI divide-by-zero job abort
    jac = F.try_divide(inter * F.lit(1.0), union)
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_verified_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n_hashes: int = 8,
    band_rows: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Tier 3→5 wired together: MinHash-LSH candidate generation feeding
    exact n-gram jaccard verification — the 100 TB registered plan.

    Metadata blocking (lang/source/label) makes tier-5 quadratic in
    block size, and at corpus scale a block is billions of rows. Here
    the candidate set IS the tier-3 LSH output — O(docs × bands) pairs,
    near-dup-sized — and verification is two hash equi-joins on the doc
    id (shuffle keyed on id, never a self-join): candidates ⋈ shingle
    sets for the a-side, then the b-side. Total shuffle volume is
    O(candidates + docs), the same shape published dedup pipelines
    (RefinedWeb / Dolma) run at web scale.

    The shingle-set frame is pinned (localCheckpoint) for the same
    CollapseProject reason as the signatures: both joins reference it,
    and un-pinned the tokenize+shingle expressions re-evaluate per join.
    """
    cand = minhash_lsh_pairs(
        df, text_col, id_col, n_hashes=n_hashes, band_rows=band_rows,
        max_bucket=max_bucket,
    )
    docs = (
        fan_out(df)
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
        .select(
            id_col, F.array_distinct(shingles(F.col("__toks"), shingle_n)).alias("sh")
        )
        .localCheckpoint(eager=False)
    )
    a = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("__sa"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    union = F.size("__sa") + F.size("__sb") - inter
    jac = F.try_divide(inter * F.lit(1.0), union)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_lsh_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    dims: int,
    n_bits: int = 4,
    n_bands: int = 2,
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """Tier 5b at corpus scale: sign-LSH banded bucket blocking.

    The metadata-blocked variant's quadratic term is bounded by block
    cardinality — unusable when blocks are labels. Here each vector
    lands in one bucket per BAND (n_bands independent hyperplane sets,
    OR-construction exactly like MinHash banding): candidate pairs are
    generated inside (band, bucket) groups via an equi-join, verified
    with exact cosine, deduped across bands. Expected bucket size =
    corpus / 2^n_bits per band; per-bit collision probability for
    angle θ is 1-θ/π, so recall = 1-(1-p^n_bits)^n_bands — tune
    (n_bits, n_bands) like (band_rows, bands) in MinHash. The planes
    are data-independent ±1 literals (similarity.hyperplane_planes),
    so bucketing is a narrow map, replayable in the oracle, and at
    scale the bucket becomes a partitionBy axis.

    Norms are hoisted per-row; the bucketed frame is pinned so the
    projection doesn't re-evaluate per join side.

    ``max_bucket`` (default None = exact replay) drops (band, bucket)
    groups holding more than that many vectors before the pair join —
    sign-LSH cannot pre-collapse byte-identical boilerplate the way
    tier-1 text dedup can, so one degenerate cluster of m identical
    embeddings is an O(m²·bands) join otherwise. Probe-side gate only
    (pair-exact for an equi-join); drops observable via ``observation``
    (``hot_buckets_dropped`` / ``bucket_rows_dropped`` — the latter
    counts exploded (doc, band) rows, NOT distinct docs: a 30-doc hot
    cluster hit over 2 bands reports 60) or a named observe.
    """
    from .similarity import hyperplane_bucket, hyperplane_planes

    all_planes = hyperplane_planes(n_bands * n_bits, dims)
    e = df.select(
        F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    buckets = F.array(
        *[
            hyperplane_bucket(
                "v", all_planes[band * n_bits : (band + 1) * n_bits]
            )
            for band in range(n_bands)
        ]
    )
    bd = fan_out(e).select(
        F.col(id_col), "v", "nrm", F.posexplode(buckets).alias("band", "bucket")
    ).localCheckpoint(eager=False)
    probe_side = bd
    if max_bucket is not None:
        counts = bd.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__n"))
        hot = F.col("__n") > max_bucket
        metrics = (
            F.coalesce(F.sum(F.when(hot, 1)), F.lit(0)).alias("hot_buckets_dropped"),
            # exploded (doc, band) rows — a doc in k hot bands counts k
            # times; named accordingly (was docs_in_dropped_buckets)
            F.coalesce(F.sum(F.when(hot, F.col("__n"))), F.lit(0)).alias(
                "bucket_rows_dropped"
            ),
        )
        if observation is not None:
            counts = counts.observe(observation, *metrics)
        else:
            counts = counts.observe("embedding_lsh_bucket_cap", *metrics)
        probe_side = bd.join(
            F.broadcast(counts.filter(~hot).select("band", "bucket")),
            ["band", "bucket"],
        )
    # Small-corpus fast path (same trap as semdedup_pairs): the SMJ on
    # (band, bucket) shuffles a tiny frame that AQE byte-coalesces to
    # ONE partition, serializing every pair dot on one core. Broadcast
    # the build side and round-robin the probe to core width while the
    # corpus fits the 64 MB bar; the banded SMJ stays the 100 TB plan
    # (parallelism = n_bands x 2^n_bits blocks at scale).
    from .partitioning import plan_size_bytes

    if plan_size_bytes(df) <= (64 << 20):
        probe = probe_side.repartition(df.sparkSession.sparkContext.defaultParallelism)
        a, b = probe.alias("a"), F.broadcast(bd).alias("b")
    else:
        a, b = probe_side.alias("a"), bd.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    # HOF dot, NOT the unrolled chain: Catalyst pushes the threshold
    # filter into the join condition, which is evaluated by the
    # INTERPRETED expression path (join conditions sit outside
    # whole-stage codegen) — there a single zip_with/aggregate loop
    # node beats a 64-term tree with 128 getItem nodes ~6x (measured
    # 4.4 s -> 0.7 s at sf0.1; both fold left-to-right from 0.0, so
    # results are bit-identical).
    sim = F.try_divide(
        F.expr(dot_sql("`a`.`v`", "`b`.`v`")), F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_cols: list[str],
    threshold: float,
    dims: int | None = None,
    broadcast_build: bool = False,
    max_block: int | None = None,
    observation=None,
) -> DataFrame:
    """Tier 5b: cosine near-duplicates within blocks (label / IVF cell).

    Same blocked self-join shape. With ``dims`` given, the per-pair dot
    product is unrolled into a codegen-compiled flat sum (same float
    order as the HOF path — bit-compatible); without it, falls back to
    interpreted higher-order functions.

    ``broadcast_build=True`` is the small-corpus fast path: broadcast
    the build side and fan the probe side across cores. A sort-merge
    self-join on low-cardinality block keys lands in as many tasks as
    there are DISTINCT BLOCKS (then AQE byte-coalesces tiny partitions
    to ONE task while each pair still costs a 64-term dot) — the
    broadcast plan keeps probe parallelism at fan_out width with zero
    shuffle. Leave False when the corpus doesn't fit an executor; the
    blocked SMJ is the 100 TB path (parallelism = #blocks, which is
    large at scale).

    ``max_block`` is the hot-block cap (see ``semdedup_pairs``): blocks
    holding more than `max_block` rows — one degenerate IVF cell /
    label of m boilerplate embeddings is an O(m²) self-join — are
    dropped before the pair join via a tiny per-block count that gates
    the probe side only (pair-exact for an equi-join). Drops are
    observable (``hot_blocks_dropped`` / ``docs_in_dropped_blocks``
    via ``observation`` or a named observe). Default None: exact
    replay, the registered oracles' contract.
    """
    # Norms are per-ROW quantities: materialize them before the pair
    # join so each is computed n times, not n² times per pair.
    docs = df.select(
        F.col(id_col), *block_cols, to_double_array(sql_ident(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    if max_block is not None:
        counts = docs.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("__n"))
        hot = F.col("__n") > max_block
        metrics = (
            F.coalesce(F.sum(F.when(hot, 1)), F.lit(0)).alias("hot_blocks_dropped"),
            F.coalesce(F.sum(F.when(hot, F.col("__n"))), F.lit(0)).alias(
                "docs_in_dropped_blocks"
            ),
        )
        if observation is not None:
            counts = counts.observe(observation, *metrics)
        else:
            counts = counts.observe("embedding_block_cap", *metrics)
        docs_gated = docs.join(
            F.broadcast(counts.filter(~hot).select(*block_cols)), list(block_cols)
        )
    else:
        docs_gated = docs
    probe = fan_out(docs_gated) if broadcast_build else docs_gated
    a = probe.alias("a")
    b = (F.broadcast(docs) if broadcast_build else docs).alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # ``dims`` kept for API stability, but the pair dot is ALWAYS the
    # HOF fold: the threshold filter is pushed into the join condition
    # (interpreted path), where the unrolled chain is ~4x slower
    # (re-measured at sf0.1: 2.4 s fixed64 vs 0.5 s HOF, bit-identical
    # results — the round-1 note claiming the opposite predates the
    # pushdown and measured the codegen'd project path).
    sim = F.try_divide(F.expr(dot_sql("`a`.`v`", "`b`.`v`")), F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def semdedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    threshold: float,
    dims: int | None = None,
    broadcast_build: bool | None = None,
    max_cell: int | None = None,
    observation=None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Tier 5c: SemDeDup — semantic dedup via k-means cluster blocking
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", arXiv:2303.09540; PAPERS.md).

    Shape: (1) assign every embedding to its nearest centroid — a
    broadcast cross join over k tiny centroid literals, narrow, no
    shuffle of the corpus; (2) self-join WITHIN each cell (equi-key =
    cell id, so Spark shuffles once on the cell and the quadratic term
    is per-cell only); (3) exact cosine >= threshold marks a semantic
    duplicate pair. Alongside the pair, each side carries its
    similarity-to-centroid so the caller can apply the paper's keep
    policy (drop the example CLOSEST to the centroid — it is the most
    "typical" and least informative; see ``semdedup_drop_list``).

    Centroids here are deterministically the first ``n_cells`` vectors
    by id (exactly `ivf_topk`'s replayable 'training'); in production
    they come from a sampled k-means (`kmeans_cells`) with k sized so
    cells stay O(10³) rows — the paper runs 50k clusters over 8B docs.
    At 100 TB the cell id becomes a partitionBy axis (assignment is
    incremental per ingest batch) and the per-cell join is partition-
    local.

    Hot-cell cap (the minhash_lsh_pairs guard, cell-shaped): one
    degenerate cluster of m boilerplate embeddings is an O(m²) per-cell
    self-join — the same blowup class as a hot LSH bucket. Cells whose
    population exceeds ``max_cell`` are dropped BEFORE the pair join:
    a tiny groupBy(cid) count (O(cells) rows) anti-gates the PROBE side
    only — an equi-join can't emit a pair from a cell absent on one
    side, so single-side filtering is pair-exact while keeping the
    metrics node out of the self-join's doubled subtree. Drops are
    observable: pass a ``pyspark.sql.Observation`` (metrics
    ``hot_cells_dropped`` / ``docs_in_dropped_cells``); a named observe
    is attached otherwise. Default ``max_cell=None`` — no cap, exact
    replay: the same contract as the sibling tiers' ``max_block`` /
    ``max_bucket`` (an un-opted-in caller must never silently lose
    pairs from >N-row cells). Production callers and the registered
    q_semdedup pass an explicit cap; a capped run's oracle replays the
    same HAVING count(*) <= max_cell gate.
    """
    from .similarity import assign_cells

    e = df.select(F.col(id_col), to_double_array(sql_ident(vec_col)).alias("v"))
    if centroids is None:
        # deterministic replayable 'training': first n_cells vectors by
        # id; pass `centroids` (cid, cv — e.g. similarity.kmeans_centroids)
        # for trained cells
        centroids = (
            e.orderBy(id_col)
            .limit(n_cells)
            .select(F.col(id_col).alias("cid"), F.col("v").alias("cv"))
        )
    assigned = assign_cells(e, centroids, id_col)
    # similarity-to-own-centroid, rounded: the keep-policy ranking must
    # be engine-portable, so the tie axis is (round(csim,6), id)
    dot_fn = (lambda x, y: dot_fixed(x, y, dims)) if dims else dot
    with_csim = (
        assigned.join(F.broadcast(centroids), "cid")
        .withColumn("nrm", norm(F.col("v")))
        .withColumn(
            "csim",
            F.round(
                F.try_divide(dot_fn(F.col("v"), F.col("cv")), F.col("nrm") * norm(F.col("cv"))),
                6,
            ),
        )
        .select(id_col, "cid", "v", "nrm", "csim")
        .localCheckpoint(eager=False)  # both join sides reference it
    )
    probe_gate = None
    if max_cell is not None:
        counts = with_csim.groupBy("cid").agg(F.count(F.lit(1)).alias("__n"))
        hot = F.col("__n") > max_cell
        metrics = (
            F.coalesce(F.sum(F.when(hot, 1)), F.lit(0)).alias("hot_cells_dropped"),
            F.coalesce(F.sum(F.when(hot, F.col("__n"))), F.lit(0)).alias(
                "docs_in_dropped_cells"
            ),
        )
        if observation is not None:
            counts = counts.observe(observation, *metrics)
        else:
            counts = counts.observe("semdedup_cell_cap", *metrics)
        probe_gate = F.broadcast(counts.filter(~hot).select("cid"))
    # Same small-corpus fast path as embedding_neardup_pairs: the pinned
    # frame coalesces to O(1) partitions at bench scale, and an SMJ on
    # n_cells keys then scores every pair on as many cores as CELLS.
    # Broadcasting the build side and fanning the probe side keeps
    # scoring at full core width; past the ~64 MB bar the blocked SMJ
    # is the 100 TB plan (parallelism = #cells, large at scale).
    if broadcast_build is None:
        from .partitioning import plan_size_bytes

        broadcast_build = plan_size_bytes(df) <= (64 << 20)
    kept = with_csim if probe_gate is None else with_csim.join(probe_gate, "cid")
    if broadcast_build:
        # Explicit repartition, not fan_out: the lazy checkpoint's plan
        # still claims its pre-AQE width, but AQE coalesces the tiny
        # agg output to ONE partition at runtime — fan_out's estimate
        # can't see that, and an unfanned probe scores every pair on a
        # single core (measured 4.5 s -> 1.7 s at sf0.1).
        probe = kept.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )
        a, b = probe.alias("a"), F.broadcast(with_csim).alias("b")
    else:
        a, b = kept.alias("a"), with_csim.alias("b")
    cond = (F.col("a.cid") == F.col("b.cid")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    # pair sim via the HOF fold (the threshold filter lands in the
    # interpreted join condition — see embedding_neardup_pairs); csim
    # above stays unrolled (it is evaluated in a codegen'd project)
    sim = F.try_divide(
        F.expr(dot_sql("`a`.`v`", "`b`.`v`")), F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.cid").alias("cell"),
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.csim").alias("csim_a"),
            F.col("b.csim").alias("csim_b"),
            F.round(sim, 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def semdedup_drop_list(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    threshold: float,
    dims: int | None = None,
    broadcast_build: bool | None = None,
    max_cell: int | None = None,
    observation=None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup keep policy over `semdedup_pairs`: in every duplicate
    pair, drop the side SITTING CLOSER to the cluster centroid (higher
    csim — the more "typical" example; the paper shows keeping the
    outliers preserves downstream accuracy). Ties break on the larger
    id so the drop set is deterministic and oracle-replayable.

    Output: DISTINCT (cell, drop_id) — one shuffle over the (already
    near-dup-sized) pair set. A doc in many pairs is dropped once.
    """
    pairs = semdedup_pairs(
        df, vec_col, id_col, n_cells, threshold, dims, broadcast_build,
        max_cell=max_cell, observation=observation, centroids=centroids,
    )
    drop = F.when(
        (F.col("csim_a") > F.col("csim_b"))
        | ((F.col("csim_a") == F.col("csim_b")) & (F.col("id_a") > F.col("id_b"))),
        F.col("id_a"),
    ).otherwise(F.col("id_b"))
    return pairs.select(F.col("cell"), drop.alias("drop_id")).distinct()


def lsh_verified_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_bp: int = 5000,
    n_hashes: int = 8,
    band_rows: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle-set CONTAINMENT
    |A∩B| / min(|A|, |B|) over MinHash-LSH candidates — catches the
    doc-contains-doc shape (a page embedding another page, a long doc
    wrapping a short one) that symmetric jaccard scores low: a 100-line
    doc containing a 10-line doc verbatim has jaccard ≈ 0.1 but
    containment = 1.0. Published web-corpus dedups (e.g. The Pile's
    suffix-containment pass) run this as a distinct tier for exactly
    that reason.

    Same 100 TB shape as `lsh_verified_jaccard_pairs`: tier-3 LSH
    candidates (O(docs × bands), capped buckets) + two id equi-joins
    against the pinned shingle-set frame. Scoring is pure BIGINT
    arithmetic (basis points via floor-div) — hash-exact across
    engines and partitionings.

    Recall caveat (documented): MinHash estimates JACCARD, so a
    small-in-big containment pair has low bucket-collision probability;
    candidates here catch moderate-size-ratio containments. Full
    small-in-big recall needs shingle-partitioned candidate generation
    (join on individual shingle hits) — O(shingles) shuffle, the
    documented step up.
    """
    cand = minhash_lsh_pairs(
        df, text_col, id_col, n_hashes=n_hashes, band_rows=band_rows,
        max_bucket=max_bucket,
    )
    docs = (
        fan_out(df)
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
        .select(
            id_col, F.array_distinct(shingles(F.col("__toks"), shingle_n)).alias("sh")
        )
        .localCheckpoint(eager=False)
    )
    a = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("__sa"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).cast("bigint")
    smaller = F.least(F.size("__sa"), F.size("__sb")).cast("bigint")
    cont_bp = F.expr("(__n_common * 10000) div __n_small")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__n_common", inter)
        .withColumn("__n_small", smaller)
        .filter(F.col("__n_small") > 0)
        .withColumn("containment_bp", cont_bp)
        .filter(F.col("containment_bp") >= threshold_bp)
        .select(
            "id_a",
            "id_b",
            F.col("__n_common").alias("n_common"),
            "containment_bp",
        )
    )


def shingle_partitioned_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_bp: int = 8000,
    shingle_n: int = 3,
    max_shingle_df: int = 50,
) -> DataFrame:
    """FULL-recall containment detection via the inverted shingle
    index — the documented step up from `lsh_verified_containment_pairs`
    (whose MinHash candidates estimate JACCARD and therefore miss
    extreme small-in-big pairs): candidates come from joining docs on
    INDIVIDUAL shingles, so any pair sharing one surviving shingle is
    scored, and a 10-line doc inside a 10,000-line doc is found.

    Shape: explode distinct shingles (O(total shingles) rows), drop
    shingles with document frequency > `max_shingle_df` (stopword-like
    shingles are non-discriminative and quadratic — the standard cap in
    suffix/substring dedup), self-join on the shingle hash, count
    shared shingles per pair (map-side partial agg), join back the full
    per-doc shingle counts for the exact denominator. Pair volume is
    Σ min(df, cap)² per shingle — bounded by the cap, never by corpus
    size. The intersection COUNT is computed by the join itself: no
    second verify pass.

    Exactness contract: the numerator omits capped shingles, so the
    score is a LOWER BOUND on true containment — a pair is never
    over-scored, and it is exact whenever no shared shingle was capped
    (containment-heavy pairs share mostly rare shingles, so the bound
    is tight in practice). All arithmetic BIGINT basis points.
    """
    sh = (
        fan_out(df)
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
        .select(
            id_col,
            F.explode(
                F.array_distinct(shingles(F.col("__toks"), shingle_n))
            ).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    hot = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_shingle_df)
        .select("sh")
    )
    kept = sh.join(hot, "sh", "left_anti")
    a = kept.select(F.col(id_col).alias("id_a"), "sh")
    b = kept.select(F.col(id_col).alias("id_b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("__nb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment_bp",
            F.expr("(n_common * 10000) div least(__na, __nb)"),
        )
        .filter(F.col("containment_bp") >= threshold_bp)
        .select("id_a", "id_b", "n_common", "containment_bp")
    )


def dedup_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Cross-document duplicated-SPAN removal — the exact-substring
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499), re-expressed as sliding k-token
    windows instead of a suffix array: every k-token window whose exact
    text occurs at another (doc, pos) keeps only its GLOBAL FIRST
    occurrence (min (id, pos)); all other occurrences mark their k
    token positions covered, and each document is reassembled from its
    uncovered tokens. Returns (id, text_clean, n_removed).

    Distributed shape (the suffix-array equivalent Spark can run):
    - window extraction is one narrow pass of array HOFs per row
      (slice/array_join over the token array — no Python, no shuffle);
    - the canonical-occurrence reduction is a groupBy on the window
      text with a map-side-combinable min(struct(id, pos)) — hot
      boilerplate windows collapse in the combiner, so skew never
      concentrates rows;
    - occurrences join canon back on the window key (1 row per key on
      the build side; AQE splits residual skew), explode to covered
      positions, and ONE per-doc collect_set feeds the rebuild — an
      indexed array filter, again narrow.
    Total shuffle volume is O(total windows) ≈ O(corpus tokens), the
    floor for exact substring matching without a global suffix sort.

    NULL/short texts: tokens coalesce to empty — a doc shorter than k
    tokens has no windows and passes through intact (n_removed = 0).
    """
    staged = _span_staged(df, id_col, text_col)
    occ = _span_occurrences(staged, k)
    canon = occ.groupBy("w").agg(
        F.min(F.struct(F.col("__id"), F.col("pos"))).alias("first")
    )
    return _span_rebuild(staged, occ, canon, id_col, k)


def _span_staged(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = F.coalesce(
        tokenize(F.col(text_col)), F.array().cast("array<string>")
    )
    return df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))


def _span_occurrences(staged: DataFrame, k: int) -> DataFrame:
    """(__id, pos, w): every k-token sliding window of every doc —
    one narrow pass of array HOFs, no shuffle."""
    n = F.size("__toks")
    starts = F.when(
        n >= k, F.sequence(F.lit(1), n - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    return staged.select(
        "__id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    (i - 1).alias("pos"),
                    F.array_join(F.slice(F.col("__toks"), i, k), " ").alias("w"),
                ),
            )
        ).alias("s"),
    ).select("__id", F.col("s.pos").alias("pos"), F.col("s.w").alias("w"))


def _span_rebuild(
    staged: DataFrame, occ: DataFrame, canon: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Cut every non-canonical occurrence's k positions and reassemble
    each doc from its uncovered tokens. `canon` is (w, first struct
    (__id, pos)) — the surviving occurrence per window."""
    covered = (
        occ.join(canon, "w")
        .filter(
            ~(
                (F.col("__id") == F.col("first.__id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select(
            "__id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("cp"),
        )
        .groupBy("__id")
        .agg(F.collect_set("cp").alias("__cov"))
    )
    kept = F.filter(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: F.col("__cov").isNull() | ~F.array_contains("__cov", s["i"]),
    )
    return (
        staged.join(covered, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias(
                "text_clean"
            ),
            F.coalesce(F.size("__cov"), F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def span_window_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """(wh, first_id, first_pos): the canonical first occurrence of
    every distinct k-token window, keyed by the window's xxhash64 — the
    PERSISTED STATE of incremental span dedup (the window-signature
    analog of the MinHash signature table,
    `minhash_lsh_pairs_from_signatures`). Write it to the lake once;
    every later ingest batch dedups against it without re-windowing the
    settled corpus.

    Hashed, not text: a k-token window string is ~k× the tokens it
    covers, so a text-keyed table would be ~8× the CORPUS bytes —
    scanning it would cost more IO than re-windowing the raw text,
    defeating the operator. 8-byte hashes make the table ~0.5× corpus
    bytes and the probe joins integer-keyed (the q_decontaminate
    collision discipline: odds ~1e-10 per candidate pair at any
    realistic scale, far below a dedup pipeline's noise floor). Size:
    O(distinct windows) rows; boilerplate collapses (one row per
    distinct window, however many occurrences)."""
    staged = _span_staged(df, id_col, text_col)
    return (
        _span_occurrences(staged, k)
        .select("__id", "pos", F.xxhash64("w").alias("wh"))
        .groupBy("wh")
        .agg(F.min(F.struct(F.col("__id"), F.col("pos"))).alias("first"))
        .select(
            "wh",
            F.col("first.__id").alias("first_id"),
            F.col("first.pos").alias("first_pos"),
        )
    )


def merge_span_windows(settled: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold a batch's window table into the settled one: per window the
    minimum (id, pos) survives — the next run's settled state. One
    union + one groupBy-min over O(distinct windows), map-side
    combinable like the build itself."""
    return (
        settled.unionByName(batch)
        .groupBy("wh")
        .agg(
            F.min(F.struct(F.col("first_id"), F.col("first_pos"))).alias("first")
        )
        .select(
            "wh",
            F.col("first.first_id").alias("first_id"),
            F.col("first.first_pos").alias("first_pos"),
        )
    )


def dedup_duplicated_spans_incremental(
    new_df: DataFrame,
    settled_windows: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Incremental-ingest form of `dedup_duplicated_spans`: clean a NEW
    batch against the persisted window table (`span_window_table`)
    without re-windowing the settled corpus — at 100 TB the full
    rebuild's O(corpus tokens) window shuffle becomes O(batch tokens)
    plus one equi-join against stored windows.

    Canonical occurrence per window = min((settled first), (batch
    occurrences)) — exactly the full-recompute reduction, so the
    batch's cleaned output is BIT-IDENTICAL to running the full dedup
    over settled ∪ batch and keeping the batch's rows (pinned in
    tests). Settled docs are never re-cleaned here: under monotone
    ingest ids the canonical occurrence never moves backward, so their
    cleaned text is already final; a batch with ids BELOW settled ids
    would steal canonicity and require re-cleaning the settled side —
    run the full rebuild for that (out of scope by the ingest-order
    premise, stated loudly).

    Returns (id, text_clean, n_removed) for the NEW batch only; fold
    the state forward with `merge_span_windows(settled,
    span_window_table(new_df))`."""
    staged = _span_staged(new_df, id_col, text_col)
    # the batch side works on HASHED windows throughout — the join keys
    # against the stored table are int64 (see span_window_table)
    occ = _span_occurrences(staged, k).select(
        "__id", "pos", F.xxhash64("w").alias("w")
    )
    batch_canon = occ.groupBy("w").agg(
        F.min(F.struct(F.col("__id"), F.col("pos"))).alias("__bmin")
    ).localCheckpoint(eager=False)
    # restrict the settled table to the batch's windows FIRST, via a
    # semi join whose build side is the (bounded) batch key set — the
    # big settled table is SCANNED, never shuffled (a plain left join
    # here sort-merge-shuffles the entire settled window table, which
    # is exactly the O(corpus) cost this operator exists to avoid);
    # the surviving settled rows are O(batch), so the least() join
    # after it is small-small
    batch_keys = batch_canon.select(F.col("w").alias("wh"))
    settled_hits = settled_windows.join(
        F.broadcast(batch_keys), "wh", "left_semi"
    ).select(
        F.col("wh").alias("w"),
        F.struct(
            F.col("first_id").alias("__id"), F.col("first_pos").alias("pos")
        ).alias("__smin"),
    )
    canon = (
        batch_canon.join(settled_hits, "w", "left")
        .select("w", F.least("__smin", "__bmin").alias("first"))
    )
    return _span_rebuild(staged, occ, canon, id_col, k)


def semantic_decontaminate(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    eval_col: str,
    threshold: float,
) -> DataFrame:
    """Semantic decontamination: train items whose embedding cosine
    against ANY eval item clears `threshold` — the third decontamination
    tier after exact n-gram (plans/quality_queries.py) and fuzzy
    jaccard (`fuzzy_decontaminate_pairs`): paraphrase AND translation /
    re-write leakage that shares no surface n-grams still lands near
    the eval item in embedding space (the SemDeDup observation applied
    train-vs-eval).

    Scale shape: eval benchmarks are BOUNDED (thousands of rows at any
    corpus scale), so the eval side collapses to ONE row — a sorted
    array of (eid, vec) structs — broadcast to every executor; scoring
    is a NARROW per-train-row pass (transform + argmax over the eval
    array), zero shuffle of the train corpus, no row blowup (the
    explode alternative materializes |train| x |eval| rows for the
    same FLOPs). The 1-row cross-in is the q_cosine_topk bounded-frame
    pattern. For an eval set too large to broadcast, fall back to the
    cluster-blocked join (`semdedup` layout) — same verdict semantics.

    Determinism: sims round to 6dp before the argmax; ties take the
    LOWEST eval id (the struct array is sorted by eid, array_position
    returns the first match) — engine-portable, mirrored by the
    oracle's (sim6 DESC, eid ASC) row_number."""
    from ..functions.vectors import dot, norm

    is_eval = F.col(eval_col).cast("boolean")
    # eval norms precomputed once in the broadcast structs; train norm
    # computed once per row — identical arithmetic (dot / (na * nb),
    # try_divide NULL-safety on zero norms) to functions.vectors.cosine
    # with the two norm aggregates hoisted out of the per-eval loop
    ev = (
        emb.filter(is_eval)
        .select(to_double_array(sql_ident(vec_col)).alias("v"), F.col(id_col))
        .select(
            F.struct(
                F.col(id_col).alias("eid"),
                F.col("v").alias("evv"),
                norm(F.col("v")).alias("en"),
            ).alias("e")
        )
        .agg(F.sort_array(F.collect_list("e")).alias("evals"))
    )
    # fan_out (r13): the scoring pass below is the whole cost of this
    # operator (|train| x |eval| dot products) and it is NARROW — an
    # embeddings corpus that fits one parquet row group arrives as ONE
    # scan partition and scores on a single core no matter how many
    # exist (measured at 10x sf0.1: 131 s at 32 cores == 134 s at 8).
    # Round-robin fan-out is guarded: a real at-scale scan already has
    # more partitions than cores and is untouched.
    tr = fan_out(emb.filter(~is_eval)).select(
        F.col(id_col), to_double_array(sql_ident(vec_col)).alias("__v")
    ).withColumn("__n", norm(F.col("__v")))
    scored = (
        tr.crossJoin(F.broadcast(ev))
        .select(
            F.col(id_col),
            F.col("evals"),
            F.transform(
                "evals",
                lambda e: F.round(
                    F.try_divide(
                        dot(F.col("__v"), e["evv"]), F.col("__n") * e["en"]
                    ),
                    6,
                ),
            ).alias("sims"),
        )
        .withColumn("sim6", F.array_max("sims"))
    )
    return (
        scored.filter(F.col("sim6") >= F.lit(threshold))
        .select(
            F.col(id_col).alias("train_id"),
            F.element_at(
                F.col("evals"),
                F.array_position(F.col("sims"), F.col("sim6")).cast("int"),
            )["eid"].alias("eval_id"),
            # scaled-integer score: round(x, 4) on doubles splits
            # engines at .xxx5 grid points (SCALE.md "Numeric
            # determinism"); floor(x*1e4 + 0.5) is pure IEEE ops both
            # engines execute identically
            F.floor(F.col("sim6") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("sim_e4"),
        )
    )
