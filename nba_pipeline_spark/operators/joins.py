"""Join operators (SURVEY.md §2.4).

Reference parity: broadcast dict-lookup map joins (playByplay.py:84-99,
boxScores.py:18-32, games.py:56-63), the fact->detail pipeline
dependency (playByplay.py:104-110), implied warehouse dimension joins
(keys at boxScores.py:51, playerSalary.py:9, coaches.py:79-80), plus
the extended range/as-of joins the reference lacks.

Scale notes: lookup/dimension sides are broadcast (no shuffle); big
fact-fact joins shuffle on the key and rely on AQE for skew splitting.
The as-of join is the union+window pattern — one shuffle on
(key, time), no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .partitioning import rows_frame


def lookup_join(
    df: DataFrame,
    spark: SparkSession,
    mapping: dict,
    key_col: str,
    value_col: str,
    key_name: str = "__lookup_key",
    how: str = "left",
) -> DataFrame:
    """J1/J2: apply a small dict lookup as a broadcast join.

    The reference does ``df[col].apply(lambda x: d[x])`` row-wise; here the
    dict becomes a tiny DataFrame broadcast to every executor — constant
    cost at 100 TB, and the probe stays in whole-stage codegen.
    """
    lookup = rows_frame(spark, list(mapping.items()), [key_name, value_col])
    out = df.join(
        F.broadcast(lookup), on=df[key_col] == lookup[key_name], how=how
    ).drop(key_name)
    return out


def equi_join(left: DataFrame, right: DataFrame, on, how: str = "inner") -> DataFrame:
    """J3/J4: standard equi-join; Catalyst/AQE picks broadcast vs SMJ."""
    return left.join(right, on=on, how=how)


def range_join(left: DataFrame, right: DataFrame, predicate: Column, how: str = "inner", broadcast_right: bool = True) -> DataFrame:
    """J5a: interval/range join (e.g. value BETWEEN lo AND hi).

    Non-equi joins execute as nested-loop; keep the banded side small and
    broadcast it. For two large sides, pre-bucket both on a coarse range
    key and add the bucket as an equi-condition to avoid the cross product.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=predicate, how=how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: hot keys no longer land on one task.

    Left rows get a deterministic salt in [0, n_salts) from a hash of the
    whole row's key (NOT rand() — retries must reproduce); right rows are
    replicated once per salt via a small explode. The join key becomes
    (key, salt), spreading each hot key over n_salts tasks. Result is
    exactly the plain join (verified against the same SQL oracle).

    Use when AQE's skew-join splitting isn't available or the skew is in
    a broadcast-ineligible dimension; replication multiplies the right
    side by n_salts, so keep that side the smaller one.

    Only inner/left-sided joins are valid: in a right/full outer join the
    replicated right rows' non-matching salt copies would surface as
    phantom unmatched rows.
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti", "cross"):
        raise ValueError(
            f"salted_join supports inner/left-sided joins only, got how={how!r} "
            "(right/full outer would emit phantom rows from salt replicas)"
        )
    # Salt from a hash of the WHOLE left row (not the key! — all rows of a
    # hot key would get one salt and nothing would spread).
    l_salted = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    )
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    joined = l_salted.join(
        r_salted,
        (l_salted[left_key] == r_salted[right_key]) & (l_salted["__salt"] == r_salted["__salt"]),
        how=how,
    )
    return joined.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    time_col: str,
    value_cols: list[str],
    prefix: str = "asof_",
) -> DataFrame:
    """J5b: as-of join — for each left row, latest right row with
    right.time <= left.time on the same key.

    Implementation: tag both sides, union by name, window
    last(..., ignorenulls=True) over (key ORDER BY time, tag), keep the
    left rows. Ties at equal time resolve right-before-left (tag 0 < 1),
    matching inclusive (<=) as-of semantics. One shuffle on ``key``; each
    partition sorts locally — scales linearly, no range-broadcast needed.

    The carried payload is a STRUCT of the value columns, not the bare
    columns: the struct is non-null for every right row even when its
    fields are NULL, so "latest right value is NULL" correctly yields
    NULL instead of resurrecting an older non-null value (a bare
    last(value, ignorenulls) can't tell those cases apart).

    CONTRACT: the right side must be unique per (key, time) — multiple
    right rows at the same instant make every as-of implementation's
    pick arbitrary; pre-aggregate (e.g. max per key+time) first.
    """
    lt = left.withColumn("__tag", F.lit(1))
    # NULL-key right rows are dropped: an equi as-of (ON l.key = r.key)
    # never matches NULL = NULL, but a window PARTITION BY groups NULL
    # keys together and would wrongly serve them to NULL-key left rows.
    rt = (
        right.filter(F.col(key).isNotNull())
        .select(
            key,
            time_col,
            F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__asof_payload"),
        )
        .withColumn("__tag", F.lit(0))
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(time_col).asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.withColumn(
        "__asof_payload", F.last(F.col("__asof_payload"), ignorenulls=True).over(w)
    )
    out = filled.filter(F.col("__tag") == 1)
    for c in value_cols:
        out = out.withColumn(f"{prefix}{c}", F.col("__asof_payload").getField(c))
    return out.drop("__tag", "__asof_payload")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
    keys: list[tuple[str, str]] | None = None,
    how_predicate: Column | None = None,
) -> DataFrame:
    """J5c: interval x interval OVERLAP join for two LARGE sides —
    neither broadcastable, so the naive non-equi join (a cross product
    with a filter) is banned. Bounds are integers (epoch days/seconds).

    Decomposition: each interval explodes into the coarse buckets of
    width ``bucket_width`` it touches (sequence + explode — narrow);
    the join becomes EQUI on (bucket, *keys) with the exact closed
    overlap predicate ``l_start <= r_end AND r_start <= l_end`` re-
    checked. A pair overlapping across several shared buckets would
    duplicate, so only the CANONICAL bucket emits: the one containing
    ``greatest(l_start, r_start)`` — dedup by arithmetic, no distinct,
    no second shuffle.

    Cost: rows replicate by ceil(span/width) (pick width ~ typical
    span so the factor stays small); the join itself is an ordinary
    shuffled equi-join AQE can plan. This is the standard distributed
    interval-join used for sessions x campaigns, trades x quotes
    windows, genomic ranges.
    """
    w = int(bucket_width)
    lb = F.col("__lb")
    ls, le = F.col(l_start), F.col(l_end)
    rs, re_ = F.col(r_start), F.col(r_end)

    def fdiv(e: str) -> Column:
        # Exact long floor-division. A double quotient (F.floor(col/w))
        # loses integer precision above ~2^52 — epoch micros/nanos would
        # silently land in the wrong bucket, dropping or duplicating
        # pairs. truncating `div` minus a borrow when the remainder is
        # negative == floor, all in 64-bit integer arithmetic, no
        # overflow for any long input.
        return F.expr(
            f"(({e}) div {w}) - (CASE WHEN (({e}) % {w}) < 0 THEN 1 ELSE 0 END)"
        )

    l_exp = left.withColumn("__lb", F.explode(F.sequence(fdiv(l_start), fdiv(l_end))))
    r_exp = right.withColumn("__rb", F.explode(F.sequence(fdiv(r_start), fdiv(r_end))))
    cond = lb == F.col("__rb")
    for lk, rk in keys or []:
        cond = cond & (F.col(lk) == F.col(rk))
    overlap = (ls <= re_) & (rs <= le)
    canonical = lb == fdiv(f"greatest({l_start}, {r_start})")
    if how_predicate is not None:
        overlap = overlap & how_predicate
    return l_exp.join(r_exp, cond & overlap & canonical, "inner").drop("__lb", "__rb")
