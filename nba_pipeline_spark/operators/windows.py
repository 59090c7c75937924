"""Window / ordered-stateful operators (SURVEY.md §2.6).

The reference's most engine-like code: three hand-rolled sequential
scans (playByplay.py:19-41 period counter, playByplay.py:43-65 score
forward-fill, boxScores.py:61-76 isStarter marker fill). Those loops
depend on scrape order; every builder here REQUIRES an explicit
partition key and ordering column (the ``seq`` ingest contract).

Scale notes: ``Window.partitionBy(key).orderBy(seq)`` shuffles once on
the key and sorts within partitions — linear scale-out. A global
``Window.orderBy`` collapses to ONE task; it is deliberately not
offered here (see ``ordered_surrogate`` for the bounded exception).

The three reference scans are built as SQL text: the ``*_sql`` helpers
return one window expression each, so a builder can put several of
them in one projection; their DataFrame forms parse that text with one
``F.expr``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..functions.vectors import sql_ident, sql_str


def _running(part: list[str], order: list[str]) -> WindowSpec:
    return (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _over(part: list[str], order: list[str], upto: str = "") -> str:
    """``OVER (PARTITION BY part ORDER BY order [ROWS ... AND upto])``."""
    frame = f" ROWS BETWEEN UNBOUNDED PRECEDING AND {upto}" if upto else ""
    by = ", ".join(map(sql_ident, order))
    return f"OVER (PARTITION BY {', '.join(map(sql_ident, part))} ORDER BY {by}{frame})"


def _lit(v) -> str:
    return sql_str(v) if isinstance(v, str) else f"{v!r}D" if isinstance(v, float) else str(v)


def running_sum(df: DataFrame, part: list[str], order: list[str], value: Column, out: str) -> DataFrame:
    """W1 core: cumulative sum per group in explicit order."""
    return df.withColumn(out, F.sum(value).over(_running(part, order)))


def running_count_with_reset_sql(part: list[str], order: list[str], reset: str, start: int = 1) -> str:
    """W1: counter that starts at ``start`` per group and increments at
    every row where the SQL predicate ``reset`` holds — the
    period-number scan (playByplay.py:19-41: 1 at each new game_id, +1
    at each periodTime==720 marker after the first).

    The first row of the group never increments even if it matches
    ``reset`` (the reference's game-start special case).
    """
    rn = f"row_number() {_over(part, order)}"
    inc = f"CASE WHEN {rn} != 1 AND ({reset}) THEN 1 ELSE 0 END"
    return f"{start} + sum({inc}) {_over(part, order, 'CURRENT ROW')}"


def running_count_with_reset(
    df: DataFrame, part: list[str], order: list[str], reset: str, out: str, start: int = 1
) -> DataFrame:
    return df.withColumn(out, F.expr(running_count_with_reset_sql(part, order, reset, start)))


def forward_fill_sql(part: list[str], order: list[str], value: str, default=None) -> str:
    """W2: last non-null of the SQL expression ``value`` carried forward
    (score carry, playByplay.py:43-65); ``default`` fills the leading
    run (game-start 0)."""
    filled = f"last({value}, true) {_over(part, order, 'CURRENT ROW')}"
    return filled if default is None else f"coalesce({filled}, {_lit(default)})"


def forward_fill(
    df: DataFrame, part: list[str], order: list[str], value: str, out: str, default=None
) -> DataFrame:
    return df.withColumn(out, F.expr(forward_fill_sql(part, order, value, default)))


def marker_flag_fill(
    df: DataFrame,
    part: list[str],
    order: list[str],
    marker_value: dict,
    marker_col: str,
    out: str,
    first_default,
    drop_markers: bool = True,
) -> DataFrame:
    """W3: marker rows set the flag for FOLLOWING rows ('Reserves' -> 0,
    'Team Totals' -> 1, boxScores.py:61-76); non-marker rows carry the
    previous flag; rows before any marker get ``first_default``; marker
    rows themselves are dropped (boxScores.py:79). One projection, then
    one filter.
    """
    col = sql_ident(marker_col)
    cases = " ".join(f"WHEN {col} = {_lit(mv)} THEN {_lit(f)}" for mv, f in marker_value.items())
    prev = _over(part, order, "1 PRECEDING")
    flag = f"coalesce(last(CASE {cases} END, true) {prev}, {_lit(first_default)})"
    filled = df.withColumn(out, F.expr(flag))
    if drop_markers:
        markers = ", ".join(map(_lit, marker_value))
        filled = filled.where(f"NOT {col} IN ({markers})")
    return filled


def rank_in_group(
    df: DataFrame, part: list[str], order: list[Column], out: str, method: str = "rank"
) -> DataFrame:
    """W5: rank/dense_rank/row_number per group (salary rank per season)."""
    fn = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number}[method]
    return df.withColumn(out, fn().over(Window.partitionBy(*part).orderBy(*order)))


def lag_delta(
    df: DataFrame, part: list[str], order: list[str], value: Column, out: str
) -> DataFrame:
    """W5: difference vs previous row per group (point deltas)."""
    w = Window.partitionBy(*part).orderBy(*order)
    return df.withColumn(out, value - F.lag(value).over(w))


def ordered_surrogate(df: DataFrame, order: list[Column], out: str) -> DataFrame:
    """W4: dense global ordinal (games.py:82-83 sort-then-assign).

    WARNING: global window = single task. Kept only for small frames /
    tests; production surrogate keys use hash-of-natural-key
    (functions.scalar.surrogate_key) which is retry-deterministic and
    fully parallel.
    """
    return df.withColumn(out, F.row_number().over(Window.orderBy(*order)))


def skyline_2d(
    df: DataFrame, x_col: str, y_col: str, bucket_width: int = 100_000
) -> DataFrame:
    """Strict 2-D skyline (Pareto frontier): keep rows no other row
    strictly dominates on BOTH integer axes (p.x > r.x AND p.y > r.y).

    The naive form is an O(n^2) NOT EXISTS self-join; the classic
    single-node form is a global sort + running max — a one-task window
    this package bans. This is the partitioned middle path:

    1. value-bucket x (integer div — no global sort to assign buckets);
    2. per bucket, the local running max of y over the in-bucket frame
       ``x' > x`` (RANGE [1, inf) on the integer axis — excludes ties);
    3. a tiny bucket-level aggregate (one row per bucket) provides the
       max y of every STRICTLY HIGHER bucket via a window over buckets
       — higher buckets hold strictly higher x by construction, so
       their y-max strict-dominates whenever it beats the row's y.

    A row survives iff neither the in-bucket running max nor the
    higher-bucket max exceeds its y. Shuffles: one on bucket (bounded
    partitions) + one |buckets|-row aggregate — O(n log n_bucket) at
    any scale, exact.

    NULL axes follow strict-SQL NOT-EXISTS semantics: a comparison with
    NULL is never true, so NULL-axis rows can neither dominate nor be
    dominated — they pass through as survivors (and max() already
    ignores their y).
    """
    x, y = F.col(x_col), F.col(y_col)
    null_rows = df.filter(x.isNull() | y.isNull())
    df = df.filter(x.isNotNull() & y.isNotNull())
    b = df.withColumn("__bkt", F.floor(x / F.lit(int(bucket_width))))
    # The ``x' > x`` suffix frame is expressed as a PREFIX frame over the
    # NEGATED axis (r13, guide §1.2): RANGE [1, unboundedFollowing]
    # makes Spark's UnboundedFollowingWindowFunctionFrame re-aggregate
    # the whole suffix for every row — O(rows²) per bucket, and the
    # bucket count is fixed by the VALUE RANGE, not the data size, so
    # at 10x sf0.1 this was 10.7 s flat at 8 and 32 cores (quadratic,
    # parallelism capped at ~11 buckets). Over ``-x`` ascending, RANGE
    # [unboundedPreceding, -1] is the same strict set (-x' <= -x-1 ⇔
    # x' >= x+1 ⇔ x' > x on integer axes) evaluated as an O(rows)
    # running max. Same rewrite on the bucket-level window.
    in_bucket = (
        Window.partitionBy("__bkt")
        .orderBy((-x).asc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    local_max = F.max(y).over(in_bucket)
    stats = b.groupBy("__bkt").agg(F.max(y).alias("__bmax"))
    over_buckets = (
        Window.orderBy((-F.col("__bkt")).asc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    higher = stats.select(
        "__bkt", F.max(F.col("__bmax")).over(over_buckets).alias("__hmax")
    )
    out = (
        b.join(F.broadcast(higher), "__bkt")
        .withColumn("__lmax", local_max)
        .filter(
            (F.col("__lmax").isNull() | (F.col("__lmax") <= y))
            & (F.col("__hmax").isNull() | (F.col("__hmax") <= y))
        )
    )
    return out.drop("__bkt", "__hmax", "__lmax").unionByName(null_rows)


def interpolate_linear(
    df: DataFrame,
    part: list[str],
    ts_col: str,
    value: Column,
    out: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Linear interpolation of NULL gaps in a keyed time series — the
    sensor/feature-prep fill between forward-fill (W2) and model-based
    imputation. For a NULL at time t between the previous non-null
    (t0, v0) and the next non-null (t1, v1):
    v = v0 + (v1 - v0) * (t - t0) / (t1 - t0), rounded to 6dp.
    Leading/trailing runs (no anchor on one side) stay NULL — callers
    chain forward_fill/backfill if they want extrapolation.

    Physical shape: two frames over the SAME (keys, ts) window spec —
    last-non-null looking back, first-non-null looking forward — so
    Catalyst evaluates both in ONE Window operator, one shuffle on the
    keys, no self-join, no sort repetition. Scales exactly like W1/W2.
    ``ts_col`` must be numeric (epoch) — cast timestamps first so the
    ratio arithmetic is exact and engine-portable.
    """
    w = Window.partitionBy(*part).orderBy(ts_col, *(tiebreak or []))
    back = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, Window.unboundedFollowing)
    t = F.col(ts_col)
    anchored = F.when(value.isNotNull(), F.struct(t.alias("t"), value.alias("v")))
    prev = F.last(anchored, ignorenulls=True).over(back)
    nxt = F.first(anchored, ignorenulls=True).over(fwd)
    interp = F.round(
        prev["v"]
        + (nxt["v"] - prev["v"])
        * (t - prev["t"])
        / (nxt["t"] - prev["t"]),
        6,
    )
    filled = F.when(value.isNotNull(), F.round(value, 6)).otherwise(
        # both anchors present and distinct timestamps -> interpolate;
        # identical anchor (value non-null would have matched above, so
        # this is a NULL between two anchors at the same ts) -> prev
        F.when(
            prev.isNotNull() & nxt.isNotNull(),
            F.when(nxt["t"] == prev["t"], F.round(prev["v"], 6)).otherwise(interp),
        )
    )
    return df.withColumn(out, filled)


def backward_fill(
    df: DataFrame, part: list[str], order: list[str], value: Column, out: str, default=None
) -> DataFrame:
    """W2's mirror: first non-null carried BACKWARD (next-observation
    fill). Same single-Window shape as forward_fill, frame flipped to
    (current, unbounded following); ``default`` fills the trailing run."""
    w = (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = F.first(value, ignorenulls=True).over(w)
    if default is not None:
        filled = F.coalesce(filled, F.lit(default))
    return df.withColumn(out, filled)
