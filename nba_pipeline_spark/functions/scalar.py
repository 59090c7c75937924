"""Scalar functions: string / date / math / conditional (SURVEY.md §2.9).

Every reference ``.apply(lambda)`` compiles to a built-in expression
here — zero Python UDFs, so expressions stay inside whole-stage codegen
and predicates built from them still push down.

Each helper takes SQL text (a column name or another helper's output)
and returns SQL text: builders splice it into one ``selectExpr`` per
plan layer, and Column-API callers parse it with one ``F.expr``. The
same tree built through the Column API costs Py4J round trips per node
at plan-construction time.

Reference parity is cited per function.
"""

from __future__ import annotations

from .vectors import sql_str


def split_part(col: str, sep: str, index: int) -> str:
    """M1/M3: ``s.split(sep)[index]`` (coaches.py:76 season start year;
    playByplay.py:43-47 score pair). 0-based index; `sep` is a regex."""
    return f"split({col}, {sql_str(sep)})[{index}]"


def season_start_year(col: str) -> str:
    """M1: ``int(Season.split('-')[0])`` — ANSI-safe via try_cast."""
    return f"try_cast({split_part(col, '-', 0)} AS INT)"


def mmss_to_seconds(col: str) -> str:
    """M2: ``"11:43.0"`` -> 703 (playByplay.py:11-17: min*60 + sec,
    fraction stripped)."""
    minute = f"try_cast({split_part(col, ':', 0)} AS INT)"
    sec = f"try_cast({split_part(split_part(col, ':', 1), '[.]', 0)} AS INT)"
    return f"({minute} * 60 + {sec})"


def score_pair(col: str) -> tuple[str, str]:
    """M3: ``"12-15"`` -> (12, 15) (playByplay.py:43-47). Unparseable
    strings yield NULLs (feeds the W2 forward-fill)."""
    return (
        f"try_cast({split_part(col, '-', 0)} AS INT)",
        f"try_cast({split_part(col, '-', 1)} AS INT)",
    )


def date_parts(col: str) -> dict[str, str]:
    """M4: datetime -> year/month/day components (playByplay.py:105)."""
    return {"year": f"year({col})", "month": f"month({col})", "day": f"dayofmonth({col})"}


def parse_date(col: str, fmt: str = "MMM d, yyyy") -> str:
    """M5: explicit-format date parse replacing pandas inference
    (games.py:51 'Tue, Oct 29, 1996').

    Spark >= 3 rejects day-of-week (EEE) in PARSE patterns, so the
    weekday prefix is stripped before parsing — it carries no
    information the date doesn't.

    Tolerant by design: unparseable input yields NULL (try_to_timestamp)
    rather than an ANSI DateTimeException — one junk scraped row must
    not kill a 100 TB ingest job; the reference's pandas path likewise
    coerced to NaT.
    """
    stripped = f"regexp_replace({col}, '^[A-Za-z]+, ', '')"
    return f"CAST(try_to_timestamp({stripped}, {sql_str(fmt)}) AS DATE)"


def fix_hornets(season: str, team: str, abbrev: str) -> str:
    """M6: the CHH special case (playByplay.py:5-9) — 2-column CASE."""
    return f"CASE WHEN {season} < 2014 AND {team} = 'Charlotte Hornets' THEN 'CHH' ELSE {abbrev} END"


def bool_to_int(col: str) -> str:
    """M7: boolean -> 0/1 (games.py:64-65)."""
    return f"CAST({col} AS INT)"


def null_out_dupes(target: str, compare: str, other: str) -> str:
    """M8: cleanDuplicateValues (playByplay.py:67-76) — NULL where the
    event text equals the point text or the point is NULL."""
    return (
        f"CASE WHEN {target} = {compare} THEN NULL "
        f"WHEN {compare} IS NULL THEN NULL ELSE {other} END"
    )


def coach_type(col: str) -> str:
    """M9: defineCoachType (coaches.py:86-96) — try-cast dispatch:
    numeric G -> 'Head Coach'; already-normalized suffixes kept; anything
    containing 'Coach' truncated to '...Coach'."""
    return (
        f"CASE WHEN try_cast({col} AS INT) IS NOT NULL THEN 'Head Coach' "
        f"WHEN NOT contains({col}, 'Coach') THEN {col} "
        f"ELSE concat({split_part(col, 'Coach', 0)}, 'Coach') END"
    )


def surrogate_key(*natural_key: str) -> str:
    """M10: deterministic surrogate key.

    The reference uses ``uuid.uuid4().hex`` (games.py:83,
    playByplay.py:113) — nondeterministic across task retries, which
    corrupts joins at scale. Policy: sha256 of the natural key; stable
    under retry, speculative execution, and backfill re-runs.
    """
    return f"sha2(concat_ws({sql_str(chr(0x1F))}, {', '.join(natural_key)}), 256)"


def random_uuid() -> str:
    """M10 (parity only): the reference's behavior — marked
    nondeterministic by Spark; do not join on it across stages."""
    return "uuid()"
