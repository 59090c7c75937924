"""Reference-shaped fixture frames (FIXTURES.md §B).

Tiny in-memory tables mirroring the raw scraped inputs of the reference
pipeline, including the dirty-data quirks each transform must survive.
Used by the golden end-to-end tests; the edge scrape itself (HTML fetch)
is out of engine scope by design (SURVEY.md §2.1 S1: ingest boundary).
Each frame is built through Arrow (`partitioning.rows_frame`) with an
explicit schema, so no Python worker process starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.partitioning import rows_frame

GAMES_RAW_SCHEMA = (
    "Date string, startET string, awayTeam string, pointsAway double, "
    "homeTeam string, pointsHome double, attendance string, notes string, "
    "seasonStartYear bigint"
)

GAMES_RAW = [
    # regular 1996 season rows ('Tue, Oct 29, 1996' shape, games.py:51)
    ("Tue, Oct 29, 1996", None, "Chicago Bulls", 105.0, "Boston Celtics", 92.0, "18624", None, 1996),
    ("Wed, Oct 30, 1996", None, "Charlotte Hornets", 99.0, "New York Knicks", 103.0, "19763", None, 1996),
    # section-header row dropped by F1 (games.py:50)
    ("Playoffs", None, None, None, None, None, None, None, 1996),
    ("Sun, Jun 1, 1997", None, "Utah Jazz", 101.0, "Chicago Bulls", 97.0, "21333", None, 1996),
    # 2018 exhibition games before the season start get dropped (games.py:70-72)
    ("Fri, Sep 28, 2018", "7:00p", "Melbourne United", 84.0, "Philadelphia 76ers", 104.0, "10201", "exhibition", 2018),
    ("Tue, Oct 16, 2018", "8:00p", "Philadelphia 76ers", 87.0, "Boston Celtics", 105.0, "18624", None, 2018),
    # unplayed game: null points (filtered downstream by playbyplay, kept in games)
    ("Wed, Oct 17, 2018", "7:30p", "Oklahoma City Thunder", None, "Golden State Warriors", None, None, None, 2018),
]


def games_raw(spark: SparkSession) -> DataFrame:
    return rows_frame(spark, GAMES_RAW, GAMES_RAW_SCHEMA)


PBP_RAW_SCHEMA = (
    "time string, event_away string, point_away string, event_home string, "
    "point_home string, score string, game_id string, seq bigint"
)

PBP_RAW = [
    # game g1: two periods; 720-second marker starts each period
    ("12:00.0", "Jump ball", None, None, None, None, "g1", 1),
    ("11:43.0", "A. Smith makes 2-pt", "2", None, None, "2-0", "g1", 2),
    # header junk row whose time doesn't parse (playByplay.py:116-117)
    ("1st Q", None, None, None, None, None, "g1", 3),
    ("10:01.5", None, None, "B. Jones makes 3-pt", "3", "2-3", "g1", 4),
    # dup artifact: event text == point text -> null-out (playByplay.py:67-76)
    ("09:30.0", "Timeout", "Timeout", None, None, None, "g1", 5),
    ("12:00.0", None, None, None, None, None, "g1", 6),  # period 2 marker
    ("11:10.0", "A. Smith makes ft", "1", None, None, "3-3", "g1", 7),
    # game g2: single period
    ("12:00.0", "Jump ball", None, None, None, None, "g2", 8),
    ("08:22.1", None, None, "C. Brown makes 2-pt", "2", "0-2", "g2", 9),
]


def playbyplay_raw(spark: SparkSession) -> DataFrame:
    return rows_frame(spark, PBP_RAW, PBP_RAW_SCHEMA)


BOX_RAW_SCHEMA = (
    "game_id string, teamName string, playerName string, MP string, "
    "PTS double, `FG%` double, seq bigint"
)

BOX_RAW = [
    # starters come before the 'Reserves' marker (boxScores.py:61-76)
    ("g1", "BOS", "Starter One", "34:12", 18.0, 0.5, 1),
    ("g1", "BOS", "Starter Two", "30:01", 12.0, 0.4, 2),
    ("g1", "BOS", "Reserves", None, None, None, 3),
    ("g1", "BOS", "Bench One", "14:55", 6.0, 0.3, 4),
    ("g1", "BOS", "Team Totals", "240", 96.0, 0.45, 5),
    ("g1", "CHI", "Starter Three", "36:40", 25.0, 0.6, 6),
    ("g1", "CHI", "Reserves", None, None, None, 7),
    ("g1", "CHI", "Bench Two", "12:02", 4.0, 0.2, 8),
    ("g1", "CHI", "Team Totals", "240", 101.0, 0.5, 9),
]


def boxscores_raw(spark: SparkSession) -> DataFrame:
    return rows_frame(spark, BOX_RAW, BOX_RAW_SCHEMA)


COACHES_RAW_SCHEMA = (
    "coachName string, coach_id bigint, Season string, Age string, "
    "Tm string, Lg string, G string, W string, L string, WLpct string, "
    "G2 string, W2 string, L2 string, WL2pct string"
)

COACHES_RAW = [
    ("Phil Jackson", 1, "1996-97", "51", "CHI", "NBA", "82", "69", "13", ".841", "19", "15", "4", ".789"),
    # non-season row dropped by createMask (coaches.py:64-72)
    ("Phil Jackson", 1, "Career", None, None, None, "1640", "1155", "485", ".704", "333", "229", "104", ".688"),
    # assistant row: G not numeric -> coachType + isNumber filter (coaches.py:86-110)
    ("Jane Doe", 2, "1997-98", "44", "BOS", "NBA", "Assistant Coach", None, None, None, None, None, None, None),
    ("Jane Doe", 2, "1998-99", "45", "BOS", "NBA", "Player Development", None, None, None, None, None, None, None),
    ("Rick Smith", 3, "1999-00", "50", "NYK", "NBA", "82", "40", "42", ".488", None, None, None, None),
]


def coaches_raw(spark: SparkSession) -> DataFrame:
    return rows_frame(spark, COACHES_RAW, COACHES_RAW_SCHEMA)


SALARY_CUR_SCHEMA = "rk string, playerName string, salary string"
SALARY_CUR = [
    ("1", "Michael Jordan", "$33,140,000"),
    ("2", "Patrick Ewing", "$20,500,000"),
]

SALARY_HIST_SCHEMA = (
    "rk string, playerName string, salary string, inflationAdjSalary string"
)
SALARY_HIST = [
    ("1", "Magic Johnson", "$14,660,000", "$29,100,000"),
]


def salary_raw_current(spark: SparkSession) -> DataFrame:
    return rows_frame(spark, SALARY_CUR, SALARY_CUR_SCHEMA)


def salary_raw_history(spark: SparkSession) -> DataFrame:
    return rows_frame(spark, SALARY_HIST, SALARY_HIST_SCHEMA)


PLAYERS_RAW_SCHEMA = (
    "Player string, `From` bigint, `To` bigint, Pos string, Ht string, "
    "Wt string, `Birth Date` string, Colleges string"
)
PLAYERS_RAW = [
    ("Michael Jordan", 1985, 2003, "SG", "6-6", "198", "February 17, 1963", "UNC"),
    ("Magic Johnson", 1980, 1996, "PG", "6-9", "215", "August 14, 1959", "Michigan State"),
    ("Tall Center", 1990, 2000, "C", "7-2", "260", "January 1, 1970", None),
]


def players_info_raw(spark: SparkSession) -> DataFrame:
    return rows_frame(spark, PLAYERS_RAW, PLAYERS_RAW_SCHEMA)
