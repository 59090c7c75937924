"""Coaches dataset builder — Spark recomposition of the reference's
``coaches.py`` chain (reference: data_ingestion/dags/coaches.py).

Reference chain: scrape coach URLs + order-preserving dedup
(coaches.py:15-22), per-coach career tables with duplicated G/W/L/W%
headers disambiguated _reg/_playoff (:45-46, 79-80), season-shape mask
filter (:64-72), seasonStartYear from 'YYYY-YY' (:76), coachType
dispatch (:86-96), numeric-G filter (:102-110).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import coach_type, season_start_year
from ..operators.filters import filter_castable, split_arity_predicate
from ..operators.projections import rename_columns


def build_coaches(coaches_raw: DataFrame) -> DataFrame:
    # P7 equivalent: fixture already carries positional names G,W,L,WLpct /
    # G2,W2,L2,WL2pct — normalize to the reference's _reg/_playoff names.
    df = rename_columns(
        coaches_raw,
        {
            "G": "G_reg", "W": "W_reg", "L": "L_reg", "WLpct": "WLpct_reg",
            "G2": "G_playoff", "W2": "W_playoff", "L2": "L_playoff", "WL2pct": "WLpct_playoff",
        },
    )
    # M9 FIRST: classify coach rows while non-numeric G_reg still present
    df = df.withColumn("coachType", F.expr(coach_type("G_reg")))
    # F5: keep only 'YYYY-YY' season rows (drops 'Career')
    df = df.filter(split_arity_predicate("Season", "-", 2))
    # M1: season start year
    df = df.withColumn("seasonStartYear", F.expr(season_start_year("Season")))
    # F6: reference's isNumber filter drops rows whose G_reg isn't numeric
    # AFTER using them for coachType — head-coach season rows remain
    head = filter_castable(df, "G_reg", "int")
    assistant = df.filter(F.col("G_reg").try_cast("int").isNull()).select(
        "coachName", "coach_id", "seasonStartYear", "Tm", "coachType"
    )
    return head.select(
        "coachName", "coach_id", "seasonStartYear", "Tm", "coachType",
        F.col("G_reg").try_cast("int").alias("games_reg"),
        F.col("W_reg").try_cast("int").alias("wins_reg"),
        F.col("L_reg").try_cast("int").alias("losses_reg"),
        F.col("G_playoff").try_cast("int").alias("games_playoff"),
        F.col("W_playoff").try_cast("int").alias("wins_playoff"),
        F.col("L_playoff").try_cast("int").alias("losses_playoff"),
    ), assistant
