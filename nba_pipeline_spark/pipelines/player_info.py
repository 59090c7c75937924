"""Player-info dimension builder — Spark recomposition of the
reference's ``playerInfo.py`` (reference: data_ingestion/dags/playerInfo.py).

Reference chain: per-letter tables concat (:9), rename (:11). Extended
with the parse steps the warehouse layer needs: height 'F-I' -> inches,
birth date parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import split_part
from ..operators.projections import rename_columns


def build_players(players_raw: DataFrame) -> DataFrame:
    df = rename_columns(players_raw, {"Player": "playerName", "Birth Date": "birthDateRaw"})
    feet = F.expr(split_part("Ht", "-", 0)).try_cast("int")
    inches = F.expr(split_part("Ht", "-", 1)).try_cast("int")
    return df.select(
        "playerName",
        F.col("From").cast("int").alias("fromYear"),
        F.col("To").cast("int").alias("toYear"),
        F.col("Pos").alias("position"),
        (feet * 12 + inches).alias("heightInches"),
        F.col("Wt").try_cast("int").alias("weightLbs"),
        F.to_date(F.col("birthDateRaw"), "MMMM d, yyyy").alias("birthDate"),
        F.col("Colleges").alias("colleges"),
    )
