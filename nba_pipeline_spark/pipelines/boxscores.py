"""Box-scores dataset builder — Spark recomposition of the reference's
``boxScores.py`` chain (reference: data_ingestion/dags/boxScores.py).

Reference chain: per-game fetch -> two-level header flatten
(boxScores.py:47-51) -> away/home flag (:53-57) -> isStarter marker scan
(:61-76) -> drop marker rows (:79) -> drop percentage cols (:80).

Spark version: the isStarter scan is the marker_flag_fill window over
(game_id, teamName, seq): one projection and one filter, then one
projection for the parsed minutes and the surrogate key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.scalar import mmss_to_seconds, surrogate_key
from ..functions.vectors import sql_ident
from ..operators.windows import marker_flag_fill


def build_boxscores(box_raw: DataFrame) -> DataFrame:
    # W3: rows after 'Reserves' are bench (0); after 'Team Totals' the next
    # table's rows are starters again (1); first rows default 1; marker
    # rows dropped (boxScores.py:61-79).
    df = marker_flag_fill(
        box_raw,
        part=["game_id", "teamName"],
        order=["seq"],
        marker_value={"Reserves": 0, "Team Totals": 1},
        marker_col="playerName",
        out="isStarter",
        first_default=1,
    )
    keep = [sql_ident(c) for c in df.columns if c not in ("FG%", "3P%", "FT%")]  # boxScores.py:80
    return df.selectExpr(
        *keep,
        f"{mmss_to_seconds('MP')} AS secondsPlayed",
        f"{surrogate_key('game_id', 'teamName', 'playerName')} AS boxscore_id",
    )
