"""Play-by-play dataset builder — Spark recomposition of the reference's
``playByplay.py`` chain (reference: data_ingestion/dags/playByplay.py).

Reference chain: filter unplayed games (playByplay.py:98) -> team-name
abbreviation map + CHH fix (playByplay.py:84-99, 5-9) -> per-game fetch
loop + concat (playByplay.py:104-110) -> uuid4 play_id (:113) -> mm:ss
time parse (:115) -> numeric-time filter (:116-117) -> period counter
scan (:19-41) -> score forward-fill scan (:43-65) -> duplicate null-out
(:67-76) -> sink.

Spark version: the three sequential scans become window functions over
(game_id, seq) — the explicit ordering contract replacing scrape order.
One shuffle on game_id serves all three windows. The plan is four
Dataset ops in SQL text: the time parse, the header filter, one
projection holding the windows and the null-out, and the play id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.scalar import mmss_to_seconds, null_out_dupes, score_pair, surrogate_key
from ..operators.windows import forward_fill_sql, running_count_with_reset_sql

ORDER = ["seq"]
PART = ["game_id"]


def build_playbyplay(pbp_raw: DataFrame) -> DataFrame:
    df = pbp_raw.selectExpr("*", f"{mmss_to_seconds('time')} AS periodTime")
    # F7: drop embedded header rows whose time doesn't parse
    df = df.where("periodTime IS NOT NULL")
    # M3: parse 'a-b' score
    away, home = score_pair("score")
    df = df.selectExpr(
        "game_id", "seq", "periodTime",
        # W1: period number — +1 at every 12:00 (=720s) marker after the first row
        f"{running_count_with_reset_sql(PART, ORDER, 'periodTime = 720')} AS period",
        # W2: carry last known score; 0 at game start
        f"{forward_fill_sql(PART, ORDER, away, default=0)} AS awayPoints",
        f"{forward_fill_sql(PART, ORDER, home, default=0)} AS homePoints",
        # M8: null-out scraped artifacts where event text duplicates point text
        "event_away",
        f"{null_out_dupes('event_away', 'point_away', 'point_away')} AS point_away",
        "event_home",
        f"{null_out_dupes('event_home', 'point_home', 'point_home')} AS point_home",
        "score",
    )
    # M10: deterministic play id, hashed above the windows so their
    # shuffle does not carry it
    return df.selectExpr(f"{surrogate_key('game_id', 'seq')} AS play_id", "*")
