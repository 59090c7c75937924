"""Golden end-to-end tests for the recomposed reference pipelines
(SURVEY §5.3) on FIXTURES.md §B frames."""

from __future__ import annotations

from nba_pipeline_spark.pipelines import fixtures as FX
from nba_pipeline_spark.pipelines.boxscores import build_boxscores
from nba_pipeline_spark.pipelines.coaches import build_coaches
from nba_pipeline_spark.pipelines.games import build_games
from nba_pipeline_spark.pipelines.player_info import build_players
from nba_pipeline_spark.pipelines.playbyplay import build_playbyplay
from nba_pipeline_spark.pipelines.salary import build_salaries


def test_games_pipeline(spark):
    out = build_games(FX.games_raw(spark), spark).orderBy("datetime").collect()
    # 'Playoffs' header dropped, exhibition game dropped -> 5 rows
    assert len(out) == 5
    dates = [str(r["datetime"])[:10] for r in out]
    assert dates == ["1996-10-29", "1996-10-30", "1997-06-01", "2018-10-16", "2018-10-17"]
    # isRegular: regular-season games 1, the June playoff game 0
    by_date = {str(r["datetime"])[:10]: r for r in out}
    assert by_date["1996-10-29"]["isRegular"] == 1
    assert by_date["1997-06-01"]["isRegular"] == 0
    # deterministic surrogate keys: unique, stable across rebuilds
    again = build_games(FX.games_raw(spark), spark).orderBy("datetime").collect()
    assert [r["game_id"] for r in out] == [r["game_id"] for r in again]
    assert len({r["game_id"] for r in out}) == 5


def test_playbyplay_pipeline(spark):
    out = build_playbyplay(FX.playbyplay_raw(spark)).orderBy("seq").collect()
    # header junk row (seq 3) filtered
    assert [r["seq"] for r in out] == [1, 2, 4, 5, 6, 7, 8, 9]
    by_seq = {r["seq"]: r for r in out}
    # period counter: marker at seq1 doesn't increment (game start); seq6 does
    assert [by_seq[s]["period"] for s in (1, 2, 4, 5, 6, 7)] == [1, 1, 1, 1, 2, 2]
    assert [by_seq[s]["period"] for s in (8, 9)] == [1, 1]
    # score forward-fill with 0 start
    assert (by_seq[1]["awayPoints"], by_seq[1]["homePoints"]) == (0, 0)
    assert (by_seq[2]["awayPoints"], by_seq[2]["homePoints"]) == (2, 0)
    assert (by_seq[5]["awayPoints"], by_seq[5]["homePoints"]) == (2, 3)  # carried
    assert (by_seq[7]["awayPoints"], by_seq[7]["homePoints"]) == (3, 3)
    # dup artifact nulled
    assert by_seq[5]["point_away"] is None
    # time parse
    assert by_seq[4]["periodTime"] == 601


def test_boxscores_pipeline(spark):
    out = build_boxscores(FX.boxscores_raw(spark)).orderBy("seq").collect()
    # marker rows removed
    names = [r["playerName"] for r in out]
    assert "Reserves" not in names and "Team Totals" not in names
    flags = {r["playerName"]: r["isStarter"] for r in out}
    assert flags == {
        "Starter One": 1, "Starter Two": 1, "Bench One": 0,
        "Starter Three": 1, "Bench Two": 0,
    }
    assert "FG%" not in build_boxscores(FX.boxscores_raw(spark)).columns


def test_coaches_pipeline(spark):
    head, assistant = build_coaches(FX.coaches_raw(spark))
    h = head.orderBy("seasonStartYear").collect()
    # 'Career' row dropped; only numeric-G rows in head
    assert [(r["coachName"], r["seasonStartYear"], r["coachType"]) for r in h] == [
        ("Phil Jackson", 1996, "Head Coach"),
        ("Rick Smith", 1999, "Head Coach"),
    ]
    assert h[0]["games_reg"] == 82 and h[0]["wins_playoff"] == 15
    a = assistant.orderBy("seasonStartYear").collect()
    assert [(r["coachName"], r["coachType"]) for r in a] == [
        ("Jane Doe", "Assistant Coach"),
        ("Jane Doe", "Player Development"),
    ]


def test_salary_pipeline(spark):
    out = build_salaries(
        FX.salary_raw_current(spark), FX.salary_raw_history(spark), current_season=1997
    ).orderBy("playerName").collect()
    by_name = {r["playerName"]: r for r in out}
    assert by_name["Michael Jordan"]["salary"] == 33140000
    assert by_name["Michael Jordan"]["inflationAdjSalary"] is None  # U1 null-fill
    assert by_name["Magic Johnson"]["inflationAdjSalary"] == 29100000
    assert by_name["Magic Johnson"]["seasonStartYear"] == 1996


def test_players_pipeline(spark):
    out = build_players(FX.players_info_raw(spark)).orderBy("playerName").collect()
    by_name = {r["playerName"]: r for r in out}
    assert by_name["Michael Jordan"]["heightInches"] == 78
    assert by_name["Tall Center"]["heightInches"] == 86
    assert str(by_name["Michael Jordan"]["birthDate"]) == "1963-02-17"


# Schema strings (types and nullability) and sha256 digests of the sorted
# JSON rows of the three season builders on the fixtures. A rewrite of a
# builder's plan must reproduce these exactly.
SEASON_PINS = {
    "games": (
        "seasonStartYear bigint, awayTeam string, pointsAway double, "
        "homeTeam string, pointsHome double, attendance int, notes string, "
        "startET string, datetime timestamp, isRegular int, game_id string",
        "6cfcd5aef739007f75aab0e67917a4bb812d5ebfa9caf4058d4f5ff0cbbe5ce2",
    ),
    "playbyplay": (
        "play_id string, game_id string, seq bigint, periodTime int, "
        "period bigint, awayPoints int NOT NULL, homePoints int NOT NULL, "
        "event_away string, point_away string, event_home string, "
        "point_home string, score string",
        "245533d11a2a8b4e52d86569ad030def1afaea1078f8833634313ce2609c64ea",
    ),
    "boxscores": (
        "game_id string, teamName string, playerName string, MP string, "
        "PTS double, seq bigint, isStarter int NOT NULL, secondsPlayed int, "
        "boxscore_id string",
        "98a007dcf30632976aea6503e7b6332c4f9b05e77dc41921769bb409a7662024",
    ),
}


def test_season_builders_pinned_schema_and_rows(spark):
    import hashlib

    built = {
        "games": build_games(FX.games_raw(spark), spark),
        "playbyplay": build_playbyplay(FX.playbyplay_raw(spark)),
        "boxscores": build_boxscores(FX.boxscores_raw(spark)),
    }
    for name, df in built.items():
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}{'' if f.nullable else ' NOT NULL'}"
            for f in df.schema
        )
        rows = sorted(r[0] for r in df.selectExpr("to_json(struct(*))").collect())
        digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
        assert (schema, digest) == SEASON_PINS[name], name
