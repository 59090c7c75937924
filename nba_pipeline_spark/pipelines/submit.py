"""spark-submit entry point — the scheduler seam of the reference DAGs
(reference: data_ingestion/dags/scrape_data_to_gcs.py:199-215 wires six
dataset DAGs, @once for the season-independent tables and @yearly with
``catchup=True`` over 1997-2023 for games/playbyplay/boxscores;
gcs_to_bq_dag.py chains the warehouse load downstream).

Airflow's scheduler survives only as this contract: a cron/Composer/
systemd timer runs

    spark-submit --master ... -m nba_pipeline_spark.pipelines.submit \
        --out-dir /lake --seasons 1996,2018

and gets back dependency-ordered execution, per-task retries,
downstream skip, season backfill isolation (pipelines/runner.py), one
JSON report line per DAG run on stdout, and a non-zero exit code when
any run failed — everything the reference's ``default_args`` +
``catchup`` loop provided, with the cluster parallelism left to Spark.

Ingest frames come from the recorded-bytes fixtures (the sandbox has no
network; the fetch seam is sources/edge_ingest.py) — a production
deployment swaps ``--fixtures`` for the live edge source only.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from ..session import tune
from ..sources.cloud import save_as_warehouse_table
from ..sources.registry import write_partitioned
from . import fixtures
from .boxscores import build_boxscores
from .coaches import build_coaches
from .games import build_games
from .player_info import build_players
from .playbyplay import build_playbyplay
from .runner import Dag, DagRun, Task
from .salary import build_salaries


def once_dag(spark: SparkSession, out_dir: str, retries: int = 1) -> Dag:
    """The three @once reference DAGs (coaches, salary, player-info:
    scrape_data_to_gcs.py:198-260) as one dependency-ordered run —
    season-independent, so one ingest->build->write chain each."""

    def _write(name: str):
        def fn(ctx: dict) -> str:
            path = f"{out_dir}/raw/{name}"
            ctx[f"build_{name}"].write.mode("overwrite").parquet(path)
            return path

        return fn

    return Dag(
        "nba_once",
        [
            Task("ingest_coaches", lambda c: fixtures.coaches_raw(spark), retries=retries),
            Task("ingest_salary_cur", lambda c: fixtures.salary_raw_current(spark), retries=retries),
            Task("ingest_salary_hist", lambda c: fixtures.salary_raw_history(spark), retries=retries),
            Task("ingest_players", lambda c: fixtures.players_info_raw(spark), retries=retries),
            Task(
                "build_coaches",
                lambda c: build_coaches(c["ingest_coaches"])[0],
                deps=("ingest_coaches",),
            ),
            Task(
                "build_salaries",
                lambda c: build_salaries(
                    c["ingest_salary_cur"], c["ingest_salary_hist"], 1997
                ),
                deps=("ingest_salary_cur", "ingest_salary_hist"),
            ),
            Task(
                "build_players",
                lambda c: build_players(c["ingest_players"]),
                deps=("ingest_players",),
            ),
            Task("write_coaches", _write("coaches"), deps=("build_coaches",)),
            Task("write_salaries", _write("salaries"), deps=("build_salaries",)),
            Task("write_players", _write("players"), deps=("build_players",)),
        ],
    )


def season_dag(spark: SparkSession, out_dir: str, retries: int = 1) -> Dag:
    """The @yearly games/playbyplay/boxscores DAGs as one per-season run
    (params = seasonStartYear). Each backfill run writes ONLY its
    season's partition directory — idempotent re-runs, exactly the
    reference's one-object-per-season layout
    (scrape_data_to_gcs.py:262-275)."""

    def _season(ctx: dict) -> int:
        return int(ctx["params"])

    def ingest_games(ctx: dict) -> DataFrame:
        return fixtures.games_raw(spark).where(f"seasonStartYear = {_season(ctx)}")

    def write_season(name: str, partition_cols: list[str]):
        def fn(ctx: dict) -> str:
            # per-season partition dir: backfill overwrites its own
            # season only, never a sibling's (Airflow catchup semantics);
            # the season lives in the path, not in the rows
            path = f"{out_dir}/raw/{name}/seasonStartYear={_season(ctx)}"
            df = ctx[f"build_{name}"]
            if partition_cols:
                write_partitioned(df, path, partition_cols)
            else:
                df.write.mode("overwrite").parquet(path)
            return path

        return fn

    # In the reference the per-game scrapes are driven by the games
    # list of the same run (scrape_games_parquetize_upload_dag chains
    # them) — the dep on build_games preserves that ordering; the
    # fixture bytes are season-agnostic so the production swap point
    # is the ingest callable, not the DAG shape.
    return Dag(
        "nba_seasonal",
        [
            Task("ingest_games", ingest_games, retries=retries),
            Task(
                "build_games",
                lambda c: build_games(c["ingest_games"], spark).drop("seasonStartYear"),
                deps=("ingest_games",),
            ),
            Task("write_games", write_season("games", []), deps=("build_games",)),
            Task(
                "build_playbyplay",
                lambda c: build_playbyplay(fixtures.playbyplay_raw(spark)),
                deps=("build_games",),
            ),
            Task(
                "write_playbyplay",
                write_season("playbyplay", ["game_id"]),
                deps=("build_playbyplay",),
            ),
            Task(
                "build_boxscores",
                lambda c: build_boxscores(fixtures.boxscores_raw(spark)),
                deps=("build_games",),
            ),
            Task(
                "write_boxscores",
                write_season("boxscores", ["game_id"]),
                deps=("build_boxscores",),
            ),
        ],
    )


def warehouse_load(spark: SparkSession, out_dir: str) -> list[str]:
    """The downstream gcs_to_bq_dag: register every raw table in the
    catalog (local stand-in for the BigQuery production dataset)."""
    names = ["games", "playbyplay", "boxscores", "coaches", "salaries", "players"]
    loaded = []
    for name in names:
        try:
            df = spark.read.parquet(f"{out_dir}/raw/{name}")
        except Exception:  # noqa: BLE001 — a skipped upstream leaves no dir
            continue
        save_as_warehouse_table(df, f"wh_{name}")
        loaded.append(f"wh_{name}")
    return loaded


def _report(run: DagRun, dag: str) -> str:
    return json.dumps(
        {
            "dag": dag,
            "params": run.params,
            "ok": run.ok,
            "tasks": {
                n: {"state": r.state, "attempts": r.attempts, "error": r.error}
                for n, r in run.runs.items()
            },
        },
        sort_keys=True,
    )


def main(argv: Iterable[str] | None = None, spark: SparkSession | None = None) -> int:
    p = argparse.ArgumentParser(prog="nba_pipeline_spark.pipelines.submit")
    p.add_argument("--out-dir", required=True, help="lake root directory")
    p.add_argument(
        "--seasons",
        default="1996,2018",
        help="comma list of seasonStartYear values to backfill (@yearly catchup)",
    )
    p.add_argument("--retries", type=int, default=1, help="per-task retries")
    p.add_argument(
        "--skip-once", action="store_true", help="skip the @once dataset DAG"
    )
    args = p.parse_args(list(argv) if argv is not None else None)

    own_session = spark is None
    if own_session:
        # spark-submit supplies master/conf; plain `python -m` falls
        # back to local[*] through getOrCreate's defaults
        spark = SparkSession.builder.appName("nba_pipeline_submit").getOrCreate()
    tune(spark)

    runs: list[tuple[str, DagRun]] = []
    if not args.skip_once:
        runs.append(("nba_once", once_dag(spark, args.out_dir, args.retries).run()))
    seasons = [int(s) for s in str(args.seasons).split(",") if s.strip()]
    sdag = season_dag(spark, args.out_dir, args.retries)
    runs.extend(("nba_seasonal", r) for r in sdag.backfill(seasons))

    for dag_name, run in runs:
        print(_report(run, dag_name))

    ok = all(r.ok for _, r in runs)
    if ok:
        print(json.dumps({"warehouse": warehouse_load(spark, args.out_dir)}))
    if own_session:
        spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
