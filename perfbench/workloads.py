"""The benchmark's workloads: which registry queries and pipeline DAGs a
timed pass runs, against a warm or a cold stage.
"""

from __future__ import annotations

from dataclasses import dataclass

# Scale factor of the inputs (perfbench/testdata/sf<SF>); the smoke tests
# pass --sf 0.001 instead.
SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # warm: every timed pass reuses the stage that the set-up pass filled.
    # cold: every pass, set-up included, gets a fresh sf alias (so fresh
    # stage dirs) and a fresh pipeline output dir, and also runs the
    # reference season DAG (SEASON_DAG) ahead of its queries.
    warm: bool
    why: str


# A cold pass's pipeline request: the @yearly season_dag run (ingest,
# build and partitioned write of games, play-by-play and box scores) for
# the 2018 season of the recorded fixtures (pipelines/fixtures.py).
SEASON = 2018
SEASON_DAG = f"season_dag:{SEASON}"

# Row counts of the raw tables that run writes; the fixtures are fixed,
# so these are too.
SEASON_ROWS = {"games": 2, "playbyplay": 8, "boxscores": 5}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="llm_curation",
            queries=("q_pagerank", "q_dedup_embedding", "q_decontaminate_semantic"),
            warm=True,
            why="LLM-data curation on a warm stage: eager PageRank power "
            "iterations, then embedding near-dup and decontamination pair scoring",
        ),
        Workload(
            name="lake_cold",
            queries=("q_manifest_upsert",),
            warm=False,
            why="a reference season DAG and a manifest MERGE from an empty stage "
            "every pass: the write path the warm workload never pays",
        ),
    )
}
