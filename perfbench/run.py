"""Closed-loop benchmark of nba_pipeline_spark, end to end and by layer.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 4 --trace 0

One client on one driver thread submits the next request only after the
previous one has fully materialized (no-op sink), on ``local[<cpus>]``.
The inputs are the seed-42 synthetic tables in perfbench/testdata. The
seed sets the query order and names the fresh sf aliases under which
the program stages its artifacts. The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Each run is also appended to
``perfbench/results/runs.jsonl``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
from tracing import (  # noqa: E402
    RssPeak, StatusStore, Tracer, descendants, instrument, python_worker_cpu_s, stage_sum,
    tree_cpu_s,
)
from workloads import SEASON, SEASON_DAG, SEASON_ROWS, SF, WORKLOADS, Workload  # noqa: E402

OPERATOR_MODULES = (
    "dedup", "similarity", "graph", "bpe", "partitioning",
    "matview", "cdc", "windows", "joins", "aggregates",
)
SOURCE_MODULES = ("registry", "manifest")
PKG = "nba_pipeline_spark"
# Every window holds at least two passes. The first timed pass still
# runs slower than the next (the JIT is compiling), and a window that
# held one pass on a slow run and two on a fast one split the results by
# pass count.
MIN_PASSES = 2


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated q-th percentile (0 <= q <= 100)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def stage_roots(sf_dir: str) -> list[str]:
    """Where the package stages artifacts for one sf_dir: it keys them by
    the sf_dir path (plans/relational_queries.py ``_stage_dir``,
    streaming/windows.py stream source), so a fresh alias gets fresh
    directories."""
    tag = sf_dir.strip("/").replace("/", "_")
    return [f"/tmp/nba_spark_lake/{tag}", f"/tmp/nba_stream_src/{tag}"]


def tree_size(paths: list[str]) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``paths``."""
    nbytes = nfiles = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            for f in files:
                fp = os.path.join(dirpath, f)
                if not os.path.islink(fp):
                    nbytes += os.path.getsize(fp)
                    nfiles += 1
    return nbytes, nfiles


def source_digest() -> str:
    """The commit, or a digest of the package sources outside git."""
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for p in sorted((ROOT / PKG).rglob("*.py")):
        h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:12]


class Bench:
    def __init__(self, wl: Workload, seed: int, seconds: float, trace: bool, sf: float | None):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf = sf if sf is not None else SF
        # Spark's task threads take half the cores; the rest are for the
        # driver thread the loop waits on, the JIT and GC threads, and the
        # Python driver and workers. With one task thread per core those
        # queued behind the tasks, and a run measured the scheduler as much
        # as the program.
        self.cpus = max(1, len(os.sched_getaffinity(0)) // 2)
        self.work = HERE / ".work" / f"{wl.name}-seed{seed}-{os.getpid()}"
        self.data = str(HERE / "testdata" / f"sf{self.sf}")
        self.order = random.Random(seed).sample(wl.queries, len(wl.queries))
        self.attempted = 0
        self.failed = 0
        self.aliases: list[str] = []
        self.spark = None
        self.jvm_pid = None
        self.undo = None
        self.tracer = None
        self.store = None
        self.rss = None
        self.gate_s: dict[str, float] = {}
        self.setup_item_s: dict[str, float] = {}
        self.ticks0 = host_ticks()

    # -- lifecycle -------------------------------------------------------------

    def start(self) -> float:
        """Start the session; returns session start s."""
        if not os.path.isdir(self.data):
            raise FileNotFoundError(f"no input tables at {self.data}")
        self.src_bytes = tree_size([self.data])[0]
        for d in ("tmp", "spark-local", "warehouse"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        t0 = time.perf_counter()
        self.spark = (
            SparkSession.builder.appName(f"perfbench-{self.wl.name}")
            .master(f"local[{self.cpus}]")
            .config("spark.driver.memory", "1g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", str(self.work / "spark-local"))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            # The whole heap is committed and touched at start, so the peak
            # resident memory does not depend on when the collector ran.
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch",
            )
            .getOrCreate()
        )
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("OFF")
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.rss = RssPeak(self.jvm_pid).start()
        return start_s

    def close(self) -> None:
        if self.rss:
            self.rss.stop()
        if self.undo:
            self.undo()
        if self.spark is not None:
            workers = list(descendants(self.jvm_pid)) if self.jvm_pid else []
            gw = SparkContext._gateway
            try:
                self.spark.stop()
            finally:
                proc = gw.proc
                gw.shutdown()
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                _wait_gone(workers)
        for alias in self.aliases:
            self.clean(alias)
        shutil.rmtree(self.work, ignore_errors=True)

    def new_alias(self) -> str:
        """A fresh symlinked name for the sf dir. A cold workload's
        previous alias is measured by then, so its writes are deleted."""
        if self.aliases and not self.wl.warm:
            self.clean(self.aliases[-1])
        alias = str(self.work / f"sf{self.sf}-seed{self.seed}-{len(self.aliases)}")
        os.symlink(self.data, alias)
        self.aliases.append(alias)
        return alias

    def clean(self, alias: str) -> None:
        for p in stage_roots(alias) + [alias + "-out"]:
            shutil.rmtree(p, ignore_errors=True)

    # -- tracing ---------------------------------------------------------------

    def install_tracing(self) -> None:
        self.store = StatusStore(self.spark)
        self.tracer = Tracer(jobs=self.store.jobs_submitted)
        layers = {f"{PKG}.operators.{m}": f"operators.{m}" for m in OPERATOR_MODULES}
        layers.update({f"{PKG}.sources.{m}": f"sources.{m}" for m in SOURCE_MODULES})
        import nba_pipeline_spark.pipelines.submit  # noqa: F401  (bind before patching)
        import nba_pipeline_spark.plans.queries  # noqa: F401

        self.undo = instrument(self.tracer, layers)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    # -- one request -------------------------------------------------------------

    def run_query(self, name: str, sf_dir: str) -> None:
        from nba_pipeline_spark.plans.queries import REGISTRY

        with self.span("plans.build"):
            df = REGISTRY[name].fn(self.spark, sf_dir)
        if self.tracer and self.tracer.active:
            with self.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()

    def run_pipeline(self, out_dir: str) -> int:
        """The season DAG run; returns its failed task attempts."""
        from nba_pipeline_spark.pipelines.submit import season_dag

        with self.span("pipelines.dag"):
            run = season_dag(self.spark, out_dir).run(SEASON)
        if not run.ok:
            raise RuntimeError(f"{SEASON_DAG} failed: {[(r.name, r.state, r.error) for r in run.runs.values()]}")
        return sum(r.attempts - (r.state == "success") for r in run.runs.values())

    # -- passes --------------------------------------------------------------------

    def items(self) -> list[str]:
        return ([] if self.wl.warm else [SEASON_DAG]) + self.order

    def write_roots(self, alias: str) -> list[str]:
        roots = stage_roots(alias)
        if not self.wl.warm:
            roots.append(alias + "-out")
        return roots

    def setup_pass(self, alias: str) -> float:
        """One pass over the workload through the no-op sink, as a timed
        pass runs it, before timing starts; returns its seconds. It stages
        the artifacts a warm workload reuses and warms the JVM."""
        t0 = time.perf_counter()
        for item in self.items():
            self.attempted += 1
            t_item = time.perf_counter()
            try:
                self.run_item(item, alias)
            except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
                self.failed += 1
                print(f"FAILED {item}:\n{traceback.format_exc()}", file=sys.stderr)
            self.setup_item_s[item] = time.perf_counter() - t_item
        return time.perf_counter() - t0

    def run_item(self, item: str, alias: str) -> int:
        """One request; returns its failed pipeline task attempts."""
        if item == SEASON_DAG:
            return self.run_pipeline(alias + "-out")
        self.run_query(item, alias)
        return 0

    def window(self, next_alias, traced: bool) -> dict:
        """Closed loop: full passes over the workload, starting another
        until ``seconds`` have elapsed and MIN_PASSES are done.
        ``next_alias()`` gives the sf_dir of
        each pass. Returns per-request latencies, the stored-bytes ratio
        of each pass and, when traced, the layer metrics per pass."""
        lat, raw = defaultdict(list), defaultdict(list)
        ratios, files = [], []
        if traced:
            self.tracer.totals.clear()
            self.tracer.active = True
            spark_tot = defaultdict(float)
            cpu0 = python_worker_cpu_s(self.jvm_pid)
            jobs0 = self.store.jobs_submitted()
            wm = self.store.last_stage_id()
            pipe_failures = 0
        passes = 0
        cpu_start = tree_cpu_s(self.jvm_pid) + time.process_time()
        ticks_start = host_ticks()
        t_start = time.perf_counter()
        while passes < MIN_PASSES or time.perf_counter() - t_start < self.seconds:
            alias = next_alias()
            for item in self.items():
                self.attempted += 1
                ticks0, t0 = host_ticks(), time.perf_counter()
                try:
                    task_failures = self.run_item(item, alias)
                    raw[item].append(time.perf_counter() - t0)
                    lat[item].append(unstolen(raw[item][-1], ticks0, host_ticks()))
                    if traced:
                        pipe_failures += task_failures
                except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
                    self.failed += 1
                    print(f"FAILED {item}:\n{traceback.format_exc()}", file=sys.stderr)
                if traced:
                    new = self.store.stages_since(wm)
                    for f, v in stage_sum(new).items():
                        spark_tot[f] += v
                    wm = max([wm] + [sid for sid, _ in new])
            nbytes, nfiles = tree_size(self.write_roots(alias))
            ratios.append((self.src_bytes + nbytes) / self.src_bytes)
            files.append(nfiles)
            passes += 1
        elapsed = time.perf_counter() - t_start
        cpu_s = tree_cpu_s(self.jvm_pid) + time.process_time() - cpu_start
        out = {"lat": lat, "raw_lat": raw, "ratios": ratios, "elapsed": elapsed,
               "passes": passes, "cpu_s": cpu_s / passes,
               "steal_share": steal_share(ticks_start, host_ticks())}
        if traced:
            self.tracer.active = False
            t = self.tracer.totals
            spark_tot["jobs"] = self.store.jobs_submitted() - jobs0
            spark_tot["py_worker_cpu_s"] = python_worker_cpu_s(self.jvm_pid) - cpu0
            m = {
                "plans.build_s": t["plans.build"].incl_s,
                "plans.build_jobs": t["plans.build"].incl_jobs,
                "plans.plan_s": t["plans.plan"].incl_s,
                "spark.exec_s": t["spark.exec"].incl_s,
                "functions.py_worker_cpu_s": spark_tot["py_worker_cpu_s"],
                "sources.registry.s": t["sources.registry"].self_s,
                "sources.manifest.s": t["sources.manifest"].self_s,
                "sources.manifest.jobs": t["sources.manifest"].self_jobs,
                "sources.input_bytes": spark_tot["input_bytes"],
                "sources.output_bytes": spark_tot["output_bytes"],
                "pipelines.dag_s": t["pipelines.dag"].incl_s,
                "pipelines.task_failures": pipe_failures,
            }
            for f in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                      "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                m[f"spark.{f}"] = spark_tot[f]
            for mod in OPERATOR_MODULES:
                m[f"operators.{mod}.s"] = t[f"operators.{mod}"].self_s
                m[f"operators.{mod}.jobs"] = t[f"operators.{mod}"].self_jobs
            m = {k: v / passes for k, v in m.items()}
            m["spark.core_busy_frac"] = spark_tot["executor_run_s"] / (elapsed * self.cpus)
            m["sources.files_written"] = statistics.median(files)
            out["layers"] = m
        return out

    # -- correctness -----------------------------------------------------------------

    def gate(self, sf_dir: str) -> None:
        """Materialize every query and compare it with its oracle; records
        the Spark-side seconds of each in ``gate_s``. A cold workload's
        check first runs the season DAG on a fresh alias, whose output it
        then checks."""
        from nba_pipeline_spark.plans.queries import REGISTRY

        dag_ok = False
        if not self.wl.warm:
            sf_dir = self.new_alias()
            self.attempted += 1
            try:
                self.run_pipeline(sf_dir + "-out")
                dag_ok = True
            except Exception:  # noqa: BLE001
                self.failed += 1
                print(f"FAILED {SEASON_DAG}:\n{traceback.format_exc()}", file=sys.stderr)
        con = check.duck_con(sf_dir)
        for name in self.order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = REGISTRY[name].fn(self.spark, sf_dir).toPandas()
            except Exception:  # noqa: BLE001
                self.failed += 1
                print(f"FAILED {name}:\n{traceback.format_exc()}", file=sys.stderr)
                continue
            finally:
                self.gate_s[name] = time.perf_counter() - t0
            problems = self.check_one(name, got, con)
            if problems:
                self.failed += 1
                print(f"MISMATCH {name}: {'; '.join(problems)}", file=sys.stderr)
        if dag_ok:
            self.attempted += 1
            raw = f"{sf_dir}-out/raw"
            try:
                counts = {t: self.spark.read.parquet(f"{raw}/{t}").count() for t in SEASON_ROWS}
            except Exception as e:  # noqa: BLE001 - a missing output is a mismatch
                counts = repr(e)
            if counts != SEASON_ROWS:
                self.failed += 1
                print(f"MISMATCH {SEASON_DAG}: {counts} != {SEASON_ROWS}", file=sys.stderr)

    def check_one(self, name: str, got, con) -> list[str]:
        from nba_pipeline_spark.plans.queries import REGISTRY

        oracle = REGISTRY[name].oracle
        if oracle is not None:
            return check.compare(got, con.execute(oracle).fetchdf())
        return [f"no oracle for {name}"]

    # -- the run ----------------------------------------------------------------------

    def run(self) -> dict:
        ticks0 = host_ticks()
        start_s = self.start()
        if self.trace:
            self.install_tracing()
        alias = self.new_alias()
        stage_s = self.setup_pass(alias)
        setup_share = steal_share(ticks0, host_ticks())
        # the untimed check also leaves every request at its third
        # execution when the window starts, where its latency settles
        self.gate(alias)
        if self.wl.warm:
            next_alias = lambda: alias  # noqa: E731
        else:
            next_alias = self.new_alias
        if self.trace:
            traced = self.window(next_alias, traced=True)
        # with tracing on, this untraced window is the reference for the
        # tracing overhead
        plain = self.window(next_alias, traced=False)
        peak = self.rss.stop()

        samples = [x for xs in plain["lat"].values() for x in xs]
        wall = _composed_wall(plain["lat"], self.items())
        e2e = {
            "setup_s": ((start_s + stage_s) * (1 - setup_share), "s"),
            "wall_s": (wall, "s"),
            "query_p90_s": (percentile(samples, 90), "s"),
            "peak_rss_mb": (peak, "MB"),
            "stored_bytes_ratio": (statistics.median(plain["ratios"]), "ratio"),
        }
        if self.trace:
            layers = dict(traced["layers"])
            layers["session.start_s"] = start_s * (1 - setup_share)
            layers["session.stage_s"] = stage_s * (1 - setup_share)
            layers["trace.wall_s"] = _composed_wall(traced["lat"], self.items())
            layers["trace.overhead_s"] = layers["trace.wall_s"] - _composed_wall(plain["lat"], self.items())
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layers.items())}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        self.info = {
            "query_samples": len(samples),
            "passes": plain["passes"],
            "window_s": plain["elapsed"],
            "query_latencies_s": dict(plain["lat"]),
            "raw_query_latencies_s": dict(plain["raw_lat"]),
            "steal_share": {"setup": setup_share, "window": plain["steal_share"]},
            "gate_s": self.gate_s,
            "session_start_s": start_s,
            "setup_pass_s": stage_s,
            "setup_item_s": self.setup_item_s,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            # recorded but not bounded: on a shared host they spread too
            # close to any bound to catch a regression (perfbench/README.md)
            "query_p50_s": percentile(samples, 50),
            "cpu_s": plain["cpu_s"],
        }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def _composed_wall(lat: dict, items: list[str]) -> float:
    """Wall of one pass composed from each request's median latency."""
    return sum(statistics.median(lat[i]) for i in items if lat[i])


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the CPUs, from /proc/stat.
    Stolen ticks are those in which a CPU of this guest had work but the
    hypervisor ran another guest."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time the guest wanted between two host_ticks()
    readings that the hypervisor withheld."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def unstolen(seconds: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``seconds`` of wall time between two host_ticks() readings, less
    the hypervisor's steal: a thread that is ready to run is held back
    for the steal share of the time, so the request would have taken
    ``seconds * (1 - share)`` on CPUs of its own."""
    return seconds * (1 - steal_share(t0, t1))


def record(bench: Bench, result: dict) -> None:
    """Append this run to the artifact: one JSON line per run, keyed by
    (workload, sf, cpus, commit, seed, traced); nothing is merged."""
    out = HERE / "results"
    out.mkdir(exist_ok=True)
    row = {
        "key": {
            "workload": bench.wl.name,
            "sf": bench.sf,
            "cpus": bench.cpus,
            "commit": source_digest(),
            "seed": bench.seed,
            "traced": bench.trace,
        },
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "loadavg": os.getloadavg(),
        "cpu_steal_s": (host_ticks()[1] - bench.ticks0[1]) / os.sysconf("SC_CLK_TCK"),
        "seconds": bench.seconds,
        **bench.info,
        **result,
    }
    with open(out / "runs.jsonl", "a") as f:
        f.write(json.dumps(row) + "\n")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the scale factor")
    args = p.parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"{PKG} package not found at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), args.sf)
    try:
        result = bench.run()
    finally:
        bench.close()
    record(bench, result)
    info = bench.info
    print(
        f"{bench.wl.name}: {info['passes']} passes, {info['query_samples']} query samples "
        f"in {info['window_s']:.1f} s, steal share {info['steal_share']['window']:.3f}; "
        f"order {' '.join(bench.order)}"
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
