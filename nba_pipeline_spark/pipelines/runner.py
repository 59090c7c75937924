"""Thin job-runner: the engine-side replacement for the reference's
Airflow orchestration (reference: data_ingestion/dags/scrape_data_to_gcs.py
— six PythonOperator tasks chained per dataset, @yearly schedule with
catchup over seasons 1997-2023, max_active_runs=3; gcs_to_bq_dag.py —
load tasks downstream of ingest).

Not a scheduler: SURVEY §3 scopes the engine to plain callables, and
the schedule semantics survive as Trigger.AvailableNow incremental
loads (streaming/). What an engine user still needs from the DAG layer
is the execution contract, which this provides:

- dependency-driven execution: a task starts as soon as every task it
  depends on has succeeded, on its own thread, so independent chains
  run side by side (the reference's parallel per-dataset tasks). A
  task is mostly driver work (plan building, footer and manifest I/O,
  commits); overlapping those leaves Spark's scheduler several jobs to
  interleave on its task slots. Concurrency is the DAG's own width;
- per-task retries (Airflow ``retries=`` on the reference operators);
- downstream skip on failure (Airflow's upstream_failed state); a
  failed task's siblings still run;
- backfill: run the same DAG once per parameter (the reference's
  ``catchup=True`` season loop, scrape_data_to_gcs.py:271-275), with
  per-run isolation so one bad season doesn't stop the sweep.

Tasks share a mutable context dict (xcom analog): each task's return
value lands in ``ctx[task.name]`` for downstream tasks to read; a task
reads only its deps' entries, which are set before it starts. Worker
threads inherit the caller's Spark local properties (job description,
job group, scheduler pool), as JVM threads would.
"""

from __future__ import annotations

import queue
import threading
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from typing import Any

STATES = ("success", "failed", "upstream_failed", "skipped")


@dataclass(frozen=True)
class Task:
    name: str
    fn: Callable[[dict], Any]
    deps: tuple[str, ...] = ()
    retries: int = 0
    retry_wait_s: float = 0.0


@dataclass
class TaskRun:
    name: str
    state: str
    attempts: int = 0
    error: str | None = None
    elapsed_s: float = 0.0


@dataclass
class DagRun:
    params: Any
    runs: dict[str, TaskRun] = field(default_factory=dict)
    context: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(r.state == "success" for r in self.runs.values())


class Dag:
    """Declaration-ordered DAG of named tasks with explicit deps."""

    def __init__(self, name: str, tasks: Iterable[Task]):
        self.name = name
        self.tasks = list(tasks)
        by_name = {t.name: t for t in self.tasks}
        if len(by_name) != len(self.tasks):
            raise ValueError(f"duplicate task names in dag {name}")
        for t in self.tasks:
            missing = [d for d in t.deps if d not in by_name]
            if missing:
                raise ValueError(f"task {t.name} depends on unknown {missing}")
        self.order = self._topo(by_name)

    def _topo(self, by_name: dict[str, Task]) -> list[Task]:
        # Kahn's algorithm, stable on declaration order (deterministic
        # runs — Airflow's tie-break is similar)
        indeg = {t.name: len(t.deps) for t in self.tasks}
        children: dict[str, list[str]] = {t.name: [] for t in self.tasks}
        for t in self.tasks:
            for d in t.deps:
                children[d].append(t.name)
        ready = [t.name for t in self.tasks if indeg[t.name] == 0]
        out: list[Task] = []
        while ready:
            n = ready.pop(0)
            out.append(by_name[n])
            for c in children[n]:
                indeg[c] -= 1
                if indeg[c] == 0:
                    ready.append(c)
        if len(out) != len(self.tasks):
            cyc = sorted(n for n, d in indeg.items() if d > 0)
            raise ValueError(f"dependency cycle in dag {self.name}: {cyc}")
        return out

    def run(self, params: Any = None, context: dict | None = None) -> DagRun:
        """Execute once. ``params`` lands in ctx['params']; each task's
        return value in ctx[task.name]. A task starts, on its own
        thread, as soon as all its deps have finished and none failed;
        ``runs`` lists the tasks in ``order``."""
        ctx = dict(context or {})
        ctx["params"] = params
        runs: dict[str, TaskRun] = {}
        finished: queue.SimpleQueue = queue.SimpleQueue()

        def work(t: Task) -> None:
            try:
                finished.put(_attempt(t, ctx))
            except BaseException as e:  # an interrupt: re-raised by run
                finished.put(e)

        pending = list(self.order)
        running = 0
        while pending or running:
            waiting = []
            for t in pending:
                if any(d not in runs for d in t.deps):
                    waiting.append(t)
                elif any(
                    runs[d].state in ("failed", "upstream_failed") for d in t.deps
                ):
                    runs[t.name] = TaskRun(t.name, "upstream_failed")
                else:
                    _thread(lambda t=t: work(t)).start()
                    running += 1
            if len(waiting) == len(pending) and running:
                done = finished.get()
                if isinstance(done, BaseException):
                    raise done
                runs[done.name] = done
                running -= 1
            pending = waiting
        return DagRun(
            params=params,
            runs={t.name: runs[t.name] for t in self.order},
            context=ctx,
        )

    def backfill(self, params_list: Iterable[Any], context: dict | None = None) -> list[DagRun]:
        """The reference's catchup loop (one DAG run per season,
        scrape_data_to_gcs.py:271-275): one season at a time, isolated
        — a failed run records its state and the sweep continues."""
        return [self.run(p, context=context) for p in params_list]


def _attempt(t: Task, ctx: dict) -> TaskRun:
    """Run `t` with its retries; its result lands in ``ctx[t.name]``."""
    run = TaskRun(t.name, "failed")
    t0 = time.perf_counter()
    for attempt in range(t.retries + 1):
        run.attempts = attempt + 1
        try:
            ctx[t.name] = t.fn(ctx)
            run.state, run.error = "success", None
            break
        except Exception as e:  # noqa: BLE001 — retry/record by design
            run.error = f"{type(e).__name__}: {e}"
            if attempt < t.retries and t.retry_wait_s:
                time.sleep(t.retry_wait_s)
    run.elapsed_s = round(time.perf_counter() - t0, 3)
    return run


def _thread(target: Callable[[], None]) -> threading.Thread:
    """A worker thread that starts with the caller's Spark local
    properties while a SparkContext is active; a plain thread
    otherwise (no Spark in the process, or its context stopped)."""
    from pyspark import InheritableThread, SparkContext

    if SparkContext._active_spark_context is None:
        return threading.Thread(target=target, daemon=True)
    return InheritableThread(target, daemon=True)
