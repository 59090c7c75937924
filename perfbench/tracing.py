"""Layer tracing from outside the engine.

Three sources, none of which needs a change to the package:

- spans: ``Tracer.span(name)`` around calls into a layer. Operator and
  source modules are traced by swapping their public functions for
  wrappers (``instrument``); a span's self time is its duration minus
  the time its child spans cover, and likewise for the Spark jobs
  submitted while it was open;
- the JVM ``AppStatusStore``: per-stage task metrics, read for the
  stages created since a watermark and summed;
- ``/proc``: CPU time and peak resident memory of the driver JVM and of
  the Python worker processes it forks.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes",
)


# --- spans -------------------------------------------------------------------

@dataclass
class _Open:
    name: str
    start: float
    jobs0: int
    child_s: float = 0.0
    child_jobs: int = 0


@dataclass
class Totals:
    incl_s: float = 0.0
    self_s: float = 0.0
    incl_jobs: int = 0
    self_jobs: int = 0
    calls: int = 0


class Tracer:
    """Nested spans with self-time accounting.

    ``jobs`` returns the number of Spark jobs submitted so far; it is
    read at every span boundary. ``clock`` is injectable for tests."""

    def __init__(self, jobs=lambda: 0, clock=time.perf_counter):
        self.jobs = jobs
        self.clock = clock
        self.active = False
        self.totals: dict[str, Totals] = defaultdict(Totals)
        self._stack: list[_Open] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        self._stack.append(_Open(name, self.clock(), self.jobs()))
        try:
            yield
        finally:
            top = self._stack.pop()
            dur = self.clock() - top.start
            njobs = self.jobs() - top.jobs0
            t = self.totals[name]
            t.calls += 1
            t.self_s += dur - top.child_s
            t.self_jobs += njobs - top.child_jobs
            # a recursive call's inner span is already inside the outer
            # one's inclusive time; count the outermost only
            if all(o.name != name for o in self._stack):
                t.incl_s += dur
                t.incl_jobs += njobs
            if self._stack:
                self._stack[-1].child_s += dur
                self._stack[-1].child_jobs += njobs


def instrument(tracer: Tracer, layers: dict[str, str]):
    """Route every public function of each module in ``layers`` (module
    name -> span name) through ``tracer``, including the copies other
    package modules bound with ``from module import name``. Context-
    manager classes get their ``__enter__``/``__exit__`` traced. Returns
    a function that undoes the patch."""
    swaps: dict[int, tuple[object, object]] = {}
    patched_methods = []
    for modname, layer in layers.items():
        mod = importlib.import_module(modname)
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                continue
            if inspect.isfunction(obj) and not inspect.isgeneratorfunction(obj):
                swaps[id(obj)] = (obj, _wrap(obj, tracer, layer))
            elif inspect.isclass(obj) and hasattr(obj, "__enter__"):
                for meth in ("__enter__", "__exit__"):
                    orig = obj.__dict__.get(meth)
                    if orig is not None:
                        setattr(obj, meth, _wrap(orig, tracer, layer))
                        patched_methods.append((obj, meth, orig))
    bindings = []
    pkg = layers and next(iter(layers)).split(".")[0]
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == pkg or mname.startswith(pkg + ".")):
            continue
        for name, obj in list(vars(mod).items()):
            hit = swaps.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, name, hit[1])
                bindings.append((mod, name, obj))

    def undo() -> None:
        for mod, name, obj in bindings:
            setattr(mod, name, obj)
        for cls, meth, orig in patched_methods:
            setattr(cls, meth, orig)

    return undo


def _wrap(fn, tracer: Tracer, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return traced


# --- JVM status store ----------------------------------------------------------

class StatusStore:
    """Job and stage counters from the driver's ``AppStatusStore``.

    Works with ``spark.ui.enabled=false``. The listener bus is drained
    before each read so that a finished action's events are counted."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs_submitted(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def last_stage_id(self) -> int:
        self._drain()
        stages = self._stage_list()
        return stages.apply(0).stageId() if stages.size() else -1

    def _stage_list(self):
        jvm = self._gw.jvm
        return self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )  # newest first

    def stages_since(self, watermark: int) -> dict[tuple[int, int], dict]:
        """Metrics of every non-skipped stage attempt with id > watermark."""
        self._drain()
        stages = self._stage_list()
        out = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= watermark:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out[(sid, s.attemptId())] = {
                "tasks": s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks(),
                "failed_tasks": s.numFailedTasks(),
                "executor_run_s": s.executorRunTime() / 1e3,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "input_bytes": s.inputBytes(),
                "output_bytes": s.outputBytes(),
            }
        return out


def stage_sum(stages: dict) -> dict[str, float]:
    """Sum of the metrics of the stage attempts ``stages_since`` returned,
    plus ``stages``: how many there are."""
    total = dict.fromkeys(STAGE_FIELDS, 0)
    total["stages"] = len(stages)
    for m in stages.values():
        for f in STAGE_FIELDS:
            total[f] += m[f]
    return total


# --- /proc -----------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3): utime..cstime are stat fields 14-17
    return comm, int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def descendants(root: int) -> dict[int, tuple[str, float]]:
    """{pid: (comm, cpu_s)} of every live process below ``root``."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                procs[int(entry)] = st
    kids = defaultdict(list)
    for pid, (_, ppid, _) in procs.items():
        kids[ppid].append(pid)
    out, todo = {}, list(kids[root])
    while todo:
        pid = todo.pop()
        out[pid] = (procs[pid][0], procs[pid][2])
        todo.extend(kids[pid])
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and of every live process below it, each
    including the children it has reaped. Time the hypervisor stole is
    not in it."""
    st = _stat(root)
    return (st[2] if st else 0.0) + sum(cpu for _, cpu in descendants(root).values())


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python processes the JVM forked (the worker
    daemon's count includes the workers it has already reaped)."""
    return sum(cpu for comm, cpu in descendants(jvm_pid).values() if comm.startswith("python"))


class RssPeak:
    """Peak of the summed resident memory of the JVM and its Python
    workers, sampled from /proc on a background thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssPeak":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        kids = descendants(self.jvm_pid)
        pids = [self.jvm_pid] + [p for p, (comm, _) in kids.items() if comm.startswith("python")]
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)
