"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The helpers are tested on synthetic inputs; the smoke tests run every
workload end to end on the vendored sf0.001 tables (about a minute each).
"""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
from pathlib import Path

import numpy as np
import pytest

import run
from tracing import STAGE_FIELDS, Tracer, instrument, stage_sum

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# --- tail percentile ------------------------------------------------------------

@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_linear_interpolation(q):
    rng = np.random.default_rng(7)
    for n in (1, 2, 5, 19, 100):
        xs = list(rng.exponential(1.0, n))
        assert run.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_is_order_free_and_rejects_empty():
    assert run.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert run.percentile([1.0, 2.0, 3.0, 4.0], 90) == pytest.approx(3.7)
    with pytest.raises(ValueError):
        run.percentile([], 50)


# --- steal adjustment -------------------------------------------------------------

def test_unstolen_takes_out_the_steal_share():
    # 300 busy ticks and 100 stolen: a quarter of the wanted CPU was withheld
    assert run.steal_share((1000, 50), (1300, 150)) == 0.25
    assert run.unstolen(2.0, (1000, 50), (1300, 150)) == 1.5
    assert run.unstolen(2.0, (1000, 50), (1300, 50)) == 2.0
    assert run.unstolen(2.0, (1000, 50), (1000, 50)) == 2.0  # no ticks elapsed


def test_host_ticks_grow():
    busy0, steal0 = run.host_ticks()
    sum(range(3_000_000))
    busy1, steal1 = run.host_ticks()
    assert busy1 >= busy0 and steal1 >= steal0


# --- AppStatusStore stage sum ----------------------------------------------------

def _stage(**kw):
    m = dict.fromkeys(STAGE_FIELDS, 0)
    m.update(kw)
    return m


def test_stage_sum_adds_every_attempt():
    stages = {
        (3, 0): _stage(tasks=8, failed_tasks=1, gc_s=0.5, executor_run_s=1.5),
        (3, 1): _stage(tasks=8, spill_bytes=10, executor_run_s=2.0),  # retry attempt
        (4, 0): _stage(tasks=2, shuffle_write_bytes=160, input_bytes=9),
    }
    s = stage_sum(stages)
    assert s["stages"] == 3
    assert s["tasks"] == 18
    assert s["failed_tasks"] == 1
    assert s["executor_run_s"] == 3.5
    assert s["gc_s"] == 0.5 and s["spill_bytes"] == 10
    assert s["shuffle_write_bytes"] == 160 and s["input_bytes"] == 9


def test_stage_sum_of_no_stages_is_zero():
    assert set(stage_sum({}).values()) == {0}
    assert set(stage_sum({}).keys()) == set(STAGE_FIELDS) | {"stages"}


# --- span self time --------------------------------------------------------------

class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_and_jobs_of_nested_spans():
    clock, jobs = _Clock(), [0]
    tr = Tracer(jobs=lambda: jobs[0], clock=clock)
    tr.active = True
    with tr.span("build"):          # 0 .. 10
        clock.t = 1.0
        with tr.span("op.a"):       # 1 .. 6
            clock.t = 2.0
            jobs[0] += 1
            with tr.span("op.b"):   # 2 .. 4
                clock.t = 4.0
                jobs[0] += 2
            with tr.span("op.a"):   # recursive call, 4 .. 5
                clock.t = 5.0
            clock.t = 6.0
        with tr.span("op.b"):       # sibling, 6 .. 9
            clock.t = 9.0
            jobs[0] += 4
        clock.t = 10.0
    t = tr.totals
    assert t["build"].incl_s == 10.0 and t["build"].self_s == 10.0 - 5.0 - 3.0
    assert t["op.a"].self_s == (5.0 - 2.0 - 1.0) + 1.0
    assert t["op.a"].incl_s == 5.0  # the recursive inner span is not counted twice
    assert t["op.b"].self_s == 2.0 + 3.0
    assert t["op.a"].self_jobs == 1 and t["op.b"].self_jobs == 6
    assert t["build"].incl_jobs == 7 and t["build"].self_jobs == 0
    assert t["op.a"].calls == 2


def test_inactive_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x"):
        pass
    assert not tr.totals


def test_instrument_wraps_bound_copies_and_undoes(tmp_path, monkeypatch):
    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(textwrap.dedent("""
        def work(x):
            return helper(x) + 1

        def helper(x):
            return x * 2

        def _private(x):
            return x

        class Guard:
            def __enter__(self):
                return self

            def __exit__(self, *exc):
                return False
    """))
    (pkg / "user.py").write_text("from .ops import work\n\ndef go(x):\n    return work(x)\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    import fakepkg.ops as ops
    import fakepkg.user as user

    clock = _Clock()
    tr = Tracer(clock=clock)
    undo = instrument(tr, {"fakepkg.ops": "operators.ops"})
    try:
        tr.active = True
        assert user.go(3) == 7
        with ops.Guard():
            pass
        assert ops._private(1) == 1
        # go -> work -> helper: two calls; plus __enter__ and __exit__
        assert tr.totals["operators.ops"].calls == 4
    finally:
        undo()
    assert user.work is ops.work and not hasattr(ops.work, "__wrapped__")
    for mod in [m for m in sys.modules if m.startswith("fakepkg")]:
        del sys.modules[mod]


# --- every named metric, with its unit, from a tiny run of each workload ----------

@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_emits_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
