from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# --- soak split (r13, VERDICT r12 item 2) ----------------------------------
# The full suite grew to ~595 tests / ~47 min — past the driver's pytest
# budget, so its verify step kept timing out with zero failures. Tests whose
# MEASURED duration (tests/slow_tests.txt, regenerated with --durations=0)
# is at or above SOAK_SECONDS are auto-marked `soak`, and pytest.ini
# deselects soak by default (`-m "not soak"`), keeping the default run
# ~12 min of call time. The full suite still runs with `-m ""` and is the
# documented pre-commit gate for touched operators (COVERAGE.md).

SOAK_SECONDS = 5.0
_SLOW_FILE = Path(__file__).resolve().parent / "slow_tests.txt"


def _slow_nodeids() -> set[str]:
    out: set[str] = set()
    try:
        for line in _SLOW_FILE.read_text().splitlines():
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            dur, nodeid = line.split(None, 1)
            if float(dur) >= SOAK_SECONDS:
                out.add(nodeid.strip())
    except OSError:
        pass
    return out


def pytest_collection_modifyitems(config, items):
    slow = _slow_nodeids()
    if not slow:
        return
    soak = pytest.mark.soak
    for item in items:
        # nodeid is tests/<file>::<test>[param]; the list stores exact ids,
        # so a renamed test simply falls out of the list (runs by default —
        # the safe direction)
        if item.nodeid in slow:
            item.add_marker(soak)


@pytest.fixture(scope="session")
def spark():
    from nba_pipeline_spark.session import get_spark

    s = get_spark("tests", cores=4)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def race_before_rename(monkeypatch):
    """Arm ONE racing write in the only window a manifest commit has
    left: between its `build` and the write-if-absent that publishes
    it. `arm(fire)` wraps `manifest_store.write_if_absent`; the next
    commit point first un-patches itself, then runs `fire()` (a commit
    that lands first) and only then attempts its own publish, which
    loses — so `_commit` rebuilds on the new head. Returns a list that
    gets one entry when the race fired."""
    from nba_pipeline_spark.sources import manifest_store as store

    real = store.write_if_absent
    fired: list = []

    def arm(fire):
        def hook(file, obj, spark=None):
            monkeypatch.setattr(store, "write_if_absent", real)
            fire()
            fired.append(file)
            return real(file, obj, spark)

        monkeypatch.setattr(store, "write_if_absent", hook)
        return fired

    return arm
