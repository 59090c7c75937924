"""tune() memoization (r12): repeat calls must not re-pay py4j."""

import pytest

from nba_pipeline_spark import session as S


@pytest.fixture()
def spark():
    from nba_pipeline_spark.session import get_spark

    # getOrCreate returns the suite's shared session when one exists, so
    # retune()/overrides here would otherwise leak into every later test
    # (e.g. flip conftest's shuffle.partitions=4 back to 32 — ADVICE
    # r12): snapshot the keys this file perturbs and restore them. A key
    # that was not set before the test is unset again, not left at
    # whatever the test body set it to.
    s = get_spark("test_session", cores=2)
    keys = set(S._RUNTIME_CONF) | {"spark.sql.shuffle.partitions"}
    before = s.conf.getAll
    yield s
    for k in keys:
        if k in before:
            s.conf.set(k, before[k])
        else:
            s.conf.unset(k)
    # deliberately LEAVE the session memoized in _TUNED: the tests end
    # with tune()/retune() having run, so the memo is accurate, and a
    # discard here would make the next query builder's tune() re-apply
    # _RUNTIME_CONF over the values just restored


def test_tune_applies_runtime_conf(spark):
    S.retune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # parser mode pinned: the SQL-text expression twins escape literals
    # assuming backslash-escape semantics (ADVICE r12)
    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"


def test_failed_tune_is_not_memoized():
    # a session where every conf.set raises (stopped/misbehaving) must
    # retry on the next call instead of being recorded as tuned
    class _Conf:
        def set(self, *a):
            raise RuntimeError("stopped")

    class _Fake:
        conf = _Conf()
        __hash__ = object.__hash__

    import weakref

    class _Weakable(_Fake):
        pass

    s = _Weakable()
    saved = S._TUNED
    S._TUNED = weakref.WeakSet()
    try:
        S.tune(s)
        assert s not in S._TUNED
    finally:
        S._TUNED = saved


def test_tune_is_memoized_per_session(spark, monkeypatch):
    S.tune(spark)  # ensure memoized
    calls = []
    orig = spark.conf.set
    monkeypatch.setattr(
        spark.conf, "set", lambda *a, **k: (calls.append(a), orig(*a, **k))
    )
    S.tune(spark)
    assert calls == []  # memo hit: zero conf.set round-trips


def test_retune_reapplies_after_external_override(spark):
    S.tune(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    S.tune(spark)  # memoized: deliberately does NOT undo the override
    assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    S.retune(spark)  # explicit escape hatch re-applies
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_tune_memoizes_only_when_every_key_took():
    # a pin that sets without raising but reads back different (e.g. a
    # driver-fixed value) keeps the session out of the memo, and the next
    # call re-applies that key alone
    key = "spark.sql.parser.escapedStringLiterals"

    class _Conf:
        def __init__(self):
            self.vals, self.sets, self.frozen = {}, [], {key}

        def set(self, k, v):
            self.sets.append(k)
            if k not in self.frozen:
                self.vals[k] = v

        def get(self, k):
            return self.vals.get(k)

    class _Session:
        def __init__(self):
            self.conf = _Conf()

    s = _Session()
    S.tune(s)
    assert s not in S._TUNED
    assert S._RETRY[s] == (key,)
    assert len(s.conf.sets) == len(S._RUNTIME_CONF)
    s.conf.frozen.clear()
    s.conf.sets.clear()
    S.tune(s)
    assert s.conf.sets == [key]
    assert s in S._TUNED
    assert s not in S._RETRY


def test_no_operator_sets_session_conf():
    # session conf is shared by every query and streaming micro-batch
    # planned on the session; an operator that flips it while it runs
    # changes plans it does not own
    import re
    from pathlib import Path

    ops = Path(S.__file__).parent / "operators"
    hits = [
        f"{p.name}:{i}"
        for p in sorted(ops.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"conf\.(set|unset)\b", line)
    ]
    assert hits == []
