"""Table CHECK constraints on the manifest lake: add-time validation
of existing data, per-commit enforcement on every write path, carry
across unrelated commits, and drop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_pipeline_spark.sources import manifest as M


def _rows(spark, rows):
    return spark.createDataFrame(rows, "k int, amt int, ver int")


@pytest.fixture()
def lake(spark, tmp_path):
    p = str(tmp_path / "lake")
    M.commit_append(spark, p, _rows(spark, [(1, 10, 0), (2, 20, 0)]))
    M.set_constraint(spark, p, "amt_pos", "amt > 0")
    return p


def test_add_refused_when_existing_rows_violate(spark, tmp_path):
    p = str(tmp_path / "lake")
    M.commit_append(spark, p, _rows(spark, [(1, -5, 0)]))
    with pytest.raises(M.ConstraintViolation):
        M.set_constraint(spark, p, "amt_pos", "amt > 0")
    assert M.table_constraints(spark, p) == {}


def test_append_enforced_and_version_unchanged(spark, lake):
    v = M.current_version(spark, lake)
    with pytest.raises(M.ConstraintViolation):
        M.commit_append(spark, lake, _rows(spark, [(3, -1, 0)]))
    assert M.current_version(spark, lake) == v  # nothing committed
    M.commit_append(spark, lake, _rows(spark, [(3, 30, 0)]))
    assert M.read_snapshot(spark, lake).count() == 3


def test_null_predicate_is_a_violation(spark, lake):
    bad = spark.createDataFrame([(4, None, 0)], "k int, amt int, ver int")
    with pytest.raises(M.ConstraintViolation):
        M.commit_append(spark, lake, bad)


def test_upsert_and_replace_enforced(spark, lake):
    with pytest.raises(M.ConstraintViolation):
        M.commit_upsert(spark, lake, _rows(spark, [(1, -9, 1)]), ["k"], "ver")
    with pytest.raises(M.ConstraintViolation):
        M.commit_replace(spark, lake, _rows(spark, [(1, -9, 1)]))
    M.commit_upsert(spark, lake, _rows(spark, [(1, 99, 1)]), ["k"], "ver")
    got = {(r["k"], r["amt"]) for r in M.read_snapshot(spark, lake).collect()}
    assert got == {(1, 99), (2, 20)}


def test_constraints_carry_and_report(spark, lake):
    M.commit_append(spark, lake, _rows(spark, [(5, 50, 0)]))
    M.compact(spark, lake)
    assert M.table_constraints(spark, lake) == {"amt_pos": "amt > 0"}
    # multi-constraint violation report names each failing rule
    M.set_constraint(spark, lake, "k_small", "k < 1000")
    with pytest.raises(M.ConstraintViolation, match="amt_pos"):
        M.commit_append(spark, lake, _rows(spark, [(2000, -1, 0)]))


def test_drop_constraint(spark, lake):
    M.drop_constraint(spark, lake, "amt_pos")
    M.commit_append(spark, lake, _rows(spark, [(9, -9, 0)]))  # now allowed
    assert M.table_constraints(spark, lake) == {}
    with pytest.raises(ValueError):
        M.drop_constraint(spark, lake, "nope")


def test_partitioned_append_enforced(spark, lake, tmp_path):
    p = str(tmp_path / "plake")
    df = _rows(spark, [(1, 10, 0), (2, 20, 0)]).withColumn("part", F.col("k") % 2)
    M.commit_append_partitioned(spark, p, df, "part")
    M.set_constraint(spark, p, "amt_pos", "amt > 0")
    bad = _rows(spark, [(3, -3, 0)]).withColumn("part", F.lit(1))
    with pytest.raises(M.ConstraintViolation):
        M.commit_append_partitioned(spark, p, bad, "part")


def test_constraint_as_first_commit_and_empty_metadata_tables(spark, tmp_path):
    # set_constraint on an EMPTY lake commits a zero-segment manifest;
    # files()/partitions() must return empty tables, not crash
    p = str(tmp_path / "empty_lake")
    M.set_constraint(spark, p, "amt_pos", "amt > 0")
    assert M.files(spark, p).count() == 0
    assert M.partitions(spark, p).count() == 0
    # a second constraint on the still-empty table also works
    M.set_constraint(spark, p, "k_pos", "k > 0")
    M.commit_append(spark, p, _rows(spark, [(1, 5, 0)]))
    assert M.files(spark, p).count() == 1
    with pytest.raises(M.ConstraintViolation):
        M.commit_append(spark, p, _rows(spark, [(2, -1, 0)]))


def test_set_constraint_revalidates_after_racing_write(
    spark, lake, race_before_rename
):
    # a write landing between validation and the constraint commit
    # makes the commit's rename lose; the rebuild re-runs the
    # validation on the new snapshot and refuses when that write
    # violates the constraint
    def racing_append():
        # lands AFTER validation, BEFORE the rename — it passes the
        # existing amt_pos check but violates the constraint being added
        M.commit_append(spark, lake, _rows(spark, [(9, 500, 0)]))

    fired = race_before_rename(racing_append)
    with pytest.raises(M.ConstraintViolation, match="neg_check"):
        M.set_constraint(spark, lake, "neg_check", "amt < 100")
    assert fired
    # the raced write's rows exist, and the constraint was NOT added
    assert "neg_check" not in M.table_constraints(spark, lake)
    assert M.read_snapshot(spark, lake).filter("k = 9").count() == 1


# ------------------------------------------------------ UNIQUE keys (r9)


def _u(spark, rows):
    return spark.createDataFrame(rows, "k bigint, g string, v bigint")


def test_unique_key_declare_and_append_enforced(spark, tmp_path):
    lake = str(tmp_path / "ulake")
    M.commit_append(spark, lake, _u(spark, [(1, "a", 10), (2, "a", 20)]))
    M.set_unique_key(spark, lake, ["k"])
    v = M.current_version(spark, lake)
    # in-batch duplicate refused
    with pytest.raises(M.ConstraintViolation, match="inside the batch"):
        M.commit_append(spark, lake, _u(spark, [(3, "b", 1), (3, "b", 2)]))
    # batch-vs-table collision refused
    with pytest.raises(M.ConstraintViolation, match="already in"):
        M.commit_append(spark, lake, _u(spark, [(2, "b", 99)]))
    assert M.current_version(spark, lake) == v  # nothing landed
    # clean batch lands; NULL keys never conflict (SQL UNIQUE)
    M.commit_append(
        spark, lake, _u(spark, [(3, "b", 30), (None, "n", 1), (None, "n", 2)])
    )
    assert M.read_snapshot(spark, lake).count() == 5
    assert M.unique_key(spark, lake) == ["k"]


def test_unique_key_declare_refused_on_duplicates(spark, tmp_path):
    lake = str(tmp_path / "ulake")
    M.commit_append(spark, lake, _u(spark, [(1, "a", 1), (1, "a", 2)]))
    with pytest.raises(M.ConstraintViolation, match="existing rows collide"):
        M.set_unique_key(spark, lake, ["k"])
    with pytest.raises(M.SchemaDrift, match="no column"):
        M.set_unique_key(spark, lake, ["zzz"])


def test_unique_key_uses_bloom_point_probe(spark, tmp_path):
    """The batch-vs-table check on a bloomed single-column key goes
    through read_for_keys — bloom-negative segments never open. We
    assert the semantics (collision caught across segments) and that
    multi-column keys fall back to the semi-join correctly."""
    lake = str(tmp_path / "ulake")
    M.commit_append(
        spark, lake, _u(spark, [(i, "a", i) for i in range(0, 100, 2)]),
        bloom_cols=["k"],
    )
    M.set_unique_key(spark, lake, ["k"])
    M.commit_append(
        spark, lake, _u(spark, [(i, "b", i) for i in range(1, 100, 2)]),
        bloom_cols=["k"],
    )
    with pytest.raises(M.ConstraintViolation):
        M.commit_append(spark, lake, _u(spark, [(42, "x", 0)]))
    # composite key on a second lake: (k, g) unique, same k new g is fine
    lake2 = str(tmp_path / "ulake2")
    M.commit_append(spark, lake2, _u(spark, [(1, "a", 1)]))
    M.set_unique_key(spark, lake2, ["k", "g"])
    M.commit_append(spark, lake2, _u(spark, [(1, "b", 2)]))
    with pytest.raises(M.ConstraintViolation):
        M.commit_append(spark, lake2, _u(spark, [(1, "a", 3)]))


def test_unique_key_replace_and_partitioned_paths(spark, tmp_path):
    lake = str(tmp_path / "ulake")
    M.commit_append(spark, lake, _u(spark, [(1, "a", 1)]))
    M.set_unique_key(spark, lake, ["k"])
    with pytest.raises(M.ConstraintViolation, match="replace"):
        M.commit_replace(spark, lake, _u(spark, [(5, "a", 1), (5, "b", 2)]))
    M.commit_replace(spark, lake, _u(spark, [(5, "a", 1), (6, "b", 2)]))
    with pytest.raises(M.ConstraintViolation):
        M.commit_append_partitioned(
            spark, lake, _u(spark, [(6, "c", 9)]), "g"
        )
    M.commit_append_partitioned(spark, lake, _u(spark, [(7, "c", 9)]), "g")
    assert M.read_snapshot(spark, lake).count() == 3


def test_unique_key_racing_appends_serialize(spark, tmp_path, monkeypatch):
    """Two appends validated against the same snapshot: the strict
    parent CAS forces the loser to revalidate — if it carries the same
    key it is REFUSED, not silently landed."""
    lake = str(tmp_path / "ulake")
    M.commit_append(spark, lake, _u(spark, [(1, "a", 1)]))
    M.set_unique_key(spark, lake, ["k"])
    raced = {"done": False}
    orig = M._check_unique

    def sneaky(spark_, path, df, cols):
        orig(spark_, path, df, cols)
        if not raced["done"]:
            raced["done"] = True  # winner lands AFTER the loser validated
            monkeypatch.setattr(M, "_check_unique", orig)
            M.commit_append(spark_, lake, _u(spark_, [(9, "w", 1)]))

    monkeypatch.setattr(M, "_check_unique", sneaky)
    with pytest.raises(M.ConstraintViolation):
        M.commit_append(spark, lake, _u(spark, [(9, "l", 2)]))
    snap = M.read_snapshot(spark, lake).filter("k = 9").collect()
    assert len(snap) == 1 and snap[0]["g"] == "w"


def test_unique_key_refuses_jvmless_writer(spark, tmp_path):
    from nba_pipeline_spark.sources.lake_datasource import (
        register_lake_source,
    )

    register_lake_source(spark)
    lake = str(tmp_path / "ulake")
    M.commit_append(spark, lake, _u(spark, [(1, "a", 1)]))
    M.set_unique_key(spark, lake, ["k"])
    with pytest.raises(Exception, match="UNIQUE"):
        (
            _u(spark, [(2, "b", 2)])
            .write.format("manifest_lake")
            .option("path", lake)
            .mode("append")
            .save()
        )


# ------------------------------------- UNIQUE on MERGE/replace paths (r10)


def test_unique_key_merge_paths_refused(spark, tmp_path):
    """A MERGE keyed on a NON-unique column that would duplicate the
    declared UNIQUE key is refused on all three upsert paths, atomic
    (no version, no partial data) — VERDICT r9 #1."""
    # full-rewrite path: merge key g, unique key k
    lake = str(tmp_path / "ulake")
    M.commit_append(spark, lake, _u(spark, [(1, "a", 1), (2, "b", 1)]))
    M.set_unique_key(spark, lake, ["k"])
    v = M.current_version(spark, lake)
    with pytest.raises(M.ConstraintViolation, match="UNIQUE"):
        M.commit_upsert(
            spark, lake,
            _u(spark, [(2, "c", 9), (2, "d", 9)]).withColumn(
                "ver", F.lit(1)
            ),
            keys=["g"], version_col="ver",
        )
    assert M.current_version(spark, lake) == v
    # merge keyed ON the unique column stays allowed (by construction)
    M.commit_upsert(
        spark, lake,
        _u(spark, [(2, "z", 7)]).withColumn("ver", F.lit(1)),
        keys=["k"], version_col="ver",
    )
    assert M.read_snapshot(spark, lake).filter("k = 2").collect()[0]["g"] == "z"

    # pruned path: in-merged duplicate via non-key merge
    lake2 = str(tmp_path / "ulake2")
    M.commit_append(spark, lake2, _u(spark, [(1, "a", 1), (2, "b", 1)]))
    M.set_unique_key(spark, lake2, ["k"])
    v2 = M.current_version(spark, lake2)
    with pytest.raises(M.ConstraintViolation, match="UNIQUE"):
        M.commit_upsert_pruned(
            spark, lake2,
            _u(spark, [(2, "c", 9), (2, "d", 9)]).withColumn("ver", F.lit(1)),
            keys=["g"], version_col="ver", stats_key="g",
        )
    assert M.current_version(spark, lake2) == v2


def test_unique_key_merge_cross_segment_refused(spark, tmp_path):
    """Pruned MERGE whose merged output collides with an UNTOUCHED
    (name-transferred) segment: caught by the remainder semi-join."""
    lake = str(tmp_path / "ulake")
    # two key-range-disjoint segments with stats on g (the merge key)
    M.commit_append(
        spark, lake, _u(spark, [(1, "a", 1), (2, "b", 1)]),
        stats_cols=["g"],
    )
    M.commit_append(
        spark, lake, _u(spark, [(3, "x", 1), (4, "y", 1)]),
        stats_cols=["g"],
    )
    M.set_unique_key(spark, lake, ["k"])
    v = M.current_version(spark, lake)
    # merge touches only the a-b segment but rewrites k=2 -> k=3,
    # which collides with the untouched x-y segment's k=3
    with pytest.raises(M.ConstraintViolation, match="survives elsewhere"):
        M.commit_upsert_pruned(
            spark, lake,
            spark.createDataFrame(
                [(3, "b", 99, 1)], "k bigint, g string, v bigint, ver int"
            ),
            keys=["g"], version_col="ver", stats_key="g",
        )
    assert M.current_version(spark, lake) == v


def test_unique_key_partitioned_merge_refused(spark, tmp_path):
    """Partition-scoped MERGE keyed on a non-unique column: in-merged
    duplicates and merged-vs-untouched-partition collisions refuse."""
    lake = str(tmp_path / "ulake")
    M.commit_append(
        spark, lake, _u(spark, [(1, "a", 1), (2, "a", 2)]),
        partition={"g": "a"},
    )
    M.commit_append(
        spark, lake, _u(spark, [(3, "b", 3)]), partition={"g": "b"},
    )
    M.set_unique_key(spark, lake, ["k"])
    v = M.current_version(spark, lake)
    # change row in partition a duplicates k inside the merged output
    with pytest.raises(M.ConstraintViolation, match="UNIQUE"):
        M.commit_upsert_partitioned(
            spark, lake,
            spark.createDataFrame(
                [(5, "a", 10, 1), (5, "a", 11, 1)],
                "k bigint, g string, v bigint, ver int",
            ),
            keys=["k", "v"], version_col="ver", part_col="g",
        )
    # change row moves k=3's value into partition a while k=3 survives
    # in untouched partition b
    with pytest.raises(M.ConstraintViolation, match="survives elsewhere"):
        M.commit_upsert_partitioned(
            spark, lake,
            spark.createDataFrame(
                [(3, "a", 12, 1)], "k bigint, g string, v bigint, ver int"
            ),
            keys=["k", "v"], version_col="ver", part_col="g",
            check_stable_partitions=False,
        )
    assert M.current_version(spark, lake) == v
    # clean per-partition merge on the unique key itself still lands
    M.commit_upsert_partitioned(
        spark, lake,
        spark.createDataFrame(
            [(2, "a", 20, 1)], "k bigint, g string, v bigint, ver int"
        ),
        keys=["k"], version_col="ver", part_col="g",
    )
    assert M.read_snapshot(spark, lake).filter("k = 2").collect()[0]["v"] == 20


def test_unique_key_replace_where_refused(spark, tmp_path):
    """replaceWhere on a UNIQUE lake: in-batch duplicates and
    batch-vs-remainder collisions refuse; a clean scope swap lands."""
    lake = str(tmp_path / "ulake")
    M.commit_append(
        spark, lake, _u(spark, [(1, "a", 1), (2, "a", 2)]),
        partition={"g": "a"},
    )
    M.commit_append(
        spark, lake, _u(spark, [(3, "b", 3)]), partition={"g": "b"},
    )
    M.set_unique_key(spark, lake, ["k"])
    v = M.current_version(spark, lake)
    with pytest.raises(M.ConstraintViolation, match="replaceWhere batch"):
        M.commit_replace_where(
            spark, lake,
            _u(spark, [(7, "a", 1), (7, "a", 2)]), eq={"g": "a"},
        )
    # batch key 3 survives in the untouched g=b partition
    with pytest.raises(M.ConstraintViolation, match="survives elsewhere"):
        M.commit_replace_where(
            spark, lake, _u(spark, [(3, "a", 9)]), eq={"g": "a"},
        )
    assert M.current_version(spark, lake) == v
    M.commit_replace_where(
        spark, lake, _u(spark, [(9, "a", 9)]), eq={"g": "a"},
    )
    assert sorted(
        r["k"] for r in M.read_snapshot(spark, lake).collect()
    ) == [3, 9]


def test_unique_key_tagged_replay_noops(spark, tmp_path):
    """ADVICE r9: a replayed TAGGED append into a UNIQUE-keyed lake
    must no-op (its keys already landed with the first delivery), not
    raise ConstraintViolation and wedge the exactly-once consumer."""
    lake = str(tmp_path / "ulake")
    M.commit_append(spark, lake, _u(spark, [(1, "a", 1)]))
    M.set_unique_key(spark, lake, ["k"])
    batch = _u(spark, [(2, "b", 2)])
    v = M.commit_append(spark, lake, batch, tag="feed=7")
    # exact redelivery: same tag, same keys — returns current version
    assert M.commit_append(spark, lake, batch, tag="feed=7") == v
    assert M.read_snapshot(spark, lake).count() == 2
    # partitioned + upsert twins
    v2 = M.commit_append_partitioned(
        spark, lake, _u(spark, [(3, "c", 3)]), "g", tag="feed=8"
    )
    assert M.commit_append_partitioned(
        spark, lake, _u(spark, [(3, "c", 3)]), "g", tag="feed=8"
    ) == v2
    lake2 = str(tmp_path / "ulake2")
    M.commit_append(spark, lake2, _u(spark, [(1, "a", 1)]))
    ch = _u(spark, [(1, "a", 5)]).withColumn("ver", F.lit(1))
    v3 = M.commit_upsert(spark, lake2, ch, keys=["k"], version_col="ver",
                         tag="m=1")
    assert M.commit_upsert(spark, lake2, ch, keys=["k"], version_col="ver",
                           tag="m=1") == v3


def test_unique_key_declare_append_race(spark, tmp_path, monkeypatch):
    """ADVICE r9 TOCTOU: an append that read props BEFORE a concurrent
    set_unique_key landed must revalidate under the new constraint at
    commit time, not slide in unvalidated on the CAS retry."""
    lake = str(tmp_path / "ulake")
    M.commit_append(spark, lake, _u(spark, [(1, "a", 1)]))
    raced = {"done": False}
    orig = M._write_segment

    def sneaky(df, path, *a, **kw):
        # the unique declaration lands between the append's props read
        # and its commit
        if not raced["done"]:
            raced["done"] = True
            monkeypatch.setattr(M, "_write_segment", orig)
            M.set_unique_key(spark, lake, ["k"])
        return orig(df, path, *a, **kw)

    monkeypatch.setattr(M, "_write_segment", sneaky)
    with pytest.raises(M.ConstraintViolation):
        M.commit_append(spark, lake, _u(spark, [(1, "dup", 9)]))
    assert M.read_snapshot(spark, lake).count() == 1
    # and a CLEAN raced batch still lands (revalidation, not refusal)
    raced["done"] = False
    monkeypatch.setattr(M, "_write_segment", sneaky)
    M.commit_append(spark, lake, _u(spark, [(2, "b", 2)]))
    assert M.read_snapshot(spark, lake).count() == 2
