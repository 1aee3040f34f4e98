"""Manifest-versioned table layout: snapshots, time travel, rollback,
compaction, vacuum — the zero-dependency Iceberg/Delta mechanism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sstable_migrator_spark.sinks.versioned import (
    compact,
    history,
    read_version,
    rollback,
    vacuum,
    versioned_write,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS val")


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert versioned_write(_df(spark, 0, 10), t) == 1
    assert versioned_write(_df(spark, 10, 15), t) == 2
    assert read_version(spark, t).count() == 15          # latest
    assert read_version(spark, t, version=1).count() == 10  # time travel
    assert versioned_write(_df(spark, 100, 103), t, mode="overwrite") == 3
    assert read_version(spark, t).count() == 3
    assert read_version(spark, t, version=2).count() == 15  # still readable
    ops = [m["op"] for m in history(t)]
    assert ops == ["append", "append", "overwrite"]
    with pytest.raises(FileNotFoundError):
        read_version(spark, t, version=9)


def test_rollback_is_a_new_commit(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(_df(spark, 0, 10), t)
    versioned_write(_df(spark, 100, 103), t, mode="overwrite")
    v = rollback(t, 1)
    assert v == 3
    assert read_version(spark, t).count() == 10
    assert read_version(spark, t, version=2).count() == 3  # history intact


def test_compact_and_vacuum(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for i in range(4):
        versioned_write(_df(spark, i * 5, i * 5 + 5), t)
    assert len(history(t)[-1]["dirs"]) == 4
    v = compact(spark, t)
    latest = history(t)[-1]
    assert latest["op"] == "compact" and len(latest["dirs"]) == 1
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == list(range(20))
    # pre-compact snapshot still time-travels
    assert read_version(spark, t, version=2).count() == 10

    removed = vacuum(t, keep_last=1, min_age_s=0)  # test: no live writers
    assert len(removed) == 4  # the four pre-compaction commit dirs
    assert read_version(spark, t, version=v).count() == 20
    with pytest.raises(FileNotFoundError):
        read_version(spark, t, version=2)  # vacuumed away


def test_merge_upsert(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(_df(spark, 0, 5), t)  # ids 0-4, val = 2*id
    from sstable_migrator_spark.sinks.versioned import merge_upsert

    delta = spark.createDataFrame([(3, 999), (100, 7)], "id long, val long")
    v = merge_upsert(spark, t, delta, key_cols=["id"])
    assert v == 2
    got = {r["id"]: r["val"] for r in read_version(spark, t).collect()}
    assert got == {0: 0, 1: 2, 2: 4, 3: 999, 4: 8, 100: 7}
    # pre-merge snapshot intact
    assert {r["id"]: r["val"] for r in
            read_version(spark, t, version=1).collect()}[3] == 6


def test_diff_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(_df(spark, 0, 5), t)
    from sstable_migrator_spark.sinks.versioned import diff_versions, merge_upsert

    delta = spark.createDataFrame([(3, 999), (100, 7)], "id long, val long")
    merge_upsert(spark, t, delta, key_cols=["id"])
    changes = {r["id"]: r["change"]
               for r in diff_versions(spark, t, 1, 2, key_cols=["id"]).collect()}
    assert changes == {3: "changed", 100: "added"}
    reverse = {r["id"]: r["change"]
               for r in diff_versions(spark, t, 2, 1, key_cols=["id"]).collect()}
    assert reverse == {3: "changed", 100: "removed"}


def test_concurrent_append_detected(spark, tmp_path):
    """A read-modify-write commit whose base snapshot was superseded
    must fail loudly (lost-update guard), not silently drop the
    winner's directories."""
    from sstable_migrator_spark.sinks.versioned import (
        ConcurrentWriteError,
        _publish,
    )

    t = str(tmp_path / "tbl")
    versioned_write(_df(spark, 0, 5), t)     # v1
    versioned_write(_df(spark, 5, 10), t)    # v2
    with pytest.raises(ConcurrentWriteError):
        # a writer that read v1 and tries to publish against it
        _publish(t, {"op": "append", "ts": 0.0, "dirs": []}, base_version=1)


def test_concurrent_compact_detected(spark, tmp_path, monkeypatch):
    """compact() is a read-modify-write: a commit landing between its
    read and its publish must raise, or the compacted manifest (listing
    only the compacted dir) would silently drop the concurrent commit's
    directories."""
    from sstable_migrator_spark.sinks import versioned as V

    t = str(tmp_path / "tbl")
    versioned_write(_df(spark, 0, 5), t)
    versioned_write(_df(spark, 5, 10), t)

    orig = V.read_version

    def race(spark_, path, version=None):
        df = orig(spark_, path, version)
        # concurrent append wins the race while compact is rewriting
        versioned_write(_df(spark, 10, 12), path)
        return df

    monkeypatch.setattr(V, "read_version", race)
    with pytest.raises(V.ConcurrentWriteError):
        V.compact(spark, t)
    # the concurrent append's rows survived
    assert read_version(spark, t).count() == 12


def test_schema_drift(spark, tmp_path):
    from sstable_migrator_spark.sinks.versioned import schema_drift

    t = str(tmp_path / "tbl")
    versioned_write(spark.range(3).selectExpr("id", "CAST(id AS INT) AS a",
                                              "'x' AS gone"), t)
    versioned_write(
        spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS a",
                                  "'y' AS fresh"),
        t, mode="overwrite",
    )
    drift = schema_drift(spark, t, 1, 2)
    assert drift == [
        {"column": "a", "change": "type", "type": "int -> double"},
        {"column": "fresh", "change": "added", "type": "string"},
        {"column": "gone", "change": "removed", "type": "string"},
    ]


def test_apply_changes_cdc(spark, tmp_path):
    """I/U/D change set folds into one snapshot: insert lands, update
    wins, delete removes, untouched rows carry over; round-trips with
    diff_versions (apply(diff(v1,v2)) onto v1 == v2)."""
    from sstable_migrator_spark.sinks.versioned import apply_changes, diff_versions

    t = str(tmp_path / "tbl")
    versioned_write(_df(spark, 0, 5), t)  # ids 0-4, val = 2*id
    changes = spark.createDataFrame(
        [(2, 999, "U"), (3, None, "D"), (100, 7, "I")],
        "id long, val long, op string",
    )
    v = apply_changes(spark, t, changes, key_cols=["id"])
    assert v == 2
    got = {r["id"]: r["val"] for r in read_version(spark, t).collect()}
    assert got == {0: 0, 1: 2, 2: 999, 4: 8, 100: 7}  # 3 deleted
    assert history(t)[-1]["op"] == "cdc_apply"
    # pre-apply snapshot intact
    assert read_version(spark, t, version=1).count() == 5

    # replay: apply diff(1 -> 2) onto a fresh copy of v1 == v2
    t2 = str(tmp_path / "replay")
    versioned_write(read_version(spark, t, version=1), t2)
    d = diff_versions(spark, t, 1, 2, key_cols=["id"])
    feed = (
        read_version(spark, t, 2)
        .join(d.filter("change != 'removed'").select("id"), "id")
        .withColumn("op", F.lit("U"))
        .unionByName(
            read_version(spark, t, 1)
            .join(d.filter("change = 'removed'").select("id"), "id")
            .withColumn("op", F.lit("D"))
        )
    )
    apply_changes(spark, t2, feed, key_cols=["id"])
    a = sorted(map(tuple, read_version(spark, t2).collect()))
    b = sorted(map(tuple, read_version(spark, t, 2).collect()))
    assert a == b


def test_apply_changes_guards(spark, tmp_path):
    from sstable_migrator_spark.sinks.versioned import apply_changes

    t = str(tmp_path / "tbl")
    versioned_write(_df(spark, 0, 3), t)
    with pytest.raises(ValueError, match="unknown CDC op"):
        apply_changes(
            spark, t,
            spark.createDataFrame([(1, 5, "X")], "id long, val long, op string"),
            key_cols=["id"],
        )
    with pytest.raises(ValueError, match="more than once"):
        apply_changes(
            spark, t,
            spark.createDataFrame(
                [(1, 5, "U"), (1, 6, "U")], "id long, val long, op string"
            ),
            key_cols=["id"],
        )


def test_vacuum_grace_period_spares_young_dirs(spark, tmp_path):
    """An unreferenced-but-young data directory (an in-flight commit
    that has not published its manifest yet) must survive vacuum."""
    import os

    t = str(tmp_path / "tbl")
    versioned_write(_df(spark, 0, 5), t)
    versioned_write(_df(spark, 0, 3), t, mode="overwrite")  # v1 dir now unreferenced by keep_last=1
    removed = vacuum(t, keep_last=1, min_age_s=3600)
    assert removed == []  # everything too young to touch
    removed = vacuum(t, keep_last=1, min_age_s=0)
    assert len(removed) == 1  # explicit no-writers override reclaims it


def test_versioned_stats_pruned_read(spark, tmp_path):
    """Manifest zone maps: stats collected at commit time prune files at
    read time (visible via inputFiles), results equal the full filter,
    statless commits are never pruned, and history keeps its stats."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.sinks.versioned import read_version, versioned_write

    path = str(tmp_path / "t")
    df1 = spark.range(0, 1000).select("id", (F.col("id") % 7).alias("m"))
    v1 = versioned_write(
        df1.repartitionByRange(4, "id"), path, stats_cols=["id"]
    )
    df2 = spark.range(1000, 2000).select("id", (F.col("id") % 7).alias("m"))
    v2 = versioned_write(
        df2.repartitionByRange(4, "id"), path, stats_cols=["id"]
    )

    pruned = read_version(spark, path, predicates=[("id", "between", (1500, 1600))])
    full = read_version(spark, path).filter(F.col("id").between(1500, 1600))
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    )
    # 8 files total (4 per commit); the window fits well under half
    assert len(pruned.inputFiles()) < 8 - 3

    # time travel keeps v1's stats
    old = read_version(spark, path, version=v1, predicates=[("id", "<", 100)])
    assert old.count() == 100
    assert len(old.inputFiles()) < 4

    # a statless commit joins the snapshot un-prunable but correct
    df3 = spark.range(2000, 2100).select("id", (F.col("id") % 7).alias("m"))
    versioned_write(df3.coalesce(1), path)  # no stats_cols
    got = read_version(spark, path, predicates=[("id", ">=", 1990)])
    assert sorted(r["id"] for r in got.collect()) == list(range(1990, 2100))

    # all-pruned window returns an empty, schema-correct frame
    none = read_version(spark, path, version=v2, predicates=[("id", ">", 10_000)])
    assert none.count() == 0 and none.columns == ["id", "m"]


def test_versioned_stats_unknown_op_rejected(spark, tmp_path):
    from sstable_migrator_spark.sinks.versioned import read_version, versioned_write

    path = str(tmp_path / "t")
    versioned_write(spark.range(10), path, stats_cols=["id"])
    with pytest.raises(ValueError, match="supported ops"):
        read_version(spark, path, predicates=[("id", "!=", 3)])


def test_compact_keeps_stats_and_optimize_zorder(spark, tmp_path):
    """compact(stats_cols=...) re-collects zone maps for the rewrite;
    optimize_zorder makes BOTH layout columns prunable where the
    original linear commits prune only the write order."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.sinks.versioned import (
        compact,
        optimize_zorder,
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "t")
    df = spark.range(4000).select(
        "id",
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 37) % 64).alias("b"),
    )
    versioned_write(df.repartitionByRange(4, "id"), path, stats_cols=["id"])
    v2 = compact(
        spark, path, target_file_bytes=10_000, stats_cols=["id"], order_by="id"
    )
    pruned = read_version(spark, path, predicates=[("id", "<", 500)])
    total_files = len(read_version(spark, path, version=v2).inputFiles())
    assert total_files > 1
    assert len(pruned.inputFiles()) < total_files  # rewrite kept pruning
    assert pruned.count() == 500

    v3 = optimize_zorder(spark, path, ["a", "b"], n_files=8)
    full = len(read_version(spark, path, version=v3).inputFiles())
    assert full == 8
    for col in ("a", "b"):  # BOTH layout dims prune post-zorder
        zp = read_version(spark, path, predicates=[(col, "between", (0, 7))])
        assert len(zp.inputFiles()) < full, col
        want = sorted(
            r["id"] for r in df.filter(F.col(col).between(0, 7)).collect()
        )
        assert sorted(r["id"] for r in zp.collect()) == want, col
    # history intact: the pre-optimize snapshot still reads
    assert read_version(spark, path, version=v2).count() == 4000


def test_rollback_restores_file_stats(spark, tmp_path):
    from sstable_migrator_spark.sinks.versioned import rollback, versioned_write

    t = str(tmp_path / "t")
    versioned_write(
        spark.range(1000).repartitionByRange(4, "id"), t, stats_cols=["id"]
    )
    versioned_write(spark.range(1000, 1001), t, mode="overwrite")
    rollback(t, 1)
    pruned = read_version(spark, t, predicates=[("id", "<", 100)])
    assert pruned.count() == 100
    assert len(pruned.inputFiles()) < 4  # stats survived the restore


def test_stats_survive_directory_move(spark, tmp_path):
    """Manifests store RELATIVE file paths: a moved/copied table keeps
    pruning (absolute input_file_name URIs would point at the old
    location)."""
    import shutil

    from sstable_migrator_spark.sinks.versioned import versioned_write

    t1 = str(tmp_path / "orig")
    versioned_write(
        spark.range(1000).repartitionByRange(4, "id"), t1, stats_cols=["id"]
    )
    t2 = str(tmp_path / "moved")
    shutil.move(t1, t2)
    pruned = read_version(spark, t2, predicates=[("id", "<", 100)])
    assert pruned.count() == 100
    assert len(pruned.inputFiles()) < 4
    assert all(str(tmp_path / "moved") in f for f in pruned.inputFiles())


def test_mixed_covered_uncovered_predicates_still_prune(spark, tmp_path):
    """A predicate on an unindexed column must not disable pruning for
    the indexed one."""
    from sstable_migrator_spark.sinks.versioned import versioned_write

    t = str(tmp_path / "t")
    versioned_write(
        spark.range(1000).selectExpr("id", "id % 7 AS m").repartitionByRange(4, "id"),
        t, stats_cols=["id"],
    )
    got = read_version(
        spark, t, predicates=[("id", "<", 100), ("m", "=", 3)]
    )
    assert sorted(r["id"] for r in got.collect()) == [
        i for i in range(100) if i % 7 == 3
    ]
    assert len(got.inputFiles()) < 4  # id predicate still pruned
