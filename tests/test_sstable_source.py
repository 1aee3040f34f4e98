"""Distributed SSTable source: write via the ring path, scan back with
one task per sstable, full fidelity across the CQL type surface."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sstable_migrator_spark.sinks.ring import build_ring, write_sstables
from sstable_migrator_spark.sources.sstable_source import read_sstables

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def roundtrip(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sst_src") / "out")
    ring = build_ring(["n1", "n2", "n3"], vnodes_per_node=4)
    rows = [
        (
            f"dom{i}.example.com",
            f"src{i % 3}" if i % 7 else None,
            i,
            i / 8.0,
            i % 2 == 0,
            dt.datetime(2024, 1, 1, 0, 0, i % 60, tzinfo=UTC),
            dt.date(2024, 1, 1 + i % 28),
        )
        for i in range(150)
    ]
    df = spark.createDataFrame(
        rows,
        "domain string, source string, seq bigint, score double, "
        "flag boolean, ts timestamp, d date",
    )
    write_sstables(
        df, out, keyspace="ferret", table="wide",
        partition_key=["domain"], clustering=[], ring=ring, rf=2,
    )
    return df, out


def test_scan_round_trips_all_types(spark, roundtrip):
    df, out = roundtrip
    back = read_sstables(spark, out, partition_key=["domain"])
    # regular columns surface in sstable serialization order (sorted by
    # name, as Cassandra stores them), after the key columns
    assert back.schema.simpleString() == (
        "struct<domain:string,d:date,flag:boolean,score:double,"
        "seq:bigint,source:string,ts:timestamp>"
    )
    want = {tuple(r) for r in df.collect()}
    got = {tuple(r) for r in back.select(*df.columns).collect()}
    assert got == want
    # parallelism: one input partition per sstable directory
    assert back.rdd.getNumPartitions() > 1


def test_scan_validates_schema_names(spark, roundtrip):
    _, out = roundtrip
    with pytest.raises(ValueError, match="partition_key"):
        read_sstables(spark, out, partition_key=["a", "b"])
    with pytest.raises(ValueError, match="clustering"):
        read_sstables(spark, out, partition_key=["domain"], clustering=["x"])


def test_scan_empty_dir_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no sstable directories"):
        read_sstables(spark, str(tmp_path), partition_key=["k"])


@pytest.mark.parametrize(
    "first_cols, second_cols",
    [(["a"], ["a", "b"]), (["a", "b"], ["a"])],
    ids=["extra", "missing"],
)
def test_scan_rejects_mixed_headers(spark, tmp_path, first_cols, second_cols):
    """An sstable whose regular columns differ from the first one's
    must fail its scan task, naming it — not lose its extra columns or
    read back NULL for the ones it lacks."""
    from sstable_migrator_spark.sinks.sstable_format import CqlTable, SSTableWriter

    for rid, cols in ((0, first_cols), (1, second_cols)):
        w = SSTableWriter(
            str(tmp_path / f"cass_range={rid}"),
            CqlTable(
                keyspace="ks", table="t",
                columns=[("k", "varchar")] + [(c, "int") for c in cols],
                partition_key=["k"], clustering=[],
            ),
            generation=rid + 1,
        )
        w.add_row({"k": f"key{rid}", **{c: rid for c in cols}})
        w.close()
    with pytest.raises(Exception, match=r"sstable .*cass_range=1/nb-2-big.* differ"):
        read_sstables(spark, str(tmp_path), partition_key=["k"]).collect()
