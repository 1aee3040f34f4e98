"""compact_sstables: multi-generation merge with row-level
last-write-wins, verified by the independent reader."""

from __future__ import annotations

import glob

import pytest

from sstable_migrator_spark.sinks.sstable_format import (
    TIMESTAMP_EPOCH_US,
    CqlTable,
    SSTableWriter,
    compact_sstables,
    read_sstable,
)

T1 = TIMESTAMP_EPOCH_US + 1_000_000
T2 = TIMESTAMP_EPOCH_US + 2_000_000


def _write_gen(directory, gen, ts, rows, compression=None):
    schema = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "text"), ("seq", "bigint"), ("v", "text")],
        partition_key=["k"], clustering=[],
    )
    w = SSTableWriter(
        directory, schema, generation=gen, write_timestamp_us=ts,
        compression=compression,
    )
    for r in rows:
        w.add_row(r)
    return w.close()


def test_compact_last_write_wins(tmp_path):
    src = str(tmp_path / "range0")
    _write_gen(src, 1, T1, [
        {"k": f"key{i}", "seq": i, "v": f"old{i}"} for i in range(20)
    ])
    # gen 2 rewrites the even keys and adds 5 new ones
    _write_gen(src, 2, T2, [
        {"k": f"key{i}", "seq": 100 + i, "v": f"new{i}"}
        for i in range(0, 20, 2)
    ] + [
        {"k": f"extra{i}", "seq": 1000 + i, "v": f"x{i}"} for i in range(5)
    ])

    out = str(tmp_path / "compacted")
    m = compact_sstables(src, out, keyspace="ks", table="t",
                         partition_key=["k"])
    assert m["inputs"] == 2
    assert m["rows_dropped"] == 10  # the overwritten even keys
    assert m["prefix"] == "nb-3-big"

    got = read_sstable(out)
    assert got["index_ok"] and got["digest_ok"] and got["crc_ok"]
    assert got["bloom_all_present"]
    toks = [p["token"] for p in got["partitions"]]
    assert toks == sorted(toks)
    seen = {
        p["key_components"][0].decode(): p["rows"][0]["cells"]
        for p in got["partitions"]
    }
    assert len(seen) == 25
    assert seen["key3"] == {"seq": 3, "v": "old3"}
    assert seen["key4"] == {"seq": 104, "v": "new4"}
    assert seen["extra2"] == {"seq": 1002, "v": "x2"}


def test_compact_older_generation_cannot_resurrect(tmp_path):
    """A LOWER-timestamp row in a higher generation still loses to the
    newer timestamp (timestamp dominates; generation only tie-breaks)."""
    src = str(tmp_path / "range1")
    _write_gen(src, 1, T2, [{"k": "a", "seq": 1, "v": "newer"}])
    _write_gen(src, 2, T1, [{"k": "a", "seq": 2, "v": "stale"}])
    out = str(tmp_path / "c")
    m = compact_sstables(src, out, keyspace="ks", table="t",
                         partition_key=["k"])
    got = read_sstable(out)
    assert m["rows_dropped"] == 1
    assert got["partitions"][0]["rows"][0]["cells"]["v"] == "newer"


def test_compact_empty_dir_raises(tmp_path):
    with pytest.raises(ValueError, match="no sstables"):
        compact_sstables(str(tmp_path), str(tmp_path / "o"),
                         keyspace="k", table="t", partition_key=["k"])


def test_compact_stream_batches(spark, tmp_path):
    """Two bulk-load waves (batch_id=0/1) with overlapping keys merge
    to one sstable per range; later wave wins; the distributed source
    over the compacted layout returns exactly the reconciled rows."""
    from sstable_migrator_spark.sinks.ring import (
        build_ring,
        compact_stream_batches,
        write_sstables,
    )
    from sstable_migrator_spark.sources.sstable_source import read_sstables

    ring = build_ring(["n1", "n2"], vnodes_per_node=3)
    root = tmp_path / "waves"
    w0 = [(f"k{i}", i, "wave0") for i in range(60)]
    w1 = [(f"k{i}", 100 + i, "wave1") for i in range(0, 60, 3)] + [
        (f"fresh{i}", 1000 + i, "wave1") for i in range(10)
    ]
    for bid, rows in ((0, w0), (1, w1)):
        df = spark.createDataFrame(rows, "k string, seq bigint, v string")
        write_sstables(
            df, str(root / f"batch_id={bid}"), keyspace="ks", table="t",
            partition_key=["k"], clustering=[], ring=ring, rf=1,
            write_timestamp_us=1700000000000000 + bid,
        )

    out = str(tmp_path / "compacted")
    manifests = compact_stream_batches(
        spark, str(root), out, keyspace="ks", table="t", partition_key=["k"]
    )
    assert sum(m["rows_dropped"] for m in manifests) == 20
    assert sum(m["rows"] for m in manifests) == 70
    assert all(m["inputs"] >= 1 for m in manifests)

    back = read_sstables(spark, out, partition_key=["k"])
    got = {r["k"]: (r["seq"], r["v"]) for r in back.collect()}
    assert len(got) == 70
    assert got["k3"] == (103, "wave1")   # overwritten by wave 1
    assert got["k4"] == (4, "wave0")     # untouched
    assert got["fresh5"] == (1005, "wave1")


def test_compact_stream_batches_keeps_every_capped_generation(spark, tmp_path):
    """A row-capped wave holds several sstables per range directory;
    compaction must merge all of them, and a later wave still wins
    exact timestamp ties even when its generation numbers are lower."""
    from sstable_migrator_spark.sinks.ring import (
        build_ring,
        compact_stream_batches,
        write_sstables,
    )
    from sstable_migrator_spark.sinks.sstable_format import sstable_prefixes
    from sstable_migrator_spark.sources.sstable_source import read_sstables

    ring = build_ring(["solo"], vnodes_per_node=1)  # one range owns all
    root = tmp_path / "waves"
    w0 = [(f"k{i}", i, "wave0") for i in range(100)]
    w1 = [(f"k{i}", 100 + i, "wave1") for i in range(0, 100, 5)]
    for bid, rows, cap in ((0, w0, 30), (1, w1, 8)):
        write_sstables(
            spark.createDataFrame(rows, "k string, seq bigint, v string"),
            str(root / f"batch_id={bid}"), keyspace="ks", table="t",
            partition_key=["k"], clustering=[], ring=ring, rf=1,
            write_timestamp_us=1700000000000000,  # same stamp: a tie
            max_rows_per_sstable=cap,
        )
    gens = [
        sstable_prefixes(d)
        for d in sorted(glob.glob(str(root / "batch_id=*" / "cass_range=*")))
    ]
    assert len(gens) == 2 and len(gens[0]) > 1 and len(gens[1]) > 1, gens

    out = str(tmp_path / "compacted")
    manifests = compact_stream_batches(
        spark, str(root), out, keyspace="ks", table="t", partition_key=["k"]
    )
    assert len(manifests) == 1
    assert manifests[0]["inputs"] == len(gens[0]) + len(gens[1])
    assert manifests[0]["rows"] == 100
    assert manifests[0]["rows_dropped"] == 20

    got = {
        r["k"]: (r["seq"], r["v"])
        for r in read_sstables(spark, out, partition_key=["k"]).collect()
    }
    assert got == {
        f"k{i}": (100 + i, "wave1") if i % 5 == 0 else (i, "wave0")
        for i in range(100)
    }


# --- property: merge vs a pure-Python LWW model ---------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_key = st.integers(min_value=0, max_value=14)
_gen_rows = st.lists(
    st.tuples(_key, st.integers(min_value=0, max_value=999)),
    min_size=1, max_size=12,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(waves=st.lists(_gen_rows, min_size=1, max_size=4))
def test_compact_matches_python_lww_model(tmp_path_factory, waves):
    """Arbitrary multi-generation inputs (duplicate keys within and
    across generations, varying timestamps) must reconcile exactly like
    the obvious dict model: per key, the (timestamp, input-order)-max
    row wins; within one generation the writer itself is last-add-wins
    for duplicate keys of an unclustered table."""
    tmp = tmp_path_factory.mktemp("cprop")
    src = str(tmp / "src")
    model: dict[int, tuple] = {}
    for gi, rows in enumerate(waves):
        ts = TIMESTAMP_EPOCH_US + 1_000_000 * ((gi * 7) % 3)  # ts ties happen
        dedup = {}
        for k, v in rows:  # writer semantics: one row per PK, last wins
            dedup[k] = v
        _write_gen(
            src, gi + 1, ts,
            [{"k": f"k{k:02d}", "seq": v, "v": f"g{gi}"} for k, v in dedup.items()],
        )
        for k, v in dedup.items():
            stamp = (ts, gi)
            if k not in model or stamp >= model[k][0]:
                model[k] = (stamp, v, f"g{gi}")

    out = str(tmp / "out")
    m = compact_sstables(src, out, keyspace="ks", table="t", partition_key=["k"])
    got = {
        p["key_components"][0].decode(): p["rows"][0]["cells"]
        for p in read_sstable(out)["partitions"]
    }
    assert m["rows"] == len(model)
    want = {f"k{k:02d}": (v, g) for k, (_s, v, g) in model.items()}
    assert {n: (c["seq"], c["v"]) for n, c in got.items()} == want


def test_recompaction_preserves_row_timestamps(tmp_path):
    """The output of a compaction carries each winning row's ORIGINAL
    timestamp, so a later round cannot let a stale value beat a
    genuinely newer intermediate write: gen1 A@T1, gen2 B@T3 ->
    compact (A must stay stamped T1) -> new write A@T2 (T1<T2<T3) ->
    recompact: the T2 write must win."""
    t1, t2, t3 = T1, T1 + 500_000, T2
    r1 = str(tmp_path / "round1")
    _write_gen(r1, 1, t1, [{"k": "a", "seq": 1, "v": "orig"}])
    _write_gen(r1, 2, t3, [{"k": "b", "seq": 2, "v": "other"}])
    c1 = str(tmp_path / "c1")
    compact_sstables(r1, c1, keyspace="ks", table="t", partition_key=["k"])
    got1 = {
        p["key_components"][0].decode(): p["rows"][0]["timestamp_us"]
        for p in read_sstable(c1)["partitions"]
    }
    assert got1 == {"a": t1, "b": t3}  # per-row stamps preserved

    r2 = str(tmp_path / "round2")
    import shutil

    shutil.copytree(c1, r2)
    _write_gen(r2, 9, t2, [{"k": "a", "seq": 99, "v": "update"}])
    c2 = str(tmp_path / "c2")
    compact_sstables(r2, c2, keyspace="ks", table="t", partition_key=["k"])
    seen = {
        p["key_components"][0].decode(): p["rows"][0]["cells"]
        for p in read_sstable(c2)["partitions"]
    }
    assert seen["a"] == {"seq": 99, "v": "update"}  # T2 beats T1, not T3
    assert seen["b"] == {"seq": 2, "v": "other"}


def test_compact_rejects_schema_evolution(tmp_path):
    """An input whose regular-column set differs must raise loudly
    instead of silently dropping the extra column's cells."""
    src = str(tmp_path / "mix")
    _write_gen(src, 1, T1, [{"k": "a", "seq": 1, "v": "x"}])
    schema2 = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "text"), ("seq", "bigint"), ("v", "text"),
                 ("email", "text")],
        partition_key=["k"], clustering=[],
    )
    w = SSTableWriter(src, schema2, generation=2, write_timestamp_us=T2)
    w.add_row({"k": "b", "seq": 2, "v": "y", "email": "e@example.com"})
    w.close()
    with pytest.raises(ValueError, match="regular-column set"):
        compact_sstables(src, str(tmp_path / "out"), keyspace="ks",
                         table="t", partition_key=["k"])


def test_streaming_iterator_equals_batch_reader(tmp_path):
    """SSTableReader.partitions must yield exactly read_sstable's
    partition sequence (keys, tokens, rows, per-row timestamps) — the
    heap merge's correctness rests on this equivalence."""
    from sstable_migrator_spark.sinks.sstable_format import SSTableReader

    src = str(tmp_path / "one")
    _write_gen(src, 1, T1, [
        {"k": f"key{i}", "seq": i, "v": f"x{i}"} for i in range(50)
    ])
    batch = read_sstable(src)["partitions"]
    stream = list(SSTableReader(src).partitions())
    assert len(stream) == len(batch) == 50
    for a, b in zip(stream, batch):
        assert a["key"] == b["key"] and a["token"] == b["token"]
        assert a["rows"] == b["rows"]

    # deflate branch: a compressed sstable must stream identically, and
    # compacting a mixed compressed+plain pair must reconcile normally
    czd = str(tmp_path / "zd")
    _write_gen(czd, 1, T1, [
        {"k": f"key{i}", "seq": i, "v": f"x{i}" * 20} for i in range(50)
    ], compression="deflate")
    zb = read_sstable(czd)["partitions"]
    zs = list(SSTableReader(czd).partitions())
    assert [p["key"] for p in zs] == [p["key"] for p in zb]
    assert [p["rows"] for p in zs] == [p["rows"] for p in zb]

    _write_gen(czd, 2, T2, [{"k": "key7", "seq": 700, "v": "new"}])
    out = str(tmp_path / "zout")
    m = compact_sstables(czd, out, keyspace="ks", table="t",
                         partition_key=["k"])
    assert m["rows_dropped"] == 1
    seen = {
        p["key_components"][0].decode(): p["rows"][0]["cells"]["seq"]
        for p in read_sstable(out)["partitions"]
    }
    assert seen["key7"] == 700 and len(seen) == 50
