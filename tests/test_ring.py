"""Ring placement (SURVEY K1/K2): vnode ring construction, replica
resolution, and the routed write layout — the Spark-side analog of
sstableloader's stream plan (daily_all_upload.sh:37-39)."""

from __future__ import annotations

import glob
import os
import json

import pytest

from sstable_migrator_spark.functions.cassandra import cassandra_token
from sstable_migrator_spark.sinks.ring import (
    MAX_TOKEN,
    MIN_TOKEN,
    build_ring,
    replica_plan,
    ring_placement_write,
)


def _owns(entry: dict, token: int) -> bool:
    if entry["wraps"]:
        return token > entry["start"] or token <= entry["end"]
    return entry["start"] < token <= entry["end"]


def test_build_ring_deterministic_and_sorted():
    ring = build_ring(["n1", "n2", "n3"], vnodes_per_node=16)
    assert ring == build_ring(["n1", "n2", "n3"], vnodes_per_node=16)
    toks = [t for t, _ in ring]
    assert toks == sorted(toks) and len(set(toks)) == 48
    assert all(MIN_TOKEN <= t <= MAX_TOKEN for t in toks)
    # vnodes interleave nodes (uniform murmur spread): no node owns a
    # clockwise run longer than a handful of consecutive vnodes
    nodes = [n for _, n in ring]
    longest, cur = 1, 1
    for a, b in zip(nodes, nodes[1:]):
        cur = cur + 1 if a == b else 1
        longest = max(longest, cur)
    assert longest <= 5


def test_replica_plan_simple_strategy():
    ring = [(-100, "a"), (0, "b"), (50, "a"), (100, "c")]
    plan = replica_plan(ring, rf=2)
    by_id = {p["range_id"]: p for p in plan}
    assert by_id[0]["wraps"] and by_id[0]["start"] == 100 and by_id[0]["end"] == -100
    assert by_id[0]["endpoints"] == ["a", "b"]
    assert by_id[1]["endpoints"] == ["b", "a"]
    assert by_id[2]["endpoints"] == ["a", "c"]
    assert by_id[3]["endpoints"] == ["c", "a"]
    # every range covered, boundaries chain
    for i in range(1, 4):
        assert by_id[i]["start"] == ring[i - 1][0]


def test_replica_plan_rack_aware_prefers_unseen_racks():
    # a,b share rack r1; c is alone on r2. rf=2 must span both racks,
    # so the walk from 'a' skips rack-mate 'b' in favor of 'c'.
    ring = [(-100, "a"), (0, "b"), (100, "c")]
    racks = {"a": "r1", "b": "r1", "c": "r2"}
    plan = replica_plan(ring, rf=2, racks=racks)
    by_id = {p["range_id"]: p for p in plan}
    assert by_id[0]["endpoints"] == ["a", "c"]
    assert by_id[1]["endpoints"] == ["b", "c"]
    assert by_id[2]["endpoints"] == ["c", "a"]
    # rf beyond rack count falls back to ring order (skipped nodes fill)
    plan3 = replica_plan(ring, rf=3, racks=racks)
    assert plan3[0]["endpoints"] == ["a", "c", "b"]


def test_replica_plan_rejects_impossible_rf():
    with pytest.raises(ValueError):
        replica_plan([(0, "a"), (10, "b")], rf=3)


def test_ring_placement_write_layout(spark, tmp_path):
    ring = build_ring(["n1", "n2", "n3"], vnodes_per_node=4)
    df = spark.createDataFrame(
        [(f"dom{i}.example", i % 7, f"p{i}") for i in range(300)],
        "domain string, shard int, payload string",
    )
    out = str(tmp_path / "ring_out")
    plan = ring_placement_write(
        df, out, partition_key=["domain"], clustering=["shard"], ring=ring, rf=2
    )
    manifest = json.load(open(f"{out}/_stream_plan.json"))
    assert manifest["rf"] == 2 and len(manifest["ranges"]) == 12
    assert manifest["ranges"] == plan
    by_id = {p["range_id"]: p for p in plan}

    seen = 0
    for d in glob.glob(f"{out}/cass_range=*"):
        rid = int(d.rsplit("=", 1)[1])
        part = spark.read.parquet(d).collect()
        seen += len(part)
        toks = [r["cass_token"] for r in part]
        for r in part:
            # routed token is the real Murmur3 token of the key and
            # falls inside the manifest's range bounds
            assert r["cass_token"] == cassandra_token(r["domain"])
            assert _owns(by_id[rid], r["cass_token"])
        # file is ring-ordered: sorted by token (then clustering)
        assert toks == sorted(toks)
    assert seen == 300


def test_replica_plan_properties_large_ring():
    """Property check over a realistic ring (6 nodes x 16 vnodes, 3
    racks): every range has exactly RF distinct endpoints, the owner
    leads, and endpoints span min(RF, n_racks) racks."""
    nodes = [f"n{i}" for i in range(6)]
    racks = {f"n{i}": f"r{i % 3}" for i in range(6)}
    ring = build_ring(nodes, vnodes_per_node=16)
    for rf in (2, 3):
        plan = replica_plan(ring, rf=rf, racks=racks)
        assert len(plan) == 96
        by_tok = dict(ring)
        for ent in plan:
            eps = ent["endpoints"]
            assert len(eps) == rf == len(set(eps))
            assert eps[0] == by_tok[ent["end"]]  # owner leads
            assert len({racks[e] for e in eps}) >= min(rf, 3)
        # SimpleStrategy: same invariants minus rack spread
        simple = replica_plan(ring, rf=rf)
        for ent in simple:
            assert len(ent["endpoints"]) == rf == len(set(ent["endpoints"]))


def test_write_sstables_end_to_end(spark, tmp_path):
    """K1 full path: Spark rows -> ring-routed BIG-format SSTables.
    Every range directory must hold one readable sstable whose
    partitions all fall inside the range's token bounds; the union of
    all sstables must be the input; and null columns must round-trip
    as absent cells."""
    import os

    from sstable_migrator_spark.sinks.ring import write_sstables
    from sstable_migrator_spark.sinks.sstable_format import read_sstable

    ring = build_ring(["n1", "n2", "n3"], vnodes_per_node=4)
    rows = [
        (f"dom{i}.example.com", f"src{i % 3}" if i % 7 else None, i)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "domain string, source string, seq bigint")
    plan = write_sstables(
        df, str(tmp_path / "out"), keyspace="ferret", table="cnames",
        partition_key=["domain"], clustering=[], ring=ring, rf=2,
    )
    by_id = {p["range_id"]: p for p in plan}

    seen = {}
    n_sstables = 0
    for d in sorted(glob.glob(str(tmp_path / "out" / "cass_range=*"))):
        rid = int(d.rsplit("=", 1)[1])
        got = read_sstable(d)
        assert got["index_ok"] and got["digest_ok"] and got["crc_ok"]
        assert got["bloom_all_present"]
        n_sstables += 1
        toks = [p["token"] for p in got["partitions"]]
        assert toks == sorted(toks)
        for p in got["partitions"]:
            assert _owns(by_id[rid], p["token"])
            dom = p["key_components"][0].decode()
            assert dom not in seen
            seen[dom] = p["rows"][0]["cells"]
    assert len(seen) == 200
    assert n_sstables >= 2  # 200 keys over a 12-vnode ring spread out
    assert seen["dom1.example.com"]["source"] == "src1"
    assert seen["dom1.example.com"]["seq"] == 1
    assert "source" not in seen["dom7.example.com"]  # null -> absent cell

    with open(tmp_path / "out" / "_sstable_manifests.json") as fh:
        manifests = json.load(fh)
    assert sum(m["rows"] for m in manifests) == 200
    assert all(m["prefix"] == f"nb-{m['range_id'] + 1}-big" for m in manifests)


def test_write_sstables_row_cap_splits_hot_range(spark, tmp_path):
    """A deliberately skewed load (every key owned by ONE vnode range
    via a single-node single-vnode ring) must split into N capped
    sub-sstables — distinct generations in the one range directory,
    written by separate tasks — that read back identically to the
    uncapped write."""
    from sstable_migrator_spark.sinks.ring import build_ring, write_sstables
    from sstable_migrator_spark.sources.sstable_source import read_sstables

    ring = build_ring(["solo"], vnodes_per_node=1)  # one range owns all
    df = spark.createDataFrame(
        [(f"key-{i}", i) for i in range(900)], "k string, seq long"
    )
    kw = dict(
        keyspace="ks", table="t", partition_key=["k"], clustering=[],
        ring=ring, rf=1,
    )
    write_sstables(df, str(tmp_path / "capped"), max_rows_per_sstable=200, **kw)
    write_sstables(df, str(tmp_path / "plain"), **kw)

    range_dirs = glob.glob(str(tmp_path / "capped" / "cass_range=*"))
    assert len(range_dirs) == 1
    tocs = [f for f in os.listdir(range_dirs[0]) if f.endswith("-TOC.txt")]
    # 900 rows / cap 200 -> 5 hash-split generations
    assert len(tocs) == 5, tocs
    with open(tmp_path / "capped" / "_sstable_manifests.json") as fh:
        manifests = json.load(fh)
    assert len(manifests) == 5
    assert sum(m["rows"] for m in manifests) == 900
    # hash split: balanced within sampling noise, nobody way over cap
    assert all(100 <= m["rows"] <= 260 for m in manifests), manifests
    # distinct generations, all in the same range dir
    assert len({m["prefix"] for m in manifests}) == 5

    got = {
        (r["k"], r["seq"])
        for r in read_sstables(spark, str(tmp_path / "capped"), partition_key=["k"]).collect()
    }
    plain = {
        (r["k"], r["seq"])
        for r in read_sstables(spark, str(tmp_path / "plain"), partition_key=["k"]).collect()
    }
    assert got == plain and len(got) == 900


def test_write_sstables_exact_values(spark, tmp_path):
    """Rows reach the writer as Arrow values: bigints above 2^53 that
    share an Arrow batch with a NULL in their column keep every bit, a
    double NaN is written as a NaN cell (not an absent one), and NULL
    stays NULL, through write_sstables -> read_sstables."""
    import math

    from sstable_migrator_spark.sinks.ring import write_sstables
    from sstable_migrator_spark.sinks.sstable_format import read_sstable
    from sstable_migrator_spark.sources.sstable_source import read_sstables

    rows = [
        ("a", (1 << 60) + 1, 1.5),
        ("b", None, float("nan")),
        ("c", (1 << 60) + 3, None),
    ]
    # one vnode: every row lands in the one range's task and batch
    df = spark.createDataFrame(rows, "k string, v bigint, x double").coalesce(1)
    out = str(tmp_path / "out")
    write_sstables(
        df, out, keyspace="ks", table="t", partition_key=["k"], clustering=[],
        ring=build_ring(["solo"], vnodes_per_node=1), rf=1,
    )
    got = {
        r["k"]: (r["v"], r["x"])
        for r in read_sstables(spark, out, partition_key=["k"]).collect()
    }
    assert got["a"] == ((1 << 60) + 1, 1.5)
    assert got["c"] == ((1 << 60) + 3, None)
    assert got["b"][0] is None and math.isnan(got["b"][1])
    assert len(got) == 3

    (d,) = glob.glob(os.path.join(out, "cass_range=*"))
    cells = {
        p["key_components"][0]: p["rows"][0]["cells"]
        for p in read_sstable(d)["partitions"]
    }
    assert math.isnan(cells[b"b"]["x"])  # a NaN cell, not an absent one
    assert "v" not in cells[b"b"] and "x" not in cells[b"c"]


def _agreement_cases():
    import datetime

    utc = datetime.timezone.utc
    ts0 = datetime.datetime(2024, 5, 17, 12, 30, 45, 123456, tzinfo=utc)
    return {
        "string": ("string", [f"ключ-{i}-日本語-✨" for i in range(40)]),
        "int": ("int", [(-1) ** i * i * 52361 for i in range(38)] + [2**31 - 1, -(2**31)]),
        "bigint": (
            "bigint",
            [7, -7, 2**63 - 1, -(2**63)]
            + [(1 << 53) + 1 + i * 1_000_003 for i in range(18)]
            + [-(1 << 60) - i for i in range(18)],
        ),
        "double": (
            "double",
            [i * 0.37 - 7.1 for i in range(36)] + [1e300, -0.0, 5e-324, float("inf")],
        ),
        "boolean": ("boolean", [True, False]),
        "timestamp": (
            "timestamp",
            [ts0 + datetime.timedelta(microseconds=1_001_317 * i) for i in range(36)]
            + [
                datetime.datetime(1969, 12, 31, 23, 59, 59, 999500, tzinfo=utc),
                datetime.datetime(1900, 1, 1, 0, 0, 0, 1, tzinfo=utc),
            ],
        ),
        "date": (
            "date",
            [datetime.date(2024, 5, 17) + datetime.timedelta(days=97 * i) for i in range(30)]
            + [datetime.date(1969, 12, 31), datetime.date(1, 1, 1)],
        ),
        "binary": (
            "binary",
            [bytes([i, 0x80 + i, 0xFF]) * (1 + i % 7) for i in range(40)],
        ),
    }


@pytest.mark.parametrize("case", [*_agreement_cases(), "composite"])
def test_router_and_writer_agree_on_every_key_type(spark, tmp_path, case):
    """The routed token and the written key hash the same bytes for
    every Spark type write_sstables supports (and a composite key):
    on a multi-vnode ring, every partition read back lies inside its
    cass_range= directory's bounds and carries exactly the token
    cassandra_token_col gave its row."""
    from sstable_migrator_spark.functions.cassandra import cassandra_token_col
    from sstable_migrator_spark.sinks.ring import write_sstables
    from sstable_migrator_spark.sinks.sstable_format import read_sstable

    cases = _agreement_cases()
    if case == "composite":
        (s_t, s), (b_t, b), (d_t, d) = (
            cases[c] for c in ("string", "bigint", "date")
        )
        n = min(len(s), len(b), len(d))
        types = [s_t, b_t, d_t]
        rows = [(i, s[i], b[i], d[i]) for i in range(n)]
    else:
        t, vals = cases[case]
        types = [t]
        rows = [(i, v) for i, v in enumerate(vals)]
    key = [f"k{j}" for j in range(len(types))]
    df = spark.createDataFrame(
        rows, ", ".join(["id int"] + [f"{c} {t}" for c, t in zip(key, types)])
    )
    routed = {
        r["id"]: r["tok"]
        for r in df.select(
            "id", cassandra_token_col(*key, spark_types=types).alias("tok")
        ).collect()
    }

    ring = build_ring(["n1", "n2", "n3"], vnodes_per_node=4)
    out = tmp_path / "out"
    plan = write_sstables(
        df, str(out), keyspace="ks", table="t", partition_key=key,
        clustering=[], ring=ring, rf=1,
    )
    by_id = {p["range_id"]: p for p in plan}
    seen = set()
    for d in glob.glob(str(out / "cass_range=*")):
        rid = int(d.rsplit("=", 1)[1])
        for p in read_sstable(d)["partitions"]:
            assert _owns(by_id[rid], p["token"])
            (row,) = p["rows"]
            assert p["token"] == routed[row["cells"]["id"]]
            seen.add(row["cells"]["id"])
    assert seen == set(routed) and len(seen) == len(rows)
