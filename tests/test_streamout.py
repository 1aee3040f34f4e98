"""K2 transport: the stream plan's bytes actually move — loopback TCP
sessions per (range, endpoint), sha256-acked per component, received
sstables independently re-parsed and compared to the input."""

from __future__ import annotations

import glob
import json
import os

import pytest

from sstable_migrator_spark.sinks.ring import build_ring, write_sstables
from sstable_migrator_spark.sinks.sstable_format import read_sstable
from sstable_migrator_spark.sinks.streamout import (
    SSTableReceiver,
    StreamError,
    send_range,
    stream_sstables,
)


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ssts") / "out")
    ring = build_ring(["n1", "n2", "n3"], vnodes_per_node=4)
    rows = [
        (f"dom{i}.example.com", f"src{i % 3}", i) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "domain string, source string, seq bigint")
    write_sstables(
        df, out, keyspace="ferret", table="cnames",
        partition_key=["domain"], clustering=[], ring=ring, rf=2,
    )
    return out


def test_stream_lands_on_every_replica(written, tmp_path):
    target = str(tmp_path / "cluster")
    recv = SSTableReceiver(target)
    try:
        sessions = stream_sstables(
            written, lambda ep: ("127.0.0.1", recv.port)
        )
    finally:
        recv.close()

    with open(os.path.join(written, "_stream_plan.json")) as fh:
        plan = json.load(fh)
    with open(os.path.join(written, "_sstable_manifests.json")) as fh:
        manifests = {m["range_id"]: m for m in json.load(fh)}
    endpoints = {r["range_id"]: set(r["endpoints"]) for r in plan["ranges"]}

    # every non-empty range went to exactly its RF endpoints
    got = {}
    for s in sessions:
        got.setdefault(s["range_id"], set()).add(s["endpoint"])
    assert set(got) == set(manifests)
    for rid, eps in got.items():
        assert eps == endpoints[rid]
        assert len(eps) == plan["rf"]

    # receiver-side sessions agree with sender-side summaries
    assert len(recv.sessions) == len(sessions)

    # received components are byte-identical (the ack already proved
    # sha256 equality; re-parse a received sstable end-to-end anyway)
    seen = {}
    for rid, m in manifests.items():
        for ep in endpoints[rid]:
            d = os.path.join(target, ep, "ferret", "cnames", f"cass_range={rid}")
            src = os.path.join(written, f"cass_range={rid}")
            for f in sorted(os.listdir(src)):
                if f.startswith(m["prefix"] + "-"):
                    with open(os.path.join(src, f), "rb") as a, open(
                        os.path.join(d, f), "rb"
                    ) as b:
                        assert a.read() == b.read(), f
        first_ep = sorted(endpoints[rid])[0]
        got_sst = read_sstable(
            os.path.join(target, first_ep, "ferret", "cnames", f"cass_range={rid}")
        )
        assert got_sst["index_ok"] and got_sst["digest_ok"] and got_sst["crc_ok"]
        for p in got_sst["partitions"]:
            seen[p["key_components"][0].decode()] = p["rows"][0]["cells"]["seq"]
    assert len(seen) == 120
    assert seen["dom42.example.com"] == 42


def test_session_recorded_before_sender_returns(tmp_path):
    """A caller that reads ``sessions`` right after ``send_range`` returns
    sees the session: the receiver records it before the last ack."""
    import socket

    src = tmp_path / "src"
    src.mkdir()
    for comp in ("Data.db", "Index.db", "TOC.txt"):
        (src / f"p-{comp}").write_bytes(os.urandom(300))
    recv = SSTableReceiver(str(tmp_path / "cluster"))
    try:
        for i in range(20):
            with socket.create_connection(("127.0.0.1", recv.port)) as conn:
                send_range(conn, str(src), "p", keyspace="k", table="t",
                           range_id=i, endpoint="n1")
            assert [x["range_id"] for x in recv.sessions] == list(range(i + 1))
    finally:
        recv.close()


def test_corrupted_ack_raises(written, tmp_path):
    recv = SSTableReceiver(str(tmp_path / "bad"), corrupt_acks=True)
    try:
        with pytest.raises(StreamError, match="ack mismatch"):
            stream_sstables(
                written, lambda ep: ("127.0.0.1", recv.port), max_workers=1
            )
    finally:
        recv.close()


def test_unknown_plan_dir_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        stream_sstables(str(tmp_path), lambda ep: ("127.0.0.1", 1))


def test_malformed_frames_do_not_wedge_receiver(written, tmp_path):
    """Garbage sessions (bad magic, oversized header, traversal paths)
    are rejected without crashing the server; a valid stream still
    lands afterwards."""
    import socket
    import struct

    from sstable_migrator_spark.sinks.streamout import MAGIC

    target = str(tmp_path / "cluster")
    recv = SSTableReceiver(target)
    try:
        # bad magic
        with socket.create_connection(("127.0.0.1", recv.port)) as c:
            c.sendall(b"NOTSST")
        # oversized header claim
        with socket.create_connection(("127.0.0.1", recv.port)) as c:
            c.sendall(MAGIC + struct.pack(">I", 1 << 30))
        # path traversal in header
        with socket.create_connection(("127.0.0.1", recv.port)) as c:
            evil = json.dumps(
                {
                    "keyspace": "../../etc",
                    "table": "t",
                    "range_id": 0,
                    "endpoint": "n1",
                    "files": [["x", 1]],
                }
            ).encode()
            c.sendall(MAGIC + struct.pack(">I", len(evil)) + evil + b"z")
        assert not os.path.exists(os.path.join(str(tmp_path), "etc"))
        # traversal via the one non-string path field
        with socket.create_connection(("127.0.0.1", recv.port)) as c:
            evil = json.dumps(
                {
                    "keyspace": "k",
                    "table": "t",
                    "range_id": "0/../../../../escape",
                    "endpoint": "n1",
                    "files": [["x", 1]],
                }
            ).encode()
            c.sendall(MAGIC + struct.pack(">I", len(evil)) + evil + b"z")
        # negative / non-int sizes must be rejected, not read-until-EOF
        for bad_size in (-1, "abc"):
            with socket.create_connection(("127.0.0.1", recv.port)) as c:
                evil = json.dumps(
                    {
                        "keyspace": "k",
                        "table": "t",
                        "range_id": 0,
                        "endpoint": "n1",
                        "files": [["x", bad_size]],
                    }
                ).encode()
                c.sendall(MAGIC + struct.pack(">I", len(evil)) + evil)
                c.settimeout(5)
                assert c.recv(32) == b""  # receiver hung up, no ack
        assert not os.path.exists(os.path.join(str(tmp_path), "escape"))
        assert recv.sessions == []

        # a clean session still succeeds on the same server
        sessions = stream_sstables(
            written, lambda ep: ("127.0.0.1", recv.port), max_workers=2
        )
        assert sessions and all(s["files"] > 0 for s in sessions)
    finally:
        recv.close()


def test_verify_streamed_audit(written, tmp_path):
    """Post-load audit: green on an intact landing, pinpoints a missing
    component and a flipped byte per (range, endpoint)."""
    from sstable_migrator_spark.sinks.streamout import verify_streamed

    target = str(tmp_path / "cluster")
    recv = SSTableReceiver(target)
    try:
        stream_sstables(written, lambda ep: ("127.0.0.1", recv.port))
    finally:
        recv.close()

    rep = verify_streamed(target, written)
    assert rep["sessions_expected"] > 0
    assert rep["ok"] == rep["sessions_expected"]
    assert not rep["missing"] and not rep["corrupt"]

    with open(os.path.join(written, "_stream_plan.json")) as fh:
        plan = json.load(fh)
    with open(os.path.join(written, "_sstable_manifests.json")) as fh:
        manifests = json.load(fh)
    eps = {r["range_id"]: r["endpoints"] for r in plan["ranges"]}
    r0, r1, r2 = manifests[0], manifests[1], manifests[2]

    # delete a component on one endpoint of range r0
    d0 = os.path.join(
        target, eps[r0["range_id"]][0], "ferret", "cnames",
        f"cass_range={r0['range_id']}",
    )
    os.remove(os.path.join(d0, f"{r0['prefix']}-Data.db"))
    # flip one byte of Data.db on one endpoint of range r1
    d1 = os.path.join(
        target, eps[r1["range_id"]][0], "ferret", "cnames",
        f"cass_range={r1['range_id']}",
    )
    p1 = os.path.join(d1, f"{r1['prefix']}-Data.db")
    blob = bytearray(open(p1, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    open(p1, "wb").write(bytes(blob))
    # flip the last byte of Summary.db (inside its last-key copy) on
    # one endpoint of range r2: every other flag stays green
    d2 = os.path.join(
        target, eps[r2["range_id"]][0], "ferret", "cnames",
        f"cass_range={r2['range_id']}",
    )
    p2 = os.path.join(d2, f"{r2['prefix']}-Summary.db")
    blob = bytearray(open(p2, "rb").read())
    blob[-1] ^= 0xFF
    open(p2, "wb").write(bytes(blob))
    flags = read_sstable(d2, prefix=r2["prefix"])
    assert flags["summary_ok"] is False and not flags["ok"]
    assert flags["index_ok"] and flags["digest_ok"] and flags["crc_ok"]
    assert flags["bloom_all_present"]

    rep = verify_streamed(target, written)
    assert rep["ok"] == rep["sessions_expected"] - 3
    assert [(m[0], m[1]) for m in rep["missing"]] == [
        (r0["range_id"], eps[r0["range_id"]][0])
    ]
    assert sorted((c[0], c[1]) for c in rep["corrupt"]) == sorted([
        (r1["range_id"], eps[r1["range_id"]][0]),
        (r2["range_id"], eps[r2["range_id"]][0]),
    ])


def test_full_lifecycle_write_stream_verify_scan(spark, written, tmp_path):
    """Capstone: ring write -> socket stream -> post-load audit -> the
    DISTRIBUTED sstable source scanning a landed replica directory
    reproduces the original rows exactly."""
    from sstable_migrator_spark.sinks.streamout import verify_streamed
    from sstable_migrator_spark.sources.sstable_source import read_sstables

    target = str(tmp_path / "cluster")
    recv = SSTableReceiver(target)
    try:
        stream_sstables(written, lambda ep: ("127.0.0.1", recv.port))
    finally:
        recv.close()
    rep = verify_streamed(target, written)
    assert rep["ok"] == rep["sessions_expected"] and not rep["missing"]

    landed = os.path.join(target, "n1", "ferret", "cnames")
    back = read_sstables(spark, landed, partition_key=["domain"])
    got = {
        (r["domain"], r["source"], r["seq"]) for r in back.collect()
    }
    # n1 holds only the ranges it replicates — a strict subset that
    # must still be internally exact
    assert 0 < len(got) < 120
    assert all(d.endswith(".example.com") for d, _, _ in got)
    for d, s, q in got:
        i = int(d[3:].split(".")[0])
        assert q == i and s == f"src{i % 3}"


def test_bulk_load_job_pipeline(spark, tmp_path):
    """daily_all_upload.sh as one call: write -> stream -> audit ->
    notify + run log, all green on a loopback cluster."""
    import json as _json

    from sstable_migrator_spark.pipelines.daily import bulk_load_job
    from sstable_migrator_spark.sinks.ring import build_ring

    ring = build_ring(["n1", "n2", "n3"], vnodes_per_node=4)
    df = spark.createDataFrame(
        [(f"d{i}.example.com", i) for i in range(80)],
        "domain string, seq bigint",
    )
    target = str(tmp_path / "cluster")
    outbox = str(tmp_path / "outbox.jsonl")
    run_log = str(tmp_path / "runlog")
    recv = SSTableReceiver(target)
    try:
        report = bulk_load_job(
            df, str(tmp_path / "staging"), keyspace="ferret", table="cnames",
            partition_key=["domain"], clustering=[], ring=ring,
            endpoint_resolver=lambda ep: ("127.0.0.1", recv.port), rf=2,
            run_id="r1", run_log_path=run_log, notify_outbox=outbox,
            verify_target=target,
        )
    finally:
        recv.close()

    assert report["status"] == "ok"
    assert report["audit_missing"] == 0 and report["audit_corrupt"] == 0
    assert report["sessions"] == report["audit_ok"]
    assert report["bytes"] > 0

    with open(outbox) as fh:
        msgs = [_json.loads(ln) for ln in fh]
    assert len(msgs) == 1 and "sessions:" in msgs[0]["message"]

    log = spark.read.parquet(run_log).collect()
    assert len(log) == 1
    assert log[0]["run_id"] == "r1" and log[0]["status"] == "ok"
    assert log[0]["metrics"]["sessions"] == report["sessions"]


def test_fuzz_random_garbage_sessions(written, tmp_path):
    """Deterministically-seeded random byte blobs thrown at the
    receiver: none may crash the server or write outside the target;
    a clean stream afterwards still lands."""
    import random
    import socket

    rng = random.Random(20240814)
    target = str(tmp_path / "cluster")
    recv = SSTableReceiver(target)
    try:
        for i in range(25):
            blob = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 400)))
            with socket.create_connection(("127.0.0.1", recv.port)) as c:
                c.sendall(blob)
        assert recv.sessions == []
        sessions = stream_sstables(
            written, lambda ep: ("127.0.0.1", recv.port), max_workers=2
        )
        assert sessions and len(recv.sessions) == len(sessions)
    finally:
        recv.close()
