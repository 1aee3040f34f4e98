"""Structured-Streaming micro-batch parity (SURVEY T1-T3): the daily
cron tick as availableNow triggers with watermarked dedup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sstable_migrator_spark.streaming.daily import run_available_now


def test_available_now_micro_batch(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "batch1.csv").write_text(
        "www.example.com,A,1.2.3.4\n"
        "dup.example.com,A,1.2.3.5\n"
        "dup.example.com,A,1.2.3.6\n"
    )
    out_dir = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    run_available_now(spark, str(in_dir) + "/*.csv", out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.count() == 2  # in-batch duplicate suppressed
    assert "batch_date" in got.columns

    # second cron tick: new file, previously-seen key within watermark
    (in_dir / "batch2.csv").write_text(
        "dup.example.com,A,1.2.3.7\n"
        "fresh.example.com,A,1.2.3.8\n"
    )
    run_available_now(spark, str(in_dir) + "/*.csv", out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    doms = [r["domain"] for r in got.collect()]
    assert sorted(doms) == ["dup.example.com", "fresh.example.com", "www.example.com"]


def test_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionizer: a closed session is emitted as
    soon as a later event exceeds the gap; the still-open session stays
    in state (append semantics), then closes on the next batch."""
    from pyspark.sql import types as T

    from sstable_migrator_spark.streaming.daily import stateful_sessionize

    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    out_dir = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def run_tick():
        stream = spark.readStream.schema(schema).csv(str(in_dir) + "/*.csv")
        q = (
            stateful_sessionize(stream, gap_seconds=1800)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # user 1: two events 10s apart, then a 2h jump (closes session 1),
    # then one more event 5s later. user 2: single event.
    (in_dir / "b1.csv").write_text(
        "1,2024-01-01 00:00:00\n"
        "1,2024-01-01 00:00:10\n"
        "1,2024-01-01 02:00:00\n"
        "1,2024-01-01 02:00:05\n"
        "2,2024-01-01 00:00:00\n"
    )
    run_tick()
    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 1  # only the CLOSED session is emitted
    r = got[0]
    assert r["user_id"] == 1 and r["n_events"] == 2
    assert r["session_start"].isoformat() == "2024-01-01T00:00:00"
    assert r["session_end"].isoformat() == "2024-01-01T00:00:10"

    # batch 2: an event far past both open sessions closes them
    (in_dir / "b2.csv").write_text(
        "1,2024-01-02 00:00:00\n"
        "2,2024-01-02 00:00:00\n"
    )
    run_tick()
    rows = spark.read.parquet(out_dir).collect()
    closed = sorted((r["user_id"], r["n_events"]) for r in rows)
    # session 1 (batch 1) + the two opens closed by batch 2
    assert closed == [(1, 2), (1, 2), (2, 1)]
    # exactly-once: a no-new-data rerun from the same checkpoint must
    # not reprocess or re-emit anything
    run_tick()
    assert spark.read.parquet(out_dir).count() == len(rows)


def test_routed_stream_sink_multi_table(spark, tmp_path):
    """foreachBatch multi-sink: ONE micro-batch parse feeds all three
    routed tables (the streaming twin of daily_upload_job); a second
    tick appends without reprocessing the first batch (checkpoint)."""
    from sstable_migrator_spark import schemas
    from sstable_migrator_spark.sources import dims
    from sstable_migrator_spark.streaming.daily import routed_stream_sink

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.csv").write_text(
        "www.example.com,A,1.2.3.4\n"
        "alias.example.org,CNAME,target.example.net\n"
        "bad_domain_,A,1.2.3.5\n"
    )
    out_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schemas.DNS_RECORDS).csv(str(in_dir) + "/*.csv")
    q = routed_stream_sink(
        stream,
        dims.synthetic_geoip_city(spark),
        dims.synthetic_geoip_asn(spark),
        out_dir,
        ckpt,
    )
    q.awaitTermination()

    rdns = spark.read.parquet(f"{out_dir}/rdnsv4")
    subs = spark.read.parquet(f"{out_dir}/subdomains")
    cnames = spark.read.parquet(f"{out_dir}/cnames")
    # A record lands in BOTH rdns and subdomains; CNAME only in cnames
    assert rdns.count() == 1
    assert subs.count() == 1
    assert cnames.count() == 1
    assert rdns.collect()[0]["ipAddress"] == "1.2.3.4"
    assert cnames.collect()[0]["target"] == "target.example.net"

    # tick 2: only the new file is processed (checkpoint), appends add up
    (in_dir / "b2.csv").write_text("another.example.io,A,9.8.7.6\n")
    stream = spark.readStream.schema(schemas.DNS_RECORDS).csv(str(in_dir) + "/*.csv")
    q = routed_stream_sink(
        stream,
        dims.synthetic_geoip_city(spark),
        dims.synthetic_geoip_asn(spark),
        out_dir,
        ckpt,
    )
    q.awaitTermination()
    assert spark.read.parquet(f"{out_dir}/rdnsv4").count() == 2
    assert spark.read.parquet(f"{out_dir}/cnames").count() == 1


def test_ttl_dedup_stream(spark, tmp_path):
    """transformWithState TTL dedup: first occurrence of a key passes,
    cross-batch and in-batch repeats are dropped while state lives.

    transformWithState's Python worker needs google.protobuf for the
    state-server protocol; the vendored shim (streaming/protoshim.py,
    activated in conftest BEFORE the session so workers inherit the
    PYTHONPATH) stands in when no real wheel is installed.

    The query runs as ONE always-on stream (processing-time trigger,
    stopped explicitly) — its production shape. availableNow is
    deliberately NOT used: with TTL state enabled every micro-batch
    advances the batch timestamp, TransformWithState then reports more
    TTL work, and the run-one-more-batch loop never drains ("No new
    data but cleaning up state" forever) — a trigger/TTL interaction
    worth knowing about at any scale."""
    import time

    from sstable_migrator_spark.streaming.protoshim import ensure_protobuf

    ensure_protobuf()
    from pyspark.sql import types as T

    from sstable_migrator_spark.streaming.daily import ttl_dedup_stream

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    in_dir = tmp_path / "feed"
    in_dir.mkdir()
    out_dir = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt_ttl")
    schema = T.StructType(
        [
            T.StructField("domain", T.StringType()),
            T.StructField("ip", T.StringType()),
        ]
    )

    (in_dir / "b1.csv").write_text(
        "a.example.com,1.1.1.1\n"
        "a.example.com,1.1.1.2\n"   # in-batch repeat collapses
        "b.example.com,2.2.2.2\n"
    )
    stream = spark.readStream.schema(schema).csv(str(in_dir) + "/*.csv")
    q = (
        ttl_dedup_stream(stream, key_col="domain", ttl_ms=3600_000)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )

    def wait_for(expected: set[str], timeout_s: float = 180.0) -> set[str]:
        deadline = time.monotonic() + timeout_s
        got: set[str] = set()
        while time.monotonic() < deadline:
            if q.exception():
                raise AssertionError(f"query failed: {q.exception()}")
            try:
                got = {r["domain"] for r in spark.read.parquet(out_dir).collect()}
            except Exception:  # noqa: BLE001 — sink not committed yet
                got = set()
            if got == expected:
                return got
            time.sleep(2)
        raise AssertionError(f"timed out waiting for {expected}, got {got}")

    try:
        wait_for({"a.example.com", "b.example.com"})

        (in_dir / "b2.csv").write_text(
            "a.example.com,9.9.9.9\n"   # cross-batch repeat: dropped
            "c.example.com,3.3.3.3\n"
        )
        wait_for({"a.example.com", "b.example.com", "c.example.com"})
        rows = spark.read.parquet(out_dir).collect()
        assert len(rows) == 3  # the two repeats never reached the sink
    finally:
        q.stop()
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_near_dup_across_batches(spark, tmp_path):
    """Cross-batch near-dup: a doc arriving in a LATER availableNow run
    (fresh query, same checkpoint) is flagged against a signature
    registered in an earlier run — state survives via the checkpoint."""
    from sstable_migrator_spark.streaming.daily import streaming_near_dup_candidates

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps near the warm stove in the old kitchen")
    other = "completely different text about spark engines and shuffle plans"

    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "hits")

    def drain(_name):
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        q = (
            streaming_near_dup_candidates(stream, num_hashes=16, bands=8,
                                          min_matches=10)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        try:
            return spark.read.parquet(out).collect()
        except Exception:  # no files yet (no hits emitted)
            return []

    import json as _json
    (src / "b1.jsonl").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t})
                  for i, t in [(0, base), (1, other)])
    )
    first = drain("nd_run1")
    assert first == []  # nothing to collide with yet

    (src / "b2.jsonl").write_text(
        _json.dumps({"doc_id": 10, "text": base.replace("cat", "bird")})
    )
    second = drain("nd_run2")
    hits = {(r["doc_id"], r["dup_of"]) for r in second}
    assert hits == {(10, 0)}
    assert all(r["matches"] >= 10 for r in second)


def test_sessionize_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout close semantics: sessions of users who never
    return are emitted once the watermark (driven by OTHER users'
    events) passes session end + gap — no per-user poke needed."""
    from pyspark.sql import types as T

    from sstable_migrator_spark.streaming.daily import stateful_sessionize_event_time

    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    out_dir = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )

    def run_tick():
        stream = spark.readStream.schema(schema).csv(str(in_dir) + "/*.csv")
        q = (
            stateful_sessionize_event_time(stream, gap_seconds=1800,
                                           watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (in_dir / "b1.csv").write_text(
        "1,2024-01-01 00:00:00\n1,2024-01-01 00:00:10\n2,2024-01-01 00:00:30\n"
    )
    run_tick()
    import glob

    first = (spark.read.parquet(out_dir).collect()
             if glob.glob(f"{out_dir}/*.parquet") else [])
    assert first == []  # watermark hasn't passed end+gap yet

    # ONLY user 99 appears later; its event pushes the watermark past
    # users 1 and 2's (end + 30 min), closing their sessions unpoked
    (in_dir / "b2.csv").write_text("99,2024-01-01 03:00:00\n")
    run_tick()
    rows = spark.read.parquet(out_dir).collect()
    got = {(r["user_id"], r["n_events"]) for r in rows}
    assert got == {(1, 2), (2, 1)}
    for r in rows:
        if r["user_id"] == 1:
            assert r["session_start"].isoformat() == "2024-01-01T00:00:00"
            assert r["session_end"].isoformat() == "2024-01-01T00:00:10"


def test_watermark_dedup_within(spark, tmp_path):
    """dropDuplicatesWithinWatermark: key-only dedup across micro-
    batches with evictable state — repeats with DIFFERENT event times
    collapse; a fresh key passes."""
    from pyspark.sql import types as T

    from sstable_migrator_spark.streaming.daily import watermark_dedup_within

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = T.StructType([
        T.StructField("domain", T.StringType()),
        T.StructField("seen_ts", T.TimestampType()),
    ])

    def tick():
        stream = spark.readStream.schema(schema).csv(str(in_dir) + "/*.csv")
        q = (
            watermark_dedup_within(stream, key="domain", window="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (in_dir / "b1.csv").write_text(
        "a.com,2024-01-01 10:00:00\n"
        "a.com,2024-01-01 10:05:00\n"   # same key, different ts: collapses
        "b.com,2024-01-01 10:00:00\n"
    )
    tick()
    assert sorted(r["domain"] for r in spark.read.parquet(out).collect()) == [
        "a.com", "b.com",
    ]
    (in_dir / "b2.csv").write_text(
        "a.com,2024-01-01 10:10:00\n"   # cross-batch repeat inside window
        "c.com,2024-01-01 10:10:00\n"
    )
    tick()
    assert sorted(r["domain"] for r in spark.read.parquet(out).collect()) == [
        "a.com", "b.com", "c.com",
    ]

def test_write_sstable_stream(spark, tmp_path):
    """Stream -> real SSTables: two micro-batch ticks land batch_id
    subtrees of readable BIG-format sstables; the union of all batches
    holds every streamed row exactly once, token-ordered per range."""
    import glob

    from pyspark.sql import types as T

    from sstable_migrator_spark.sinks.ring import build_ring
    from sstable_migrator_spark.sinks.sstable_format import read_sstable
    from sstable_migrator_spark.streaming.daily import write_sstable_stream

    ring = build_ring(["n1", "n2"], vnodes_per_node=2)
    in_dir = tmp_path / "feed"
    in_dir.mkdir()
    out = str(tmp_path / "sstables")
    ck = str(tmp_path / "ck")
    schema = T.StructType([
        T.StructField("domain", T.StringType()),
        T.StructField("source", T.StringType()),
    ])

    def tick():
        stream = spark.readStream.schema(schema).csv(str(in_dir) + "/*.csv")
        q = write_sstable_stream(
            stream, out, ck, keyspace="ferret", table="cnames",
            partition_key=["domain"], clustering=[], ring=ring, rf=2,
        )
        q.awaitTermination()

    (in_dir / "b1.csv").write_text(
        "".join(f"dom{i}.example.com,crt\n" for i in range(30))
    )
    tick()
    (in_dir / "b2.csv").write_text(
        "".join(f"late{i}.example.org,ct\n" for i in range(10))
    )
    tick()

    seen = set()
    for d in glob.glob(f"{out}/batch_id=*/cass_range=*"):
        got = read_sstable(d)
        assert got["index_ok"] and got["digest_ok"] and got["crc_ok"]
        toks = [p["token"] for p in got["partitions"]]
        assert toks == sorted(toks)
        for p in got["partitions"]:
            dom = p["key_components"][0].decode()
            assert dom not in seen  # batches are disjoint, ranges disjoint
            seen.add(dom)
    assert len(seen) == 40
    assert len(glob.glob(f"{out}/batch_id=*")) == 2
    # each batch dir carries its own stream manifest
    assert len(glob.glob(f"{out}/batch_id=*/_stream_plan.json")) == 2

    # drain again with the same checkpoint and no new files: no new
    # batch dir, no duplicated rows
    tick()
    assert len(glob.glob(f"{out}/batch_id=*")) == 2
    assert sum(
        len(p["rows"])
        for d in glob.glob(f"{out}/batch_id=*/cass_range=*")
        for p in read_sstable(d)["partitions"]
    ) == 40


def test_interval_stream_join_multikey_inner(spark, tmp_path):
    """Stream-stream interval join: clicks attribute to the impression
    whose [ts, ts + 10m] window holds them; out-of-window and
    foreign-key clicks drop."""
    from sstable_migrator_spark.streaming.joins import interval_stream_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    (imp_dir / "i.csv").write_text(
        "ad1,2024-05-01 10:00:00\n"
        "ad2,2024-05-01 10:00:00\n"
        "ad3,2024-05-01 12:00:00\n"
    )
    (clk_dir / "c.csv").write_text(
        "ad1,2024-05-01 10:05:00\n"   # in window -> match
        "ad2,2024-05-01 10:20:00\n"   # 20m later -> out of window
        "adX,2024-05-01 10:01:00\n"   # no impression
        "ad3,2024-05-01 11:59:00\n"   # BEFORE the impression -> no match
    )
    imps = (
        spark.readStream.schema("ad_id string, imp_ts timestamp")
        .csv(str(imp_dir))
    )
    clicks = (
        spark.readStream.schema("ad_id string, click_ts timestamp")
        .csv(str(clk_dir))
    )
    joined = interval_stream_join(
        imps, clicks, on=["ad_id"], left_ts="imp_ts", right_ts="click_ts",
        max_delay="10 minutes",
    )
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert [(r["ad_id"], str(r["click_ts"])) for r in rows] == [
        ("ad1", "2024-05-01 10:05:00")
    ]


def test_interval_stream_join_left_outer_timeout(spark, tmp_path):
    """leftOuter: an impression with no click emits null click columns
    once the watermark proves no click can still arrive (a far-later
    row on both streams advances it)."""
    from sstable_migrator_spark.streaming.joins import interval_stream_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    (imp_dir / "i.csv").write_text(
        "ad1,2024-05-01 10:00:00\n"
        "ad2,2024-05-01 10:00:00\n"
        "late,2024-05-02 10:00:00\n"  # watermark driver
    )
    (clk_dir / "c.csv").write_text(
        "ad1,2024-05-01 10:03:00\n"
        "late,2024-05-02 10:00:30\n"  # watermark driver
    )
    imps = (
        spark.readStream.schema("ad_id string, imp_ts timestamp")
        .csv(str(imp_dir))
    )
    clicks = (
        spark.readStream.schema("ad_id string, click_ts timestamp")
        .csv(str(clk_dir))
    )
    joined = interval_stream_join(
        imps, clicks, on=["ad_id"], left_ts="imp_ts", right_ts="click_ts",
        max_delay="5 minutes", watermark="1 minute", right_watermark="1 minute",
        how="leftOuter",
    )
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["ad_id"]: (None if r["click_ts"] is None else str(r["click_ts"]))
        for r in spark.read.parquet(out).collect()
    }
    assert got["ad1"] == "2024-05-01 10:03:00"  # matched
    assert "ad2" in got and got["ad2"] is None  # timed out -> null click


def test_interval_stream_join_misuse(spark):
    from sstable_migrator_spark.streaming.joins import interval_stream_join

    a = spark.readStream.format("rate").load()  # timestamp, value
    b = spark.readStream.format("rate").load()
    a2 = a.withColumnRenamed("timestamp", "ts_a")
    b2 = b.withColumnRenamed("timestamp", "ts_b")
    with pytest.raises(ValueError, match="inner|leftOuter"):
        interval_stream_join(a2, b2, ["value"], "ts_a", "ts_b", how="full")
    with pytest.raises(ValueError, match="at least one"):
        interval_stream_join(a2, b2, [], "ts_a", "ts_b")
    with pytest.raises(ValueError, match="distinct names"):
        interval_stream_join(a, b, ["value"], "timestamp", "timestamp")
    with pytest.raises(ValueError, match="both sides"):
        interval_stream_join(
            a2.withColumn("x", a2["value"]),
            b2.withColumn("x", b2["value"]),
            ["value"], "ts_a", "ts_b",
        )


def test_sstable_ingest_available_now(spark, tmp_path):
    """Incremental reverse-migration: two sstable waves landing across
    two availableNow drains must reconcile to the same snapshot as one
    batch compaction over both waves (the q179 path), and a drain with
    nothing new must be a no-op."""
    from sstable_migrator_spark.sinks.ring import (
        build_ring,
        compact_stream_batches,
        write_sstables,
    )
    from sstable_migrator_spark.sources.sstable_source import read_sstables
    from sstable_migrator_spark.streaming.sstable_ingest import (
        compact_sstables_available_now,
    )

    root = str(tmp_path / "landing")
    out = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    ring = build_ring(["n1", "n2"], vnodes_per_node=3)
    base = spark.createDataFrame(
        [(i, f"name-{i}") for i in range(60)], "k long, name string"
    )
    kw = dict(
        keyspace="ks", table="t", partition_key=["k"], clustering=[], ring=ring,
        rf=1,
    )

    # wave 0 lands, first drain
    write_sstables(base, f"{root}/batch_id=0", write_timestamp_us=1700000000000000, **kw)
    d1 = compact_sstables_available_now(
        spark, root, out, ckpt, keyspace="ks", table="t", partition_key=["k"]
    )
    assert d1, "first drain saw no sstables"
    got = {r["k"]: r["name"] for r in read_sstables(spark, out, partition_key=["k"]).collect()}
    assert got == {i: f"name-{i}" for i in range(60)}

    # wave 1 lands (every third key rewritten, later timestamp), second drain
    wave1 = base.filter(F.col("k") % 3 == 0).withColumn("name", F.upper("name"))
    write_sstables(wave1, f"{root}/batch_id=1", write_timestamp_us=1700000000000001, **kw)
    d2 = compact_sstables_available_now(
        spark, root, out, ckpt, keyspace="ks", table="t", partition_key=["k"]
    )
    assert d2
    # each folded range merged exactly snapshot + the one new wave
    assert all(m["inputs"] <= 2 for m in d2), d2
    got = {r["k"]: r["name"] for r in read_sstables(spark, out, partition_key=["k"]).collect()}
    expect = {
        i: (f"name-{i}".upper() if i % 3 == 0 else f"name-{i}") for i in range(60)
    }
    assert got == expect

    # equivalence with the batch path over both waves at once
    batch_out = str(tmp_path / "batch_snapshot")
    compact_stream_batches(
        spark, root, batch_out, keyspace="ks", table="t", partition_key=["k"]
    )
    batch_rows = {
        r["k"]: r["name"]
        for r in read_sstables(spark, batch_out, partition_key=["k"]).collect()
    }
    assert batch_rows == got

    # a drain with nothing new is a no-op (checkpoint ledger holds)
    d3 = compact_sstables_available_now(
        spark, root, out, ckpt, keyspace="ks", table="t", partition_key=["k"]
    )
    assert d3 == []
    # and each snapshot range dir holds exactly one sstable
    import os

    for rd in os.listdir(out):
        if not rd.startswith("cass_range="):
            continue
        tocs = [f for f in os.listdir(os.path.join(out, rd)) if f.endswith("-TOC.txt")]
        assert len(tocs) == 1, (rd, tocs)


def test_streaming_quality_gate(spark, tmp_path):
    """The frozen-weight quality scorer is a stateless projection, so
    it runs unchanged inside a stream: gate a document stream on
    keep=1 and land only the keepers; results equal the batch path."""
    import json as _json

    from sstable_migrator_spark.operators.quality_model import (
        score_quality_frozen,
    )
    from sstable_migrator_spark.queries import _QM_BIAS, _QM_WEIGHTS

    in_dir = tmp_path / "docs"
    in_dir.mkdir()
    rows = [
        {"doc_id": 1, "text": "the committee approved the budget after a long debate"},
        {"doc_id": 2, "text": "casino casino jackpot jackpot click here click here now"},
        {"doc_id": 3, "text": "researchers published their findings in a reviewed journal"},
    ]
    with open(in_dir / "a.jsonl", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")

    stream = spark.readStream.schema("doc_id long, text string").json(
        str(in_dir)
    )
    gated = score_quality_frozen(stream, _QM_WEIGHTS, _QM_BIAS).filter(
        "keep = 1"
    )
    out = str(tmp_path / "kept")
    q = (
        gated.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}

    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    expect = {
        r["doc_id"]
        for r in score_quality_frozen(batch, _QM_WEIGHTS, _QM_BIAS)
        .filter("keep = 1")
        .collect()
    }
    assert got == expect and 2 not in got and {1, 3} == got


def test_streaming_corpus_admission(spark, tmp_path):
    """Two arrival drains: wave 1 seeds the corpus; wave 2's exact copy
    and near-dup are rejected against the NOW-EXISTING corpus, the
    novel doc admitted; a third drain with nothing new is a no-op."""
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = " ".join(f"w{i} tok{i % 7} fil{i % 11}" for i in range(25))

    postings = str(tmp_path / "postings")
    with open(inbox / "wave1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": "totally different words about gardens and rivers flowing south under old bridges"}) + "\n")
    s1 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, postings_path=postings
    )
    assert s1 == {"judged": 2, "admitted": 2}

    with open(inbox / "wave2.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 10, "text": base}) + "\n")            # exact
        fh.write(_json.dumps({"doc_id": 11, "text": base + " trailing"}) + "\n")  # near
        fh.write(_json.dumps({"doc_id": 12, "text": "novel astronomy content about telescopes saturn rings and midnight observation sessions"}) + "\n")
    s2 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, postings_path=postings
    )
    assert s2 == {"judged": 3, "admitted": 1}

    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 12}

    s3 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, postings_path=postings
    )
    assert s3 == {"judged": 0, "admitted": 0}

    # the gate ALSO kept the BM25 serving index fresh: the drain-
    # appended index ranks exactly like an index rebuilt from the
    # final corpus
    from sstable_migrator_spark.operators.retrieval import (
        bm25_topk_from_postings,
        write_postings_index,
    )

    rebuilt = str(tmp_path / "rebuilt")
    write_postings_index(spark.read.parquet(corpus), rebuilt, n_buckets=64)
    for terms in (["rivers", "gardens"], ["telescopes"], ["w3", "tok1"]):
        a = [tuple(r) for r in
             bm25_topk_from_postings(spark, postings, terms, topk=5).collect()]
        b = [tuple(r) for r in
             bm25_topk_from_postings(spark, rebuilt, terms, topk=5).collect()]
        assert a == b, terms

    # the admission ledger recorded every decision with its batch —
    # written DISTRIBUTED (executor-side JSON append), never collected
    ledger = spark.read.json(str(tmp_path / "corpus" / "_admissions")).collect()
    assert {(r["doc_id"], r["admitted"]) for r in ledger} == {
        (1, 1), (2, 1), (10, 0), (11, 0), (12, 1),
    }

    # the state store holds bands rows per ADMITTED doc only
    st = spark.read.parquet(str(tmp_path / "corpus" / "_dedup_state"))
    assert {r["doc_id"] for r in st.select("doc_id").distinct().collect()} == {1, 2, 12}


def test_corpus_admission_judges_from_state_not_text(spark, tmp_path):
    """Drain N+1 must not rescan the corpus text: after wave 1 seeds
    the state store, the corpus parquet is DELETED outright — and an
    exact copy of a wave-1 document is still rejected, because the
    decision reads only the persisted fingerprint+signature state."""
    import glob as _glob
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = " ".join(f"alpha{i} beta{i % 5} gamma{i % 9}" for i in range(30))

    with open(inbox / "wave1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
    assert admit_documents_available_now(spark, str(inbox), corpus, ckpt) == {
        "judged": 1, "admitted": 1,
    }

    # remove every corpus data file; only _dedup_state survives
    removed = 0
    # corpus rows live under batch=<bid>/ since the idempotent-writes
    # change; the state store is a sibling underscore dir
    for f in _glob.glob(os.path.join(corpus, "batch=*", "*.parquet")):
        os.remove(f)
        removed += 1
    assert removed >= 1

    with open(inbox / "wave2.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": base}) + "\n")  # exact dup
        fh.write(_json.dumps({"doc_id": 3, "text": "completely fresh sentences about glaciers and longitude lines"}) + "\n")
    s2 = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s2 == {"judged": 2, "admitted": 1}
    ledger = spark.read.json(os.path.join(corpus, "_admissions")).collect()
    by_id = {r["doc_id"]: r for r in ledger if r["batch"] > 0 or r["doc_id"] != 1}
    assert by_id[2]["exact_dup"] == 1 and by_id[2]["admitted"] == 0
    assert by_id[3]["admitted"] == 1

    # the gate stamped the state's LSH params; a sidecar recording
    # DIFFERENT banding makes the next drain refuse up front
    import json as _json2

    params = os.path.join(corpus, "_dedup_state", "_params.json")
    with open(params) as fh:
        assert _json2.load(fh) == {
            "num_hashes": 16, "bands": 4, "shingle_k": 3, "unicode_form": None
        }
    with open(params, "w") as fh:
        _json2.dump({"num_hashes": 32, "bands": 8, "shingle_k": 3}, fh)
    with open(inbox / "wave3.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 4, "text": "more words"}) + "\n")
    import pytest as _pytest
    from pyspark.errors.exceptions.base import PySparkException

    with _pytest.raises((ValueError, PySparkException, Exception)):
        admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    with open(params, "w") as fh:  # restore -> drain succeeds again
        _json2.dump({"num_hashes": 16, "bands": 4, "shingle_k": 3}, fh)
    # the SAME checkpoint replays the failed wave (its batch never
    # committed); a fresh checkpoint would be refused by the binding
    # guard, since batch ids key the gate's idempotent writes
    s3 = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s3["judged"] >= 1


def test_corpus_admission_migrates_preexisting_corpus(spark, tmp_path):
    """A corpus that predates the state store is migrated once (one
    corpus pass builds _dedup_state); the drain then judges against
    it — decisions identical to the recompute-from-text path."""
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    corpus = str(tmp_path / "corpus")
    base = " ".join(f"w{i} tok{i % 7}" for i in range(25))
    spark.createDataFrame(
        [(1, base), (2, "old corpus doc about rivers and bridges built long ago")],
        "doc_id long, text string",
    ).write.parquet(corpus)

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    with open(inbox / "w.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 10, "text": base}) + "\n")          # exact
        fh.write(_json.dumps({"doc_id": 11, "text": "novel content on telescopes and saturn observation sessions"}) + "\n")
    s = admit_documents_available_now(
        spark, str(inbox), corpus, str(tmp_path / "ckpt")
    )
    assert s == {"judged": 2, "admitted": 1}
    st = spark.read.parquet(os.path.join(corpus, "_dedup_state"))
    # migration rows (docs 1, 2) + the admitted wave doc (11)
    assert {r["doc_id"] for r in st.select("doc_id").distinct().collect()} == {1, 2, 11}


def test_corpus_admission_quality_and_perplexity_gates(spark, tmp_path):
    """Dedup, the frozen quality model, and the frozen n-gram LM gate
    a drain JOINTLY; the ledger attributes every rejection."""
    import json as _json

    from sstable_migrator_spark.operators.lm import train_bigram_lm
    from sstable_migrator_spark.queries import _QM_BIAS, _QM_WEIGHTS
    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    ref = spark.createDataFrame(
        [(i, "the committee approved the annual budget after a long public debate")
         for i in range(8)],
        "doc_id long, text string",
    )
    lm = train_bigram_lm(ref)

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    eval_docs = spark.createDataFrame(
        [(900, "which planet has the largest ring system in the solar system")],
        "doc_id long, text string",
    )
    rows = [
        {"doc_id": 1, "text": "the committee approved the annual budget after a public debate"},
        {"doc_id": 2, "text": "casino casino jackpot jackpot click here click here now"},  # quality reject
        {"doc_id": 3, "text": "zq xv kj qq ww zz pp mm nn vv"},  # perplexity reject
        {"doc_id": 4, "text": "trivia answer the planet has the largest ring system by far"},  # eval-contaminated
    ]
    with open(inbox / "a.jsonl", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    corpus = str(tmp_path / "corpus")
    s = admit_documents_available_now(
        spark, str(inbox), corpus, str(tmp_path / "ckpt"),
        quality_weights=_QM_WEIGHTS, quality_bias=_QM_BIAS, lm=lm,
        eval_docs=eval_docs,
    )
    assert s["judged"] == 4 and s["admitted"] == 1
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1}
    ledger = {r["doc_id"]: r for r in
              spark.read.json(os.path.join(corpus, "_admissions")).collect()}
    assert ledger[2]["quality_keep"] == 0 and ledger[2]["admitted"] == 0
    assert ledger[3]["ppl_keep"] == 0 and ledger[3]["admitted"] == 0
    assert ledger[4]["decon_keep"] == 0 and ledger[4]["admitted"] == 0
    assert (ledger[1]["quality_keep"], ledger[1]["ppl_keep"],
            ledger[1]["decon_keep"]) == (1, 1, 1)


def test_url_frontier_state_across_drains(spark, tmp_path):
    """The frontier is maintained state, like the dedup state and the
    postings index: drain N+1 re-offering drain N's URLs schedules
    NOTHING, proven with drain N's input text deleted (only the
    canonical-key seen-set survives); robots verdicts come from the
    persisted cache; past the TTL the gate falls back to the REP
    default, attributably (robots_fresh=0)."""
    import json as _json

    from sstable_migrator_spark.streaming.frontier import (
        schedule_frontier_available_now,
    )

    inbox = tmp_path / "urls"
    inbox.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "fckpt")
    rules = spark.createDataFrame(
        [("siteb.com", "*", "disallow", "/private/")],
        "host string, agent string, rule string, prefix string",
    )
    with open(inbox / "d1.jsonl", "w") as fh:
        for u in [
            "http://sitea.com/page1?b=2&a=1",
            "HTTP://SITEA.com:80/page1?a=1&b=2#frag",  # same canonical
            "http://siteb.com/private/x",              # robots-blocked
            "http://siteb.com/ok",
        ]:
            fh.write(_json.dumps({"url": u}) + "\n")
    s1 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, robots_rules=rules,
        now_ms=1_000_000,
    )
    assert s1 == {"offered": 3, "new": 3, "scheduled": 2}
    plans = spark.read.parquet(os.path.join(frontier, "plans")).collect()
    assert {r["host"] for r in plans} == {"sitea.com", "siteb.com"}
    assert all(r["fetch_offset_ms"] == r["fetch_seq"] * 1000 for r in plans)

    # drain 2: history input DELETED; re-offer everything + one new URL
    os.remove(inbox / "d1.jsonl")
    with open(inbox / "d2.jsonl", "w") as fh:
        for u in [
            "http://sitea.com/page1?a=1&b=2",   # canonical twin of d1's
            "http://siteb.com/private/x",
            "http://siteb.com/ok",
            "http://sitea.com/page2",           # genuinely new
        ]:
            fh.write(_json.dumps({"url": u}) + "\n")
    s2 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, now_ms=2_000_000
    )
    assert s2 == {"offered": 4, "new": 1, "scheduled": 1}
    ledger = spark.read.json(os.path.join(frontier, "_ledger")).collect()
    by = {(r["url"], r["batch"]): r for r in ledger}
    blocked = by[("http://siteb.com/private/x", 0)]
    assert (blocked["new_url"], blocked["allowed"], blocked["scheduled"],
            blocked["robots_fresh"]) == (1, 0, 0, 1)
    d2new = next(r for r in ledger if r["url"] == "http://sitea.com/page2")
    assert (d2new["new_url"], d2new["scheduled"]) == (1, 1)

    # drain 3: a new disallowed-path URL past the robots TTL -> REP
    # default (allowed) with robots_fresh=0 in the ledger
    with open(inbox / "d3.jsonl", "w") as fh:
        fh.write(_json.dumps({"url": "http://siteb.com/private/y"}) + "\n")
    s3 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt,
        now_ms=1_000_000 + 86_400_000 + 1,
    )
    assert s3 == {"offered": 1, "new": 1, "scheduled": 1}
    stale = next(
        r
        for r in spark.read.json(os.path.join(frontier, "_ledger")).collect()
        if r["url"] == "http://siteb.com/private/y"
    )
    assert (stale["allowed"], stale["robots_fresh"]) == (1, 0)


def test_admissions_ledger_joins_the_gate_report(spark, tmp_path):
    """The per-domain gate-attribution rollup composes directly over
    the admission gate's OWN ledger: decisions written per drain carry
    the gate flags, so "which domains are we rejecting and why" is one
    read + one rollup — no corpus rescan."""
    import json as _json

    from sstable_migrator_spark.operators.analytics import (
        gate_attribution_report,
    )
    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    good = ("the quiet village market opens early and the farmers bring "
            "fresh bread with butter and a warm greeting for the visitors")
    with open(inbox / "w.jsonl", "w") as fh:
        for i, text in enumerate([good, good + " exactly once more", "zz"]):
            fh.write(_json.dumps({"doc_id": i, "text": text}) + "\n")
    admit_documents_available_now(
        spark, str(inbox), corpus, str(tmp_path / "ckpt"),
        quality_weights=[1] * 64, quality_bias=-3,
    )
    ledger = spark.read.json(os.path.join(corpus, "_admissions"))
    # synthetic apex per doc (a real pipeline carries the url's apex)
    flagged = ledger.select(
        F.concat(F.lit("site"), (F.col("doc_id") % 2).cast("string")).alias(
            "apex"
        ),
        (1 - F.col("exact_dup")).cast("int").alias("dedup_keep"),
        F.col("quality_keep").cast("int").alias("quality_keep"),
    )
    report = {
        r["apex"]: r
        for r in gate_attribution_report(
            flagged, ["apex"], ["dedup_keep", "quality_keep"]
        ).collect()
    }
    assert sum(r["n_docs"] for r in report.values()) == 3
    # doc 2 ("zz", 2 tokens, score 2-3 < 0) is quality-sole-blocked
    assert report["site0"]["n_sole_block_quality_keep"] == 1


def test_frontier_politeness_is_cross_drain_and_retention_reopens(
    spark, tmp_path
):
    """Politeness continues across drains (drain 2's slots for a host
    start where drain 1 stopped — no slot-0 hammering), and expiring a
    seen-set day re-opens its URLs for judging."""
    import json as _json

    from sstable_migrator_spark.streaming.frontier import (
        expire_frontier_days,
        schedule_frontier_available_now,
    )

    inbox = tmp_path / "urls"
    inbox.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "fckpt")
    day_ms = 86_400_000

    with open(inbox / "d1.jsonl", "w") as fh:
        for i in range(3):
            fh.write(_json.dumps({"url": f"http://h.com/a{i}"}) + "\n")
    s1 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, crawl_delay_ms=100, now_ms=day_ms
    )
    assert s1["scheduled"] == 3

    with open(inbox / "d2.jsonl", "w") as fh:
        for i in range(2):
            fh.write(_json.dumps({"url": f"http://h.com/b{i}"}) + "\n")
    s2 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, crawl_delay_ms=100, now_ms=day_ms + 1
    )
    assert s2["scheduled"] == 2
    plans = spark.read.parquet(os.path.join(frontier, "plans")).collect()
    seqs = sorted((r["batch"], r["fetch_seq"]) for r in plans)
    # drain 1: slots 0..2; drain 2 CONTINUES at 3..4 for the same host
    assert seqs == [(0, 0), (0, 1), (0, 2), (1, 3), (1, 4)]
    assert all(
        r["fetch_offset_ms"] == r["fetch_seq"] * 100 for r in plans
    )

    # retention: day-1 entries expire -> the a-urls become judgeable;
    # keep_days=1 at now = day 30 drops everything older than day 29
    expired = expire_frontier_days(
        frontier, keep_days=1, now_ms=30 * day_ms
    )
    assert expired == [1]
    with open(inbox / "d3.jsonl", "w") as fh:
        fh.write(_json.dumps({"url": "http://h.com/a0"}) + "\n")
    s3 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, crawl_delay_ms=100,
        now_ms=30 * day_ms,
    )
    assert s3 == {"offered": 1, "new": 1, "scheduled": 1}
    # and its slot continues the host cursor (5), not slot 0
    re_planned = [r for r in spark.read.parquet(
        os.path.join(frontier, "plans")).collect()
        if r["url"] == "http://h.com/a0"]
    assert max(r["fetch_seq"] for r in re_planned) == 5


def test_admission_gate_repetition_stage(spark, tmp_path):
    """repetition=True composes the MassiveText repetition rules into
    the drain: a heavily repetitive arrival is rejected with
    rep_keep=0 in the ledger; a normal one passes."""
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    # long enough that single-occurrence top n-grams are a small char
    # fraction (the paper applies these rules to >=50-word documents)
    good = ("the quiet village market opens early and the farmers bring "
            "fresh bread with butter and a warm greeting for visitors "
            "arriving from the city before the church bells ring while "
            "children chase pigeons across wet cobblestones and vendors "
            "arrange baskets of apples pears plums cherries alongside "
            "jars of honey preserves pickles and bundles of dried herbs "
            "gathered last autumn from hills beyond the river crossing")
    spam = "buy cheap now " * 40
    with open(inbox / "w.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": good}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": spam}) + "\n")
    s = admit_documents_available_now(
        spark, str(inbox), corpus, str(tmp_path / "ckpt"), repetition=True
    )
    assert s == {"judged": 2, "admitted": 1}
    ledger = {r["doc_id"]: r for r in
              spark.read.json(os.path.join(corpus, "_admissions")).collect()}
    assert ledger[1]["rep_keep"] == 1 and ledger[1]["admitted"] == 1
    assert ledger[2]["rep_keep"] == 0 and ledger[2]["admitted"] == 0


def test_frontier_drain_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a drain that fails mid-batch
    re-runs with the SAME batch id and rows, possibly after some store
    writes already landed. Every frontier write is batch-keyed with
    dynamic partition overwrite and every state read self-excludes the
    current batch, so the retry lands identical rows: no duplicated
    plans, no double-counted host cursors, no doubled seen/ledger."""
    from sstable_migrator_spark.streaming.frontier import _drain_batch

    frontier = str(tmp_path / "frontier")
    batch = spark.createDataFrame(
        [("http://h.com/a",), ("http://h.com/b",), ("http://g.com/c",)],
        "url string",
    )
    r1 = _drain_batch(spark, batch, 0, frontier, now=86_400_000)
    assert r1 == (3, 3, 3)

    def snapshot():
        plans = sorted(
            (r["url"], r["fetch_seq"], r["batch"])
            for r in spark.read.parquet(
                os.path.join(frontier, "plans")).collect()
        )
        cursors = {
            r["host"]: r["s"]
            for r in spark.read.parquet(os.path.join(frontier, "_host_cursors"))
            .groupBy("host").agg(F.sum("n_scheduled").alias("s")).collect()
        }
        seen = sorted(
            r["canonical"]
            for r in spark.read.parquet(
                os.path.join(frontier, "_seen")).collect()
        )
        ledger = sorted(
            (r["url"], r["batch"], r["scheduled"])
            for r in spark.read.json(
                os.path.join(frontier, "_ledger")).collect()
        )
        return plans, cursors, seen, ledger

    before = snapshot()
    assert before[1] == {"h.com": 2, "g.com": 1}
    # the retry: same bid, same rows, stores already populated
    r2 = _drain_batch(spark, batch, 0, frontier, now=86_400_000)
    assert r2 == r1
    assert snapshot() == before

    # and a genuinely NEW batch still continues the politeness cursor
    batch2 = spark.createDataFrame([("http://h.com/z",)], "url string")
    _drain_batch(spark, batch2, 1, frontier, now=86_400_001)
    zrow = [
        r for r in spark.read.parquet(
            os.path.join(frontier, "plans")).collect()
        if r["url"] == "http://h.com/z"
    ]
    assert len(zrow) == 1 and zrow[0]["fetch_seq"] == 2


def test_frontier_refuses_foreign_checkpoint(spark, tmp_path):
    """Batch ids key the frontier's idempotent writes and are unique
    only per checkpoint: pairing existing frontier state with a fresh
    checkpoint (whose numbering restarts at 0) must fail loudly, not
    silently collide with stored batch partitions."""
    import json as _json
    import shutil

    from sstable_migrator_spark.streaming.frontier import (
        schedule_frontier_available_now,
    )

    inbox = tmp_path / "urls"
    inbox.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "fckpt")
    with open(inbox / "d1.jsonl", "w") as fh:
        fh.write(_json.dumps({"url": "http://h.com/a"}) + "\n")
    s1 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, now_ms=86_400_000
    )
    assert s1["scheduled"] == 1

    shutil.rmtree(ckpt)  # the misuse: new checkpoint, old frontier
    with open(inbox / "d2.jsonl", "w") as fh:
        fh.write(_json.dumps({"url": "http://h.com/b"}) + "\n")
    with pytest.raises(Exception, match="bound to streaming checkpoint"):
        schedule_frontier_available_now(
            spark, str(inbox), frontier, ckpt, now_ms=86_400_001
        )


def test_admission_drain_retry_is_idempotent(spark, tmp_path):
    """foreachBatch at-least-once on the ADMISSION gate: a retried
    batch (same bid, same rows, stores partially or fully written by
    the failed attempt) must recompute the same decisions from the
    pre-batch state and replace its own partitions — no duplicate
    corpus rows, no doubled dedup-state rows, no double-bumped
    postings stats, no re-judged-as-duplicate misattribution in the
    ledger."""
    from sstable_migrator_spark.operators.retrieval import (
        bm25_topk_from_postings,
        read_corpus_stats,
    )
    from sstable_migrator_spark.streaming.corpus_ingest import (
        _drain_admission_batch,
    )

    corpus = str(tmp_path / "corpus")
    postings = str(tmp_path / "postings")
    good = ("the quiet village market opens early and the farmers bring "
            "fresh bread with butter and a warm greeting for the visitors")
    other = ("harbor ships wait for the morning tide while sailors check "
             "the ropes and sails before their long crossing at dawn")
    batch0 = spark.createDataFrame(
        [(1, good), (2, good), (3, other)], "doc_id long, text string"
    )
    r1 = _drain_admission_batch(
        spark, batch0, 0, corpus, postings_path=postings
    )
    # first drain has no prior state: in-batch self-dedup is
    # upstream's job (documented), so all three admit
    assert r1 == (3, 3)

    def snapshot():
        c = sorted(
            (r["doc_id"], r["batch"])
            for r in spark.read.parquet(corpus).select(
                "doc_id", "batch").collect()
        )
        led = sorted(
            (r["doc_id"], r["admitted"], r["exact_dup"], r["batch"])
            for r in spark.read.json(
                os.path.join(corpus, "_admissions")).collect()
        )
        st = read_corpus_stats(spark, postings)
        state_n = spark.read.parquet(
            os.path.join(corpus, "_dedup_state")).count()
        return c, led, st, state_n

    before = snapshot()
    assert [d for d, _ in before[0]] == [1, 2, 3]
    # THE RETRY: same bid, same rows, everything already written
    r2 = _drain_admission_batch(
        spark, batch0, 0, corpus, postings_path=postings
    )
    assert r2 == r1, "retry re-judged its own writes as duplicates"
    assert snapshot() == before

    # a genuinely new batch still dedups against batch 0 and appends
    batch1 = spark.createDataFrame(
        [(4, good), (5, "completely fresh words about mountain trails "
                        "and the hikers who walk them every summer")],
        "doc_id long, text string",
    )
    r3 = _drain_admission_batch(
        spark, batch1, 1, corpus, postings_path=postings
    )
    assert r3 == (2, 1)  # doc 4 duplicates corpus doc 1
    after = snapshot()
    assert [d for d, _ in after[0]] == [1, 2, 3, 5]
    assert after[2]["n"] == 4  # postings stats track admitted docs
    # and its own retry is also a no-op
    r4 = _drain_admission_batch(
        spark, batch1, 1, corpus, postings_path=postings
    )
    assert r4 == r3 and snapshot() == after
    # the maintained index still serves
    top = bm25_topk_from_postings(spark, postings, ["village"], topk=5)
    assert {r["doc_id"] for r in top.collect()} == {1, 2}


def test_admission_gate_refuses_foreign_checkpoint(spark, tmp_path):
    """Same binding rule as the frontier: batch ids key the gate's
    idempotent writes, so pairing existing corpus state with a fresh
    checkpoint fails loudly instead of colliding batch partitions."""
    import json as _json
    import shutil

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    with open(inbox / "a.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": "some words here"}) + "\n")
    s = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s == {"judged": 1, "admitted": 1}
    shutil.rmtree(ckpt)
    with open(inbox / "b.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": "more words here"}) + "\n")
    with pytest.raises(Exception, match="bound to streaming checkpoint"):
        admit_documents_available_now(spark, str(inbox), corpus, ckpt)


def test_admission_gate_unicode_parity(spark, tmp_path):
    """unicode_form at the gate: a DENORMAL re-arrival of an admitted
    doc is rejected as an exact duplicate (byte forms collide after
    NFC); a drain with a DIFFERENT unicode_form against the same state
    refuses loudly via the params sidecar."""
    import json as _json

    import pytest as _pytest

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = "caf\u00e9 stories " + " ".join(
        f"w{i} tok{i % 7} fil{i % 11}" for i in range(25)
    )
    denormal = base.replace("caf\u00e9", "cafe\u0301")  # -> decomposed
    assert denormal != base

    with open(inbox / "wave1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
    s1 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, unicode_form="NFC"
    )
    assert s1 == {"judged": 1, "admitted": 1}

    with open(inbox / "wave2.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": denormal}) + "\n")
        fh.write(_json.dumps({"doc_id": 3, "text": "entirely new prose about canals and windmills turning in morning fog"}) + "\n")
    s2 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, unicode_form="NFC"
    )
    assert s2 == {"judged": 2, "admitted": 1}  # denormal twin rejected
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 3}
    # and the admitted text was STORED normalized (one byte form corpus-wide)
    t1 = spark.read.parquet(corpus).filter("doc_id = 1").first()["text"]
    assert "caf\u00e9" in t1

    # a drain that FORGETS the form refuses against this state
    with open(inbox / "wave3.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 9, "text": "more fresh text entirely unlike anything before it"}) + "\n")
    with _pytest.raises(Exception, match="built with"):
        admit_documents_available_now(spark, str(inbox), corpus, ckpt)


def test_admission_gate_legacy_state_refuses_normalization(spark, tmp_path):
    """The primary adoption path for unicode_form: a PRE-SIDECAR dedup
    state (state parquet exists, _params.json absent — necessarily
    built on raw, unnormalized bytes) drained with unicode_form='NFC'
    must be REFUSED loudly, and the state must be stamped with what it
    was actually built with (unicode_form=None), never the caller's
    flag. Stamping the caller's form would record false provenance:
    normalized probes judged against raw-built fingerprints silently
    re-admit exact duplicates forever after."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = "caf\u00e9 stories " + " ".join(
        f"w{i} tok{i % 7} fil{i % 11}" for i in range(25)
    )
    with open(inbox / "wave1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
    s1 = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s1 == {"judged": 1, "admitted": 1}

    # simulate a pre-sidecar deployment: state exists, params absent
    sidecar = _os.path.join(corpus, "_dedup_state", "_params.json")
    _os.remove(sidecar)

    # re-arrival of the EXACT same bytes, now with normalization on:
    # must refuse (rebuild the state), not silently re-admit
    with open(inbox / "wave2.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": base}) + "\n")
    with _pytest.raises(Exception, match="built with"):
        admit_documents_available_now(
            spark, str(inbox), corpus, ckpt, unicode_form="NFC"
        )
    # and the stamp records the TRUE provenance of the legacy state
    with open(sidecar) as fh:
        assert _json.load(fh)["unicode_form"] is None
    # the corpus was not polluted by the refused drain
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1}

    # the refused batch was never committed: a form-less retry on the
    # SAME checkpoint reprocesses wave2 against the legacy state, and
    # the same bytes ARE the same fingerprint — rejected as duplicate
    s2 = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s2 == {"judged": 1, "admitted": 0}


def test_admission_report(spark, tmp_path):
    """Gate-health rollup over the ledger: per-batch judged/admitted,
    per-gate rejection attribution, and the exact-integer drift flag
    (a batch admitting far less than the all-time rate is marked)."""
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admission_report,
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = " ".join(f"w{i} tok{i % 7} fil{i % 11}" for i in range(25))

    # wave 1: two novel docs -> 100% admitted
    with open(inbox / "w1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": "entirely different prose about canals and windmills in morning fog today"}) + "\n")
    admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    # wave 2: three exact dups + one novel -> 25% admitted (drift low)
    with open(inbox / "w2.jsonl", "w") as fh:
        for d in (10, 11, 12):
            fh.write(_json.dumps({"doc_id": d, "text": base}) + "\n")
        fh.write(_json.dumps({"doc_id": 13, "text": "novel astronomy notes about telescopes saturn rings and the midnight session"}) + "\n")
    admit_documents_available_now(spark, str(inbox), corpus, ckpt)

    rep = {r["batch"]: r for r in admission_report(spark, corpus).collect()}
    assert len(rep) == 2
    first, second = (rep[b] for b in sorted(rep))
    assert first["judged"] == 2 and first["admitted"] == 2
    assert first["exact_dups"] == 0
    assert second["judged"] == 4 and second["admitted"] == 1
    assert second["exact_dups"] == 3
    # all-time rate 3/6 = 0.5; batch 1 admits 1.0 > 1.25*0.5 (high
    # drift), batch 2 admits 0.25 < 0.75*0.5 (low drift) — both
    # directions of the cross-multiplied flag exercised
    assert first["rate_drift"] and second["rate_drift"]
    # a hypothetical batch at exactly the pooled rate would NOT flag:
    # 1*6*4 vs 2*3*{3,5} -> 24 in [18, 30]
    assert not (1 * 6 * 4 < 2 * 3 * 3) and not (1 * 6 * 4 > 2 * 3 * 5)


def test_frontier_respects_robots_crawl_delay(spark, tmp_path):
    """A host's declared Crawl-delay drives its plan spacing — across
    drains too (the cursor-shifted slots keep the per-host delay); an
    undeclared host keeps the drain's global delay."""
    import json as _json

    from sstable_migrator_spark.streaming.frontier import (
        schedule_frontier_available_now,
    )

    inbox = tmp_path / "urls"
    inbox.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "fckpt")
    rules = spark.createDataFrame(
        [
            ("slow.com", "*", "crawl-delay", "5"),
            ("slow.com", "*", "disallow", "/private/"),
        ],
        "host string, agent string, rule string, prefix string",
    )
    with open(inbox / "d1.jsonl", "w") as fh:
        for u in [
            "http://slow.com/a", "http://slow.com/b",
            "http://fast.com/a", "http://fast.com/b",
        ]:
            fh.write(_json.dumps({"url": u}) + "\n")
    s1 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, robots_rules=rules,
        crawl_delay_ms=1000, now_ms=1_000_000,
    )
    assert s1 == {"offered": 4, "new": 4, "scheduled": 4}
    plans = spark.read.parquet(os.path.join(frontier, "plans")).collect()
    off = {(r["host"], r["fetch_seq"]): r["fetch_offset_ms"] for r in plans}
    assert off[("slow.com", 1)] == 5000  # declared 5 s
    assert off[("fast.com", 1)] == 1000  # global default

    # drain 2: cursor-shifted slots keep the declared delay
    os.remove(inbox / "d1.jsonl")
    with open(inbox / "d2.jsonl", "w") as fh:
        for u in ["http://slow.com/c", "http://fast.com/c"]:
            fh.write(_json.dumps({"url": u}) + "\n")
    s2 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt,
        crawl_delay_ms=1000, now_ms=1_100_000,
    )
    assert s2 == {"offered": 2, "new": 2, "scheduled": 2}
    plans2 = [
        r
        for r in spark.read.parquet(os.path.join(frontier, "plans")).collect()
        if r["batch"] == 1
    ]
    off2 = {r["host"]: (r["fetch_seq"], r["fetch_offset_ms"]) for r in plans2}
    assert off2["slow.com"] == (2, 10_000)  # slot 2 x 5 s, cross-drain
    assert off2["fast.com"] == (2, 2_000)
