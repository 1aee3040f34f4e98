"""Streaming / incremental operators (SURVEY §2.9, T1-T3).

The reference's "streaming" is daily cron micro-batches over files
(daily_upload.cron, daily_certstream_download.cron). Spark-first:
Structured Streaming file source + ``trigger(availableNow=True)`` —
each invocation drains what has arrived, exactly the cron semantics,
with checkpointed exactly-once sinks. The 25-day dedup window (T2)
becomes watermarked ``dropDuplicates``; the batch twin lives in
operators.dedup.anti_join_history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sstable_migrator_spark import schemas


def read_domain_stream(spark: SparkSession, path: str) -> DataFrame:
    """T1 — file-arrival micro-batch source of dns_records CSV."""
    return (
        spark.readStream.schema(schemas.DNS_RECORDS)
        .option("maxFilesPerTrigger", 64)
        .csv(path)
    )


def watermark_dedup(
    stream: DataFrame,
    key: str = "domain",
    ts_col: str = "seen_ts",
    window: str = "25 days",
) -> DataFrame:
    """T2 — the 25-day dedup window as streaming state: duplicates of a
    key are suppressed. CAVEAT (and why ``watermark_dedup_within``
    below exists): ``dropDuplicates([key])`` keys its state on columns
    that EXCLUDE the event time, so Spark can never prove a key's state
    stale and it is NOT evicted — state grows with distinct keys
    forever. This form is kept as the simplest exact twin of the
    reference's snapshot loop for bounded daily runs; any long-running
    deployment must use ``watermark_dedup_within`` (as
    ``run_available_now`` does), whose state provably evicts at
    first_seen + window."""
    return stream.withWatermark(ts_col, window).dropDuplicates([key])


def watermark_dedup_within(
    stream: DataFrame,
    key: str = "domain",
    ts_col: str = "seen_ts",
    window: str = "25 days",
) -> DataFrame:
    """T2 via ``dropDuplicatesWithinWatermark``: dedup on the KEY ALONE
    while GUARANTEEING state eviction — plain ``dropDuplicates([key])``
    keys its state on columns that exclude the event time, so Spark
    can never prove a key's state stale and it lives forever; the
    WithinWatermark variant timestamps each first-seen key and drops
    its state once the watermark passes first_seen + window. At 100 TB
    /day of domains that difference is unbounded-vs-bounded state, so
    this is the form a long-running deployment of the 25-day horizon
    actually wants; ``watermark_dedup`` above remains the exact batch
    twin of the reference's snapshot loop."""
    return stream.withWatermark(ts_col, window).dropDuplicatesWithinWatermark([key])


def write_bronze(
    stream: DataFrame, path: str, checkpoint: str, batch_date_col: str = "batch_date"
) -> "object":
    """T3 — date-partitioned incremental append with provenance
    (daily_all_upload.sh:16-19's dated archive dirs)."""
    out = stream.withColumn(batch_date_col, F.current_date())
    return (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(batch_date_col)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str
) -> None:
    """One daily 'cron tick': drain currently-available files through
    validate->dedup into the bronze table, then stop."""
    stream = read_domain_stream(spark, in_path)
    stream = stream.withColumn("seen_ts", F.current_timestamp())
    # the evictable-state variant: a daily cron accumulates 25 days of
    # state across ticks, so the bounded form matters even here
    deduped = watermark_dedup_within(stream, key="domain", ts_col="seen_ts")
    q = write_bronze(deduped, out_path, checkpoint)
    q.awaitTermination()


# --- custom stateful operator: session windows with explicit state ---------

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events int"
)
# state keeps the open session as epoch-microsecond bounds + count
SESSION_STATE_SCHEMA = "start long, end long, n long"


def _sessionize_fn(gap_seconds: int, event_time_timeout: bool = False):
    import pandas as pd

    gap_us = gap_seconds * 1_000_000

    def fn(key, pdf_iter, state):
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                s, e, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start": [pd.Timestamp(s, unit="us")],
                        "session_end": [pd.Timestamp(e, unit="us")],
                        "n_events": [int(n)],
                    }
                )
            return
        ts: list[int] = []
        for pdf in pdf_iter:
            # datetime64[ns] -> int64 ns -> us
            ts.extend((pdf["ts"].astype("int64") // 1_000).tolist())
        ts.sort()
        if state.exists:
            s, e, n = state.get
        else:
            s = e = None
            n = 0
        closed = []
        for t in ts:
            if s is None:
                s, e, n = t, t, 1
            elif t - e <= gap_us:
                # min/max: a late-but-above-watermark event from a later
                # micro-batch may land before the stored bounds; the end
                # must stay monotone (or the event-time timeout at e+gap
                # would close and split the session prematurely) and the
                # start must extend down so the emitted session matches
                # the batch twin's min-over-events.
                s, e, n = min(s, t), max(e, t), n + 1
            else:
                closed.append((user_id, s, e, n))
                s, e, n = t, t, 1
        if s is not None:
            state.update((int(s), int(e), int(n)))
            if event_time_timeout:
                # close when the WATERMARK passes session end + gap —
                # no follow-up event needed (ms epoch per the API)
                state.setTimeoutTimestamp(int(e) // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [int(c[3]) for c in closed],
                }
            )

    return fn


def stateful_sessionize(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per
    user, an open session lives in explicit state across micro-batches;
    a session CLOSES (and is emitted) when a later event arrives more
    than ``gap_seconds`` after it. The in-flight session stays in state
    until the next batch closes it — standard append-mode session
    semantics.

    State is one (start, end, n) triple per user — O(active users), not
    O(events) — so the operator scales to arbitrarily long streams; the
    shuffle key is user_id (the groupBy), exactly once per batch. Batch
    twin with identical output: queries.q_sessionize (q61).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn(gap_seconds),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    key: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation: counts per event-time
    window (and optional key), with late data handled by the watermark —
    rows later than ``watermark`` behind the max seen event time are
    dropped and their window's result finalizes (append mode emits a
    window exactly once, when the watermark passes its end).

    State is one running aggregate per open window (x key): bounded by
    watermark horizon / window length, independent of stream length."""
    keys = [F.window(F.col(ts_col), window).alias("win")] + (
        [F.col(key)] if key else []
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            *( [F.col(key)] if key else [] ),
            F.col("n"),
        )
    )


def drift_stream(
    events: DataFrame,
    baseline: DataFrame,
    ts_col: str = "ts",
    key: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Streaming volume-drift monitor — the continuous sibling of the
    batch distribution-drift query (queries.q176): watermarked tumbling
    counts per (window, key), stream-static joined to a per-window
    baseline rate ``(key, expected_per_window)``, flagging keys whose
    windowed count deviates from expectation by more than
    ``threshold_num/threshold_den`` (relative). The flag is exact
    integer cross-multiplication — drifted iff
    ``|n - expected| * den > num * expected`` — the same no-float
    discipline as q176. A key ABSENT from the baseline (left join,
    expected coalesced to 0) flags on any occurrence: a brand-new key
    is drift by definition; a baseline key absent from a window emits
    no row (streaming aggregation cannot emit counts for unseen keys —
    monitor disappearance downstream off the emitted totals).

    State: one running aggregate per open (window, key), bounded by
    the watermark horizon; the baseline is a static broadcast, which
    adds no streaming state. Append mode emits each (window, key)
    exactly once when the watermark passes the window end."""
    cnt = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = cnt.join(F.broadcast(baseline), on=key, how="left")
    expected = F.coalesce(F.col("expected_per_window"), F.lit(0)).cast("long")
    dev = F.abs(F.col("n") - expected)
    return joined.select(
        F.col("win.start").alias("window_start"),
        F.col(key),
        F.col("n"),
        expected.alias("expected_per_window"),
        (dev * F.lit(threshold_den) > F.lit(threshold_num) * expected)
        .cast("int")
        .alias("drifted"),
    )


def routed_stream_sink(
    stream: DataFrame,
    city_dim: DataFrame,
    asn_dim: DataFrame,
    out_dir: str,
    checkpoint: str,
    tld_set=None,
    source: str = "stream",
):
    """T1 + §4 multi-sink, streaming edition: each micro-batch runs the
    FULL job-2 pipeline (parse -> validate -> enrich -> route, the
    steps ``pipelines.daily.routed_upload`` holds) once and feeds all
    three tables from that single cached parse via foreachBatch — the
    streaming twin of pipelines.daily.daily_upload_job.
    Batch timestamps are pinned per micro-batch (deterministic within a
    batch, monotone across batches). Exactly-once comes from the
    checkpoint PLUS per-batch idempotent layout: each table's batch
    lands under ``<table>/batch_id=<n>/`` written with overwrite, so a
    replayed batch REWRITES its subtree instead of double-appending
    (blind mode('append') in foreachBatch is at-least-once — a crash
    between table writes and the checkpoint commit would duplicate
    rows on restart). Readers see batch_id as an ordinary partition
    column. At 100 TB this is the shape that matters: the expensive
    domain decomposition runs once per row, not once per sink."""
    from datetime import datetime, timezone

    from sstable_migrator_spark.pipelines.daily import routed_upload

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # ONE timestamp per micro-batch, captured here: the three
        # table writes are three actions, and route_tables'
        # current_timestamp() fallback would stamp each action (and
        # any replay) differently — breaking both the documented
        # per-batch determinism and cross-table consistency. Replays
        # still re-stamp (server-time semantics, same as re-running
        # the reference's java job); the batch_id layout keeps them
        # idempotent at the row level.
        with routed_upload(
            batch_df, city_dim, asn_dim, tld_set, source, datetime.now(timezone.utc)
        ) as routed:
            for name, tdf in routed.items():
                tdf.write.mode("overwrite").parquet(
                    f"{out_dir}/{name}/batch_id={batch_id}"
                )

    return (
        stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ttl_dedup_stream(
    records: DataFrame,
    key_col: str = "domain",
    ttl_ms: int = 25 * 24 * 3600 * 1000,
) -> DataFrame:
    """T2's rolling dedup horizon as a modern stateful operator
    (transformWithStateInPandas): per key, a TTL'd ValueState marks
    first-seen — the first row of a key passes, repeats within the TTL
    are dropped, and the state store itself EVICTS expired keys, so the
    reference's 25-pass `comm -23` loop against daily snapshots
    (daily_certstream_download.sh:75-93) becomes a single always-on
    operator whose state size is the number of live keys inside the
    horizon, not 25 files.

    Requires the RocksDB state store provider (transformWithState's
    backing store), which also gives changelog checkpointing at scale,
    and the protobuf package in the Python workers (Spark's
    state-schema protocol) — absent here, so the unit test import-skips;
    applyInPandasWithState above is the locally-exercised stateful path.
    Shuffle key is ``key_col`` once per micro-batch. The batch twin is
    `dedup.anti_join_history` (q04/q54)."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(list(records.schema.fields))

    class FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", "seen boolean", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            first_time = not self._seen.exists()
            if first_time:
                self._seen.update((True,))
                for pdf in rows:
                    if len(pdf) > 0:
                        # exactly one row per newly-seen key (in-batch
                        # repeats collapse too)
                        yield pdf.iloc[[0]]
                        return

        def close(self) -> None:
            pass

    return records.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=FirstSeen(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="ProcessingTime",
    )


def write_ring_placed(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    partition_key: list[str],
    clustering: list[str],
    ring: list[tuple[int, str]],
    rf: int = 3,
    racks: dict[str, str] | None = None,
) -> "object":
    """Streaming twin of the bulk-load layout (K1/K2 + T1): each
    micro-batch routes through ``sinks.ring.ring_placement_write``, so
    the incremental pipeline lands data ALREADY ring-placed — per
    token-range directories in ring order plus the stream manifest —
    instead of accumulating a staging area that needs a batch re-sort
    before sstableloader. foreachBatch is the right tool: the ring
    write needs its own repartition + partitionBy, which the plain
    streaming parquet sink cannot express. Each batch lands in its own
    ``batch_id=<n>/`` subtree written with overwrite, so a replayed
    batch REWRITES its directory instead of double-appending —
    idempotence from the checkpointed batch id, the standard foreachBatch
    exactly-once recipe. The loader streams the union of batch subtrees
    per range; compact with sinks.compact_small_files on its cadence."""
    from sstable_migrator_spark.sinks.ring import ring_placement_write

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ring_placement_write(
            batch_df,
            f"{path}/batch_id={batch_id}",
            partition_key=partition_key,
            clustering=clustering,
            ring=ring,
            rf=rf,
            racks=racks,
            mode="overwrite",
        )

    return (
        stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_sstable_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    keyspace: str,
    table: str,
    partition_key: list[str],
    clustering: list[str],
    ring: list[tuple[int, str]],
    rf: int = 3,
    racks: dict[str, str] | None = None,
    cql_type_overrides: dict[str, str] | None = None,
) -> "object":
    """The reference's ENTIRE pipeline closed end-to-end as one
    operator: a live record stream micro-batches straight into actual
    BIG-format SSTable files, ring-routed per token range — what
    ``daily cron -> CQLSSTableWriter -> sstableloader`` does with three
    processes and a staging area (App.java:231-250,
    daily_all_upload.sh), as a single checkpointed streaming query.

    foreachBatch + ``sinks.ring.write_sstables`` per batch; each batch
    lands under ``batch_id=<n>/`` (overwrite on replay — the
    checkpointed-batch-id idempotence recipe, same as
    write_ring_placed), holding one sstable per token range with the
    stream manifest beside it. The loader ships the union of batch
    subtrees per range; Cassandra compaction merges them on arrival,
    exactly as it does for any bulk load done in waves."""
    from sstable_migrator_spark.sinks.ring import write_sstables

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        batch_dir = f"{path}/batch_id={batch_id}"
        shutil.rmtree(batch_dir, ignore_errors=True)  # replay overwrites
        write_sstables(
            batch_df,
            batch_dir,
            keyspace=keyspace,
            table=table,
            partition_key=partition_key,
            clustering=clustering,
            ring=ring,
            rf=rf,
            racks=racks,
            cql_type_overrides=cql_type_overrides,
        )

    return (
        stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


NEAR_DUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dup_of", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("matches", T.IntegerType()),
    ]
)

NEAR_DUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.ArrayType(T.LongType()))),
    ]
)


def _near_dup_fn(num_hashes: int, min_matches: int, max_bucket: int):
    import pandas as pd

    def fn(key, pdf_iter, state):
        _band, _bucket = key
        if state.exists:
            ids, sigs = state.get
            ids, sigs = list(ids), [list(s) for s in sigs]
        else:
            ids, sigs = [], []
        out = {"doc_id": [], "dup_of": [], "band": [], "matches": []}
        rows = []
        for pdf in pdf_iter:
            for did, sig in zip(pdf["doc_id"], pdf["signature"]):
                rows.append((int(did), [int(x) for x in sig]))
        rows.sort()  # deterministic: earlier ids register first
        registered = set(ids)
        for did, sig in rows:
            best = None
            for sid, ssig in zip(ids, sigs):
                if sid == did:  # re-emitted doc: never its own dup
                    continue
                m = sum(a == b for a, b in zip(sig, ssig))
                if m >= min_matches and (best is None or m > best[1]):
                    best = (sid, m)
            if best is not None:
                out["doc_id"].append(did)
                out["dup_of"].append(best[0])
                out["band"].append(int(_band))
                out["matches"].append(int(best[1]))
            if did not in registered and len(ids) < max_bucket:
                ids.append(did)
                sigs.append(sig)
                registered.add(did)
        state.update((ids, sigs))
        if out["doc_id"]:
            yield pd.DataFrame(out)

    return fn


def streaming_near_dup_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    min_matches: int = 8,
    max_bucket: int = 64,
) -> DataFrame:
    """Cross-batch streaming near-duplicate detection: the stateful
    twin of dedup.minhash_lsh_pairs. MinHash signatures and LSH band
    buckets are plain streaming projections (map-only); the custom
    state lives per (band, bucket) — up to ``max_bucket`` registered
    (doc_id, signature) pairs — so a document arriving TODAY is checked
    against near-misses first seen in any earlier micro-batch, which
    watermarked dropDuplicates cannot express (it needs exact keys).

    Emits ``(doc_id, dup_of, band, matches)`` when a new doc's
    signature agrees with a registered bucket-mate on >= min_matches
    hash positions (integer compare — no float threshold). The same
    pair can surface from several bands; downstream canonicalization
    dedups on (doc_id, dup_of) exactly as the batch twin's first-band
    trick does. State is O(buckets x max_bucket) longs, independent of
    stream length; the per-batch shuffle key is the bucket — identical
    to the batch plan's exchange.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sstable_migrator_spark.operators.dedup import minhash_signatures

    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes=num_hashes)
    banded = sigs.select(
        F.col("doc_id"),
        F.col("signature"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(
                                        "signature", b * rows_per_band + i + 1
                                    ).cast("string")
                                    for i in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "signature", "bb.band", "bb.bucket")
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        _near_dup_fn(num_hashes, min_matches, max_bucket),
        outputStructType=NEAR_DUP_OUTPUT_SCHEMA,
        stateStructType=NEAR_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_sessionize_event_time(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """stateful_sessionize with the PRODUCTION close semantics: an open
    session also emits when the event-time WATERMARK passes its end +
    gap — a user who never comes back still gets their session, without
    waiting for a later event of theirs (the NoTimeout variant's
    limitation, visible in its test where a second batch must poke each
    user). State registers an event-time timeout at (end + gap); late
    rows beyond the watermark are dropped by the same watermark that
    drives the timeouts. State remains one triple per OPEN session."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_seconds, event_time_timeout=True),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )



def write_versioned_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    writer_id: str = "stream",
    stats_cols: list[str] | None = None,
):
    """Stream into a manifest-versioned table: each micro-batch is ONE
    atomic snapshot commit (``sinks.versioned.versioned_write``), with
    optional manifest zone maps per batch. Exactly-once across
    foreachBatch retries comes from the ``txn=(writer_id, batch_id)``
    idempotence record in the manifest — a replayed batch sees its
    epoch already committed and no-ops — layered on the streaming
    checkpoint (which dedups across restarts). Readers time-travel
    batch history for free and stats-prune with
    ``read_version(predicates=...)``.

    Returns the started StreamingQuery (availableNow trigger: drains
    what has arrived then stops — the cron micro-batch shape)."""
    from sstable_migrator_spark.sinks.versioned import versioned_write

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        versioned_write(
            batch_df,
            path,
            mode="append",
            stats_cols=stats_cols,
            txn=(writer_id, int(batch_id)),
        )

    return (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
