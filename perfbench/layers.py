"""Per-layer metrics: names are the program's module paths, values come
from the spans of the traced batches and from the counts the workloads
record while checking outputs. A layer a workload does not exercise
reports 0.

Timings are medians over traced batches (sums within a batch when a
layer is called several times per batch, e.g. once per table); counts
and ratios are medians over every timed batch.
"""

from __future__ import annotations

from collections import defaultdict

from common import median, quantile

PER_LAYER = {
    "session.get_spark_s": "s",
    "pipelines.daily.prepare_s": "s",
    "pipelines.daily.prepare_keep_ratio": "ratio",
    "pipelines.daily.prepare_shuffle_bytes": "bytes",
    "operators.resolve.busy_s": "s",
    "operators.resolve.answer_ratio": "ratio",
    "pipelines.daily.upload_s": "s",
    "pipelines.daily.upload_shuffle_bytes": "bytes",
    "pipelines.daily.upload_spill_bytes": "bytes",
    "operators.ingest.keep_ratio": "ratio",
    "operators.dedup.anti_join_history_s": "s",
    "operators.ingest.parse_and_route_s": "s",
    "operators.ingest.geoip_enrich_s": "s",
    "sinks.ring.write_sstables_s": "s",
    "sinks.ring.rows_per_s": "1/s",
    "sinks.ring.range_skew": "ratio",
    "sinks.sstable_format.bytes_per_row": "bytes",
    "sinks.streamout.stream_s": "s",
    "sinks.streamout.verify_s": "s",
    "sinks.streamout.bytes": "bytes",
    "sinks.streamout.sessions": "count",
    "operators.analytics.build_ms": "ms",
    "operators.analytics.group_count_topk_ms": "ms",
    "operators.analytics.per_partition_limit_ms": "ms",
    "operators.analytics.keyset_page_ms": "ms",
    "operators.analytics.prefix_lookup_ms": "ms",
    "sinks.sstable_format.point_lookup_hit_ms": "ms",
    "sinks.sstable_format.point_lookup_miss_ms": "ms",
    "sources.sstable_source.read_sstables_s": "s",
    "sources.sstable_source.rows": "count",
    "operators.dedup.exact_dedup_s": "s",
    "operators.dedup.exact_removed_ratio": "ratio",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.dedup.minhash_signatures_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_precision": "ratio",
    "operators.dedup.near_dup_recall": "ratio",
    "operators.dedup.lsh_shuffle_bytes": "bytes",
    "operators.dedup.exact_shuffle_bytes": "bytes",
    "operators.dedup.duplicate_clusters_s": "s",
    "operators.dedup.clusters": "count",
    # whole-workload figures that only one workload has
    "bench.query_p50_ms": "ms",
    "bench.query_p90_ms": "ms",
    "bench.lookup_p50_ms": "ms",
    "bench.lookup_p90_ms": "ms",
    "bench.scan_rows_per_s": "1/s",
    "bench.stored_bytes_per_input_byte": "ratio",
    "bench.failed_op_ratio": "ratio",
    "bench.trace_overhead_s": "s",
}

# span name -> per-layer metric (median over batches of the per-batch sum)
BATCH_SPANS = {
    "pipelines.daily.daily_prepare_job": "pipelines.daily.prepare_s",
    "operators.resolve.resolve_domains": "operators.resolve.busy_s",
    "pipelines.daily.daily_upload_job": "pipelines.daily.upload_s",
    "operators.dedup.anti_join_history": "operators.dedup.anti_join_history_s",
    "operators.ingest.parse_and_route": "operators.ingest.parse_and_route_s",
    "operators.ingest.geoip_enrich": "operators.ingest.geoip_enrich_s",
    "sinks.streamout.stream_sstables": "sinks.streamout.stream_s",
    "sinks.streamout.verify_streamed": "sinks.streamout.verify_s",
    "sources.sstable_source.read_sstables": "sources.sstable_source.read_sstables_s",
    "operators.dedup.exact_dedup": "operators.dedup.exact_dedup_s",
    "operators.dedup.minhash_lsh_pairs": "operators.dedup.minhash_lsh_pairs_s",
    "operators.dedup.minhash_signatures": "operators.dedup.minhash_signatures_s",
    "operators.dedup.duplicate_clusters": "operators.dedup.duplicate_clusters_s",
}

# span name -> per-layer metric in ms (median over single calls)
CALL_SPANS_MS = {
    "operators.analytics.build": "operators.analytics.build_ms",
    "operators.analytics.group_count_topk": "operators.analytics.group_count_topk_ms",
    "operators.analytics.per_partition_limit": "operators.analytics.per_partition_limit_ms",
    "operators.analytics.keyset_page": "operators.analytics.keyset_page_ms",
    "operators.analytics.prefix_lookup": "operators.analytics.prefix_lookup_ms",
}

# count recorded by a workload -> per-layer metric (median over batches)
COUNTS = {
    "pipelines.daily.prepare_keep_ratio": "pipelines.daily.prepare_keep_ratio",
    "pipelines.daily.prepare_shuffle_bytes": "pipelines.daily.prepare_shuffle_bytes",
    "operators.resolve.answer_ratio": "operators.resolve.answer_ratio",
    "pipelines.daily.upload_shuffle_bytes": "pipelines.daily.upload_shuffle_bytes",
    "pipelines.daily.upload_spill_bytes": "pipelines.daily.upload_spill_bytes",
    "operators.ingest.keep_ratio": "operators.ingest.keep_ratio",
    "sinks.ring.range_skew": "sinks.ring.range_skew",
    "sinks.sstable_format.bytes_per_row": "sinks.sstable_format.bytes_per_row",
    "sinks.streamout.bytes": "sinks.streamout.bytes",
    "sinks.streamout.sessions": "sinks.streamout.sessions",
    "sources.sstable_source.rows": "sources.sstable_source.rows",
    "operators.dedup.exact_removed_ratio": "operators.dedup.exact_removed_ratio",
    "operators.dedup.candidate_pairs": "operators.dedup.candidate_pairs",
    "operators.dedup.pair_precision": "operators.dedup.pair_precision",
    "operators.dedup.near_dup_recall": "operators.dedup.near_dup_recall",
    "operators.dedup.lsh_shuffle_bytes": "operators.dedup.lsh_shuffle_bytes",
    "operators.dedup.exact_shuffle_bytes": "operators.dedup.exact_shuffle_bytes",
    "operators.dedup.clusters": "operators.dedup.clusters",
    "scan_rows_per_s": "bench.scan_rows_per_s",
    "stored_bytes_per_input_byte": "bench.stored_bytes_per_input_byte",
}

QUERY_KINDS = ["topk_apex", "topk_asn", "ppl", "keyset", "prefix"]


def per_layer_metrics(wl, tr, attempted: int, failed: int) -> dict[str, float]:
    out = {k: 0.0 for k in PER_LAYER}
    spans = [s for s in tr.spans if s["end"] is not None]
    per_batch: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["batch"] is not None and int(s["batch"]) >= wl.CYCLE:
            per_batch[s["name"]][s["batch"]] += s["end"] - s["start"]
    for name, metric in BATCH_SPANS.items():
        out[metric] = median(list(per_batch[name].values()))
    for name, metric in CALL_SPANS_MS.items():
        out[metric] = 1000 * median(tr.durations(name, None))
    for kind in ("hit", "miss"):
        out[f"sinks.sstable_format.point_lookup_{kind}_ms"] = 1000 * median(
            [s["end"] - s["start"] for s in spans
             if s["name"] == "sinks.sstable_format.point_lookup" and s.get("kind") == kind])
    get_spark = tr.durations("session.get_spark")
    out["session.get_spark_s"] = get_spark[0] if get_spark else 0.0
    # write_sstables: per batch in the daily load, once per table at set-up
    # in the lookup mix
    writes = list(per_batch["sinks.ring.write_sstables"].values()) or \
        [sum(tr.durations("sinks.ring.write_sstables", {None}))]
    out["sinks.ring.write_sstables_s"] = median(writes) if any(writes) else 0.0
    rows = wl.median_count("sstable_rows")
    if out["sinks.ring.write_sstables_s"] and rows:
        out["sinks.ring.rows_per_s"] = rows / out["sinks.ring.write_sstables_s"]
    for key, metric in COUNTS.items():
        out[metric] = wl.median_count(key)
    q = [v for k in QUERY_KINDS for v in wl.timed_counts(f"lat.{k}")]
    lk = wl.timed_counts("lat.hit") + wl.timed_counts("lat.miss")
    out["bench.query_p50_ms"] = 1000 * median(q)
    out["bench.query_p90_ms"] = 1000 * quantile(q, 0.9)
    out["bench.lookup_p50_ms"] = 1000 * median(lk)
    out["bench.lookup_p90_ms"] = 1000 * quantile(lk, 0.9)
    out["bench.failed_op_ratio"] = failed / attempted if attempted else 0.0
    return out
