"""§3.3 — the daily certstream dataflow as a two-job Spark DAG.

Reference pipeline (daily_certstream_download.sh + daily_all_upload.sh):

    job 1 (00:01): wget 7z dump -> extract -> union additional_domains
      -> TLD allowlist grep -> sort -u -> 25-day anti-join loop
      -> blocklist grep -v -> [massdns resolve, rate 1000]
    job 2 (03:01): wget resolved csv -> App.java parse/validate/enrich
      -> 3 SSTable writers -> sstableloader

Spark shape: two batch jobs with the resolver (operators.resolve, T4)
as the external boundary between them. Every hand-placed shell
optimization becomes plan structure (SURVEY §4): cheap filters before
dedup, dedup before the expensive resolve, one anti-join replacing the
25-pass ``comm -23`` loop, one regex alternation replacing 116 grep
patterns, and a single cached parse feeding the three tables.

Job 2 has two outputs, as in the reference: the SSTables
(``bulk_load_job`` -> ``sinks.ring.write_sstables``, the only code that
places rows for Cassandra) and the K3 Parquet side channel
(``daily_upload_job``, plain Snappy files under ``out_dir`` like
parquet_converter/main.go — no shuffle, no sort).

At scale: history is date-partitioned (partition pruning bounds the
anti-join's build side to the window); the anti-join shuffles on
``domain`` once; dims broadcast; the three side-channel writes reuse
one cached parse and shuffle nothing.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sstable_migrator_spark.operators import ingest
from sstable_migrator_spark.operators.dedup import anti_join_history
from sstable_migrator_spark.sinks import parquet_export

DEFAULT_ALLOWLIST_RE = "\\.(gov\\.[a-z]{2,}|gov|ru|ai|de|fr|io|in)$"


def daily_prepare_job(
    new_domains: DataFrame,
    history: DataFrame,
    additional: DataFrame | None = None,
    allowlist_re: str | None = DEFAULT_ALLOWLIST_RE,
    blocklist_patterns: Iterable[str] | None = None,
    as_of=None,
    window_days: int = 25,
    domain_col: str = "domain",
) -> DataFrame:
    """Job 1: today's raw domain feed -> deduplicated resolve list.

    Order is deliberate and mirrors the reference
    (daily_certstream_download.sh:44->57->63->93->97): each stage
    shrinks the set before the next, and everything precedes the
    (network-bound) resolver, which Catalyst cannot know is expensive.
    """
    feed = new_domains.select(F.col(domain_col))
    if additional is not None:
        feed = feed.unionByName(additional.select(F.col(domain_col)))
    feed = feed.select(F.lower(F.col(domain_col)).alias(domain_col))
    if allowlist_re:
        feed = feed.filter(F.col(domain_col).rlike(allowlist_re))
    feed = feed.distinct()
    feed = anti_join_history(
        feed, history, key=domain_col, window_days=window_days, as_of=as_of
    )
    if blocklist_patterns:
        combined = "(" + "|".join(blocklist_patterns) + ")"
        feed = feed.filter(~F.col(domain_col).rlike(combined))
    return feed


def daily_upload_job(
    resolved: DataFrame,
    city_dim: DataFrame,
    asn_dim: DataFrame,
    out_dir: str,
    tld_set: Iterable[str] | None = None,
    source: str = "certstream",
    batch_ts=None,
) -> None:
    """Job 2's K3 export: resolved massdns triples ->
    validated/enriched/routed tables, written with
    ``sinks.parquet_export`` (Snappy, 128 MB row groups) under
    ``{out_dir}/{table}``, columns in the reference's table order
    (``schemas.RDNSV4``/``SUBDOMAINS``/``CNAMES``). The three writes
    share one cached parse, unpersisted on return, so nothing is
    returned: read the tables back from ``out_dir``. The writes keep
    the rows where they are: Cassandra placement is ``bulk_load_job``'s
    job, which routes by token itself.
    """
    parsed = ingest.parse_and_route(resolved, tld_set=tld_set, source=source).persist()
    try:
        kept = parsed.filter(F.col("keep"))
        enriched = ingest.geoip_enrich(kept.filter(~F.col("is_cname")), city_dim, asn_dim)
        routed = ingest.route_tables(
            enriched.unionByName(
                kept.filter(F.col("is_cname")), allowMissingColumns=True
            ),
            batch_ts=batch_ts,
        )
        for name, df in routed.items():
            parquet_export(df, f"{out_dir}/{name}")
    finally:
        parsed.unpersist()


def bulk_load_job(
    df: DataFrame,
    staging_dir: str,
    keyspace: str,
    table: str,
    partition_key: list[str],
    clustering: list[str],
    ring: list[tuple[int, str]],
    endpoint_resolver,
    rf: int = 3,
    racks: dict[str, str] | None = None,
    run_id: str = "bulk-load",
    run_log_path: str | None = None,
    notify_outbox: str | None = None,
    notify_transport=None,
    verify_target: str | None = None,
) -> dict:
    """The upload half of daily_all_upload.sh (:24-44) as ONE function:
    ``CQLSSTableWriter -> sstableloader -> telegram notify`` becomes
    write_sstables (distributed binary write, one sstable per token
    range) -> stream_sstables (framed socket sessions per (range, RF
    endpoint), sha256-acked) -> optional verify_streamed post-load
    audit -> notify + run log (K7/K8). ``verify_target`` is the landing
    directory the receiver writes (the loopback test re-reads it; a
    production loader would not re-read the cluster — pass None).
    Returns the metrics dict the notification reports. Raises only on
    transport divergence (StreamError); an audit failure is reported
    as status="error" in the run log, mirroring the reference's
    log-then-alert behavior rather than a mid-pipeline crash."""
    from sstable_migrator_spark.sinks.ops import append_run_log, notify
    from sstable_migrator_spark.sinks.ring import write_sstables
    from sstable_migrator_spark.sinks.streamout import (
        stream_sstables,
        verify_streamed,
    )

    spark = df.sparkSession
    write_sstables(
        df, staging_dir, keyspace=keyspace, table=table,
        partition_key=partition_key, clustering=clustering, ring=ring,
        rf=rf, racks=racks,
    )
    sessions = stream_sstables(staging_dir, endpoint_resolver)
    metrics = {
        "ranges": len({s["range_id"] for s in sessions}),
        "sessions": len(sessions),
        "files": sum(s["files"] for s in sessions),
        "bytes": sum(s["bytes"] for s in sessions),
    }
    status = "ok"
    if verify_target is not None:
        audit = verify_streamed(verify_target, staging_dir)
        metrics["audit_ok"] = audit["ok"]
        metrics["audit_missing"] = len(audit["missing"])
        metrics["audit_corrupt"] = len(audit["corrupt"])
        if audit["missing"] or audit["corrupt"]:
            status = "error"
    if run_log_path is not None:
        append_run_log(
            spark, run_log_path, run_id, "bulk_load", metrics, status=status
        )
    if notify_outbox is not None or notify_transport is not None:
        notify(
            run_id, metrics, outbox_path=notify_outbox,
            transport=notify_transport,
        )
    return {"status": status, **metrics}
