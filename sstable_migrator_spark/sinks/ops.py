"""Operational sinks (SURVEY K7/K8): the run log and the notification
boundary.

The reference closes every nightly run by appending a line to a run
log and firing a Telegram message with the row counts
(daily_certstream_download.sh:124-129). The engine-side content of
both is the metrics themselves — delivery is I/O at the edge. Here:

- ``append_run_log`` — K8: one row per (run, stage) appended to a
  parquet run-log table: the queryable history the reference's flat
  log file becomes at scale (partition-prunable by run date, joins
  against itself for day-over-day drift checks).
- ``notify`` — K7: renders the counts into the reference's message
  shape and hands it to a pluggable transport. The default transport
  appends a JSON line to a local outbox file; a real
  Telegram/webhook/SNS sender is injected by the operator of the
  cluster (network delivery is deliberately out of the engine, same
  scoping as the reference keeping its bot token in the shell).

Both take plain dict metrics, which is what ``observe_counts`` /
``Observation.get`` yield — the counts come from the one pipeline
pass, never from extra count() jobs.
"""

from __future__ import annotations

import json
import time
from typing import Callable

from pyspark.sql import SparkSession

RUN_LOG_SCHEMA = (
    "run_id string, stage string, status string, ts double, metrics map<string,long>"
)


def append_run_log(
    spark: SparkSession,
    log_path: str,
    run_id: str,
    stage: str,
    metrics: dict[str, int],
    status: str = "ok",
    ts: float | None = None,
) -> None:
    """K8 — append one (run, stage) row to the parquet run log."""
    row = [
        (
            run_id,
            stage,
            status,
            float(time.time() if ts is None else ts),
            {k: int(v) for k, v in metrics.items()},
        )
    ]
    from sstable_migrator_spark.sinks import local_rows_df

    local_rows_df(spark, row, RUN_LOG_SCHEMA).write.mode("append").parquet(
        log_path
    )


def render_report(run_id: str, metrics: dict[str, int]) -> str:
    """The reference's notification body shape: one line per counter,
    stable key order (daily_certstream_download.sh:124-127)."""
    lines = [f"run {run_id}"]
    lines += [f"{k}: {metrics[k]}" for k in sorted(metrics)]
    return "\n".join(lines)


def notify(
    run_id: str,
    metrics: dict[str, int],
    outbox_path: str | None = None,
    transport: Callable[[str], None] | None = None,
    ts: float | None = None,
) -> str:
    """K7 — render and deliver the run report. ``transport`` wins if
    given; otherwise the message is appended as a JSON line to
    ``outbox_path`` (the sandbox-safe default delivery). Returns the
    rendered message either way."""
    msg = render_report(run_id, metrics)
    if transport is not None:
        transport(msg)
    elif outbox_path is not None:
        with open(outbox_path, "a") as fh:
            fh.write(
                json.dumps(
                    {
                        "ts": float(time.time() if ts is None else ts),
                        "run_id": run_id,
                        "message": msg,
                    }
                )
                + "\n"
            )
    else:
        raise ValueError("notify needs outbox_path or transport")
    return msg
