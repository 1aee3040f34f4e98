"""K7/K8 operational sinks: run-log appends and the notification
boundary (daily_certstream_download.sh:124-129 analog)."""

from __future__ import annotations

import json

import pytest

from sstable_migrator_spark.sinks.ops import append_run_log, notify, render_report


def test_run_log_appends_and_queries(spark, tmp_path):
    log = str(tmp_path / "runlog")
    append_run_log(spark, log, "2026-08-14", "ingest", {"rows": 100, "rejects": 3}, ts=1.0)
    append_run_log(spark, log, "2026-08-14", "dedup", {"rows": 97}, ts=2.0)
    append_run_log(spark, log, "2026-08-15", "ingest", {"rows": 120}, status="warn", ts=3.0)
    df = spark.read.parquet(log)
    assert df.count() == 3
    day = {r["stage"]: r for r in df.filter(df.run_id == "2026-08-14").collect()}
    assert day["ingest"]["metrics"]["rejects"] == 3
    assert day["dedup"]["metrics"]["rows"] == 97
    assert df.filter(df.status == "warn").count() == 1


def test_notify_outbox_and_transport(tmp_path):
    outbox = str(tmp_path / "outbox.jsonl")
    msg = notify("r1", {"valid": 10, "reject": 2}, outbox_path=outbox, ts=5.0)
    assert msg == "run r1\nreject: 2\nvalid: 10"
    rec = json.loads(open(outbox).read().strip())
    assert rec["run_id"] == "r1" and rec["message"] == msg and rec["ts"] == 5.0

    sent = []
    notify("r2", {"n": 1}, transport=sent.append)
    assert sent == [render_report("r2", {"n": 1})]

    with pytest.raises(ValueError):
        notify("r3", {})
