"""E2E: the §3.3 daily DAG — prepare -> resolve(T4) -> upload
(SURVEY §5.4 pipeline tests), plus the S4 staging helper."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from sstable_migrator_spark import schemas
from sstable_migrator_spark.operators.resolve import fake_resolver, resolve_domains
from sstable_migrator_spark.pipelines import daily_prepare_job, daily_upload_job
from sstable_migrator_spark.sources import dims

AS_OF = "2024-06-30"


def _feed(spark):
    rows = [
        ("fresh1.example.de",),     # new, allowlisted -> survives
        ("fresh2.example.io",),     # new, allowlisted -> survives
        ("FRESH2.EXAMPLE.IO",),     # case dup of fresh2 -> deduped
        ("seen.example.de",),       # in history window -> anti-joined away
        ("stale.example.io",),      # only outside window -> survives
        ("blocked123.cdn.ru",),     # allowlisted but blocklisted -> dropped
        ("nomatch.example.com",),   # not allowlisted -> dropped
    ]
    return spark.createDataFrame(rows, "domain string")


def _history(spark):
    in_win = datetime.date(2024, 6, 20)
    out_win = datetime.date(2024, 5, 1)
    rows = [
        ("seen.example.de", in_win),
        ("stale.example.io", out_win),
    ]
    return spark.createDataFrame(rows, "domain string, batch_date date")


def test_daily_prepare(spark):
    out = daily_prepare_job(
        _feed(spark),
        _history(spark),
        blocklist_patterns=["^blocked[0-9]+\\."],
        as_of=AS_OF,
        window_days=25,
    )
    got = {r["domain"] for r in out.collect()}
    assert got == {"fresh1.example.de", "fresh2.example.io", "stale.example.io"}


def test_resolver_contract(spark):
    doms = spark.createDataFrame(
        [(f"h{i}.example.io",) for i in range(200)], "domain string"
    )
    out = resolve_domains(doms).collect()
    assert out  # NXDOMAINs dropped, most resolve
    assert {r["record_type"] for r in out} <= {"A", "CNAME"}
    # deterministic: same answers as a driver-side run of the fake
    expected = {}
    for i in range(200):
        d = f"h{i}.example.io"
        ans = fake_resolver(d)
        if ans:
            expected[d] = ans
    got = {r["domain"]: (r["record_type"], r["ip"]) for r in out}
    assert got == expected
    assert len(out) < 200  # some NXDOMAIN rows really dropped


def test_rate_limited_resolver_uses_every_slot(spark):
    """The per-task shares of ``rate_limit_qps`` add up to the cap only
    if ``n_slots`` tasks run, even when the domain list is one partition."""
    doms = spark.createDataFrame(
        [(f"r{i}.example.io",) for i in range(256)], "domain string"
    ).coalesce(1)
    unlimited = resolve_domains(doms)
    assert unlimited.rdd.getNumPartitions() == 1  # no exchange without a cap
    n_slots = spark.sparkContext.defaultParallelism
    limited = resolve_domains(doms, rate_limit_qps=1e6)
    assert limited.rdd.getNumPartitions() == n_slots
    assert limited.select(F.spark_partition_id()).distinct().count() == n_slots
    assert sorted(limited.collect()) == sorted(unlimited.collect())


def _stages_newest_first(spark):
    """The engine's status store, newest stage first, once every
    finished stage's metrics have reached it."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    gw = sc._gateway
    return sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None
    ).iterator()


def _last_stage_id(spark) -> int:
    it = _stages_newest_first(spark)
    return it.next().stageId() if it.hasNext() else -1


def _shuffle_bytes_since(spark, after: int) -> int:
    """Shuffle bytes written by the stages with an id above ``after``."""
    total = 0
    it = _stages_newest_first(spark)
    while it.hasNext():
        st = it.next()
        if st.stageId() <= after:
            break
        total += st.shuffleWriteBytes()
    return total


def test_daily_upload_e2e(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    doms = spark.createDataFrame(
        [(f"h{i}.site{i % 7}.example.io",) for i in range(100)], "domain string"
    )
    resolved = resolve_domains(doms)
    out_dir = str(tmp_path / "tables")
    before = _last_stage_id(spark)
    routed = daily_upload_job(
        resolved,
        dims.synthetic_geoip_city(spark),
        dims.synthetic_geoip_asn(spark),
        out_dir=out_dir,
        tld_set=["io", "com"],
        batch_ts="2024-06-30 00:00:00",
    )
    # the side channel is a plain export: the call's stages shuffle nothing
    assert _shuffle_bytes_since(spark, before) == 0
    n_a = routed["rdnsv4"].count()
    n_sub = routed["subdomains"].count()
    n_cn = routed["cnames"].count()
    assert n_a == n_sub  # every A row feeds both tables (App.java:442-477)
    n_resolved = resolved.count()
    assert n_a + n_cn == n_resolved  # all valid rows routed exactly once

    # the K3 side channel: Snappy parquet per table, every routed row,
    # columns in the reference's table order
    for name, schema, n in (
        ("rdnsv4", schemas.RDNSV4, n_a),
        ("subdomains", schemas.SUBDOMAINS, n_sub),
        ("cnames", schemas.CNAMES, n_cn),
    ):
        back = spark.read.parquet(f"{out_dir}/{name}")
        assert back.columns == [f.name for f in schema.fields], name
        assert back.count() == n, name
        codecs = set()
        for f in glob.glob(f"{out_dir}/{name}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            codecs |= {
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            }
        assert codecs == ({"SNAPPY"} if n else set()), (name, codecs)
    rd = spark.read.parquet(f"{out_dir}/rdnsv4")
    # enrichment defaults: never-null country/asn (miss -> ''/0)
    assert rd.filter(F.col("country").isNull() | F.col("asn").isNull()).count() == 0


def test_stage_url_failover(tmp_path):
    from sstable_migrator_spark.sources.readers import stage_url

    src = tmp_path / "payload.txt"
    src.write_text("domains\n")
    dest = tmp_path / "staged.txt"
    # first mirror is dead; file:// fallback succeeds
    got = stage_url(
        ["file:///nonexistent/definitely-missing", f"file://{src}"], str(dest)
    )
    assert got == str(dest)
    assert dest.read_text() == "domains\n"

    with pytest.raises(OSError):
        stage_url(["file:///nonexistent/a", "file:///nonexistent/b"], str(dest))
