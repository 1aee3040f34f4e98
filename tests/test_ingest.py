"""End-to-end ingest parity (SURVEY §3.1): routing, enrichment,
upsert semantics."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from sstable_migrator_spark import schemas
from sstable_migrator_spark.operators.dedup import (
    anti_join_history,
    upsert_latest,
)
from sstable_migrator_spark.operators.ingest import (
    geoip_enrich,
    parse_and_route,
    route_tables,
)
from sstable_migrator_spark.sources import dims

TLDS = ["com", "uk", "co", "de", "in", "gov", "org"]


def _records(spark):
    rows = [
        ("www.example.com", "A", "10.0.0.1"),
        ("Sub.Deep.Example.co.uk", "A", "10.0.0.2"),
        ("alias.example.com", "CNAME", "target.example.org"),
        ("*.rescued.com", "A", "10.0.0.3"),       # cleanable -> kept
        ("bad..domain", "A", "10.0.0.4"),          # invalid -> dropped
        ("ok.example.com", "A", "999.0.0.1"),      # bad IP -> dropped
        ("single", "A", "10.0.0.5"),               # no TLD -> parts fail
    ]
    return spark.createDataFrame(rows, schemas.DNS_RECORDS)


def test_parse_and_route(spark):
    parsed = parse_and_route(_records(spark), TLDS, source="test").persist()
    kept = parsed.filter(F.col("keep")).collect()
    by_domain = {r["domain"]: r for r in kept}
    assert set(by_domain) == {
        "www.example.com", "Sub.Deep.Example.co.uk", "alias.example.com", "rescued.com",
    }
    a = by_domain["www.example.com"]
    assert (a["ip8"], a["ip16"], a["ip24"]) == ("10.0.0.0", "10.0.0.0", "10.0.0.0")
    assert a["p1"] == "com" and a["p3"] == "example" and a["p4"] == "www"
    deep = by_domain["Sub.Deep.Example.co.uk"]
    assert deep["apexDomain"] == "example.co.uk"
    assert (deep["p1"], deep["p2"], deep["p3"], deep["p4"], deep["p5"]) == (
        "uk", "co", "", "example", "deep")
    cn = by_domain["alias.example.com"]
    assert cn["is_cname"] and cn["apexDomain"] == "target.example.org"
    assert cn["ip_int"] is None

    tables = route_tables(parsed, batch_ts="2024-06-01 00:00:00")
    assert tables["cnames"].count() == 1
    assert tables["rdnsv4"].count() == 2 + 1  # two A + rescued
    assert tables["subdomains"].count() == 3
    assert tables["rdnsv4"].columns == [f.name for f in schemas.RDNSV4.fields]
    parsed.unpersist()


def test_geoip_enrich_hit_and_miss(spark):
    facts = spark.createDataFrame(
        [(1, 5), (2, (1 << 26) * 3 + 17), (3, (1 << 26) * 19 + 17)],
        "id long, ip_int long",
    )  # block 0: both dims hit; block 3: city gap (i%4==3) but ASN hit;
    #    block 19: gap in BOTH dims (19%4==3 and 19%5==4)
    out = geoip_enrich(
        facts, dims.synthetic_geoip_city(spark), dims.synthetic_geoip_asn(spark)
    ).collect()
    hit = next(r for r in out if r["id"] == 1)
    partial = next(r for r in out if r["id"] == 2)
    miss = next(r for r in out if r["id"] == 3)
    assert hit["country"] == "US" and hit["asn"] == 64500
    assert partial["country"] == "" and partial["asn"] == 64503
    assert miss["country"] == "" and miss["asn"] == 0 and miss["as_name"] == ""


def test_upsert_latest(spark):
    df = spark.createDataFrame(
        [
            ("k1", datetime.datetime(2024, 1, 1), "old"),
            ("k1", datetime.datetime(2024, 1, 3), "new"),
            ("k2", datetime.datetime(2024, 1, 2), "only"),
        ],
        "pk string, updatedAt timestamp, payload string",
    )
    out = {r["pk"]: r["payload"] for r in upsert_latest(df, ["pk"], "updatedAt").collect()}
    assert out == {"k1": "new", "k2": "only"}


def test_anti_join_history_window(spark):
    today = spark.createDataFrame(
        [("new.com",), ("seen-recent.com",), ("seen-old.com",)], "domain string"
    )
    hist = spark.createDataFrame(
        [
            ("seen-recent.com", datetime.date(2024, 6, 20)),
            ("seen-old.com", datetime.date(2024, 5, 1)),  # outside 25d
        ],
        "domain string, batch_date date",
    )
    out = {r["domain"] for r in anti_join_history(
        today, hist, as_of="2024-07-01").collect()}
    assert out == {"new.com", "seen-old.com"}

