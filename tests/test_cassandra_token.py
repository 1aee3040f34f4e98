"""Cassandra Murmur3Partitioner token parity (SURVEY K1/O4 —
App.java:231-250 placement semantics).

Golden vectors: the canonical x64_128 pair for "foo" from the public
mmh3 documentation, and Murmur3Partitioner tokens from the public
cassandra python-driver unit tests (tests/unit/test_murmur3.py) —
including high-bit inputs that exercise Cassandra's signed-byte tail,
where the canonical algorithm and Cassandra's deliberately diverge.
"""

from __future__ import annotations

import pytest

from sstable_migrator_spark.functions.cassandra import (
    cassandra_token,
    cassandra_token_bytes,
    cassandra_token_col,
    murmur3_x64_128,
    serialize_key,
)

# (serialized key bytes, Murmur3Partitioner token) — cassandra
# python-driver tests/unit/test_murmur3.py
DRIVER_VECTORS = [
    (b"123", -7468325962851647638),
    (b"\x00\xff\x10\xfa\x99" * 10, 5837342703291459765),
    (b"\xfe" * 8, -8927430733708461935),
    (b"\x10" * 8, 1446172840243228796),
]


def test_canonical_vectors():
    assert murmur3_x64_128(b"", cassandra_variant=False) == (0, 0)
    assert murmur3_x64_128(b"foo", cassandra_variant=False) == (
        -2129773440516405919,
        9128664383759220103,
    )


@pytest.mark.parametrize("key,token", DRIVER_VECTORS)
def test_cassandra_partitioner_vectors(key, token):
    assert cassandra_token_bytes(key) == token


def test_signed_tail_diverges_from_canonical():
    """For tail bytes >= 0x80 Cassandra's variant must differ from the
    canonical algorithm (it matches the driver vector above, so the
    divergence is the proof the flag matters)."""
    key = b"\xfe" * 8
    std = murmur3_x64_128(key, cassandra_variant=False)[0]
    assert std != cassandra_token_bytes(key)


def test_ascii_keys_match_canonical():
    for key in (b"", b"a", b"domain.example.com", b"0123456789abcdef"):
        assert (
            murmur3_x64_128(key, cassandra_variant=True)
            == murmur3_x64_128(key, cassandra_variant=False)
        )


def test_composite_key_serialization():
    # single component: raw bytes; composite: u16len + bytes + 0x00
    assert serialize_key("ab") == b"ab"
    assert serialize_key("ab", "c") == b"\x00\x02ab\x00\x00\x01c\x00"


def test_token_column_matches_python(spark):
    rows = [("dom%03d.example.com" % i,) for i in range(200)]
    df = spark.createDataFrame(rows, ["domain"])
    got = {
        r["domain"]: r["tok"]
        for r in df.select(
            "domain",
            cassandra_token_col("domain", spark_types=["string"]).alias("tok"),
        ).collect()
    }
    for (d,) in rows:
        assert got[d] == cassandra_token(d)


def _norm(s: str) -> str:
    import re

    return re.sub(r"[\s]+", " ", s.replace(" ,", ",").replace("( ", "(")
                  .replace(" )", ")")).strip().lower()


def test_ddl_matches_reference_rdnsv4():
    """Generated DDL reproduces App.java:117-143 (normalized for
    whitespace): INET overrides, full clustering chain, no composite
    parens for the single-column partition key."""
    from sstable_migrator_spark import schemas
    from sstable_migrator_spark.functions.cassandra import cassandra_ddl

    ddl = cassandra_ddl(
        schemas.RDNSV4, "ferret", "rdnsv4",
        schemas.RDNSV4_PARTITION_KEY, schemas.RDNSV4_CLUSTERING,
        type_overrides={c: "INET" for c in ("ip8", "ip16", "ip24", "ipAddress")},
    )
    ref = (
        "CREATE TABLE ferret.rdnsv4 ( ip8 INET, ip16 INET, ip24 INET,"
        " ipAddress INET, p1 VARCHAR, p2 VARCHAR, p3 VARCHAR, p4 VARCHAR,"
        " p5 VARCHAR, p6 VARCHAR, p7 VARCHAR, country VARCHAR, city VARCHAR,"
        " asn INT, as_name VARCHAR, source VARCHAR, sourceRecordType VARCHAR,"
        " firstSeen timestamp, lastSeen timestamp, updatedAt timestamp,"
        " PRIMARY KEY (ip8, ip16, ip24, ipAddress, p1, p2, p3, p4, p5, p6, p7) );"
    )
    assert _norm(ddl) == _norm(ref)


def test_ddl_composite_partition_key_and_insert():
    """subdomains (App.java:183-198): composite partition parens; the
    INSERT stamps lastSeen/updatedAt server-side (App.java:145-155)."""
    from sstable_migrator_spark import schemas
    from sstable_migrator_spark.functions.cassandra import (
        cassandra_ddl,
        cassandra_insert,
    )

    ddl = cassandra_ddl(
        schemas.SUBDOMAINS, "ferret", "subdomains",
        schemas.SUBDOMAINS_PARTITION_KEY, schemas.SUBDOMAINS_CLUSTERING,
    )
    assert "PRIMARY KEY ((p1,p2,p3), p4, p5, p6, p7) );" in ddl

    ins = cassandra_insert(
        "ferret", "cnames",
        ["target", "apexDomain", "domain", "source", "lastSeen", "updatedAt"],
    )
    assert ins == (
        "INSERT INTO ferret.cnames (target, apexDomain, domain, source,"
        " lastSeen, updatedAt) VALUES (?, ?, ?, ?, toTimestamp(now()),"
        " toTimestamp(now()))"
    )


def test_ddl_rejects_unknown_key_or_type(spark):
    import pytest
    from pyspark.sql import types as T

    from sstable_migrator_spark.functions.cassandra import cassandra_ddl

    strings = T.StructType([T.StructField("a", T.StringType()),
                            T.StructField("b", T.StringType())])
    with pytest.raises(ValueError, match="key column"):
        cassandra_ddl(strings, "k", "t", ["a"], ["nope"])
    with_map = T.StructType([T.StructField("a", T.StringType()),
                             T.StructField("m", T.MapType(T.StringType(), T.StringType()))])
    with pytest.raises(ValueError, match="no CQL mapping"):
        cassandra_ddl(with_map, "k", "t", ["a"], [])


def test_declared_type_width_controls_token(spark):
    """Cassandra hashes the DECLARED type's encoding: a bigint column
    holding a small value must token as 8 bytes. Its 4-byte int
    encoding tokens differently and would place the row on the wrong
    node."""
    import struct

    from sstable_migrator_spark.functions.cassandra import (
        cassandra_token_bytes,
        cassandra_token_col,
    )

    assert cassandra_token_bytes(struct.pack(">q", 7)) != cassandra_token_bytes(
        struct.pack(">i", 7)
    )

    df = spark.createDataFrame([(7,), (1 << 40,)], "id long")
    toks = {
        r["id"]: r["t"]
        for r in df.select(
            "id",
            cassandra_token_col("id", spark_types=["bigint"]).alias("t"),
        ).collect()
    }
    assert toks[7] == cassandra_token_bytes(struct.pack(">q", 7))
    assert toks[1 << 40] == cassandra_token_bytes(struct.pack(">q", 1 << 40))

    # the SSTable writer's own serialization agrees (same 8-byte form)
    from sstable_migrator_spark.sinks.sstable_format import CqlTable

    t = CqlTable(keyspace="ks", table="t", columns=[("id", "bigint"), ("v", "varchar")],
                 partition_key=["id"])
    key = t.serialize_partition_key({"id": 7, "v": "x"})
    assert cassandra_token_bytes(key) == toks[7]


def test_token_col_null_key_raises(spark):
    import pytest

    from sstable_migrator_spark.functions.cassandra import cassandra_token_col

    df = spark.createDataFrame([(None,)], "id long")
    with pytest.raises(Exception, match="null|NaN"):
        df.select(cassandra_token_col("id", spark_types=["bigint"])).collect()

def test_token_col_temporal_double_boolean_keys(spark):
    """Timestamp/date/double/boolean partition keys token through the
    same CQL marshal encodings the SSTable writer uses (8-byte millis,
    unsigned days+2^31, IEEE double, 1 byte) — matching a real
    cluster's ring placement instead of crashing or truncating."""
    import datetime
    import struct

    from sstable_migrator_spark.functions.cassandra import (
        cassandra_token_bytes,
        cassandra_token_col,
    )

    ts = datetime.datetime(2024, 5, 17, 12, 30, 45, tzinfo=datetime.timezone.utc)
    d = datetime.date(2024, 5, 17)
    df = spark.createDataFrame(
        [(ts, d, 3.5, True)],
        "ts timestamp, d date, x double, b boolean",
    )
    row = df.select(
        cassandra_token_col("ts", spark_types=["timestamp"]).alias("t_ts"),
        cassandra_token_col("d", spark_types=["date"]).alias("t_d"),
        cassandra_token_col("x", spark_types=["double"]).alias("t_x"),
        cassandra_token_col("b", spark_types=["boolean"]).alias("t_b"),
    ).collect()[0]

    millis = int(ts.timestamp() * 1000)
    days = d.toordinal() - 719163
    assert row["t_ts"] == cassandra_token_bytes(struct.pack(">q", millis))
    assert row["t_d"] == cassandra_token_bytes(
        struct.pack(">I", (days + (1 << 31)) & 0xFFFFFFFF)
    )
    assert row["t_x"] == cassandra_token_bytes(struct.pack(">d", 3.5))
    assert row["t_b"] == cassandra_token_bytes(b"\x01")


def test_token_col_rejects_unsupported_or_undeclared_types(spark):
    import pytest

    from sstable_migrator_spark.functions.cassandra import cassandra_token_col

    # unsupported declared type fails fast at call time
    with pytest.raises(ValueError, match="unsupported partition-key type"):
        cassandra_token_col("x", spark_types=["decimal(10,2)"])

    # undeclared double refuses to guess instead of truncating to int
    df = spark.createDataFrame([(3.5,)], "x double")
    with pytest.raises(Exception, match="spark_types"):
        df.select(cassandra_token_col("x")).collect()


def test_float_has_no_cql_mapping(spark, tmp_path):
    """Nothing writes or scans a CQL float, so the router, the DDL and
    the writer all refuse a Spark float column instead of accepting a
    key or schema that could never be written."""
    from pyspark.sql import types as T

    from sstable_migrator_spark.functions.cassandra import cassandra_ddl
    from sstable_migrator_spark.sinks.ring import build_ring, write_sstables

    with pytest.raises(ValueError, match="unsupported partition-key type 'float'"):
        cassandra_token_col("x", spark_types=["float"])
    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("x", T.FloatType())])
    with pytest.raises(ValueError, match="no CQL mapping for x: float"):
        cassandra_ddl(schema, "k", "t", ["k"], [])
    df = spark.createDataFrame([("a", 1.5)], schema)
    with pytest.raises(ValueError, match="no CQL mapping for x: float"):
        write_sstables(df, str(tmp_path / "out"), keyspace="k", table="t",
                       partition_key=["k"], clustering=[],
                       ring=build_ring(["n1"], vnodes_per_node=1), rf=1)
