"""Fixed StructTypes for every table and wire format (SURVEY §1).

The reference declares schemas as CQL DDL strings (App.java:116-205)
and consumes positional CSV between stages (§1.3); here every format is
an explicit StructType — never ``inferSchema`` in production paths.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- wire formats (§1.3) ---------------------------------------------------

# massdns triple: domain,recordType,ip (App.java:343-353)
DNS_RECORDS = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("record_type", T.StringType()),
        T.StructField("ip", T.StringType()),
    ]
)

# --- core tables (§1.1), Cassandra -> Spark --------------------------------

_TS = [
    T.StructField("firstSeen", T.TimestampType()),
    T.StructField("lastSeen", T.TimestampType()),
    T.StructField("updatedAt", T.TimestampType()),
]

# ferret.rdnsv4 (App.java:116-143). INET -> string + ip_int helper.
RDNSV4 = T.StructType(
    [
        T.StructField("ip8", T.StringType()),
        T.StructField("ip16", T.StringType()),
        T.StructField("ip24", T.StringType()),
        T.StructField("ipAddress", T.StringType()),
        *[T.StructField(f"p{i}", T.StringType()) for i in range(1, 8)],
        T.StructField("country", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("asn", T.IntegerType()),
        T.StructField("as_name", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("sourceRecordType", T.StringType()),
        *_TS,
    ]
)
RDNSV4_PARTITION_KEY = ["ip8"]
RDNSV4_CLUSTERING = ["ip16", "ip24", "ipAddress"] + [f"p{i}" for i in range(1, 8)]

# ferret.subdomains (App.java:182-198): PK ((p1,p2,p3), p4..p7)
SUBDOMAINS = T.StructType(
    [
        *[T.StructField(f"p{i}", T.StringType()) for i in range(1, 8)],
        T.StructField("source", T.StringType()),
        T.StructField("sourceRecordType", T.StringType()),
        *_TS,
    ]
)
SUBDOMAINS_PARTITION_KEY = ["p1", "p2", "p3"]
SUBDOMAINS_CLUSTERING = ["p4", "p5", "p6", "p7"]

# ferret.cnames (App.java:160-171): PK (target, apexDomain, domain)
CNAMES = T.StructType(
    [
        T.StructField("target", T.StringType()),
        T.StructField("apexDomain", T.StringType()),
        T.StructField("domain", T.StringType()),
        T.StructField("source", T.StringType()),
        *_TS,
    ]
)

# --- dimensions (§1.2) -----------------------------------------------------

GEOIP_CITY = T.StructType(
    [
        T.StructField("net_start", T.LongType()),
        T.StructField("net_end", T.LongType()),
        T.StructField("country", T.StringType()),
        T.StructField("city", T.StringType()),
    ]
)

GEOIP_ASN = T.StructType(
    [
        T.StructField("net_start", T.LongType()),
        T.StructField("net_end", T.LongType()),
        T.StructField("asn", T.IntegerType()),
        T.StructField("as_name", T.StringType()),
    ]
)
