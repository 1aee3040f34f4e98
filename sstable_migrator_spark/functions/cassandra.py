"""Cassandra Murmur3Partitioner token parity (SURVEY K1/O4).

The reference hands rows to ``CQLSSTableWriter`` and lets Cassandra's
``Murmur3Partitioner`` place them on the token ring (App.java:231-250).
This module computes the exact Cassandra token so the written layout
can be mapped 1:1 to the target ring.

Algorithm facts, all from public sources:

- Murmur3Partitioner hashes the serialized partition key with
  MurmurHash3 x64_128, seed 0, and takes the FIRST 64-bit half as the
  token, normalizing ``Long.MIN_VALUE`` to ``Long.MAX_VALUE``
  (org.apache.cassandra.dht.Murmur3Partitioner#getToken).
- Cassandra's Java MurmurHash keeps Java's *signed* bytes in the tail
  block (org.apache.cassandra.utils.MurmurHash#hash3_x64_128), so for
  tail bytes >= 0x80 its output deliberately diverges from the
  canonical x64_128. The ``cassandra_variant`` flag reproduces that
  sign extension; with it off this is the canonical algorithm (pinned
  to the public mmh3 test vectors in tests).
- Composite partition keys serialize each component as
  ``uint16 length + bytes + 0x00`` (CompositeType.build).

Execution shape: tokens are computed in an Arrow UDF — one Python
roundtrip per batch at write time only; query paths never pay it.
The pure-python core doubles as the oracle for golden tests.
"""

from __future__ import annotations

import struct

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

_MASK64 = (1 << 64) - 1
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK64
    k ^= k >> 33
    return k


def _tail_byte(b: int, cassandra_variant: bool) -> int:
    """Cassandra keeps Java's signed byte in tail assembly."""
    if cassandra_variant and b >= 0x80:
        return (b - 0x100) & _MASK64  # sign-extend to 64 bits
    return b


def murmur3_x64_128(
    data: bytes, seed: int = 0, cassandra_variant: bool = True
) -> tuple[int, int]:
    """MurmurHash3 x64_128; returns (h1, h2) as *signed* 64-bit ints."""
    length = len(data)
    nblocks = length // 16
    h1 = h2 = seed & _MASK64

    for i in range(nblocks):
        k1, k2 = struct.unpack_from("<QQ", data, i * 16)
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64

    tail = data[nblocks * 16 :]
    k1 = k2 = 0
    for i in range(len(tail) - 1, 7, -1):  # bytes 8..14 -> k2
        k2 ^= (_tail_byte(tail[i], cassandra_variant) << (8 * (i - 8))) & _MASK64
    for i in range(min(len(tail), 8) - 1, -1, -1):  # bytes 0..7 -> k1
        k1 ^= (_tail_byte(tail[i], cassandra_variant) << (8 * i)) & _MASK64
    if len(tail) > 8:
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
    if tail:
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64

    def _signed(v: int) -> int:
        return v - (1 << 64) if v >= 1 << 63 else v

    return _signed(h1), _signed(h2)


def cassandra_token_bytes(key: bytes) -> int:
    """Murmur3Partitioner token of an already-serialized partition key."""
    token = murmur3_x64_128(key, 0, cassandra_variant=True)[0]
    if token == -(1 << 63):  # Murmur3Partitioner.normalize
        return (1 << 63) - 1
    return token


class CqlBigint(int):
    """Marker: serialize this key component as CQL bigint (8-byte BE)
    regardless of magnitude. Cassandra hashes the DECLARED type's
    encoding — a bigint column holding 7 hashes 8 bytes, and the
    magnitude heuristic below would pick 4, yielding a token that
    disagrees with the cluster's ring placement."""


class CqlInt(int):
    """Marker: serialize as CQL int (4-byte BE) regardless of range."""


def serialize_key(*components: str | bytes | int) -> bytes:
    """CQL partition-key serialization.

    Single component -> the component's raw CQL bytes. Composite key ->
    ``uint16_be(len) + bytes + 0x00`` per component (CompositeType).
    text -> UTF-8; CqlInt -> 4-byte BE; CqlBigint -> 8-byte BE. A plain
    python int falls back to the magnitude heuristic (4 bytes when it
    fits) — ONLY safe when the CQL column really is `int`; wrap with
    CqlBigint/CqlInt (or use cassandra_token_col, which maps the Spark
    column type) whenever the declared type is known.
    """

    def _raw(c: str | bytes | int) -> bytes:
        if isinstance(c, bytes):
            return c
        if isinstance(c, str):
            return c.encode("utf-8")
        if isinstance(c, CqlBigint):
            return struct.pack(">q", int(c))
        if isinstance(c, CqlInt):
            return struct.pack(">i", int(c))
        if isinstance(c, int):
            if -(1 << 31) <= c < 1 << 31:
                return struct.pack(">i", c)
            return struct.pack(">q", c)
        raise TypeError(f"unsupported key component type {type(c)}")

    if len(components) == 1:
        return _raw(components[0])
    out = b""
    for c in components:
        raw = _raw(c)
        out += struct.pack(">H", len(raw)) + raw + b"\x00"
    return out


def cassandra_token(*components: str | bytes | int) -> int:
    return cassandra_token_bytes(serialize_key(*components))


def _undeclared_component(v: str | bytes | int) -> str | bytes | int:
    """A key component with no declared Spark type: text and bytes pass
    through, a plain int takes ``serialize_key``'s magnitude heuristic,
    and anything else is refused rather than guessed."""
    if isinstance(v, (str, bytes)) or (
        isinstance(v, int) and not isinstance(v, bool)
    ):
        return v
    raise ValueError(
        f"partition key component of type {type(v).__name__} needs an "
        "explicit spark_types entry; refusing to guess its CQL serialization"
    )


def cassandra_token_col(
    *cols: Column | str, spark_types: list[str] | None = None
) -> Column:
    """Column expression computing the Cassandra token of a partition
    key. With ``spark_types`` (the simpleString of each key column)
    every component serializes as the CQL type ``write_sstables``
    writes that column as — ``sstable_format.SPARK_TO_CQL`` then that
    type's ``ser`` and ``serialize_key``, the same path
    ``CqlTable.serialize_partition_key`` takes — so the routed token is
    the written key's token by construction (a bigint holding 7 hashes
    8 bytes, a timestamp its millis). A declared type with no CQL
    mapping raises a ValueError naming it. Without ``spark_types``,
    strings and bytes pass through, a plain int takes the magnitude
    heuristic (which only matches a cluster whose column is CQL
    ``int``) and any other value raises. NULL/NaN key components
    raise: Cassandra rejects null partition keys, and silently hashing
    a sentinel would place the row on a real-but-wrong node. Runs as
    an Arrow UDF over the values ``RecordBatch.to_pylist`` gives the
    writer; write-path only."""
    from sstable_migrator_spark.sinks.sstable_format import CQL_TYPES, SPARK_TO_CQL

    types = list(spark_types) if spark_types else [None] * len(cols)
    if len(types) != len(cols):
        raise ValueError("spark_types must match the key column count")
    for t in types:
        if t is not None and t not in SPARK_TO_CQL:
            raise ValueError(
                f"unsupported partition-key type {t!r}: cassandra_token_col "
                f"serializes {sorted(SPARK_TO_CQL)}"
            )
    sers = [
        CQL_TYPES[SPARK_TO_CQL[t]].ser if t else _undeclared_component
        for t in types
    ]

    @arrow_udf("long")
    def _token(*arrays: pa.Array) -> pa.Array:
        out = []
        for vals in zip(*(a.to_pylist() for a in arrays)):
            if any(v is None or v != v for v in vals):
                raise ValueError("null/NaN partition key component")
            out.append(
                cassandra_token(*(ser(v) for ser, v in zip(sers, vals)))
            )
        return pa.array(out, pa.int64())

    return _token(*[F.col(c) if isinstance(c, str) else c for c in cols])


def cassandra_ddl(
    schema,
    keyspace: str,
    table: str,
    partition_key: list[str],
    clustering: list[str],
    type_overrides: dict[str, str] | None = None,
) -> str:
    """Generate the ``CREATE TABLE`` DDL CQLSSTableWriter is fed
    (App.java:117-143, 161-171, 183-198) from a Spark schema + key
    spec: Spark types map to their CQL equivalents, a multi-column
    partition key gets the composite parens (``((p1,p2,p3),p4,...)``),
    and ``type_overrides`` covers CQL types Spark lacks (the
    reference's INET columns are strings Spark-side). Golden-matched
    against all three reference schemas in tests."""
    from sstable_migrator_spark.sinks.sstable_format import SPARK_TO_CQL

    over = type_overrides or {}
    cols = []
    for f in schema.fields:
        t = over.get(f.name) or SPARK_TO_CQL.get(f.dataType.simpleString())
        if t is None:
            raise ValueError(f"no CQL mapping for {f.name}: {f.dataType.simpleString()}")
        cols.append(f"{f.name} {t}")
    names = {f.name for f in schema.fields}
    for c in [*partition_key, *clustering]:
        if c not in names:
            raise ValueError(f"key column {c} not in schema")
    pk = (
        partition_key[0]
        if len(partition_key) == 1
        else "(" + ",".join(partition_key) + ")"
    )
    key = ", ".join([pk, *clustering])
    return (
        f"CREATE TABLE {keyspace}.{table} ( "
        + ", ".join(cols)
        + f", PRIMARY KEY ({key}) );"
    )


def cassandra_insert(
    keyspace: str,
    table: str,
    columns: list[str],
    server_now: tuple[str, ...] = ("lastSeen", "updatedAt"),
) -> str:
    """The matching prepared ``INSERT`` (App.java:145-155): bound
    markers for data columns, ``toTimestamp(now())`` for the
    server-stamped timestamp columns (the reference's F9 batch
    timestamps; the Spark pipeline pins these as batch literals
    instead — operators/ingest.py — so the two stay equivalent
    per-batch)."""
    vals = [
        "toTimestamp(now())" if c in server_now else "?" for c in columns
    ]
    return (
        f"INSERT INTO {keyspace}.{table} ("
        + ", ".join(columns)
        + ") VALUES ("
        + ", ".join(vals)
        + ")"
    )
