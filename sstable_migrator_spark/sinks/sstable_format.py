"""Cassandra BIG-format ("nb") SSTable file writer + self-contained reader.

This is the K1 "last mile": the reference's output artifact is actual
SSTable files produced by ``CQLSSTableWriter`` (App.java:231-250 builds
one writer per table with ``Murmur3Partitioner``). Everything upstream
already exists Spark-side — exact Murmur3 tokens
(functions/cassandra.py), CQL DDL parity, ring-range layout
(sinks/ring.py) — this module emits the on-disk format itself.

Every encoding below implements the PUBLIC Cassandra 4.x storage format
(the post-3.0 "storage engine with structure" layout), from the
published format documentation and the Apache Cassandra source tree
(java classes named per structure). Components written, per sstable
``nb-<gen>-big-<Component>``:

- ``Data.db``   — partitions in (token, key) order; per partition:
  u16 key length + serialized key, partition DeletionTime
  (int localDeletionTime, long markedForDeleteAt —
  ``DeletionTime.Serializer``; LIVE = (0x7FFFFFFF, Long.MIN_VALUE)),
  then rows serialized per ``UnfilteredSerializer`` (flags byte,
  clustering header+values per ``ClusteringPrefix.Serializer``, row
  size + previous row size unsigned vints, timestamp delta against
  ``EncodingStats.minTimestamp``, optional missing-columns bitmap per
  ``Columns.Serializer.serializeSubset``, cells per
  ``Cell.Serializer``), closed by the 0x01 END_OF_PARTITION flag.
- ``Index.db``  — per partition: u16 key length + key, then
  ``RowIndexEntry``: unsigned vint Data.db position + unsigned vint 0
  (no promoted index — partitions small enough to skip index samples,
  the same fast path Cassandra takes under 64 KiB).
- ``Filter.db`` — bloom filter: int hashCount, then the
  ``OffHeapBitSet`` serialization (int word count + big-endian longs
  whose bytes are the little-endian-bit bitset bytes). Key hashing is
  the Cassandra-variant Murmur3 x64_128 already golden-pinned in
  functions/cassandra.py; bit indexes follow ``BloomFilter.indexes``:
  ``abs((h2 + i*h1) mod capacity)`` with Java signed semantics.
- ``Statistics.db`` — metadata TOC (int count, then (int type ordinal,
  int offset) pairs; ordinals VALIDATION=0, COMPACTION=1, STATS=2,
  HEADER=3) with the VALIDATION component (writeUTF partitioner FQCN +
  double bloom fp chance) and the HEADER component
  (``SerializationHeader.Component``: EncodingStats vint deltas
  against the public epochs TIMESTAMP_EPOCH=1442880000000000us /
  DELETION_TIME_EPOCH=1442880000s / TTL_EPOCH=0, key type name,
  clustering type names, static + regular column name/type maps with
  vint-length strings), the COMPACTION component
  (``CompactionMetadata``: int length + stream-lib HyperLogLogPlus(13,25)
  v2 bytes, registers fed with murmur2-64 hashes of every partition
  key — the partition-count estimate compaction strategies read), and
  the STATS component (``StatsMetadata``: partition-size and
  cells-per-partition EstimatedHistograms, min/max timestamps and
  deletion times, clustering min/max values, totals — the full field
  order documented at ``_stats_component``; best-effort, flagged in
  the manifest because only this module's own reader can byte-validate
  it in the sandbox). All four metadata blocks are written.
- ``Summary.db`` — IndexSummary + first/last key
  (``SSTableReader.saveSummary``): big-endian header, then the raw
  memory dump (little-endian rebased entry offsets, entries of key
  bytes + little-endian long Index.db position — the serializer
  byte-swaps only the offsets; entries stay native order), then
  writeWithLength first/last keys. Sampled every 128th partition.
- ``Digest.crc32`` — CRC32 of the Data.db bytes as written (the
  compressed bytes when compression is on), ASCII decimal.
- ``CRC.db``    — int chunk size + per-64KiB-chunk CRC32 ints
  (``DataIntegrityMetadata.ChecksumWriter``); uncompressed tables only.
- ``CompressionInfo.db`` — with ``compression="deflate"``: the
  ``CompressionMetadata`` layout (writeUTF compressor simple name, int
  option count + options, int chunk length, long uncompressed data
  length, int chunk count, long on-disk chunk offsets). Data.db then
  holds per-chunk deflated bytes each followed by a 4-byte CRC32 of
  the compressed chunk (``CompressedSequentialWriter``), Index.db
  positions stay UNCOMPRESSED offsets, and CRC.db is not written
  (checksums are inline). Deflate because java.util.zip.Deflater's
  default zlib framing IS python zlib — no third-party codec needed.
- ``TOC.txt``   — the component list, itself included.

The matching ``SSTableReader`` is a fully independent parser and the
only code that reads this layout: it learns the column types from the
Statistics.db HEADER component (not from the writer's in-memory
schema), walks Data.db partition by partition, cross-checks every
Index.db offset against the real partition starts and Summary.db
against Index.db, verifies the digest and CRCs, and evaluates bloom
membership — the same verification recipe used for the mmdb and 7z
binary readers. ``read_sstable``, ``point_lookup`` and compaction are
thin callers of it.

Scale shape: one sstable per token range per Spark task
(``sinks.ring.write_sstables`` routes the rows itself and hands each
range's Arrow rows to its own writer), and nothing touches the driver.
Within one executor task the writer is CQLSSTableWriter's unsorted
mode: rows buffer and are sorted by DecoratedKey order at ``close()``.
The buffer is bounded by a fixed row count
(``SSTableWriter._SPILL_THRESHOLD_ROWS``, 65 536 — the role of
CQLSSTableWriter's ``withBufferSizeInMB``): a range that fits stays in
memory, and a bigger one becomes an external sort — every full buffer
is sorted and spilled as a run file, and ``close()`` k-way-merges the
runs while STREAMING the data file to disk chunk-by-chunk, so
executor memory is O(threshold + partitions + runs) regardless of
range size. The output is byte-identical either way. That is how a
100 TB range that exceeds executor memory still serializes on one
task.
"""

from __future__ import annotations

import bisect
import io
import os
import struct
import zlib
from dataclasses import dataclass, field
from functools import cached_property

from sstable_migrator_spark.functions.cassandra import (
    cassandra_token_bytes,
    serialize_key,
)

__all__ = [
    "CqlTable",
    "SSTableReader",
    "SSTableWriter",
    "point_lookup",
    "read_sstable",
    "encode_unsigned_vint",
    "decode_unsigned_vint",
    "encode_signed_vint",
    "decode_signed_vint",
]

# ---------------------------------------------------------------------------
# vint codec (org.apache.cassandra.utils.vint.VIntCoding)
# ---------------------------------------------------------------------------

_MASK64 = (1 << 64) - 1


def _unsigned_vint_size(value: int) -> int:
    """(639 - numberOfLeadingZeros(value|1) * 9) >> 6 — the Java size
    formula verbatim (computeUnsignedVIntSize)."""
    v = (value | 1) & _MASK64
    nlz = 64 - v.bit_length()
    return (639 - nlz * 9) >> 6


def encode_unsigned_vint(value: int) -> bytes:
    """First byte carries as many leading 1-bits as there are extra
    bytes; 0..127 encode in one byte."""
    value &= _MASK64
    size = _unsigned_vint_size(value)
    if size == 1:
        return bytes([value])
    extra = size - 1
    buf = bytearray(size)
    v = value
    for i in range(extra, -1, -1):
        buf[i] = v & 0xFF
        v >>= 8
    buf[0] |= (~(0xFF >> extra)) & 0xFF  # the leading-ones prefix
    return bytes(buf)


def decode_unsigned_vint(data: bytes, offset: int = 0) -> tuple[int, int]:
    """Returns (value, next_offset)."""
    first = data[offset]
    extra = 0
    mask = 0x80
    while extra < 8 and first & mask:
        extra += 1
        mask >>= 1
    value = first & (0xFF >> extra) if extra < 8 else 0
    for i in range(extra):
        value = (value << 8) | data[offset + 1 + i]
    return value, offset + 1 + extra


def encode_signed_vint(value: int) -> bytes:
    """Zigzag then unsigned (writeVInt)."""
    v = value & _MASK64
    zig = ((v << 1) & _MASK64) ^ (_MASK64 if value < 0 else 0)
    return encode_unsigned_vint(zig)


def decode_signed_vint(data: bytes, offset: int = 0) -> tuple[int, int]:
    zig, off = decode_unsigned_vint(data, offset)
    value = (zig >> 1) ^ -(zig & 1)
    return value, off


# ---------------------------------------------------------------------------
# CQL marshal types (org.apache.cassandra.db.marshal.*)
# ---------------------------------------------------------------------------

_MARSHAL = "org.apache.cassandra.db.marshal."


def _ser_text(v) -> bytes:
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


def _ser_int32(v) -> bytes:
    return struct.pack(">i", int(v))


def _ser_long(v) -> bytes:
    return struct.pack(">q", int(v))


def _ser_double(v) -> bytes:
    return struct.pack(">d", float(v))


def _ser_bool(v) -> bytes:
    return b"\x01" if v else b"\x00"


def _ser_timestamp(v) -> bytes:
    """TimestampType: 8-byte big-endian millis since unix epoch.

    Integer epoch math only — ``int(v.timestamp() * 1000)`` loses the
    last millisecond on ~3 in 100k microsecond-precision values
    (float64 rounding), which would hash to a DIFFERENT Murmur3 token
    than a real cluster computes. pd.Timestamp carries exact
    nanoseconds in ``.value``; datetimes are differenced against the
    epoch as exact timedeltas (naive values are treated as UTC — the
    same convention the Spark session enforces with its UTC timezone
    conf — rather than resolved through the platform-local timezone,
    which would make tokens machine-dependent)."""
    if hasattr(v, "value") and hasattr(v, "tz"):  # pd.Timestamp: exact ns
        return struct.pack(">q", v.value // 1_000_000)
    if hasattr(v, "timestamp"):  # datetime
        import datetime as _dt

        epoch = (
            _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            if v.tzinfo is not None
            else _dt.datetime(1970, 1, 1)
        )
        delta = v - epoch
        millis = (
            delta.days * 86_400_000
            + delta.seconds * 1_000
            + delta.microseconds // 1_000
        )
        return struct.pack(">q", millis)
    return struct.pack(">q", int(v))


def _ser_inet(v) -> bytes:
    import ipaddress

    return ipaddress.ip_address(v).packed


def _ser_blob(v) -> bytes:
    return bytes(v)


def _ser_date(v) -> bytes:
    """SimpleDateType: unsigned 4-byte days-since-epoch + 2^31."""
    if hasattr(v, "toordinal"):
        days = v.toordinal() - 719163  # 1970-01-01
    else:
        days = int(v)
    return struct.pack(">I", (days + (1 << 31)) & 0xFFFFFFFF)


@dataclass(frozen=True)
class _CqlType:
    cql: str
    marshal: str  # FQCN suffix
    fixed_len: int | None
    ser: object
    deser: object
    spark: str  # Spark SQL type (simpleString) its values travel as


def _deser_text(b: bytes):
    return b.decode("utf-8")


def _deser_int32(b: bytes):
    return struct.unpack(">i", b)[0]


def _deser_long(b: bytes):
    return struct.unpack(">q", b)[0]


def _deser_double(b: bytes):
    return struct.unpack(">d", b)[0]


def _deser_bool(b: bytes):
    return b != b"\x00"


def _deser_timestamp(b: bytes):
    return struct.unpack(">q", b)[0]  # millis; caller converts if needed


def _deser_inet(b: bytes):
    import ipaddress

    return str(ipaddress.ip_address(b))


def _deser_date(b: bytes):
    return struct.unpack(">I", b)[0] - (1 << 31)


def _deser_blob(b: bytes):
    return b


CQL_TYPES: dict[str, _CqlType] = {
    t.cql: t
    for t in [
        _CqlType("text", "UTF8Type", None, _ser_text, _deser_text, "string"),
        _CqlType("varchar", "UTF8Type", None, _ser_text, _deser_text, "string"),
        _CqlType("ascii", "AsciiType", None, _ser_text, _deser_text, "string"),
        _CqlType("int", "Int32Type", 4, _ser_int32, _deser_int32, "int"),
        _CqlType("bigint", "LongType", 8, _ser_long, _deser_long, "bigint"),
        _CqlType("double", "DoubleType", 8, _ser_double, _deser_double, "double"),
        _CqlType("boolean", "BooleanType", 1, _ser_bool, _deser_bool, "boolean"),
        _CqlType(
            "timestamp", "TimestampType", 8, _ser_timestamp, _deser_timestamp,
            "timestamp",
        ),
        _CqlType("inet", "InetAddressType", None, _ser_inet, _deser_inet, "string"),
        _CqlType("blob", "BytesType", None, _ser_blob, _deser_blob, "binary"),
        _CqlType("date", "SimpleDateType", 4, _ser_date, _deser_date, "date"),
    ]
}

# The CQL type a Spark column is written as — by write_sstables, in
# cassandra_ddl and by cassandra_token_col's key encoder, so the routed
# token and the written key always hash the same bytes. Spark strings
# become varchar; text/ascii/inet only come from explicit overrides.
SPARK_TO_CQL: dict[str, str] = {
    CQL_TYPES[c].spark: c
    for c in ("varchar", "int", "bigint", "double", "boolean", "timestamp", "date", "blob")
}

_BY_MARSHAL = {t.marshal: t for t in CQL_TYPES.values()}


def _norm_cql(name: str) -> str:
    return name.strip().lower()


# ---------------------------------------------------------------------------
# Schema
# ---------------------------------------------------------------------------


@dataclass
class CqlTable:
    """A CQL table shape: ordered (name, cql_type) columns plus the key
    spec — the same inputs ``cassandra_ddl`` takes. Regular (non-key)
    columns are kept name-sorted, which IS Cassandra's cell order
    (``Columns`` sorts by column name bytes); cells in every row and
    the missing-column bitmap both index that order."""

    keyspace: str
    table: str
    columns: list[tuple[str, str]]
    partition_key: list[str]
    clustering: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        names = [n for n, _ in self.columns]
        if len(set(names)) != len(names):
            raise ValueError("duplicate column names")
        self.types = {n: CQL_TYPES[_norm_cql(t)] for n, t in self.columns}
        for c in [*self.partition_key, *self.clustering]:
            if c not in self.types:
                raise ValueError(f"key column {c} not in columns")
        keyset = set(self.partition_key) | set(self.clustering)
        self.regular = sorted(
            (n for n, _ in self.columns if n not in keyset),
            key=lambda n: n.encode("utf-8"),
        )

    def key_type_name(self) -> str:
        parts = [_MARSHAL + self.types[c].marshal for c in self.partition_key]
        if len(parts) == 1:
            return parts[0]
        return _MARSHAL + "CompositeType(" + ",".join(parts) + ")"

    def serialize_partition_key(self, row: dict) -> bytes:
        comps = []
        for c in self.partition_key:
            v = row.get(c)
            if v is None:
                raise ValueError(f"partition key column {c} is null")
            comps.append(self.types[c].ser(v))
        return serialize_key(*comps)


# EncodingStats public epoch constants (EncodingStats.java: Sep 22 2015)
TIMESTAMP_EPOCH_US = 1442880000000000
DELETION_TIME_EPOCH_S = 1442880000
NO_DELETION_TIME = 0x7FFFFFFF  # Integer.MAX_VALUE: "live"
LIVE_MARKED_FOR_DELETE = -(1 << 63)  # Long.MIN_VALUE

# Unfiltered flags (UnfilteredSerializer)
END_OF_PARTITION = 0x01
IS_MARKER = 0x02
HAS_TIMESTAMP = 0x04

# reserved dict key carrying an explicit per-row write timestamp through
# add_row -> (optional spill pickle) -> _serialize_row; never a column
_ROW_TS_KEY = "__row_ts_us__"
HAS_TTL = 0x08
HAS_DELETION = 0x10
HAS_ALL_COLUMNS = 0x20
HAS_COMPLEX_DELETION = 0x40
EXTENSION_FLAG = 0x80

# Cell flags (Cell.Serializer)
CELL_IS_DELETED = 0x01
CELL_IS_EXPIRING = 0x02
CELL_HAS_EMPTY_VALUE = 0x04
CELL_USE_ROW_TIMESTAMP = 0x08
CELL_USE_ROW_TTL = 0x10

# Statistics.db metadata ordinals (MetadataType)
META_VALIDATION = 0
META_COMPACTION = 1
META_STATS = 2
META_HEADER = 3

PARTITIONER = "org.apache.cassandra.dht.Murmur3Partitioner"
VERSION = "nb"
CHUNK_SIZE = 65536


def _write_value(t: _CqlType, raw: bytes, out: io.BytesIO) -> None:
    """AbstractType.writeValue: fixed-length types raw, variable-length
    types unsigned-vint length + bytes."""
    if t.fixed_len is not None:
        if len(raw) != t.fixed_len:
            raise ValueError(f"bad fixed-length value for {t.cql}")
        out.write(raw)
    else:
        out.write(encode_unsigned_vint(len(raw)))
        out.write(raw)


def _read_value(t: _CqlType, data: bytes, off: int) -> tuple[bytes, int]:
    if t.fixed_len is not None:
        return data[off : off + t.fixed_len], off + t.fixed_len
    n, off = decode_unsigned_vint(data, off)
    return data[off : off + n], off + n


def _vint_len_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return encode_unsigned_vint(len(b)) + b


# ---------------------------------------------------------------------------
# Bloom filter (BloomFilter + OffHeapBitSet)
# ---------------------------------------------------------------------------


def _java_mod(a: int, m: int) -> int:
    """Java % : truncated toward zero on the signed value."""
    r = abs(a) % m
    return -r if a < 0 else r


class _Bloom:
    def __init__(self, n_keys: int, fp: float = 0.01):
        import math

        n = max(n_keys, 1)
        m = max(64, math.ceil(-n * math.log(fp) / (math.log(2) ** 2)))
        words = ((m - 1) >> 6) + 1  # OffHeapBitSet.bits2words
        self.capacity = words * 64
        self.hash_count = max(1, round(math.log(2) * self.capacity / n))
        self.bits = bytearray(words * 8)

    def _indexes(self, key: bytes) -> list[int]:
        from sstable_migrator_spark.functions.cassandra import murmur3_x64_128

        h1, h2 = murmur3_x64_128(key, seed=0, cassandra_variant=True)
        out = []
        base, inc = h2, h1  # BloomFilter.setIndexes(b[1], b[0], ...)
        for _ in range(self.hash_count):
            out.append(abs(_java_mod(base, self.capacity)))
            base = ((base + inc + (1 << 63)) & _MASK64) - (1 << 63)  # signed add
        return out

    def add(self, key: bytes) -> None:
        for idx in self._indexes(key):
            self.bits[idx >> 3] |= 1 << (idx & 7)

    def might_contain(self, key: bytes) -> bool:
        return all(self.bits[i >> 3] & (1 << (i & 7)) for i in self._indexes(key))

    def serialize(self) -> bytes:
        """int hashCount, int word count, then each 8-byte group read
        little-endian and written as a big-endian long — byte-for-byte
        what OffHeapBitSet.serialize does (native LE memory getLong +
        DataOutput BE writeLong)."""
        out = io.BytesIO()
        words = len(self.bits) // 8
        out.write(struct.pack(">ii", self.hash_count, words))
        for i in range(words):
            (w,) = struct.unpack_from("<Q", self.bits, i * 8)
            out.write(struct.pack(">Q", w))
        return out.getvalue()

    @classmethod
    def deserialize(cls, data: bytes) -> "_Bloom":
        hash_count, words = struct.unpack_from(">ii", data, 0)
        bf = cls.__new__(cls)
        bf.hash_count = hash_count
        bf.capacity = words * 64
        bits = bytearray(words * 8)
        for i in range(words):
            (w,) = struct.unpack_from(">Q", data, 8 + i * 8)
            struct.pack_into("<Q", bits, i * 8, w)
        bf.bits = bits
        return bf


# ---------------------------------------------------------------------------
# Partition cardinality estimator (Statistics.db COMPACTION component)
# ---------------------------------------------------------------------------

# MetadataCollector constructs `new HyperLogLogPlus(13, 25)` and feeds it
# murmur2-64 hashes of every partition key; CompactionMetadata serializes
# `int length + HyperLogLogPlus.getBytes()` (reference App.java:231-250
# reaches this via CQLSSTableWriter). getBytes() is the stream-lib v2
# layout: int32 -2 (negative = v2), unsigned-LEB128 varints p / sp /
# format ordinal, then for NORMAL format a varint byte count followed by
# the RegisterSet words as big-endian int32s (6 registers x 5 bits per
# 32-bit word, low bits first — stream-lib packs 6 per word, leaving the
# top 2 bits unused).

_HLLP_P = 13
_HLLP_SP = 25
_HLLP_M = 1 << _HLLP_P
_HLLP_REGS_PER_WORD = 6  # stream-lib RegisterSet packing
_HLLP_REG_BITS = 5


def _hllp_words(count: int) -> int:
    """stream-lib RegisterSet.getSizeForCount: count/6 words, +1 unless
    it already fell on a 32-word boundary (the library's exact quirky
    sizing — 8192 registers -> 1366 words, 8196 slots)."""
    bits = count // _HLLP_REGS_PER_WORD
    if bits == 0:
        return 1
    if bits % 32 == 0:
        return bits
    return bits + 1


def murmur2_64(data: bytes, seed: int = 0) -> int:
    """64-bit MurmurHash2 in Cassandra's Java dialect
    (MurmurHash.hash2_64, the hash MetadataCollector.addKey feeds the
    cardinality estimator): tail bytes are SIGN-EXTENDED when xored in
    (Java `(long) byte`), diverging from the unsigned-char C original —
    the same signed-byte dialect functions/cassandra.py pins for the
    token murmur3. Returns the hash as an unsigned 64-bit int."""
    m = 0xC6A4A7935BD1E995
    r = 47
    length = len(data)
    h = ((seed & 0xFFFFFFFF) ^ ((m * length) & _MASK64)) & _MASK64
    n_aligned = length & ~7
    for i in range(0, n_aligned, 8):
        (k,) = struct.unpack_from("<Q", data, i)
        k = (k * m) & _MASK64
        k ^= k >> r
        k = (k * m) & _MASK64
        h ^= k
        h = (h * m) & _MASK64
    rem = length & 7
    if rem:
        for j in range(rem):
            b = data[n_aligned + j]
            if b >= 0x80:
                b -= 0x100  # Java signed byte, sign-extends on the shift
            h ^= (b << (8 * j)) & _MASK64
        h = (h * m) & _MASK64
    h ^= h >> r
    h = (h * m) & _MASK64
    h ^= h >> r
    return h


class _HLLP:
    """HyperLogLogPlus(13, 25) in NORMAL (dense-register) format — the
    writer always serializes dense: stream-lib's Builder accepts either
    format and dense is the steady state for any sstable with more than
    a few thousand partitions; skipping the sparse upgrade path trades
    a few KB on tiny sstables for not reimplementing the sparse-encode
    delta codec. Registers are clamped to the 5-bit ceiling (31) — the
    same silent ceiling stream-lib's 5-bit RegisterSet imposes; with
    p=13 a rank above 31 occurs with probability 2^-31 per key."""

    def __init__(self) -> None:
        self.regs = bytearray(_HLLP_M)

    def offer_key(self, key: bytes) -> None:
        h = murmur2_64(key)
        idx = h >> (64 - _HLLP_P)
        w = ((h << _HLLP_P) & _MASK64) | (1 << (_HLLP_P - 1))
        rank = min(64 - w.bit_length() + 1, 31)
        if rank > self.regs[idx]:
            self.regs[idx] = rank

    @staticmethod
    def _varint(v: int) -> bytes:
        out = bytearray()
        while v & ~0x7F:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
        return bytes(out)

    def serialize(self) -> bytes:
        words = _hllp_words(_HLLP_M)
        packed = [0] * words
        for pos in range(_HLLP_M):
            word, shift = divmod(pos, _HLLP_REGS_PER_WORD)
            packed[word] |= self.regs[pos] << (shift * _HLLP_REG_BITS)
        out = io.BytesIO()
        out.write(struct.pack(">i", -2))  # stream-lib VERSION 2 flag
        out.write(self._varint(_HLLP_P))
        out.write(self._varint(_HLLP_SP))
        out.write(self._varint(0))  # Format.NORMAL ordinal
        out.write(self._varint(words * 4))
        out.write(struct.pack(f">{words}i", *packed))
        return out.getvalue()

    @classmethod
    def parse(cls, blob: bytes) -> "_HLLP":
        (version,) = struct.unpack_from(">i", blob, 0)
        if version != -2:
            raise ValueError(f"unsupported HyperLogLogPlus version {version}")
        off = 4

        def varint() -> int:
            nonlocal off
            v = shift = 0
            while True:
                b = blob[off]
                off += 1
                v |= (b & 0x7F) << shift
                if not b & 0x80:
                    return v
                shift += 7

        p, sp, fmt = varint(), varint(), varint()
        if p != _HLLP_P or fmt != 0:
            raise ValueError(f"unsupported HLL+ layout p={p} sp={sp} fmt={fmt}")
        nbytes = varint()
        words = nbytes // 4
        packed = struct.unpack_from(f">{words}i", blob, off)
        est = cls()
        for pos in range(_HLLP_M):
            word, shift = divmod(pos, _HLLP_REGS_PER_WORD)
            est.regs[pos] = (packed[word] >> (shift * _HLLP_REG_BITS)) & 0x1F
        return est

    def estimate(self) -> int:
        """Classic HLL estimate with small-range linear counting — an
        audit readout, not stream-lib's empirically-bias-corrected
        estimator (which interpolates baked-in bias tables); within a
        few percent of it everywhere a compaction heuristic cares."""
        import math

        m = _HLLP_M
        alpha = 0.7213 / (1 + 1.079 / m)
        s = 0.0
        zeros = 0
        for r in self.regs:
            s += 2.0 ** -r
            if r == 0:
                zeros += 1
        e = alpha * m * m / s
        if e <= 2.5 * m and zeros:
            return round(m * math.log(m / zeros))
        return round(e)


# ---------------------------------------------------------------------------
# Summary.db (IndexSummary + first/last key)
# ---------------------------------------------------------------------------

# SSTableReader.saveSummary layout: IndexSummary.serializer.serialize
# (big-endian DataOutput header: int minIndexInterval, int offsetCount,
# long offHeapSize, int samplingLevel, int sizeAtFullSampling — then
# the raw memory dump: per-entry int offsets followed by the entries,
# each entry being the key bytes + a long Index.db position), then
# writeWithLength(first key) + writeWithLength(last key). Two
# serializer quirks reproduced exactly: on-disk offsets are rebased to
# include the offsets region itself (entry start + 4*offsetCount) and
# byte-swapped to LITTLE-endian, while the entry position longs are
# dumped in native (little-endian) memory order untouched — the
# summary is explicitly non-portable metadata Cassandra regenerates on
# open when it fails validation.

SUMMARY_MIN_INDEX_INTERVAL = 128
BASE_SAMPLING_LEVEL = 128


def _summary_blob(keys: list[bytes], idx_offsets: list[int]) -> bytes:
    sampled = list(range(0, len(keys), SUMMARY_MIN_INDEX_INTERVAL))
    entries = io.BytesIO()
    starts: list[int] = []
    for i in sampled:
        starts.append(entries.tell())
        entries.write(keys[i])
        entries.write(struct.pack("<q", idx_offsets[i]))
    ent = entries.getvalue()
    base = 4 * len(sampled)
    out = io.BytesIO()
    out.write(
        struct.pack(
            ">iiqii",
            SUMMARY_MIN_INDEX_INTERVAL,
            len(sampled),
            base + len(ent),
            BASE_SAMPLING_LEVEL,
            len(sampled),
        )
    )
    for s in starts:
        out.write(struct.pack("<i", s + base))
    out.write(ent)
    out.write(struct.pack(">i", len(keys[0])) + keys[0])
    out.write(struct.pack(">i", len(keys[-1])) + keys[-1])
    return out.getvalue()


def _parse_summary(blob: bytes) -> dict:
    """Inverse of _summary_blob: header, sampled (key, Index.db
    position) entries, first/last keys."""
    min_interval, count, offheap, sampling, full = struct.unpack_from(
        ">iiqii", blob, 0
    )
    hdr = 24
    base = 4 * count
    starts = [
        struct.unpack_from("<i", blob, hdr + 4 * i)[0] - base for i in range(count)
    ]
    ent = blob[hdr + base : hdr + offheap]
    entries = []
    for j, s in enumerate(starts):
        e = starts[j + 1] if j + 1 < count else len(ent)
        entries.append((ent[s : e - 8], struct.unpack_from("<q", ent, e - 8)[0]))
    off = hdr + offheap
    (n1,) = struct.unpack_from(">i", blob, off)
    first = blob[off + 4 : off + 4 + n1]
    off += 4 + n1
    (n2,) = struct.unpack_from(">i", blob, off)
    last = blob[off + 4 : off + 4 + n2]
    return {
        "min_index_interval": min_interval,
        "sampling_level": sampling,
        "size_at_full_sampling": full,
        "entries": entries,
        "first_key": first,
        "last_key": last,
    }


# ---------------------------------------------------------------------------
# STATS metadata component (StatsMetadata, version "nb")
# ---------------------------------------------------------------------------

# Field order of StatsMetadata.serializer for the 4.0 "nb" version:
# partition-size EstimatedHistogram, cells-per-partition
# EstimatedHistogram, commit-log upper bound (NONE), min/max timestamp
# longs, min/max localDeletionTime ints, min/max TTL ints,
# compressionRatio double, TombstoneHistogram, sstableLevel int,
# repairedAt long, min/max clustering values (int count +
# writeWithShortLength each), hasLegacyCounterShards boolean,
# totalColumnsSet long, totalRows long, then the version-gated tail:
# commit-log lower bound (NONE), commit-log interval set (empty),
# pendingRepair presence byte (0), isTransient boolean (false),
# originatingHostId presence byte (0 — the field "nb" itself added).
# EstimatedHistogram serializer quirk reproduced exactly: buckets has
# one more slot than offsets and every pair re-writes
# offsets[max(i-1, 0)]. CAVEAT: this component is byte-validated only
# by this module's own reader — the sandbox cannot host a live
# Cassandra — so the writer manifest flags it best-effort rather than
# omitted.

_EH_N_OFFSETS = 90


def _eh_offsets(n: int = _EH_N_OFFSETS) -> list[int]:
    """EstimatedHistogram.newOffsets growth series, replicated with
    Java's exact semantics: ``next = Math.round(last * 1.2)`` (half-up
    via floor(x + 0.5) on IEEE doubles — Python floats ARE Java
    doubles) with ``if next == last: next++``. The previous
    ceil(prev*1.2) form diverged from Cassandra at the 7th offset
    (Java: ...,6,7,8,10,12,14,17 vs ceil: ...,6,8,10,12,15,18), so
    bucket boundaries never matched cassandra-all's writer."""
    import math

    out = [1]
    while len(out) < n:
        p = out[-1]
        nxt = math.floor(p * 1.2 + 0.5)
        if nxt == p:
            nxt += 1
        out.append(nxt)
    return out


def _eh_serialize(values: list[int]) -> bytes:
    offsets = _eh_offsets()
    buckets = [0] * (len(offsets) + 1)
    import bisect

    for v in values:
        buckets[bisect.bisect_left(offsets, v)] += 1
    out = io.BytesIO()
    out.write(struct.pack(">i", len(buckets)))
    for i, b in enumerate(buckets):
        out.write(struct.pack(">qq", offsets[max(i - 1, 0)], b))
    return out.getvalue()


def _eh_parse(blob: bytes, off: int) -> tuple[dict, int]:
    (n,) = struct.unpack_from(">i", blob, off)
    off += 4
    pairs = []
    for _ in range(n):
        o, b = struct.unpack_from(">qq", blob, off)
        off += 16
        pairs.append((o, b))
    count = sum(b for _o, b in pairs)
    return {"buckets": n, "count": count, "pairs": pairs}, off


def _stats_component(st: dict) -> bytes:
    """Serialize the STATS block from the close()-gathered dict:
    part_sizes, part_cells, min_ts, max_ts, compression_ratio,
    min_clustering, max_clustering (lists of raw serialized bytes),
    total_cells, total_rows."""
    out = io.BytesIO()
    out.write(_eh_serialize(st["part_sizes"]))
    out.write(_eh_serialize(st["part_cells"]))
    out.write(struct.pack(">qi", -1, 0))  # commit log upper bound NONE
    out.write(struct.pack(">qq", st["min_ts"], st["max_ts"]))
    out.write(struct.pack(">ii", NO_DELETION_TIME, NO_DELETION_TIME))
    out.write(struct.pack(">ii", 0, 0))  # min/max TTL: none expire
    out.write(struct.pack(">d", st["compression_ratio"]))
    out.write(struct.pack(">ii", 100, 0))  # empty TombstoneHistogram
    out.write(struct.pack(">i", 0))  # sstableLevel
    out.write(struct.pack(">q", 0))  # repairedAt: UNREPAIRED
    for side in ("min_clustering", "max_clustering"):
        vals = st[side]
        out.write(struct.pack(">i", len(vals)))
        for v in vals:
            out.write(struct.pack(">H", len(v)) + v)
    out.write(struct.pack(">?", False))  # hasLegacyCounterShards
    out.write(struct.pack(">qq", st["total_cells"], st["total_rows"]))
    out.write(struct.pack(">qi", -1, 0))  # commit log lower bound NONE
    out.write(struct.pack(">i", 0))  # empty commit-log interval set
    out.write(struct.pack(">b", 0))  # no pendingRepair
    out.write(struct.pack(">?", False))  # isTransient
    out.write(struct.pack(">b", 0))  # no originatingHostId
    return out.getvalue()


def _parse_stats_component(blob: bytes, off: int) -> dict:
    sizes, off = _eh_parse(blob, off)
    cells, off = _eh_parse(blob, off)
    off += 12  # commit log upper bound
    min_ts, max_ts = struct.unpack_from(">qq", blob, off)
    off += 16
    min_ldt, max_ldt, min_ttl, max_ttl = struct.unpack_from(">iiii", blob, off)
    off += 16
    (ratio,) = struct.unpack_from(">d", blob, off)
    off += 8
    _maxbin, nbins = struct.unpack_from(">ii", blob, off)
    off += 8 + nbins * 12
    (level,) = struct.unpack_from(">i", blob, off)
    off += 4
    (repaired,) = struct.unpack_from(">q", blob, off)
    off += 8
    clus = {}
    for side in ("min_clustering", "max_clustering"):
        (n,) = struct.unpack_from(">i", blob, off)
        off += 4
        vals = []
        for _ in range(n):
            (ln,) = struct.unpack_from(">H", blob, off)
            off += 2
            vals.append(blob[off : off + ln])
            off += ln
        clus[side] = vals
    (legacy,) = struct.unpack_from(">?", blob, off)
    off += 1
    total_cells, total_rows = struct.unpack_from(">qq", blob, off)
    return {
        "partition_size_histogram": sizes,
        "cells_histogram": cells,
        "min_timestamp_us": min_ts,
        "max_timestamp_us": max_ts,
        "min_local_deletion_time": min_ldt,
        "max_local_deletion_time": max_ldt,
        "min_ttl": min_ttl,
        "max_ttl": max_ttl,
        "compression_ratio": ratio,
        "sstable_level": level,
        "repaired_at": repaired,
        "total_cells": total_cells,
        "total_rows": total_rows,
        **clus,
    }


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------


class _LogicalDataSink:
    """Streams the LOGICAL Data.db byte stream to disk with bounded
    memory. ``tell()`` is the logical (uncompressed) offset — what
    Index.db stores. Plain mode writes raw bytes and keeps a crc32 per
    CHUNK_SIZE logical chunk (CRC.db); deflate mode zlib-compresses
    each ``chunk_length`` logical chunk as it fills and records the
    physical offset of each on-disk chunk (CompressionInfo.db). The
    running digest covers the file AS WRITTEN (compressed bytes when
    compression is on), byte-identical to hashing the final file."""

    def __init__(self, path: str, compression: str | None, chunk_length: int):
        self.compression = compression
        self.chunk = chunk_length if compression == "deflate" else CHUNK_SIZE
        self._buf = bytearray()
        self._logical = 0
        self._fh = open(path, "wb")
        self._digest = 0
        self.crcs: list[int] = []  # plain: crc32 per logical chunk
        self.offsets: list[int] = []  # deflate: physical chunk offsets
        self._disk = 0
        self._any_chunk = False

    def write(self, b: bytes) -> None:
        self._buf += b
        self._logical += len(b)
        while len(self._buf) >= self.chunk:
            self._flush_chunk(bytes(self._buf[: self.chunk]))
            del self._buf[: self.chunk]

    def tell(self) -> int:
        return self._logical

    def _flush_chunk(self, chunk_bytes: bytes) -> None:
        self._any_chunk = True
        if self.compression == "deflate":
            blob = zlib.compress(chunk_bytes)
            rec = blob + struct.pack(">I", zlib.crc32(blob))
            self.offsets.append(self._disk)
            self._fh.write(rec)
            self._digest = zlib.crc32(rec, self._digest)
            self._disk += len(rec)
        else:
            self.crcs.append(zlib.crc32(chunk_bytes))
            self._fh.write(chunk_bytes)
            self._digest = zlib.crc32(chunk_bytes, self._digest)
            self._disk += len(chunk_bytes)

    def finish(self) -> dict:
        # an empty logical stream still gets one (empty) chunk, matching
        # the buffered writer's range(0, max(len, 1), chunk) loop
        if self._buf or not self._any_chunk:
            self._flush_chunk(bytes(self._buf))
            self._buf.clear()
        self._fh.close()
        return {
            "logical_bytes": self._logical,
            "disk_bytes": self._disk,
            "digest": self._digest,
        }

    def abort(self) -> None:
        """Close and remove the partial data file after a failure."""
        try:
            self._fh.close()
        finally:
            try:
                os.remove(self._fh.name)
            except OSError:
                pass


class SSTableWriter:
    """Buffering BIG-format writer: ``add_row(dict)`` then ``close()``.
    Rows are sorted by (token, key bytes, clustering) at close — the
    DecoratedKey order Murmur3Partitioner gives CQLSSTableWriter — so
    callers may feed unsorted batches (CQLSSTableWriter's unsorted mode
    does exactly this buffer-then-sort). Rows carry one write
    timestamp (micros) unless ``add_row`` stamps them, matching the
    reference's batch-stamped ``toTimestamp(now())`` semantics
    (App.java INSERTs).

    The buffer holds at most ``_SPILL_THRESHOLD_ROWS`` rows: each time
    it fills, the rows are pre-sorted and spilled to a pickle run file
    under the output directory, and ``close()`` streams a k-way merge
    of the runs straight to disk — an external sort whose output is
    byte-identical to the in-memory path (the merge is stable across
    runs in spill order, as ``sorted`` is over insertion order)."""

    _SPILL_THRESHOLD_ROWS = 65536
    _MAX_MERGE_FAN_IN = 64
    _BLOOM_FP = 0.01

    def __init__(
        self,
        directory: str,
        schema: CqlTable,
        generation: int = 1,
        write_timestamp_us: int = 1700000000000000,
        compression: str | None = None,
        chunk_length: int = 16384,
    ):
        if compression not in (None, "deflate"):
            raise ValueError("compression must be None or 'deflate'")
        if chunk_length & (chunk_length - 1):
            raise ValueError("chunk_length must be a power of two")
        if write_timestamp_us < TIMESTAMP_EPOCH_US:
            # EncodingStats stores the delta from this epoch as an
            # UNSIGNED vint; a negative delta would wrap mod 2^64 and
            # read back as a garbage min_timestamp instead of failing.
            raise ValueError(
                f"write_timestamp_us {write_timestamp_us} predates the "
                f"EncodingStats epoch {TIMESTAMP_EPOCH_US} (2015-09-22); "
                "Cassandra's stats delta encoding cannot represent it"
            )
        self.dir = directory
        self.schema = schema
        self.gen = generation
        self.ts = write_timestamp_us
        self.compression = compression
        self.chunk_length = chunk_length
        self._rows: list[dict] = []
        self._runs: list[str] = []
        self._tmpdir: str | None = None
        # over the added rows' stamps; close() falls back to self.ts
        self._min_ts: int | None = None
        self._max_ts: int | None = None

    def add_row(self, row: dict, timestamp_us: int | None = None) -> None:
        """Buffer one row. ``timestamp_us`` optionally stamps THIS row
        (per-row write timestamps — what compaction needs to preserve
        last-write-wins across rounds); rows without one carry the
        writer's ``write_timestamp_us``. The format encodes each row's
        delta against the sstable-wide minimum (EncodingStats), which
        this writer tracks as rows arrive."""
        if timestamp_us is None:
            timestamp_us = self.ts
        else:
            if timestamp_us < TIMESTAMP_EPOCH_US:
                raise ValueError(
                    f"row timestamp {timestamp_us} predates the "
                    f"EncodingStats epoch {TIMESTAMP_EPOCH_US}"
                )
            row = dict(row)
            row[_ROW_TS_KEY] = timestamp_us
        if self._min_ts is None or timestamp_us < self._min_ts:
            self._min_ts = timestamp_us
        if self._max_ts is None or timestamp_us > self._max_ts:
            self._max_ts = timestamp_us
        self._rows.append(row)
        if len(self._rows) >= self._SPILL_THRESHOLD_ROWS:
            self._spill_run()

    def _spill_run(self) -> None:
        """Sort the buffered rows and spill them as one run file:
        sequential pickles of ``(sort_key, row)`` in DecoratedKey
        order. Run files live in a dot-prefixed tempdir under the
        output directory (same filesystem as the final components) and
        are deleted after the merge in ``close()``."""
        import pickle
        import tempfile

        if self._tmpdir is None:
            os.makedirs(self.dir, exist_ok=True)
            self._tmpdir = tempfile.mkdtemp(prefix=".sstable-spill-", dir=self.dir)
        path = os.path.join(self._tmpdir, f"run-{len(self._runs):06d}.pkl")
        batch = sorted(
            ((self._sort_key(r), r) for r in self._rows), key=lambda kr: kr[0]
        )
        with open(path, "wb") as fh:
            pickler = pickle.Pickler(fh, protocol=pickle.HIGHEST_PROTOCOL)
            for kr in batch:
                pickler.dump(kr)
        self._runs.append(path)
        self._rows = []

    def _cleanup_runs(self) -> None:
        if self._tmpdir is not None:
            import shutil

            shutil.rmtree(self._tmpdir, ignore_errors=True)
            self._tmpdir = None
            self._runs = []

    def _iter_decorated(self):
        """Yield ``(sort_key, row)`` in global DecoratedKey order:
        a plain in-memory sort when nothing spilled, else a stable
        k-way heap merge over the spilled runs plus the unspilled
        tail — one row per run in memory at a time. Open file
        descriptors are bounded: beyond ``_MAX_MERGE_FAN_IN`` runs,
        groups of runs are pre-merged into longer runs (stable:
        groups are consecutive in spill order) in extra passes, so a
        range of ANY size merges with at most 64 fds + 1 output —
        an unbounded ``heapq.merge`` over one-generator-per-run
        would hit the executor's ulimit at ~10^8 rows on the default
        threshold."""
        import heapq
        import pickle

        tail = sorted(
            ((self._sort_key(r), r) for r in self._rows), key=lambda kr: kr[0]
        )
        if not self._runs:
            yield from tail
            return

        def _run_iter(path):
            with open(path, "rb") as fh:
                unpickler = pickle.Unpickler(fh)
                while True:
                    try:
                        yield unpickler.load()
                    except EOFError:
                        return

        gen = 0
        while len(self._runs) > self._MAX_MERGE_FAN_IN:
            merged_runs = []
            for gi in range(0, len(self._runs), self._MAX_MERGE_FAN_IN):
                group = self._runs[gi : gi + self._MAX_MERGE_FAN_IN]
                out_path = os.path.join(
                    self._tmpdir, f"merge-{gen:03d}-{len(merged_runs):06d}.pkl"
                )
                with open(out_path, "wb") as fh:
                    pickler = pickle.Pickler(fh, protocol=pickle.HIGHEST_PROTOCOL)
                    for kr in heapq.merge(
                        *(_run_iter(p) for p in group), key=lambda kr: kr[0]
                    ):
                        pickler.dump(kr)
                for p in group:
                    os.remove(p)
                merged_runs.append(out_path)
            self._runs = merged_runs
            gen += 1

        streams = [_run_iter(p) for p in self._runs]
        streams.append(iter(tail))
        yield from heapq.merge(*streams, key=lambda kr: kr[0])

    # -- serialization pieces ------------------------------------------------

    def _clustering_blob(self, row: dict) -> bytes:
        """ClusteringPrefix.Serializer.serializeValuesWithoutSize: per
        32 columns one unsigned-vint header with 2 bits per column
        (bit 2i = empty value, bit 2i+1 = null), then each non-null
        non-empty value via writeValue."""
        s = self.schema
        out = io.BytesIO()
        cols = s.clustering
        for base in range(0, len(cols), 32):
            batch = cols[base : base + 32]
            header = 0
            raws: list[bytes | None] = []
            for i, c in enumerate(batch):
                v = row.get(c)
                if v is None:
                    header |= 1 << (i * 2 + 1)
                    raws.append(None)
                    continue
                raw = s.types[c].ser(v)
                if len(raw) == 0:
                    header |= 1 << (i * 2)
                raws.append(raw)
            out.write(encode_unsigned_vint(header))
            for c, raw in zip(batch, raws):
                if raw:
                    _write_value(s.types[c], raw, out)
        return out.getvalue()

    def _row_cells(self, row: dict) -> tuple[bytes, list[int]]:
        """Cells in regular-column order; returns (cells blob, present
        column indexes)."""
        s = self.schema
        out = io.BytesIO()
        present = []
        for i, c in enumerate(s.regular):
            v = row.get(c)
            if v is None:
                continue  # absent cell -> missing-columns bitmap
            present.append(i)
            raw = s.types[c].ser(v)
            flags = CELL_USE_ROW_TIMESTAMP
            if len(raw) == 0:
                flags |= CELL_HAS_EMPTY_VALUE
            out.write(bytes([flags]))
            if len(raw):
                _write_value(s.types[c], raw, out)
        return out.getvalue(), present

    def _missing_bitmap(self, present: list[int]) -> int:
        """Columns.Serializer.encodeBitmap: bit i set when superset
        column i is MISSING from the row (superset < 64 columns)."""
        n = len(self.schema.regular)
        if n >= 64:
            raise NotImplementedError("large column-set subset encoding")
        missing = set(range(n)) - set(present)
        bm = 0
        for i in missing:
            bm |= 1 << i
        return bm

    def _serialize_row(self, row: dict, prev_size: int) -> bytes:
        cells, present = self._row_cells(row)
        all_cols = len(present) == len(self.schema.regular)
        flags = HAS_TIMESTAMP | (HAS_ALL_COLUMNS if all_cols else 0)
        body = io.BytesIO()
        row_ts = row.get(_ROW_TS_KEY, self.ts)
        body.write(encode_unsigned_vint(row_ts - self._min_ts))  # delta vs minTimestamp
        if not all_cols:
            body.write(encode_unsigned_vint(self._missing_bitmap(present)))
        body.write(cells)
        b = body.getvalue()
        prev_vint = encode_unsigned_vint(prev_size)
        out = io.BytesIO()
        out.write(bytes([flags]))
        out.write(self._clustering_blob(row))
        # rowSize covers prevSize vint + body (UnfilteredSerializer)
        out.write(encode_unsigned_vint(len(b) + len(prev_vint)))
        out.write(prev_vint)
        out.write(b)
        return out.getvalue()

    @staticmethod
    def _comparable_bytes(t: _CqlType, raw: bytes) -> bytes:
        """Map a serialized value to bytes whose UNSIGNED lexicographic
        order equals the type's comparator order. Cassandra clustering
        comparators are type-aware: signed big-endian integers
        (Int32/Long/Timestamp) order correctly once the sign bit is
        flipped; doubles need the IEEE-754 total-order transform
        (negative values invert entirely); text/blob/inet/date/boolean
        already compare as raw unsigned bytes."""
        if t.marshal in ("Int32Type", "LongType", "TimestampType"):
            return bytes([raw[0] ^ 0x80]) + raw[1:]
        if t.marshal == "DoubleType":
            if raw[0] & 0x80:  # negative: invert all bits
                return bytes(b ^ 0xFF for b in raw)
            return bytes([raw[0] ^ 0x80]) + raw[1:]
        return raw

    def _sort_key(self, row: dict):
        s = self.schema
        key = s.serialize_partition_key(row)
        tok = cassandra_token_bytes(key)
        clus = []
        for c in s.clustering:
            v = row.get(c)
            # nulls sort first within a prefix level (None -> empty
            # sorts before every comparable encoding)
            clus.append(
                self._comparable_bytes(s.types[c], s.types[c].ser(v))
                if v is not None
                else b""
            )
        return (tok, key, *clus)

    # -- components ----------------------------------------------------------

    def _statistics_blob(self, keys: list[bytes], stats: dict) -> bytes:
        s = self.schema
        header = io.BytesIO()
        # EncodingStats: vint deltas against the public epochs
        header.write(encode_unsigned_vint(self._min_ts - TIMESTAMP_EPOCH_US))
        header.write(encode_unsigned_vint(NO_DELETION_TIME - DELETION_TIME_EPOCH_S))
        header.write(encode_unsigned_vint(0))  # minTTL - TTL_EPOCH
        header.write(_vint_len_str(s.key_type_name()))
        header.write(encode_unsigned_vint(len(s.clustering)))
        for c in s.clustering:
            header.write(_vint_len_str(_MARSHAL + s.types[c].marshal))
        header.write(encode_unsigned_vint(0))  # static columns
        header.write(encode_unsigned_vint(len(s.regular)))
        for c in s.regular:
            header.write(_vint_len_str(c))
            header.write(_vint_len_str(_MARSHAL + s.types[c].marshal))
        hdr = header.getvalue()

        val = io.BytesIO()
        pb = PARTITIONER.encode("utf-8")
        val.write(struct.pack(">H", len(pb)) + pb)  # writeUTF
        val.write(struct.pack(">d", self._BLOOM_FP))
        vl = val.getvalue()

        # COMPACTION (CompactionMetadata): int length + HyperLogLogPlus
        # bytes, registers fed with murmur2-64 of every partition key —
        # the partition-count estimate Cassandra's size-tiered strategy
        # reads when choosing merge candidates.
        hll = _HLLP()
        for k in keys:
            hll.offer_key(k)
        hb = hll.serialize()
        comp = struct.pack(">i", len(hb)) + hb

        # STATS (StatsMetadata): best-effort — see the section comment
        # above _stats_component for the caveat
        stats_blob = _stats_component(stats)

        # TOC: count + (ordinal, offset) pairs, offsets from file
        # start, components in ordinal order (VALIDATION, COMPACTION,
        # STATS, HEADER — the full metadata set)
        out = io.BytesIO()
        count = 4
        toc_size = 4 + count * 8
        out.write(struct.pack(">i", count))
        out.write(struct.pack(">ii", META_VALIDATION, toc_size))
        out.write(struct.pack(">ii", META_COMPACTION, toc_size + len(vl)))
        out.write(struct.pack(">ii", META_STATS, toc_size + len(vl) + len(comp)))
        out.write(
            struct.pack(
                ">ii",
                META_HEADER,
                toc_size + len(vl) + len(comp) + len(stats_blob),
            )
        )
        out.write(vl)
        out.write(comp)
        out.write(stats_blob)
        out.write(hdr)
        return out.getvalue()

    def close(self) -> dict:
        os.makedirs(self.dir, exist_ok=True)
        if self._min_ts is None:
            self._min_ts = self._max_ts = self.ts
        prefix = f"{VERSION}-{self.gen}-big-"

        # The data file streams to disk as the merged rows arrive
        # (compressed layout: CompressedSequentialWriter +
        # CompressionMetadata — the LOGICAL stream is chunked at
        # chunk_length uncompressed bytes; each on-disk chunk is the
        # zlib-deflated bytes followed by a 4-byte CRC32 of the
        # COMPRESSED bytes; Index.db positions stay UNCOMPRESSED
        # offsets, CompressionInfo.db's chunk-offset array is the
        # logical->physical map; DeflateCompressor's default zlib
        # framing is exactly python zlib, and checksums are inline so
        # there is no CRC.db). Held in memory: the index (O(partitions)),
        # the key list for the bloom filter (O(partitions)), and the
        # chunk offsets/crcs (8 bytes per chunk).
        sink = _LogicalDataSink(
            os.path.join(self.dir, prefix + "Data.db"),
            self.compression,
            self.chunk_length,
        )
        index = io.BytesIO()
        keys: list[bytes] = []
        tokens: list[int] = []
        idx_offsets: list[int] = []  # Index.db offset of each entry (summary)
        part_starts: list[int] = []  # Data.db logical start per partition
        part_cells: list[int] = []  # set (non-null regular) cells per part
        total_cells = 0
        cur_cells = 0
        s = self.schema
        # clustering min/max in COMPARATOR order (comparable-encoded
        # compare, raw serialized value stored — what StatsMetadata
        # wants); None clustering values are skipped
        clus_min: list[tuple[bytes, bytes] | None] = [None] * len(s.clustering)
        clus_max: list[tuple[bytes, bytes] | None] = [None] * len(s.clustering)
        n_rows = 0
        cur_key: bytes | None = None
        prev = 0
        try:
            # rows arrive in DecoratedKey order; partitions key-adjacent
            for sort_key, row in self._iter_decorated():
                tok, key = sort_key[0], sort_key[1]
                if key != cur_key:
                    if cur_key is not None:
                        sink.write(bytes([END_OF_PARTITION]))
                        part_cells.append(cur_cells)
                        cur_cells = 0
                    cur_key = key
                    pos = sink.tell()
                    part_starts.append(pos)
                    idx_offsets.append(index.tell())
                    index.write(struct.pack(">H", len(key)) + key)
                    index.write(encode_unsigned_vint(pos))
                    index.write(encode_unsigned_vint(0))  # no promoted index
                    keys.append(key)
                    tokens.append(tok)
                    sink.write(struct.pack(">H", len(key)) + key)
                    sink.write(
                        struct.pack(">iq", NO_DELETION_TIME, LIVE_MARKED_FOR_DELETE)
                    )
                    prev = 0
                cells = sum(1 for c in s.regular if row.get(c) is not None)
                cur_cells += cells
                total_cells += cells
                for ci, c in enumerate(s.clustering):
                    v = row.get(c)
                    if v is None:
                        continue
                    raw = s.types[c].ser(v)
                    cb = self._comparable_bytes(s.types[c], raw)
                    if clus_min[ci] is None or cb < clus_min[ci][0]:
                        clus_min[ci] = (cb, raw)
                    if clus_max[ci] is None or cb > clus_max[ci][0]:
                        clus_max[ci] = (cb, raw)
                blob = self._serialize_row(row, prev)
                sink.write(blob)
                prev = len(blob)
                n_rows += 1
            if cur_key is not None:
                sink.write(bytes([END_OF_PARTITION]))
                part_cells.append(cur_cells)
            meta = sink.finish()
        except BaseException:
            # a failed merge must not strand gigabytes of run pickles
            # and a truncated Data.db in the output directory (Spark's
            # task retry writes alongside whatever is left behind)
            sink.abort()
            self._cleanup_runs()
            raise
        self._cleanup_runs()

        bloom = _Bloom(len(keys), self._BLOOM_FP)
        for k in keys:
            bloom.add(k)

        part_sizes = [
            b - a
            for a, b in zip(part_starts, part_starts[1:] + [meta["logical_bytes"]])
        ]
        stats = {
            "part_sizes": part_sizes,
            "part_cells": part_cells,
            "min_ts": self._min_ts,
            "max_ts": self._max_ts,
            "compression_ratio": (
                meta["disk_bytes"] / meta["logical_bytes"]
                if self.compression == "deflate" and meta["logical_bytes"]
                else -1.0
            ),
            "min_clustering": [m[1] for m in clus_min if m is not None],
            "max_clustering": [m[1] for m in clus_max if m is not None],
            "total_cells": total_cells,
            "total_rows": n_rows,
        }

        if self.compression == "deflate":
            cinfo = io.BytesIO()
            name = b"DeflateCompressor"
            cinfo.write(struct.pack(">H", len(name)) + name)  # writeUTF
            cinfo.write(struct.pack(">i", 0))  # no compressor options
            cinfo.write(struct.pack(">i", self.chunk_length))
            cinfo.write(struct.pack(">q", meta["logical_bytes"]))
            cinfo.write(struct.pack(">i", len(sink.offsets)))
            for o in sink.offsets:
                cinfo.write(struct.pack(">q", o))

            components = {
                "Data.db": None,  # already streamed to disk
                "Index.db": index.getvalue(),
                "Filter.db": bloom.serialize(),
                "Summary.db": _summary_blob(keys, idx_offsets) if keys else None,
                "CompressionInfo.db": cinfo.getvalue(),
                "Statistics.db": self._statistics_blob(keys, stats),
                # digest covers the file as written (the compressed bytes)
                "Digest.crc32": str(meta["digest"]).encode("ascii"),
            }
        else:
            crc = io.BytesIO()
            crc.write(struct.pack(">i", CHUNK_SIZE))
            for c in sink.crcs:
                crc.write(struct.pack(">I", c))

            components = {
                "Data.db": None,  # already streamed to disk
                "Index.db": index.getvalue(),
                "Filter.db": bloom.serialize(),
                "Summary.db": _summary_blob(keys, idx_offsets) if keys else None,
                "Statistics.db": self._statistics_blob(keys, stats),
                "Digest.crc32": str(meta["digest"]).encode("ascii"),
                "CRC.db": crc.getvalue(),
            }
        # an empty sstable has no keys to summarize: drop the component
        # rather than listing a file in the TOC that is never written
        if components.get("Summary.db") is None:
            components.pop("Summary.db", None)
        toc = "\n".join([*components.keys(), "TOC.txt"]) + "\n"
        components["TOC.txt"] = toc.encode("ascii")
        for name, blob in components.items():
            if blob is None:
                continue
            with open(os.path.join(self.dir, prefix + name), "wb") as fh:
                fh.write(blob)
        return {
            "prefix": prefix[:-1],
            "dir": self.dir,
            "partitions": len(keys),
            "rows": n_rows,
            "data_bytes": meta["logical_bytes"],  # logical (uncompressed) size
            "disk_bytes": meta["disk_bytes"],
            "compression": self.compression,
            "min_token": tokens[0] if tokens else None,
            "max_token": tokens[-1] if tokens else None,
            "components": sorted(components),
            "omitted_metadata": [],
            # STATS is emitted in full; what's pinned to PUBLIC vectors
            # vs validated only by this module's independent reader is
            # now named field-by-field (no live Cassandra in the
            # sandbox to consume one). Pinned externally: the
            # EstimatedHistogram offset series (Cassandra's newOffsets
            # values, test-pinned against the published 1,2,...,8,10,
            # 12,14,17,... sequence) and the Murmur3 token placement
            # (public test vectors). Round-trip-only, listed here:
            # byte layouts FROZEN by golden vectors (tests/
            # test_sstable_format.test_stats_best_effort_fields_frozen_
            # bytes): drift fails loudly instead of silently changing
            # what an eventual external validation would consume
            "best_effort_metadata": [
                "STATS.commitLogIntervals",  # NONE bounds + empty set layout
                "STATS.tombstoneHistogram",  # empty streaming-histogram form (100, 0)
                "STATS.clusteringBounds",    # >H-length raw value encoding
                "STATS.presenceBytes",       # pendingRepair/isTransient/hostId
            ],
        }


# ---------------------------------------------------------------------------
# Reader (independent: types come from Statistics.db, not the writer)
# ---------------------------------------------------------------------------


def _read_vint_str(data: bytes, off: int) -> tuple[str, int]:
    n, off = decode_unsigned_vint(data, off)
    return data[off : off + n].decode("utf-8"), off + n


def _parse_statistics(blob: bytes) -> dict:
    count = struct.unpack_from(">i", blob, 0)[0]
    toc = {}
    for i in range(count):
        ordinal, offset = struct.unpack_from(">ii", blob, 4 + i * 8)
        toc[ordinal] = offset
    out: dict = {"toc": toc}
    if META_VALIDATION in toc:
        off = toc[META_VALIDATION]
        (n,) = struct.unpack_from(">H", blob, off)
        out["partitioner"] = blob[off + 2 : off + 2 + n].decode("utf-8")
        (out["bloom_fp"],) = struct.unpack_from(">d", blob, off + 2 + n)
    if META_COMPACTION in toc:
        off = toc[META_COMPACTION]
        (n,) = struct.unpack_from(">i", blob, off)
        out["partition_count_estimate"] = _HLLP.parse(
            blob[off + 4 : off + 4 + n]
        ).estimate()
    if META_STATS in toc:
        out["stats_metadata"] = _parse_stats_component(blob, toc[META_STATS])
    if META_HEADER in toc:
        off = toc[META_HEADER]
        min_ts, off = decode_unsigned_vint(blob, off)
        min_ldt, off = decode_unsigned_vint(blob, off)
        min_ttl, off = decode_unsigned_vint(blob, off)
        out["min_timestamp_us"] = min_ts + TIMESTAMP_EPOCH_US
        out["min_local_deletion_time"] = min_ldt + DELETION_TIME_EPOCH_S
        out["min_ttl"] = min_ttl
        key_type, off = _read_vint_str(blob, off)
        out["key_type"] = key_type
        n_clus, off = decode_unsigned_vint(blob, off)
        clus = []
        for _ in range(n_clus):
            t, off = _read_vint_str(blob, off)
            clus.append(t)
        out["clustering_types"] = clus
        n_static, off = decode_unsigned_vint(blob, off)
        if n_static:
            raise NotImplementedError("static columns")
        n_reg, off = decode_unsigned_vint(blob, off)
        regs = []
        for _ in range(n_reg):
            name, off = _read_vint_str(blob, off)
            t, off = _read_vint_str(blob, off)
            regs.append((name, t))
        out["regular_columns"] = regs
    return out


def _marshal_to_type(fqcn: str) -> _CqlType:
    suffix = fqcn.rsplit(".", 1)[-1]
    if suffix not in _BY_MARSHAL:
        raise ValueError(f"unknown marshal type {fqcn}")
    return _BY_MARSHAL[suffix]


def _split_key(key: bytes, key_type: str) -> list[bytes]:
    """Invert serialize_key: composite keys are u16 len + bytes + 0x00
    per component (CompositeType)."""
    if not key_type.endswith(")"):
        return [key]
    comps = []
    off = 0
    while off < len(key):
        (n,) = struct.unpack_from(">H", key, off)
        comps.append(key[off + 2 : off + 2 + n])
        off += 2 + n + 1
    return comps


def _key_component_types(key_type: str) -> list[_CqlType]:
    """Marshal types of the partition-key components from the
    Statistics.db key-type name (CompositeType(...) or a single type)."""
    if key_type.endswith(")"):
        inner = key_type[key_type.index("(") + 1 : -1]
        return [_marshal_to_type(t.strip()) for t in inner.split(",")]
    return [_marshal_to_type(key_type)]


def _parse_compression_info(blob: bytes) -> dict:
    """CompressionInfo.db (``CompressionMetadata``): compressor name,
    options (skipped), chunk length, logical data length, then the
    on-disk offset of every chunk."""
    (nlen,) = struct.unpack_from(">H", blob, 0)
    cname = blob[2 : 2 + nlen].decode("utf-8")
    if cname != "DeflateCompressor":
        raise NotImplementedError(f"compressor {cname}")
    o = 2 + nlen
    (n_opts,) = struct.unpack_from(">i", blob, o)
    o += 4
    for _ in range(2 * n_opts):  # key, value writeUTF pairs
        (sl,) = struct.unpack_from(">H", blob, o)
        o += 2 + sl
    chunk_len, data_len, n_chunks = struct.unpack_from(">iqi", blob, o)
    return {
        "compressor": cname,
        "chunk_length": chunk_len,
        "data_length": data_len,
        "offsets": list(struct.unpack_from(f">{n_chunks}q", blob, o + 16)),
    }


class SSTableReader:
    """One sstable, opened once — the only code that reads the on-disk
    layout (Cassandra's open-once ``SSTableReader`` in miniature).
    Opening resolves the prefix (the directory's only ``-TOC.txt`` when
    none is given) and parses Statistics.db — column types come from
    its HEADER component, not from the writer's in-memory schema — and
    CompressionInfo.db; Filter.db and Index.db are parsed on first use.

    - ``partitions()`` streams every partition in (token, key) file
      order. It holds the (decompressed) Data.db bytes while iterating
      but never more than one parsed partition, so peak Python-object
      memory is one partition, not the range (parsed rows cost ~10-20x
      their serialized bytes) — the shape compaction's heap merge
      consumes.
    - ``get(key_components)`` is the point read, Cassandra's read path
      in miniature: bloom filter (a miss reads no Data.db bytes),
      Index.db bisect on (token, key) DecoratedKey order hashing
      O(log n) keys, then exactly the partition's bytes.
    - ``verify(partitions)`` cross-checks a full parse against
      Index.db, Summary.db, the digest, the CRCs and the bloom filter.
    """

    def __init__(self, directory: str, prefix: str | None = None):
        if prefix is None:
            tocs = [f for f in os.listdir(directory) if f.endswith("-TOC.txt")]
            if len(tocs) != 1:
                raise ValueError(f"expected one sstable in {directory}, found {tocs}")
            prefix = tocs[0][: -len("-TOC.txt")]
        self.directory = directory
        self.prefix = prefix
        self.stats = _parse_statistics(self._read("Statistics.db"))
        self.key_types = _key_component_types(self.stats["key_type"])
        self._clus = [_marshal_to_type(t) for t in self.stats["clustering_types"]]
        self._reg = [(n, _marshal_to_type(t)) for n, t in self.stats["regular_columns"]]
        self.compression = (
            _parse_compression_info(self._read("CompressionInfo.db"))
            if os.path.exists(self._path("CompressionInfo.db"))
            else None
        )

    def _path(self, component: str) -> str:
        return os.path.join(self.directory, f"{self.prefix}-{component}")

    def _read(self, component: str, start: int = 0, length: int = -1) -> bytes:
        with open(self._path(component), "rb") as fh:
            fh.seek(start)
            return fh.read(length)

    @cached_property
    def _bloom(self) -> _Bloom:
        return _Bloom.deserialize(self._read("Filter.db"))

    @cached_property
    def _index(self) -> list[tuple[bytes, int, int]]:
        """(key, Data.db position, Index.db offset) per partition, in
        file order — the one Index.db walk."""
        idx = self._read("Index.db")
        entries = []
        off = 0
        while off < len(idx):
            (n,) = struct.unpack_from(">H", idx, off)
            key = idx[off + 2 : off + 2 + n]
            pos, nxt = decode_unsigned_vint(idx, off + 2 + n)
            _promoted, nxt = decode_unsigned_vint(idx, nxt)
            entries.append((key, pos, off))
            off = nxt
        return entries

    def _inflate(self, raw: bytes, first: int, last: int) -> bytes:
        """Logical bytes of chunks [first, last). ``raw`` is Data.db from
        chunk ``first``'s offset on; each chunk is its deflate bytes
        followed by a 4-byte CRC32."""
        offs = self.compression["offsets"]
        bounds = [o - offs[first] for o in offs[first:last]] + [
            offs[last] - offs[first] if last < len(offs) else len(raw)
        ]
        return b"".join(
            zlib.decompress(raw[s : e - 4]) for s, e in zip(bounds, bounds[1:])
        )

    def _parse(self, data: bytes, off: int) -> tuple[dict, int]:
        """Parse ONE partition (u16 key + DeletionTime + unfiltereds until
        END_OF_PARTITION) starting at ``off``; returns (partition, next
        offset). Input that ends mid-partition raises IndexError or
        struct.error."""
        clus_types, reg = self._clus, self._reg
        min_ts = self.stats["min_timestamp_us"]
        (klen,) = struct.unpack_from(">H", data, off)
        start = off
        off += 2
        key = data[off : off + klen]
        off += klen
        ldt, marked = struct.unpack_from(">iq", data, off)
        off += 12
        rows = []
        while True:
            flags = data[off]
            off += 1
            if flags & END_OF_PARTITION:
                break
            if flags & (
                IS_MARKER | EXTENSION_FLAG | HAS_DELETION | HAS_TTL | HAS_COMPLEX_DELETION
            ):
                raise NotImplementedError(f"flags 0x{flags:02x}")
            # clustering
            clustering = []
            ci = 0
            while ci < len(clus_types):
                batch = clus_types[ci : ci + 32]
                header, off = decode_unsigned_vint(data, off)
                for i, t in enumerate(batch):
                    if header & (1 << (i * 2 + 1)):
                        clustering.append(None)
                    elif header & (1 << (i * 2)):
                        clustering.append(t.deser(b"") if t.fixed_len is None else None)
                    else:
                        raw, off = _read_value(t, data, off)
                        clustering.append(t.deser(raw))
                ci += 32
            row_size, off = decode_unsigned_vint(data, off)
            _prev_size, off = decode_unsigned_vint(data, off)
            ts_delta = 0
            if flags & HAS_TIMESTAMP:
                ts_delta, off = decode_unsigned_vint(data, off)
            present = list(range(len(reg)))
            if not flags & HAS_ALL_COLUMNS:
                bitmap, off = decode_unsigned_vint(data, off)
                present = [i for i in range(len(reg)) if not bitmap & (1 << i)]
            cells = {}
            for i in present:
                name, t = reg[i]
                cflags = data[off]
                off += 1
                if cflags & (CELL_IS_DELETED | CELL_IS_EXPIRING | CELL_USE_ROW_TTL):
                    # tombstone and TTL cells: unless USE_ROW_TTL, their
                    # localDeletionTime (and TTL) vints follow the flags,
                    # and this reader models neither; reading on would
                    # run out of step
                    raise NotImplementedError(
                        f"cell flags 0x{cflags:02x} (column {name!r})"
                    )
                if not cflags & CELL_USE_ROW_TIMESTAMP:
                    _, off = decode_unsigned_vint(data, off)
                if cflags & CELL_HAS_EMPTY_VALUE:
                    cells[name] = t.deser(b"") if t.fixed_len is None else None
                else:
                    raw, off = _read_value(t, data, off)
                    cells[name] = t.deser(raw)
            rows.append(
                {
                    "clustering": clustering,
                    "cells": cells,
                    "timestamp_us": min_ts + (ts_delta if flags & HAS_TIMESTAMP else 0),
                }
            )
        partition = {
            "key": key,
            "key_components": _split_key(key, self.stats["key_type"]),
            "token": cassandra_token_bytes(key),
            "start": start,
            "live": ldt == NO_DELETION_TIME and marked == LIVE_MARKED_FOR_DELETE,
            "rows": rows,
        }
        return partition, off

    def partitions(self):
        """Every partition, in (token, key) file order, one at a time."""
        data = self._read("Data.db")
        if self.compression is not None:
            data = self._inflate(data, 0, len(self.compression["offsets"]))
            if len(data) != self.compression["data_length"]:
                raise ValueError(
                    f"decompressed {len(data)} != declared "
                    f"{self.compression['data_length']}"
                )
        off = 0
        while off < len(data):
            part, off = self._parse(data, off)
            yield part

    def get(self, key_components: list) -> dict | None:
        """The partition with these key values (python values matching
        the key column types, e.g. ``["example.com", 4]`` for a (text,
        int) composite key), or None when absent. Reads exactly
        [position, next entry's position) of Data.db — up to the logical
        data length for the last partition — and, when compressed,
        inflates only the chunks spanning it. A partition that does not
        parse to exactly that window raises ValueError naming the
        sstable."""
        if len(key_components) != len(self.key_types):
            raise ValueError(
                f"{len(key_components)} key components for "
                f"{len(self.key_types)}-part key"
            )
        key = serialize_key(
            *(t.ser(v) for t, v in zip(self.key_types, key_components))
        )
        if not self._bloom.might_contain(key):
            return None
        entries = self._index
        i = bisect.bisect_left(
            entries,
            (cassandra_token_bytes(key), key),
            key=lambda e: (cassandra_token_bytes(e[0]), e[0]),
        )
        if i == len(entries) or entries[i][0] != key:
            return None  # bloom false positive
        if self.compression is not None:
            data_len = self.compression["data_length"]
        else:
            data_len = os.path.getsize(self._path("Data.db"))
        pos = entries[i][1]
        stop = entries[i + 1][1] if i + 1 < len(entries) else data_len
        if not 0 <= pos < stop <= data_len:
            raise ValueError(
                f"{self._path('Index.db')}: entry {i} spans [{pos}, {stop}), "
                f"outside Data.db's {data_len} bytes"
            )
        if self.compression is None:
            window = self._read("Data.db", pos, stop - pos)
        else:
            cl = self.compression["chunk_length"]
            offs = self.compression["offsets"]
            first, last = pos // cl, -(-stop // cl)
            length = offs[last] - offs[first] if last < len(offs) else -1
            raw = self._read("Data.db", offs[first], length)
            window = self._inflate(raw, first, last)[pos - first * cl : stop - first * cl]
        try:
            part, end = self._parse(window, 0)
            if end != len(window) or part["key"] != key:
                raise ValueError("parse does not end at the next index entry")
        except (IndexError, struct.error, ValueError) as e:
            raise ValueError(
                f"{self._path('Data.db')}: partition at [{pos}, {stop}) is corrupt: {e}"
            ) from e
        part["start"] = pos
        return part

    def _crc_ok(self, raw: bytes) -> bool:
        """CRC.db's per-chunk CRC32s, or for compressed tables each
        chunk's inline CRC32, all match ``raw`` (Data.db as written)."""
        if self.compression is None:
            crc = self._read("CRC.db")
            (chunk,) = struct.unpack_from(">i", crc, 0)
            return all(
                struct.unpack_from(">I", crc, 4 + i * 4)[0]
                == zlib.crc32(raw[o : o + chunk])
                for i, o in enumerate(range(0, max(len(raw), 1), chunk))
            )
        offs = self.compression["offsets"]
        return all(
            struct.unpack_from(">I", raw, e - 4)[0] == zlib.crc32(raw[s : e - 4])
            for s, e in zip(offs, offs[1:] + [len(raw)])
        )

    def verify(self, partitions: list[dict]) -> dict:
        """Integrity flags for ``partitions``, this sstable's full parse:
        ``index_ok`` (Index.db names every partition at its real start),
        ``summary_ok`` (only when Summary.db exists: every sampled entry
        names the Index.db key at its stride and that entry's offset,
        and first/last keys match), ``digest_ok`` (Digest.crc32 over the
        file as written — the compressed bytes when compression is on),
        ``crc_ok``, ``bloom_all_present``, and ``ok``: all of them."""
        raw = self._read("Data.db")
        entries = self._index
        out = {
            "index_ok": [(p["key"], p["start"]) for p in partitions]
            == [(k, pos) for k, pos, _ in entries],
            "digest_ok": self._read("Digest.crc32").decode("ascii")
            == str(zlib.crc32(raw)),
            "crc_ok": self._crc_ok(raw),
            "bloom_all_present": all(
                self._bloom.might_contain(p["key"]) for p in partitions
            ),
        }
        if entries and os.path.exists(self._path("Summary.db")):
            summ = _parse_summary(self._read("Summary.db"))
            stride = summ["min_index_interval"]
            out["summary_ok"] = (
                summ["entries"] == [(k, ioff) for k, _, ioff in entries[::stride]]
                and summ["first_key"] == entries[0][0]
                and summ["last_key"] == entries[-1][0]
            )
        out["ok"] = all(out.values())
        return out


def read_sstable(directory: str, prefix: str | None = None, verify: bool = True) -> dict:
    """Parse a whole BIG-format sstable (``SSTableReader.partitions``)
    and, with ``verify``, add ``SSTableReader.verify``'s flags. Returns
    ``{stats, prefix, compression, partitions: [{key, key_components,
    token, start, live, rows: [{clustering, cells, timestamp_us}]}],
    index_ok, summary_ok, digest_ok, crc_ok, bloom_all_present, ok}``."""
    r = SSTableReader(directory, prefix)
    partitions = list(r.partitions())
    out = {
        "stats": r.stats,
        "partitions": partitions,
        "prefix": r.prefix,
        "compression": None,
    }
    if verify:
        out.update(r.verify(partitions))
    if r.compression is not None:
        out["compression"] = {
            "compressor": r.compression["compressor"],
            "chunk_length": r.compression["chunk_length"],
            "n_chunks": len(r.compression["offsets"]),
            "chunk_crcs_ok": out["crc_ok"] if verify else r._crc_ok(r._read("Data.db")),
        }
    return out


def point_lookup(
    directory: str, key_components: list, prefix: str | None = None
) -> dict | None:
    """Q4-style single-partition read without scanning Data.db
    (``SSTableReader.get``): bloom filter, Index.db bisect, then exactly
    one partition's bytes. Returns the partition dict or None when
    absent."""
    return SSTableReader(directory, prefix).get(key_components)


def sstable_prefixes(directory: str) -> list[str]:
    """The prefix of every sstable in ``directory`` (one per
    ``-TOC.txt``, the component the writer publishes last), in
    generation order — the authority order compaction merges them in."""
    return sorted(
        (f[: -len("-TOC.txt")] for f in os.listdir(directory) if f.endswith("-TOC.txt")),
        key=lambda p: int(p.split("-")[1]),
    )


def compact_sstables(
    directory: str,
    out_dir: str,
    keyspace: str,
    table: str,
    partition_key: list[str],
    clustering: list[str] | None = None,
) -> dict:
    """Size-tiered-style compaction: merge EVERY sstable generation in
    ``directory`` into one new sstable in ``out_dir``. Conflicting rows
    (same partition key + clustering) resolve row-level
    last-write-wins by (write timestamp, generation) — the same
    outcome Cassandra's cell-timestamp reconciliation gives for this
    writer's rows, which carry one timestamp per row. Winning rows
    KEEP their own write timestamps in the output (per-row
    EncodingStats deltas), so later compaction rounds keep resolving
    correctly; the generation is max(input)+1.

    Like the reader it builds on, this is a per-range local operation:
    distribute by running it once per range directory (one task per
    range — the layout ``write_sstables`` produces; for bulk-load
    waves under ``batch_id=*`` use ``sinks.ring.compact_stream_batches``).
    Column names for the key/clustering come from the caller (sstables
    do not store them); types come from each sstable's own
    Statistics.db. Returns the new sstable's close() manifest plus
    ``inputs`` (count) and ``rows_dropped`` (overwritten by LWW)."""
    prefixes = sstable_prefixes(directory)
    if not prefixes:
        raise ValueError(f"no sstables in {directory}")
    return compact_sstable_inputs(
        [(directory, p) for p in prefixes],
        out_dir,
        keyspace=keyspace,
        table=table,
        partition_key=partition_key,
        clustering=clustering,
    )


def compact_sstable_inputs(
    inputs: list[tuple[str, str]],
    out_dir: str,
    keyspace: str,
    table: str,
    partition_key: list[str],
    clustering: list[str] | None = None,
) -> dict:
    """Merge an explicit list of ``(directory, prefix)`` sstables (in
    ascending authority order — later inputs win timestamp ties, the
    way a higher generation or a later batch wave should) into one new
    sstable. The in-directory ``compact_sstables`` and the per-range
    bulk-load-wave ``sinks.ring.compact_stream_batches`` both delegate
    here.

    Winning rows keep their OWN write timestamps in the output (per-row
    EncodingStats deltas), so a later compaction round still resolves
    last-write-wins correctly — a promoted/re-stamped output would let
    stale values beat genuinely newer intermediate writes. All inputs
    must share one schema (key/clustering types and the regular-column
    set); a schema-evolved input raises instead of silently dropping
    its extra columns.

    Memory: a STREAMING heap-merge — each input's partitions arrive in
    (token, key) order, so same-key partitions from every input
    co-locate under ``heapq.merge`` and reconciliation is per
    PARTITION, never per range; winners stream straight into the
    output writer, which external-sorts past its spill threshold.
    Peak Python-object memory is one partition x n_inputs + the
    writer's spill buffer (each input's decompressed byte blob is held
    for its iteration — bytes, not the ~10-20x dict expansion of
    parsed rows)."""
    import heapq

    clustering = list(clustering or [])
    if not inputs:
        raise ValueError("no sstables to compact")
    max_gen = max(int(p.split("-")[1]) for _d, p in inputs)

    # schema pass: opening a reader parses only Statistics.db and
    # CompressionInfo.db (KBs per input), validated equal
    readers = [SSTableReader(d, p) for d, p in inputs]
    first = readers[0].stats
    key_ts = readers[0].key_types
    clus_cqls = [_marshal_to_type(m).cql for m in first["clustering_types"]]
    reg = [(n, _marshal_to_type(m).cql) for n, m in first["regular_columns"]]
    if len(partition_key) != len(key_ts) or len(clustering) != len(clus_cqls):
        raise ValueError(
            f"{inputs[0][1]}: key/clustering arity mismatch with caller schema"
        )
    for (d_, p_), m in zip(inputs[1:], (r.stats for r in readers[1:])):
        if (
            m["key_type"] != first["key_type"]
            or m["clustering_types"] != first["clustering_types"]
        ):
            raise ValueError(f"{p_}: key/clustering types differ across inputs")
        if m["regular_columns"] != first["regular_columns"]:
            got_reg = [
                (n, _marshal_to_type(t).cql) for n, t in m["regular_columns"]
            ]
            raise ValueError(
                f"{p_}: regular-column set {got_reg} differs from the "
                f"first input's {reg}; compaction across schema "
                "evolution is not supported (columns would be dropped "
                "silently)"
            )
    schema_cols = (
        [(n, t.cql) for n, t in zip(partition_key, key_ts)]
        + list(zip(clustering, clus_cqls))
        + reg
    )
    reg_names = [n for n, _c in reg]

    writer = SSTableWriter(
        out_dir,
        CqlTable(
            keyspace=keyspace,
            table=table,
            columns=schema_cols,
            partition_key=partition_key,
            clustering=clustering,
        ),
        generation=max_gen + 1,
    )

    def keyed(idx, reader):
        for part in reader.partitions():
            yield (part["token"], part["key"], idx, part)

    streams = [keyed(i, r) for i, r in enumerate(readers)]
    # heapq.merge is stable for equal keys, so within one (token, key)
    # group parts arrive in input (authority) order
    ordered = heapq.merge(*streams, key=lambda t: (t[0], t[1]))

    total_in = 0
    written = 0
    group_key = None
    group: list[tuple[int, dict]] = []

    def flush() -> None:
        nonlocal written
        if not group:
            return
        best: dict = {}
        for idx, part in group:
            keyvals = tuple(
                t.deser(b) for t, b in zip(key_ts, part["key_components"])
            )
            for r in part["rows"]:
                clusvals = tuple(r["clustering"])
                row = dict(zip(partition_key, keyvals))
                row.update(zip(clustering, clusvals))
                for n in reg_names:
                    row[n] = r["cells"].get(n)
                stamp = (r["timestamp_us"], idx)
                if clusvals not in best or stamp > best[clusvals][0]:
                    best[clusvals] = (stamp, row)
        for stamp, row in best.values():
            writer.add_row(
                {k: v for k, v in row.items() if v is not None},
                timestamp_us=stamp[0],
            )
            written += 1

    for tok, key, idx, part in ordered:
        total_in += len(part["rows"])
        if group_key != (tok, key):
            flush()
            group_key = (tok, key)
            group = []
        group.append((idx, part))
    flush()

    manifest = writer.close()
    manifest["inputs"] = len(inputs)
    manifest["rows_dropped"] = total_in - written
    return manifest

