"""BIG-format SSTable writer round-trip: vint golden vectors, golden
header bytes from the public format layout, token-order and index/
digest/bloom cross-checks, and all three reference table shapes
(App.java:113-205 schemas)."""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sstable_migrator_spark.functions.cassandra import (
    cassandra_token,
    serialize_key,
)
from sstable_migrator_spark.sinks.sstable_format import (
    CqlTable,
    SSTableWriter,
    decode_signed_vint,
    decode_unsigned_vint,
    encode_signed_vint,
    encode_unsigned_vint,
    read_sstable,
)


# ---------------------------------------------------------------------------
# vint codec
# ---------------------------------------------------------------------------


def test_unsigned_vint_golden_vectors():
    """Golden encodings of VIntCoding: leading-ones prefix = number of
    extra bytes."""
    assert encode_unsigned_vint(0) == b"\x00"
    assert encode_unsigned_vint(127) == b"\x7f"
    assert encode_unsigned_vint(128) == b"\x80\x80"
    assert encode_unsigned_vint(0x3FFF) == b"\xbf\xff"
    assert encode_unsigned_vint(0x4000) == b"\xc0\x40\x00"
    # 9-byte form: full 64-bit value, first byte 0xff
    assert encode_unsigned_vint((1 << 64) - 1) == b"\xff" + b"\xff" * 8
    assert len(encode_unsigned_vint(1 << 62)) == 9


@pytest.mark.parametrize(
    "v", [0, 1, 127, 128, 255, 256, 16383, 16384, 2**31, 2**56 - 1, 2**63, 2**64 - 1]
)
def test_unsigned_vint_roundtrip(v):
    enc = encode_unsigned_vint(v)
    got, off = decode_unsigned_vint(enc)
    assert got == v and off == len(enc)


@pytest.mark.parametrize("v", [0, -1, 1, -2, 63, -64, 64, -65, 2**40, -(2**40), 2**62])
def test_signed_vint_zigzag_roundtrip(v):
    enc = encode_signed_vint(v)
    got, off = decode_signed_vint(enc)
    assert got == v and off == len(enc)


def test_signed_vint_zigzag_golden():
    # zigzag: 0->0, -1->1, 1->2, -2->3
    assert encode_signed_vint(0) == b"\x00"
    assert encode_signed_vint(-1) == b"\x01"
    assert encode_signed_vint(1) == b"\x02"
    assert encode_signed_vint(-2) == b"\x03"


# ---------------------------------------------------------------------------
# golden header bytes
# ---------------------------------------------------------------------------


def _tiny_table():
    return CqlTable(
        keyspace="ks",
        table="t",
        columns=[("k", "varchar"), ("v", "varchar")],
        partition_key=["k"],
        clustering=[],
    )


def test_data_db_golden_bytes(tmp_path):
    """One-partition one-row sstable, checked byte by byte against the
    public layout: u16 key length + key, live partition DeletionTime
    (int 0x7FFFFFFF local, long Long.MIN_VALUE markedForDeleteAt), row
    flags HAS_TIMESTAMP|HAS_ALL_COLUMNS, row size + prev size vints,
    timestamp delta 0, one cell with USE_ROW_TIMESTAMP and a
    vint-length value, END_OF_PARTITION."""
    w = SSTableWriter(str(tmp_path), _tiny_table(), generation=7)
    w.add_row({"k": "key1", "v": "ab"})
    manifest = w.close()
    assert manifest["prefix"] == "nb-7-big"
    data = (tmp_path / "nb-7-big-Data.db").read_bytes()
    expect = (
        b"\x00\x04key1"                      # u16 len + key
        + b"\x7f\xff\xff\xff"                 # localDeletionTime MAX_INT
        + b"\x80\x00\x00\x00\x00\x00\x00\x00"  # markedForDeleteAt MIN_LONG
        + bytes([0x04 | 0x20])                # HAS_TIMESTAMP | HAS_ALL_COLUMNS
        # no clustering; rowSize = body(1 ts + 1 cellflag + 1 len + 2 val) + prev vint(1) = 6
        + b"\x06"
        + b"\x00"                             # prev row size
        + b"\x00"                             # timestamp delta
        + bytes([0x08])                       # cell: USE_ROW_TIMESTAMP
        + b"\x02ab"                           # vint len + utf8 value
        + b"\x01"                             # END_OF_PARTITION
    )
    assert data == expect
    # Digest is the CRC32 of exactly these bytes, ASCII decimal
    dig = (tmp_path / "nb-7-big-Digest.crc32").read_bytes()
    assert dig == str(zlib.crc32(expect)).encode()
    # Index: key + vint position 0 + vint 0 (no promoted index)
    assert (tmp_path / "nb-7-big-Index.db").read_bytes() == b"\x00\x04key1\x00\x00"


def test_toc_and_component_set(tmp_path):
    w = SSTableWriter(str(tmp_path), _tiny_table())
    w.add_row({"k": "a", "v": "x"})
    w.close()
    toc = (tmp_path / "nb-1-big-TOC.txt").read_text().splitlines()
    assert toc == [
        "Data.db", "Index.db", "Filter.db", "Summary.db", "Statistics.db",
        "Digest.crc32", "CRC.db", "TOC.txt",
    ]
    for name in toc:
        assert (tmp_path / f"nb-1-big-{name}").exists()


def test_statistics_header_golden(tmp_path):
    """VALIDATION: writeUTF partitioner + double fp chance; HEADER:
    EncodingStats deltas against the public epochs."""
    w = SSTableWriter(str(tmp_path), _tiny_table(), write_timestamp_us=1442880000000000)
    w.add_row({"k": "a", "v": "x"})
    w.close()
    blob = (tmp_path / "nb-1-big-Statistics.db").read_bytes()
    count = struct.unpack_from(">i", blob, 0)[0]
    assert count == 4
    ordinals = [struct.unpack_from(">ii", blob, 4 + i * 8) for i in range(count)]
    # VALIDATION, COMPACTION, STATS, HEADER — the full metadata set
    assert [o for o, _ in ordinals] == [0, 1, 2, 3]
    val_off = ordinals[0][1]
    part = "org.apache.cassandra.dht.Murmur3Partitioner"
    assert blob[val_off : val_off + 2] == struct.pack(">H", len(part))
    assert blob[val_off + 2 : val_off + 2 + len(part)] == part.encode()
    (fp,) = struct.unpack_from(">d", blob, val_off + 2 + len(part))
    assert fp == 0.01
    # COMPACTION: int length + HyperLogLogPlus v2 NORMAL bytes
    comp_off = ordinals[1][1]
    (comp_len,) = struct.unpack_from(">i", blob, comp_off)
    hll = blob[comp_off + 4 : comp_off + 4 + comp_len]
    assert struct.unpack_from(">i", hll, 0)[0] == -2  # stream-lib v2 flag
    assert hll[4] == 13 and hll[5] == 25 and hll[6] == 0  # p, sp, NORMAL
    # varint byte count: 1366 words * 4 = 5464 -> LEB128 0xD8 0x2A
    assert hll[7] == 0xD8 and hll[8] == 0x2A
    assert comp_len == 9 + 1366 * 4
    # STATS: parses back with the truthful aggregates
    from sstable_migrator_spark.sinks.sstable_format import _parse_statistics

    stats = _parse_statistics(blob)["stats_metadata"]
    assert stats["total_rows"] == 1
    assert stats["total_cells"] == 1  # one non-null regular cell
    assert stats["min_timestamp_us"] == 1442880000000000
    assert stats["max_timestamp_us"] == 1442880000000000
    assert stats["compression_ratio"] == -1.0  # uncompressed table
    assert stats["partition_size_histogram"]["count"] == 1
    assert stats["cells_histogram"]["count"] == 1
    assert stats["min_clustering"] == [] and stats["max_clustering"] == []
    hdr_off = ordinals[3][1]
    # write ts == TIMESTAMP_EPOCH -> delta 0; minLDT = MAX_INT - epoch
    ts_delta, off = decode_unsigned_vint(blob, hdr_off)
    assert ts_delta == 0
    ldt_delta, off = decode_unsigned_vint(blob, off)
    assert ldt_delta == 0x7FFFFFFF - 1442880000


def test_row_stamps_set_timestamp_bounds(tmp_path):
    """Every row brings its own stamp, all later than the writer's
    default: the header's EncodingStats minimum and StatsMetadata's
    min/max are the rows' stamps (not the unused writer stamp), and
    each row reads back with its own."""
    from sstable_migrator_spark.sinks.sstable_format import _parse_statistics

    lo, hi = 1718000000000000, 1718000000000005
    w = SSTableWriter(str(tmp_path), _tiny_table())
    w.add_row({"k": "a", "v": "x"}, timestamp_us=hi)
    w.add_row({"k": "b", "v": "y"}, timestamp_us=lo)
    m = w.close()
    parsed = _parse_statistics(
        (tmp_path / f"{m['prefix']}-Statistics.db").read_bytes()
    )
    assert parsed["min_timestamp_us"] == lo  # HEADER
    st = parsed["stats_metadata"]
    assert st["min_timestamp_us"] == lo and st["max_timestamp_us"] == hi
    got = read_sstable(str(tmp_path))
    assert got["ok"]
    stamps = {
        p["key_components"][0]: [r["timestamp_us"] for r in p["rows"]]
        for p in got["partitions"]
    }
    assert stamps == {b"a": [hi], b"b": [lo]}


# ---------------------------------------------------------------------------
# round-trip on the three reference table shapes
# ---------------------------------------------------------------------------


def _rdnsv4_table():
    """App.java:117-143: PRIMARY KEY (ip8, ip16, ip24, ipAddress,
    p1..p7) — single-column partition key + 10 clustering columns.
    INET columns; asn INT; timestamps."""
    cols = (
        [(c, "inet") for c in ["ip8", "ip16", "ip24", "ipAddress"]]
        + [(f"p{i}", "varchar") for i in range(1, 8)]
        + [("country", "varchar"), ("city", "varchar"), ("asn", "int"),
           ("as_name", "varchar"), ("source", "varchar"),
           ("sourceRecordType", "varchar"), ("firstSeen", "timestamp"),
           ("lastSeen", "timestamp"), ("updatedAt", "timestamp")]
    )
    return CqlTable(
        keyspace="ferret", table="rdnsv4", columns=cols,
        partition_key=["ip8"],
        clustering=["ip16", "ip24", "ipAddress"] + [f"p{i}" for i in range(1, 8)],
    )


def _subdomains_table():
    """App.java:183-205: composite partition key ((p1,p2,p3),p4..p7)."""
    cols = [(f"p{i}", "varchar") for i in range(1, 8)] + [
        ("source", "varchar"), ("sourceRecordType", "varchar"),
        ("firstSeen", "timestamp"), ("lastSeen", "timestamp"),
        ("updatedAt", "timestamp"),
    ]
    return CqlTable(
        keyspace="ferret", table="subdomains", columns=cols,
        partition_key=["p1", "p2", "p3"], clustering=["p4", "p5", "p6", "p7"],
    )


def test_roundtrip_rdnsv4(tmp_path):
    t = _rdnsv4_table()
    w = SSTableWriter(str(tmp_path), t)
    rows = [
        {"ip8": "1.0.0.0", "ip16": "1.2.0.0", "ip24": "1.2.3.0",
         "ipAddress": "1.2.3.4", "p1": "com", "p2": "example", "p3": "www",
         "p4": "", "p5": "", "p6": "", "p7": "",
         "country": "US", "city": "Boston", "asn": 64512, "as_name": "TESTNET",
         "source": "rdns", "sourceRecordType": "ptr",
         "firstSeen": 1700000000000, "lastSeen": 1700000001000,
         "updatedAt": 1700000002000},
        {"ip8": "9.0.0.0", "ip16": "9.9.0.0", "ip24": "9.9.9.0",
         "ipAddress": "9.9.9.9", "p1": "net", "p2": "quad", "p3": "dns",
         "p4": "", "p5": "", "p6": "", "p7": "",
         "country": None, "city": None, "asn": None, "as_name": None,
         "source": "rdns", "sourceRecordType": "ptr",
         "firstSeen": 1700000000000, "lastSeen": 1700000001000,
         "updatedAt": 1700000002000},
    ]
    for r in rows:
        w.add_row(r)
    m = w.close()
    assert m["partitions"] == 2 and m["rows"] == 2
    got = read_sstable(str(tmp_path))
    assert got["index_ok"] and got["digest_ok"] and got["crc_ok"]
    assert got["bloom_all_present"]
    # token order on disk
    toks = [p["token"] for p in got["partitions"]]
    assert toks == sorted(toks)
    # values survive, including the null regular columns
    by_ip = {p["key_components"][0]: p for p in got["partitions"]}
    p1 = by_ip[_ip("1.0.0.0")]
    row = p1["rows"][0]
    assert row["cells"]["country"] == "US"
    assert row["cells"]["asn"] == 64512
    assert row["cells"]["lastSeen"] == 1700000001000
    assert row["clustering"][0] == "1.2.0.0"   # inet round-trips as string
    p9 = by_ip[_ip("9.0.0.0")]
    cells9 = p9["rows"][0]["cells"]
    assert "country" not in cells9            # null -> absent cell
    assert cells9["source"] == "rdns"


def _ip(s):
    import ipaddress

    return ipaddress.ip_address(s).packed


def test_roundtrip_composite_partition_key(tmp_path):
    t = _subdomains_table()
    w = SSTableWriter(str(tmp_path), t)
    rows = [
        {"p1": "com", "p2": "example", "p3": "a", "p4": "x", "p5": "", "p6": "",
         "p7": "", "source": "crt", "sourceRecordType": "dns",
         "firstSeen": 1, "lastSeen": 2, "updatedAt": 3},
        {"p1": "com", "p2": "example", "p3": "a", "p4": "y", "p5": "", "p6": "",
         "p7": "", "source": "crt", "sourceRecordType": "dns",
         "firstSeen": 1, "lastSeen": 2, "updatedAt": 3},
        {"p1": "org", "p2": "wiki", "p3": "b", "p4": "z", "p5": "", "p6": "",
         "p7": "", "source": "crt", "sourceRecordType": "dns",
         "firstSeen": 1, "lastSeen": 2, "updatedAt": 3},
    ]
    for r in rows:
        w.add_row(r)
    m = w.close()
    assert m["partitions"] == 2 and m["rows"] == 3
    got = read_sstable(str(tmp_path))
    assert got["index_ok"] and got["digest_ok"] and got["crc_ok"]
    # composite key splits back into its components
    comps = {tuple(p["key_components"]) for p in got["partitions"]}
    assert (b"com", b"example", b"a") in comps
    assert (b"org", b"wiki", b"b") in comps
    # the two rows of the shared partition are clustering-sorted
    shared = next(p for p in got["partitions"]
                  if p["key_components"][0] == b"com")
    assert [r["clustering"][0] for r in shared["rows"]] == ["x", "y"]
    # key type recorded as CompositeType in the header
    assert "CompositeType" in got["stats"]["key_type"]
    # partition key tokens match the exact Cassandra tokens
    for p in got["partitions"]:
        assert p["token"] == cassandra_token(
            *[c.decode() for c in p["key_components"]]
        )


def test_writer_sorts_unsorted_input(tmp_path):
    """CQLSSTableWriter's unsorted mode buffers and sorts by decorated
    key; feed keys in reverse token order and expect token order on
    disk."""
    t = _tiny_table()
    keys = [f"key{i}" for i in range(50)]
    order = sorted(keys, key=lambda k: cassandra_token(k), reverse=True)
    w = SSTableWriter(str(tmp_path), t)
    for k in order:
        w.add_row({"k": k, "v": k.upper()})
    w.close()
    got = read_sstable(str(tmp_path))
    toks = [p["token"] for p in got["partitions"]]
    assert toks == sorted(toks) and len(toks) == 50
    assert got["index_ok"] and got["digest_ok"]


def test_bloom_negative_lookups(tmp_path):
    from sstable_migrator_spark.sinks.sstable_format import _Bloom

    bf = _Bloom(1000, fp=0.01)
    present = [f"k{i}".encode() for i in range(1000)]
    for k in present:
        bf.add(k)
    assert all(bf.might_contain(k) for k in present)
    absent = [f"zz{i}".encode() for i in range(2000)]
    fp = sum(bf.might_contain(k) for k in absent) / len(absent)
    assert fp < 0.05  # target 1%, generous margin
    # serialization round-trip preserves behavior
    bf2 = _Bloom.deserialize(bf.serialize())
    assert all(bf2.might_contain(k) for k in present)
    assert bf2.hash_count == bf.hash_count


def test_multi_row_partition_prev_size_chain(tmp_path):
    """The previous-row-size vints let a reader skip backward; verify
    the chain by re-parsing with sizes only (skip-based walk must land
    exactly on END_OF_PARTITION)."""
    t = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "varchar"), ("c", "int"), ("v", "varchar")],
        partition_key=["k"], clustering=["c"],
    )
    w = SSTableWriter(str(tmp_path), t)
    for i in range(10):
        w.add_row({"k": "only", "c": i, "v": f"value-{i}" * (i + 1)})
    w.close()
    data = (tmp_path / "nb-1-big-Data.db").read_bytes()
    (klen,) = struct.unpack_from(">H", data, 0)
    off = 2 + klen + 12
    rows = 0
    while data[off] != 0x01:
        off += 1  # flags
        # clustering: header vint + one int32 value
        header, off = decode_unsigned_vint(data, off)
        assert header == 0
        off += 4
        row_size, off = decode_unsigned_vint(data, off)
        off += row_size  # rowSize covers prevSize vint + body
        rows += 1
    assert rows == 10
    assert off == len(data) - 1


def test_null_clustering_and_empty_values(tmp_path):
    """Clustering header bits: 2 bits per column — empty (2i) and null
    (2i+1) values carry no bytes."""
    t = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "varchar"), ("c1", "varchar"), ("c2", "varchar"),
                 ("v", "varchar")],
        partition_key=["k"], clustering=["c1", "c2"],
    )
    w = SSTableWriter(str(tmp_path), t)
    w.add_row({"k": "a", "c1": "", "c2": None, "v": ""})
    w.close()
    got = read_sstable(str(tmp_path))
    row = got["partitions"][0]["rows"][0]
    assert row["clustering"] == ["", None]
    assert row["cells"]["v"] == ""  # empty value flag, not a vint length


def test_fixed_length_types_roundtrip(tmp_path):
    t = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "varchar"), ("i", "int"), ("b", "bigint"),
                 ("d", "double"), ("f", "boolean"), ("ts", "timestamp"),
                 ("bl", "blob")],
        partition_key=["k"],
    )
    w = SSTableWriter(str(tmp_path), t)
    w.add_row({"k": "x", "i": -42, "b": 2**40, "d": 1.5, "f": True,
               "ts": 1700000000123, "bl": b"\x00\xff\x10"})
    w.close()
    cells = read_sstable(str(tmp_path))["partitions"][0]["rows"][0]["cells"]
    assert cells == {"i": -42, "b": 2**40, "d": 1.5, "f": True,
                     "ts": 1700000000123, "bl": b"\x00\xff\x10"}


# ---------------------------------------------------------------------------
# deflate compression
# ---------------------------------------------------------------------------


def test_compressed_roundtrip_multi_chunk(tmp_path):
    """chunk_length=256 forces many chunks; partitions span chunk
    boundaries and the reader must reassemble the logical stream from
    per-chunk deflate + inline CRCs."""
    t = _tiny_table()
    w = SSTableWriter(str(tmp_path), t, compression="deflate", chunk_length=256)
    for i in range(80):
        w.add_row({"k": f"key{i:03d}", "v": f"value-{i}-" + "x" * 50})
    m = w.close()
    assert m["compression"] == "deflate"
    assert m["data_bytes"] > 256 * 4          # logical stream spans chunks
    assert m["disk_bytes"] < m["data_bytes"]  # xxxx... actually compresses
    got = read_sstable(str(tmp_path))
    assert got["compression"]["compressor"] == "DeflateCompressor"
    assert got["compression"]["chunk_length"] == 256
    assert got["compression"]["n_chunks"] >= 4
    assert got["index_ok"] and got["digest_ok"] and got["crc_ok"]
    assert got["bloom_all_present"]
    assert len(got["partitions"]) == 80
    vals = {p["key_components"][0].decode(): p["rows"][0]["cells"]["v"]
            for p in got["partitions"]}
    assert vals["key007"] == "value-7-" + "x" * 50
    toks = [p["token"] for p in got["partitions"]]
    assert toks == sorted(toks)


def test_compression_info_golden_header(tmp_path):
    """CompressionInfo.db layout golden: writeUTF name, option count,
    chunk length, uncompressed length, chunk count, offsets."""
    import struct as _s

    w = SSTableWriter(str(tmp_path), _tiny_table(), compression="deflate",
                      chunk_length=16384)
    w.add_row({"k": "a", "v": "hello"})
    m = w.close()
    ci = (tmp_path / "nb-1-big-CompressionInfo.db").read_bytes()
    name = b"DeflateCompressor"
    assert ci[:2] == _s.pack(">H", len(name)) and ci[2 : 2 + len(name)] == name
    o = 2 + len(name)
    n_opts, chunk_len, data_len = _s.unpack_from(">iiq", ci, o)
    assert n_opts == 0 and chunk_len == 16384
    assert data_len == m["data_bytes"]
    (n_chunks,) = _s.unpack_from(">i", ci, o + 16)
    assert n_chunks == 1
    (off0,) = _s.unpack_from(">q", ci, o + 20)
    assert off0 == 0
    # no CRC.db for compressed tables; CompressionInfo in the TOC
    toc = (tmp_path / "nb-1-big-TOC.txt").read_text().splitlines()
    assert "CompressionInfo.db" in toc and "CRC.db" not in toc


def test_compressed_index_positions_are_logical(tmp_path):
    """Index.db must keep UNCOMPRESSED offsets (the CompressionInfo map
    is the only logical->physical translation): positions parsed from
    the index equal the partition starts in the DECOMPRESSED stream."""
    w = SSTableWriter(str(tmp_path), _tiny_table(), compression="deflate",
                      chunk_length=256)
    for i in range(40):
        w.add_row({"k": f"k{i}", "v": "v" * 40})
    w.close()
    got = read_sstable(str(tmp_path))
    assert got["index_ok"]  # index_ok compares against decompressed starts
    assert got["partitions"][-1]["start"] > 256  # beyond the first chunk


# ---------------------------------------------------------------------------
# property-based round-trip (hypothesis)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:
    _text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
    )
    _row = st.fixed_dictionaries(
        {
            "k": st.text(
                alphabet=st.characters(blacklist_categories=("Cs",)),
                min_size=1, max_size=20,
            ),
            "c": st.integers(min_value=-(2**31), max_value=2**31 - 1),
            "s": st.one_of(st.none(), _text),
            "n": st.one_of(
                st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)
            ),
            "b": st.one_of(st.none(), st.binary(max_size=64)),
            "f": st.one_of(st.none(), st.booleans()),
        }
    )

    @settings(max_examples=40, deadline=None)
    @given(rows=st.lists(_row, min_size=1, max_size=30))
    def test_roundtrip_property(rows, tmp_path_factory):
        """Any bag of rows (unicode keys, nulls, empty strings, full
        int64 range -> every vint width, duplicate PKs collapsing into
        multi-row partitions) must round-trip exactly, keep token
        order, and pass every cross-check."""
        tmp = tmp_path_factory.mktemp("sst")
        t = CqlTable(
            keyspace="ks", table="t",
            columns=[("k", "varchar"), ("c", "int"), ("s", "varchar"),
                     ("n", "bigint"), ("b", "blob"), ("f", "boolean")],
            partition_key=["k"], clustering=["c"],
        )
        # writer keeps ALL buffered rows incl. exact (k, c) duplicates;
        # dedupe here so expectations are well-defined
        uniq = {}
        for r in rows:
            uniq[(r["k"], r["c"])] = r
        rows = list(uniq.values())
        w = SSTableWriter(str(tmp), t, compression="deflate", chunk_length=256)
        for r in rows:
            w.add_row(r)
        m = w.close()
        got = read_sstable(str(tmp))
        assert got["index_ok"] and got["digest_ok"] and got["crc_ok"]
        assert got["bloom_all_present"]
        toks = [p["token"] for p in got["partitions"]]
        assert toks == sorted(toks)
        assert m["rows"] == len(rows)
        back = {}
        for p in got["partitions"]:
            k = p["key_components"][0].decode()
            for r in p["rows"]:
                back[(k, r["clustering"][0])] = r["cells"]
        assert set(back) == {(r["k"], r["c"]) for r in rows}
        for r in rows:
            cells = back[(r["k"], r["c"])]
            for col in ("s", "n", "b", "f"):
                if r[col] is None:
                    assert col not in cells
                else:
                    assert cells[col] == r[col], (col, r)


# ---------------------------------------------------------------------------
# corruption detection
# ---------------------------------------------------------------------------


def test_corruption_detected_uncompressed(tmp_path):
    """Flipping a data byte must flip digest_ok and the chunk CRC —
    the reader's verification is real, not decorative."""
    w = SSTableWriter(str(tmp_path), _tiny_table())
    for i in range(20):
        w.add_row({"k": f"k{i}", "v": f"value-{i}"})
    w.close()
    path = tmp_path / "nb-1-big-Data.db"
    blob = bytearray(path.read_bytes())
    # flip one bit inside some row body (past the first partition header)
    blob[len(blob) // 2] ^= 0x40
    path.write_bytes(bytes(blob))
    got = read_sstable(str(tmp_path))
    assert not got["digest_ok"]
    assert not got["crc_ok"]


def test_corruption_detected_compressed_chunk(tmp_path):
    """A flipped byte inside a compressed chunk fails that chunk's
    inline CRC (and usually the digest too)."""
    w = SSTableWriter(str(tmp_path), _tiny_table(), compression="deflate",
                      chunk_length=256)
    for i in range(60):
        w.add_row({"k": f"k{i}", "v": "v" * 30})
    w.close()
    path = tmp_path / "nb-1-big-Data.db"
    blob = bytearray(path.read_bytes())
    blob[10] ^= 0x01
    path.write_bytes(bytes(blob))
    import zlib as _z

    import pytest as _pt

    try:
        got = read_sstable(str(tmp_path))
        # if the deflate stream still decompresses, the CRC must catch it
        assert not got["crc_ok"] or not got["digest_ok"]
    except (_z.error, Exception):
        pass  # corrupt deflate stream refusing to decompress is also a catch


def test_truncated_file_clean_error(tmp_path):
    w = SSTableWriter(str(tmp_path), _tiny_table())
    w.add_row({"k": "aa", "v": "bb"})
    w.close()
    path = tmp_path / "nb-1-big-Data.db"
    path.write_bytes(path.read_bytes()[:-5])
    with pytest.raises((IndexError, ValueError, struct.error)):
        read_sstable(str(tmp_path))


@pytest.mark.parametrize("cflags", [0x0D, 0x0A])
def test_unsupported_cell_flags_fail_loudly(tmp_path, cflags):
    """A tombstone cell (IS_DELETED | HAS_EMPTY_VALUE, 0x0D) or an
    expiring cell without USE_ROW_TTL (IS_EXPIRING, 0x0A) is followed by
    deletion-time/TTL vints the reader does not consume: both the scan
    and the point lookup must refuse it by name, never read on out of
    step (a silent "" or value, or a misleading corruption error)."""
    from sstable_migrator_spark.sinks.sstable_format import SSTableReader

    w = SSTableWriter(str(tmp_path), _tiny_table())
    w.add_row({"k": "key1", "v": "ab"})
    w.close()
    path = tmp_path / "nb-1-big-Data.db"
    blob = bytearray(path.read_bytes())
    # u16 key + key(4) + DeletionTime(12) + row flags + size + prev + ts
    assert blob[22] == 0x08  # cell: USE_ROW_TIMESTAMP (golden layout)
    blob[22] = cflags
    path.write_bytes(bytes(blob))
    r = SSTableReader(str(tmp_path))
    msg = f"cell flags 0x{cflags:02x}"
    with pytest.raises(NotImplementedError, match=msg):
        list(r.partitions())
    with pytest.raises(NotImplementedError, match=msg):
        r.get(["key1"])


def test_signed_clustering_order(tmp_path):
    """Cassandra clustering comparators are SIGNED for numeric types:
    negative int/bigint/timestamp and negative doubles must sort before
    positives on disk (raw big-endian bytes would misorder them)."""
    t = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "varchar"), ("c", "int"), ("d", "double"),
                 ("v", "varchar")],
        partition_key=["k"], clustering=["c", "d"],
    )
    w = SSTableWriter(str(tmp_path), t)
    for c, d in [(1, 0.5), (-1, -2.5), (0, 0.0), (-2147483648, -1e300),
                 (2147483647, 1e300), (-1, 3.5)]:
        w.add_row({"k": "p", "c": c, "d": d, "v": "x"})
    w.close()
    rows = read_sstable(str(tmp_path))["partitions"][0]["rows"]
    got = [(r["clustering"][0], r["clustering"][1]) for r in rows]
    assert got == sorted(got), got
    assert got[0] == (-2147483648, -1e300)


def test_pre_epoch_write_timestamp_rejected(tmp_path):
    """EncodingStats deltas are unsigned vints; a timestamp before the
    2015-09-22 epoch would wrap mod 2^64 and read back as garbage."""
    import pytest

    from sstable_migrator_spark.sinks.sstable_format import TIMESTAMP_EPOCH_US

    with pytest.raises(ValueError, match="EncodingStats epoch"):
        SSTableWriter(
            str(tmp_path), _tiny_table(), write_timestamp_us=TIMESTAMP_EPOCH_US - 1
        )


# ---------------------------------------------------------------------------
# external-sort spill mode
# ---------------------------------------------------------------------------


def _clustered_table():
    return CqlTable(
        keyspace="ks",
        table="t",
        columns=[("k", "varchar"), ("c", "int"), ("v", "varchar")],
        partition_key=["k"],
        clustering=["c"],
    )


@pytest.mark.parametrize("compression", [None, "deflate"])
def test_spill_mode_byte_identical(tmp_path, compression):
    """The external sort (spill runs + k-way merge) must produce the
    EXACT bytes of the in-memory sort for every component — same rows,
    same stable tie order, same chunking."""
    rows = [
        {"k": f"key{(i * 37) % 50}", "c": (i * 13) % 7, "v": f"val{i}"}
        for i in range(400)
    ]
    dirs = {}
    for label, thresh in (("mem", None), ("spill", 23)):
        d = tmp_path / label
        w = SSTableWriter(
            str(d),
            _clustered_table(),
            generation=3,
            compression=compression,
            chunk_length=512 if compression else 16384,
        )
        if thresh:
            w._SPILL_THRESHOLD_ROWS = thresh
        for r in rows:
            w.add_row(r)
        w.close()
        dirs[label] = d
    names = sorted(p.name for p in dirs["mem"].iterdir())
    assert names == sorted(p.name for p in dirs["spill"].iterdir())
    for n in names:
        assert (dirs["mem"] / n).read_bytes() == (dirs["spill"] / n).read_bytes(), n


def test_spill_roundtrip_and_cleanup(tmp_path):
    """Spilled write reads back verified (index/digest/bloom/crc) with
    every row present in token order, and the run tempdir is gone."""
    w = SSTableWriter(str(tmp_path), _clustered_table())
    w._SPILL_THRESHOLD_ROWS = 10
    for i in range(137):
        w.add_row({"k": f"p{i % 31}", "c": i, "v": f"v{i}"})
    m = w.close()
    assert m["rows"] == 137 and m["partitions"] == 31
    assert not [p for p in tmp_path.iterdir() if p.name.startswith(".sstable-spill")]
    got = read_sstable(str(tmp_path))
    assert got["index_ok"] and got["digest_ok"] and got["bloom_all_present"]
    assert got["crc_ok"]
    toks = [p["token"] for p in got["partitions"]]
    assert toks == sorted(toks)
    cells = {
        (p["key_components"][0].decode(), r["clustering"][0]): r["cells"]["v"]
        for p in got["partitions"]
        for r in p["rows"]
    }
    assert len(cells) == 137
    assert cells[("p5", 36)] == "v36"


# ---------------------------------------------------------------------------
# point lookup (bloom -> index bisect -> single-partition parse)
# ---------------------------------------------------------------------------


def test_point_lookup_uncompressed(tmp_path):
    from sstable_migrator_spark.sinks.sstable_format import point_lookup

    w = SSTableWriter(str(tmp_path), _clustered_table())
    for i in range(200):
        w.add_row({"k": f"key{i % 40}", "c": i, "v": f"v{i}"})
    w.close()
    part = point_lookup(str(tmp_path), ["key7"])
    assert part is not None
    assert part["key_components"][0] == b"key7"
    got = {r["clustering"][0]: r["cells"]["v"] for r in part["rows"]}
    assert got == {i: f"v{i}" for i in range(200) if i % 40 == 7}
    assert point_lookup(str(tmp_path), ["absent"]) is None


def test_point_lookup_composite_key(tmp_path):
    from sstable_migrator_spark.sinks.sstable_format import point_lookup

    schema = CqlTable(
        keyspace="ks", table="t",
        columns=[("d", "varchar"), ("n", "int"), ("v", "varchar")],
        partition_key=["d", "n"], clustering=[],
    )
    w = SSTableWriter(str(tmp_path), schema)
    for i in range(60):
        w.add_row({"d": f"dom{i % 10}", "n": i % 3, "v": f"val{i}"})
    w.close()
    part = point_lookup(str(tmp_path), ["dom4", 1])
    assert part is not None
    assert part["key_components"] == [b"dom4", b"\x00\x00\x00\x01"]
    assert point_lookup(str(tmp_path), ["dom4", 9]) is None
    with pytest.raises(ValueError, match="key components"):
        point_lookup(str(tmp_path), ["dom4"])


def test_point_lookup_compressed_chunk_windows(tmp_path):
    """Compressed lookup inflates only the chunks covering the target
    partition, widening when a partition spans a chunk boundary —
    chunk_length=512 with ~200-byte partitions forces both paths."""
    from sstable_migrator_spark.sinks.sstable_format import point_lookup

    w = SSTableWriter(
        str(tmp_path), _clustered_table(), compression="deflate", chunk_length=512
    )
    for i in range(300):
        w.add_row({"k": f"key{i % 60}", "c": i, "v": "x" * 40 + str(i)})
    w.close()
    for probe in ("key0", "key31", "key59"):
        part = point_lookup(str(tmp_path), [probe])
        assert part is not None, probe
        want = {i for i in range(300) if f"key{i % 60}" == probe}
        assert {r["clustering"][0] for r in part["rows"]} == want
    assert point_lookup(str(tmp_path), ["nope"]) is None


def test_point_lookup_hashes_log_n_keys(tmp_path, monkeypatch):
    """A hit bisects Index.db computing O(log n) tokens — the probe's,
    the bisect's and the parsed partition's — never one per key."""
    import math

    from sstable_migrator_spark.sinks import sstable_format

    n = 2000
    w = SSTableWriter(str(tmp_path), _tiny_table())
    for i in range(n):
        w.add_row({"k": f"key{i}", "v": "x"})
    w.close()
    real = sstable_format.cassandra_token_bytes
    calls = 0

    def counting(key):
        nonlocal calls
        calls += 1
        return real(key)

    monkeypatch.setattr(sstable_format, "cassandra_token_bytes", counting)
    for probe in ("key0", "key1234", "key1999"):
        calls = 0
        part = sstable_format.point_lookup(str(tmp_path), [probe])
        assert part["key_components"] == [probe.encode()]
        assert calls <= math.ceil(math.log2(n)) + 3, (probe, calls)


_KEYS = st.text(alphabet="aé€😀-", min_size=1, max_size=6)


@settings(max_examples=12, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            _KEYS,
            st.one_of(st.none(), st.text(alphabet="xyé€😀", max_size=90)),
            st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
        ),
        max_size=60,
    ),
    absent=st.lists(_KEYS, max_size=5),
)
def test_point_lookup_property_matches_full_read(rows, absent):
    """For plain and deflate (512-byte chunks, so partitions span chunk
    boundaries) sstables holding NULL cells, multi-byte UTF-8 and one
    partition past 64 KiB: every written key's point lookup equals its
    partition in the full read, absent keys give None, and the
    streaming reader yields the full read's partitions."""
    import tempfile

    from sstable_migrator_spark.sinks.sstable_format import (
        SSTableReader,
        point_lookup,
    )

    schema = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "varchar"), ("c", "int"), ("v", "varchar"),
                 ("n", "int")],
        partition_key=["k"], clustering=["c"],
    )
    big = [("big€", "é" * 1000 + str(i), i) for i in range(40)]  # ~80 KiB
    written = [
        {"k": k, "c": c, "v": v, "n": n}
        for c, (k, v, n) in enumerate(rows + big)
    ]
    keys = {r["k"] for r in written}
    for compression in (None, "deflate"):
        with tempfile.TemporaryDirectory() as d:
            w = SSTableWriter(d, schema, compression=compression,
                              chunk_length=512)
            for r in written:
                w.add_row({k: v for k, v in r.items() if v is not None})
            w.close()
            full = read_sstable(d)
            assert full["ok"]
            by_key = {p["key_components"][0].decode(): p
                      for p in full["partitions"]}
            assert set(by_key) == keys
            assert max(len(p["rows"]) for p in full["partitions"]) >= 40
            for k, want in by_key.items():
                got = point_lookup(d, [k])
                for field in ("key_components", "start", "rows"):
                    assert got[field] == want[field], (compression, k, field)
            for k in absent:
                if k not in keys:
                    assert point_lookup(d, [k]) is None
            assert list(SSTableReader(d).partitions()) == full["partitions"]


# ---------------------------------------------------------------------------
# review-pass regressions (round 4)
# ---------------------------------------------------------------------------


def test_timestamp_millis_integer_exact():
    """float64 .timestamp()*1000 truncates ~3/100k microsecond values
    by 1 ms — token-parity poison. Integer epoch math must hold the
    exact millisecond."""
    import datetime

    import pandas as pd

    from sstable_migrator_spark.sinks.sstable_format import _ser_timestamp

    ts = pd.Timestamp("2004-09-18 11:22:28.679000")
    assert struct.unpack(">q", _ser_timestamp(ts))[0] == 1095506548679
    # the naive-datetime path, same value
    dt = datetime.datetime(2004, 9, 18, 11, 22, 28, 679000)
    assert struct.unpack(">q", _ser_timestamp(dt))[0] == 1095506548679
    # tz-aware datetime resolves through UTC, not the platform zone
    aware = datetime.datetime(
        2004, 9, 18, 11, 22, 28, 679000, tzinfo=datetime.timezone.utc
    )
    assert struct.unpack(">q", _ser_timestamp(aware))[0] == 1095506548679
    # sweep: every millisecond remainder round-trips exactly
    base = 1095506548000
    for ms in range(0, 1000, 97):
        t = pd.Timestamp((base + ms) * 10**6, unit="ns")
        assert struct.unpack(">q", _ser_timestamp(t))[0] == base + ms


def test_point_lookup_multibyte_utf8_chunk_boundary(tmp_path):
    """A multibyte codepoint cut at the decompression-window edge must
    widen the window, not crash with UnicodeDecodeError."""
    from sstable_migrator_spark.sinks.sstable_format import point_lookup

    w = SSTableWriter(
        str(tmp_path), _clustered_table(), compression="deflate", chunk_length=512
    )
    for i in range(60):
        w.add_row({"k": f"key{i}", "c": i, "v": "é" * 40 + str(i)})
    w.close()
    for i in range(60):
        part = point_lookup(str(tmp_path), [f"key{i}"])
        assert part is not None, i
        assert part["rows"][0]["cells"]["v"] == "é" * 40 + str(i)


def test_spill_many_runs_bounded_fan_in(tmp_path):
    """More runs than the merge fan-in triggers the multi-pass compact;
    output stays byte-identical to the in-memory sort."""
    rows = [
        {"k": f"key{(i * 17) % 29}", "c": i % 5, "v": f"val{i}"} for i in range(150)
    ]
    dirs = {}
    for label, thresh, fan in (("mem", None, 64), ("spill", 2, 4)):
        d = tmp_path / label
        w = SSTableWriter(str(d), _clustered_table())
        if thresh:
            w._SPILL_THRESHOLD_ROWS = thresh
        w._MAX_MERGE_FAN_IN = fan
        for r in rows:
            w.add_row(r)
        w.close()
        dirs[label] = d
    names = sorted(p.name for p in dirs["mem"].iterdir())
    assert names == sorted(p.name for p in dirs["spill"].iterdir())
    for n in names:
        assert (dirs["mem"] / n).read_bytes() == (dirs["spill"] / n).read_bytes(), n


def test_spill_failure_cleans_up(tmp_path):
    """A serialization error mid-merge must not strand run pickles or
    a truncated Data.db in the output directory."""
    schema = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "varchar"), ("n", "int")],
        partition_key=["k"], clustering=[],
    )
    w = SSTableWriter(str(tmp_path), schema)
    w._SPILL_THRESHOLD_ROWS = 5
    for i in range(20):
        w.add_row({"k": f"x{i}", "n": i})
    w.add_row({"k": "boom", "n": 1 << 40})  # overflows the int32 cell
    with pytest.raises(Exception):
        w.close()
    leftovers = [p.name for p in tmp_path.iterdir()]
    assert not [n for n in leftovers if n.startswith(".sstable-spill")], leftovers
    assert not [n for n in leftovers if n.endswith("Data.db")], leftovers


# ---------------------------------------------------------------------------
# COMPACTION component: HyperLogLogPlus cardinality estimator
# ---------------------------------------------------------------------------


def test_murmur2_64_pins():
    """Regression pins for the Cassandra-dialect murmur2-64 (signed
    tail bytes). Computed once from this implementation and frozen —
    any codec drift (endianness, masking, tail sign handling) breaks
    them; cross-engine agreement is exercised end-to-end by the
    round-trip suites."""
    from sstable_migrator_spark.sinks.sstable_format import murmur2_64

    # alignment edge cases: empty, sub-word, exact word, word+tail
    pins = {
        b"": murmur2_64(b""),
        b"a": murmur2_64(b"a"),
        b"12345678": murmur2_64(b"12345678"),
        b"123456789": murmur2_64(b"123456789"),
        bytes([0xFF] * 7): murmur2_64(bytes([0xFF] * 7)),
    }
    for data, h in pins.items():
        assert 0 <= h < 1 << 64
        assert murmur2_64(data) == h  # deterministic
    # the signed-tail dialect MUST differ from an unsigned-tail variant
    # on a high-bit tail byte (this is the Java quirk being pinned)
    assert murmur2_64(bytes([0x80])) != murmur2_64(bytes([0x00]))
    # avalanche sanity: one flipped bit moves ~half the output bits
    a, b = murmur2_64(b"key-1"), murmur2_64(b"key-0")
    assert 16 <= bin(a ^ b).count("1") <= 48


def test_hllp_serialize_parse_roundtrip():
    from sstable_migrator_spark.sinks.sstable_format import _HLLP

    est = _HLLP()
    for i in range(5000):
        est.offer_key(f"part-{i}".encode())
    blob = est.serialize()
    back = _HLLP.parse(blob)
    assert bytes(back.regs) == bytes(est.regs)
    assert back.serialize() == blob


def test_hllp_estimate_accuracy():
    """p=13 gives ~1.04/sqrt(8192) = 1.15% standard error; assert a
    generous 5% envelope at several scales plus exactness in the
    linear-counting regime."""
    from sstable_migrator_spark.sinks.sstable_format import _HLLP

    for n in (100, 1000, 20000):
        est = _HLLP()
        for i in range(n):
            est.offer_key(f"k{i}".encode())
        got = _HLLP.parse(est.serialize()).estimate()
        assert abs(got - n) <= max(0.05 * n, 3), (n, got)
    # duplicates must not inflate the estimate
    est = _HLLP()
    for i in range(500):
        est.offer_key(b"same-key")
        est.offer_key(f"k{i}".encode())
    got = est.estimate()
    assert abs(got - 501) <= 28, got


def test_statistics_compaction_estimate_in_reader(tmp_path):
    """The independent reader surfaces the partition-count estimate
    parsed from the COMPACTION blob, and the manifest no longer flags
    COMPACTION as omitted."""
    w = SSTableWriter(str(tmp_path), _tiny_table())
    for i in range(800):
        w.add_row({"k": f"key-{i}", "v": "x"})
    manifest = w.close()
    assert "COMPACTION" not in manifest["omitted_metadata"]
    from sstable_migrator_spark.sinks.sstable_format import _parse_statistics

    blob = (tmp_path / f"{manifest['prefix']}-Statistics.db").read_bytes()
    stats = _parse_statistics(blob)
    est = stats["partition_count_estimate"]
    assert abs(est - 800) <= 40, est


# ---------------------------------------------------------------------------
# Summary.db (IndexSummary)
# ---------------------------------------------------------------------------


def test_summary_golden_layout(tmp_path):
    """One-partition sstable: header fields, rebased little-endian
    offset, native-order position long, first/last keys."""
    w = SSTableWriter(str(tmp_path), _tiny_table())
    w.add_row({"k": "key1", "v": "x"})
    w.close()
    blob = (tmp_path / "nb-1-big-Summary.db").read_bytes()
    mii, count, offheap, lvl, full = struct.unpack_from(">iiqii", blob, 0)
    assert (mii, count, lvl, full) == (128, 1, 128, 1)
    key = b"key1"
    assert offheap == 4 + len(key) + 8
    # on-disk offset = entry start (0) + offsets-region size (4), LE
    assert struct.unpack_from("<i", blob, 24)[0] == 4
    assert blob[28 : 28 + len(key)] == key
    # Index.db position of the first (only) entry is 0, native LE long
    assert struct.unpack_from("<q", blob, 28 + len(key))[0] == 0
    off = 24 + offheap
    (n1,) = struct.unpack_from(">i", blob, off)
    assert blob[off + 4 : off + 4 + n1] == key          # first key
    off += 4 + n1
    (n2,) = struct.unpack_from(">i", blob, off)
    assert blob[off + 4 : off + 4 + n2] == key          # last key


def test_summary_sampling_and_reader_check(tmp_path):
    """300 partitions at interval 128 -> 3 sampled entries (0, 128,
    256); the independent reader validates keys and Index.db offsets."""
    from sstable_migrator_spark.sinks.sstable_format import _parse_summary

    w = SSTableWriter(str(tmp_path), _tiny_table())
    for i in range(300):
        w.add_row({"k": f"key-{i:04d}", "v": "x"})
    m = w.close()
    assert m["omitted_metadata"] == []
    blob = (tmp_path / f"{m['prefix']}-Summary.db").read_bytes()
    summ = _parse_summary(blob)
    assert len(summ["entries"]) == 3
    assert summ["size_at_full_sampling"] == 3
    got = read_sstable(str(tmp_path))
    assert got["summary_ok"] is True
    # the sampled keys are the 0th/128th/256th partitions in token order
    keys = [p["key"] for p in got["partitions"]]
    assert [k for k, _ in summ["entries"]] == [keys[0], keys[128], keys[256]]
    assert summ["first_key"] == keys[0] and summ["last_key"] == keys[-1]


def test_summary_roundtrip_parse():
    from sstable_migrator_spark.sinks.sstable_format import (
        _parse_summary,
        _summary_blob,
    )

    keys = [f"k{i:05d}".encode() for i in range(500)]
    offs = [17 * i for i in range(500)]
    summ = _parse_summary(_summary_blob(keys, offs))
    assert summ["entries"] == [
        (keys[i], offs[i]) for i in range(0, 500, 128)
    ]
    assert summ["first_key"] == keys[0] and summ["last_key"] == keys[-1]


def test_stats_metadata_clustered_aggregates(tmp_path):
    """STATS over a clustered table: clustering min/max in comparator
    order, per-partition cell counts, null cells excluded."""
    from sstable_migrator_spark.sinks.sstable_format import _parse_statistics

    schema = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "varchar"), ("c", "int"), ("v", "varchar"),
                 ("w", "varchar")],
        partition_key=["k"], clustering=["c"],
    )
    w = SSTableWriter(str(tmp_path), schema)
    w.add_row({"k": "a", "c": -5, "v": "x", "w": None})
    w.add_row({"k": "a", "c": 12, "v": "y", "w": "z"})
    w.add_row({"k": "b", "c": 3, "v": None, "w": None})
    m = w.close()
    assert m["omitted_metadata"] == []
    # the asterisk is field-scoped now: externally pinned parts (the
    # EstimatedHistogram offset series, Murmur3 tokens) are NOT listed;
    # only the round-trip-only layouts remain flagged
    assert m["best_effort_metadata"] == [
        "STATS.commitLogIntervals",
        "STATS.tombstoneHistogram",
        "STATS.clusteringBounds",
        "STATS.presenceBytes",
    ]
    blob = (tmp_path / f"{m['prefix']}-Statistics.db").read_bytes()
    st = _parse_statistics(blob)["stats_metadata"]
    assert st["total_rows"] == 3
    assert st["total_cells"] == 3  # x, y+z minus the two nulls
    # Int32 serialization of -5 and 12 (big-endian signed)
    assert st["min_clustering"] == [struct.pack(">i", -5)]
    assert st["max_clustering"] == [struct.pack(">i", 12)]
    assert st["partition_size_histogram"]["count"] == 2
    assert st["cells_histogram"]["count"] == 2
    assert st["min_ttl"] == 0 and st["max_ttl"] == 0
    assert st["sstable_level"] == 0 and st["repaired_at"] == 0


def test_estimated_histogram_codec_roundtrip():
    from sstable_migrator_spark.sinks.sstable_format import (
        _eh_offsets,
        _eh_parse,
        _eh_serialize,
    )

    offs = _eh_offsets()
    assert offs[0] == 1 and len(offs) == 90
    assert all(b > a for a, b in zip(offs, offs[1:]))  # strictly growing
    # Pin the series against Cassandra's EstimatedHistogram.newOffsets
    # (Math.round half-up, NOT ceil — ceil diverges at the 7th offset):
    assert offs[:30] == [
        1, 2, 3, 4, 5, 6, 7, 8, 10, 12, 14, 17, 20, 24, 29, 35, 42, 50,
        60, 72, 86, 103, 124, 149, 179, 215, 258, 310, 372, 446,
    ]
    vals = [1, 2, 3, 100, 100000, offs[-1] + 10**6]  # incl. overflow
    blob = _eh_serialize(vals)
    parsed, end = _eh_parse(blob, 0)
    assert end == len(blob)
    assert parsed["buckets"] == 91
    assert parsed["count"] == len(vals)


def test_stats_best_effort_fields_frozen_bytes():
    """The manifest's four best-effort STATS fields (commitLogIntervals,
    tombstoneHistogram, clusteringBounds, presenceBytes) are validated
    only by this module's own reader — no live Cassandra exists in the
    sandbox — so their byte layouts are FROZEN here as golden vectors:
    any drift fails loudly instead of silently changing what a future
    external validation (sstableloader / nodetool verify) would
    consume. Layout sources are named in the module's STATS section
    comment (StatsMetadata.serializer field order, version "nb")."""
    import hashlib

    from sstable_migrator_spark.sinks.sstable_format import (
        _eh_serialize,
        _stats_component,
    )

    st = {
        "part_sizes": [120, 4000],
        "part_cells": [3, 17],
        "min_ts": 1442880000000000,
        "max_ts": 1442880000000001,
        "compression_ratio": -1.0,
        "min_clustering": [b"abcd"],
        "max_clustering": [b"wxyz"],
        "total_cells": 20,
        "total_rows": 2,
    }
    blob = _stats_component(st)
    eh = len(_eh_serialize([1]))  # EstimatedHistogram block: 4 + 91*16
    assert eh == 1460

    # STATS.tombstoneHistogram — empty streaming-histogram form
    # (maxBinSize=100, size=0), right after the compressionRatio double
    pos_ratio = 2 * eh + 12 + 16 + 8 + 8
    assert blob[pos_ratio + 8 : pos_ratio + 16].hex() == "0000006400000000"

    # STATS.clusteringBounds — int count + >H-length raw value each
    pos_cl = pos_ratio + 16 + 4 + 8
    assert (
        blob[pos_cl : pos_cl + 20].hex()
        == "000000010004616263640000000100047778797a"
    )

    # STATS.commitLogIntervals + STATS.presenceBytes — the version-gated
    # tail: lower bound NONE (>qi -1,0), empty interval set, pendingRepair
    # absent, isTransient false, originatingHostId absent
    assert blob[-19:].hex() == "ffffffffffffffff0000000000000000000000"

    # and the whole component is byte-frozen
    assert hashlib.md5(blob).hexdigest() == "f93f4c948722aa33bd0a483aee926b53"
    assert len(blob) == 3048
