"""WARC / WET source — CommonCrawl's actual corpus container.

The reference pipeline's CommonCrawl side consumes the INDEX shards
(S6, cdx/SURT lines — ``spark.read.text`` + ``surt_line_to_domain``);
a training-data pipeline consumes the CONTENT: WARC files (ISO 28500)
and their WET ("conversion": extracted plain text) siblings. This
module reads them dependency-free:

- record grammar: a ``WARC/1.x`` version line, ``Name: value`` header
  lines to a blank line, exactly ``Content-Length`` payload bytes, then
  a blank-line record separator. CommonCrawl gzips MEMBER-PER-RECORD;
  stdlib gzip reads concatenated members transparently, so one
  sequential decompress-and-parse pass per file needs O(record) memory.
- ``read_wet``: one task PER FILE (CC shards are ~150 MB .gz each — the
  natural parallel unit; a 100 TB crawl is ~700k files, far more than
  any cluster's cores), same repartitionByRange pinning as the tar and
  sstable sources. Filters to the requested record types (default
  ``conversion`` — the WET text records) and yields (file, url, date,
  record_type, length, text) in bounded O(chunk) pandas batches.
- ``read_warc_responses``: the RAW-WARC half — ``response`` records
  carry a full HTTP message (status line + headers + body), the form
  CommonCrawl stores before the WET conversion precomputes text.
  ``split_http_response`` strips the header block (first blank line,
  CRLF or bare LF), reads status + Content-Type + charset, and the
  body decodes per that charset (utf-8 fallback); html_to_text
  downstream completes the WARC->text path WET precomputes.
- ``encode_wet`` / ``encode_warc_responses``: the byte-exact writer
  twins (fixtures, round-trip tests, and the catalog oracle entries),
  per-record gzip members like CommonCrawl's own layout.

Reference analog: utils/cc_download_convert (SURVEY §2.1 S6) walked the
index; this is the content half a corpus builder actually trains on.
"""

from __future__ import annotations

import gzip
import io
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "encode_warc_responses",
    "encode_wet",
    "iter_warc_records",
    "read_warc_responses",
    "read_wet",
    "split_http_response",
]

_CRLF = b"\r\n"


class WarcFormatError(ValueError):
    pass


def iter_warc_records(stream) -> Iterator[tuple[dict, bytes]]:
    """Yield ``(headers: dict[str, str], payload: bytes)`` per record
    from a binary file-like of UNCOMPRESSED WARC bytes. O(record)
    memory; malformed framing raises loudly (a truncated crawl shard
    should fail the task, not silently shorten the corpus)."""
    while True:
        line = stream.readline()
        if not line:
            return
        if line in (_CRLF, b"\n"):
            continue  # inter-record padding
        if not line.startswith(b"WARC/"):
            raise WarcFormatError(f"expected WARC version line, got {line[:40]!r}")
        headers: dict[str, str] = {}
        while True:
            hl = stream.readline()
            if not hl:
                raise WarcFormatError("EOF inside record headers")
            if hl in (_CRLF, b"\n"):
                break
            if b":" not in hl:
                raise WarcFormatError(f"bad header line {hl[:60]!r}")
            k, v = hl.split(b":", 1)
            headers[k.strip().decode("ascii")] = v.strip().decode(
                "utf-8", "replace"
            )
        try:
            n = int(headers["Content-Length"])
        except KeyError:
            raise WarcFormatError("record missing Content-Length") from None
        payload = stream.read(n)
        if len(payload) != n:
            raise WarcFormatError(
                f"truncated payload: wanted {n} bytes, got {len(payload)}"
            )
        yield headers, payload


def _check_header_value(name: str, value: str) -> str:
    """WARC named headers are single-line; a CR/LF inside a url or
    date would silently corrupt the record framing for every record
    after it — refuse at write time."""
    if "\r" in value or "\n" in value:
        raise ValueError(f"{name} contains a line break: {value!r}")
    return value


def encode_wet(records: list[dict]) -> bytes:
    """Records ``{url, date, text}`` -> WET bytes, one gzip member per
    record (CommonCrawl's seekable layout). Deterministic output."""
    out = io.BytesIO()
    for r in records:
        _check_header_value("url", r["url"])
        _check_header_value("date", r.get("date", ""))
        payload = r["text"].encode("utf-8")
        head = (
            b"WARC/1.0\r\n"
            + b"WARC-Type: conversion\r\n"
            + b"WARC-Target-URI: " + r["url"].encode("utf-8") + b"\r\n"
            + b"WARC-Date: " + r.get("date", "2024-01-01T00:00:00Z").encode("ascii") + b"\r\n"
            + b"Content-Type: text/plain\r\n"
            + b"Content-Length: " + str(len(payload)).encode("ascii") + b"\r\n"
            + b"\r\n"
        )
        member = head + payload + b"\r\n\r\n"
        gz = io.BytesIO()
        # fixed mtime: byte-deterministic like every writer here
        with gzip.GzipFile(fileobj=gz, mode="wb", mtime=0) as fh:
            fh.write(member)
        out.write(gz.getvalue())
    return out.getvalue()


def _dechunk(body: bytes) -> bytes | None:
    """Decode RFC 9112 chunked transfer framing (hex size line, chunk
    data, CRLF; size 0 ends it — trailers ignored). Bare-LF line ends
    tolerated. Returns None on malformed framing (caller keeps the raw
    bytes and flags the record instead of corrupting it)."""
    out = bytearray()
    i, n = 0, len(body)
    while True:
        j = body.find(b"\n", i)
        if j < 0:
            return None
        size_field = body[i:j].strip().split(b";", 1)[0].strip()
        i = j + 1
        try:
            size = int(size_field, 16)
        except ValueError:
            return None
        if size == 0:
            return bytes(out)  # trailers (if any) carry no body bytes
        if i + size > n:
            return None
        out += body[i : i + size]
        i += size
        if body[i : i + 2] == _CRLF:
            i += 2
        elif body[i : i + 1] == b"\n":
            i += 1
        else:
            return None


def _decompress(body: bytes, coding: str) -> bytes | None:
    """Undo one HTTP content-coding layer (gzip/x-gzip/deflate — both
    the zlib-wrapped and the raw-deflate form misbehaving servers
    send). None = corrupt stream or unsupported coding."""
    import zlib

    try:
        if coding in ("gzip", "x-gzip"):
            return zlib.decompress(body, 16 + zlib.MAX_WBITS)
        if coding == "deflate":
            try:
                return zlib.decompress(body)
            except zlib.error:
                return zlib.decompress(body, -zlib.MAX_WBITS)
    except zlib.error:
        return None
    return None


def split_http_response(payload: bytes) -> tuple[dict, bytes]:
    """Split a raw-WARC ``response`` record's HTTP payload into
    ``({status, content_type, charset, content_encoding}, body_bytes)``.
    The header block ends at the first blank line (CRLF per RFC 9112;
    bare LF tolerated — real servers emit it); a payload with no blank
    line at all is treated as headerless body (errs toward keeping
    content). Charset comes from the Content-Type parameter, defaulting
    to utf-8 — the fallback WET conversion itself uses.

    Real CommonCrawl response payloads commonly carry
    ``Transfer-Encoding: chunked`` and/or ``Content-Encoding:
    gzip|deflate``: both are DECODED here (chunk framing removed, then
    content-codings undone outermost-first), because feeding chunk-size
    lines or compressed bytes to html_to_text silently yields garbage
    that still passes the 2xx/text filter. ``content_encoding`` in the
    returned meta is the RESIDUAL coding: ``""`` when the body is fully
    decoded, else the first coding that could not be undone (``br``,
    ``zstd``, or a corrupt/malformed layer suffixed ``?``) — callers
    filter or flag on it rather than ingesting bytes as text."""
    sep = payload.find(b"\r\n\r\n")
    if sep >= 0:
        head, body = payload[:sep], payload[sep + 4 :]
    else:
        sep = payload.find(b"\n\n")
        if sep >= 0:
            head, body = payload[:sep], payload[sep + 2 :]
        else:
            head, body = b"", payload
    status = 0
    content_type, charset = "", "utf-8"
    transfer_codings: list[str] = []
    content_codings: list[str] = []
    lines = head.split(b"\n")
    if lines and lines[0][:5] in (b"HTTP/", b"http/"):
        parts = lines[0].strip().split()
        if len(parts) >= 2 and parts[1].isdigit():
            status = int(parts[1])
    for hl in lines[1:]:
        if b":" not in hl:
            continue
        k, v = hl.split(b":", 1)
        key = k.strip().lower()
        if key == b"content-type":
            full = v.strip().decode("ascii", "replace")
            content_type = full.split(";", 1)[0].strip().lower()
            for param in full.split(";")[1:]:
                pk, _, pv = param.partition("=")
                if pk.strip().lower() == "charset" and pv.strip():
                    charset = pv.strip().strip('"').strip("'").lower()
        elif key == b"transfer-encoding":
            transfer_codings = [
                t.strip().lower()
                for t in v.decode("ascii", "replace").split(",")
                if t.strip()
            ]
        elif key == b"content-encoding":
            content_codings = [
                t.strip().lower()
                for t in v.decode("ascii", "replace").split(",")
                if t.strip()
            ]
    residual = ""
    # transfer codings first (they frame the wire bytes): chunked is
    # the only one that survives into an archived payload in practice
    for tc in transfer_codings:
        if tc == "identity":
            continue
        if tc == "chunked":
            decoded = _dechunk(body)
            if decoded is None:
                residual = "chunked?"
                break
            body = decoded
        else:
            residual = tc
            break
    if not residual:
        # content codings apply outermost-LAST in the header list:
        # undo in reverse
        for cc in reversed(content_codings):
            if cc in ("identity", ""):
                continue
            decoded = _decompress(body, cc)
            if decoded is None:
                residual = cc if cc not in ("gzip", "x-gzip", "deflate") else cc + "?"
                break
            body = decoded
    return {
        "status": status,
        "content_type": content_type,
        "charset": charset,
        "content_encoding": residual,
    }, body


def _decode_body(body: bytes, charset: str) -> str:
    try:
        return body.decode(charset, "replace")
    except LookupError:  # unknown label from a misbehaving server
        return body.decode("utf-8", "replace")


def encode_warc_responses(records: list[dict]) -> bytes:
    """Records ``{url, date?, status?, content_type?, html,
    content_encoding?, transfer_encoding?}`` -> raw WARC bytes: one
    gzip member per ``response`` record whose payload is a full HTTP
    response (status line + headers + blank line + body). The writer
    twin for ``read_warc_responses`` fixtures — byte-deterministic
    like every writer here. ``content_encoding`` ("gzip"/"deflate")
    compresses the body and emits the header; ``transfer_encoding``
    ("chunked") applies chunk framing (after any content-coding, as on
    the wire) — so round-trip tests exercise the encoded payloads real
    CommonCrawl shards carry, not only identity bodies."""
    import zlib

    out = io.BytesIO()
    for r in records:
        _check_header_value("url", r["url"])
        _check_header_value("date", r.get("date", ""))
        _check_header_value("content_type", str(r.get("content_type", "")))
        body = r["html"].encode("utf-8")
        status = int(r.get("status", 200))
        ctype = r.get("content_type", "text/html; charset=utf-8")
        extra = ""
        cenc = r.get("content_encoding", "")
        if cenc:
            if cenc == "gzip":
                co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
                body = co.compress(body) + co.flush()
            elif cenc == "deflate":
                body = zlib.compress(body, 9)
            else:
                raise ValueError(f"unsupported content_encoding {cenc!r}")
            extra += f"Content-Encoding: {cenc}\r\n"
        tenc = r.get("transfer_encoding", "")
        if tenc:
            if tenc != "chunked":
                raise ValueError(f"unsupported transfer_encoding {tenc!r}")
            chunks, i = [], 0
            while i < len(body):  # fixed 1024-byte chunks: deterministic
                piece = body[i : i + 1024]
                chunks.append(f"{len(piece):x}".encode() + _CRLF + piece + _CRLF)
                i += 1024
            body = b"".join(chunks) + b"0" + _CRLF + _CRLF
            extra += "Transfer-Encoding: chunked\r\n"
            length_line = ""
        else:
            length_line = f"Content-Length: {len(body)}\r\n"
        http = (
            f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {ctype}\r\n"
            f"{extra}{length_line}\r\n"
        ).encode("ascii") + body
        head = (
            b"WARC/1.0\r\n"
            + b"WARC-Type: response\r\n"
            + b"WARC-Target-URI: " + r["url"].encode("utf-8") + b"\r\n"
            + b"WARC-Date: " + r.get("date", "2024-01-01T00:00:00Z").encode("ascii") + b"\r\n"
            + b"Content-Type: application/http; msgtype=response\r\n"
            + b"Content-Length: " + str(len(http)).encode("ascii") + b"\r\n"
            + b"\r\n"
        )
        member = head + http + b"\r\n\r\n"
        gz = io.BytesIO()
        with gzip.GzipFile(fileobj=gz, mode="wb", mtime=0) as fh:
            fh.write(member)
        out.write(gz.getvalue())
    return out.getvalue()


def read_warc_responses(
    spark: SparkSession,
    path: str,
    chunk_records: int = 2000,
) -> DataFrame:
    """The raw-WARC half of the content story: scan ``response``
    records (HTTP headers + HTML body — what CommonCrawl's WARC files
    carry before the WET conversion precomputes text) into one row per
    record: (file, url, date, status, content_type, content_encoding,
    length, html). Chunked transfer framing and gzip/deflate content
    codings are DECODED; ``content_encoding`` is the residual coding
    ("" when fully decoded — filter on it before treating ``html`` as
    text, as ``warc_responses_to_documents`` does). ``length`` is the
    decoded HTTP body byte length (headers stripped), html decoded per
    the Content-Type charset (utf-8 fallback). One task per file,
    O(chunk) memory, loud framing errors — feed ``html`` through
    ``functions.text.html_to_text`` (pipelines/web_ingest wires it) to
    get the text WET would have given you."""
    import glob as _glob

    import pandas as pd

    if chunk_records < 1:
        raise ValueError(f"chunk_records must be >= 1, got {chunk_records}")
    files = sorted(_glob.glob(path))
    if not files:
        raise ValueError(f"no WARC files match {path}")
    from ..sinks import local_rows_df

    dirs_df = local_rows_df(
        spark,
        [(i, f) for i, f in enumerate(files)],
        "i int, file string",
        slices=len(files),
    )

    def _scan(batches):
        for pdf in batches:
            for fname in pdf["file"]:
                rows = []
                with open(fname, "rb") as raw:
                    magic = raw.read(2)
                    raw.seek(0)
                    stream = (
                        gzip.GzipFile(fileobj=raw) if magic == b"\x1f\x8b" else raw
                    )
                    for headers, payload in iter_warc_records(stream):
                        if headers.get("WARC-Type", "") != "response":
                            continue
                        meta, body = split_http_response(payload)
                        rows.append(
                            {
                                "file": os.path.basename(fname),
                                "url": headers.get("WARC-Target-URI", ""),
                                "date": headers.get("WARC-Date", ""),
                                "status": meta["status"],
                                "content_type": meta["content_type"],
                                "content_encoding": meta["content_encoding"],
                                "length": len(body),
                                "html": _decode_body(body, meta["charset"]),
                            }
                        )
                        if len(rows) >= chunk_records:
                            yield pd.DataFrame(rows)
                            rows = []
                if rows:
                    yield pd.DataFrame(rows)

    return dirs_df.mapInPandas(
        _scan,
        "file string, url string, date string, status int, "
        "content_type string, content_encoding string, length long, "
        "html string",
    )


def read_wet(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = ("conversion",),
    chunk_records: int = 2000,
) -> DataFrame:
    """Scan ``path`` (a glob of ``*.warc.wet(.gz)`` files) into one row
    per matching record: (file, url, date, record_type, length, text).
    One task per file; gzip is detected by magic per file. Rows yield
    in ``chunk_records`` batches, so task memory is O(chunk), never
    O(shard) — a real WET shard is ~400 MB uncompressed, and 32
    concurrent whole-shard buffers is needless pressure the
    mapInPandas iterator contract already avoids."""
    import glob as _glob

    import pandas as pd

    if chunk_records < 1:
        raise ValueError(f"chunk_records must be >= 1, got {chunk_records}")
    files = sorted(_glob.glob(path))
    if not files:
        raise ValueError(f"no WET files match {path}")
    from ..sinks import local_rows_df

    dirs_df = local_rows_df(
        spark,
        [(i, f) for i, f in enumerate(files)],
        "i int, file string",
        slices=len(files),
    )
    types = set(record_types)

    def _scan(batches):
        for pdf in batches:
            for fname in pdf["file"]:
                rows = []
                with open(fname, "rb") as raw:
                    magic = raw.read(2)
                    raw.seek(0)
                    stream = (
                        gzip.GzipFile(fileobj=raw) if magic == b"\x1f\x8b" else raw
                    )
                    for headers, payload in iter_warc_records(stream):
                        rt = headers.get("WARC-Type", "")
                        if rt not in types:
                            continue
                        rows.append(
                            {
                                "file": os.path.basename(fname),
                                "url": headers.get("WARC-Target-URI", ""),
                                "date": headers.get("WARC-Date", ""),
                                "record_type": rt,
                                "length": len(payload),
                                "text": payload.decode("utf-8", "replace"),
                            }
                        )
                        if len(rows) >= chunk_records:
                            yield pd.DataFrame(rows)
                            rows = []
                if rows:
                    yield pd.DataFrame(rows)

    return dirs_df.mapInPandas(
        _scan,
        "file string, url string, date string, record_type string, "
        "length long, text string",
    )
