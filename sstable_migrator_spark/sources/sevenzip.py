"""Minimal 7z archive extraction (SURVEY S5) on stdlib ``lzma`` only.

The reference stages certstream dumps that arrive as .7z
(daily_certstream_download.sh:33-39) with the external ``7z`` binary.
This sandbox has neither ``7z`` nor ``py7zr``, so ``stage_url`` uses
this dependency-free implementation of the public 7z container format
(7zFormat.txt in the 7-Zip SDK): signature header, variable-length
numbers, streams info (pack/unpack/substreams), files info, and
optionally LZMA-compressed ("encoded") headers.

Supported coders: Copy (0x00), LZMA1 (0x030101), LZMA2 (0x21), Delta
(0x03) and BCJ x86 (0x03030103) as chain filters — all of which map to
``lzma.FORMAT_RAW`` filter chains. Encrypted or exotic archives raise
``SevenZipError`` — staging is a driver-side, pre-Spark step, so a
loud failure beats a silent wrong read.

Scale note: archive extraction is inherently single-stream; the Spark
job only ever sees the *extracted* members. For many archives,
parallelism comes from staging N archives concurrently (one task per
URL), not from inside one archive.
"""

from __future__ import annotations

import lzma
import struct

_SIGNATURE = b"7z\xbc\xaf\x27\x1c"

# header property ids (7zFormat.txt)
_K_END = 0x00
_K_HEADER = 0x01
_K_MAIN_STREAMS = 0x04
_K_FILES_INFO = 0x05
_K_PACK_INFO = 0x06
_K_UNPACK_INFO = 0x07
_K_SUBSTREAMS_INFO = 0x08
_K_SIZE = 0x09
_K_CRC = 0x0A
_K_FOLDER = 0x0B
_K_UNPACK_SIZES = 0x0C
_K_NUM_UNPACK_STREAM = 0x0D
_K_EMPTY_STREAM = 0x0E
_K_NAME = 0x11
_K_ENCODED_HEADER = 0x17


class SevenZipError(ValueError):
    """Malformed or unsupported 7z archive."""


class _Reader:
    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def bytes(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise SevenZipError("truncated archive")
        self.pos += n
        return b

    def number(self) -> int:
        """7z variable-length number (NOT LEB128): the first byte's high
        bits say how many full little-endian bytes follow."""
        first = self.byte()
        mask = 0x80
        value = 0
        for i in range(8):
            if first & mask == 0:
                value |= (first & (mask - 1)) << (8 * i)
                return value
            value |= self.byte() << (8 * i)
            mask >>= 1
        return value

    def bit_vector(self, n: int) -> list[bool]:
        bits: list[bool] = []
        b = 0
        mask = 0
        for _ in range(n):
            if mask == 0:
                b = self.byte()
                mask = 0x80
            bits.append(bool(b & mask))
            mask >>= 1
        return bits

    def bool_vector_all_defined(self, n: int) -> list[bool]:
        all_defined = self.byte()
        if all_defined:
            return [True] * n
        return self.bit_vector(n)


class _Coder:
    __slots__ = ("codec_id", "num_in", "num_out", "props")

    def __init__(self, codec_id: bytes, num_in: int, num_out: int, props: bytes):
        self.codec_id = codec_id
        self.num_in = num_in
        self.num_out = num_out
        self.props = props


class _Folder:
    def __init__(self):
        self.coders: list[_Coder] = []
        self.bind_pairs: list[tuple[int, int]] = []
        self.packed_indices: list[int] = []
        self.unpack_sizes: list[int] = []
        self.num_unpack_streams = 1
        self.substream_sizes: list[int] = []
        self.crc_defined = False  # folder CRC present in UnpackInfo

    @property
    def unpack_size(self) -> int:
        """Size of the folder's final output stream: the out-stream that
        is not consumed by any bind pair."""
        bound_outs = {out for _, out in self.bind_pairs}
        for i in range(len(self.unpack_sizes) - 1, -1, -1):
            if i not in bound_outs:
                return self.unpack_sizes[i]
        raise SevenZipError("folder has no unbound output stream")


def _lzma1_filter(props: bytes) -> dict:
    if len(props) != 5:
        raise SevenZipError("LZMA1 props must be 5 bytes")
    p = props[0]
    lc, rem = p % 9, p // 9
    lp, pb = rem % 5, rem // 5
    dict_size = struct.unpack("<I", props[1:5])[0]
    return {
        "id": lzma.FILTER_LZMA1,
        "lc": lc,
        "lp": lp,
        "pb": pb,
        "dict_size": max(dict_size, 4096),
    }


def _lzma2_filter(props: bytes) -> dict:
    if len(props) != 1:
        raise SevenZipError("LZMA2 props must be 1 byte")
    p = props[0]
    if p > 40:
        raise SevenZipError(f"bad LZMA2 dict prop {p}")
    dict_size = 0xFFFFFFFF if p == 40 else (2 | (p & 1)) << (p // 2 + 11)
    return {"id": lzma.FILTER_LZMA2, "dict_size": max(dict_size, 4096)}


def _decode_folder(folder: _Folder, packed: bytes) -> bytes:
    """Decompress one folder's packed bytes. Coders are mapped onto one
    FORMAT_RAW filter chain; the 7z bind chain orders coders
    output-first, while lzma filter lists are compression-ordered, so
    branch filters (delta/BCJ) precede the LZMA stage."""
    filters: list[dict] = []
    for coder in folder.coders:
        cid = coder.codec_id
        if cid == b"\x00":  # Copy
            if len(folder.coders) != 1:
                raise SevenZipError("Copy coder only supported standalone")
            return packed[: folder.unpack_size]
        if cid == b"\x03\x01\x01":
            filters.append(_lzma1_filter(coder.props))
        elif cid == b"\x21":
            filters.append(_lzma2_filter(coder.props))
        elif cid == b"\x03":  # Delta
            dist = (coder.props[0] + 1) if coder.props else 1
            filters.append({"id": lzma.FILTER_DELTA, "dist": dist})
        elif cid == b"\x03\x03\x01\x03":  # BCJ x86
            filters.append({"id": lzma.FILTER_X86})
        else:
            raise SevenZipError(f"unsupported coder id {cid.hex()}")

    # compression order: branch filters first, LZMA last
    filters.sort(key=lambda f: f["id"] in (lzma.FILTER_LZMA1, lzma.FILTER_LZMA2))
    expected = folder.unpack_size
    dec = lzma.LZMADecompressor(format=lzma.FORMAT_RAW, filters=filters)
    try:
        out = dec.decompress(packed, max_length=expected)
        while len(out) < expected and not dec.eof:
            chunk = dec.decompress(b"", max_length=expected - len(out))
            if not chunk:
                break
            out += chunk
    except lzma.LZMAError as e:
        raise SevenZipError(f"folder decompression failed: {e}") from e
    if len(out) < expected:
        raise SevenZipError(f"folder truncated: {len(out)} < {expected}")
    return out[:expected]


def _parse_streams_info(r: _Reader) -> tuple[int, list[int], list[_Folder]]:
    """Returns (pack_pos, pack_sizes, folders) with substream sizes set."""
    pack_pos = 0
    pack_sizes: list[int] = []
    folders: list[_Folder] = []

    prop = r.number()
    if prop == _K_PACK_INFO:
        pack_pos = r.number()
        num_pack = r.number()
        while True:
            p = r.number()
            if p == _K_END:
                break
            if p == _K_SIZE:
                pack_sizes = [r.number() for _ in range(num_pack)]
            elif p == _K_CRC:
                defined = r.bool_vector_all_defined(num_pack)
                r.bytes(4 * sum(defined))
            else:
                raise SevenZipError(f"unexpected prop {p} in PackInfo")
        prop = r.number()

    if prop == _K_UNPACK_INFO:
        if r.number() != _K_FOLDER:
            raise SevenZipError("expected kFolder")
        num_folders = r.number()
        if r.byte() != 0:
            raise SevenZipError("external folder data unsupported")
        for _ in range(num_folders):
            folder = _Folder()
            num_coders = r.number()
            total_in = total_out = 0
            for _ in range(num_coders):
                flags = r.byte()
                codec_id = r.bytes(flags & 0x0F)
                num_in = num_out = 1
                if flags & 0x10:
                    num_in = r.number()
                    num_out = r.number()
                props = b""
                if flags & 0x20:
                    props = r.bytes(r.number())
                if flags & 0x80:
                    raise SevenZipError("alternative coder methods unsupported")
                folder.coders.append(_Coder(codec_id, num_in, num_out, props))
                total_in += num_in
                total_out += num_out
            for _ in range(total_out - 1):
                folder.bind_pairs.append((r.number(), r.number()))
            num_packed = total_in - len(folder.bind_pairs)
            if num_packed == 1:
                bound_ins = {i for i, _ in folder.bind_pairs}
                folder.packed_indices = [
                    i for i in range(total_in) if i not in bound_ins
                ]
            else:
                folder.packed_indices = [r.number() for _ in range(num_packed)]
            folders.append(folder)
        if r.number() != _K_UNPACK_SIZES:
            raise SevenZipError("expected kCodersUnpackSize")
        for folder in folders:
            n_out = sum(c.num_out for c in folder.coders)
            folder.unpack_sizes = [r.number() for _ in range(n_out)]
        while True:
            p = r.number()
            if p == _K_END:
                break
            if p == _K_CRC:
                defined = r.bool_vector_all_defined(len(folders))
                r.bytes(4 * sum(defined))
                for folder, d in zip(folders, defined):
                    folder.crc_defined = bool(d)
            else:
                raise SevenZipError(f"unexpected prop {p} in UnpackInfo")
        prop = r.number()

    for folder in folders:  # default: one substream spanning the folder
        folder.substream_sizes = [folder.unpack_size]

    if prop == _K_SUBSTREAMS_INFO:
        counts = [1] * len(folders)
        while True:
            p = r.number()
            if p == _K_END:
                break
            if p == _K_NUM_UNPACK_STREAM:
                counts = [r.number() for _ in folders]
            elif p == _K_SIZE:
                for folder, cnt in zip(folders, counts):
                    sizes = [r.number() for _ in range(cnt - 1)]
                    folder.substream_sizes = [*sizes, folder.unpack_size - sum(sizes)]
            elif p == _K_CRC:
                # 7zFormat.txt: digests are stored for every substream
                # EXCEPT folders whose single substream already has its
                # CRC in UnpackInfo (cnt == 1 and folder CRC defined)
                n_digests = sum(
                    cnt
                    for folder, cnt in zip(folders, counts)
                    if not (cnt == 1 and folder.crc_defined)
                )
                defined = r.bool_vector_all_defined(n_digests)
                r.bytes(4 * sum(defined))
            else:
                raise SevenZipError(f"unexpected prop {p} in SubStreamsInfo")
        for folder, cnt in zip(folders, counts):
            folder.num_unpack_streams = cnt
            if len(folder.substream_sizes) != cnt:
                folder.substream_sizes = (
                    [folder.unpack_size] if cnt == 1 else folder.substream_sizes
                )
        prop = r.number()

    if prop != _K_END:
        raise SevenZipError(f"unexpected prop {prop} at end of StreamsInfo")
    return pack_pos, pack_sizes, folders


def _parse_files_info(r: _Reader) -> tuple[list[str], list[bool]]:
    """Returns (names, is_empty_stream)."""
    num_files = r.number()
    empty_stream = [False] * num_files
    names: list[str] = []
    while True:
        prop = r.number()
        if prop == _K_END:
            break
        size = r.number()
        end = r.pos + size
        if prop == _K_EMPTY_STREAM:
            empty_stream = r.bit_vector(num_files)
        elif prop == _K_NAME:
            if r.byte() != 0:
                raise SevenZipError("external names unsupported")
            raw = r.bytes(end - r.pos)
            names = raw.decode("utf-16-le").split("\x00")[:-1]
        # all other properties (mtime, attributes, ...) are skipped
        r.pos = end
    if not names:
        names = [f"member_{i}" for i in range(num_files)]
    if len(names) != num_files:
        raise SevenZipError("name count mismatch")
    return names, empty_stream


def extract_7z(source: str | bytes) -> dict[str, bytes]:
    """Extract all members of a 7z archive to ``{name: bytes}``."""
    if isinstance(source, bytes):
        buf = source
    else:
        with open(source, "rb") as f:
            buf = f.read()

    if buf[:6] != _SIGNATURE:
        raise SevenZipError("bad 7z signature")
    next_off, next_size = struct.unpack("<QQ", buf[12:28])
    header = buf[32 + next_off : 32 + next_off + next_size]
    if len(header) != next_size:
        raise SevenZipError("truncated header")

    r = _Reader(header)
    prop = r.number()
    if prop == _K_ENCODED_HEADER:
        pack_pos, pack_sizes, folders = _parse_streams_info(r)
        if len(folders) != 1:
            raise SevenZipError("encoded header must be a single folder")
        start = 32 + pack_pos
        packed = buf[start : start + sum(pack_sizes)]
        r = _Reader(_decode_folder(folders[0], packed))
        prop = r.number()
    if prop != _K_HEADER:
        raise SevenZipError(f"expected kHeader, got {prop}")

    pack_pos, pack_sizes, folders = [], [], []
    names: list[str] = []
    empty_stream: list[bool] = []
    pack_pos = 0
    while True:
        prop = r.number()
        if prop == _K_END:
            break
        if prop == _K_MAIN_STREAMS:
            pack_pos, pack_sizes, folders = _parse_streams_info(r)
        elif prop == _K_FILES_INFO:
            names, empty_stream = _parse_files_info(r)
        else:
            raise SevenZipError(f"unsupported top-level prop {prop}")

    # decode folders in order, slicing packed bytes per folder
    member_data: list[bytes] = []
    pos = 32 + pack_pos
    pack_iter = iter(pack_sizes)
    for folder in folders:
        n_packed = len(folder.packed_indices)
        sizes = [next(pack_iter) for _ in range(n_packed)]
        packed = buf[pos : pos + sum(sizes)]
        pos += sum(sizes)
        out = _decode_folder(folder, packed)
        off = 0
        for ssize in folder.substream_sizes:
            member_data.append(out[off : off + ssize])
            off += ssize

    result: dict[str, bytes] = {}
    data_i = 0
    for name, empty in zip(names, empty_stream or [False] * len(names)):
        if empty:
            result[name] = b""
        else:
            if data_i >= len(member_data):
                raise SevenZipError("more non-empty files than substreams")
            result[name] = member_data[data_i]
            data_i += 1
    return result


def is_7z(payload_head: bytes) -> bool:
    return payload_head[:6] == _SIGNATURE
