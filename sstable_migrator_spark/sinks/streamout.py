"""K2 transport: actually move the SSTable bytes the stream plan routes.

The reference's bulk load is ``sstableloader -d <host>``
(daily_all_upload.sh:37-39): for every token range, the sstable
components are streamed to the RF replicas owning the range. The repo
already produces every input (sinks/ring.write_sstables: one BIG-format
sstable per range plus ``_stream_plan.json`` / ``_sstable_manifests
.json``); this module moves the bytes over a real socket with
end-to-end integrity acknowledgement. The Cassandra internode
streaming protocol itself is deliberately NOT reproduced — it is
version-negotiated against a live cluster, which is exactly why the
reference shells out to sstableloader rather than speaking it. The
engine boundary here is the framed transport below, the same injection
discipline as the DNS path (operators/resolve.wire_resolver, T4): a
production deployment swaps ``endpoint_resolver`` for real node
addresses; tests plug a loopback receiver.

Frame protocol ``SSTABLE-STREAM/1`` (big-endian, one TCP session per
(range, endpoint)):

    magic  b"SSTS1\\n"
    u32    header length, then header JSON
           {keyspace, table, range_id, endpoint, files: [[name, size], ...]}
    per file, in header order:
           raw bytes (exactly the advertised size), then 32-byte sha256
    per file the receiver answers with the sha256 IT computed over what
    it wrote; the sender verifies byte identity end to end and raises
    ``StreamError`` on any divergence.

Scale: streaming is I/O-bound file movement — a thread pool over
(range, endpoint) sessions saturates a NIC from one host (what
sstableloader does). When sstables live on a DFS across executors, run
the same ``send_range`` inside ``foreachPartition`` over range ids so
each executor streams the ranges it wrote; the protocol is unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
import socket
import socketserver
import struct
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

MAGIC = b"SSTS1\n"
_CHUNK = 1 << 20


class StreamError(RuntimeError):
    """A stream session failed integrity verification or framing."""


def _read_exact(sock_file, n: int) -> bytes:
    buf = sock_file.read(n)
    if buf is None or len(buf) != n:
        raise StreamError(f"short read: wanted {n}, got {len(buf or b'')}")
    return buf


def send_range(
    conn: socket.socket,
    directory: str,
    prefix: str,
    *,
    keyspace: str,
    table: str,
    range_id: int,
    endpoint: str,
) -> dict:
    """Stream every ``<prefix>-*`` component in ``directory`` over an
    open socket, verifying the receiver's per-file sha256 acks. Returns
    ``{files, bytes}``. The caller owns the socket lifecycle."""
    names = sorted(
        f for f in os.listdir(directory) if f.startswith(prefix + "-")
    )
    if not names:
        raise StreamError(f"no components matching {prefix}-* in {directory}")
    sizes = [os.path.getsize(os.path.join(directory, n)) for n in names]
    header = json.dumps(
        {
            "keyspace": keyspace,
            "table": table,
            "range_id": range_id,
            "endpoint": endpoint,
            "files": [[n, s] for n, s in zip(names, sizes)],
        }
    ).encode("utf-8")
    wf = conn.makefile("wb")
    rf = conn.makefile("rb")
    try:
        wf.write(MAGIC)
        wf.write(struct.pack(">I", len(header)))
        wf.write(header)
        total = 0
        for name, size in zip(names, sizes):
            h = hashlib.sha256()
            with open(os.path.join(directory, name), "rb") as fh:
                while True:
                    chunk = fh.read(_CHUNK)
                    if not chunk:
                        break
                    h.update(chunk)
                    wf.write(chunk)
            wf.write(h.digest())
            wf.flush()
            ack = _read_exact(rf, 32)
            if ack != h.digest():
                raise StreamError(
                    f"{endpoint} ack mismatch for {name}: sent "
                    f"{h.hexdigest()[:12]}, receiver wrote {ack.hex()[:12]}"
                )
            total += size
        return {"files": len(names), "bytes": total}
    except OSError as e:
        # a receiver that rejects the session mid-transfer surfaces as
        # a reset/broken pipe on our side; keep the advertised contract
        # (StreamError on any divergence) instead of leaking socket
        # exception types to callers
        raise StreamError(f"{endpoint} dropped the session: {e}") from e
    finally:
        for f in (wf, rf):
            try:
                f.close()
            except OSError:
                pass  # flushing buffered bytes into a dead connection


def stream_sstables(
    path: str,
    endpoint_resolver: Callable[[str], tuple[str, int]],
    max_workers: int = 4,
) -> list[dict]:
    """Execute the stream plan ``write_sstables`` left in ``path``:
    for every range that produced an sstable, open one session per RF
    endpoint (resolved to ``(host, port)`` by ``endpoint_resolver``)
    and send its components. Sessions run on a thread pool — they are
    socket-bound, not CPU-bound. Returns one summary row per
    (range, endpoint) session."""
    with open(os.path.join(path, "_stream_plan.json")) as fh:
        plan = json.load(fh)
    with open(os.path.join(path, "_sstable_manifests.json")) as fh:
        manifests = json.load(fh)
    endpoints_by_range = {r["range_id"]: r["endpoints"] for r in plan["ranges"]}
    # iterate the manifest LIST: a row-capped range legitimately holds
    # several generations, each streamed as its own session
    sessions = []
    for m in sorted(manifests, key=lambda m: (m["range_id"], m["prefix"])):
        rid = m["range_id"]
        directory = os.path.join(path, f"cass_range={rid}")
        for ep in endpoints_by_range[rid]:
            sessions.append((rid, m["prefix"], directory, ep))

    def _run(args):
        rid, prefix, directory, ep = args
        host, port = endpoint_resolver(ep)
        with socket.create_connection((host, port)) as conn:
            out = send_range(
                conn,
                directory,
                prefix,
                keyspace=plan["keyspace"],
                table=plan["table"],
                range_id=rid,
                endpoint=ep,
            )
        return {"range_id": rid, "endpoint": ep, **out}

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return list(pool.map(_run, sessions))


def verify_streamed(target_dir: str, path: str) -> dict:
    """Post-load audit — the ``nodetool verify`` analog for a landed
    bulk load: for every range in the source manifest and every RF
    endpoint in the stream plan, check the landed directory exists,
    holds the complete component set for the manifest's prefix, and
    that its sstable re-parses green (``read_sstable``'s ``ok``: index
    positions, summary, digest, CRCs, bloom membership) with the
    advertised partition and row counts.
    Work is O(streamed bytes) re-read locally — the same cost profile
    as the tool it mirrors. Returns ``{sessions_expected, ok,
    missing, corrupt}`` where missing/corrupt list
    ``(range_id, endpoint[, reason])`` tuples."""
    from sstable_migrator_spark.sinks.sstable_format import read_sstable

    with open(os.path.join(path, "_stream_plan.json")) as fh:
        plan = json.load(fh)
    with open(os.path.join(path, "_sstable_manifests.json")) as fh:
        manifests = json.load(fh)
    endpoints_by_range = {r["range_id"]: r["endpoints"] for r in plan["ranges"]}

    expected = ok = 0
    missing: list[tuple] = []
    corrupt: list[tuple] = []
    for m in sorted(manifests, key=lambda m: (m["range_id"], m["prefix"])):
        rid = m["range_id"]
        src = os.path.join(path, f"cass_range={rid}")
        comps = sorted(
            f for f in os.listdir(src) if f.startswith(m["prefix"] + "-")
        )
        for ep in endpoints_by_range[rid]:
            expected += 1
            dest = os.path.join(
                target_dir, ep, plan["keyspace"], plan["table"],
                f"cass_range={rid}",
            )
            if not os.path.isdir(dest):
                missing.append((rid, ep))
                continue
            absent = [c for c in comps
                      if not os.path.exists(os.path.join(dest, c))]
            if absent:
                missing.append((rid, ep, tuple(absent)))
                continue
            try:
                got = read_sstable(dest, prefix=m["prefix"])
            except Exception as e:  # noqa: BLE001 - any parse fault is corruption
                corrupt.append((rid, ep, f"unreadable: {e}"))
                continue
            n_parts = len(got["partitions"])
            n_rows = sum(len(p["rows"]) for p in got["partitions"])
            if not got["ok"]:
                corrupt.append((rid, ep, "integrity check failed"))
            elif (n_parts, n_rows) != (m["partitions"], m["rows"]):
                corrupt.append(
                    (rid, ep,
                     f"counts {n_parts}/{n_rows} != manifest "
                     f"{m['partitions']}/{m['rows']}")
                )
            else:
                ok += 1
    return {
        "sessions_expected": expected,
        "ok": ok,
        "missing": missing,
        "corrupt": corrupt,
    }


class _Handler(socketserver.BaseRequestHandler):
    def handle(self):  # noqa: D102 - socketserver contract
        rf = self.request.makefile("rb")
        wf = self.request.makefile("wb")
        try:
            if _read_exact(rf, len(MAGIC)) != MAGIC:
                raise StreamError("bad magic")
            (hlen,) = struct.unpack(">I", _read_exact(rf, 4))
            if hlen > 1 << 20:  # a session header is KBs; cap allocation
                raise StreamError(f"header too large: {hlen}")
            header = json.loads(_read_exact(rf, hlen).decode("utf-8"))
            for part in (header["endpoint"], header["keyspace"], header["table"]):
                if (
                    not isinstance(part, str)
                    or not part
                    or os.sep in part
                    or "\\" in part
                    or part.startswith(".")
                ):
                    raise StreamError(f"unsafe path component {part!r}")
            if not isinstance(header["range_id"], int) or isinstance(
                header["range_id"], bool
            ):
                raise StreamError(f"non-integer range_id {header['range_id']!r}")
            dest = os.path.join(
                self.server.target_dir,  # type: ignore[attr-defined]
                header["endpoint"],
                header["keyspace"],
                header["table"],
                f"cass_range={header['range_id']}",
            )
            os.makedirs(dest, exist_ok=True)
            files = header["files"]
            for i, (name, size) in enumerate(files):
                if (
                    not isinstance(name, str)
                    or os.sep in name
                    or "\\" in name
                    or name.startswith(".")
                ):
                    raise StreamError(f"unsafe component name {name!r}")
                if (
                    not isinstance(size, int)
                    or isinstance(size, bool)
                    or size < 0
                ):
                    raise StreamError(f"bad size for {name!r}: {size!r}")
                h = hashlib.sha256()
                with open(os.path.join(dest, name), "wb") as out:
                    left = size
                    while left:
                        chunk = _read_exact(rf, min(_CHUNK, left))
                        h.update(chunk)
                        out.write(chunk)
                        left -= len(chunk)
                sender_digest = _read_exact(rf, 32)
                ok = sender_digest == h.digest()
                if ok and i == len(files) - 1:
                    # record before the last ack: the ack is what lets the
                    # sender return, and its caller may read .sessions next
                    self._landed(header)
                if self.server.corrupt_acks:  # type: ignore[attr-defined]
                    wf.write(bytes(32))
                else:
                    wf.write(h.digest())
                wf.flush()
                if not ok:
                    raise StreamError(f"inline digest mismatch for {name}")
            if not files:
                self._landed(header)
        except (StreamError, OSError, ValueError, KeyError, TypeError):
            # framing/validation failures (json.JSONDecodeError and
            # UnicodeDecodeError are ValueErrors; missing header keys
            # KeyError; malformed files entries TypeError) and dropped
            # connections: the sender sees the missing ack and raises —
            # no traceback spam per junk session
            pass
        finally:
            for f in (wf, rf):
                try:
                    f.close()
                except OSError:
                    pass

    def _landed(self, header: dict) -> None:
        with self.server.lock:  # type: ignore[attr-defined]
            self.server.sessions.append(  # type: ignore[attr-defined]
                {
                    "endpoint": header["endpoint"],
                    "range_id": header["range_id"],
                    "files": len(header["files"]),
                }
            )


class SSTableReceiver:
    """Loopback stand-in for a cluster node's stream endpoint: accepts
    SSTABLE-STREAM/1 sessions on an ephemeral port and lands components
    under ``target_dir/<endpoint>/<keyspace>/<table>/cass_range=<id>/``.
    One receiver can play every node in a test ring (the endpoint name
    travels in the session header). ``corrupt_acks=True`` makes it
    acknowledge wrong digests — for failure-path tests."""

    def __init__(self, target_dir: str, corrupt_acks: bool = False):
        self._srv = socketserver.ThreadingTCPServer(
            ("127.0.0.1", 0), _Handler, bind_and_activate=True
        )
        self._srv.daemon_threads = True
        self._srv.target_dir = target_dir  # type: ignore[attr-defined]
        self._srv.corrupt_acks = corrupt_acks  # type: ignore[attr-defined]
        self._srv.sessions = []  # type: ignore[attr-defined]
        self._srv.lock = threading.Lock()  # type: ignore[attr-defined]
        self._thread = threading.Thread(
            target=self._srv.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def port(self) -> int:
        return self._srv.server_address[1]

    @property
    def sessions(self) -> list[dict]:
        with self._srv.lock:  # type: ignore[attr-defined]
            return list(self._srv.sessions)  # type: ignore[attr-defined]

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=5)
