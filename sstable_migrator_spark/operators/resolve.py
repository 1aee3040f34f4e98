"""T4 — the external DNS-resolution boundary (SURVEY §2.9).

The reference shells out to puredns/massdns with ``--rate-limit 1000``
(daily_certstream_download.sh:107-108) between the prepare and upload
jobs. That is an out-of-engine network stage; here it is a pluggable
Arrow-batched ``mapInPandas`` operator:

- the *plumbing* is real — batch shape, rate limiting, output wire
  schema (``domain,record_type,ip`` massdns triples, App.java:343-353);
- the *resolver* is injectable; the default is a deterministic fake
  (md5-derived answers incl. NXDOMAIN and CNAME cases) because this
  container has no DNS egress. A real deployment passes a resolver
  callable backed by an async DNS client.

Rate limiting happens per executor slot: the domain list is spread
round-robin over ``parallelism`` tasks and each task meters its own
lookups to ``rate_limit_qps / parallelism``, so the aggregate reaches
the cap without passing it — the Spark analog of massdns'
single-process limiter.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

RESOLVED_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("record_type", T.StringType()),
        T.StructField("ip", T.StringType()),
    ]
)


def fake_resolver(domain: str) -> tuple[str, str] | None:
    """Deterministic stand-in for a DNS lookup: ~1/16 NXDOMAIN, ~1/16
    CNAME, else an A record with md5-derived octets."""
    h = hashlib.md5(domain.encode("utf-8", "surrogatepass")).digest()
    if h[0] % 16 == 0:
        return None  # NXDOMAIN
    if h[0] % 16 == 1:
        return ("CNAME", f"cdn{h[1] % 10}.edge.example.com")
    return ("A", f"{h[1] % 223 + 1}.{h[2]}.{h[3]}.{h[4]}")


def resolve_domains(
    domains: DataFrame,
    domain_col: str = "domain",
    resolver: Callable[[str], tuple[str, str] | None] | None = None,
    rate_limit_qps: float | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Resolve a domain list into massdns-style triples; NXDOMAIN rows
    are dropped (massdns simply emits nothing for them).

    ``rate_limit_qps`` is the *aggregate* cap; each task self-limits to
    its share. None disables metering (tests, offline fakes).
    """
    fn = resolver or fake_resolver
    n_slots = parallelism or domains.sparkSession.sparkContext.defaultParallelism
    per_task_qps = (rate_limit_qps / max(n_slots, 1)) if rate_limit_qps else None

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        interval = (1.0 / per_task_qps) if per_task_qps else 0.0
        next_ok = time.monotonic()
        for pdf in batches:
            out = {"domain": [], "record_type": [], "ip": []}
            for d in pdf[domain_col]:
                if interval:
                    now = time.monotonic()
                    if now < next_ok:
                        time.sleep(next_ok - now)
                    next_ok = max(next_ok, now) + interval
                ans = fn(d)
                if ans is None:
                    continue
                rt, ip = ans
                out["domain"].append(d)
                out["record_type"].append(rt)
                out["ip"].append(ip)
            yield pd.DataFrame(out, columns=["domain", "record_type", "ip"])

    todo = domains.select(domain_col)
    if per_task_qps:
        # The shares add up to the cap only if n_slots tasks run: AQE
        # often coalesces a small input to one partition.
        todo = todo.repartition(n_slots)
    return todo.mapInPandas(op, RESOLVED_SCHEMA)


def wire_resolver(
    transport: Callable[[bytes], bytes], qtype: str = "A"
) -> Callable[[str], tuple[str, str] | None]:
    """Real-protocol resolver for ``resolve_domains``: speaks RFC 1035
    wire format (functions/dnswire.py) through an injected byte
    transport — ``transport(query_bytes) -> response_bytes``. In a
    deployment the transport is a UDP socket pair (the exact protocol
    massdns speaks, daily_certstream_download.sh:107-108); in tests it
    is canned bytes built with ``dnswire.build_response``. Keeping the
    socket OUT of this callable keeps the operator deterministic and
    the network at the edge.

    Query ids derive from the domain hash so retries/reruns are
    reproducible; a qid mismatch in the response raises (the spoofing
    guard every stub resolver performs). NXDOMAIN / empty answer
    sections return None (massdns emits nothing for them); CNAME
    answers win over address records only when no address is present,
    matching the reference's A-record-first triple shape
    (App.java:343-353).
    """
    from sstable_migrator_spark.functions.dnswire import (
        RCODE_NXDOMAIN,
        build_query,
        parse_message,
    )

    def resolve(domain: str) -> tuple[str, str] | None:
        qid = int.from_bytes(
            hashlib.md5(domain.encode("utf-8", "surrogatepass")).digest()[:2], "big"
        )
        resp = parse_message(transport(build_query(domain, qtype=qtype, qid=qid)))
        if resp["qid"] != qid:
            raise ValueError(f"qid mismatch for {domain}: sent {qid}, got {resp['qid']}")
        if resp["rcode"] == RCODE_NXDOMAIN or not resp["answers"]:
            return None
        addr = next((a for a in resp["answers"] if a["rtype"] == qtype), None)
        if addr is not None:
            return (qtype, addr["value"])
        cname = next((a for a in resp["answers"] if a["rtype"] == "CNAME"), None)
        if cname is not None:
            return ("CNAME", cname["value"])
        a0 = resp["answers"][0]
        return (a0["rtype"], a0["value"])

    return resolve


def udp_transport(
    host: str,
    port: int = 53,
    timeout_s: float = 2.0,
    retries: int = 2,
    enabled: bool | None = None,
) -> Callable[[bytes], bytes]:
    """The REAL network transport for ``wire_resolver``: one UDP
    datagram out, one back — exactly what massdns puts on the wire
    (daily_certstream_download.sh:107-108). OFF by default: network
    egress stays an explicit opt-in via ``SPARK_GRAFT_DNS_UDP=1`` (or
    ``enabled=True`` for tests against a loopback server), so reruns of
    the pipeline never silently reach the internet; the deterministic
    fake remains the default resolver everywhere.

    Timeouts retry ``retries`` times with a fresh socket (fresh
    ephemeral port — the same anti-birthday-attack measure stub
    resolvers take, complementing wire_resolver's qid check), then
    raise TimeoutError. Truncated (TC) responses are the caller's
    concern: massdns-style pipelines re-query elsewhere rather than
    fall back to TCP."""
    import os
    import socket

    if enabled is None:
        enabled = os.environ.get("SPARK_GRAFT_DNS_UDP") == "1"
    if not enabled:
        raise RuntimeError(
            "UDP DNS transport is disabled by default; set SPARK_GRAFT_DNS_UDP=1 "
            "(or pass enabled=True) to allow network egress"
        )

    def transport(query: bytes) -> bytes:
        last: Exception | None = None
        for _ in range(retries + 1):
            try:
                with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
                    s.settimeout(timeout_s)
                    s.sendto(query, (host, port))
                    data, _addr = s.recvfrom(4096)
                    return data
            except socket.timeout as e:  # noqa: PERF203 — retry loop
                last = e
        raise TimeoutError(f"no DNS response from {host}:{port}") from last

    return transport
