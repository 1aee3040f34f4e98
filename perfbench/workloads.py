"""The workloads. Each drives the public functions of
``sstable_migrator_spark`` from outside, one client, closed loop:

- ``DailyLoad``    — one certstream day per batch: prepare -> resolve ->
  upload -> bulk load (write sstables, stream, audit) per table;
- ``CorpusDedup``  — one document shard per batch: exact dedup -> MinHash
  LSH pairs -> duplicate clusters;
- ``NightlyBatch`` — both of the above back to back, one batch each;
- ``LookupMix``    — a seeded mix of analytic queries, sstable point
  lookups (hits and misses) and full sstable scans over one day's store.

A workload has ``setup()`` (untimed inputs aside, counted in setup_s),
``batch(i)`` (timed; returns the records it processed) and ``check(i)``
(untimed; returns ``(attempted, failed)`` output checks). Every call
into the program sits in a span named after the function it calls.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import random
import shutil
import time

import gen
from common import last_stage_id, log, median, stage_totals

KEYSPACE = "ferret"
TABLES = ["rdnsv4", "subdomains", "cnames"]
# the reference's primary keys (App.java:143,171,198), as daily_upload_job
# writes them: (partition key, clustering)
PK = {
    "rdnsv4": (["ip8"], ["ip16", "ip24", "ipAddress"] + [f"p{i}" for i in range(1, 8)]),
    "subdomains": (["p1", "p2", "p3"], [f"p{i}" for i in range(4, 8)]),
    "cnames": (["target"], ["apexDomain", "domain"]),
}
RING_NODES = ["n1", "n2", "n3", "n4"]
VNODES = 1
RF = 2


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _manifests(path: str) -> list[dict]:
    with open(os.path.join(path, "_sstable_manifests.json")) as fh:
        return json.load(fh)


def _range_skew(manifests: list[dict], n_ranges: int) -> float:
    """max / mean rows per token range (ranges without rows count as 0)."""
    rows = [0] * n_ranges
    for m in manifests:
        rows[m["range_id"]] += m["rows"]
    mean = sum(rows) / n_ranges
    return max(rows) / mean if mean else 0.0


class Workload:
    name = ""
    # batches that make up the workload's whole mix: the warm-up runs one
    # cycle, and a run measures whole cycles
    CYCLE = 1

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.gen_s = 0.0  # input generation inside setup (excluded from setup_s)
        self.setup_check_s = 0.0  # output checks inside setup (excluded too)
        self.setup_checks = (0, 0)  # (attempted, failed) during setup
        self.failures: list[str] = []
        self.counts: dict[str, list[tuple]] = {}
        self.cur: int | None = None  # batch being run; None during set-up

    def count(self, key: str, value: float) -> None:
        self.counts.setdefault(key, []).append((self.cur, value))

    def timed_counts(self, key: str) -> list[float]:
        """Values recorded for timed batches (not set-up, not warm-up)."""
        return [v for b, v in self.counts.get(key, []) if b is not None and b >= self.CYCLE]

    def median_count(self, key: str) -> float:
        """Median over the timed batches, or the set-up value when the
        count is a property of the set-up (the lookup store)."""
        vals = self.timed_counts(key) or [v for b, v in self.counts.get(key, []) if b is None]
        return median(vals)

    def expect(self, ok: bool, what: str) -> int:
        if not ok:
            self.failures.append(what)
            log(f"CHECK FAILED: {what}")
        return 0 if ok else 1

    def probe(self, i: int) -> None:
        """Traced runs: extra actions that time stages a public call
        runs inside one action (after the batch, outside its wall)."""

    def retire(self, i: int) -> None:
        """Drop batch ``i``'s files once it is checked."""

    def close(self) -> None:
        pass


# --- the daily load ------------------------------------------------------------


class DailyLoad(Workload):
    """One certstream day per batch, each stage materialized by the
    benchmark and checked against the pure-Python reference."""

    name = "daily_load"
    ROWS_PER_DAY = 20000

    def setup(self, spark) -> None:
        from sstable_migrator_spark.sinks import ring, streamout
        from sstable_migrator_spark.sources import dims

        self.spark = spark
        t = time.perf_counter()
        self.gen = gen.FeedGen(self.seed, self.ROWS_PER_DAY)
        self.gen_s += time.perf_counter() - t
        self.tld = dims.load_tld_set()
        self.tld_set = set(self.tld)
        self.city = dims.synthetic_geoip_city(spark)
        self.asn = dims.synthetic_geoip_asn(spark)
        self.ring = ring.build_ring(RING_NODES, vnodes_per_node=VNODES)
        self.hist_dir = os.path.join(self.work, "in", "history")
        self.landing = os.path.join(self.work, "cluster")
        self.recv = streamout.SSTableReceiver(self.landing)
        self.tr.wrap(ring, "write_sstables", "sinks.ring.write_sstables")
        self.tr.wrap(streamout, "stream_sstables", "sinks.streamout.stream_sstables")
        self.tr.wrap(streamout, "verify_streamed", "sinks.streamout.verify_streamed")
        self.days: dict[int, dict] = {}
        self.props: list[dict] = []

    def inputs(self, i: int) -> None:
        """The day's feed files and the reference answers."""
        d = {"day": i, "root": os.path.join(self.work, f"day{i}")}
        d["feed_dir"] = os.path.join(self.work, "in", f"feed{i}")
        self.gen.write_history(self.hist_dir, upto=i)
        rows, kinds, raw = self.gen.write_feed(d["feed_dir"], i)
        prepared = gen.ref_prepare(rows, self.gen.history, i)
        resolved = gen.ref_resolve(prepared)
        d.update(feed_rows=len(rows), kinds=kinds, raw_bytes=raw, ref_prepared=prepared,
                 ref_resolved=resolved, ref_routed=gen.ref_route(resolved, self.tld_set),
                 tables_dir=os.path.join(d["root"], "tables"))
        self.days[i] = d

    def batch(self, i: int) -> int:
        from sstable_migrator_spark.operators.resolve import resolve_domains
        from sstable_migrator_spark.pipelines.daily import bulk_load_job, daily_prepare_job, daily_upload_job

        d = self.days[i]
        tr = self.tr
        spark = self.spark
        date = gen.FeedGen.date(i)
        d["_feed_df"] = spark.read.parquet(d["feed_dir"])
        d["_hist_df"] = spark.read.parquet(self.hist_dir)
        with tr.span("pipelines.daily.daily_prepare_job"):
            d["_prepared_plan"] = daily_prepare_job(
                d["_feed_df"], d["_hist_df"], blocklist_patterns=gen.BLOCKLIST,
                as_of=str(date), window_days=gen.WINDOW_DAYS,
            )
            d["prepared"] = d["_prepared_plan"].localCheckpoint()
        with tr.span("operators.resolve.resolve_domains"):
            d["resolved"] = resolve_domains(d["prepared"]).localCheckpoint()
        before = last_stage_id(spark) if tr.active else None
        with tr.span("pipelines.daily.daily_upload_job"):
            daily_upload_job(d["resolved"], self.city, self.asn, out_dir=d["tables_dir"], tld_set=self.tld,
                             batch_ts=f"{date} 00:00:00")
        if before is not None:
            d["upload_counts"] = stage_totals(spark, before)
        d["reports"] = {}
        for t in TABLES:
            part, clus = PK[t]
            with tr.span("pipelines.daily.bulk_load_job", table=t):
                d["reports"][t] = bulk_load_job(
                    spark.read.parquet(os.path.join(d["tables_dir"], t)),
                    os.path.join(d["root"], "staging", t),
                    keyspace=KEYSPACE, table=t, partition_key=part, clustering=clus,
                    ring=self.ring, endpoint_resolver=self._endpoint, rf=RF,
                    run_id=f"day{i}-{t}", verify_target=self.landing,
                )
        return d["feed_rows"]

    def _endpoint(self, ep: str) -> tuple[str, int]:
        return ("127.0.0.1", self.recv.port)

    def check(self, i: int) -> tuple[int, int]:
        """Prepare, resolve, the three tables and their bulk loads
        against the reference."""
        d = self.days[i]
        ref = d["ref_routed"]
        got_prep = sorted(r[0] for r in d["prepared"].collect())
        got_res = sorted(tuple(r) for r in d["resolved"].collect())
        attempted = 2
        failed = self.expect(got_prep == d["ref_prepared"],
                             f"day {i}: prepared {len(got_prep)} != reference {len(d['ref_prepared'])}")
        failed += self.expect(got_res == sorted(d["ref_resolved"]),
                              f"day {i}: resolved {len(got_res)} != reference {len(d['ref_resolved'])}")
        sst_bytes = sst_rows = data_bytes = 0
        for t in TABLES:
            attempted += 3
            n = _parquet_rows(os.path.join(d["tables_dir"], t))
            failed += self.expect(n == len(ref[t]), f"day {i}: table {t} has {n} rows, reference {len(ref[t])}")
            rep = d["reports"][t]
            staging = os.path.join(d["root"], "staging", t)
            ms = _manifests(staging)
            rows = sum(m["rows"] for m in ms)
            failed += self.expect(
                rep["status"] == "ok" and rep.get("audit_missing") == 0 and rep.get("audit_corrupt") == 0
                and rep.get("audit_ok") == rep["sessions"],
                f"day {i}: bulk load of {t} not clean: {rep}")
            failed += self.expect(rows == len(ref[t]), f"day {i}: sstables of {t} hold {rows} rows, reference {len(ref[t])}")
            sst_rows += rows
            data_bytes += sum(m["data_bytes"] for m in ms)
            sst_bytes += _dir_bytes(staging) - os.path.getsize(os.path.join(staging, "_sstable_manifests.json")) \
                - os.path.getsize(os.path.join(staging, "_stream_plan.json"))
            if t == "subdomains":
                self.count("sinks.ring.range_skew", _range_skew(ms, len(self.ring)))
        self._layer_counts(d, sst_rows, sst_bytes, data_bytes)
        self.gen.load_day(i, d["ref_prepared"])
        shutil.rmtree(self.landing, ignore_errors=True)  # audited: the next day lands afresh
        return attempted, failed

    def _layer_counts(self, d: dict, sst_rows: int, sst_bytes: int, data_bytes: int) -> None:
        n_prep = len(d["ref_prepared"])
        n_res = len(d["ref_resolved"])
        ref = d["ref_routed"]
        kept = len(ref["rdnsv4"]) + len(ref["cnames"])
        self.count("pipelines.daily.prepare_keep_ratio", n_prep / d["feed_rows"])
        self.count("operators.resolve.answer_ratio", n_res / n_prep if n_prep else 0.0)
        self.count("operators.ingest.keep_ratio", kept / n_res if n_res else 0.0)
        self.count("sstable_rows", sst_rows)
        self.count("sinks.sstable_format.bytes_per_row", data_bytes / sst_rows)
        self.count("stored_bytes_per_input_byte", sst_bytes / d["raw_bytes"])
        self.count("sinks.streamout.bytes", sum(r["bytes"] for r in d["reports"].values()))
        self.count("sinks.streamout.sessions", sum(r["sessions"] for r in d["reports"].values()))
        if "upload_counts" in d:
            from sstable_migrator_spark.plans.metrics import shuffle_summary

            self.count("pipelines.daily.prepare_shuffle_bytes",
                       shuffle_summary(d["_prepared_plan"])["shuffle_bytes_written"])
            self.count("pipelines.daily.upload_shuffle_bytes", d["upload_counts"]["shuffle_bytes"])
            self.count("pipelines.daily.upload_spill_bytes", d["upload_counts"]["spill_bytes"])
        # generated properties and their measured shares
        k = d["kinds"]
        n = d["feed_rows"]
        self.props.append({
            "day": d["day"],
            "feed_rows": n,
            "history_hit_in_window_share": k["hist_in"] / n,
            "history_hit_window_first_day_share": k["hist_edge_in"] / n,
            "history_hit_day_before_window_share": k["hist_edge_out"] / n,
            "history_hit_outside_window_share": k["hist_out"] / n,
            "invalid_share": k["invalid"] / n,
            "blocklisted_share": k["blocked"] / n,
            "allowlist_miss_share": k["allow_miss"] / n,
            "duplicate_share": (k["exact_dup"] + k["case_dup"]) / n,
            "wildcard_or_quoted_share": (k["wildcard"] + k["quoted"]) / n,
            "cname_share": sum(1 for r in d["ref_resolved"] if r[1] == "CNAME") / n_prep,
            "nxdomain_share": 1 - n_res / n_prep,
            "zipf_s": self.gen.zipf_s,
            "top1pct_apex_share": _top_share([r[0] for r in d["ref_resolved"]], self.gen.apexes),
        })

    def probe(self, i: int) -> None:
        """Traced runs only: the stages ``daily_prepare_job`` and
        ``daily_upload_job`` run inside one action each, materialized
        on their own over the same inputs (after the batch, untimed)."""
        from pyspark.sql import functions as F

        from sstable_migrator_spark.operators import ingest
        from sstable_migrator_spark.operators.dedup import anti_join_history
        from sstable_migrator_spark.pipelines.daily import DEFAULT_ALLOWLIST_RE

        d = self.days[i]
        tr = self.tr
        today = (d["_feed_df"].select(F.lower("domain").alias("domain"))
                 .filter(F.col("domain").rlike(DEFAULT_ALLOWLIST_RE)).distinct().localCheckpoint())
        with tr.span("operators.dedup.anti_join_history"):
            anti_join_history(today, d["_hist_df"], window_days=gen.WINDOW_DAYS,
                              as_of=str(gen.FeedGen.date(d["day"]))).count()
        with tr.span("operators.ingest.parse_and_route"):
            parsed = ingest.parse_and_route(d["resolved"], tld_set=self.tld, source="certstream").persist()
            parsed.count()
        a_rows = parsed.filter(F.col("keep") & ~F.col("is_cname"))
        with tr.span("operators.ingest.geoip_enrich"):
            enriched = ingest.geoip_enrich(a_rows, self.city, self.asn).persist()
            enriched.count()
        enriched.unpersist()
        parsed.unpersist()

    def retire(self, i: int) -> None:
        d = self.days.pop(i)
        shutil.rmtree(d["root"], ignore_errors=True)
        shutil.rmtree(d["feed_dir"], ignore_errors=True)

    def close(self) -> None:
        self.recv.close()


def _top_share(domains: list[str], apexes: list[str]) -> float:
    """Share of names under the top 1% most popular apexes."""
    top = tuple("." + a for a in apexes[: max(1, len(apexes) // 100)])
    return sum(1 for dname in domains if dname.endswith(top)) / len(domains) if domains else 0.0


# --- the read path ---------------------------------------------------------------


class LookupMix(Workload):
    """A seeded op mix over one day's store, in rounds of about a second.
    Three round kinds make up the mix (``ROUNDS``): each of the five
    analytic queries and the full scan once, and 40 point lookups. The
    lookups are spread so the three kinds take about the same time, and
    a run measures whole cycles of the three, so every run times the
    same mix and the round median rests on a dozen rounds or more."""

    name = "lookup_mix"
    STORE_ROWS = 6000
    # (analytic queries and scans, point lookups) per round kind; the mix
    # and the miss share are assumptions (README.md, "Traffic assumptions")
    ROUNDS = [(("scan",), 6), (("topk_apex", "topk_asn", "prefix"), 24), (("ppl", "keyset"), 10)]
    CYCLE = len(ROUNDS)
    MISS_SHARE = 0.25
    TOPK = 20
    PAGE = 50

    def setup(self, spark) -> None:
        """One day's store: the day's routed rows (from the pure-Python
        reference of the daily pipeline) as rdnsv4/subdomains parquet —
        the analytics side channel — and the subdomains table written
        as sstables by ``write_sstables`` on the same ring the daily
        load uses."""
        import datetime

        from sstable_migrator_spark import schemas
        from sstable_migrator_spark.sinks.ring import build_ring, write_sstables
        from sstable_migrator_spark.sources import dims

        self.spark = spark
        t = time.perf_counter()
        self.gen = gen.FeedGen(self.seed, self.STORE_ROWS)
        self.tld_set = set(dims.load_tld_set())
        feed, _ = self.gen.day_feed(0)
        routed = gen.ref_route(gen.ref_resolve(gen.ref_prepare(feed, self.gen.history, 0)), self.tld_set)
        self.tables_dir = os.path.join(self.work, "in", "tables")
        ts = datetime.datetime.combine(gen.FeedGen.date(0), datetime.time(), datetime.timezone.utc)
        for tname, schema in (("rdnsv4", schemas.RDNSV4), ("subdomains", schemas.SUBDOMAINS)):
            gen.write_table(os.path.join(self.tables_dir, tname), routed[tname], schema, ts, 4,
                            random.Random(f"tables-{self.seed}-{tname}"))
        self.gen_s += time.perf_counter() - t
        self.ring = build_ring(RING_NODES, vnodes_per_node=VNODES)
        part, clus = PK["subdomains"]
        self.sst = os.path.join(self.work, "sstables", "subdomains")
        with self.tr.span("sinks.ring.write_sstables"):
            write_sstables(spark.read.parquet(os.path.join(self.tables_dir, "subdomains")), self.sst,
                           keyspace=KEYSPACE, table="subdomains", partition_key=part, clustering=clus,
                           ring=self.ring, rf=RF)
        self.tables = {t: spark.read.parquet(os.path.join(self.tables_dir, t)) for t in ("rdnsv4", "subdomains")}
        t = time.perf_counter()
        self._reference(routed)
        self.setup_check_s = time.perf_counter() - t

    def _reference(self, routed: dict) -> None:
        """Expected answers: DuckDB over the same parquet for the
        analytics, the pure-Python reference for keys and rows."""
        import duckdb

        from sstable_migrator_spark.functions.cassandra import cassandra_token

        con = duckdb.connect()
        con.execute("SET threads TO 1")

        def q(sql: str, t: str):
            src = f"read_parquet('{os.path.join(self.tables_dir, t)}/*.parquet')"
            return [tuple(r) for r in con.execute(sql.format(src=src)).fetchall()]

        self.want_top_apex = q(f"SELECT p1, p2, p3, count(*) AS cnt FROM {{src}} GROUP BY ALL "
                               f"ORDER BY cnt DESC, p1, p2, p3 LIMIT {self.TOPK}", "subdomains")
        self.want_top_asn = q(f"SELECT asn, count(*) AS cnt FROM {{src}} GROUP BY ALL "
                              f"ORDER BY cnt DESC, asn LIMIT {self.TOPK}", "rdnsv4")
        self.want_ppl = q("SELECT count(*) FROM (SELECT ip24, row_number() OVER (PARTITION BY ip24 "
                          "ORDER BY ipAddress) AS rn FROM {src}) WHERE rn <= 1", "rdnsv4")[0][0]
        self.ip_keys = [r[0] for r in q("SELECT ipAddress FROM {src} ORDER BY ipAddress", "rdnsv4")]
        con.close()

        # subdomains rows per apex key (p1, p2, p3) -> sorted clustering rows
        by_key: dict[tuple, list[tuple]] = {}
        for r in routed["subdomains"]:
            by_key.setdefault((r["p1"], r["p2"], r["p3"]), []).append((r["p4"], r["p5"], r["p6"], r["p7"]))
        self.rows_by_key = {k: sorted(v) for k, v in by_key.items()}
        self.scan_rows = len(routed["subdomains"])
        # hit keys in apex-popularity order (Zipf over the ones stored)
        from sstable_migrator_spark.functions.domains import py_domain_parts

        def key_of(apex: str) -> tuple:
            p = py_domain_parts(apex, self.tld_set)
            return (p["p1"], p["p2"], p["p3"])

        seen = set()
        self.hit_keys = []
        for a in self.gen.apexes:
            k = key_of(a)
            if k in self.rows_by_key and k not in seen:
                seen.add(k)
                self.hit_keys.append(k)
        self.miss_keys = [k for k in (key_of(a) for a in self.gen.absent_apexes) if k not in self.rows_by_key]
        self.hit_cdf = gen.zipf_cdf(len(self.hit_keys), self.gen.zipf_s)
        bounds = [t for t, _ in sorted(self.ring)]

        def range_dir(k: tuple) -> str:
            i = bisect.bisect_left(bounds, cassandra_token(*k))
            return os.path.join(self.sst, f"cass_range={0 if i == len(bounds) else i}")

        self.range_dir = range_dir
        self.props = [{
            "rdnsv4_rows": len(routed["rdnsv4"]),
            "subdomains_rows": self.scan_rows,
            "hit_keys": len(self.hit_keys),
            "miss_keys": len(self.miss_keys),
            "miss_share": self.MISS_SHARE,
            "zipf_s": self.gen.zipf_s,
        }]
        ms = _manifests(self.sst)
        rows = sum(m["rows"] for m in ms)
        self.setup_checks = (1, self.expect(
            rows == self.scan_rows, f"store sstables hold {rows} rows, reference {self.scan_rows}"))
        self.count("sinks.ring.range_skew", _range_skew(ms, len(self.ring)))
        self.count("sstable_rows", rows)
        self.count("sources.sstable_source.rows", self.scan_rows)
        self.count("sinks.sstable_format.bytes_per_row", sum(m["data_bytes"] for m in ms) / rows)

    def inputs(self, i: int) -> None:
        """The round's op sequence, seeded; round ``i`` is of kind
        ``i % CYCLE``."""
        rng = random.Random(f"ops-{self.seed}-{i}")
        kinds, lookups = self.ROUNDS[i % self.CYCLE]
        ops = []
        for kind in kinds:
            if kind == "keyset":
                ops.append((kind, rng.choice(self.ip_keys)))
            elif kind == "prefix":
                ops.append((kind, self.hit_keys[gen.zipf_pick(rng, self.hit_cdf)]))
            else:
                ops.append((kind,))
        misses = round(lookups * self.MISS_SHARE)
        ops += [("miss", rng.choice(self.miss_keys)) for _ in range(misses)]
        ops += [("hit", self.hit_keys[gen.zipf_pick(rng, self.hit_cdf)]) for _ in range(lookups - misses)]
        rng.shuffle(ops)
        self.ops = ops
        self.results: list[tuple] = []

    # op kind -> the analytics function it calls
    QUERY_FN = {"topk_apex": "group_count_topk", "topk_asn": "group_count_topk",
                "ppl": "per_partition_limit", "keyset": "keyset_page", "prefix": "prefix_lookup"}

    def _build(self, kind: str, arg):
        from pyspark.sql import functions as F

        from sstable_migrator_spark.operators import analytics

        sub, rd = self.tables["subdomains"], self.tables["rdnsv4"]
        if kind == "topk_apex":
            return analytics.group_count_topk(sub, ["p1", "p2", "p3"], k=self.TOPK)
        if kind == "topk_asn":
            return analytics.group_count_topk(rd, ["asn"], k=self.TOPK)
        if kind == "ppl":
            return analytics.per_partition_limit(rd, ["ip24"], [F.col("ipAddress").asc()], n=1)
        if kind == "prefix":
            return analytics.prefix_lookup(sub, p1=arg[0], p2=arg[1], p3=arg[2])
        return analytics.keyset_page(rd.select("ipAddress"), "ipAddress", arg, self.PAGE)

    def _query(self, kind: str, arg):
        """Build (span ``operators.analytics.build``) and collect one
        analytic query; a keyset op walks three pages, each resuming
        after the last key seen."""
        tr = self.tr
        if kind != "keyset":
            with tr.span("operators.analytics.build"):
                df = self._build(kind, arg)
            return df.collect()
        pages, after = [], arg
        for _ in range(3):
            with tr.span("operators.analytics.build"):
                df = self._build(kind, after)
            page = [r[0] for r in df.collect()]
            pages.append(page)
            if not page:
                break
            after = page[-1]
        return pages

    def batch(self, i: int) -> int:
        from sstable_migrator_spark.sinks.sstable_format import point_lookup
        from sstable_migrator_spark.sources.sstable_source import read_sstables

        tr = self.tr
        for op in self.ops:
            kind = op[0]
            t0 = time.perf_counter()
            if kind in ("hit", "miss"):
                with tr.span("sinks.sstable_format.point_lookup", kind=kind):
                    got = point_lookup(self.range_dir(op[1]), list(op[1]))
            elif kind == "scan":
                with tr.span("sources.sstable_source.read_sstables"):
                    got = read_sstables(self.spark, self.sst, *PK["subdomains"]).count()
            else:
                with tr.span(f"operators.analytics.{self.QUERY_FN[kind]}", kind=kind):
                    got = self._query(kind, op[1] if len(op) > 1 else None)
            self.results.append((op, got, time.perf_counter() - t0))
        return len(self.ops)

    def check(self, i: int) -> tuple[int, int]:
        attempted = failed = 0
        for op, got, dt in self.results:
            kind = op[0]
            attempted += 1
            if kind == "hit":
                ok = got is not None and sorted(tuple(r["clustering"]) for r in got["rows"]) == self.rows_by_key[op[1]]
            elif kind == "miss":
                ok = got is None
            elif kind == "scan":
                ok = got == self.scan_rows
            elif kind == "topk_apex":
                ok = [tuple(r) for r in got] == self.want_top_apex
            elif kind == "topk_asn":
                ok = [tuple(r) for r in got] == self.want_top_asn
            elif kind == "ppl":
                ok = len(got) == self.want_ppl
            elif kind == "prefix":
                ok = len(got) == len(self.rows_by_key[op[1]])
            else:  # keyset walk
                after, ok = op[1], True
                for page in got:
                    j = bisect.bisect_right(self.ip_keys, after)
                    ok = ok and page == self.ip_keys[j:j + self.PAGE]
                    if page:
                        after = page[-1]
            failed += self.expect(ok, f"round {i}: {kind} {op[1:] if len(op) > 1 else ''} returned a wrong answer")
            self.count(f"lat.{kind}", dt)
            if kind == "scan":
                self.count("scan_rows_per_s", self.scan_rows / dt)
        return attempted, failed


# --- corpus dedup ----------------------------------------------------------------


class CorpusDedup(Workload):
    name = "corpus_dedup"
    DOCS_PER_SHARD = 2000
    NUM_HASHES = 16
    BANDS = 4
    THRESHOLD = 0.5
    # planted one-token near-duplicates: the share that must end up in
    # the same cluster as their source document
    RECALL_BOUND = 0.9

    def setup(self, spark) -> None:
        self.spark = spark
        t = time.perf_counter()
        self.gen = gen.CorpusGen(self.seed, self.DOCS_PER_SHARD)
        self.gen_s += time.perf_counter() - t
        self.shards: dict[int, dict] = {}
        self.props: list[dict] = []

    def inputs(self, i: int) -> None:
        root = os.path.join(self.work, "in", f"corpus{i}")
        sh = self.gen.write_shard(root, i)
        sh["dir"] = root
        self.shards[i] = sh

    def batch(self, i: int) -> int:
        from sstable_migrator_spark.operators.dedup import duplicate_clusters, exact_dedup, minhash_lsh_pairs

        sh = self.shards[i]
        tr = self.tr
        docs = self.spark.read.parquet(sh["dir"])
        with tr.span("operators.dedup.exact_dedup"):
            ded = exact_dedup(docs).select("doc_id", "text")
            survivors = ded.localCheckpoint()
        with tr.span("operators.dedup.minhash_lsh_pairs"):
            pairs_plan = minhash_lsh_pairs(survivors, num_hashes=self.NUM_HASHES, bands=self.BANDS,
                                           jaccard_threshold=self.THRESHOLD)
            pairs = pairs_plan.localCheckpoint()
        with tr.span("operators.dedup.duplicate_clusters"):
            clusters = duplicate_clusters(pairs).collect()
        sh.update(survivors_df=survivors, pairs=pairs, clusters=clusters, _ded=ded, _pairs_plan=pairs_plan)
        return len(sh["texts"])

    def check(self, i: int) -> tuple[int, int]:
        sh = self.shards[i]
        got_ids = sorted(r[0] for r in sh["survivors_df"].select("doc_id").collect())
        failed = self.expect(got_ids == sh["survivors"],
                             f"shard {i}: {len(got_ids)} exact-dedup survivors, expected {len(sh['survivors'])}")
        pairs = [(r["id_a"], r["id_b"]) for r in sh["pairs"].collect()]
        cluster = {r["doc_id"]: r["cluster_id"] for r in sh["clusters"]}
        near = sh["near_of"]
        found = sum(1 for n, s in near.items() if n in cluster and cluster.get(s) == cluster[n])
        recall = found / len(near)
        failed += self.expect(recall >= self.RECALL_BOUND,
                              f"shard {i}: near-duplicate recall {recall:.3f} < {self.RECALL_BOUND}")
        sig = {}
        true_pairs = 0
        for a, b in pairs:
            for x in (a, b):
                if x not in sig:
                    sig[x] = gen.shingles(sh["texts"][x])
            true_pairs += gen.jaccard(sig[a], sig[b]) >= self.THRESHOLD
        n = len(sh["texts"])
        self.count("operators.dedup.exact_removed_ratio", 1 - len(got_ids) / n)
        self.count("operators.dedup.candidate_pairs", len(pairs))
        self.count("operators.dedup.pair_precision", true_pairs / len(pairs) if pairs else 1.0)
        self.count("operators.dedup.near_dup_recall", recall)
        self.count("operators.dedup.clusters", len({c for c in cluster.values()}))
        if self.tr.active:
            from sstable_migrator_spark.plans.metrics import shuffle_summary

            self.count("operators.dedup.lsh_shuffle_bytes",
                       shuffle_summary(sh["_pairs_plan"])["shuffle_bytes_written"])
            self.count("operators.dedup.exact_shuffle_bytes",
                       shuffle_summary(sh["_ded"])["shuffle_bytes_written"])
        self.props.append({
            "shard": i,
            "docs": n,
            "duplicate_share": len(sh["exact_of"]) / n,
            "near_duplicate_share": len(near) / n,
        })
        return 2, failed

    def probe(self, i: int) -> None:
        """Traced runs only: the signature pass ``minhash_lsh_pairs``
        runs inside its first action, materialized on its own."""
        from sstable_migrator_spark.operators.dedup import minhash_signatures

        sh = self.shards[i]
        with self.tr.span("operators.dedup.minhash_signatures"):
            sigs = minhash_signatures(sh["survivors_df"], num_hashes=self.NUM_HASHES).persist()
            sigs.count()
        sigs.unpersist()

    def retire(self, i: int) -> None:
        sh = self.shards.pop(i)
        shutil.rmtree(sh["dir"], ignore_errors=True)


# --- one night's batch jobs --------------------------------------------------------


class NightlyBatch(Workload):
    """One night's batch jobs back to back: the certstream day load and
    one corpus dedup shard. Records are feed rows plus documents. The
    read path (``lookup_mix``) bypasses every layer this workload runs."""

    name = "nightly_batch"

    def __init__(self, seed: int, work: str, tracer):
        self.parts = [DailyLoad(seed, work, tracer), CorpusDedup(seed, work, tracer)]
        super().__init__(seed, work, tracer)
        for p in self.parts:
            p.counts, p.failures = self.counts, self.failures

    @property
    def cur(self):
        return self.parts[0].cur

    @cur.setter
    def cur(self, i):
        for p in self.parts:
            p.cur = i

    @property
    def props(self):
        return {p.name: p.props for p in self.parts}

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)
        self.gen_s = sum(p.gen_s for p in self.parts)

    def inputs(self, i: int) -> None:
        for p in self.parts:
            p.inputs(i)

    def batch(self, i: int) -> int:
        return sum(p.batch(i) for p in self.parts)

    def check(self, i: int) -> tuple[int, int]:
        a, f = zip(*(p.check(i) for p in self.parts))
        return sum(a), sum(f)

    def probe(self, i: int) -> None:
        for p in self.parts:
            p.probe(i)

    def retire(self, i: int) -> None:
        for p in self.parts:
            p.retire(i)

    def close(self) -> None:
        for p in self.parts:
            p.close()


WORKLOADS = {w.name: w for w in (NightlyBatch, LookupMix, DailyLoad, CorpusDedup)}
