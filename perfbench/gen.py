"""Seeded input generators and pure-Python reference answers.

Everything here is deterministic in the seed it is given and uses only
the standard library, numpy-free ``random.Random`` streams and pyarrow
for the parquet files. The program under test sees only the files these
functions write; the benchmark keeps the ground truth in memory.

Two generators:

- ``FeedGen`` — a certstream-style daily domain feed plus the 25-day
  history it is deduplicated against. The mix is the one the reference
  pipeline has to survive (wildcards, upper case, quoted names, invalid
  and numeric names, in/out-of-window history hits, blocklisted names,
  allowlist misses, in-feed duplicates) over a Zipf-skewed apex pool.
- ``CorpusGen`` — document shards with planted exact duplicates
  (case/whitespace variants) and one-token near-duplicates of known ids.
"""

from __future__ import annotations

import bisect
import datetime
import itertools
import os
import random
import re
import string

import pyarrow as pa
import pyarrow.parquet as pq

BASE_DATE = datetime.date(2024, 6, 1)
WINDOW_DAYS = 25
HISTORY_DAYS = 45
FEED_FILES = 4
CORPUS_FILES = 8

ALLOW_TLDS = ["de", "fr", "io", "in", "ru", "ai", "gov"]
MISS_TLDS = ["com", "net", "org"]
BLOCKLIST = ["^blocked[0-9]+\\.", "(^|\\.)ads[0-9]+\\.", "^tracker-"]

# Share of each feed-row kind (the rest are plain fresh names). These
# shares are assumptions, not measurements: no certstream traffic sample
# is available to calibrate them. Each is set large enough that every
# kind appears hundreds of times in a day, so every branch of the
# pipeline (and of its checks) runs on every batch, and small enough that
# plain names stay the largest kind. README.md lists them with the
# reason for each value.
FEED_MIX = {
    "upper": 0.06,
    "case_dup": 0.04,
    "exact_dup": 0.04,
    "wildcard": 0.06,
    "quoted": 0.02,
    "invalid": 0.05,
    "numeric": 0.04,
    "hist_in": 0.06,  # last loaded inside the window: day-24 .. day-1
    "hist_edge_in": 0.02,  # last loaded on day-25, the window's first day
    "hist_edge_out": 0.02,  # last loaded on day-26, the day before it
    "hist_out": 0.02,  # last loaded on day-27 or earlier
    "blocked": 0.04,
    "allow_miss": 0.08,
}
# history kinds: the day offset range (relative to the feed day) the
# name's latest load falls in
HISTORY_KINDS = {
    "hist_in": (-(WINDOW_DAYS - 1), -1),
    "hist_edge_in": (-WINDOW_DAYS, -WINDOW_DAYS),
    "hist_edge_out": (-WINDOW_DAYS - 1, -WINDOW_DAYS - 1),
    "hist_out": (None, -WINDOW_DAYS - 2),
}


def zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return [c / acc for c in out]


def zipf_pick(rng: random.Random, cdf: list[float]) -> int:
    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1)


def _word(rng: random.Random, lo: int = 4, hi: int = 9) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(lo, hi)))


def write_parquet_files(path: str, table: pa.Table, n_files: int, rng: random.Random) -> None:
    """Split ``table`` over ``n_files`` parquet files with a seeded
    row shuffle, so no input lands in one split and related rows (a
    document and its duplicate) usually sit in different files."""
    os.makedirs(path, exist_ok=True)
    order = list(range(table.num_rows))
    rng.shuffle(order)
    for i in range(n_files):
        idx = order[i::n_files]
        pq.write_table(table.take(pa.array(idx, pa.int64())), os.path.join(path, f"part-{i:02d}.parquet"))


# --- the daily domain feed -------------------------------------------------


class FeedGen:
    """Day-by-day feed generator with the history the pipeline dedups
    against. ``history`` maps each name ever loaded to the day indexes
    it was loaded on (negative days are the pre-seeded history). The
    apex popularity (Zipf, ``zipf_s``) is an assumption, not a
    measurement (README.md, "Traffic assumptions")."""

    def __init__(self, seed: int, rows_per_day: int, n_apex: int = 1500,
                 zipf_s: float = 1.1, history_per_day: int = 600):
        self.seed = seed
        self.rows_per_day = rows_per_day
        self.zipf_s = zipf_s
        rng = random.Random(f"apex-{seed}")
        seen: set[str] = set()
        self.apexes: list[str] = []
        while len(self.apexes) < n_apex:
            a = f"{_word(rng, 5, 10)}.{rng.choice(ALLOW_TLDS)}"
            if a not in seen:
                seen.add(a)
                self.apexes.append(a)
        self.apex_cdf = zipf_cdf(n_apex, zipf_s)
        # apexes nobody ever loads: the lookup workload's misses
        self.absent_apexes: list[str] = []
        while len(self.absent_apexes) < 500:
            a = f"{_word(rng, 5, 10)}q.{rng.choice(ALLOW_TLDS)}"
            if a not in seen:
                seen.add(a)
                self.absent_apexes.append(a)
        self._serial = itertools.count()
        self.history: dict[str, list[int]] = {}
        hrng = random.Random(f"history-{seed}")
        self.history_files: list[tuple[int, list[str]]] = []
        for day in range(-HISTORY_DAYS, 0):
            names = [self._fresh(hrng) for _ in range(history_per_day)]
            self._remember(day, names)

    def _fresh(self, rng: random.Random) -> str:
        apex = self.apexes[zipf_pick(rng, self.apex_cdf)]
        return f"{_word(rng, 3, 7)}{next(self._serial)}.{apex}"

    def _remember(self, day: int, names: list[str]) -> None:
        for n in names:
            self.history.setdefault(n, []).append(day)
        self.history_files.append((day, names))

    @staticmethod
    def date(day: int) -> datetime.date:
        return BASE_DATE + datetime.timedelta(days=day)

    def write_history(self, root: str, upto: int | None = None) -> None:
        """One parquet file per loaded day (domain, batch_date); files
        already on disk are left alone, so the history grows in place."""
        os.makedirs(root, exist_ok=True)
        for day, names in self.history_files:
            if upto is not None and day >= upto:
                continue
            p = os.path.join(root, f"day={day + 1000:05d}.parquet")
            if os.path.exists(p):
                continue
            tbl = pa.table({
                "domain": pa.array(names, pa.string()),
                "batch_date": pa.array([self.date(day)] * len(names), pa.date32()),
            })
            pq.write_table(tbl, p)

    def day_feed(self, day: int) -> tuple[list[str], dict[str, int]]:
        """The raw feed of ``day`` and the count of each planted kind."""
        rng = random.Random(f"feed-{self.seed}-{day}")
        pools: dict[str, list[str]] = {k: [] for k in HISTORY_KINDS}
        for n in sorted(self.history):
            last = max((d for d in self.history[n] if d < day), default=day) - day
            for k, (lo, hi) in HISTORY_KINDS.items():
                if (lo is None or lo <= last) and last <= hi:
                    pools[k].append(n)
        kinds = list(FEED_MIX)
        cum = list(itertools.accumulate(FEED_MIX[k] for k in kinds))
        rows: list[str] = []
        counts = {k: 0 for k in ["plain", *kinds]}
        plain: list[str] = []
        for _ in range(self.rows_per_day):
            u = rng.random()
            i = bisect.bisect_right(cum, u)
            kind = kinds[i] if i < len(kinds) else "plain"
            if kind in ("case_dup", "exact_dup") and not plain:
                kind = "plain"
            if kind in pools and not pools[kind]:
                kind = "plain"
            if kind == "plain":
                name = self._fresh(rng)
                plain.append(name)
            elif kind == "upper":
                name = self._fresh(rng).upper()
            elif kind == "case_dup":
                name = rng.choice(plain).upper()
            elif kind == "exact_dup":
                name = rng.choice(plain)
            elif kind == "wildcard":
                name = "*." + self._fresh(rng)
            elif kind == "quoted":
                name = '\\"' + self._fresh(rng)
            elif kind == "invalid":
                base = self._fresh(rng)
                name = rng.choice([
                    base.replace(".", "..", 1),
                    "-" + base,
                    "x" * 64 + "." + base,
                    base.replace(".", "!", 1),
                    base.replace(".", "-.", 1),
                ])
            elif kind == "numeric":
                apex = self.apexes[zipf_pick(rng, self.apex_cdf)]
                name = f"{rng.randint(0, 999)}.{next(self._serial)}.{apex}"
            elif kind in pools:
                name = rng.choice(pools[kind])
            elif kind == "blocked":
                apex = self.apexes[zipf_pick(rng, self.apex_cdf)]
                n = next(self._serial)
                name = rng.choice([f"blocked{n}.{apex}", f"ads{n}.{apex}", f"tracker-{n}.{apex}"])
            else:  # allow_miss
                name = f"{_word(rng)}{next(self._serial)}.{_word(rng)}.{rng.choice(MISS_TLDS)}"
            counts[kind] += 1
            rows.append(name)
        return rows, counts

    def write_feed(self, root: str, day: int) -> tuple[list[str], dict[str, int], int]:
        rows, counts = self.day_feed(day)
        rng = random.Random(f"feed-files-{self.seed}-{day}")
        write_parquet_files(root, pa.table({"domain": pa.array(rows, pa.string())}), FEED_FILES, rng)
        raw_bytes = sum(len(r.encode()) + 1 for r in rows)  # newline-delimited feed bytes
        return rows, counts, raw_bytes

    def load_day(self, day: int, names: list[str]) -> None:
        """Record ``day``'s resolve list as loaded (the history grows)."""
        self._remember(day, names)


# --- pure-Python reference of the daily pipeline --------------------------

_ALLOW = re.compile("\\.(gov\\.[a-z]{2,}|gov|ru|ai|de|fr|io|in)$")
_BLOCK = re.compile("(" + "|".join(BLOCKLIST) + ")")


def ref_prepare(feed: list[str], history: dict[str, list[int]], day: int) -> list[str]:
    """daily_prepare_job: lower -> allowlist -> distinct -> 25-day
    anti-join -> blocklist."""
    lo = day - WINDOW_DAYS
    out = set()
    for d in feed:
        d = d.lower()
        if not _ALLOW.search(d):
            continue
        if any(lo <= x <= day for x in history.get(d, ())):
            continue
        if _BLOCK.search(d):
            continue
        out.add(d)
    return sorted(out)


def _clean(d: str, valid) -> str | None:
    if valid(d):
        return d
    if len(d) > 2 and (d.startswith('\\"') or d.startswith("*.")):
        cand = d[2:]
        if valid(cand):
            return cand
    return None


def ref_route(resolved: list[tuple[str, str, str]], tld_set: set[str]) -> dict:
    """daily_upload_job's routing: validate/clean, decompose, keep,
    GeoIP-enrich, and the rows each of the three tables receives
    (without the source and timestamp columns)."""
    from sstable_migrator_spark.functions.domains import py_domain_parts, py_is_valid_domain
    from sstable_migrator_spark.sources import dims

    city = {s >> 26: (c, n) for s, _e, c, n in dims.geoip_city_rows()}
    asn = {s >> 26: (a, n) for s, _e, a, n in dims.geoip_asn_rows()}
    rd, sub, cn = [], [], []
    for dom, rt, ip in resolved:
        clean = _clean(dom, py_is_valid_domain)
        if clean is None:
            continue
        parts = py_domain_parts(clean, tld_set)
        apex = ip if rt != "A" else parts["apex"]
        if not parts["success"] or not apex:
            continue
        if rt != "A":
            cn.append({"target": ip, "apexDomain": ip, "domain": clean})
            continue
        ps = {f"p{i}": parts[f"p{i}"] for i in range(1, 8)}
        o = ip.split(".")
        block = (int(o[0]) << 24 | int(o[1]) << 16 | int(o[2]) << 8 | int(o[3])) >> 26
        country, city_name = city.get(block, ("", ""))
        asn_no, as_name = asn.get(block, (0, ""))
        rd.append({"ip8": f"{o[0]}.0.0.0", "ip16": f"{o[0]}.{o[1]}.0.0", "ip24": f"{o[0]}.{o[1]}.{o[2]}.0",
                   "ipAddress": ip, **ps, "country": country, "city": city_name, "asn": asn_no,
                   "as_name": as_name, "sourceRecordType": rt})
        sub.append({**ps, "sourceRecordType": rt})
    return {"rdnsv4": rd, "subdomains": sub, "cnames": cn}


def write_table(path: str, rows: list[dict], schema, batch_ts: datetime.datetime, n_files: int,
                rng: random.Random) -> None:
    """Rows of a routed table as parquet with the program's table schema
    (a pyspark StructType), the way daily_upload_job stamps them."""
    import pyspark.sql.types as T

    arrow = {T.StringType: pa.string(), T.IntegerType: pa.int32(), T.TimestampType: pa.timestamp("us", tz="UTC")}
    cols = {}
    for f in schema.fields:
        if f.name in ("firstSeen", "lastSeen", "updatedAt"):
            vals = [batch_ts] * len(rows)
        elif f.name == "source":
            vals = ["certstream"] * len(rows)
        else:
            vals = [r[f.name] for r in rows]
        cols[f.name] = pa.array(vals, arrow[type(f.dataType)])
    write_parquet_files(path, pa.table(cols), n_files, rng)


def ref_resolve(names: list[str]) -> list[tuple[str, str, str]]:
    from sstable_migrator_spark.operators.resolve import fake_resolver

    out = []
    for d in names:
        ans = fake_resolver(d)
        if ans is not None:
            out.append((d, ans[0], ans[1]))
    return out


# --- the document corpus ---------------------------------------------------


def normalize_text(t: str) -> str:
    """TX.normalize_text: lower, collapse whitespace, trim."""
    return " ".join(t.lower().split())


def shingles(t: str, k: int = 3) -> set[str]:
    toks = normalize_text(t).split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


class CorpusGen:
    """Document shards. Each shard has unique base documents, exact
    duplicates of some of them (case and whitespace variants, higher
    ids) and one-token near-duplicates of others (higher ids)."""

    # assumed shares, not measured (README.md, "Traffic assumptions")
    EXACT_SHARE = 0.10
    NEAR_SHARE = 0.10

    def __init__(self, seed: int, docs_per_shard: int, vocab: int = 4000):
        self.seed = seed
        self.docs_per_shard = docs_per_shard
        rng = random.Random(f"vocab-{seed}")
        words: set[str] = set()
        while len(words) < vocab:
            words.add(_word(rng, 3, 10))
        self.vocab = sorted(words)

    def shard(self, idx: int) -> dict:
        rng = random.Random(f"corpus-{self.seed}-{idx}")
        n = self.docs_per_shard
        n_exact = int(n * self.EXACT_SHARE)
        n_near = int(n * self.NEAR_SHARE)
        n_base = n - n_exact - n_near
        id0 = idx * 1_000_000
        texts: dict[int, str] = {}
        for i in range(n_base):
            texts[id0 + i] = " ".join(rng.choice(self.vocab) for _ in range(rng.randint(60, 100)))
        base_ids = list(texts)
        next_id = id0 + n_base
        exact_of: dict[int, int] = {}
        near_of: dict[int, int] = {}
        near_src = rng.sample(base_ids, n_near)
        exact_src = rng.sample([b for b in base_ids if b not in set(near_src)], n_exact)
        for src in exact_src:
            toks = texts[src].split(" ")
            variant = rng.choice(["upper", "spaces", "title"])
            if variant == "upper":
                t = texts[src].upper()
            elif variant == "spaces":
                t = "  ".join(toks) + "\n"
            else:
                t = " \t".join(w.capitalize() for w in toks)
            texts[next_id] = t
            exact_of[next_id] = src
            next_id += 1
        for src in near_src:
            toks = texts[src].split(" ")
            j = rng.randrange(len(toks))
            w = toks[j]
            while w == toks[j]:
                w = rng.choice(self.vocab)
            toks[j] = w
            texts[next_id] = " ".join(toks)
            near_of[next_id] = src
            next_id += 1
        return {
            "texts": texts,
            "survivors": sorted(set(texts) - set(exact_of)),
            "exact_of": exact_of,
            "near_of": near_of,
        }

    def write_shard(self, root: str, idx: int) -> dict:
        sh = self.shard(idx)
        ids = sorted(sh["texts"])
        tbl = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([sh["texts"][i] for i in ids], pa.string()),
        })
        write_parquet_files(root, tbl, CORPUS_FILES, random.Random(f"corpus-files-{self.seed}-{idx}"))
        return sh
