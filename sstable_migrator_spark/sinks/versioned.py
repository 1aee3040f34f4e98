"""Manifest-versioned parquet tables: snapshots, time travel, rollback.

The reference's durability story is dated directories + rolling
snapshot files (daily_all_upload.sh:16-19, the 25-day snapshot dirs).
This generalizes that pattern into the mechanism the modern table
formats (Iceberg/Delta) are built on, with zero dependencies:

- every commit writes its data under a fresh ``data/v<N>-...`` subtree
  and then publishes ``_manifests/v<N>.json`` listing ALL directories
  the new snapshot comprises;
- readers resolve a manifest and read exactly those directories — the
  manifest IS the file listing, so reads never depend on eventually-
  consistent directory listing and never see a half-written commit
  (data is invisible until the manifest publish);
- the manifest publish is an exclusive-create (``open(..., 'x')``) —
  two racing writers cannot both claim version N. Commits whose content
  depends on the snapshot they read (append, merge) are CONDITIONAL:
  the loser gets ConcurrentWriteError and must re-read and retry, never
  silently dropping the winner's directories; base-independent commits
  (overwrite/compact/rollback) retry onto the next number. Optimistic
  concurrency, single-filesystem scope; a multi-writer deployment swaps
  this one primitive for a catalog/log-store CAS, which is precisely
  what Delta's LogStore does;
- old snapshots stay readable (time travel) until ``vacuum`` drops
  directories unreferenced by the retained manifests.

Scale shape: a manifest lists directories (one per commit), so its
size is O(commits since last compaction), independent of data size;
``compact`` folds the accumulated small commits into one directory and
publishes a new snapshot without touching history.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "ConcurrentWriteError",
    "versioned_write",
    "read_version",
    "history",
    "rollback",
    "compact",
    "optimize_zorder",
    "vacuum",
    "merge_upsert",
    "diff_versions",
    "schema_drift",
]

_MANIFEST_RE = re.compile(r"^v(\d{6})\.json$")


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _versions(path: str) -> list[int]:
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(m.group(1)) for f in os.listdir(d) if (m := _MANIFEST_RE.match(f))
    )


def _load(path: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(path), f"v{version:06d}.json")) as fh:
        return json.load(fh)


class ConcurrentWriteError(RuntimeError):
    """A commit that DEPENDS on the snapshot it read (append/merge)
    found that snapshot superseded at publish time. Re-read and retry —
    silently taking the next version number would drop the winner's
    data (a lost update)."""


def _publish(path: str, manifest: dict, base_version: int | None = None) -> int:
    """Exclusive-create the next manifest. With ``base_version`` the
    commit is conditional — it claims exactly base+1 and raises
    ConcurrentWriteError if another writer got there first (the
    read-modify-write commits: append, merge, compact). Without it the
    content is base-independent (overwrite/rollback) and the publish
    retries onto the next free number."""
    os.makedirs(_manifest_dir(path), exist_ok=True)
    while True:
        vs = _versions(path)
        latest = vs[-1] if vs else 0
        if base_version is not None and latest != base_version:
            raise ConcurrentWriteError(
                f"snapshot advanced to v{latest} after reading v{base_version}"
            )
        v = latest + 1
        manifest["version"] = v
        target = os.path.join(_manifest_dir(path), f"v{v:06d}.json")
        try:
            with open(target, "x") as fh:
                json.dump(manifest, fh)
            return v
        except FileExistsError:
            if base_version is not None:
                raise ConcurrentWriteError(
                    f"lost the publish race for v{v}; re-read and retry"
                ) from None
            continue


def versioned_write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    stats_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new snapshot. ``append`` keeps the previous
    snapshot's directories; ``overwrite`` starts fresh (old data stays
    on disk for time travel until vacuumed). Returns the new version.

    ``stats_cols`` hoists per-file min/max/null-count zone maps into
    the manifest (one extra pass over the JUST-WRITTEN directory —
    Delta's dataSkippingNumIndexedCols move): ``read_version`` with
    ``predicates`` then prunes files at plan time without opening any
    footer. Stats from the base snapshot's directories carry forward
    on append; directories committed without stats are simply never
    pruned (correctness does not depend on coverage)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    prev = _versions(path)
    base_v = prev[-1] if prev else 0
    base_manifest = _load(path, base_v) if (mode == "append" and base_v) else {}
    dirname = f"v{uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(path, "data", dirname)
    df.write.mode("error").parquet(data_dir)
    rel = os.path.join("data", dirname)
    base: list[str] = base_manifest.get("dirs", [])
    file_stats: dict = dict(base_manifest.get("file_stats", {}))
    if stats_cols:
        from sstable_migrator_spark.sinks.zonemap import collect_file_stats

        written = df.sparkSession.read.parquet(data_dir)
        file_stats[rel] = {
            "stats_cols": list(stats_cols),
            "files": collect_file_stats(written, list(stats_cols), root=path),
        }
    manifest = {"op": mode, "ts": time.time(), "dirs": base + [rel]}
    if file_stats:
        manifest["file_stats"] = file_stats
    return _publish(
        path, manifest, base_version=base_v if mode == "append" else None
    )


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicates: list[tuple] | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default). The manifest is the file
    listing — no directory scan, no partial-commit visibility.

    With ``predicates`` (the ``(col, op, value)`` conjunction grammar
    of ``sinks.zonemap``), directories that carry manifest zone maps
    are pruned to the files whose [min, max] intervals could match —
    driver-side integer comparisons, no footers opened — and the
    predicates are then applied exactly to whatever is read.
    Directories without stats are read in full, and predicates on
    columns a directory's stats don't cover simply keep its files
    (the COVERED predicates still prune) — never a false skip."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no manifests under {path}")
    v = version if version is not None else vs[-1]
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {vs}")
    manifest = _load(path, v)
    dirs = manifest["dirs"]
    if not dirs:
        raise FileNotFoundError(f"version {v} is empty")
    if not predicates:
        return spark.read.parquet(*[os.path.join(path, d) for d in dirs])

    from sstable_migrator_spark.sinks.zonemap import (
        _file_may_match,
        apply_predicates,
        validate_predicates,
    )

    validate_predicates(predicates)
    file_stats = manifest.get("file_stats", {})
    sources: list[str] = []
    for d in dirs:
        entry = file_stats.get(d)
        if entry is None:
            sources.append(os.path.join(path, d))  # no stats: read whole dir
            continue
        # _file_may_match keeps files for any column the stats don't
        # cover, so mixed covered/uncovered predicates stay correct
        for f in entry["files"]:
            if all(
                _file_may_match(f["stats"], c, op, val)
                for c, op, val in predicates
            ):
                p = f["path"]
                sources.append(
                    p if os.path.isabs(p) or "://" in p else os.path.join(path, p)
                )
    base = spark.read.parquet(*sources) if sources else (
        # everything pruned: an empty frame with the snapshot's schema
        spark.read.parquet(*[os.path.join(path, d) for d in dirs]).limit(0)
    )
    return apply_predicates(base, predicates)


def history(path: str) -> list[dict]:
    return [_load(path, v) for v in _versions(path)]


def rollback(path: str, version: int) -> int:
    """Publish a NEW snapshot whose content is an old version's —
    history is never rewritten, exactly like Delta's RESTORE. The
    restored version's file_stats ride along (a restore that dropped
    them would silently turn a stats-pruned table into full scans)."""
    old = _load(path, version)
    manifest = {"op": f"rollback:{version}", "ts": time.time(), "dirs": old["dirs"]}
    if old.get("file_stats"):
        manifest["file_stats"] = old["file_stats"]
    return _publish(path, manifest)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 134217728,
    stats_cols: list[str] | None = None,
    order_by: str | None = None,
) -> int:
    """Fold the accumulated commit directories into one sized rewrite
    and publish it as a new snapshot (op=compact). Old snapshots remain
    readable — compaction is just another commit. ``stats_cols``
    re-collects manifest zone maps for the rewritten files (a rewrite
    without them would silently turn a stats-pruned table into
    full-scan reads) and ``order_by`` range-lays-out the rewrite on
    that column — the default round-robin repartition spreads every
    value range across every file, which makes min/max stats true but
    useless (nothing ever prunes); a compaction of a stats-pruned
    table should order by its pruning column."""
    import math

    base_v = _versions(path)[-1]
    df = read_version(spark, path, base_v)
    latest = _load(path, base_v)
    total = 0
    for d in latest["dirs"]:
        for root, _dirs, files in os.walk(os.path.join(path, d)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith(("_", "."))
            )
    n_files = max(1, math.ceil(total / target_file_bytes))
    dirname = f"v{uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(path, "data", dirname)
    laid_out = (
        df.repartitionByRange(n_files, F.col(order_by)).sortWithinPartitions(order_by)
        if order_by
        else df.repartition(n_files)
    )
    laid_out.write.mode("error").parquet(data_dir)
    rel = os.path.join("data", dirname)
    manifest = {"op": "compact", "ts": time.time(), "dirs": [rel]}
    if stats_cols:
        from sstable_migrator_spark.sinks.zonemap import collect_file_stats

        written = spark.read.parquet(data_dir)
        manifest["file_stats"] = {
            rel: {
                "stats_cols": list(stats_cols),
                "files": collect_file_stats(written, list(stats_cols), root=path),
            }
        }
    # Conditional publish against the snapshot compact actually read: a
    # commit landing between the read and this publish must surface as
    # ConcurrentWriteError (caller re-reads and retries) — otherwise the
    # compacted manifest, which lists only the compacted directory, would
    # silently drop the concurrent commit's directories (lost update).
    return _publish(path, manifest, base_version=base_v)


def optimize_zorder(
    spark: SparkSession,
    path: str,
    zorder_cols: list[str],
    n_files: int = 8,
    bits: int = 12,
    stats_cols: list[str] | None = None,
) -> int:
    """Delta's OPTIMIZE ZORDER as one versioned commit: read the
    latest snapshot, rewrite it Morton-interleaved on ``zorder_cols``
    (every output file covers a narrow range of EVERY layout column —
    ``sinks.zorder_write``'s layout), hoist fresh zone maps for
    ``stats_cols`` (default: the layout columns) into the manifest,
    and publish conditionally against the snapshot that was read.
    History is untouched; readers see either the old layout or the
    new one, never a mix. After this, ``read_version(predicates=...)``
    prunes on ANY of the layout columns, where a linear sort prunes
    only its leading column."""
    from sstable_migrator_spark.sinks import zorder_write
    from sstable_migrator_spark.sinks.zonemap import collect_file_stats

    base_v = _versions(path)[-1]
    df = read_version(spark, path, base_v)
    for c in zorder_cols:
        if c not in df.columns:
            raise ValueError(f"zorder column {c!r} not in the table")
    dirname = f"v{uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(path, "data", dirname)
    # the Morton layout itself is sinks.zorder_write — ONE implementation
    # of the rank/interleave/range-write pipeline
    zorder_write(df, data_dir, zorder_cols, n_files=n_files, bits=bits, mode="error")
    rel = os.path.join("data", dirname)
    cols = list(stats_cols) if stats_cols else list(zorder_cols)
    written = spark.read.parquet(data_dir)
    manifest = {
        "op": f"optimize_zorder:{','.join(zorder_cols)}",
        "ts": time.time(),
        "dirs": [rel],
        "file_stats": {
            rel: {"stats_cols": cols, "files": collect_file_stats(written, cols, root=path)}
        },
    }
    return _publish(path, manifest, base_version=base_v)


def vacuum(path: str, keep_last: int = 1, min_age_s: float = 3600.0) -> list[str]:
    """Delete data directories unreferenced by the last ``keep_last``
    manifests (and drop the older manifests). Returns removed dirs.
    Time travel reaches only retained manifests afterwards.

    ``min_age_s``: an in-flight commit writes its data directory BEFORE
    publishing the manifest, so a directory unreferenced by any
    manifest may simply not be published YET — deleting it would break
    the writer's snapshot after its (successful) publish. Directories
    younger than the grace period are skipped, the same retention
    tradeoff Delta's VACUUM makes; pass 0 only when no writer can be
    active."""
    vs = _versions(path)
    if not vs:
        return []
    keep_vs = vs[-keep_last:]
    referenced = {d for v in keep_vs for d in _load(path, v)["dirs"]}
    removed = []
    now = time.time()
    data_root = os.path.join(path, "data")
    for d in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        rel = os.path.join("data", d)
        full = os.path.join(data_root, d)
        if rel not in referenced and now - os.path.getmtime(full) >= min_age_s:
            shutil.rmtree(full)
            removed.append(rel)
    for v in vs[:-keep_last]:
        os.remove(os.path.join(_manifest_dir(path), f"v{v:06d}.json"))
    return removed


def merge_upsert(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    key_cols: list[str],
) -> int:
    """MERGE INTO semantics on a versioned table: rows matching on
    ``key_cols`` are replaced by the delta's version, unmatched delta
    rows insert, everything else carries over — published as ONE new
    snapshot (copy-on-write MERGE, Delta's model). Base rows shuffle
    once on the key via the anti-join; a small delta broadcasts. The
    pre-merge snapshot stays time-travelable — history is never
    rewritten. Conditional commit: raises ConcurrentWriteError if the
    snapshot advanced between read and publish (re-read and retry)."""
    base_v = _versions(path)[-1]
    base = read_version(spark, path, base_v)
    survivors = base.join(delta.select(*key_cols).distinct(), key_cols, "left_anti")
    merged = survivors.unionByName(delta)
    dirname = f"v{uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(path, "data", dirname)
    merged.write.mode("error").parquet(data_dir)
    return _publish(
        path,
        {"op": "merge", "ts": time.time(), "dirs": [os.path.join("data", dirname)]},
        base_version=base_v,
    )


def apply_changes(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
) -> int:
    """Full CDC apply (the MERGE twin of ``diff_versions``): fold a
    change set carrying an operation column — 'I'/'U' rows upsert,
    'D' rows delete — into ONE new snapshot. This is what consuming a
    Debezium-style feed or replaying ``diff_versions`` output onto
    another table needs; ``merge_upsert`` alone cannot express
    deletes. Semantics per key: the change row wins over the base row
    ('U' or late 'I'), a 'D' removes the key, unmatched base rows
    carry over. A key may appear ONCE in the change set (the usual
    compacted-feed contract) — duplicates raise, because picking a
    winner silently would hide an upstream compaction bug.

    Shape: base shuffles once on the key (anti-join against all
    changed keys), upserts append; copy-on-write like merge_upsert,
    conditional publish, history intact."""
    ops = changes.select(op_col).distinct().collect()
    bad = [r[op_col] for r in ops if r[op_col] not in ("I", "U", "D")]
    if bad:
        raise ValueError(f"unknown CDC op(s) {bad}; expected I/U/D")
    dup = (
        changes.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"key {tuple(dup[0][c] for c in key_cols)} appears more than once "
            "in the change set; compact the feed to one change per key"
        )
    base_v = _versions(path)[-1]
    base = read_version(spark, path, base_v)
    changed_keys = changes.select(*key_cols).distinct()
    survivors = base.join(changed_keys, key_cols, "left_anti")
    upserts = changes.filter(F.col(op_col) != "D").drop(op_col)
    merged = survivors.unionByName(upserts)
    dirname = f"v{uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(path, "data", dirname)
    merged.write.mode("error").parquet(data_dir)
    return _publish(
        path,
        {"op": "cdc_apply", "ts": time.time(), "dirs": [os.path.join("data", dirname)]},
        base_version=base_v,
    )


def diff_versions(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """CDC between two snapshots: full-outer join on the key with an
    md5 digest over the remaining columns (q88's snapshot-diff shape
    applied to the version store). Returns (key..., change) with change
    in {added, removed, changed}; unchanged rows drop out before the
    result materializes. The digest separates columns with an \\x1f
    unit separator and maps NULL to a distinct sentinel, so
    column-boundary shifts ('ab','c' vs 'a','bc') and NULL-vs-empty
    differences cannot collide.

    Under schema drift the digest covers the COMMON columns only
    (each side can only hash columns it has; hashing the old schema
    against a version that dropped a column would throw, and a column
    only the new side has cannot differ 'between' versions) — pair
    with ``schema_drift`` below, which reports exactly those
    added/removed/retyped columns."""
    from pyspark.sql import functions as F

    old = read_version(spark, path, v_old)
    new = read_version(spark, path, v_new)
    new_cols = set(new.columns)
    rest = [c for c in old.columns if c not in key_cols and c in new_cols]

    def dig(df, name):
        cells = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00<NULL>")) for c in rest
        ]
        return df.select(
            *key_cols,
            F.md5(F.concat_ws("\x1f", *cells)).alias(name),
        )

    joined = dig(old, "_old").join(dig(new, "_new"), key_cols, "full_outer")
    return joined.select(
        *key_cols,
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    ).filter(
        F.col("_old").isNull()
        | F.col("_new").isNull()
        | (F.col("_old") != F.col("_new"))
    )


def schema_drift(spark: SparkSession, path: str, v_old: int, v_new: int) -> list[dict]:
    """Schema evolution audit between two snapshots: added / removed /
    type-changed columns, from parquet footers only (no data scan).
    The contract gate for pipelines where an upstream producer changing
    a column type must fail the run BEFORE anything reads the data."""
    old = dict(
        (f.name, f.dataType.simpleString())
        for f in read_version(spark, path, v_old).schema.fields
    )
    new = dict(
        (f.name, f.dataType.simpleString())
        for f in read_version(spark, path, v_new).schema.fields
    )
    out = []
    for c in sorted(set(old) | set(new)):
        if c not in old:
            out.append({"column": c, "change": "added", "type": new[c]})
        elif c not in new:
            out.append({"column": c, "change": "removed", "type": old[c]})
        elif old[c] != new[c]:
            out.append(
                {"column": c, "change": "type", "type": f"{old[c]} -> {new[c]}"}
            )
    return out
