"""Sinks (SURVEY §2.2, K1-K8).

The reference's CQLSSTableWriter buffers rows in a 6-8 GB heap and
depends on in-PK-order input for throughput (README.md:82). Here the
only code that places rows for Cassandra is ``sinks.ring.write_sstables``:
it routes each row to its token range by the real Murmur3 token, shuffles
once by range, and each range's ``SSTableWriter`` sorts into
DecoratedKey order (spilling past a fixed row threshold instead of
OOMing). The Parquet side channel is the reference's separate K3 export
(``parquet_export``, parquet_converter/main.go): plain Snappy files, no
placement of their own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scratch_path(slot: str, wipe: bool = True) -> str:
    """Shared-filesystem scratch resolution for every sink that opens
    plain ``open()`` paths ON THE EXECUTORS (the sstable writers,
    tar shards, zone-map stores) and reads them back from other tasks
    or the driver.

    THE CONTRACT: on a real cluster the returned path must live on a
    filesystem all executors and the driver see — NFS/Lustre/a
    FUSE-mounted object store. Set ``SPARK_GRAFT_SCRATCH`` to that
    mount; the driver-local system temp dir fallback is correct ONLY
    in local mode (single JVM, one machine). Paths are keyed by
    ``slot`` and (by default) wiped and rebuilt per call, so repeated
    sweeps keep the scratch root at a constant footprint — the form of
    cleanup compatible with lazy read-back (see queries._scratch_dir
    for the full rationale; that helper delegates here)."""
    import os
    import shutil
    import tempfile

    root = os.environ.get("SPARK_GRAFT_SCRATCH") or os.path.join(
        tempfile.gettempdir(), "sstable-migrator-scratch"
    )
    path = os.path.join(root, slot)
    if wipe:
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def local_rows_df(spark, rows, schema, slices: int = 1) -> DataFrame:
    """A DataFrame over a SMALL driver-side row list (model sidecars,
    stats deltas, run-log rows) as ONE partition.

    Round-10 measurement: ``spark.createDataFrame(rows, schema)``
    parallelizes even a single row across ``defaultParallelism``
    Python partitions (32 locally), and the customary
    ``.coalesce(1)`` before a sidecar write then evaluates all 32
    parent partitions SEQUENTIALLY inside one task — ~125 ms of
    Python-worker round trip each, ~4-6 s per one-row sidecar write
    (vs ~0.3 s via a single source partition). Parallelizing with
    ``numSlices=1`` gives the same single output file for a fraction
    of the cost, on any cluster size — these row lists are KB-sized
    models/stats by contract, so one partition is the right shape at
    100 TB too.

    ``slices=len(rows)`` replaces the other recurring form,
    ``createDataFrame(items).repartitionByRange(len(items), "i")`` (one
    work item per task for executor-side file readers/compactors):
    ``parallelize`` chunks the list in order — exactly one row per
    slice — so the placement is identical without the range sampler's
    extra pass or the exchange."""
    rows = list(rows)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, max(1, min(slices, max(len(rows), 1)))),
        schema,
    )


def parquet_export(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3 — Snappy parquet, 128 MB row groups (set session-wide in
    session.py; mirrors parquet_converter/main.go:35-36)."""
    df.write.mode(mode).option("compression", "snappy").parquet(path)


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 134217728,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_bytes`` (default 128 MB, matching the scan split
    size). Incremental pipelines accrete one small file per micro-batch
    per partition; at 100 TB the resulting file-listing and per-file
    open costs dominate scans. Returns the new file count.

    Sizing uses the directory's actual on-disk bytes (not row counts),
    so compressed width is preserved. With ``sort_cols`` the rewrite
    also re-sorts within output files (restores clustering for
    min/max-pruned scans). Rewrite lands in ``<path>.__compact__``,
    then a two-rename swap (original -> ``.__old__``, rewrite -> path,
    delete old) replaces it. The swap is crash-SAFE, not atomic: a
    crash between the renames leaves the data intact under one of the
    two names (never deleted-before-replaced), and a reader in that
    instant can see the path briefly absent — single-writer/no-reader
    maintenance windows, or the manifest mechanism in
    ``sinks/versioned.py`` when concurrent readers must never notice.
    """
    import math
    import os
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith(("_", ".")))
    n_files = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    df = df.repartition(n_files)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    base = path.rstrip("/")
    tmp = base + ".__compact__"
    old = base + ".__old__"
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
    os.rename(path, old)   # original survives until the swap completes
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def dynamic_partition_upsert(
    delta_df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Partition-scoped upsert WITHOUT a table format: with
    ``partitionOverwriteMode=dynamic``, ``mode('overwrite')`` rewrites
    ONLY the partitions present in the incoming delta and leaves every
    other directory untouched — the copy-on-write MERGE pattern for a
    date-partitioned bronze/silver layer (Q3's backfill, T3's dated
    appends) at 100 TB: a one-day correction touches one directory,
    never the table. The conf is set per-write and restored."""
    spark = delta_df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        (
            delta_df.write.partitionBy(*partition_cols)
            .mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.conf.set(key, prev)


def zorder_value(cols: list[Column], bits: int = 12) -> Column:
    """Morton (z-order) interleave of k pre-scaled integer columns, each
    expected in [0, 2^bits): bit i of column j lands at position
    i*k + j. Pure expression — bit shifts/masks inside whole-stage
    codegen, no UDF."""
    k = len(cols)
    if bits * k > 63:
        raise ValueError(
            f"bits={bits} x {k} columns = {bits * k} interleaved bits "
            "exceeds a signed long; lower bits to <= 63 // k"
        )
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long")
        for i in range(bits):
            z = z + (F.shiftright(cl, i).bitwiseAND(F.lit(1)) * F.lit(1 << (i * k + j)))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional data layout: rank-scale each layout column to
    [0, 2^bits) (ntile), Morton-interleave the ranks, and range-write by
    the z-value. Every output file then covers a NARROW range of EVERY
    layout column — so min/max footer stats prune scans filtered on any
    of them, where a linear sort only prunes its leading column.

    The K7-style analog in the reference world is MergeTree ORDER BY
    (one column); this is the k-column generalization Delta/Iceberg call
    OPTIMIZE ZORDER. At 100 TB the ntile rank-scaling is replaced by
    approx-quantile boundary tables (one pass, mergeable sketches) —
    the interleave + repartitionByRange stages are unchanged; the
    per-column global window here is the small-data stand-in.
    (Quantitative pruning win is asserted in tests/test_zorder.py.)
    """
    from pyspark.sql import Window

    ranked = df
    rank_cols = []
    for c in cols:
        rc = f"_zr_{c}"
        ranked = ranked.withColumn(
            rc, (F.ntile(1 << bits).over(Window.orderBy(F.col(c))) - 1)
        )
        rank_cols.append(rc)
    z = ranked.withColumn("_z", zorder_value([F.col(rc) for rc in rank_cols], bits))
    (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *rank_cols)
        .write.mode(mode)
        .parquet(path)
    )
