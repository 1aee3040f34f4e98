"""SparkSession factory.

Local test mode runs ``local[N]`` in one JVM; the confs below are chosen
so the same code scales to a real multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
- shuffle partitions sized to cores locally — on a cluster this should be
  ~2-3x total cores or left to AQE's coalescing from a high initial value;
- Arrow enabled so the few pandas-UDF operators batch efficiently;
- UTC session timezone so results are oracle-comparable (DuckDB is
  UTC-naive);
- on ``local[...]`` masters only, Python workers fork from
  ``worker_daemon`` instead of ``pyspark.daemon``. pyspark's worker calls
  ``importlib.invalidate_caches()`` at the start of every task, and on
  Python 3.11/3.12 that re-reads pyspark.zip's central directory (1 328
  entries) once per zip importer, 16 times: 0.20-0.23 s of worker CPU
  per task that does nothing (4-core host). With the daemon's stamp check
  such a task costs 0.02 s, and a job of four of them 0.16-0.18 s of wall
  instead of 0.34-0.39 s. Every pandas/Arrow UDF and ``mapIn*`` task paid
  that charge. Cluster opt-in: see ``cluster_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DAEMON_MODULE = "sstable_migrator_spark.worker_daemon"


def get_spark(
    app_name: str = "sstable_migrator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # 128 MB row groups / scan splits — matches the reference's parquet
        # layout (utils/parquet_converter/main.go:35-36) and is the right
        # split size for 100 TB scans.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.hadoop.parquet.block.size", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Per-call Python stack inspection + a JVM origin roundtrip on
        # EVERY DataFrame API call — measured ~0.6 s per large query
        # construction. Error call-sites are a debugging nicety; off in
        # an engine.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master.split("[")[0] == "local":
        # Workers the JVM launches import the daemon whatever the caller's
        # cwd; like protoshim, PYTHONPATH must be set before the JVM starts.
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        current = os.environ.get("PYTHONPATH", "")
        if root not in current.split(os.pathsep):
            os.environ["PYTHONPATH"] = (current + os.pathsep if current else "") + root
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
) -> dict[str, str]:
    """Recommended spark-submit configuration for the 100 TB deployment
    this engine is designed for (defaults: 1000 executors x 4 cores).
    Local runs never need this — `get_spark` covers local[n] — but the
    numbers and the WHY are part of the engine's contract:

    - shuffle partitions ~ 2x total cores: every core gets ~2 waves of
      shuffle work, small enough that a 128 MB-target AQE coalesce can
      merge tails, large enough that one straggler partition never
      serializes a stage. AQE re-splits skew beyond this.
    - 128 MB file splits + 64 MB advisory post-shuffle target keep task
      input in the L3-friendly range and match the parquet row groups
      the sinks write.
    - broadcast threshold 64 MB: every dim in this catalog (region,
      nation, supplier, customer slices, TLD set, GeoIP nets) fits; a
      wrong SMJ on a dim costs two fact shuffles.
    - shuffle+rpc compression zstd: cross-rack bytes dominate at this
      scale; zstd halves lz4's wire size at similar CPU.
    - speculation on: a 1000-executor fleet always has slow disks; the
      catalog's tasks are idempotent (no side-effecting UDFs), so
      re-attempts are safe.
    - cost-based optimizer + join reordering + histograms on: the
      nightly multi-join shapes (TPC-H sweep, enrichment chains) are
      exactly where CBO's stats-informed join ordering beats the
      left-deep default — provided ANALYZE runs after each bronze
      build (`collect_table_stats`); equi-height histograms price the
      skewed predicates correctly.
    - runtime bloom-filter join pruning on: when a selective dim filter
      (EUROPE suppliers, one brand of part) feeds a shuffle join,
      Catalyst injects a bloom filter of the filtered keys into the
      fact-side scan, dropping non-joining rows BEFORE the exchange —
      at 100 TB that is the difference between shuffling the whole
      fact table and shuffling the ~1% that survives the dim filter.
      Free on this catalog (TPC-H sweep, GeoIP enrich, blocklist
      joins); threshold defaults are sized for exactly this shape.
    - off-heap disabled by default: Tungsten on-heap + G1 is the
      well-trodden path; flip per-site after profiling, not before.

    Not in the dict: the Python worker daemon `get_spark` sets for local
    masters. A cluster opts in by installing this package on every
    executor's Python, then setting the same
    ``spark.python.daemon.module=sstable_migrator_spark.worker_daemon``;
    without the package there, executors cannot start Python workers.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.memoryOverhead": f"{max(2, executor_mem_gb // 8)}g",
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.default.parallelism": str(2 * total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "67108864",
        "spark.sql.autoBroadcastJoinThreshold": "67108864",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.io.compression.codec": "zstd",
        "spark.shuffle.compress": "true",
        "spark.speculation": "true",
        "spark.speculation.quantile": "0.9",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.statistics.histogram.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.hadoop.parquet.block.size": "134217728",
        "spark.sql.session.timeZone": "UTC",
    }


def collect_table_stats(
    spark: SparkSession, tables: list[str], columns: dict[str, list[str]] | None = None
) -> None:
    """Feed the cost-based optimizer: ANALYZE each catalog table
    (row/byte counts), plus per-column NDV/min/max/histograms for the
    join and filter columns named in ``columns``. Run after each bronze
    build — stale stats mislead join reordering worse than no stats
    (CBO falls back to size-only estimates when none exist). Statement
    cost is one scan per table, amortized over every CBO-planned query
    until the next build."""
    for t in tables:
        cols = (columns or {}).get(t)
        if cols:
            spark.sql(
                f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR COLUMNS {', '.join(cols)}"
            )
        else:
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
