"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (synth DNS records ->
validate/clean -> with_domain_parts -> route -> apex top-100, the reference's
headline analytics query, misc/clickhouse_queries.md:35-43) at sf0.001.
``queries()``/``oracle_sql()`` expose the operator catalog from
``sstable_migrator_spark.queries`` for the DuckDB correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def _tune_runtime(spark: SparkSession) -> None:
    """Runtime confs safe to set on a caller-provided (vanilla) session:
    disable pyspark's per-DataFrame-call call-site capture — a Python
    stack inspection + JVM roundtrip on EVERY API call, ~0.6s per large
    query construction. Best-effort: ignored on sessions that reject it."""
    try:
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
    except Exception:  # noqa: BLE001
        pass


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ingest-shaped pipeline over synthesized DNS triples,
    then the reference's apex-popularity top-k."""
    from sstable_migrator_spark.queries import flagship_ingest

    _tune_runtime(spark)
    return flagship_ingest(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from sstable_migrator_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from sstable_migrator_spark.queries import ORACLES

    return dict(ORACLES)
