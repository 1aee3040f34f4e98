"""compact_small_files: many tiny files -> few split-sized files."""

from __future__ import annotations

import os

from sstable_migrator_spark import sinks


def _file_count(path):
    return sum(
        1
        for root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def test_compact_small_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    # simulate micro-batch accretion: 40 single-row files
    spark.range(40).repartition(40).write.parquet(path)
    assert _file_count(path) > 10  # AQE may coalesce some, stays fragmented
    before = spark.read.parquet(path).collect()

    n = sinks.compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert _file_count(path) == 1
    after = spark.read.parquet(path).collect()
    assert sorted(r["id"] for r in after) == sorted(r["id"] for r in before)


def test_dynamic_partition_upsert_touches_only_delta_partitions(spark, tmp_path):
    """Overwriting with a one-partition delta must rewrite that
    partition exactly and leave the others byte-identical."""
    import os

    from pyspark.sql import functions as F

    from sstable_migrator_spark.sinks import dynamic_partition_upsert

    base = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("day"),
        F.lit("orig").alias("v"),
    )
    out = str(tmp_path / "tbl")
    base.write.partitionBy("day").mode("overwrite").parquet(out)

    def mtimes(day):
        d = f"{out}/day={day}"
        return {f: os.path.getmtime(f"{d}/{f}") for f in os.listdir(d) if f.endswith(".parquet")}

    before = {d: mtimes(d) for d in ["0", "1", "2"]}

    delta = spark.range(10).select(
        (F.col("id") + 1000).alias("id"),
        F.lit("1").alias("day"),
        F.lit("fixed").alias("v"),
    )
    dynamic_partition_upsert(delta, out, ["day"])

    back = spark.read.parquet(out)
    assert back.filter("day = '1'").count() == 10          # replaced
    assert back.filter("v = 'fixed'").count() == 10
    assert back.filter("day = '0'").count() == 34           # untouched
    assert mtimes("0") == before["0"]
    assert mtimes("2") == before["2"]
    assert mtimes("1") != before["1"]
    # conf restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"
