"""Sink contracts (SURVEY K3): parquet export options."""

from __future__ import annotations

import pyarrow.parquet as pq

from sstable_migrator_spark.sinks import parquet_export


def test_parquet_export_snappy_and_row_groups(spark, sf_dir, tmp_path):
    out = str(tmp_path / "exp")
    parquet_export(spark.read.parquet(f"{sf_dir}/orders.parquet"), out)
    import glob

    files = glob.glob(f"{out}/*.parquet")
    assert files
    meta = pq.ParquetFile(files[0]).metadata
    assert meta.row_group(0).column(0).compression.lower() == "snappy"
    # 128 MB row-group target set session-wide (parquet_converter/main.go:35)
    assert spark.conf.get("spark.hadoop.parquet.block.size") == str(128 * 1024 * 1024)
