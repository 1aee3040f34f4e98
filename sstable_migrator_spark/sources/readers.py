"""Sources (SURVEY §2.1, S1-S9).

Every reader is declarative (``spark.read`` with an explicit schema) so
Catalyst gets pushdown/pruning for free; directory globbing replaces the
reference's per-file loops (App.java:63-69: listFiles + BufferedReader),
and a single job over all CommonCrawl shards replaces the 300-iteration
shell loop (utils/cc_download_convert/start.sh:5).

Compressed inputs: Spark reads ``.gz`` text/CSV natively, which covers
the reference's wget+gzip staging (daily_subdomain_upload.sh:15-24);
7z archives must be staged to gzip/zstd first (S5) — that is a
driver-side fetch concern, exposed here as ``stage_url`` hooks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S1/S3 — schema'd CSV scan (no header, positional, like the
    reference's wire formats)."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").csv(path)


def parse_csv_lines(lines: DataFrame, n_fields: int, names: list[str]) -> DataFrame:
    """Schema-on-read split of a ``value`` line column into positional
    fields, keeping rows with at least ``n_fields`` fields (stricter
    P2 arity/shape checks live in operators.clean; this is the
    permissive split + minimum-arity gate)."""
    parts = F.split(F.col("value"), ",")
    cols = [F.get(parts, i).alias(name) for i, name in enumerate(names)]
    return (
        lines.select(F.col("value"), F.size(parts).alias("_arity"), *cols)
        .filter(F.col("_arity") >= n_fields)
    )


def read_surt_lines(spark: SparkSession, path: str) -> DataFrame:
    """S6 — CommonCrawl cdx/SURT shard scan. Pass a glob covering all
    shards; one distributed job replaces the sequential shard loop."""
    return spark.read.text(path)


def stage_url(
    urls: list[str] | str,
    dest_path: str,
    retries: int = 2,
    timeout: int = 60,
    extract_archives: bool = True,
) -> str:
    """S4/S5/S7 — driver-side fetch-to-staging with mirror failover.

    The reference wgets daily dumps with a cs1 -> cs2 mirror fallback
    (daily_all_upload.sh:28-31) and ClickHouse ingests straight from a
    URL (clickhouse_queries.md:15-18). Spark has no OSS URL datasource,
    so ingestion wrappers stage the payload locally and read the staged
    file. ``.gz`` is left as-is (Spark reads it natively); a 7z payload
    (certstream dumps, daily_certstream_download.sh:33-39) is detected
    by magic and extracted in place with the dependency-free
    ``sources.sevenzip`` reader — ``dest_path`` then becomes a
    *directory* of members, which ``spark.read`` globs exactly like a
    multi-file input. Tries every mirror per round, ``retries`` rounds.
    """
    import shutil
    import urllib.request

    mirror_list = [urls] if isinstance(urls, str) else list(urls)
    errors: list[str] = []
    for _ in range(max(retries, 1)):
        for url in mirror_list:
            try:
                with urllib.request.urlopen(url, timeout=timeout) as resp, open(
                    dest_path, "wb"
                ) as out:
                    shutil.copyfileobj(resp, out)
                if extract_archives:
                    return _extract_if_7z(dest_path)
                return dest_path
            except Exception as e:  # noqa: BLE001 — collect and fail over
                errors.append(f"{url}: {e!r}")
    raise OSError(f"all mirrors failed after {retries} rounds: {errors}")


def _extract_if_7z(dest_path: str) -> str:
    """If the staged payload is a 7z archive, replace it with a
    directory of its extracted members (S5). Non-7z payloads pass
    through untouched."""
    import os

    from sstable_migrator_spark.sources.sevenzip import extract_7z, is_7z

    with open(dest_path, "rb") as f:
        head = f.read(6)
    if not is_7z(head):
        return dest_path
    members = extract_7z(dest_path)
    os.remove(dest_path)
    os.makedirs(dest_path, exist_ok=True)
    used: set[str] = set()
    for i, (name, data) in enumerate(members.items()):
        # flatten directories but keep names collision-free: two members
        # named a/certs.csv and b/certs.csv must NOT overwrite each
        # other (that would silently halve the data)
        safe = os.path.basename(name.replace("\\", "/")) or "member"
        if safe in used:
            root, ext = os.path.splitext(safe)
            safe = f"{root}.{i}{ext}"
        used.add(safe)
        with open(os.path.join(dest_path, safe), "wb") as out:
            out.write(data)
    return dest_path


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str | None = None) -> DataFrame:
    """JSON-lines reader — the interchange format LLM-data pipelines
    emit/consume. With an explicit schema the reader skips the
    inference pass (two scans -> one; mandatory at 100 TB) and
    malformed lines land in ``_corrupt_record`` instead of failing the
    job (PERMISSIVE is the analog of the reference cleaners'
    reject-stream, utils.go:95-109)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader — same columnar contract as parquet (predicate
    pushdown, column pruning, vectorized scan) for pipelines whose
    upstream emits ORC (Hive-era warehouses). Schema comes from the
    file footer; filters land in the scan's PushedFilters the same way
    tests/test_plans.py proves for parquet."""
    return spark.read.orc(path)
