"""Distributed SSTable source — the reverse migration.

The reference moves data INTO Cassandra (App.java:231-250 +
sstableloader); a user holding the produced artifacts eventually wants
them back out (sstable -> parquet migration, cluster-free audits).
This source scans a directory of BIG-format sstables (the layout
``sinks.ring.write_sstables`` produces, or a landed stream target)
DISTRIBUTED: one Spark task per sstable, each running the independent
binary reader (sinks/sstable_format.SSTableReader — index and summary
cross-checks, digest, CRC, bloom) and emitting Arrow batches built
straight from the decoded values (``mapInArrow``, so a NaN cell
stays NaN).

Schema: column NAMES for the partition key and clustering are supplied
by the caller — real sstables do not store them either (they live in
the cluster's schema tables; sstableloader equally needs the schema).
Column TYPES come from the Statistics.db HEADER of the first sstable,
so a caller cannot mislabel an int as a text. Every other sstable's
header must declare the same key type, clustering types and regular
columns: its scan task raises a ValueError naming it otherwise (a
different header would lose columns or read back NULLs silently).
Each CQL type's Spark type is its ``spark`` entry in
``sinks.sstable_format.CQL_TYPES``
(text/varchar/ascii/inet -> string, blob -> binary, the rest by name;
timestamp keeps CQL's millis — sub-ms precision was truncated at
write time, as in Cassandra).

Column order: key columns first (caller order), then regular columns
in sstable serialization order — sorted by name, exactly as Cassandra
stores them; select() to taste.

Scale: the scan parallelizes over sstables (one per token range from
write_sstables); each task is a linear single pass over its Data.db.
The integrity checks are always on — the same cost class as the
write's digesting. An absent cell surfaces as NULL.
"""

from __future__ import annotations

import datetime
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def _sstable_dirs(path: str) -> list[str]:
    out = []
    for d in sorted(glob.glob(os.path.join(path, "cass_range=*"))):
        if os.path.isdir(d) and any(
            f.endswith("-TOC.txt") for f in os.listdir(d)
        ):
            out.append(d)
    if not out:
        raise ValueError(f"no sstable directories under {path}/cass_range=*")
    return out


def _convert(cql: str, v):
    """Reader deser -> Spark-facing Python value (timestamp millis ->
    datetime, date epoch-days -> date); everything else is already the
    right Python type."""
    if v is None:
        return None
    if cql == "timestamp":
        # integer epoch math: float-seconds division drops the last
        # microsecond for ~half of all far-future millis values
        return datetime.datetime(
            1970, 1, 1, tzinfo=datetime.timezone.utc
        ) + datetime.timedelta(milliseconds=v)
    if cql == "date":
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
    return v


def read_sstables(
    spark: SparkSession,
    path: str,
    partition_key: list[str],
    clustering: list[str] | None = None,
) -> DataFrame:
    """Scan every sstable under ``path``'s ``cass_range=*`` directories
    into a DataFrame — one verified task per sstable, types from
    Statistics.db, names from the caller's schema (see module
    docstring)."""
    from sstable_migrator_spark.sinks.sstable_format import (
        CQL_TYPES,
        SSTableReader,
        _marshal_to_type,
    )

    clustering = list(clustering or [])
    dirs = _sstable_dirs(path)
    # one unit per SSTABLE, not per directory: a row-capped range
    # (write_sstables max_rows_per_sstable) holds several generations
    # in one range dir; each is its own scan task. NOTE: all sstables
    # are unioned verbatim — a directory holding uncompacted OVERWRITE
    # generations must be compacted first (compact_stream_batches),
    # exactly as the q179 path does.
    tables = [
        (d, f[: -len("-TOC.txt")])
        for d in dirs
        for f in sorted(os.listdir(d))
        if f.endswith("-TOC.txt")
    ]

    # driver-side: one Statistics.db (KBs) fixes the types; every scan
    # task checks its own header against it
    first = SSTableReader(*tables[0])
    first_name = "/".join(tables[0])
    stats = first.stats
    header = (stats["key_type"], stats["clustering_types"], stats["regular_columns"])
    key_cqls = [t.cql for t in first.key_types]
    clus_cqls = [_marshal_to_type(m).cql for m in stats["clustering_types"]]
    reg = [(n, _marshal_to_type(m).cql) for n, m in stats["regular_columns"]]
    if len(partition_key) != len(key_cqls):
        raise ValueError(
            f"partition_key names {partition_key} vs {len(key_cqls)} "
            "serialized key components"
        )
    if len(clustering) != len(clus_cqls):
        raise ValueError(
            f"clustering names {clustering} vs {len(clus_cqls)} "
            "serialized clustering components"
        )
    names = partition_key + clustering + [n for n, _ in reg]
    cqls = key_cqls + clus_cqls + [c for _, c in reg]
    schema = DataType.fromDDL(
        ", ".join(f"`{n}` {CQL_TYPES[c].spark}" for n, c in zip(names, cqls))
    )
    arrow_schema = to_arrow_schema(schema)

    # one sstable per task; parallelize with one row per slice pins the
    # placement without the range sampler's extra pass or an exchange
    # (hash repartition on the path would leave ~1/e tasks empty and
    # others reading 2-3 sstables)
    from ..sinks import local_rows_df

    dirs_df = local_rows_df(
        spark,
        [(i, d, p) for i, (d, p) in enumerate(tables)],
        "i int, dir string, prefix string",
        slices=len(tables),
    )

    def _scan(batches):
        import pyarrow as pa

        def _batch(rows: list[list]) -> pa.RecordBatch:
            # typed arrays straight from the Python values: a double
            # NaN stays NaN, where a pandas hand-off would turn it NULL
            return pa.RecordBatch.from_arrays(
                [pa.array(col, type=f.type) for col, f in zip(zip(*rows), arrow_schema)],
                schema=arrow_schema,
            )

        for batch in batches:
            for task in batch.to_pylist():
                d, pref = task["dir"], task["prefix"]
                reader = SSTableReader(d, pref)
                st = reader.stats
                if (st["key_type"], st["clustering_types"], st["regular_columns"]) != header:
                    raise ValueError(
                        f"sstable {d}/{pref} declares key type, clustering "
                        "types or regular columns that differ from the "
                        f"first sstable's ({first_name}); one scan cannot "
                        "mix table schemas"
                    )
                parts = list(reader.partitions())
                if not reader.verify(parts)["ok"]:
                    raise ValueError(f"sstable integrity check failed: {d}")
                key_ts = reader.key_types
                rows = []
                for p in parts:
                    keyvals = [
                        _convert(t.cql, t.deser(b))
                        for t, b in zip(key_ts, p["key_components"])
                    ]
                    for r in p["rows"]:
                        clusvals = [
                            _convert(c, v)
                            for c, v in zip(clus_cqls, r["clustering"])
                        ]
                        regvals = [
                            _convert(c, r["cells"].get(n))
                            for n, c in zip(
                                [n for n, _ in reg], [c for _, c in reg]
                            )
                        ]
                        rows.append(keyvals + clusvals + regvals)
                        if len(rows) >= 65536:
                            # bounded Arrow batches: one giant frame per
                            # sstable would cost several times the file
                            # size in task memory
                            yield _batch(rows)
                            rows = []
                if rows:
                    yield _batch(rows)

    return dirs_df.mapInArrow(_scan, schema)
