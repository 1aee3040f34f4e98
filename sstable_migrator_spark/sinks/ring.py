"""sstableloader-style token-ring placement (SURVEY K1/K2).

The reference's upload step hands CQLSSTableWriter output to
``sstableloader`` (daily_all_upload.sh:37-39), which discovers the
cluster's vnode ring and streams each SSTable's sections to the
replica set that owns each token range. This module reproduces that
placement plan Spark-side, so the bulk-load step becomes a plain
file/stream copy with no re-routing:

- ``build_ring`` — a deterministic vnode ring (tokens are the Murmur3
  tokens of ``"node:vnode_index"``, i.e. the same spread a random
  vnode assignment gives, but reproducible);
- ``replica_plan`` — per-range RF endpoints, SimpleStrategy (next RF
  distinct nodes clockwise) or rack-aware (NetworkTopologyStrategy's
  single-DC behavior: prefer unseen racks while any remain);
- ``write_sstables`` — routes every row to its owning range by Murmur3
  token (``np.searchsorted`` over the broadcast boundaries, no join),
  writes one BIG-format SSTable per range (``cass_range=<id>/``) and a
  JSON stream manifest mapping ranges to endpoints — the analog of
  sstableloader's stream plan.

Scale shape: the ring is thousands of entries at most (nodes x
vnodes), broadcast by closure; row routing is map-only; the only
shuffle is the repartition on range id, which is the SAME exchange any
bulk-load layout needs and is skew-free because Murmur3 tokens are
uniform. At 100 TB nothing on the driver grows with data size — the
manifest is O(vnodes).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from sstable_migrator_spark.functions.cassandra import (
    cassandra_token,
    cassandra_token_col,
)

__all__ = [
    "build_ring",
    "replica_plan",
    "ring_range_col",
    "write_sstables",
    "compact_stream_batches",
]

MIN_TOKEN = -(1 << 63)
MAX_TOKEN = (1 << 63) - 1


def build_ring(
    nodes: list[str], vnodes_per_node: int = 8
) -> list[tuple[int, str]]:
    """Deterministic vnode ring: each node owns ``vnodes_per_node``
    tokens, each the Murmur3 token of ``f"{node}:{i}"`` — the same
    uniform spread as Cassandra's random vnode allocation, minus the
    randomness. Returns ``[(token, node)]`` sorted by token; raises if
    two vnodes collide (practically impossible at 64-bit)."""
    ring = [
        (cassandra_token(f"{node}:{i}"), node)
        for node in nodes
        for i in range(vnodes_per_node)
    ]
    ring.sort()
    tokens = [t for t, _ in ring]
    if len(set(tokens)) != len(tokens):
        raise ValueError("vnode token collision — change vnodes_per_node")
    return ring


def replica_plan(
    ring: list[tuple[int, str]],
    rf: int = 3,
    racks: dict[str, str] | None = None,
) -> list[dict]:
    """Per-range replica endpoints, the way sstableloader's stream plan
    resolves them. Range ``i`` is ``(prev_token, token_i]`` (range 0
    wraps through MIN/MAX); its endpoints are found by walking the ring
    clockwise from the owning vnode:

    - SimpleStrategy (``racks=None``): first RF *distinct nodes*;
    - rack-aware (``racks`` maps node -> rack): Cassandra's single-DC
      NetworkTopologyStrategy behavior — a node on an already-used
      rack is skipped while any unseen rack still has candidates, then
      the skipped nodes fill the remainder in ring order.
    """
    ring = sorted(ring)
    m = len(ring)
    n_nodes = len({n for _, n in ring})
    if rf > n_nodes:
        raise ValueError(f"rf={rf} exceeds node count {n_nodes}")
    all_racks = set(racks.values()) if racks else set()
    plan = []
    for i, (tok, _owner) in enumerate(ring):
        endpoints: list[str] = []
        skipped: list[str] = []
        seen_racks: set[str] = set()
        for step in range(m):
            node = ring[(i + step) % m][1]
            if node in endpoints or node in skipped:
                continue
            if racks is None:
                endpoints.append(node)
            else:
                rack = racks[node]
                if rack in seen_racks and len(seen_racks) < len(all_racks):
                    skipped.append(node)
                    continue
                endpoints.append(node)
                seen_racks.add(rack)
            if len(endpoints) == rf:
                break
        for node in skipped:  # racks exhausted -> fill in ring order
            if len(endpoints) == rf:
                break
            endpoints.append(node)
        start = ring[i - 1][0] if i > 0 else ring[-1][0]
        plan.append(
            {
                "range_id": i,
                "start": start,
                "end": tok,
                "wraps": i == 0,
                "endpoints": endpoints,
            }
        )
    return plan


def ring_range_col(ring: list[tuple[int, str]], token_col: Column | str) -> Column:
    """Map a Murmur3 token column to its owning range id: the index of
    the first ring token >= t (ranges are ``(prev, curr]``), wrapping
    tokens beyond the last vnode back to range 0. Vectorized
    ``np.searchsorted`` over the closure-broadcast boundary array."""
    boundaries = np.array(sorted(t for t, _ in ring), dtype=np.int64)

    # an Arrow UDF like cassandra_token_col, so the two chain inside one
    # Python evaluation instead of two round trips
    @arrow_udf("int")
    def _rng(tokens: pa.Array) -> pa.Array:
        idx = np.searchsorted(boundaries, tokens.to_numpy(), side="left")
        idx[idx == len(boundaries)] = 0
        return pa.array(idx.astype(np.int32))

    return _rng(F.col(token_col) if isinstance(token_col, str) else token_col)


def write_sstables(
    df: DataFrame,
    path: str,
    keyspace: str,
    table: str,
    partition_key: list[str],
    clustering: list[str],
    ring: list[tuple[int, str]],
    rf: int = 3,
    racks: dict[str, str] | None = None,
    cql_type_overrides: dict[str, str] | None = None,
    write_timestamp_us: int = 1700000000000000,
    max_rows_per_sstable: int | None = None,
) -> list[dict]:
    """K1 end-to-end: route every row to its owning token range and
    write ONE actual BIG-format SSTable per range — the exact artifact
    ``CQLSSTableWriter`` + ``sstableloader`` produce and stream
    (App.java:231-250, daily_all_upload.sh:37-39). Each range directory
    ``cass_range=<id>/`` holds ``nb-<id+1>-big-*`` components; the
    stream manifest maps it to its RF endpoints, so the bulk load is a
    plain file copy per range.

    ``max_rows_per_sstable`` caps how many rows a single sstable may
    target: a range whose row count exceeds the cap is hash-split on
    its tokens into ``ceil(rows/cap)`` sub-sstables (distinct
    generations in the same range directory, written by SEPARATE
    tasks) — so a hot range (skewed vnode ownership or skewed data)
    stops being one giant task and one giant transfer artifact. The
    split is by token hash, so sub-sstable sizes are cap +/- sampling
    variance, each row lands in exactly one generation (the union
    reads back exactly — no cross-generation overwrites), and
    compaction reconciles the generations whenever one-per-range is
    wanted again. Costs one extra counting pass over the routing
    columns to size the splits (O(ranges) driver state).

    Execution shape: the ONLY shuffle is the repartition on range id
    (the rendezvous any bulk-load layout needs; Murmur3 tokens make it
    skew-free); serialization runs as a ``mapInArrow`` per partition —
    each Arrow batch's ``to_pylist()`` rows (exact ints, NaN kept, NULL
    as ``None``) stream straight into per-range ``SSTableWriter``s,
    which external-sort past a fixed 65 536-row buffer (sorted pickle
    runs + k-way merge), so executor memory is O(threshold +
    partitions-in-range) however big the range is; driver state stays
    O(vnodes). ``cql_type_overrides`` maps columns to CQL types Spark
    lacks (the reference's INET columns ride as strings Spark-side,
    exactly like cassandra_ddl's overrides).

    SHARED-FILESYSTEM CONTRACT: ``path`` is opened with plain
    ``open()`` ON THE EXECUTORS (one SSTableWriter per range task) and
    the manifest/read-back side expects all range directories visible
    together. On a real cluster point it at a filesystem every
    executor and the driver share (NFS/Lustre/FUSE-mounted object
    store) — resolve via
    :func:`sstable_migrator_spark.sinks.scratch_path`
    (env ``SPARK_GRAFT_SCRATCH``), as the catalog queries do.

    Returns the stream plan; per-sstable manifests land in
    ``_sstable_manifests.json`` (written from collected results —
    one small row per RANGE, not per data row)."""
    from pyspark import TaskContext

    from sstable_migrator_spark.sinks.sstable_format import (
        SPARK_TO_CQL,
        CqlTable,
        SSTableWriter,
    )

    over = cql_type_overrides or {}
    columns = []
    for f in df.schema.fields:
        cql = over.get(f.name) or SPARK_TO_CQL.get(f.dataType.simpleString())
        if cql is None:
            raise ValueError(f"no CQL mapping for {f.name}: {f.dataType.simpleString()}")
        columns.append((f.name, cql))
    schema = CqlTable(
        keyspace=keyspace, table=table, columns=columns,
        partition_key=partition_key, clustering=clustering,
    )

    ring = sorted(ring)
    plan = replica_plan(ring, rf=rf, racks=racks)
    os.makedirs(path, exist_ok=True)

    # each row's token (keyed by the partition-key columns' declared
    # types) and owning range
    routed_base = df.withColumn(
        "cass_token",
        cassandra_token_col(
            *partition_key,
            spark_types=[df.schema[c].dataType.simpleString() for c in partition_key],
        ),
    ).withColumn("cass_range", ring_range_col(ring, "cass_token"))

    if max_rows_per_sstable is None:
        routed = routed_base.withColumn("cass_sub", F.lit(0)).repartition(
            len(ring), "cass_range"
        )
    else:
        import math

        counts = {
            r["cass_range"]: r["n"]
            for r in routed_base.groupBy("cass_range")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_subs = {
            rid: max(1, math.ceil(n / max_rows_per_sstable))
            for rid, n in counts.items()
        }
        spark = df.sparkSession
        subs_df = spark.createDataFrame(
            sorted(n_subs.items()), "cass_range int, n_subs int"
        )
        routed = (
            routed_base.join(F.broadcast(subs_df), "cass_range")
            .withColumn(
                "cass_sub",
                F.pmod(F.xxhash64("cass_token"), F.col("n_subs")).cast("int"),
            )
            .drop("n_subs")
            .repartition(sum(n_subs.values()), "cass_range", "cass_sub")
        )

    n_ranges = len(ring)

    def _write(batches):
        # Arrow batches stream straight into per-range writers: nothing
        # accumulates beyond each writer's spill buffer, so a range
        # bigger than executor memory external-sorts instead of OOMing.
        writers: dict[tuple[int, int], SSTableWriter] = {}
        for batch in batches:
            for rec in batch.to_pylist():
                rid = rec.pop("cass_range")
                sub = rec.pop("cass_sub")
                rec.pop("cass_token")
                w = writers.get((rid, sub))
                if w is None:
                    # generation rid+1 + sub*n_ranges: unique per
                    # (range, sub-split) so capped sub-sstables coexist
                    # as distinct generations in one range directory
                    w = writers[(rid, sub)] = SSTableWriter(
                        os.path.join(path, f"cass_range={rid}"),
                        schema,
                        generation=rid + 1 + sub * n_ranges,
                        write_timestamp_us=write_timestamp_us,
                    )
                w.add_row(rec)
        part_id = TaskContext.get().partitionId()
        out = []
        for (rid, _sub), w in writers.items():
            m = w.close()
            out.append(
                {
                    "range_id": rid,
                    "task_partition": part_id,
                    "prefix": m["prefix"],
                    "partitions": m["partitions"],
                    "rows": m["rows"],
                    "data_bytes": m["data_bytes"],
                    "min_token": m["min_token"],
                    "max_token": m["max_token"],
                }
            )
        if out:
            yield pa.RecordBatch.from_pylist(out)

    manifests = routed.mapInArrow(
        _write,
        "range_id long, task_partition long, prefix string, partitions long, "
        "rows long, data_bytes long, min_token long, max_token long",
    ).collect()
    # keyed by (range, prefix): a capped range legitimately produces
    # several generations, one manifest row each
    by_range = {(m["range_id"], m["prefix"]): m.asDict() for m in manifests}
    with open(os.path.join(path, "_stream_plan.json"), "w") as fh:
        json.dump(
            {
                "rf": rf,
                "rack_aware": racks is not None,
                "keyspace": keyspace,
                "table": table,
                "ranges": plan,
            },
            fh,
        )
    with open(os.path.join(path, "_sstable_manifests.json"), "w") as fh:
        json.dump(
            sorted(by_range.values(), key=lambda m: (m["range_id"], m["prefix"])),
            fh,
        )
    return plan


def compact_stream_batches(
    spark: SparkSession,
    root: str,
    out_path: str,
    keyspace: str,
    table: str,
    partition_key: list[str],
    clustering: list[str] | None = None,
) -> list[dict]:
    """Arrival-side compaction for a bulk load done in waves (one
    ``write_sstables`` call per ``root/batch_id=*``): every sstable of
    every wave under ``batch_id=*/cass_range=N`` merges into ONE
    sstable per range at ``out_path/cass_range=N`` — the compaction a
    receiving Cassandra cluster would run, executed here as one Spark
    task per token range. Inputs go in ascending authority order:
    waves by batch id, a wave's generations by generation number
    (a row-capped range holds several), so later waves win
    write-timestamp ties (the rule ``compact_sstable_inputs``
    applies). Driver state is O(ranges): directory listings in, one
    manifest row per range out."""
    import glob as _glob

    from sstable_migrator_spark.sinks import local_rows_df
    from sstable_migrator_spark.sinks.sstable_format import sstable_prefixes

    clustering = list(clustering or [])
    batches = sorted(
        _glob.glob(os.path.join(root, "batch_id=*")),
        key=lambda d: int(d.rsplit("=", 1)[1]),
    )
    if not batches:
        raise ValueError(f"no batch_id=* under {root}")
    per_range: dict[int, list[tuple[str, str]]] = {}
    for b in batches:
        for d in sorted(_glob.glob(os.path.join(b, "cass_range=*"))):
            prefixes = sstable_prefixes(d)
            if prefixes:
                rid = int(d.rsplit("=", 1)[1])
                per_range.setdefault(rid, []).extend((d, p) for p in prefixes)
    if not per_range:
        raise ValueError(f"no sstables under {root}/batch_id=*")
    items = [
        (rid, json.dumps(inputs)) for rid, inputs in sorted(per_range.items())
    ]
    # one range per parallelize slice: one task per range without a
    # range sampler pass or an exchange
    df = local_rows_df(
        spark, items, "rid int, inputs string", slices=len(items)
    )

    def _go(batches_iter):
        from sstable_migrator_spark.sinks.sstable_format import (
            compact_sstable_inputs,
        )

        for pdf in batches_iter:
            rows = []
            for rid, inputs_json in zip(pdf["rid"], pdf["inputs"]):
                m = compact_sstable_inputs(
                    [tuple(x) for x in json.loads(inputs_json)],
                    os.path.join(out_path, f"cass_range={int(rid)}"),
                    keyspace=keyspace,
                    table=table,
                    partition_key=partition_key,
                    clustering=clustering,
                )
                rows.append(
                    {
                        "range_id": int(rid),
                        "prefix": m["prefix"],
                        "partitions": m["partitions"],
                        "rows": m["rows"],
                        "inputs": m["inputs"],
                        "rows_dropped": m["rows_dropped"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    out = df.mapInPandas(
        _go,
        "range_id int, prefix string, partitions long, rows long, "
        "inputs int, rows_dropped long",
    ).collect()
    manifests = sorted((r.asDict() for r in out), key=lambda m: m["range_id"])
    with open(os.path.join(out_path, "_sstable_manifests.json"), "w") as fh:
        json.dump(manifests, fh)
    return manifests
