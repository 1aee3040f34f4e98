"""Query-side operators (SURVEY §2.6-§2.8): the analytics surface the
reference documents against ClickHouse/Cassandra (misc/
clickhouse_queries.md, KB.md) plus generic relational helpers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_count_topk(
    df: DataFrame, group_cols: list[str], k: int = 100, count_alias: str = "cnt"
) -> DataFrame:
    """A2/O3 — ``GROUP BY x ORDER BY count(*) DESC LIMIT k``
    (clickhouse_queries.md:35-43). Partial+final hash agg then
    TakeOrderedAndProject — no global sort materializes. Tie-break on
    the group key for deterministic, oracle-comparable output."""
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .orderBy(F.col(count_alias).desc(), *[F.col(c).asc() for c in group_cols])
        .limit(k)
    )


def per_partition_limit(
    df: DataFrame, partition_cols: list[str], order_cols: list[Column], n: int = 1
) -> DataFrame:
    """Q1 — CQL ``PER PARTITION LIMIT n`` (KB.md:1-4): first n rows per
    partition key in clustering order. Window row_number; AQE handles
    skewed partitions."""
    if "_rn" in df.columns:
        raise ValueError("input already has a _rn column")
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def keyset_page(
    df: DataFrame, key_col: str, after, page_size: int
) -> DataFrame:
    """Q2 — keyset pagination (KB.md:7-11): no OFFSET scan; resume
    strictly after the last seen key. O(page) via
    TakeOrderedAndProject + pushed-down range filter."""
    out = df
    if after is not None:
        out = out.filter(F.col(key_col) > F.lit(after))
    return out.orderBy(F.col(key_col).asc()).limit(page_size)


def merge_aggregate_state(
    snapshot: DataFrame,
    delta: DataFrame,
    keys: list[str],
    merges: dict[str, str],
) -> DataFrame:
    """Incremental materialized-view maintenance: fold a DELTA's
    partial aggregates into a SNAPSHOT of the same aggregates without
    recomputing from base data — new keys appear, existing keys merge.
    ``merges`` maps each measure column to its merge function; only
    associative+commutative merges are accepted (sum/min/max/count —
    count merges by sum), because the union-then-reaggregate shape IS
    the merge for exactly those. avg is deliberately rejected: maintain
    (sum, count) and derive it, the standard MV decomposition.

    Cost: one union (no shuffle) + one hash agg on ``keys`` over
    |snapshot keys| + |delta keys| rows — never the base table. This is
    the maintenance step a 100 TB nightly pipeline runs per partition
    instead of a full recompute; with integer measures the merged
    result is bit-identical to the full recompute (exact associative
    arithmetic), which is how the q160 oracle checks it."""
    _FNS = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    bad = [c for c, fn in merges.items() if fn not in _FNS]
    if bad:
        raise ValueError(
            f"non-mergeable aggregate(s) {bad}: only sum/count/min/max merge "
            "associatively (decompose avg into sum+count)"
        )
    cols = [*keys, *merges]
    return (
        snapshot.select(*cols)
        .unionByName(delta.select(*cols))
        .groupBy(*keys)
        .agg(*[_FNS[fn](c).alias(c) for c, fn in merges.items()])
    )


def prefix_lookup(df: DataFrame, **equals) -> DataFrame:
    """Q4 — point/prefix lookup on partition columns; over storage
    partitioned by those columns this is partition-pruned to O(result)."""
    out = df
    for c, v in equals.items():
        out = out.filter(F.col(c) == F.lit(v))
    return out


def gate_attribution_report(
    df: DataFrame, group_cols: list[str], gate_cols: list[str]
) -> DataFrame:
    """The RefinedWeb-style curation question — "which domains are we
    admitting/rejecting, and WHY" — as one rollup over per-document
    gate flags (0/1 int columns: Gopher keep, quality-model keep,
    lang-id, dedup admit, ...). Per group, emits ``n_docs``, per-gate
    ``n_pass_<gate>``, per-gate ``n_sole_block_<gate>`` (documents
    REJECTED BY EXACTLY THAT GATE — the actionable column: a domain
    losing thousands of documents to one gate is either a bad domain
    or a miscalibrated gate), and ``n_admitted`` (every gate passes).

    Scale shape: the flags are upstream map-side projections; this is
    ONE hash aggregation on the group key (partial map-side combine),
    output O(domains). Integer sums only — hash-exact."""
    if not gate_cols:
        raise ValueError("need at least one gate column")

    def prod(cols):
        e = F.lit(1).cast("long")
        for c in cols:
            e = e * F.col(c).cast("long")
        return e

    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    for i, g in enumerate(gate_cols):
        others = [h for j, h in enumerate(gate_cols) if j != i]
        aggs.append(F.sum(F.col(g).cast("long")).cast("long").alias(f"n_pass_{g}"))
        aggs.append(
            F.sum((F.lit(1) - F.col(g).cast("long")) * prod(others))
            .cast("long")
            .alias(f"n_sole_block_{g}")
        )
    aggs.append(F.sum(prod(gate_cols)).cast("long").alias("n_admitted"))
    return df.groupBy(*group_cols).agg(*aggs)


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    parts: int | None = None,
) -> tuple[DataFrame, int]:
    """Distributed GLOBAL running (inclusive) sum of ``value_col`` in
    ``order_cols`` order, plus the grand total — without the
    unpartitioned ``Window.orderBy`` that funnels the whole relation
    through one task. Two phases:

    1. ``repartitionByRange(order_cols)`` — global order becomes
       partition-id order (localCheckpoint pins the partitioning, since
       both the totals job and the final plan scan it);
    2. per-partition totals to the driver (one row PER PARTITION, not
       per row), exclusive prefix offsets broadcast back, bounded
       in-partition window + offset = the exact global running sum.

    Requires ``order_cols`` to be a total order (unique key): rows that
    tie across a range boundary would get an arbitrary relative order.
    This is the shard-packing recipe from pipelines/corpus.py, extracted
    for reuse (weighted systematic sampling, token-budget packing).
    """
    spark = df.sparkSession
    if parts is None:
        parts = max(spark.sparkContext.defaultParallelism, 1)
    # Pin the INPUT before range partitioning (round-10, guide §5):
    # repartitionByRange runs a sampling pass to pick range bounds, so
    # an unpinned upstream (often a scoring kernel or tokenize chain)
    # executed TWICE — once for the sample, once for the exchange.
    # One materialization, then both passes read stored rows.
    src = df.localCheckpoint()
    staged = src.repartitionByRange(parts, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    if parts <= 256:
        # Fuse the per-partition totals into the SAME job that
        # materializes the range partitioning: an Observation with one
        # sum(CASE WHEN _pid=i) per partition rides the checkpoint
        # (metrics fire on the localCheckpoint job — verified round 10),
        # replacing a whole extra scan+shuffle+collect job. Bounded to
        # 256 partitions so a many-thousand-core cluster doesn't carry
        # thousands of CASE aggregates in one observe node; past that
        # the one extra bounded rollup job is the cheaper shape.
        from pyspark.sql import Observation

        obs = Observation()
        # one array-valued metric instead of `parts` separate Columns:
        # the per-Column form cost ~90 ms of py4j construction per call
        per_pid = ", ".join(
            f"sum(CASE WHEN _pid = {i} THEN `{value_col}` END)"
            for i in range(parts)
        )
        ranged = staged.observe(
            obs, F.expr(f"array({per_pid})").alias("tots")
        ).localCheckpoint()
        tots = obs.get["tots"]
        totals = [(i, int(tots[i] or 0)) for i in range(parts)]
    else:
        ranged = staged.localCheckpoint()
        totals = sorted(
            (r["_pid"], int(r["tot"] or 0))
            for r in ranged.groupBy("_pid").agg(F.sum(value_col).alias("tot")).collect()
        )
    offsets, acc = {}, 0
    for pid, tot in totals:
        offsets[pid] = acc
        acc += tot
    from sstable_migrator_spark.sinks import local_rows_df

    off_df = F.broadcast(
        local_rows_df(
            spark,
            [(int(p), int(o)) for p, o in offsets.items()],
            "_pid int, _off long",
        )
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (
        ranged.join(off_df, "_pid")
        .withColumn(out_col, (F.col("_off") + F.sum(value_col).over(w)).cast("long"))
        .drop("_pid", "_off")
    )
    return out, acc


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    parts: int | None = None,
) -> tuple[DataFrame, dict[tuple, int]]:
    """``global_prefix_sum`` generalized to a running sum WITHIN each
    group — without ``Window.partitionBy(group)``, which would funnel
    every group through ONE task (a corpus with five sources would run
    on five cores). Same two phases, group-aware:

    1. range-partition on (group, order) — each group becomes a
       contiguous RUN of partitions, still split across many tasks;
    2. per-(partition, group) totals to the driver — O(partitions x
       groups-touching-a-partition) rows, which is O(partitions +
       groups) because a range partition touches at most two groups'
       boundary — exclusive offsets per (partition, group) broadcast
       back; bounded in-partition windows keyed by (partition, group).

    Returns ``(df_with_running, {group_tuple: group_total})``.
    Requires (group, order) to be a total order (unique key), same as
    the global form."""
    spark = df.sparkSession
    if parts is None:
        parts = max(spark.sparkContext.defaultParallelism, 1)
    keys = [*group_cols, *order_cols]
    # pin the input once — see global_prefix_sum (the range sampler
    # would otherwise re-run the upstream)
    src = df.localCheckpoint()
    ranged = (
        src.repartitionByRange(parts, *[F.col(c) for c in keys])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = sorted(
        (tuple(r[g] for g in group_cols), r["_pid"], int(r["tot"] or 0))
        for r in ranged.groupBy("_pid", *group_cols)
        .agg(F.sum(value_col).alias("tot"))
        .collect()
    )
    offsets: dict[tuple, int] = {}
    group_totals: dict[tuple, int] = {}
    rows = []
    for gkey, pid, tot in totals:  # sorted: per-group ascending pid
        off = group_totals.get(gkey, 0)
        rows.append((*gkey, int(pid), off))
        group_totals[gkey] = off + tot
    from pyspark.sql import types as T

    off_schema = (
        ranged.select(*group_cols)
        .schema.add("_pid", T.IntegerType())
        .add("_off", T.LongType())
    )
    from sstable_migrator_spark.sinks import local_rows_df

    off_df = F.broadcast(local_rows_df(spark, rows, off_schema))
    w = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    out = (
        ranged.join(off_df, ["_pid", *group_cols])
        .withColumn(out_col, (F.col("_off") + F.sum(value_col).over(w)).cast("long"))
        .drop("_pid", "_off")
    )
    return out, group_totals
