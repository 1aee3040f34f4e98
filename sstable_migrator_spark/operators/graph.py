"""Iterative graph algorithms as driver-looped DataFrame jobs.

North-star extension (the reference has no graph surface; its nearest
analog is the apex-popularity rollup, misc/clickhouse_queries.md:35-43).
Connected components (large-star/small-star contraction, the one
implementation ``operators.dedup.duplicate_clusters`` wraps), PageRank
and triangle counts. PageRank is the canonical "iterative algorithm on
Spark" shape: each iteration is a pure DataFrame job (join + aggregate
= two key-shuffles), the loop runs on the driver, and lineage is cut
with localCheckpoint so plan depth stays O(1) across iterations
instead of O(iters).

Scale notes (100 TB graphs):
- The edge list is the only big table; it is checkpointed ONCE with its
  out-degrees attached, so every iteration shuffles (src-keyed join +
  dst-keyed agg) but never recomputes degrees.
- Rank state is |V| rows (node, rank) — tiny next to |E|. AQE handles
  skewed high-degree dst nodes; for pathological hubs pre-split dst by
  salting the aggregation (sum is algebraic, so partial sums compose).
- Convergence checks (`tol`) cost one extra action per iteration; leave
  tol=None for fixed-iteration production runs (the common choice) and
  the loop runs exactly ``iters`` jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "pagerank", "triangle_counts"]


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    tol: float | None = None,
) -> DataFrame:
    """Unnormalized PageRank: rank(v) = (1-d) + d * sum_{u->v} rank(u)/deg(u).

    ``edges`` is a directed edge list; duplicate edges are collapsed.
    Returns (node, rank) for every node that appears as a source or a
    destination. Nodes with no in-links keep rank = 1-d. If ``tol`` is
    given, stops early when the summed absolute rank change drops below
    it (costs one count-style action per iteration).
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # one checkpointed (src, dst, od) table: every iteration reuses it
    ed = e.join(deg, "src").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))

    for _ in range(iters):
        contribs = (
            ed.join(ranks, ed.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("od")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        new_ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if tol is not None:
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "node")
                .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
                .first()["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def _sym(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame, dedup: bool = True) -> DataFrame:
    """Large-star round: every node connects its LARGER neighbors to its
    current minimum (min of neighborhood incl. itself). One groupBy for
    the per-node min + one join — neighbor lists are never collected,
    so a hub node costs a wide aggregation, not a giant array.
    ``dedup=False`` skips the trailing distinct — correct ONLY when the
    consumer re-distincts anyway (``_small_star``'s orientation step
    does), saving one exchange per contraction round."""
    s = _sym(e)
    mn = s.groupBy("u").agg(F.min("v").alias("mv"))
    out = (
        s.filter(F.col("v") > F.col("u"))
        .join(mn, "u")
        .select(
            F.col("v").alias("u"),
            F.least(F.col("mv"), F.col("u")).alias("v"),
        )
    )
    return out.distinct() if dedup else out


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small, connect every small
    neighbor (and the center) to the neighborhood minimum."""
    oriented = (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
    )
    mn = oriented.groupBy("u").agg(F.min("v").alias("m"))
    out1 = (
        oriented.join(mn, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    out2 = mn.select("u", F.col("m").alias("v"))
    return out1.union(out2).distinct()


def _driver_union_find(spark, edge_rows) -> DataFrame:
    """Small-side finish: path-halving union-find over a collected edge
    list, components labeled by their minimum node id — bit-identical
    to what star contraction converges to (pinned by test_graph). A
    self-loop registers its node as its own component. The rows are
    already on the driver, so the result is one partition."""
    from sstable_migrator_spark.sinks import local_rows_df

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return local_rows_df(
        spark, [(n, find(n)) for n in sorted(parent)], "node long, component long"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
    driver_threshold_edges: int = 65536,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"). Returns ``(node, component)`` with component = minimum
    node id in the component, one row per node. Edges are undirected;
    duplicate and reversed edges collapse. An edge with a NULL endpoint
    is dropped before anything else (it names no node). A self-loop
    carries no connectivity but does name its node: a node that appears
    only in self-loops is emitted as its own component, on both paths.

    Star contraction converges in O(log^2 n) rounds regardless of
    component diameter, each round two bounded shuffles (per-node min +
    join). Skewed hubs are a wide groupBy-min, never a collect_list.
    Lineage is cut per round (localCheckpoint) so plan depth stays
    O(1); convergence is detected by an edge-set checksum (count + xor
    of xxhash64), one cheap action per round instead of a
    set-difference join. The checksum alone could collide (64-bit xor
    over the edge set), so a signature match is CONFIRMED by one exact
    exceptAll before returning — the exact check runs once, at
    convergence, not per round. Raises ``RuntimeError`` when
    ``max_iters`` rounds do not converge.

    ``driver_threshold_edges``: the small-side cutover. A deduped edge
    set at or under the threshold (known for free from the signature
    count) is collected and finished with a driver union-find — the
    same judgment a broadcast join makes about a small side. The
    distilled pair graphs LSH dedup produces are O(duplicate pairs),
    usually thousands of edges off a billion-document corpus, and each
    star round costs ~3 scheduled jobs regardless of size; paying
    O(log^2 n) rounds of cluster scheduling to contract something that
    fits in one task is pure overhead. 64k edges collect to ~1 MB.
    The labeling (component = min node id) is bit-identical on both
    paths (pinned by test_graph); pass 0 to force the distributed
    contraction at any size.
    """
    def _ck_with_sig(df: DataFrame) -> tuple[DataFrame, tuple]:
        # The convergence signature (count + xor of xxhash64) rides the
        # SAME job that materializes the round's localCheckpoint via an
        # Observation, so reading it costs no extra scan.
        from pyspark.sql import Observation

        obs = Observation()
        ck = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).localCheckpoint()
        got = obs.get
        return ck, (got["n"], got["x"])

    e, prev = _ck_with_sig(
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    # Seed the convergence signature with the INPUT edge set: an edge
    # set that is already a fixed point (and has no self-loops) then
    # converges after ONE star round instead of two. The signature
    # count doubles as the small-side cutover test.
    if prev[0] <= driver_threshold_edges:
        return _driver_union_find(edges.sparkSession, e.collect())
    loops = e.filter(F.col("u") == F.col("v"))
    for _ in range(max_iters):
        # dedup=False: _small_star's orientation distinct subsumes
        # large-star's, one fewer exchange per round
        e2, sig = _ck_with_sig(_small_star(_large_star(e, dedup=False)))
        # equal counts + one-direction exceptAll empty => equal sets;
        # rules out a 64-bit checksum collision silently returning
        # partially-contracted components
        if sig == prev and e2.exceptAll(e).isEmpty():
            e = e2
            break
        prev = sig
        e = e2
    else:
        raise RuntimeError(f"no convergence in {max_iters} star rounds")
    # converged edges are (member, root) stars; roots and self-loop
    # nodes label themselves, and the per-node min folds a self-loop
    # node that is also a member into its real component
    return (
        e.union(e.select(F.col("v").alias("u"), "v"))
        .union(loops)
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("component"))
    )


def _orient(canon: DataFrame, orientation: str) -> DataFrame:
    """Orient canonical undirected edges ``(a < b)`` into ``(src, dst)``.

    ``"degree"`` (default, the degeneracy-style orientation): each edge
    points from its (degree, id)-smaller endpoint to the larger. Every
    node's out-degree is then bounded by O(sqrt(|E|)) — a node keeps an
    out-edge only toward neighbors of equal-or-higher degree, and there
    can be at most ~sqrt(2|E|) nodes of degree >= sqrt(2|E|) — so wedge
    volume sum(C(out_deg, 2)) is O(|E|^1.5) on ANY graph, power laws
    included. ``"id"`` orients by raw node id: one low-id hub of degree
    d owns C(d, 2) wedges, quadratic hot-spotting on skewed graphs —
    kept selectable for tests/benchmarks, not for production use.

    Two hash joins against the O(|V|) degree table; the (degree, id)
    composite is a total order, so the orientation is acyclic and every
    triangle has exactly one source node."""
    if orientation == "id":
        return canon.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    if orientation != "degree":
        raise ValueError(f"unknown orientation {orientation!r}")
    deg = (
        canon.select(F.col("a").alias("n"))
        .union(canon.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return (
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )


def _wedges(oriented: DataFrame) -> DataFrame:
    """Out-neighbor pairs per source node: wedge (x; y, z) with y < z by
    id. Exposed separately so tests can meter wedge volume per
    orientation — the quantity the degeneracy orientation exists to
    bound."""
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    return (
        e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") < F.col("e2.dst")))
        .select(
            F.col("e1.src").alias("x"),
            F.col("e1.dst").alias("y"),
            F.col("e2.dst").alias("z"),
        )
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    orientation: str = "degree",
) -> DataFrame:
    """Per-node triangle counts via the oriented node-iterator: wedges
    (pairs of out-neighbors under an acyclic orientation) close against
    the canonical undirected edge set, so every triangle is found
    exactly once — at its orientation-minimum node — then exploded to
    its three members. Input is an undirected edge list in any form
    (direction, duplicates, and self-loops are normalized away); output
    is ``(node, n_triangles)`` for nodes in at least one triangle.

    The default degree orientation is what makes this a 100 TB
    operator: wedge volume is O(|E|^1.5) regardless of degree skew (see
    ``_orient``), and the closure is a plain hash join on (y, z). The
    canonical edge relation feeds the orientation, both wedge branches,
    and the closure — localCheckpoint pins it so the base table is
    scanned once, not four times."""
    canon = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    w = _wedges(_orient(canon, orientation))
    # wedge (x; y, z) has y < z by id, so the closing edge is exactly
    # the canonical row (a=y, b=z)
    tri = w.join(
        canon.select(F.col("a").alias("y"), F.col("b").alias("z")), ["y", "z"]
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
