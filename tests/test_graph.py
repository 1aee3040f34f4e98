"""PageRank driver-loop: golden values on a hand-computed graph plus
structural properties (sink handling, early stop)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sstable_migrator_spark.operators.graph import pagerank


@pytest.fixture(scope="module")
def star_chain(spark):
    # 1 -> 2, 1 -> 3, 2 -> 3, 3 -> 1  (3 is the hub; 1 feeds two)
    return spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )


def test_one_iteration_golden(spark, star_chain):
    # after 1 iter from rank=1: deg(1)=2, deg(2)=1, deg(3)=1
    # r(1) = .15 + .85*(1/1)          = 1.0
    # r(2) = .15 + .85*(1/2)          = 0.575
    # r(3) = .15 + .85*(1/2 + 1/1)    = 1.425
    got = {r["node"]: r["rank"] for r in pagerank(star_chain, iters=1).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.575)
    assert got[3] == pytest.approx(1.425)


def test_two_iterations_golden(spark, star_chain):
    # r2(1) = .15 + .85*1.425         = 1.36125
    # r2(2) = .15 + .85*(1.0/2)       = 0.575
    # r2(3) = .15 + .85*(1.0/2+0.575) = 1.06375
    got = {r["node"]: r["rank"] for r in pagerank(star_chain, iters=2).collect()}
    assert got[1] == pytest.approx(1.36125)
    assert got[2] == pytest.approx(0.575)
    assert got[3] == pytest.approx(1.06375)


def test_no_inlink_node_keeps_reset_mass(spark):
    edges = spark.createDataFrame([(10, 20), (20, 30)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert got[10] == pytest.approx(0.15)  # nothing points at 10
    assert set(got) == {10, 20, 30}


def test_tol_early_stop_matches_fixed(spark):
    # a 2-cycle converges to rank=1 immediately; tol stops after iter 1
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    with_tol = {r["node"]: r["rank"] for r in pagerank(edges, iters=50, tol=1e-9).collect()}
    fixed = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert with_tol == pytest.approx(fixed)
    assert with_tol[1] == pytest.approx(1.0)


def test_duplicate_edges_collapse(spark):
    dup = spark.createDataFrame([(1, 2), (1, 2), (1, 2)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(dup, iters=1).collect()}
    # deg(1)=1 after distinct: r(2) = .15 + .85*1 = 1.0
    assert got[2] == pytest.approx(1.0)


def _brute_components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_vs_union_find(spark):
    """Star contraction must agree with a driver-side union-find on a
    graph mixing a long chain (high diameter — the label-propagation
    worst case), a hub star, a triangle with a redundant edge, and
    isolated pairs."""
    from sstable_migrator_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(100, 160)]          # diameter 60
    star = [(500, 500 + i) for i in range(1, 40)]          # hub
    tri = [(1, 2), (2, 3), (1, 3), (3, 1)]
    pairs = chain + star + tri + [(900, 901), (950, 951)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    # threshold 0: force the distributed star rounds (that is what
    # this test exists to check against the union-find truth)
    got = {r["node"]: r["component"]
           for r in connected_components(df, driver_threshold_edges=0).collect()}
    assert got == _brute_components(pairs)
    # and the small-side cutover (default threshold) must bit-agree
    hybrid = {r["node"]: r["component"]
              for r in connected_components(df).collect()}
    assert hybrid == got


def test_connected_components_directionless(spark):
    """Edge direction must not matter (reversed duplicates collapse)."""
    from sstable_migrator_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [(5, 4), (4, 5), (4, 3), (9, 8)], "src long, dst long"
    )
    for thresh in (0, 65536):
        got = {r["node"]: r["component"]
               for r in connected_components(df, driver_threshold_edges=thresh).collect()}
        assert got == {3: 3, 4: 3, 5: 3, 8: 8, 9: 8}, thresh


def test_connected_components_self_loop_and_null_edges(spark):
    """A node seen only in a self-loop is its own component, and an
    edge with a NULL endpoint names no node — on the driver cutover
    and on the star path alike."""
    from sstable_migrator_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [(1, 2), (9, 9), (2, 2), (None, 3), (3, None), (3, 4)],
        "src long, dst long",
    )
    for thresh in (0, 65536):
        got = {r["node"]: r["component"]
               for r in connected_components(df, driver_threshold_edges=thresh).collect()}
        assert got == {1: 1, 2: 1, 3: 3, 4: 3, 9: 9}, thresh


_node = st.integers(min_value=0, max_value=11)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    edges=st.lists(st.tuples(_node, _node), min_size=1, max_size=16),
    chain=st.lists(_node, max_size=8),
)
def test_components_match_union_find_property(spark, edges, chain):
    """Random small edge lists (self-loops, duplicate and reversed
    pairs, plus a generated chain): the star path and
    ``duplicate_clusters`` both equal a brute-force union-find."""
    from sstable_migrator_spark.operators.dedup import duplicate_clusters
    from sstable_migrator_spark.operators.graph import connected_components

    pairs = edges + list(zip(chain, chain[1:])) + [(b, a) for a, b in edges[:3]]
    truth = _brute_components(pairs)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    star = {r["node"]: r["component"]
            for r in connected_components(
                df, src="id_a", dst="id_b", driver_threshold_edges=0
            ).collect()}
    assert star == truth
    clusters = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
                for r in duplicate_clusters(df).collect()}
    assert clusters == {n: (c, n == c) for n, c in truth.items()}


def _brute_triangles(pairs):
    """Driver-side truth: per-node triangle membership counts."""
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    from collections import Counter

    counts = Counter()
    seen = set()
    for x in adj:
        for y in adj[x]:
            for z in adj[x] & adj[y]:
                t = tuple(sorted((x, y, z)))
                if t not in seen:
                    seen.add(t)
                    counts.update(t)
    return dict(counts)


def test_triangle_counts_vs_brute(spark):
    """Both orientations must agree with a driver-side enumeration on a
    messy graph: overlapping triangles, a hub, duplicate/reversed
    edges, self-loops."""
    from sstable_migrator_spark.operators.graph import triangle_counts

    pairs = (
        [(1, 2), (2, 3), (1, 3), (3, 1)]            # triangle + dup edge
        + [(2, 4), (3, 4)]                           # second triangle on (2,3)
        + [(5, 5)]                                   # self-loop
        + [(10, i) for i in range(11, 30)]           # hub, no closures
        + [(11, 12), (12, 13), (11, 13)]             # triangle among leaves
        + [(10, 11), (3, 2)]                         # hub closures + reversed dup
    )
    truth = _brute_triangles(pairs)
    df = spark.createDataFrame(pairs, "a long, b long")
    for orientation in ("degree", "id"):
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(df, orientation=orientation).collect()
        }
        assert got == truth, orientation


def test_degree_orientation_bounds_skewed_wedges(spark):
    """The reason degree orientation exists: a low-id hub of degree d
    owns C(d, 2) wedges under id orientation; under (degree, id)
    orientation the hub keeps out-edges only toward equal-or-higher
    degree nodes, so its wedge contribution collapses. Fixture: node 0
    is a degree-200 hub over nodes that otherwise form sparse
    triangles; meter total wedge volume both ways."""
    from sstable_migrator_spark.operators.graph import (
        _orient,
        _wedges,
        triangle_counts,
    )
    from pyspark.sql import functions as F

    hub = [(0, i) for i in range(1, 201)]
    rings = [(i, i + 1) for i in range(1, 200)]  # chain among leaves
    pairs = hub + rings
    df = spark.createDataFrame(pairs, "a long, b long")
    canon = (
        df.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    wedges_id = _wedges(_orient(canon, "id")).count()
    wedges_deg = _wedges(_orient(canon, "degree")).count()
    # id orientation: hub 0 has out-degree 200 -> C(200,2) = 19900 wedges
    assert wedges_id >= 19900
    # degree orientation: hub is the (degree)-largest node, so it keeps
    # NO out-edges; every leaf has out-degree <= 3 -> linear wedge volume
    assert wedges_deg < 1000, wedges_deg
    # and the counts still agree with brute truth on the skewed fixture
    truth = _brute_triangles(pairs)
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert got == truth
