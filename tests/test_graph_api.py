"""Graph facade (operators/graph_api.py) semantics on a hand-built
graph with known degrees, components, triangles, and rank ordering.

Graph (undirected view):  0-1, 1-2, 2-0  (triangle)
                          3-4            (isolated pair)
                          5              (isolated vertex)
Directed edges as stored: 0->1, 1->2, 2->0, 3->4.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from minispark_spark.operators.graph_api import Graph


@pytest.fixture(scope="module")
def graph(spark):
    vertices = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (3, 4)], ["src", "dst"])
    return Graph(vertices, edges)


def _part_graph(spark, sf_dir):
    """The part co-occurrence graph the registry's part-graph entries use."""
    from minispark_spark.operators.graph import _part_edges

    e = _part_edges(spark, sf_dir)
    return Graph.from_edges(e.select(F.col("u").alias("src"), F.col("v").alias("dst")))


def test_degrees_include_isolated_vertices(graph):
    rows = {r["id"]: r["degree"] for r in graph.degrees().collect()}
    assert rows == {0: 2, 1: 2, 2: 2, 3: 1, 4: 1, 5: 0}


def test_in_out_degrees(graph):
    outs = {r["id"]: r["out_degree"] for r in graph.out_degrees().collect()}
    ins = {r["id"]: r["in_degree"] for r in graph.in_degrees().collect()}
    assert outs == {0: 1, 1: 1, 2: 1, 3: 1}
    assert ins == {1: 1, 2: 1, 0: 1, 4: 1}


def test_connected_components(graph):
    comp = {r["id"]: r["component"] for r in graph.connected_components().collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_triangle_count(graph):
    tri = {r["id"]: r["count"] for r in graph.triangle_count().collect()}
    assert tri == {0: 1, 1: 1, 2: 1, 3: 0, 4: 0, 5: 0}


def test_page_rank_cycle_uniform_and_ordering(graph):
    # On the 3-cycle every node has identical rank (symmetry); node 4
    # (fed by 3) outranks node 3 (base rank only). Dangling node 4
    # leaks mass, so no sum-to-one invariant — standard non-
    # redistributing PageRank.
    ranks = {r["id"]: r["rank"] for r in graph.page_rank(n_iter=2).collect()}
    assert set(ranks) == {0, 1, 2, 3, 4}
    assert ranks[0] == ranks[1] == ranks[2]
    assert ranks[4] > ranks[3] > 0
    assert ranks[0] > ranks[4]


def test_from_edges_derives_vertex_set(spark):
    edges = spark.createDataFrame([(7, 8), (8, 9)], ["src", "dst"])
    g = Graph.from_edges(edges)
    assert {r["id"] for r in g.vertices.collect()} == {7, 8, 9}
    comp = {r["id"]: r["component"] for r in g.connected_components().collect()}
    assert comp == {7: 7, 8: 7, 9: 7}


def test_bfs_matches_registry(spark, sf_dir):
    from minispark_spark.operators.graph import BFS_SOURCE, _edges
    from minispark_spark.registry import REGISTRY

    g = Graph.from_edges(_edges(spark, sf_dir))
    got = {r["id"]: r["hops"] for r in g.bfs(BFS_SOURCE).collect()}
    want = {}
    for r in REGISTRY["graph_bfs_hops"].fn(spark, sf_dir).collect():
        node = int(r["node"][1:]) * 2 + (0 if r["node"][0] == "c" else 1)
        want[node] = r["hops"]
    assert got == want
    assert got[BFS_SOURCE] == 0 and max(got.values()) >= 1


def test_label_propagation_hand_graph(graph):
    # Triangle 0-1-2 converges to community 0; isolated vertex 5 keeps
    # its own label. The 3-4 pair OSCILLATES (synchronous LP's known
    # bipartite behavior — each round the two swap labels), so after
    # any round count their labels are {3, 4} in some order.
    comm = {r["id"]: r["community"] for r in graph.label_propagation().collect()}
    assert comm[5] == 5
    assert {comm[3], comm[4]} == {3, 4}
    assert comm[0] == comm[1] == comm[2] == 0


def test_label_propagation_matches_registry(spark, sf_dir):
    from minispark_spark.operators.graph import _edges
    from minispark_spark.registry import REGISTRY

    g = Graph.from_edges(_edges(spark, sf_dir))
    got = {r["id"]: r["community"] for r in g.label_propagation().collect()}
    want = {}
    for r in REGISTRY["graph_label_propagation"].fn(spark, sf_dir).collect():
        node = int(r["node"][1:]) * 2 + (0 if r["node"][0] == "c" else 1)
        comm = int(r["community"][1:]) * 2 + (0 if r["community"][0] == "c" else 1)
        want[node] = comm
    assert got == want


def test_link_prediction_hand_graph(spark):
    """Path graph 0-1-2 plus 2-3: non-adjacent pairs through shared
    middles — (0,2) via 1, (1,3) via 2 — each with exactly 1 common
    neighbor; min_cn=1 surfaces them, the default min_cn=2 does not."""
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    g = Graph.from_edges(edges)
    got = {
        (r["u"], r["v"]): (r["common_neighbors"], r["jaccard_lb"])
        for r in g.link_prediction(min_cn=1).collect()
    }
    # deg: 0->1, 1->2, 2->2, 3->1.  (0,2): cn=1, jacc=1/(1+2-1)=0.5
    # (1,3): cn=1, jacc=1/(2+1-1)=0.5
    assert got == {(0, 2): (1, 0.5), (1, 3): (1, 0.5)}
    assert g.link_prediction(min_cn=2).count() == 0


def test_link_prediction_matches_registry(spark, sf_dir):
    """Graph facade over the part co-occurrence edges must reproduce
    the oracle-verified registry query exactly."""
    from minispark_spark.registry import REGISTRY

    got = {
        (r["u"], r["v"]): (r["common_neighbors"], r["jaccard_lb"])
        for r in _part_graph(spark, sf_dir).link_prediction().collect()
    }
    want = {
        (r["part_a"], r["part_b"]): (r["common_neighbors"], r["jaccard_lb"])
        for r in REGISTRY["graph_link_prediction"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_k_core_hand_graph(spark):
    """Square 0-1-2-3-0 plus a pendant 4 hanging off 0: the 2-core is
    the square (the pendant peels away, and peeling the pendant does
    not drop node 0, whose degree falls 3 -> 2)."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 4)], ["src", "dst"]
    )
    got = {r["id"]: r["degree"] for r in Graph.from_edges(edges).k_core(k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2, 3: 2}
    assert Graph.from_edges(edges).k_core(k=3).count() == 0


def test_modularity_hand_graph(graph):
    """Communities = connected components of the hand graph: triangle
    {0,1,2} and pair {3,4}. m=4 undirected edges. Triangle: L=3, D=6 ->
    3/4 - (6/8)^2 = 0.1875; pair: L=1, D=2 -> 1/4 - (2/8)^2 = 0.1875."""
    comm = graph.connected_components().withColumnRenamed("component", "community")
    rows = {r["community"]: r for r in graph.modularity(comm).collect()}
    assert set(rows) == {0, 3}
    assert (rows[0]["l_c"], rows[0]["d_c"]) == (3, 6)
    assert (rows[3]["l_c"], rows[3]["d_c"]) == (1, 2)
    assert rows[0]["q_term"] == pytest.approx(0.1875)
    assert rows[3]["q_term"] == pytest.approx(0.1875)
    total = sum(r["q_term"] for r in rows.values())
    assert total == pytest.approx(0.375)


def test_modularity_single_community_is_zero(spark):
    """Everything in one community: Q = m/m - (2m/2m)^2 = 0."""
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src", "dst"])
    g = Graph.from_edges(edges)
    comm = g.vertices.select("id", F.lit("all").alias("community"))
    rows = g.modularity(comm).collect()
    assert len(rows) == 1
    assert rows[0]["q_term"] == pytest.approx(0.0)


def test_modularity_matches_registry(spark, sf_dir):
    """Facade over the purchase graph == graph_modularity registry twin."""
    from minispark_spark.operators.graph import _edges
    from minispark_spark.registry import REGISTRY

    e = _edges(spark, sf_dir)
    name = lambda col: F.concat(  # noqa: E731
        F.when(F.col(col) % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(F.col(col), 1).cast("string"),
    )
    g = Graph.from_edges(e.select(name("src").alias("src"), name("dst").alias("dst")))
    comm = (
        REGISTRY["graph_label_propagation"].fn(spark, sf_dir)
        .select(F.col("node").alias("id"), "community")
    )
    got = {r["community"]: (r["l_c"], r["d_c"], r["q_term"])
           for r in g.modularity(comm).collect()}
    want = {r["community"]: (r["l_c"], r["d_c"], r["q_term"])
            for r in REGISTRY["graph_modularity"].fn(spark, sf_dir).collect()}
    assert got == want


def test_clustering_coefficient_hand_graph(graph):
    """Triangle {0,1,2}: cc = 1 for all three; pendant pair 3-4 has
    degree 1 (omitted); vertex 5 isolated (omitted)."""
    rows = {r["id"]: r for r in graph.clustering_coefficient().collect()}
    assert set(rows) == {0, 1, 2}
    for i in (0, 1, 2):
        assert rows[i]["degree"] == 2 and rows[i]["triangles"] == 1
        assert rows[i]["cc"] == 1.0


def test_assortativity_star_is_minus_one(spark):
    """A star graph is maximally disassortative: every edge joins the
    hub (degree 3) to a leaf (degree 1) -> r = -1."""
    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], ["src", "dst"])
    r = Graph.from_edges(edges).assortativity().collect()[0]
    assert r["n_ends"] == 6
    assert r["r"] == pytest.approx(-1.0)


def test_clustering_matches_registry(spark, sf_dir):
    from minispark_spark.registry import REGISTRY

    got = {r["id"]: (r["degree"], r["triangles"], r["cc"])
           for r in _part_graph(spark, sf_dir).clustering_coefficient().collect()}
    want = {r["node"]: (r["degree"], r["triangles"], r["cc"])
            for r in REGISTRY["graph_clustering_coefficient"].fn(spark, sf_dir).collect()}
    assert got == want


def test_k_core_matches_registry(spark, sf_dir):
    from minispark_spark.registry import REGISTRY

    got = {r["id"]: r["degree"] for r in _part_graph(spark, sf_dir).k_core().collect()}
    want = {r["node"]: r["degree"]
            for r in REGISTRY["graph_kcore"].fn(spark, sf_dir).collect()}
    assert got == want and want


def test_triangle_count_matches_registry(spark, sf_dir):
    """The facade's non-zero per-vertex counts are the registry's
    triangles counted once per corner."""
    from collections import Counter

    from minispark_spark.registry import REGISTRY

    got = {r["id"]: r["count"]
           for r in _part_graph(spark, sf_dir).triangle_count().collect() if r["count"]}
    want = Counter()
    for r in REGISTRY["graph_triangle_count"].fn(spark, sf_dir).collect():
        want.update((r["node_a"], r["node_b"], r["node_c"]))
    assert got == dict(want) and want


def test_assortativity_matches_registry(spark, sf_dir):
    from minispark_spark.registry import REGISTRY

    got = _part_graph(spark, sf_dir).assortativity().collect()
    want = REGISTRY["graph_assortativity"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_personalized_page_rank_seeds_hold_mass(spark):
    """Two disconnected pairs; seeding only one pair keeps ALL rank in
    that component — the other pair must not appear (rank 0)."""
    edges = spark.createDataFrame([(0, 1), (2, 3)], ["src", "dst"])
    g = Graph.from_edges(edges)
    rows = {r["id"]: r["rank"] for r in g.personalized_page_rank([0]).collect()}
    assert set(rows) <= {0, 1}
    assert rows[0] > 0 and rows[1] > 0


def test_personalized_page_rank_matches_registry(spark, sf_dir):
    from minispark_spark.operators.graph import PPR_SEED_MAX_CUSTKEY, _edges
    from minispark_spark.registry import REGISTRY

    e = _edges(spark, sf_dir)
    name = lambda col: F.concat(  # noqa: E731
        F.when(F.col(col) % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(F.col(col), 1).cast("string"),
    )
    g = Graph.from_edges(e.select(name("src").alias("src"), name("dst").alias("dst")))
    seeds = [f"c{k}" for k in range(PPR_SEED_MAX_CUSTKEY)]
    got = {r["id"]: r["rank"] for r in g.personalized_page_rank(seeds).collect()}
    want = {r["node"]: r["rank"]
            for r in REGISTRY["graph_personalized_pagerank"].fn(spark, sf_dir).collect()}
    assert got == want


def test_star_cc_long_chain_logarithmic_rounds(spark):
    """The distributed large-star/small-star path on an adversarial
    512-link chain: correct labels (all = chain min) in O(log n)
    rounds — the regime where the one-hop min-label fixpoint this
    replaced needed O(diameter)=511 rounds."""
    from pyspark.sql import functions as F

    from minispark_spark.operators.graph_api import star_connected_components

    n = 512
    e = spark.range(1, n).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels, rounds = star_connected_components(sym)
    rows = labels.collect()
    assert len(rows) == n
    assert all(r["label"] == 1 for r in rows)
    assert rounds <= 14  # log-round bound; the fixpoint needed 511


def test_star_cc_matches_driver_union_find(spark):
    """Forced-distributed regime (driver_max_edges=0) agrees exactly
    with the driver union-find on a mixed graph: two chains, a
    triangle, and a star sharing one node with a chain."""
    from pyspark.sql import functions as F

    from minispark_spark.operators.graph_api import connected_components_labels

    pairs = (
        [(i, i + 1) for i in range(10, 40)]          # chain A
        + [(100, 101), (101, 102), (102, 100)]       # triangle
        + [(200, x) for x in range(201, 230)]        # star
        + [(229, 39)]                                # star joins chain A
        + [(500, 501), (501, 502)]                   # chain B
    )
    e = spark.createDataFrame(pairs, "a long, b long")
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    driver = {
        r["node"]: r["label"]
        for r in connected_components_labels(sym).collect()
    }
    dist = {
        r["node"]: r["label"]
        for r in connected_components_labels(sym, driver_max_edges=0).collect()
    }
    assert dist == driver
    assert dist[35] == 10 and dist[229] == 10 and dist[101] == 100 and dist[502] == 500


def test_star_cc_keeps_self_loop_only_nodes(spark):
    """A node whose only edges are self loops must still appear in the
    output, labeled by itself — on BOTH the driver union-find path and
    the distributed star path (ADVICE r4: nodes were derived from the
    already self-loop-filtered edges, dropping such nodes)."""
    from pyspark.sql import functions as F

    from minispark_spark.operators.graph_api import (
        connected_components_labels,
        star_connected_components,
    )

    pairs = [(1, 2), (2, 3), (99, 99), (3, 3)]  # 99 is self-loop-only
    e = spark.createDataFrame(pairs, "a long, b long")
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    want = {1: 1, 2: 1, 3: 1, 99: 99}
    driver = {r["node"]: r["label"] for r in connected_components_labels(sym).collect()}
    assert driver == want
    star, _rounds = star_connected_components(sym)
    dist = {r["node"]: r["label"] for r in star.collect()}
    assert dist == want


def test_components_converged_round_cap_fails_loud(spark, sf_dir, monkeypatch):
    """The min-label fixpoint gate is bounded: if the graph's diameter
    ever exceeds CC_CONV_MAX_ROUNDS (a regenerated gate dataset gone
    pathological), the gate raises instead of looping — the appended
    convergence chain (diameter 11) trips a cap of 1 immediately."""
    import pytest as _pytest

    from minispark_spark.operators import graph as g

    monkeypatch.setattr(g, "CC_CONV_MAX_ROUNDS", 1)
    with _pytest.raises(RuntimeError, match="no fixpoint after 1"):
        g.graph_components_converged(spark, sf_dir)
