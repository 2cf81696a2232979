"""The run-to-convergence graph loops (min-label components, k-core
peeling, converged PageRank) checkpoint each round eagerly with the
convergence probe observed in the same job. Pinned here:

- the min-label loop, which drops the old-label join after round 1,
  matches a Python union-find's component minima on generated graphs;
- a loop releases every superseded round checkpoint, so the only
  checkpoint left behind is the frame it returns. The fixed-round BFS,
  k-core and label-propagation loops are held to the same rule.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from minispark_spark import registry
from minispark_spark.operators import graph as g

ids = st.integers(min_value=-60, max_value=60)


@st.composite
def edge_lists(draw) -> list[tuple[int, int]]:
    """Undirected edges built from chains of random length, stars,
    disjoint pairs and self loops over ids that may be negative; pieces
    may share ids (merging their components), and some edges repeat."""
    edges: list[tuple[int, int]] = []
    for kind in draw(
        st.lists(st.sampled_from(["chain", "star", "pairs", "loops"]), min_size=1, max_size=4)
    ):
        if kind == "chain":
            nodes = draw(st.lists(ids, min_size=2, max_size=9, unique=True))
            edges += list(zip(nodes, nodes[1:]))
        elif kind == "star":
            hub, *leaves = draw(st.lists(ids, min_size=2, max_size=7, unique=True))
            edges += [(hub, leaf) for leaf in leaves]
        elif kind == "pairs":
            nodes = draw(st.lists(ids, min_size=2, max_size=10, unique=True))
            edges += list(zip(nodes[::2], nodes[1::2]))
        else:
            edges += [(n, n) for n in draw(st.lists(ids, min_size=1, max_size=3))]
    edges += draw(st.lists(st.sampled_from(edges), max_size=3))  # duplicates
    return edges


def _component_minima(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # the root is the minimum
    return {n: find(n) for n in parent}


@given(edges=edge_lists())
@settings(max_examples=20, deadline=None)
def test_min_label_components_match_union_find(spark, edges):
    sym = spark.createDataFrame(edges + [(b, a) for a, b in edges], "src long, dst long")
    labels, rounds = g.min_label_components(sym)
    got = {r["node"]: r["label"] for r in labels.collect()}
    g._release(labels)
    assert got == _component_minima(edges)
    assert 1 <= rounds <= len(got)


def _persistent_rdds(spark) -> dict[int, str | None]:
    """Persistent RDD id -> name. Cached frames carry their plan as the
    name; localCheckpoint RDDs have none."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().name()
    return out


@pytest.mark.parametrize(
    "fn, checkpoints_left",
    [
        (g.graph_components_converged, 1),  # the returned labels
        (g.graph_kcore_converged, 1),  # the returned peeled edges
        (g.graph_pagerank_converged, 0),  # returns observed stats only
        (g.graph_bfs_hops, 1),  # the last level (4 left before release)
        (g.graph_kcore, 1),  # the last peel (5 left before release)
        (g.graph_label_propagation, 1),  # the final round (3 left before release)
    ],
)
def test_fixpoint_loops_release_superseded_checkpoints(spark, sf_dir, fn, checkpoints_left):
    registry.clear_plan_cache()
    before = _persistent_rdds(spark)
    out = fn(spark, sf_dir)
    new = {i: name for i, name in _persistent_rdds(spark).items() if i not in before}
    checkpoints = [i for i, name in new.items() if name is None]
    assert len(checkpoints) == checkpoints_left, new
    if checkpoints_left:
        leaf = out._jdf.queryExecution().optimizedPlan().collectLeaves().apply(0)
        assert checkpoints == [leaf.rdd().id()]
    if fn is g.graph_components_converged:
        # the shared purchase edges, the dst-partitioned symmetric edges
        # and the final labels
        assert len(new) == 3, new
    out.collect()
    registry.clear_plan_cache()
