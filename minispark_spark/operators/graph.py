"""Graph analytics on Spark DataFrames: exact-arithmetic PageRank.

Iterative graph algorithms are where float nondeterminism usually
kills cross-engine verification (per-node contribution sums arrive in
shuffle order). This PageRank works entirely in BIGINT fixed-point
(1e9 units): contributions are ``floor(rank/outdeg)``, damping is
``floor(85*x/100)`` — integer sums are order-insensitive, so three
unrolled iterations are verified bit-exactly against a DuckDB oracle.
Production would loop to convergence like dedup_connected_components;
the per-iteration plan (one shuffle: contributions grouped by dst) is
identical.

Graph: customer → supplier "bought from" edges derived from
orders ⨝ lineitem (distinct pairs). Nodes are tagged c/s to keep the
two key spaces disjoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from minispark_spark.registry import query, shared
from minispark_spark.sources.tables import load_table

SCALE = 1_000_000_000
N_ITER = 3


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→supplier edges with NUMERIC node ids: custkey*2
    (even) / suppkey*2+1 (odd). Long keys keep the distinct shuffle and
    every per-iteration join on 8-byte keys; the 'c…'/'s…' display names
    are reconstructed only in the final projection (graph_pagerank).

    CACHED per (session, sf_dir) and shared across the graph family —
    pagerank, triangles, and BFS all start from this frame, so the
    orders ⨝ lineitem + distinct builds once."""

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        return (
            orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
            .cache()
        )

    return shared(spark, ("graph_edges", sf_dir), build)


# Broadcast the rank vector when nodes * ~24 B/row stays well under the
# executor memory a broadcast may use. Above that, fall back to shuffle
# joins (a billion-node graph co-partitions edges and ranks instead).
BROADCAST_MAX_NODES = 10_000_000


def _checkpoint_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """Eagerly checkpoint ``df`` and return it with ``metrics`` computed
    over its rows by the same job. Under AQE a lazy ``localCheckpoint()``
    call already runs the plan's broadcast and shuffle stages, and a
    probe ``collect()`` after it plans and runs more jobs; observing the
    eager checkpoint makes a fixpoint round's checkpoint and its
    convergence probe one job."""
    obs = Observation()
    return df.observe(obs, *metrics).localCheckpoint(eager=True), obs.get


def _release(ckpt: DataFrame) -> None:
    """Free a superseded round checkpoint's blocks. Spark's cache manager
    does not own localCheckpoint RDDs, so ``clearCache()`` cannot."""
    ckpt._jdf.queryExecution().logical().rdd().unpersist(False)


def _symmetric(e: DataFrame) -> DataFrame:
    """Both orientations of a ``(src, dst)`` edge list."""
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _undirected(e: DataFrame) -> DataFrame:
    """Both orientations ``(s, n)`` of a canonical ``(u, v)`` edge frame."""
    return e.select(F.col("u").alias("s"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("s"), F.col("u").alias("n"))
    )


def _display_name(col: str) -> Column:
    """A numeric purchase-graph id as its 'c…'/'s…' display name."""
    return F.concat(
        F.when(F.col(col) % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(F.col(col), 1).cast("string"),
    )


def _wedges(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """The PageRank loops' static graph structure, cached and materialized:
    each edge fused with its source's outdegree (``real`` = true), plus a
    zero-contribution self row per node (``real`` = false).

    PARTITIONED BY DST: the per-iteration contribution groupBy (keyed on
    dst) is then partition-local — with the rank vector broadcast, an
    iteration runs with ZERO shuffles (Spark's alias-aware partitioning
    carries dst→node through the projection into the aggregate). The
    self rows make the aggregate cover EVERY node — in_sum gains an exact
    +0 and nodes with no in-edges get in_sum=0 — so each iteration needs
    no nodes-frame join at all: the new rank is a projection of the
    partition-local aggregate (round 8; one stage and one broadcast build
    per iteration instead of two of each)."""
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    wedges = (
        edges.join(outdeg, "src")
        .withColumn("real", F.lit(True))
        .unionByName(
            nodes.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(1).alias("outdeg"),
                F.lit(False).alias("real"),
            )
        )
        .repartition("dst")
        .cache()
    )
    wedges.count()
    return wedges


def _share() -> Column:
    """A wedge row's integer contribution: ``rank / outdeg`` floored on a
    real edge, 0 on a self row."""
    return F.when(
        F.col("real"), (F.col("rank") / F.col("outdeg")).cast("long")
    ).otherwise(F.lit(0).cast("long"))


def pagerank_fixed(edges: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """n_iter rounds of integer PageRank over a directed edge list."""
    # Cache the static graph structure once: edges fused with outdegree
    # (it never changes between iterations), plus the node set. Each
    # iteration then only joins the current ranks and aggregates.
    edges = edges.cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:  # empty graph: no ranks, not a ZeroDivisionError
        return nodes.select("node", F.lit(0).cast("long").alias("rank"))
    init = SCALE // n_nodes
    base = (15 * SCALE // 100) // n_nodes
    wedges = _wedges(edges, nodes)

    # The rank vector is |nodes| rows vs |edges| rows of graph structure.
    # Broadcasting it makes each iteration's rank join a map-side hash
    # join over the CACHED edges — no edge bytes ever reshuffle; the only
    # per-iteration shuffle is the partial-aggregated contribution sum.
    hint = F.broadcast if n_nodes <= BROADCAST_MAX_NODES else (lambda df: df)

    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    for _ in range(n_iter):
        contrib = (
            wedges.join(hint(ranks), F.col("src") == F.col("node"))
            .select(F.col("dst").alias("node"), _share().alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = contrib.select(
            "node",
            (
                F.lit(base)
                + (F.lit(85) * F.col("in_sum") / F.lit(100)).cast("long")
            ).alias("rank"),
        ).localCheckpoint(eager=False)  # truncate lineage: a lazy rank
        # chain re-executes ALL prior iterations inside each broadcast.
        # LAZY checkpoint: the next round's broadcast build (or the
        # caller's action) materializes it in the same job it already
        # runs, instead of a dedicated per-round materialization job —
        # halves the action count of the loop (guide §1.2: per-round
        # fixed job latency dominates these node-sized iterations).
    return ranks


def _iter_sql(prev: str, i: int) -> str:
    return f"""
        r{i} AS (
            SELECT n.node,
                   base + CAST(floor(85 * COALESCE(s.in_sum, 0) / 100.0) AS BIGINT) AS rank
            FROM nodes n
            CROSS JOIN consts
            LEFT JOIN (
                SELECT e.dst AS node,
                       SUM(CAST(floor(p.rank / CAST(d.outdeg AS DOUBLE)) AS BIGINT)) AS in_sum
                FROM edges e
                JOIN outdeg d ON d.src = e.src
                JOIN {prev} p ON p.node = e.src
                GROUP BY e.dst
            ) s ON s.node = n.node
        )"""


# prev for CTE r{i+1} is r{i} — an off-by-one here is MASKED on the
# directed purchase graph (it converges by iteration 2: customers have
# no in-edges) but exposed on any graph that keeps mixing, e.g. the
# symmetrized personalized-PageRank variant. Caught by its gate row.
_PR_ITERS = ",".join(_iter_sql(f"r{i}", i + 1) for i in range(N_ITER))


@query(
    "graph_pagerank",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        consts AS (
            SELECT CAST(floor({SCALE} / COUNT(*)) AS BIGINT) AS init,
                   CAST(floor({15 * SCALE // 100} / COUNT(*)) AS BIGINT) AS base
            FROM nodes
        ),
        outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        r0 AS (SELECT node, init AS rank FROM nodes CROSS JOIN consts),
        {_PR_ITERS}
        SELECT node, rank FROM r{N_ITER}
    """,
    doc=f"PageRank ({N_ITER} unrolled iterations, damping 0.85) over the "
    "customer->supplier purchase graph in BIGINT fixed-point (1e9 "
    "units): integer contribution sums are order-insensitive, so the "
    "iterative distributed algorithm verifies bit-exactly against the "
    "oracle. One shuffle per iteration (contributions grouped by dst).",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank_fixed(_edges(spark, sf_dir))
    return ranks.select(_display_name("node").alias("node"), "rank")


# ---------------------------------------------------------------------------
# Run-to-convergence variants.
#
# The fixed-unroll gate entries above (N_ITER=3, LP_ROUNDS=3) verify the
# per-iteration operator bit-exactly, but by construction cannot see
# convergence-machinery bugs — the exact class the _PR_ITERS off-by-one
# lived in (masked for two rounds because the directed purchase graph
# converges by iteration 2: customers have no in-edges). The entries
# below run the REAL production loop (iterate until the stop condition)
# and pin it with bound-check oracles. To guarantee the loop runs past
# the unroll depth on EVERY input — including the empty-table and
# 1-row edge sweeps, where the purchase graph is empty or trivial —
# each appends a deterministic CHAIN component (ids -1..-CHAIN_LEN,
# disjoint from the even/odd c/s key space): information travels one
# hop per round, so the CHAIN_LEN-node path needs ~CHAIN_LEN-1 rounds
# (12 nodes -> ~11 rounds, > every unroll depth) regardless of what
# the data tables hold.
# ---------------------------------------------------------------------------

CHAIN_LEN = 12
PR_CONV_DAMP = 50  # percent. Convergence rate == damping factor, so the
# gate variant runs at 1/2 (≈10 rounds to 1e-6, exact integer fixpoint
# at ~CHAIN_LEN+1) instead of the canonical 85/100 (~85 rounds for the
# same tol).
# The loop below is damping-agnostic; production at 0.85 is the same
# code with more rounds, not a different plan.
PR_CONV_TOL = SCALE // 1_000_000  # L1 delta < 1e-6 of total rank mass
PR_CONV_MAX_ITERS = 40
# Integer ranks need CONSTANT PER-NODE resolution, not a constant total
# mass: with SCALE fixed at 1e9, a 1.1M-node graph (sf10) starts every
# node at init = 909 units, and the appended chain's per-round rank
# movement floors to ZERO — the loop "converges" in 3 rounds without
# ever propagating through the chain (beyond_unroll flipped False at
# sf10; measured trajectory: deltas 848M, 227M, 114, 57). The
# converged entry therefore scales its own mass so init stays at
# PR_CONV_UNITS_PER_NODE regardless of graph size; the tolerance
# (1e-6 of mass) then scales with it and stays >= the 1-unit-per-node
# quantization floor. graph_pagerank (fixed unroll) keeps the global
# SCALE — its oracle replays exact integer ranks in SQL at that scale.
PR_CONV_UNITS_PER_NODE = 1_000_000


def _pr_conv_scale(n_nodes: int) -> int:
    return max(SCALE, n_nodes * PR_CONV_UNITS_PER_NODE)
# Safety cap for the min-label CC fixpoint (converges in <= diameter
# rounds; 512 is far above any gate graph's diameter, so hitting it
# means the input changed shape — fail loud, don't loop).
CC_CONV_MAX_ROUNDS = 512


def _chain_edges(spark: SparkSession) -> DataFrame:
    """Directed path -1 -> -2 -> ... -> -CHAIN_LEN (negative ids keep it
    disjoint from the custkey*2 / suppkey*2+1 node space)."""
    return spark.range(1, CHAIN_LEN).select(
        (-F.col("id")).cast("long").alias("src"),
        (-(F.col("id") + 1)).cast("long").alias("dst"),
    )


_CHAIN_SQL = f"""
            SELECT -i AS src, -(i + 1) AS dst FROM range(1, {CHAIN_LEN}) t(i)
"""


@query(
    "graph_pagerank_converged",
    oracle=f"""
        WITH pedges AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        edges AS (
            SELECT src, dst FROM pedges
            UNION ALL
            {_CHAIN_SQL}
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        dangling AS (
            SELECT COUNT(*) AS n FROM nodes
            WHERE node NOT IN (SELECT src FROM edges)
        )
        SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
               CAST((SELECT n FROM dangling) AS BIGINT) AS n_dangling,
               TRUE AS within_tol,
               TRUE AS beyond_unroll,
               TRUE AS min_rank_ok,
               TRUE AS mass_ok
    """,
    doc="PageRank run to CONVERGENCE (loop until L1 delta <= 1e-6 of "
    "total mass, cap 40) — the production loop the fixed-unroll "
    "graph_pagerank entry can't exercise. Rank mass scales with the "
    "graph (init = 1e6 units per node, _pr_conv_scale): at a FIXED "
    "1e9 mass a 1.1M-node graph left 909 units/node and the chain's "
    "propagation floored to zero (sf10 finding — the loop 'converged' "
    "in 3 rounds, beyond_unroll False); constant per-node resolution "
    "keeps the integer dynamics scale-invariant. The iteration count is "
    "data-dependent, so the oracle pins exact GRAPH invariants "
    "(node/edge/dangling counts, DuckDB-computed) plus bound checks "
    "the run must satisfy: within_tol (the loop actually converged "
    "before the cap), beyond_unroll (it took MORE rounds than the "
    f"unrolled gate depth — guaranteed by the appended {CHAIN_LEN}-node "
    f"chain component, which needs ~{CHAIN_LEN - 1} rounds of 1-hop "
    "propagation on every input including empty tables), "
    "min_rank_ok (every rank >= the "
    "teleport base), and mass_ok (n*base <= total <= scaled mass, "
    "provable by induction since floors only lose mass). Damping 1/2 for the "
    "gate — convergence rate equals the damping factor, so 0.85 would "
    "cost ~85 rounds for the identical loop/plan. Per round: one "
    "broadcast rank join over dst-partitioned cached edges and one "
    "partition-local aggregate, whose zero-contribution self rows also "
    "carry each node's old rank; the L1 delta and the min/total ranks "
    "are observed on the round's eager localCheckpoint (one job per "
    "round, no separate probe or stats aggregate).",
)
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir).unionByName(_chain_edges(spark)).cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n_nodes = nodes.count()
    n_edges = edges.count()
    scale_n = _pr_conv_scale(n_nodes)  # constant per-node resolution
    # The tolerance stays ABSOLUTE (not mass-scaled): the purchase
    # graph is a DAG, so its integer fixpoint is exact (delta from it
    # is 0 once reached — no n-dependent jitter floor), and the
    # convergence tail is the appended chain's per-hop signal, which is
    # per-NODE-sized (init x 0.5^k). An n-scaled tolerance would swamp
    # that signal at large n and stop the loop before the chain
    # finished propagating (the sf10 beyond_unroll finding).
    tol = PR_CONV_TOL
    base = ((100 - PR_CONV_DAMP) * scale_n // 100) // n_nodes
    init = scale_n // n_nodes
    # dangling = nodes with no out-edge = n_nodes minus the distinct-src
    # count — one aggregate count instead of the old nodes-vs-distinct-src
    # anti-join (round 8; same integer by definition).
    n_dangling = n_nodes - edges.select("src").distinct().count()
    # Each round is one partition-local pass over the cached
    # dst-partitioned wedges plus the (node-sized) old-rank broadcast.
    wedges = _wedges(edges, nodes)
    hint = F.broadcast if n_nodes <= BROADCAST_MAX_NODES else (lambda df: df)

    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    ckpt = None
    iters = 0
    delta = None
    while iters < PR_CONV_MAX_ITERS:
        # Each node's zero-contribution self row carries its OLD rank into
        # the same aggregate, so the delta needs no second join; the delta
        # and the final min/total are observed on the round's checkpoint.
        new_with_old = (
            wedges.join(hint(ranks), F.col("src") == F.col("node"))
            .select(F.col("dst").alias("node"), _share().alias("c"), "rank", "real")
            .groupBy("node")
            .agg(
                F.sum("c").alias("in_sum"),
                F.max(F.when(~F.col("real"), F.col("rank"))).alias("old"),
            )
            .select(
                "node",
                (
                    F.lit(base)
                    + (F.lit(PR_CONV_DAMP) * F.col("in_sum") / F.lit(100)).cast(
                        "long"
                    )
                ).alias("rank"),
                "old",
            )
        )
        nxt, stats = _checkpoint_observed(
            new_with_old,
            F.sum(F.abs(F.col("rank") - F.col("old"))).alias("d"),
            F.min("rank").alias("min_rank"),
            F.sum("rank").alias("total"),
        )
        if ckpt is not None:
            _release(ckpt)
        ckpt, ranks = nxt, nxt.select("node", "rank")
        delta = stats["d"]
        iters += 1
        if delta is not None and delta <= tol:
            break
    _release(ckpt)  # only the observed stats outlive the loop
    row = [
        (
            n_nodes,
            n_edges,
            n_dangling,
            bool(delta is not None and delta <= tol),
            bool(iters > N_ITER),
            bool(stats["min_rank"] >= base),
            bool(n_nodes * base <= stats["total"] <= scale_n),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_nodes long, n_edges long, n_dangling long, within_tol boolean, "
        "beyond_unroll boolean, min_rank_ok boolean, mass_ok boolean",
    )


CC_ORACLE_LEVELS = 20  # oracle unroll depth; must exceed the gate
# graph's diameter (chain = CHAIN_LEN - 1 hops, bipartite purchase
# graph diameter ~6 at gate scales). A graph deeper than this makes
# the truncated oracle DIFFER from the converged Spark run — a loud
# red row, never a silent pass.


def _cc_level_sql(prev: str, nxt: str) -> str:
    """One min-label level, LINEAR size (n rows per level — the BFS
    oracle pattern, not a transitive closure: DuckDB 1.0 has no keyed
    recursive CTE, and the closure spelling costs quadratic memory).
    MATERIALIZED is load-bearing: each level references the previous
    one twice (self + propagated), so inlined CTEs expand 2^levels."""
    return f"""
        {nxt} AS MATERIALIZED (
            SELECT node, MIN(lab) AS lab FROM (
                SELECT node, lab FROM {prev}
                UNION ALL
                SELECT e.dst AS node, p.lab
                FROM {prev} p JOIN sym e ON e.src = p.node
            ) GROUP BY node
        )"""


@query(
    "graph_components_converged",
    oracle=f"""
        WITH pedges AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        alledges AS (
            SELECT src, dst FROM pedges
            UNION ALL
            {_CHAIN_SQL}
        ),
        sym AS MATERIALIZED (
            SELECT src, dst FROM alledges
            UNION ALL
            SELECT dst AS src, src AS dst FROM alledges
        ),
        c0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym),
        {",".join(_cc_level_sql(f"c{i}", f"c{i + 1}") for i in range(CC_ORACLE_LEVELS))}
        SELECT node, lab AS component, TRUE AS converged_beyond_unroll
        FROM c{CC_ORACLE_LEVELS}
    """,
    doc="Connected components by min-label propagation run to EXACT "
    "fixpoint (loop until zero labels change) over the symmetrized "
    "purchase graph — the convergent special case of label propagation "
    "and the production form of dedup survivorship grouping. FULL "
    "per-node label parity: the oracle computes each node's component "
    f"minimum with {CC_ORACLE_LEVELS} linear-size unrolled min-fold "
    "levels (>> the gate graph's diameter; a deeper graph turns the "
    "row red loudly rather than passing), so an over-merge, "
    "under-merge, or stale-round bug in the loop produces a value "
    f"mismatch, not just a failed flag. The appended {CHAIN_LEN}-node "
    f"chain (component min = -{CHAIN_LEN} at the far end) forces "
    f"~{CHAIN_LEN - 1} rounds of 1-hop propagation on every input — "
    "the fixed-unroll entries converge in <= 3 on the bipartite "
    "purchase graph, which is exactly how the round-3 _PR_ITERS "
    "off-by-one stayed masked — and converged_beyond_unroll pins that "
    "the loop really ran past the unroll depth. Round 1 is a "
    "partition-local min over the cached dst-partitioned symmetric "
    "edges; each later round is ONE broadcast label join + one "
    "partition-local min-aggregate, with no old-label join "
    "(min_label_components says why). Convergence is a SUM(label) "
    "observed on the round's eager localCheckpoint (labels are "
    "monotone non-increasing, so an unchanged sum <=> zero changes): "
    "one job per round, no probe aggregate, no compare join. "
    "O(diameter) rounds; the pointer-doubling variant in graph_api "
    "covers the long-diameter regime.",
)
def graph_components_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir).unionByName(_chain_edges(spark))
    # Cache the symmetric edges PARTITIONED BY DST (the pagerank wedges
    # trick, round 8): each round's min-label aggregate keys on dst, so
    # with the labels broadcast the whole round plans with ZERO
    # exchanges — the old spelling (union labels into the groupBy)
    # reshuffled an edge-sized frame every round (guide §2.4: two
    # operations keyed the same way share one exchange — paid once at
    # cache build instead of once per round).
    sym = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("dst")
        .cache()
    )
    labels, rounds = min_label_components(sym)
    return labels.select(
        "node",
        F.col("label").alias("component"),
        F.lit(rounds > LP_ROUNDS).alias("converged_beyond_unroll"),
    )


def min_label_components(sym: DataFrame) -> tuple[DataFrame, int]:
    """Min-label connected components of a SYMMETRIC ``(src, dst)`` edge
    list, run to exact fixpoint: ``(node, label)`` for every node, label
    = the smallest id in its component, plus the rounds run. Each round
    is one observed eager checkpoint (``_checkpoint_observed``); a
    dst-partitioned ``sym`` makes its aggregate partition-local.

    Round 1 starts from identity labels: ``least(min(src), dst)`` per
    dst. Later rounds take the min over in-neighbours' labels only, with
    no join against the node's own old label: every node of a symmetric
    list has a neighbour, and for r >= 1 the neighbours' radius-r balls
    cover the node's radius-(r+1) ball, which contains the node itself.
    Labels never increase, so an unchanged label sum means no label
    changed (the seed sum is the sum of node ids). The round cap
    (CC_CONV_MAX_ROUNDS) turns a pathological diameter into a loud error
    instead of an unbounded loop."""
    labels, m = _checkpoint_observed(
        sym.select(F.col("dst").alias("node"), "src")
        .groupBy("node")
        .agg(F.least(F.min("src"), F.col("node")).alias("label")),
        F.sum("node").alias("seed"),
        F.sum("label").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    hint = F.broadcast if m["n"] <= BROADCAST_MAX_NODES else (lambda df: df)
    prev_sum, cur_sum, rounds = m["seed"], m["s"], 1
    while cur_sum != prev_sum:
        if rounds >= CC_CONV_MAX_ROUNDS:
            raise RuntimeError(
                f"components_converged: no fixpoint after {CC_CONV_MAX_ROUNDS} rounds"
            )
        nxt, m = _checkpoint_observed(
            sym.join(hint(labels), F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            F.sum("label").alias("s"),
        )
        _release(labels)
        labels, prev_sum, cur_sum, rounds = nxt, cur_sum, m["s"], rounds + 1
    return labels, rounds


STAR_LOG_BOUND = 8  # ceil(log2) bound with slack for the gate graph:
# the chain needs ceil(log2(12)) + small-constant large/small-star
# rounds; 4095-chain measured 13 (BASELINE.md long-chain ledger).


@query(
    "graph_components_star",
    oracle=f"""
        WITH pedges AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        alledges AS (
            SELECT src, dst FROM pedges
            UNION ALL
            {_CHAIN_SQL}
        ),
        sym AS MATERIALIZED (
            SELECT src, dst FROM alledges
            UNION ALL
            SELECT dst AS src, src AS dst FROM alledges
        ),
        c0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym),
        {",".join(_cc_level_sql(f"c{i}", f"c{i + 1}") for i in range(CC_ORACLE_LEVELS))}
        SELECT node, lab AS component, TRUE AS log_rounds_ok
        FROM c{CC_ORACLE_LEVELS}
    """,
    doc="Connected components via alternating LARGE-STAR/SMALL-STAR "
    "contraction (Kiveris et al. SoCC'14) — the O(log n)-round "
    "production path that connected_components_labels routes big edge "
    "sets through (graph_api.star_connected_components; it replaced "
    "the O(diameter) fixpoint this round: 13 rounds vs 4095 measured "
    "on a 4096-chain, BASELINE.md). Same graph and same full per-node "
    "label-parity oracle as graph_components_converged — the two "
    "entries pin that the O(diameter) and O(log n) algorithms agree "
    "bit-for-bit on every input — plus log_rounds_ok: the round count "
    f"must be <= {STAR_LOG_BOUND} even though the appended "
    f"{CHAIN_LEN}-node chain costs the one-hop algorithm "
    f"~{CHAIN_LEN - 1} rounds (the log-vs-linear separation, pinned "
    "in-gate). Per round: two groupBy shuffles on the edge key + a "
    "1-row convergence signature; no driver edge collect.",
)
def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minispark_spark.operators.graph_api import star_connected_components

    e = _edges(spark, sf_dir).unionByName(_chain_edges(spark))
    sym = e.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionByName(
        e.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    labels, rounds = star_connected_components(sym)
    return labels.select(
        "node",
        F.col("label").alias("component"),
        F.lit(rounds <= STAR_LOG_BOUND).alias("log_rounds_ok"),
    )


TRIANGLE_MIN_SUPPORT = 2


@query(
    "graph_triangle_count",
    oracle=f"""
        WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
            SELECT a.p AS u, b.p AS v
            FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
        )
        SELECT e1.u AS node_a, e1.v AS node_b, e2.v AS node_c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
    doc="Triangle enumeration over the part co-occurrence graph (edges: "
    f"part pairs sharing >= {TRIANGLE_MIN_SUPPORT} orders). Edges are "
    "vertex-ordered (u < v), so each triangle appears exactly once as "
    "a < b < c — the standard distributed triangle algorithm: one "
    "shuffle to build edges (grouped baskets, as basket_part_pairs), "
    "then two edge-table self-joins (shuffles on the join keys; at "
    "scale the classic optimization is degree-ordered vertices, same "
    "plan shape).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _part_edges(spark, sf_dir).cache()
    e.count()  # materialize: three concurrent scans below
    return triangles(e)


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-occurrence graph: canonical ``(u, v)`` edges (u < v)
    between parts sharing >= TRIANGLE_MIN_SUPPORT orders — one shuffle to
    group baskets, JVM-side i<j pair expansion, one shuffle to count
    pairs. Uncached: a caller that scans it more than once caches it."""
    from minispark_spark.functions.pairs import sorted_pair_structs

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    return (
        baskets.select(F.explode(sorted_pair_structs("parts", "u", "v")).alias("p"))
        .groupBy("p.u", "p.v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= TRIANGLE_MIN_SUPPORT)
        .select("u", "v")
    )


def triangles(e: DataFrame) -> DataFrame:
    """Every triangle of a canonical ``(u < v, distinct)`` edge frame
    once, as ``(node_a < node_b < node_c)``: two self-joins of ``e``,
    which is scanned three times (cache it)."""
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    return (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .select(
            F.col("e1.u").alias("node_a"),
            F.col("e1.v").alias("node_b"),
            F.col("e2.v").alias("node_c"),
        )
    )


def triangle_counts(e: DataFrame) -> DataFrame:
    """``(node, t)``: the triangles of ``e`` each corner is in, for nodes
    in at least one."""
    tri = triangles(e)
    return (
        tri.select(F.col("node_a").alias("node"))
        .unionByName(tri.select(F.col("node_b").alias("node")))
        .unionByName(tri.select(F.col("node_c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )


BFS_SOURCE = 2  # customer 1 (custkey*2)
BFS_HOPS = 4


def _bfs_iter_sql(prev: str, nxt: str) -> str:
    """One BFS level: neighbors of the reached set at h+1, min-folded."""
    return f"""
        {nxt} AS (
            SELECT node, MIN(h) AS h FROM (
                SELECT node, h FROM {prev}
                UNION ALL
                SELECT e.dst AS node, p.h + 1 AS h
                FROM {prev} p JOIN sym e ON e.src = p.node
            ) GROUP BY node
        )"""


@query(
    "graph_bfs_hops",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        ),
        d0 AS (SELECT CAST({BFS_SOURCE} AS BIGINT) AS node, 0 AS h),
        {",".join(_bfs_iter_sql(f"d{i}", f"d{i + 1}") for i in range(BFS_HOPS))}
        SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                    ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
               CAST(h AS INTEGER) AS hops
        FROM d{BFS_HOPS}
    """,
    doc=f"BFS shortest hop counts from customer 1 over the symmetrized "
    f"purchase graph, {BFS_HOPS} unrolled levels (the pagerank/k-means "
    "oracle-unrolling technique — production loops to frontier "
    "exhaustion like dedup_connected_components, same per-level plan). "
    "Each level is one join on the 8-byte node key + a min-fold "
    "groupBy — the reached set dedups every level, so no path "
    "enumeration ever happens (a recursive-CTE walk oracle would "
    "explode combinatorially on this dense bipartite graph; the "
    "level-unrolled oracle replays the distributed algorithm instead).",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    reached = bfs_hops(_symmetric(_edges(spark, sf_dir)), BFS_SOURCE)
    return reached.select(
        _display_name("node").alias("node"), F.col("h").cast("int").alias("hops")
    )


def bfs_hops(sym: DataFrame, source, hops: int = BFS_HOPS) -> DataFrame:
    """``(node, h)``: shortest hop counts from ``source`` within ``hops``
    levels over a symmetric ``(src, dst)`` edge list. Each level is one
    eagerly checkpointed frame; the level it supersedes is released."""
    # dst-partitioned like the other round-8 loops: the per-level
    # frontier aggregate keys on dst, so pre-aggregating nxt is
    # partition-local — the union's min-fold then shuffles two
    # NODE-sized frames instead of an edge-sized one per level.
    sym = sym.repartition("dst").cache()
    sym.count()  # materialize once; all levels scan it
    reached = sym.sparkSession.range(1).select(
        F.lit(source).cast(sym.schema["src"].dataType).alias("node"),
        F.lit(0).alias("h"),
    )
    for level in range(hops):
        # The reached set is bounded by the node count — broadcast it so
        # each level probes the cached edges map-side (zero edge
        # shuffle; pagerank's broadcast-rank-vector pattern, same
        # >10M-node co-partition fallback applies).
        nxt = (
            sym.join(F.broadcast(reached), reached["node"] == sym["src"])
            .select(F.col("dst").alias("node"), (F.col("h") + 1).alias("h"))
            .groupBy("node")
            .agg(F.min("h").alias("h"))  # partition-local on the
            # dst-partitioned cache; min-of-min below is unchanged
        )
        new = (
            reached.unionByName(nxt).groupBy("node").agg(F.min("h").alias("h"))
            # Truncate lineage each level: the lazy chain would re-run
            # ALL prior levels inside every broadcast (O(H^2) edge
            # scans). localCheckpoint materializes the (node-bounded)
            # frontier once per level — measured 4.9 -> ~2 s at sf0.1.
            # (Executor-local storage: on a real cluster a lost
            # executor forces recompute-from-source; acceptable for a
            # driver-controlled loop, same trade as RDD.localCheckpoint.)
            .localCheckpoint(eager=True)
        )
        # NOTE: eager is load-bearing here. The next level references
        # this frame TWICE (broadcast probe + union arm); with a lazy
        # checkpoint those two consumers race to materialize it and the
        # level computes twice (the LP final-round lesson). One
        # materialization job per level is the floor for this loop.
        if level:
            _release(reached)
        reached = new
    return reached


LP_ROUNDS = 3


def _lp_iter_sql(prev: str, nxt: str) -> str:
    """One synchronous label-propagation round: each node adopts its
    neighbors' most frequent label, ties broken by the SMALLEST label
    (deterministic, unlike the hash-mod tiebreak GraphFrames uses)."""
    return f"""
        {nxt} AS (
            SELECT node, label FROM (
                SELECT e.dst AS node, p.label,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.dst
                           ORDER BY COUNT(*) DESC, p.label ASC
                       ) AS rn
                FROM sym e JOIN {prev} p ON p.node = e.src
                GROUP BY e.dst, p.label
            ) WHERE rn = 1
        )"""


def lp_round(sym: DataFrame, labels: DataFrame, broadcast: bool = True) -> DataFrame:
    """One synchronous LP round (exposed so plan tests can pin the
    per-round shape — the query's returned frame is a localCheckpoint
    scan that hides it)."""
    hint = F.broadcast if broadcast else (lambda df: df)
    counts = (
        sym.join(hint(labels), F.col("node") == F.col("src"))
        .groupBy("dst", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("dst")
        .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
        .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("label"))
    )


@query(
    "graph_label_propagation",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        ),
        l0 AS (SELECT src AS node, src AS label FROM sym GROUP BY src),
        {",".join(_lp_iter_sql(f"l{i}", f"l{i + 1}") for i in range(LP_ROUNDS))}
        SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                    ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
               CASE WHEN label % 2 = 0 THEN 'c' || CAST(label // 2 AS VARCHAR)
                    ELSE 's' || CAST(label // 2 AS VARCHAR) END AS community
        FROM l{LP_ROUNDS}
    """,
    doc=f"Community detection by synchronous label propagation "
    f"(Raghavan et al. 2007), {LP_ROUNDS} unrolled rounds over the "
    "symmetrized purchase graph — the cheap community algorithm run "
    "where PageRank/components don't capture affinity grouping. "
    "Deterministic twist for cross-engine verification: ties on "
    "neighbor-label frequency break to the SMALLEST label (GraphFrames "
    "breaks them by hash). Per round: the label vector (|nodes| rows) "
    "broadcasts against the cached symmetric edges — zero edge-bytes "
    "reshuffle, same pattern as pagerank_fixed — then a map-side-"
    "combined groupBy on (node, label) and an integer argmax via "
    "max(struct(count, -label)) in a second bounded aggregate; no "
    "row_number window, so a celebrity node's label votes partial-"
    "aggregate instead of piling into one window partition. Above "
    f"{BROADCAST_MAX_NODES:,} nodes the label join falls back to the "
    "co-partitioned shuffle join.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = label_propagation(_symmetric(_edges(spark, sf_dir)))
    return labels.select(
        _display_name("node").alias("node"), _display_name("label").alias("community")
    )


def label_propagation(sym: DataFrame, rounds: int = LP_ROUNDS) -> DataFrame:
    """``(node, label)`` after ``rounds`` synchronous LP rounds over a
    symmetric ``(src, dst)`` edge list, from identity labels. Only the
    returned final round's checkpoint stays stored."""
    # Cache the symmetrized view PARTITIONED BY DST (round 8, the
    # pagerank-wedges / components_converged trick): both per-round
    # aggregates key on dst — hash(dst) satisfies the (dst, label)
    # clustering too — so with the label vector broadcast each LP round
    # plans with ZERO exchanges; the edge-sized partial-count shuffle
    # the projection-only spelling paid per round is paid once at cache
    # build. (Round 7 had measured a plain unpartitioned sym cache as a
    # LOSS — that one only deduplicated the projection, it removed no
    # exchange.)
    sym = sym.repartition("dst").cache()
    nodes = sym.select(F.col("src").alias("node")).distinct().cache()
    n_nodes = nodes.count()  # materializes; decides the broadcast regime
    labels = nodes.select("node", F.col("node").alias("label"))
    inner = []
    for i in range(rounds):
        inner.append(labels)
        labels = lp_round(
            sym, labels, broadcast=n_nodes <= BROADCAST_MAX_NODES
            # Truncate lineage: a lazy label chain re-executes all prior
            # rounds inside every broadcast (the BFS/PageRank lesson).
            # LAZY checkpoint for inner rounds: the next round's
            # broadcast build is the materializing job (each inner
            # round's frame has exactly ONE downstream reference), so
            # no dedicated per-round job. The FINAL round stays eager:
            # downstream consumers (graph_modularity joins the labels
            # three times) would otherwise race concurrent broadcast
            # builds into duplicate computes of the last round.
        ).localCheckpoint(eager=(i == rounds - 1))
    for ckpt in inner[1:]:  # inner[0] is the identity labels
        _release(ckpt)
    return labels


LINKPRED_DEG_CAP = 40
LINKPRED_MIN_CN = 2


@query(
    "graph_link_prediction",
    oracle=f"""
        WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
            SELECT a.p AS u, b.p AS v
            FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
        ),
        sym AS (SELECT u AS s, v AS n FROM e UNION ALL SELECT v AS s, u AS n FROM e),
        deg AS (SELECT s, COUNT(*) AS d FROM sym GROUP BY 1),
        mid AS (SELECT s FROM deg WHERE d <= {LINKPRED_DEG_CAP}),
        cn AS (
            SELECT a.n AS u, b.n AS v, COUNT(*) AS common_neighbors
            FROM sym a
            JOIN sym b ON a.s = b.s AND a.n < b.n
            JOIN mid m ON m.s = a.s
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT cn.* FROM cn
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cn.u AND e.v = cn.v)
              AND cn.common_neighbors >= {LINKPRED_MIN_CN}
        )
        SELECT cand.u AS part_a, cand.v AS part_b, cand.common_neighbors,
               CAST(cand.common_neighbors AS DOUBLE)
                   / (du.d + dv.d - cand.common_neighbors) AS jaccard_lb
        FROM cand
        JOIN deg du ON du.s = cand.u
        JOIN deg dv ON dv.s = cand.v
    """,
    doc="Link prediction over the part co-occurrence graph: for every "
    "NON-adjacent part pair, count common neighbors reached through "
    f"middles of degree <= {LINKPRED_DEG_CAP} and score with a Jaccard "
    "lower bound cn/(deg_u + deg_v - cn); predictions need >= "
    f"{LINKPRED_MIN_CN} common neighbors. The classic friend-of-friend "
    "scheme: grouped neighbor arrays + JVM-side i<j pair expansion "
    "(functions/pairs.py, one shuffle on the middle node) instead of an "
    "adjacency self-join; the degree cap drops super-hub middles — "
    "exactly the guard production FoF systems use, because a degree-d "
    "hub alone contributes d^2/2 candidate pairs while carrying almost "
    "no signal. Hub exclusion makes the intersection count (and hence "
    "the Jaccard) a lower bound — deterministic and engine-identical. "
    "Shuffles: baskets, edge-group, neighbor-group, pair-count, two "
    "degree joins — each keyed on part ids, skew-bounded by the cap.",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _part_edges(spark, sf_dir).cache()
    e.count()  # materialize: sym is scanned for degrees, middles, and pairs
    return link_prediction_scores(e).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        "common_neighbors",
        "jaccard_lb",
    )


def link_prediction_scores(
    e: DataFrame,
    deg_cap: int = LINKPRED_DEG_CAP,
    min_cn: int = LINKPRED_MIN_CN,
) -> DataFrame:
    """Common-neighbor link prediction over a canonical (u < v, distinct)
    edge frame; returns ``(u, v, common_neighbors, jaccard_lb)`` for
    non-adjacent pairs. Shared by the registry query and Graph facade —
    see graph_link_prediction's docstring for the hub-cap rationale."""
    from minispark_spark.functions.pairs import sorted_pair_structs

    sym = _undirected(e)
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    nbrs =sym.groupBy("s").agg(F.array_sort(F.collect_set("n")).alias("ns"))
    cn = (
        nbrs.filter(F.size("ns") <= deg_cap)
        .select(F.explode(sorted_pair_structs("ns", "u", "v")).alias("p"))
        .groupBy("p.u", "p.v")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= min_cn)
    )
    cand = cn.join(e, ["u", "v"], "left_anti")
    du = deg.select(F.col("s").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("s").alias("v"), F.col("d").alias("dv"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors"))
            ).alias("jaccard_lb"),
        )
    )


KCORE_K = 4
KCORE_ROUNDS = 4


def _kcore_iter_sql(prev: str, i: int) -> str:
    """One peel: drop nodes with degree < k, keep edges between
    survivors."""
    return f"""
        d{i} AS (SELECT s, COUNT(*) AS d FROM {prev} GROUP BY 1),
        k{i} AS (SELECT s FROM d{i} WHERE d >= {KCORE_K}),
        e{i} AS (SELECT t.s, t.n FROM {prev} t
                 JOIN k{i} a ON a.s = t.s JOIN k{i} b ON b.s = t.n)
    """


@query(
    "graph_kcore",
    oracle=f"""
        WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
            SELECT a.p AS u, b.p AS v
            FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
        ),
        e0 AS (SELECT u AS s, v AS n FROM e UNION ALL SELECT v AS s, u AS n FROM e),
        {", ".join(_kcore_iter_sql(f"e{i - 1}", i) for i in range(1, KCORE_ROUNDS + 1))}
        SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM e{KCORE_ROUNDS} GROUP BY 1
    """,
    doc=f"{KCORE_K}-core of the part co-occurrence graph by iterative "
    f"peeling, {KCORE_ROUNDS} unrolled rounds (the BFS/PageRank "
    "oracle-unrolling technique — production loops to fixpoint with "
    "the same per-round plan, stopping when no node drops). Each peel "
    "is one degree aggregate plus two semi-join filters, all keyed on "
    "the node id; the edge frame localCheckpoints per round so the "
    "lazy lineage can't re-execute prior peels (the measured O(R^2) "
    "iterative-loop hazard, NOTES.md). The k-core is the standard "
    "dense-subgraph seed for community mining and spam/bot-ring "
    "detection at scale.",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore(_undirected(_part_edges(spark, sf_dir)))


def _peel(sym: DataFrame, k: int) -> DataFrame:
    """One k-core peel of ``(s, n)`` rows: keep the rows whose both ends
    have degree >= k."""
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    keep = deg.filter(F.col("d") >= k).select("s")
    return sym.join(keep, "s", "left_semi").join(
        keep.select(F.col("s").alias("n")), "n", "left_semi"
    )


def kcore(sym: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """``(node, degree)`` after ``rounds`` k-core peels of an undirected
    ``(s, n)`` edge list holding both orientations of each edge."""
    # Truncate lineage per peel — without this every round's lazy chain
    # re-executes all prior rounds per action (the BFS lesson).
    sym = sym.localCheckpoint(eager=True)
    for _ in range(rounds):
        nxt = _peel(sym, k).localCheckpoint(eager=True)
        _release(sym)
        sym = nxt
    return sym.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


KCORE_CONV_ORACLE_LEVELS = 20  # must exceed the real peel count; the
# gadget forces ~11 and the purchase graph has converged within 4 on
# every gate SF — a deeper graph makes the truncated oracle DIFFER
# from the converged run (loud red row, never a silent pass).
KCORE_CONV_MAX_ROUNDS = 30


def _kcore_gadget_pairs() -> list[tuple[int, int]]:
    """Peel-cascade gadget (negative ids, disjoint from partkeys):
    a K5 clique (a stable 4-core, every degree exactly 4) anchoring a
    10-node chain where each g_i holds degree exactly 4 only through
    its successor — the tail g_10 starts at degree 3, so exactly one
    chain node peels per round. 11 rounds to fixpoint on ANY input
    (simulated + pinned in tests), versus the 4 the unrolled
    graph_kcore entry runs; the chain dissolves completely, so the
    gadget's only trace in the OUTPUT is the K5 itself (replayed by
    the oracle)."""
    pairs = [(-a, -b) for a in range(1, 6) for b in range(a + 1, 6)]  # K5
    pairs += [(-(5 + i), -(6 + i)) for i in range(1, 10)]  # chain
    pairs += [(-6, -c) for c in (1, 2, 3)]  # g_1 anchors to 3 clique nodes
    pairs += [(-(5 + i), -c) for i in range(2, 11) for c in (1, 2)]
    return pairs


def _kcore_conv_iter_sql(prev: str, i: int) -> str:
    """MATERIALIZED is load-bearing (the CC-oracle lesson,
    graph_components_converged): each level references the previous
    twice, so inlined CTEs expand 2^levels — at 20 levels that is a
    million re-reads of lineitem.parquet (measured as an fd-exhaustion
    crash before materialization)."""
    return f"""
        cd{i} AS (SELECT s, COUNT(*) AS d FROM {prev} GROUP BY 1),
        ck{i} AS (SELECT s FROM cd{i} WHERE d >= {KCORE_K}),
        ce{i} AS MATERIALIZED (SELECT t.s, t.n FROM {prev} t
                  JOIN ck{i} a ON a.s = t.s JOIN ck{i} b ON b.s = t.n)
    """


_KCORE_GADGET_SQL = """
            SELECT -a AS u, -b AS v
            FROM range(1, 6) t1(a) JOIN range(1, 6) t2(b) ON a < b
            UNION ALL
            SELECT -(5 + i), -(6 + i) FROM range(1, 10) t(i)
            UNION ALL
            SELECT -6, -c FROM range(1, 4) t(c)
            UNION ALL
            SELECT -(5 + i), -c FROM range(2, 11) t(i), range(1, 3) t2(c)
"""


@query(
    "graph_kcore_converged",
    oracle=f"""
        WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pe AS (
            SELECT a.p AS u, b.p AS v
            FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
        ),
        alle AS (
            SELECT u, v FROM pe
            UNION ALL
            {_KCORE_GADGET_SQL}
        ),
        ce0 AS (SELECT u AS s, v AS n FROM alle UNION ALL SELECT v AS s, u AS n FROM alle),
        {", ".join(_kcore_conv_iter_sql(f"ce{i - 1}", i) for i in range(1, KCORE_CONV_ORACLE_LEVELS + 1))}
        SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree,
               TRUE AS converged_beyond_unroll
        FROM ce{KCORE_CONV_ORACLE_LEVELS} GROUP BY 1
    """,
    doc=f"{KCORE_K}-core peeling run to EXACT FIXPOINT (loop until no "
    "node drops, cap 30 with a hard error — never a silent truncation) "
    "— the production form of graph_kcore, closing the same "
    "convergence-bug blind spot as graph_pagerank_converged/"
    "graph_components_converged: the fixed-unroll entry converges "
    "within its 4 rounds on the purchase graph, so loop-machinery "
    "bugs are invisible to it. An appended peel-cascade gadget (K5 "
    "anchor + 10-node degree-4 chain whose tail starts at degree 3) "
    "forces exactly one peel per round for ~11 rounds on EVERY input "
    "including empty tables; converged_beyond_unroll pins that the "
    f"loop ran past the unroll depth. The oracle peels "
    f"{KCORE_CONV_ORACLE_LEVELS} unrolled linear-size levels (> the "
    "real round count; a deeper graph turns the row red loudly). "
    "FULL value parity: node + fixpoint degree. Per round: one "
    "map-side-combined degree aggregate + two semi joins on the node "
    "key, checkpointed eagerly with the surviving row count observed "
    "in the same job.",
)
def graph_kcore_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = _undirected(
        _part_edges(spark, sf_dir).unionByName(
            spark.createDataFrame(_kcore_gadget_pairs(), "u long, v long")
        )
    )
    # Convergence is detected on the EDGE count, observed on each
    # round's eager checkpoint (one job per peel, no distinct shuffle, no
    # count job): peeling removes a node together with ALL its rows in
    # both orientations, so the directed-row count is unchanged iff no
    # node dropped — the same fixpoint the node-count compare detected.
    n_rows = F.count(F.lit(1)).alias("n")
    sym, m = _checkpoint_observed(sym, n_rows)
    prev_edges = m["n"]
    rounds = 0
    while rounds < KCORE_CONV_MAX_ROUNDS:
        nxt, m = _checkpoint_observed(_peel(sym, KCORE_K), n_rows)
        _release(sym)
        sym = nxt
        rounds += 1
        if m["n"] == prev_edges:
            break  # peeling removes only — equal count == no drop
        prev_edges = m["n"]
    else:
        raise RuntimeError(
            f"graph_kcore_converged: no fixpoint after {KCORE_CONV_MAX_ROUNDS} rounds"
        )
    return sym.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("degree"),
        F.lit(rounds > KCORE_ROUNDS).alias("converged_beyond_unroll"),
    )


from minispark_spark.registry import REGISTRY as _REG  # noqa: E402


@query(
    "graph_modularity",
    oracle="""
        WITH comm AS ({LP}),
        nedges AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                            's' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        mm AS (SELECT COUNT(*) AS m FROM nedges),
        intra AS (
            SELECT cs.community, COUNT(*) AS l_c
            FROM nedges e
            JOIN comm cs ON cs.node = e.src
            JOIN comm cd ON cd.node = e.dst
            WHERE cs.community = cd.community
            GROUP BY 1
        ),
        deg AS (
            SELECT c.community, COUNT(*) AS d_c
            FROM (SELECT src AS node FROM nedges
                  UNION ALL SELECT dst AS node FROM nedges) en
            JOIN comm c ON c.node = en.node
            GROUP BY 1
        )
        SELECT deg.community,
               CAST(deg.d_c AS BIGINT) AS d_c,
               CAST(COALESCE(intra.l_c, 0) AS BIGINT) AS l_c,
               CAST(COALESCE(intra.l_c, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
               - (CAST(deg.d_c AS DOUBLE) / CAST(2 * mm.m AS DOUBLE))
                 * (CAST(deg.d_c AS DOUBLE) / CAST(2 * mm.m AS DOUBLE)) AS q_term
        FROM deg LEFT JOIN intra USING (community) CROSS JOIN mm
    """.replace("{LP}", _REG["graph_label_propagation"].oracle),
    doc="Newman modularity of the label-propagation communities on the "
    "undirected purchase graph — the quality score that tells you "
    "whether the community structure LP found is real (Q near 0 = no "
    "better than random given the degree sequence). Per community c: "
    "q_term = L_c/m - (D_c/2m)^2 from EXACT integer counts (intra-"
    "community edge count, degree sum, total edges) with IEEE-"
    "deterministic final arithmetic; total Q = SUM(q_term) is left to "
    "the reader per the no-float-summation registry rule. Cost beyond "
    "the memoized LP run: two broadcast-joined counts over the cached "
    "edge frame — no new large shuffle.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    comm = graph_label_propagation(spark, sf_dir)
    e = _edges(spark, sf_dir)
    nedges = e.select(
        _display_name("src").alias("src"), _display_name("dst").alias("dst")
    ).cache()
    return modularity_terms(nedges, comm)


def modularity_terms(und: DataFrame, comm: DataFrame) -> DataFrame:
    """``(community, d_c, l_c, q_term)``: the Newman modularity term of
    each community of ``comm`` ``(node, community)`` over the undirected
    edges ``und`` ``(src, dst)``, each edge listed once."""
    mm = F.broadcast(und.agg(F.count(F.lit(1)).alias("m")))
    cs = comm.select(F.col("node").alias("src"), F.col("community").alias("c_src"))
    cd = comm.select(F.col("node").alias("dst"), F.col("community").alias("c_dst"))
    intra = (
        und.join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    endpoints = und.select(F.col("src").alias("node")).unionByName(
        und.select(F.col("dst").alias("node"))
    )
    deg = (
        endpoints.join(comm, "node")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    md = F.col("m").cast("double")
    dd = F.col("d_c").cast("double")
    lc = F.coalesce(F.col("l_c"), F.lit(0))
    return (
        deg.join(intra, "community", "left")
        .crossJoin(mm)
        .select(
            "community",
            "d_c",
            lc.cast("bigint").alias("l_c"),
            (
                lc.cast("double") / md
                - (dd / (2 * F.col("m")).cast("double"))
                * (dd / (2 * F.col("m")).cast("double"))
            ).alias("q_term"),
        )
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
        WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
            SELECT a.p AS u, b.p AS v
            FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= {{MS}}
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        deg AS (
            SELECT node, COUNT(*) AS d FROM (
                SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
            ) GROUP BY node
        ),
        tcnt AS (
            SELECT node, COUNT(*) AS t FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b AS node FROM tri
                UNION ALL SELECT c AS node FROM tri
            ) GROUP BY node
        )
        SELECT deg.node,
               CAST(deg.d AS BIGINT) AS degree,
               CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS triangles,
               CAST(2 * COALESCE(tcnt.t, 0) AS DOUBLE)
               / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS cc
        FROM deg LEFT JOIN tcnt USING (node)
        WHERE deg.d >= 2
    """.replace("{MS}", str(TRIANGLE_MIN_SUPPORT)),
    doc="Local clustering coefficient per node of the part co-occurrence "
    "graph: cc = 2*T_v / (d_v*(d_v-1)) from the SAME vertex-ordered "
    "edge and triangle frames as graph_triangle_count (each a<b<c "
    "triangle credits all three corners once). Exact integer degree "
    "and triangle counts, one IEEE division per node. The 'is my "
    "neighborhood a clique' signal that separates hub parts from "
    "community parts — pairs with graph_modularity's global view.",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _part_edges(spark, sf_dir).cache()
    e.count()  # materialize: degrees and three triangle scans below
    return clustering_coefficient(e)


def _degrees(e: DataFrame) -> DataFrame:
    """``(node, d)``: the undirected degree of each endpoint of ``e``."""
    return (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def clustering_coefficient(e: DataFrame) -> DataFrame:
    """``(node, degree, triangles, cc)`` for the nodes of degree >= 2 of a
    canonical ``(u < v, distinct)`` edge frame (cache it: it is scanned
    four times)."""
    t = F.coalesce(F.col("t"), F.lit(0))
    return (
        _degrees(e).join(triangle_counts(e), "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            t.cast("bigint").alias("triangles"),
            ((2 * t).cast("double") / (F.col("d") * (F.col("d") - 1)).cast("double")).alias("cc"),
        )
    )


@query(
    "graph_assortativity",
    oracle=f"""
        WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
            SELECT a.p AS u, b.p AS v
            FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2 HAVING COUNT(*) >= {{MS}}
        ),
        deg AS (
            SELECT node, COUNT(*) AS d FROM (
                SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
            ) GROUP BY node
        ),
        ends AS (
            SELECT du.d AS x, dv.d AS y
            FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
            UNION ALL
            SELECT dv.d AS x, du.d AS y
            FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
        ),
        s AS (
            SELECT COUNT(*) AS m, SUM(x * y) AS sxy, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM ends
        )
        SELECT CAST(m AS BIGINT) AS n_ends,
               CAST(m * sxy - sx * sy AS DOUBLE)
               / nullif(sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(m * syy - sy * sy AS DOUBLE)), 0.0) AS r
        FROM s
    """.replace("{MS}", str(TRIANGLE_MIN_SUPPORT)),
    doc="Degree assortativity (Newman 2002) of the part co-occurrence "
    "graph: Pearson correlation of degrees across edge endpoints (each "
    "undirected edge contributes both orientations) — positive means "
    "hubs link hubs, negative means hub-and-spoke. Exact integer "
    "cross-multiplied sums, one division + two sqrts at the end; cost "
    "is two broadcast-joined degree lookups over the cached edge "
    "frame.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assortativity(_part_edges(spark, sf_dir).cache())


def assortativity(e: DataFrame) -> DataFrame:
    """``(n_ends, r)``: the degree assortativity of a canonical
    ``(u < v, distinct)`` edge frame (cache it: it is scanned three
    times)."""
    deg = _degrees(e)
    du =F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("xu")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("xv")))
    joined = e.join(du, "u").join(dv, "v")
    ends = joined.select(F.col("xu").alias("x"), F.col("xv").alias("y")).unionByName(
        joined.select(F.col("xv").alias("x"), F.col("xu").alias("y"))
    )
    s = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.nullif(
        F.sqrt((F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
        * F.sqrt((F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
        F.lit(0.0),
    )
    return s.select(F.col("m").cast("bigint").alias("n_ends"), (num / den).alias("r"))


PPR_SEED_MAX_CUSTKEY = 10  # seeds: customers with custkey < 10


def _ppr_iter_sql(prev: str, i: int) -> str:
    return f"""
        pr{i} AS (
            SELECT n.node,
                   CASE WHEN n.is_seed THEN consts.base ELSE 0 END
                   + CAST(floor(85 * COALESCE(s.in_sum, 0) / 100.0) AS BIGINT) AS rank
            FROM nodes n
            CROSS JOIN consts
            LEFT JOIN (
                SELECT e.dst AS node,
                       SUM(CAST(floor(p.rank / CAST(d.outdeg AS DOUBLE)) AS BIGINT)) AS in_sum
                FROM edges e
                JOIN outdeg d ON d.src = e.src
                JOIN {prev} p ON p.node = e.src
                GROUP BY e.dst
            ) s ON s.node = n.node
        )"""


_PPR_ITERS = ",".join(
    _ppr_iter_sql(f"pr{i}", i + 1) for i in range(N_ITER)
)


@query(
    "graph_personalized_pagerank",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        nodes AS (
            SELECT node,
                   node LIKE 'c%' AND CAST(substr(node, 2) AS BIGINT) < {PPR_SEED_MAX_CUSTKEY}
                       AS is_seed
            FROM (SELECT DISTINCT src AS node FROM sym)
        ),
        consts AS (
            SELECT CAST(floor({SCALE} / COUNT(*)) AS BIGINT) AS init,
                   CAST(floor({15 * SCALE // 100} / COUNT(*)) AS BIGINT) AS base
            FROM nodes WHERE is_seed
        ),
        outdeg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src),
        pr0 AS (
            SELECT node, CASE WHEN is_seed THEN init ELSE 0 END AS rank
            FROM nodes CROSS JOIN consts
        ),
        {{ITERS}}
        SELECT node, rank FROM pr{N_ITER} WHERE rank > 0
    """.replace("{ITERS}", _PPR_ITERS.replace("FROM edges e", "FROM sym e")),
    doc=f"Personalized PageRank ({N_ITER} unrolled iterations, damping "
    "0.85, teleport restricted to a SEED set — customers with custkey "
    f"< {PPR_SEED_MAX_CUSTKEY}) over the SYMMETRIZED purchase graph: "
    "the 'suppliers relevant to THESE customers' recommendation "
    "primitive, vs global PageRank's one-size-fits-all importance. "
    "Same BIGINT fixed-point machinery as graph_pagerank (integer "
    "contribution sums are shuffle-order-insensitive -> bit-exact "
    "oracle); per iteration the rank vector broadcasts against the "
    "dst-partitioned cached edges. Nodes unreachable from the seeds "
    "hold rank 0 and are filtered.",
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_seed = (F.col("node") % 2 == 0) & (F.col("node") < 2 * PPR_SEED_MAX_CUSTKEY)
    ranks = personalized_pagerank(_symmetric(_edges(spark, sf_dir)), is_seed)
    return ranks.select(_display_name("node").alias("node"), "rank")


def personalized_pagerank(
    sym: DataFrame, is_seed: Column, n_iter: int = N_ITER
) -> DataFrame:
    """``(node, rank)`` for the nodes of rank > 0 after ``n_iter`` rounds
    of integer personalized PageRank (damping 0.85) over a symmetric
    ``(src, dst)`` edge list, teleporting to the nodes where ``is_seed``
    (a Column over ``node``) holds. Empty when no node is a seed."""
    sym = sym.cache()
    nodes = sym.select(F.col("src").alias("node")).distinct().cache()
    n_seeds = nodes.filter(is_seed).count()  # bounded: seed-set size
    if n_seeds == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank")).limit(0)
    init = SCALE // n_seeds
    base = (15 * SCALE // 100) // n_seeds
    # The seed-teleport term is an expression on the node id, so the
    # per-round projection of the wedge aggregate needs no node-frame
    # lookup (round 8, the pagerank_fixed pattern).
    wedges = _wedges(sym, nodes)
    hint = F.broadcast  # node count bounded at these scales (see pagerank)
    ranks = nodes.select(
        "node", F.when(is_seed, init).otherwise(0).cast("long").alias("rank")
    )
    for _ in range(n_iter):
        contrib = (
            wedges.join(hint(ranks), F.col("src") == F.col("node"))
            .select(F.col("dst").alias("node"), _share().alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            contrib.select(
                "node",
                (
                    F.when(is_seed, base).otherwise(0)
                    + (F.lit(85) * F.col("in_sum") / F.lit(100)).cast("long")
                ).alias("rank"),
            )
            # LAZY: next round's broadcast build materializes it —
            # one reference per round, no dedicated job (§1.2).
            .localCheckpoint(eager=False)
        )
    return ranks.filter(F.col("rank") > 0)
