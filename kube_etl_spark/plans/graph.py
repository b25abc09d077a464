"""Iterative graph analytics over DataFrames (EXT; the join-based
Pregel substitute for when the graph IS a table).

PageRank here is the representative iterative algorithm: each round is
rank ⋈ edges → groupBy(dst) — pure DataFrame algebra, so Catalyst
plans every round and AQE sizes its shuffles. The two things naive
Spark loops get wrong are handled explicitly:

  * **lineage truncation**: each round references `ranks` THREE times
    (contribs join, dangling anti-join, final rebuild), so the
    un-truncated plan tree grows ~3^k — at 5 rounds that was ~250
    copies of the base subtree and PLANNING took 4.5× longer than
    execution (measured at sf0.01: 9.8 s build vs 2.2 s run).
    Ranks are therefore localCheckpoint'ed EVERY round, NON-eagerly:
    the checkpoint truncates the downstream plan either way (measured:
    eager per-round checkpoints cost ~2.8 s/round of scheduling
    overhead at sf0.01; non-eager ones ~0.2 s/round). Under AQE the
    non-eager form is not fully lazy: the call still runs the round's
    upstream shuffle stages as jobs at the call site (a probe counted
    1 job at the call with AQE on, 0 with it off); it skips only the
    extra materializing job. Plan size stays at one round's algebra
    for any iteration count.
  * **dangling mass**: nodes with no out-edges leak rank; their mass is
    redistributed uniformly each round so Σrank stays 1 (asserted in
    tests), matching the canonical formulation.

The companion duplicate-clustering iteration (min-label propagation)
lives in queries/llm.py (q_dedup_clusters); this module is the
weighted-importance counterpart on the same join-per-round shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 1


def pagerank_round(
    nodes: DataFrame,
    ranks: DataFrame,
    w_edges: DataFrame,
    out_deg: DataFrame,
    n: int,
    damping: float = 0.85,
) -> DataFrame:
    """One damped PageRank round — exposed so the plan-shape suite can
    assert the round's physical shape (keyed contrib join + broadcast
    1-row dangling frame) directly: the returned ranks from
    ``pagerank`` are checkpoint scans, which rightly hide the round
    algebra from their plan."""
    contribs = (
        ranks.join(w_edges, ranks.node == w_edges.src)
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
    )
    # rank mass sitting on dangling nodes (no out-edges) this round
    dangling = ranks.join(out_deg, ranks.node == out_deg.src, "left_anti").agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m")
    )
    return (
        nodes.join(contribs, nodes.node == contribs.dst, "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("m") / n)
            ).alias("rank"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list with columns (src, dst).
    Returns (node, rank), Σrank = 1. Deterministic up to float
    summation order (validated against an independent driver-side
    implementation with tolerance in tests)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    ).persist()
    n = nodes.count()
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edge weight 1/deg, precomputed once — the per-round join carries
    # only (src, dst, w)
    w_edges = edges.join(out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    ).persist()
    w_edges.count()

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        ranks = pagerank_round(nodes, ranks, w_edges, out_deg, n, damping)
        # the FINAL round is checkpointed too: the last round's algebra
        # references the previous ranks 3×, so an un-truncated return
        # value re-executes it 3× for any caller that consumes the
        # result more than once (and carries ~46 exchange nodes of
        # plan text instead of a checkpoint scan)
        if (i + 1) % CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def bfs_hops(
    spark, edges: DataFrame, source: int, max_depth: int = 4
) -> DataFrame:
    """Single-source BFS over a directed edge list (src, dst): minimum
    hop distance from ``source``, bounded at ``max_depth``. Returns
    (node, dist) including (source, 0).

    Frontier iteration — the Pregel shape: each level joins only the
    CURRENT frontier against the edge list and anti-joins the visited
    set, so per-level work is the frontier's edge cut, never |graph|.
    A node is claimed the first level it appears, which IS its BFS
    distance (no min-aggregation re-visits). Frontier and visited are
    lazily localCheckpoint'ed per level (visited is consumed twice per
    level — anti-join + union — and un-truncated lineage re-executes
    all prior levels per consumer)."""
    visited = spark.createDataFrame([(source, 0)], "node bigint, dist bigint")
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                F.lit(depth).cast("bigint").alias("dist"),
            )
            .distinct()
            .join(visited, "node", "left_anti")
        ).localCheckpoint(eager=False)
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited
