"""Iterative graph operators (SURVEY.md §2.10 extension): connected
components over near-dup pair graphs — the dedup endgame (pairs →
clusters → one representative per cluster).

Label propagation with DataFrame ops only: each iteration joins labels
across edges and takes the min — O(diameter) rounds, each one shuffle
on the vertex id. Near-dup graphs are unions of small cliques/chains,
so convergence is fast; `localCheckpoint` truncates lineage so plans
don't grow with iterations (the classic iterative-Spark trap).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["connected_components", "pagerank"]


def connected_components(pairs: DataFrame, a: str = "a", b: str = "b", max_iter: int = 20) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns (id, component) where component = min vertex id reachable.
    Deterministic. Each iteration: label(v) ← min(label(v),
    min_{u∈N(v)} label(u)); stop when no label changed (or max_iter,
    which bounds cost on adversarial chains — 2^max_iter diameter
    coverage is ample for dedup graphs).

    Driver-sync budget: exactly ONE action per iteration. The `__changed`
    flag rides inside the label frame through a LAZY localCheckpoint,
    so the single `max(__changed)` aggregate both materializes the
    checkpoint (truncating lineage for the next round) and answers the
    convergence question — no separate count job re-running the join.
    """
    # edges feed EVERY iteration's join — persist once or the upstream
    # pair-generation plan (often itself a self-join) re-executes per round
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select("id", F.least("component", F.coalesce("nmin", "component")).alias("component"),
                    F.coalesce(F.col("nmin") < F.col("component"), F.lit(False)).alias("__changed"))
            .localCheckpoint(eager=False)
        )
        changed = updated.agg(F.max("__changed")).first()[0]
        labels = updated.select("id", "component")
        if not changed:
            break
    edges.unpersist()
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    handle_dangling: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration power-method PageRank over a directed edge list.

    Returns (id, rank). Pure DataFrame ops: per iteration one shuffle for
    the contribution aggregation (the edges⋈ranks join co-partitions on
    the source id), scalar dangling mass attached via a broadcast
    single-row crossJoin — no `.collect()` of node state, so rank frames
    never touch the driver and the operator scales with the cluster.
    Fixed iteration count (the batch-analytics norm) keeps the job DAG
    static. Checkpointing is LAZY by default (the whole k-round chain
    compiles once and materializes in one action — measured 4x cheaper
    than a job per round at sf0.1), with an EAGER localCheckpoint every
    4 rounds to truncate lineage so long chains never nest more than 4
    joins deep (compile-time blowup trap).

    Dangling nodes (no out-edges) donate their mass uniformly; ranks sum
    to 1 every iteration (pinned in tests/test_graph_ops.py vs an exact
    numpy power iteration). Callers that construct the graph undirected
    (every node appears as a src) can pass handle_dangling=False to skip
    the per-iteration dangling-mass branch (a semi-join + scalar agg
    saved per round).

    The 100 TB invariant: the EDGE LIST is shuffled exactly once, at
    setup. 1/outdeg is pre-attached as a per-edge weight and the
    weighted list hash-partitioned on src before persisting, so every
    iteration's contribs join shuffles only the rank frame (|V| rows,
    ≪ |E|) to meet it in place; dangling nodes are a static set
    computed once (anti-join), not rediscovered via a per-iteration
    outdeg join.
    """
    sc_parallelism = edges.sparkSession.sparkContext.defaultParallelism
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        # duplicate edges would double-count contributions; callers whose
        # edge build already dedups can skip this full-edge shuffle
        e = e.distinct()
    # e feeds THREE setup frames (ew, nodes, dangling anti-join) — persist
    # or the upstream edge build (+ the distinct) recomputes per consumer
    e = e.persist()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # per-edge contribution weight, partitioned on the join key ONCE
    ew = (
        e.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .repartition(sc_parallelism, "src")
        # cache SORTED on the join key: the per-iteration sort-merge join
        # then satisfies its ordering requirement from the cached layout
        # instead of re-sorting |E| rows every round (r17 opt, guide §2.4 —
        # "two operations keyed the same way share one exchange"; the sort
        # is likewise paid once)
        .sortWithinPartitions("src")
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    n_frame = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("double").alias("__n")))
    if handle_dangling:
        dangling_ids = nodes.join(
            outdeg.select(F.col("src").alias("id")), "id", "left_anti"
        ).persist()

    ranks = (
        nodes.crossJoin(n_frame)
        .select("id", (F.lit(1.0) / F.col("__n")).alias("rank"))
        .localCheckpoint()
    )
    for it in range(iterations):
        contribs = (
            ew.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        nxt = nodes.join(contribs, "id", "left").crossJoin(n_frame)
        dm = F.lit(0.0)
        if handle_dangling:
            # dangling mass: total rank parked on nodes with no out-edges
            nxt = nxt.crossJoin(
                F.broadcast(
                    ranks.join(dangling_ids, "id", "left_semi").agg(
                        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
                    )
                )
            )
            dm = F.col("__dm")
        ranks = (
            nxt.select(
                "id",
                (
                    (1.0 - damping) / F.col("__n")
                    + damping * (F.coalesce("contrib", F.lit(0.0)) + dm / F.col("__n"))
                ).alias("rank"),
            )
            # final round is ALWAYS eager: the setup caches (e/ew/nodes/
            # dangling_ids) are unpersisted right below, so the returned
            # frame must be materialized while they still serve the
            # per-iteration joins — otherwise (iterations < 4) no eager
            # round ever fires and the persists are dead weight
            # recomputed at the caller's first action (ADVICE r06)
            .localCheckpoint(eager=((it + 1) % 4 == 0 or it == iterations - 1))
        )
    e.unpersist()
    ew.unpersist()
    nodes.unpersist()
    if handle_dangling:
        dangling_ids.unpersist()
    return ranks
