"""Distributed PageRank by power iteration — link-authority scoring
over an edge relation (weighted or not).  In an LLM-data pipeline
this is the corpus-cartography / source-authority primitive (rank
domains by who links or duplicates whom); relationally it is the
second iterative-graph operator next to ``components``.

Execution model (one bounded pass per iteration, the classic Spark
formulation):

- edges normalize ONCE into per-source contribution fractions
  (``weight / Σ out-weights``) and are ``localCheckpoint``ed — the
  static side of every iteration, held in the block manager only
  while the returned frame's lineage references it (a ``persist``
  would stay cached for the session, and each cached relation's
  executed adaptive plan would print inside the caller's plan);
- each iteration is ONE equi-join of the rank relation to the edge
  relation on src (co-partitioned by the shuffle, reused across
  iterations) and ONE groupBy(dst) sum — partial aggregation
  collapses map-side, so the exchange carries at most
  |partitions|·|nodes| rows;
- the dangling-NODE set (no out-edges) is static topology, probed
  ONCE before the loop.  Graphs without dangling nodes (symmetric
  edge sets, crawl graphs after sink-pruning) run the entire loop
  LAZILY — zero driver actions, one final multi-stage job, lineage
  truncated by a lazy ``localCheckpoint`` every few rounds to bound
  plan depth.  Graphs WITH dangling nodes pay one scalar driver
  aggregate per iteration (the parked mass, redistributed
  uniformly — the bounded-collect legitimacy class of ``kmeans``'s
  k×(d+2) rows) and an eager checkpoint per round, because that
  aggregate is an action and an unmaterialized lineage would
  re-execute the chain each time (O(iters²)).

Deterministic: no RNG anywhere; float sums vary only by partition
accumulation order (~1e-15/iter), which callers absorb by rounding
published ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Broadcast ceiling for the STATIC normalized-edge relation, in rows
#: (~30 B/row: two keys + one double).  Under it every iteration's
#: rank-join becomes a BroadcastHashJoin against one reused
#: BroadcastExchange — the rank relation is never shuffled and each
#: iteration costs exactly ONE exchange (the groupBy(dst) partial
#: aggregate), half the sort-merge layout's two.  At or above it the
#: hint is dropped and the loop keeps the co-partitioned shuffle join
#: (the ALS ``BROADCAST_FACTOR_ROWS_MAX`` gating idiom): 10M rows is
#: ~300 MB framed, inside the "few hundred MB is fine" broadcast
#: envelope, while a 100 TB link graph (billions of edges) degrades
#: to the shuffle join instead of OOMing the driver.
BROADCAST_EDGE_ROWS_MAX = 10_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Rank every node of the directed graph ``edges``.  Returns
    (node, rank) with Σ rank = 1.  ``weight`` selects weighted
    PageRank (contribution ∝ edge weight); default is unweighted.
    """
    w = (F.col(weight) if weight else F.lit(1.0)).cast("double")
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    out = e.groupBy("src").agg(F.sum("w").alias("wout"))
    frac = (
        e.join(out, "src")
        .select("src", "dst", (F.col("w") / F.col("wout")).alias("frac"))
        .localCheckpoint()
    )
    # nodes derive from the CHECKPOINTED frac relation (frac preserves
    # every (src, dst) of e), so the expensive upstream edge build
    # materializes once instead of once per setup action
    nodes = (
        frac.select(F.col("src").alias("node"))
        .union(frac.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank over an empty edge relation")
    src_nodes = frac.select(F.col("src").alias("node")).distinct()
    # static topology: does any node lack out-edges?
    has_dangling = (
        nodes.join(src_nodes, "node", "left_anti").limit(1).count() > 0
    )
    # zero-weight self-loops guarantee every node receives >= 1
    # contribution row, collapsing the per-iteration plan from
    # (join + groupBy + left-join-back-to-nodes) to (join + groupBy)
    # — one shuffle fewer per iteration; adding 0.0 to a float sum is
    # exact, so ranks are unchanged
    frac_all = frac.unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0.0).alias("frac"),
        )
    ).localCheckpoint(eager=False)
    # count-gated broadcast of the STATIC side (r12, guide §3.1): the
    # checkpointed frac relation is already materialized, so the count
    # is a cheap scan of its blocks, taken ONCE — not per iteration.
    # Under the ceiling the whole no-dangling loop plans as ONE BroadcastExchange (reused by every
    # iteration's BroadcastHashJoin) + one groupBy exchange per
    # iteration; the join arithmetic and therefore the ranks are
    # unchanged (same rows, same per-row products — only the sum's
    # partition accumulation order may move, the documented ~1e-15
    # float jitter callers round away).
    if frac.count() + n < BROADCAST_EDGE_ROWS_MAX:
        frac_all = F.broadcast(frac_all)
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    if has_dangling:
        ranks = ranks.localCheckpoint()
    base = (1.0 - damping) / n
    for i in range(iters):
        if has_dangling:
            # rank parked on sink nodes — one scalar to the driver
            dangling = (
                ranks.join(src_nodes, "node", "left_anti")
                .agg(F.sum("rank"))
                .collect()[0][0]
                or 0.0
            )
        else:
            dangling = 0.0
        ranks = (
            frac_all.join(ranks, frac_all["src"] == ranks["node"])
            .select("dst", (F.col("rank") * F.col("frac")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(base)
                    + damping * (F.col("c") + dangling / n)
                ).alias("rank"),
            )
        )
        if has_dangling:
            ranks = ranks.localCheckpoint()  # eager: actions follow
        elif (i + 1) % 4 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks
