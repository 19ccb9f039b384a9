"""Relational graph analytics — PageRank over an aggregated graph.

The reference has no graph surface (SURVEY §2A: element-wise torch
kernels only); this is a §2B-style extension following the same
design as relational k-means (operators/clustering.py): the
corpus-sized work is ONE aggregation that shrinks 100 TB of facts to
a small weighted graph, after which every Lloyd/power iteration is a
broadcast join over the tiny rank vector — unrolled into a single
lazy Catalyst plan, no driver-side loop state, no collect().

Scale sketch: |nodes| = dimension cardinality (25 nations), |edges|
<= |nodes|^2 — both broadcastable at any fact-table scale. For
graphs where the rank vector itself is huge (billions of nodes) the
same step degrades gracefully to a shuffle hash join on src — the
code is identical, only the broadcast hint goes away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from axolotls_spark.cacheutil import materialize


DAMPING = 0.85
ITERS = 5


def pagerank(edges: DataFrame, seed: str | None = None,
             damping: float = DAMPING, iters: int = ITERS) -> DataFrame:
    """Power-iterate PageRank on a weighted edge list (src, dst, w).

    Nodes = union of endpoints; transition weight = w / out-weight
    of src; rank_{t+1}(v) = (1-d)·restart(v) + d * sum over in-edges
    of rank_t(u) * wn(u,v). Without ``seed`` the restart vector (and
    rank_0) is uniform 1/N — global PageRank. With ``seed`` it is the
    indicator of that node — personalized PageRank, i.e. random walk
    with restart: all restart mass returns to the seed, the standard
    graph-proximity score ("how related is every node to the seed")
    behind graph-based recommendation and seed expansion. Nodes with
    no out-edges leak mass (standard simplification — no dangling
    redistribution), which keeps every step a pure join+aggregate
    both engines can replay. Returns (node, rank) as one unrolled
    lazy plan.
    """
    # The aggregated graph is tiny (|nodes|^2 rows max) but its
    # lineage is the full fact-table aggregation; every unrolled
    # iteration and every broadcast build would otherwise re-derive
    # that lineage. Persisting the graph relation is the textbook
    # "cache only what is re-used" case: one corpus pass, then all
    # iterations run against the in-memory edge list. The repartition
    # to one partition keeps each 25-row iteration stage from
    # spawning shuffle.partitions near-empty tasks; for a graph with
    # a huge rank vector (billions of nodes) drop the repartition and
    # the same plan degrades gracefully to shuffled joins.
    edges = materialize(edges.repartition(1))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # 1-row count relation — broadcast, never a driver .count().
    ncnt = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ow = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    t = (
        edges.join(ow, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("wn"))
        .persist()
    )
    # (node, n) base relation every iteration rebuilds ranks from; a
    # seeded walk never reads n, so it skips that broadcast job.
    # repartition(1): nodes descends from a DISTINCT whose exchange
    # leaves it hash-partitioned at shuffle.partitions — paired with
    # the SinglePartition t, every loop join would re-shuffle one
    # side per iteration.  Collapsing base to SinglePartition (25
    # rows) makes all loop inputs co-partitioned.
    base = nodes if seed is not None else nodes.crossJoin(F.broadcast(ncnt))
    base = base.repartition(1).persist()
    if seed is None:
        start = F.lit(1.0) / F.col("n")
        restart = F.lit(1.0 - damping) / F.col("n")
    else:
        start = F.when(F.col("node") == seed, F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
        restart = F.lit(1.0 - damping) * start
    ranks = base.select("node", start.alias("rank"))
    # Merge-hinted (not broadcast) iteration joins: every relation in
    # the loop is SinglePartition (edges/t/base descend from the
    # repartition(1)), and SinglePartition satisfies any clustered
    # distribution — so SMJ needs NO exchange and the per-node
    # aggregate none either.  The broadcast form cost one broadcast
    # job + one AQE stage per unrolled step, and the driver's ~60 ms
    # re-optimization gap BETWEEN stages dominated the query
    # (measured: 41 jobs, 1.1 cpu_s, 3.3 s wall); the exchange-free
    # loop pipelines all iterations inside a single stage.  For a
    # huge rank vector drop the repartition(1) upstream and the same
    # hints yield ordinary shuffled merge joins.
    for _ in range(iters):
        contrib = (
            t.join(ranks.hint("merge"), t.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("wn")).alias("s"))
        )
        ranks = (
            base.join(contrib.hint("merge"), base.node == contrib.dst, "left")
            .select(
                "node",
                (
                    restart
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks
