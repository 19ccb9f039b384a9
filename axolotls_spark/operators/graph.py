"""Relational graph analytics — PageRank over an aggregated graph.

The reference has no graph surface (SURVEY §2A: element-wise torch
kernels only); this is a §2B-style extension of the aggregate-then-
iterate design (SCALE.md "Iterative algorithms"): the corpus-sized
work is ONE aggregation that shrinks 100 TB of facts to a small
weighted graph, and the power iterations then run inside one array
expression over that graph collected into a single row — no Python
loop, no collect(), no per-iteration join or exchange.

Contract: the graph must fit one row.  Every caller bounds its node
count by the query, not by the corpus (25 nations for the trade
graph, the ``_TR_V``-term vocabulary cap for TextRank), so |edges| <=
|nodes|^2 stays small at any fact-table scale.  A graph whose node
count grows with the corpus needs a partitioned rank vector, which
this operator does not provide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    redistribution), so each step is a plain in-edge sum both engines
    can replay. Returns (node, rank) as one lazy plan.

    Shape: one global ``collect_list`` of the edges; per node its
    out-weight, summed once and divided into its out-edges (``t``);
    then ``aggregate`` runs ``iters`` steps over a ``node -> rank``
    map, each rebuilding the map from the in-edge sums, and the final
    map explodes back to rows.  ``src``/``dst`` must be non-null.
    """
    e, nodes, t = F.col("e"), F.col("nodes"), F.col("t")

    def out_edges(u):
        return F.filter(e, lambda x: x["src"] == u)

    # t and nodes are columns of their own projection: an expression
    # referenced once inside a lambda would be inlined into it by the
    # optimizer and recomputed per call.
    g = (
        edges.agg(F.collect_list(F.struct("src", "dst", "w")).alias("e"))
        .select(e, F.array_sort(F.array_distinct(F.concat(
            F.transform(e, lambda x: x["src"]),
            F.transform(e, lambda x: x["dst"]),
        ))).alias("nodes"))
        .select(nodes, F.flatten(F.transform(nodes, lambda u: F.aggregate(
            out_edges(u), F.lit(0.0), lambda s, x: s + x["w"],
            lambda ow: F.transform(out_edges(u), lambda x: F.struct(
                x["src"].alias("src"), x["dst"].alias("dst"),
                (x["w"] / ow).alias("wn"),
            )),
        ))).alias("t"))
    )
    n = F.size(nodes)

    def start(v):
        if seed is None:
            return 1.0 / n
        return F.when(v == seed, 1.0).otherwise(0.0)

    def restart(v):
        if seed is None:
            return (1.0 - damping) / n
        return (1.0 - damping) * start(v)

    def step(r, _):
        return F.map_from_arrays(nodes, F.transform(
            nodes,
            lambda v: restart(v) + F.lit(damping) * F.aggregate(
                F.filter(t, lambda x: x["dst"] == v), F.lit(0.0),
                lambda s, x: s + F.element_at(r, x["src"]) * x["wn"],
            ),
        ))

    ranks = F.aggregate(
        F.array_repeat(F.lit(0), iters),
        F.map_from_arrays(nodes, F.transform(nodes, start)),
        step,
    )
    return g.select(F.explode(ranks).alias("node", "rank"))
