"""Relational graph analytics over a graph held in one row: PageRank,
HITS, k-core peeling, all-pairs shortest paths and BFS.

The reference has no graph surface (SURVEY §2A: element-wise torch
kernels only); this is a §2B-style extension of the aggregate-then-
iterate design (SCALE.md "Iterative algorithms"): the corpus-sized
work is ONE aggregation that shrinks 100 TB of facts to a small edge
list, :func:`edge_row` collects that list into a single row, and the
rounds then run inside one array ``aggregate`` over it — no Python
loop, no collect(), no cache, no per-round join or exchange.

Contract: the graph must fit one row.  Every caller bounds its node
count by the query, not by the corpus (25 nations for the trade
graph, the ``_TR_V``-term vocabulary cap for TextRank), so |edges| <=
|nodes|^2 stays small at any fact-table scale.  A graph whose node
count grows with the corpus needs a partitioned state, which this
module does not provide.

Catalyst shares no subexpression inside a lambda, so a value that a
step reads more than once is bound once with ``functions.arrays.let``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from axolotls_spark.functions.arrays import let


DAMPING = 0.85
ITERS = 5


def edge_row(edges: DataFrame) -> DataFrame:
    """The graph as ONE row: ``e``, the structs of ``edges``' rows
    (``src``, ``dst``, ...), and ``nodes``, the sorted distinct
    endpoints; both are empty on an empty edge list.  ``nodes`` is a
    column of its own projection: an expression referenced once inside
    a lambda would be inlined into it by the optimizer and recomputed
    per call."""
    e = F.col("e")
    return (
        edges.agg(F.collect_list(F.struct(*edges.columns)).alias("e"))
        .select(e, F.array_sort(F.array_distinct(F.concat(
            F.transform(e, lambda x: x["src"]),
            F.transform(e, lambda x: x["dst"]),
        ))).alias("nodes"))
    )


def _rounds(n: int, init, step):
    """``step(state, _)`` applied ``n`` times to ``init``."""
    return F.aggregate(F.array_repeat(F.lit(0), n), init, step)


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

    Shape: :func:`edge_row`; per node its out-weight, summed once and
    divided into its out-edges (``t``, its own projection); then
    ``aggregate`` runs ``iters`` steps over a ``node -> rank`` map,
    each rebuilding the map from the in-edge sums, and the final map
    explodes back to rows.  ``src``/``dst`` must be non-null.
    """
    e, nodes, t = F.col("e"), F.col("nodes"), F.col("t")

    def out_edges(u):
        return F.filter(e, lambda x: x["src"] == u)

    g = edge_row(edges).select(
        nodes, F.flatten(F.transform(nodes, lambda u: F.aggregate(
            out_edges(u), F.lit(0.0), lambda s, x: s + x["w"],
            lambda ow: F.transform(out_edges(u), lambda x: F.struct(
                x["src"].alias("src"), x["dst"].alias("dst"),
                (x["w"] / ow).alias("wn"),
            )),
        ))).alias("t"))
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

    ranks = _rounds(iters, F.map_from_arrays(nodes, F.transform(nodes, start)),
                    step)
    return g.select(F.explode(ranks).alias("node", "rank"))


def hits(edges: DataFrame, iters: int) -> DataFrame:
    """HITS on (src, dst, w): authority(v) = Σ hub(src)·w over v's
    in-edges, hub(u) = Σ authority(dst)·w over u's out-edges, each
    L1-normalised per half-step from hubs of 1.  The state is
    ``struct(h, a)`` of ``node -> score`` maps.  Returns (node, hub,
    authority)."""
    e, nodes = F.col("e"), F.col("nodes")

    def half(score, end, other):
        raw = F.transform(nodes, lambda v: F.aggregate(
            F.filter(e, lambda x: x[end] == v), F.lit(0.0),
            lambda s, x: s + F.element_at(score, x[other]) * x["w"],
        ))
        return F.map_from_arrays(nodes, let(raw, lambda r: let(
            F.aggregate(r, F.lit(0.0), lambda s, x: s + x),
            lambda tot: F.transform(r, lambda x: x / tot),
        )))

    def step(st, _):
        return let(half(st["h"], "dst", "src"), lambda a: F.struct(
            half(a, "src", "dst").alias("h"), a.alias("a")))

    ones = F.map_from_arrays(nodes, F.transform(nodes, lambda _: F.lit(1.0)))
    final = _rounds(iters, F.struct(ones.alias("h"), ones.alias("a")), step)
    return edge_row(edges).select(F.inline(let(final, lambda st: F.transform(
        nodes, lambda v: F.struct(v.alias("node"),
                                  F.element_at(st["h"], v).alias("hub"),
                                  F.element_at(st["a"], v).alias("authority")),
    ))))


def kcore(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` k-core peels of an undirected edge list (src, dst),
    both orientations, distinct: each round counts every alive node's
    degree over the edges whose endpoints are both alive and keeps
    the nodes of degree >= k.  The state is ``struct(alive, deg)``.
    Returns (node, d): the last round's survivors and degrees."""
    e, nodes = F.col("e"), F.col("nodes")

    def step(st, _):
        alive = st["alive"]
        live = F.filter(e, lambda x: F.array_contains(alive, x["src"])
                        & F.array_contains(alive, x["dst"]))
        deg = let(live, lambda lv: F.transform(alive, lambda u: F.struct(
            u.alias("node"),
            F.size(F.filter(lv, lambda x: x["src"] == u)).alias("d"))))
        return let(deg, lambda d: F.struct(F.transform(
            F.filter(d, lambda x: x["d"] >= k), lambda x: x["node"]
        ).alias("alive"), d.alias("deg")))

    init = F.struct(nodes.alias("alive"), F.transform(
        nodes, lambda v: F.struct(v.alias("node"), F.lit(0).alias("d"))
    ).alias("deg"))
    return edge_row(edges).select(F.inline(F.filter(
        _rounds(rounds, init, step)["deg"], lambda x: x["d"] >= k)))


def apsp(edges: DataFrame, rounds: int) -> DataFrame:
    """Shortest paths of up to 2^rounds edges on (src, dst, w) with
    edge cost ln(Σw / w), by min-plus squaring.  The state is the n×n
    ``array<array<double>>`` over ``nodes``, null where no path is
    known; D'(i, j) = ``array_min`` over k of D(i, k) + D(k, j).
    Returns (src, dst, c) for every pair with a path."""
    e, nodes = F.col("e"), F.col("nodes")

    def costs(tot):
        return F.transform(nodes, lambda i: let(
            F.filter(e, lambda x: x["src"] == i),
            lambda out: F.transform(nodes, lambda j: F.least(
                F.array_min(F.transform(
                    F.filter(out, lambda x: x["dst"] == j),
                    lambda x: F.log(tot / x["w"]))),
                F.when(i == j, F.lit(0.0)),
            )),
        ))

    def square(d, _):
        return F.transform(d, lambda row: F.transform(
            row, lambda _, j: F.array_min(F.transform(
                row, lambda c, k: c + d[k][j]))))

    d0 = let(F.aggregate(e, F.lit(0.0), lambda s, x: s + x["w"]), costs)
    pairs = F.transform(_rounds(rounds, d0, square), lambda row, i: F.transform(
        row, lambda c, j: F.struct(
            nodes[i].alias("src"), nodes[j].alias("dst"), c.alias("c"))))
    return edge_row(edges).select(F.inline(F.filter(
        F.flatten(pairs), lambda x: x["c"].isNotNull())))


def bfs(edges: DataFrame, seed, depth: int) -> DataFrame:
    """Hop counts from ``seed`` over (src, dst), ``depth`` rounds
    deep.  The state is ``array<struct<node, hops>>`` from ``(seed,
    0)``; a round adds each reached node's out-neighbours at hops + 1
    and keeps every node's minimum.  Returns (node, hops)."""
    e = F.col("e")

    def step(dist, _):
        nxt = F.flatten(F.transform(dist, lambda d: F.transform(
            F.filter(e, lambda x: x["src"] == d["node"]),
            lambda x: F.struct(x["dst"].alias("node"),
                               (d["hops"] + 1).alias("hops")),
        )))
        return let(F.concat(dist, nxt), lambda r: F.transform(
            F.array_distinct(F.transform(r, lambda x: x["node"])),
            lambda v: F.array_min(F.filter(r, lambda x: x["node"] == v)),
        ))

    init = F.array(F.struct(F.lit(seed).alias("node"), F.lit(0).alias("hops")))
    return edge_row(edges).select(F.inline(_rounds(depth, init, step)))
