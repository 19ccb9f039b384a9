"""``operators/graph``: PageRank against a numpy power iteration,
HITS, k-core, APSP and BFS against small Python references.

The hand-built graph has a node with no out-edges (``e``: its rank
mass leaks) and a node with no in-edges (``d``: it keeps only the
restart term), so both boundary cases of the step are exercised, in
global and in seeded (personalized) mode."""

from __future__ import annotations

import re

import numpy as np
import pytest

from axolotls_spark.operators.graph import (
    DAMPING, ITERS, apsp, bfs, hits, kcore, pagerank,
)
from axolotls_spark.plans import audit

EDGES = [
    ("a", "b", 1.0), ("a", "c", 2.0), ("b", "c", 1.0), ("b", "a", 0.5),
    ("c", "a", 3.0), ("c", "e", 1.0), ("d", "c", 1.0),
]
SCHEMA = "src string, dst string, w double"


def _numpy_pagerank(edges, seed, damping, iters):
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    ix = {v: i for i, v in enumerate(nodes)}
    w = np.zeros((len(nodes), len(nodes)))
    for s, t, x in edges:
        w[ix[s], ix[t]] += x
    ow = w.sum(axis=1, keepdims=True)
    p = np.divide(w, ow, out=np.zeros_like(w), where=ow > 0)
    if seed is None:
        restart = np.full(len(nodes), 1.0 / len(nodes))
    else:
        restart = np.array([float(v == seed) for v in nodes])
    r = restart.copy()
    for _ in range(iters):
        r = (1.0 - damping) * restart + damping * (p.T @ r)
    return dict(zip(nodes, r))


@pytest.mark.parametrize(
    "seed,damping,iters",
    [(None, DAMPING, ITERS), ("a", DAMPING, ITERS), (None, 0.5, 3),
     ("d", DAMPING, 0)],
)
def test_pagerank_matches_numpy(spark, seed, damping, iters):
    got = pagerank(spark.createDataFrame(EDGES, SCHEMA), seed,
                   damping=damping, iters=iters).collect()
    want = _numpy_pagerank(EDGES, seed, damping, iters)
    assert {r.node: r.rank for r in got} == pytest.approx(want, rel=1e-12)
    assert len(got) == len(want)


def test_pagerank_of_no_edges_is_empty(spark):
    edges = spark.createDataFrame([], SCHEMA)
    assert pagerank(edges).collect() == []
    assert pagerank(edges, "a").collect() == []


def test_pagerank_iterates_over_bound_columns(spark):
    """The node array and the normalized edge array are computed once,
    below the explode: an expression the optimizer inlined into the
    iteration's lambda would be recomputed per node and per step."""
    text = audit(pagerank(spark.createDataFrame(EDGES, SCHEMA))).text
    (gen,) = re.findall(r"^\(\d+\) Generate\n(.*?)(?=^\(\d+\) |\Z)", text,
                        re.M | re.S)
    assert "aggregate(" in gen
    for inlined in ("collect_list", "array_sort", "flatten("):
        assert inlined not in gen


def _ref_hits(edges, iters):
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})

    def half(score, end, other):
        raw = {v: sum(score[e[other]] * e[2] for e in edges if e[end] == v)
               for v in nodes}
        tot = sum(raw.values())
        return {v: x / tot for v, x in raw.items()}

    h, a = dict.fromkeys(nodes, 1.0), {}
    for _ in range(iters):
        a = half(h, 1, 0)
        h = half(a, 0, 1)
    return {v: (h[v], a[v]) for v in nodes}


def test_hits_matches_reference(spark):
    got = hits(spark.createDataFrame(EDGES, SCHEMA), 3).collect()
    want = _ref_hits(EDGES, 3)
    assert {r.node: (r.hub, r.authority) for r in got} == pytest.approx(
        want, rel=1e-12)
    assert len(got) == len(want)


def test_kcore_peels_below_k(spark):
    """A 4-clique with a pendant ``e`` and a path ``f - g``: one peel
    at k=3 drops e, f and g; the clique keeps degree 3."""
    und = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
           ("c", "d"), ("a", "e"), ("f", "g")]
    both = und + [(v, u) for u, v in und]
    df = spark.createDataFrame(both, "src string, dst string")
    got = {r.node: r.d for r in kcore(df, 3, 2).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    # One round counts e's edge to a while e is still alive.
    got = {r.node: r.d for r in kcore(df, 1, 1).collect()}
    assert got == {"a": 4, "b": 3, "c": 3, "d": 3, "e": 1, "f": 1, "g": 1}


def test_apsp_matches_reference(spark):
    nodes = sorted({s for s, _, _ in EDGES} | {t for _, t, _ in EDGES})
    tot = sum(w for _, _, w in EDGES)
    inf = float("inf")
    d = {(i, j): 0.0 if i == j else inf for i in nodes for j in nodes}
    for s, t, w in EDGES:
        d[s, t] = min(d[s, t], np.log(tot / w))
    for _ in range(3):
        d = {(i, j): min(d[i, k] + d[k, j] for k in nodes)
             for i in nodes for j in nodes}
    want = {p: c for p, c in d.items() if c < inf}
    got = apsp(spark.createDataFrame(EDGES, SCHEMA), 3).collect()
    assert {(r.src, r.dst): r.c for r in got} == pytest.approx(
        want, rel=1e-12)
    assert len(got) == len(want)


def test_bfs_hops_within_depth(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 2), (6, 0)],
        "src int, dst int")
    got = {r.node: r.hops for r in bfs(edges, 0, 3).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    assert [tuple(r) for r in bfs(edges, 5, 3).collect()] == [(5, 0)]


def test_graph_operators_of_no_edges_are_empty(spark):
    edges = spark.createDataFrame([], SCHEMA)
    assert hits(edges, 3).collect() == []
    assert apsp(edges, 3).collect() == []
    pairs = edges.select("src", "dst")
    assert kcore(pairs, 3, 2).collect() == []
    assert [tuple(r) for r in bfs(pairs, "a", 3).collect()] == [("a", 0)]
