"""``operators/graph.pagerank`` against a numpy power iteration.

The hand-built graph has a node with no out-edges (``e``: its rank
mass leaks) and a node with no in-edges (``d``: it keeps only the
restart term), so both boundary cases of the step are exercised, in
global and in seeded (personalized) mode."""

from __future__ import annotations

import re

import numpy as np
import pytest

from axolotls_spark.operators.graph import DAMPING, ITERS, pagerank
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
