"""Pin the one materialization rule (``axolotls_spark.cacheutil``).

A relation with several consumers is materialized by
``cacheutil.materialize``, which ``release_caches()`` frees.  A bare
``x.count()`` statement anywhere else is the persist/count idiom that
``materialize`` replaces, and an eager ``localCheckpoint`` outside a
convergence round leaves blocks that ``release_caches()`` does not
free.  These JVM-free AST checks keep both from coming back."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "axolotls_spark"


#: The functions that checkpoint once per round of a convergence loop,
#: with their number of ``localCheckpoint`` calls.  A new entry needs a
#: loop whose lineage would otherwise grow with every round.
ROUND_CHECKPOINTS = {
    ("operators/dedup.py", "connected_dedup_groups"): 1,
    ("operators/dedup.py", "connected_components_star"): 1,
    ("queries_analytics.py", "best_split"): 1,
    ("queries_analytics.py", "ktruss_trade_edges"): 1,
    ("queries_curation.py", "greedy_max_coverage"): 1,
    ("queries_similarity.py", "mmr_diverse_topk"): 2,
    ("queries_text.py", "raking_ipf_weights"): 1,
}


def _calls(path: pathlib.Path, attr: str) -> list[tuple[str, ast.Call]]:
    """(enclosing function, call) for every ``x.<attr>(...)`` call."""
    out = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call) and isinstance(
                child.func, ast.Attribute
            ) and child.func.attr == attr:
                out.append((fn, child))
            visit(child, child.name if isinstance(
                child, ast.FunctionDef) else fn)

    visit(ast.parse(path.read_text(), str(path)), "<module>")
    return out


def _count_statements(path: pathlib.Path) -> list[int]:
    """Line numbers of the ``x.count()`` expression statements in
    ``path``: a count whose value is thrown away."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Call)
        and isinstance(node.value.func, ast.Attribute)
        and node.value.func.attr == "count"
    ]


def test_count_statements_only_in_cacheutil():
    found = {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "cacheutil.py" and (lines := _count_statements(p))
    }
    assert not found, found


def test_local_checkpoints_only_in_convergence_rounds():
    found: dict[tuple[str, str], int] = {}
    for p in sorted(PKG.rglob("*.py")):
        for fn, _ in _calls(p, "localCheckpoint"):
            key = (str(p.relative_to(PKG)), fn)
            found[key] = found.get(key, 0) + 1
    assert found == ROUND_CHECKPOINTS


def test_no_unpersist_in_queries():
    found = {
        p.name: [c.lineno for _, c in calls]
        for p in sorted(PKG.glob("queries_*.py"))
        if (calls := _calls(p, "unpersist"))
    }
    assert not found, found
