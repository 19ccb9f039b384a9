"""Physical-plan audit — make scale properties assertable.

The engine's 100 TB contract is a set of *plan* facts, not code
style: filters reach the parquet scan (PushedFilters), scans read
only needed columns (ReadSchema), small dimensions broadcast
(BroadcastHashJoin, no shuffle of the fact side), shuffle count is
what the algorithm needs and no more, and hot expressions stay
inside WholeStageCodegen. This module parses ``explain`` output into
facts so tests can pin them — a plan regression (lost pushdown, a
join silently degrading to sort-merge-with-shuffle) fails CI instead
of surfacing as a 10× slowdown at the next scale factor.

Note AQE: with adaptive execution the final physical plan is only
known at runtime; ``explain`` shows the initial plan (+ AQE markers).
Facts asserted here are properties of the initial plan, which is the
right target for pushdown/pruning/broadcast-threshold checks.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


# ---------------------------------------------------------------------------
# Loop-plan capture.  Convergence loops (connected components, label
# propagation) end every round in an eager ``localCheckpoint`` that
# TRUNCATES lineage — auditing only the returned DataFrame therefore
# reports "0 exchanges / 1 scan" for the most expensive queries in
# the repo (PLANS.md round-2 blind spot).  Loop bodies call
# ``record_loop_plan(label, df)`` on the still-lazy per-round plan
# just before checkpointing; when capture is enabled (plan tooling
# and tests only) the formatted explain is stashed, otherwise the
# call is a no-op boolean check on the hot path.
# ---------------------------------------------------------------------------
_capture_buf: list | None = None


def record_loop_plan(label: str, df: DataFrame) -> None:
    if _capture_buf is not None:
        _capture_buf.append((label, explain_formatted(df)))


class capture_loop_plans:
    """Context manager: collect (label, formatted-explain) pairs from
    every ``record_loop_plan`` call made while active."""

    def __enter__(self) -> list:
        global _capture_buf
        _capture_buf = []
        return _capture_buf

    def __exit__(self, *exc) -> None:
        global _capture_buf
        _capture_buf = None


def facts_from_text(text: str) -> "PlanFacts":
    """PlanFacts parsed from already-captured formatted explain."""
    return _parse_facts(text)


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def single_partition_windows(text: str) -> tuple[str, ...]:
    """Node ids of ``Window`` operators fed (through Sorts) by an
    ``Exchange SinglePartition`` — the global-window funnel that moves
    the WHOLE input relation through one task.

    This is the plan-level signature of an unpartitioned
    ``Window.orderBy`` over an unbounded relation: Spark inserts
    ``Exchange SinglePartition, ENSURE_REQUIREMENTS`` + ``Sort`` below
    it. The two acceptable global-rank shapes do NOT match: a window
    above ``orderBy(...).limit(k)`` sits on ``TakeOrderedAndProject``
    (already single-partition, no exchange), and a partitioned window's
    exchange is ``hashpartitioning``. Queries that deliberately rank a
    small aggregate-bounded relation (a 7-day spine, per-month totals)
    still match and must be allowlisted with a justification — that is
    the point: every new global window gets reviewed.
    """
    tree: list[tuple[int, str, str]] = []
    for line in text.splitlines():
        m = re.match(r"^([ :+\-*]*)([A-Za-z]\w*) \((\d+)\)\s*$", line)
        if m:
            tree.append((len(m.group(1)), m.group(2), m.group(3)))
    details: dict[str, str] = {}
    for m in re.finditer(
        r"^\((\d+)\) (\w+)[^\n]*\n(.*?)(?=^\(\d+\) |\Z)", text, re.M | re.S
    ):
        details[m.group(1)] = m.group(3)
    hits: list[str] = []
    for i, (ind, name, nid) in enumerate(tree):
        if name not in ("Window", "WindowGroupLimit"):
            continue
        # operators/prefix.ranked_cumsum's offsets window runs over the
        # per-range-partition aggregate (<= n_parts rows by
        # construction) — the one single-partition window the
        # distributed prefix sum is DESIGNED around. Its partition-id
        # marker column makes it recognizable in the plan.
        if "__rcs_part" in details.get(nid, ""):
            continue
        depth, j = ind, i + 1
        while j < len(tree):
            cind, cname, cid = tree[j]
            if cind <= depth:
                break
            if cname in ("Sort", "WindowGroupLimit", "Project"):
                depth, j = cind, j + 1
                continue
            if cname == "Exchange" and "SinglePartition" in details.get(
                cid, ""
            ):
                hits.append(nid)
            break
    return tuple(hits)


@dataclass(frozen=True)
class PlanFacts:
    text: str
    n_exchanges: int          # shuffle boundaries (excl. broadcast)
    n_broadcast_exchanges: int
    n_broadcast_hash_joins: int
    n_sort_merge_joins: int
    n_codegen_stages: int
    pushed_filters: tuple[str, ...]   # one entry per scan
    read_schemas: tuple[str, ...]     # one entry per scan

    @property
    def n_single_partition_windows(self) -> int:
        return len(single_partition_windows(self.text))

    def scans_reading_all_columns(self, full_schema_cols: int) -> int:
        """Scans whose ReadSchema has >= full_schema_cols fields —
        i.e. column pruning did nothing."""
        return sum(
            1 for s in self.read_schemas if s.count(":") >= full_schema_cols
        )


def audit(df: DataFrame, execute: bool = False) -> PlanFacts:
    """Parse plan facts from formatted explain output.

    With AQE on, the pre-execution plan is the *initial* one —
    shuffle/broadcast/pushdown facts are all visible there. Pass
    ``execute=True`` to run the plan (noop sink) first so the
    explain reflects AQE's final plan (including whole-stage codegen
    ids, which only materialize on the executed plan).
    """
    if execute:
        # Must be an action on THIS DataFrame's query execution — a
        # write sink builds a separate QE and the original plan would
        # stay isFinalPlan=false. collect() is audit-only (small SF).
        df.collect()
    return _parse_facts(explain_formatted(df))


def _parse_facts(text: str) -> PlanFacts:
    # Formatted mode lists one "(n) NodeName" detail block per node.
    def count(node_re: str) -> int:
        return len(re.findall(rf"\(\d+\) {node_re}", text))

    # (pushed filters, read schema) per scan, from its own detail block;
    # a scan that pushes no filter has no PushedFilters line: "".
    scans = [
        (pf.group(1).strip() if pf else "", rs.group(1).strip())
        for block in re.split(r"^(?=\(\d+\) )", text, flags=re.M)
        if (rs := re.search(r"ReadSchema: struct<(.*?)>", block, re.S))
        for pf in [re.search(r"PushedFilters: \[(.*?)\]", block)]
    ]
    return PlanFacts(
        text=text,
        n_exchanges=count("Exchange\\b"),
        n_broadcast_exchanges=count("BroadcastExchange"),
        n_broadcast_hash_joins=count("Broadcast(?:Hash|NestedLoop)Join"),
        n_sort_merge_joins=count("SortMergeJoin"),
        n_codegen_stages=len(set(re.findall(r"codegen id : (\d+)", text))),
        pushed_filters=tuple(pf for pf, _ in scans),
        read_schemas=tuple(rs for _, rs in scans),
    )
