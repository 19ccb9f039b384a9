"""Generate PLANS.md — plan-shape digest of the bench headline set.

For every headline query: shuffle exchanges, broadcast exchanges,
join strategies, whole-stage-codegen stages, and per-scan pushed
filters / read-schema width, parsed from ``explain("formatted")`` by
axolotls_spark.plans.audit. The point is reviewability: the scale
claims in SCALE.md become one table a reader can re-generate.

Usage: python tools/plan_report.py [sf_dir]  (writes PLANS.md)

The session runs on ``local[$SPARK_GRAFT_CPUS]`` (``measure.session``),
and the core count goes into the header: ``io.sources.spread_for_cpu``
picks partition counts by core count, so plans differ between boxes.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from axolotls_spark.plans.audit import (  # noqa: E402
    audit,
    capture_loop_plans,
    facts_from_text,
)
from axolotls_spark.queries import REGISTRY  # noqa: E402
from bench import HEADLINE  # noqa: E402
from tools import measure  # noqa: E402


def _n_filters(pushed: str) -> int:
    """Top-level entries of a scan's PushedFilters list; a filter's own
    arguments hold commas too (``GreaterThanOrEqual(vec_id,0)``,
    ``In(x, [1,2])``)."""
    depth, n = 0, 1
    for ch in pushed:
        depth += (ch in "([") - (ch in ")]")
        n += ch == "," and depth == 0
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = measure.session("plan-report")

    lines = [
        "# PLANS — physical-plan digest of the bench headline set",
        "",
        f"Generated by `python tools/plan_report.py {sf_dir}` on",
        f"`local[{measure.cores()}]` from",
        '`explain("formatted")` (initial plan, AQE markers included).',
        "Columns: shuffle exchanges / broadcast exchanges / broadcast",
        "hash joins / sort-merge joins / scans (pushed-filter count and",
        "read-schema width per parquet scan; · = the scan pushes no",
        "filter; — = scan facts not emitted for this plan shape). Main",
        "numbers describe the FINAL plan;",
        "`+NL(kr)` = N more of that fact inside k captured convergence-",
        "loop rounds, whose localCheckpoints hide them from the final",
        "plan (plans/audit.capture_loop_plans).",
        "",
        "| query | exch | bcast | BHJ | SMJ | scans: pushed / cols |",
        "|---|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        if name not in REGISTRY:
            continue
        # Capture per-round plans from convergence loops: their
        # localCheckpoints truncate lineage, so the final plan alone
        # under-reports (round-2 blind spot — split_leakage_free
        # showed "0 exch / 1 scan" while running the whole LSH+CC
        # pipeline inside its loop).
        with capture_loop_plans() as cap:
            f = audit(REGISTRY[name].fn(spark, sf_dir))
        # Loop-round totals stay in their OWN "+NL(kr)" annotations,
        # symmetric across every column: the main numbers always
        # describe exactly the final (post-checkpoint) plan, and the
        # annotation carries the per-round work that plan no longer
        # shows — never silently folded into the main columns, which
        # would make them incomparable with non-loop rows.
        loop = None
        if cap:
            lf = [facts_from_text(t) for _, t in cap]
            loop = {
                "exch": sum(x.n_exchanges for x in lf),
                "bcast": sum(x.n_broadcast_exchanges for x in lf),
                "bhj": sum(x.n_broadcast_hash_joins for x in lf),
                "smj": sum(x.n_sort_merge_joins for x in lf),
                "scans": sum(len(x.read_schemas) for x in lf),
                "rounds": len(cap),
            }

        def col(base: int, key: str) -> str:
            if loop is None or loop[key] == 0:
                return str(base)
            return f"{base} +{loop[key]}L({loop['rounds']}r)"

        scans = []
        for pf, rs in zip(f.pushed_filters, f.read_schemas):
            n_push = _n_filters(pf) if pf else "·"
            scans.append(f"{n_push}/{rs.count(':')}")
        scan_cell = ", ".join(scans) or "—"
        if loop is not None and loop["scans"]:
            scan_cell += f" +{loop['scans']}L({loop['rounds']}r)"
        lines.append(
            f"| {name} | {col(f.n_exchanges, 'exch')} |"
            f" {col(f.n_broadcast_exchanges, 'bcast')} |"
            f" {col(f.n_broadcast_hash_joins, 'bhj')} |"
            f" {col(f.n_sort_merge_joins, 'smj')} |"
            f" {scan_cell} |"
        )
    lines += [
        "",
        "Notes: `pushed/cols` is per parquet scan — a `0/16` fact scan",
        "would mean lost pushdown or pruning (the plan audits in",
        "`tests/test_plan_audit.py` fail CI before it gets this far).",
        "Iterative queries (k-means, PageRank) legitimately show more",
        "exchanges: one per unrolled broadcast iteration over tiny",
        "relations, never over the corpus.",
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(lines)} lines)")


if __name__ == "__main__":
    main()
