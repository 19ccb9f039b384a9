"""Measured scaling decade (VERDICT r6 item #2): run the heaviest
headliners at sf0.01 / sf0.1 / sf1 (sf1 synthesized locally by
tools/synth_scale.py) and record the per-decade wall-time ratios, so
the 100 TB linearity claims are measured, not asserted.

A ratio near 10 per decade = linear in corpus size; near 1 = bounded
(calendar/domain-bounded relations); near 100 = quadratic.  The two
brute-force retrieval-eval heads are EXPECTED quadratic (queries x
corpus is the honest ground-truth cost; the ANN probe is the scale
path) — they are measured over sf0.01 -> sf0.1 only and marked
``quadratic-by-design`` instead of burning minutes at sf1 confirming
arithmetic.

Timing runs through tools/measure.py, the loop bench.py uses.

Usage: python tools/scaling.py [out_json]   (default SCALING.json)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402

SFS = [
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
    ("1", "/root/repo/.scale/sf1"),
    ("10", "/root/repo/.scale/sf10"),
]

#: (query, max_sf) — max_sf caps where the query is measured.
#: "1" = full decade sweep; "0.1" = the quadratic-by-design eval
#: heads (ground-truth cost is queries x corpus; measured over one
#: decade, which already spans 100x work).
SCALE_SET = [
    ("q1_pricing_summary", "10"),
    ("q3_shipping_priority", "10"),
    ("q9_product_profit", "10"),
    ("link_prediction_copurchase", "10"),
    ("clustering_coefficient_nodes", "10"),
    ("bca_bootstrap_ci", "10"),
    ("greedy_max_coverage", "10"),
    ("minhash_xxhash_production", "10"),
    ("minhash_xxhash_recall_cert", "10"),
    ("minhash_near_dup_pairs", "10"),
    ("wmh_near_dup_pairs", "10"),
    ("er_best_match", "10"),
    # The capped-hot-block variant is the scale path: the synthetic
    # decade corpus replicates customer NAMES verbatim per replica,
    # so uncapped blocks grow with the corpus and pair generation
    # goes quadratic (the measured er_best_match sf10 slope) — the
    # exact hazard the cap bounds.
    ("er_best_match_capped", "10"),
    ("multimodal_ingestion", "10"),
    ("dbscan_core_clusters", "10"),
    ("als_rank1_factors", "10"),
    ("ams_f2_sketch_merge", "10"),
    ("fd_discovery_audit", "10"),
    ("ktruss_trade_edges", "10"),
    ("content_defined_chunks", "10"),
    ("compaction_bin_packing", "10"),
    ("daily_ingestion", "10"),
    ("observed_ingestion_metrics", "10"),
    ("bm25_search", "10"),
    ("ann_ivf_topk", "10"),
    ("sessionize_events_batch", "10"),
    ("retrieval_mrr_recall", "0.1"),
    ("vector_index_lifecycle", "0.1"),
]


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "SCALING.json"
    only_sf = os.environ.get("AXS_SCALE_ONLY_SF")  # e.g. "10": run one
    # leg and merge into an existing out file (incremental decades)
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    spark = measure.session("scaling")

    results: dict[str, dict[str, float]] = {}
    if only_sf and os.path.exists(out):
        with open(out) as f:
            results = json.load(f).get("results", {})
    skip_present = os.environ.get("AXS_SCALE_SKIP_PRESENT")
    for sf, sf_dir in SFS:
        if only_sf and sf != only_sf:
            continue
        if not os.path.exists(f"{sf_dir}/lineitem.parquet"):
            print(f"skip sf{sf}: {sf_dir} missing", file=sys.stderr)
            continue
        names = [
            name for name, max_sf in SCALE_SET
            if float(sf) <= float(max_sf)
            and not (skip_present and sf in results.get(name, {}))
        ]
        timed = measure.time_queries(spark, names, sf_dir, repeats)
        for name, t in timed.items():
            results.setdefault(name, {})[sf] = round(t, 3)

    with open(out, "w") as f:
        json.dump({"cpus": measure.cores(), "repeats": repeats,
                   "results": results}, f, indent=1, sort_keys=True)

    # Markdown table on stdout for SCALE.md.
    print("| query | sf0.01 | sf0.1 | sf1 | sf10 "
          "| x/dec1 | x/dec2 | x/dec3 |")
    print("|---|---|---|---|---|---|---|---|")
    for name, _ in SCALE_SET:
        r = results.get(name, {})
        a, b, c, d = r.get("0.01"), r.get("0.1"), r.get("1"), r.get("10")
        d1 = f"{b / a:.1f}x" if a and b else "-"
        d2 = f"{c / b:.1f}x" if b and c else "-"
        d3 = f"{d / c:.1f}x" if c and d else "-"
        print(f"| {name} | {a or '-'} | {b or '-'} | {c or '-'} "
              f"| {d or '-'} | {d1} | {d2} | {d3} |")


if __name__ == "__main__":
    main()
