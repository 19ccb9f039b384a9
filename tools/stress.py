"""Memory-pressure certification: the heaviest plans must SPILL and
still match the oracle (VERDICT r5 item #3).

The 100 TB story elsewhere rests on plan *shape* (PLANS.md +
tests/test_plan_audit.py).  This harness pins the complementary
claim: when execution memory is scarce enough that Spark's
sort/aggregate/join operators must spill to disk — the steady state
of a 1000-executor job whose per-task slice of a 100 TB shuffle
never fits in memory — the same plans still produce oracle-exact
answers.  A plan that only works because the whole partition fits
in RAM would pass every sf0.1 test and fail its first real shuffle.

Mechanics
---------
- Fresh JVM with ``spark.driver.memory`` capped (heap must be set
  before launch, so this is a standalone script, not a pytest
  fixture on the shared session) and ``spark.memory.fraction``
  lowered, so the unified execution+storage region is ~tens of MB.
- Runs the most expensive headline queries (the dbscan / ALS /
  prefix-join / LSH-quality / leakage-split / WMH family called out
  by the verdict, plus the other wide-shuffle heavies) through the
  SAME oracle comparison as tools/parity.py.
- Reads per-stage ``memoryBytesSpilled`` / ``diskBytesSpilled`` from
  the live UI REST API and refuses to certify a run in which nothing
  spilled: green-without-spill is a vacuous pass, reported as such.

Usage:  python tools/stress.py [sf_dir]      (default sf0.1)
Env:    AXS_STRESS_DRIVER_MEM (default 2g)
        AXS_STRESS_MEM_FRACTION (default 0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from axolotls_spark.io.sources import TABLES, table_path  # noqa: E402
from tools import measure  # noqa: E402
from tools.parity import compare  # noqa: E402

# The verdict's six named heavies + the other top-tail headliners —
# every query here drives at least one wide exchange over a
# corpus-sized relation (see PLANS.md rows).
HEAVY = [
    "dbscan_core_clusters",
    "als_rank1_factors",
    "jaccard_prefix_join",
    "lsh_quality_report",
    "split_leakage_free",
    "wmh_near_dup_pairs",
    "minhash_near_dup_pairs",
    "bm25_search",
    "ann_ivf_topk",
    "winnow_shared_spans",
    "ppr_trade_similarity",
    "image_ahash_topk",
    "dedup_incremental_batch",
    "sparse_cosine_pairs",
    "semdedup_prune",
    "kmeans_clusters",
    # Round-6 third-session heavies: the per-byte windowed chunker
    # (widest new shuffle) and the two-hop graph joins.
    "content_defined_chunks",
    "link_prediction_copurchase",
    "learned_index_audit",
    # Round-7 (VERDICT r6 item #3): the top-of-judge-bench plans not
    # yet spill-certified — the 5-round submodular greedy, the x64
    # bootstrap explode, the xxhash MinHash + its recall gate, the
    # brute-force retrieval eval head, the wedge-closing triangle
    # ranking, the AMS sketch merge, and the two new composites.
    "greedy_max_coverage",
    "bca_bootstrap_ci",
    "minhash_xxhash_production",
    "retrieval_mrr_recall",
    "clustering_coefficient_nodes",
    "ams_f2_sketch_merge",
    "fd_discovery_audit",
    "vector_index_lifecycle",
    "daily_ingestion",
    # Round-8: the decoupled sampled recall cert (carries the exact
    # prefix-filter join now) and the multimodal lifecycle composite
    # (band self-join + two verify probes over survivor hashes).
    "minhash_xxhash_recall_cert",
    "multimodal_ingestion",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    driver_mem = os.environ.get("AXS_STRESS_DRIVER_MEM", "2g")
    mem_fraction = os.environ.get("AXS_STRESS_MEM_FRACTION", "0.1")

    # 16 slots, not 32: Spark guarantees each task only pool/(2*slots);
    # at fraction=0.1 of a 2g heap, 32 slots puts that floor below a
    # single 256 KiB page once broadcasts occupy protected storage, and
    # tasks die in UNABLE_TO_ACQUIRE_MEMORY before they can spill —
    # that certifies under-provisioning, not spill correctness.  16
    # slots keeps the per-task floor above the page size while the
    # force-spill threshold still drives every big sort/agg to disk.
    cores = os.environ.get("AXS_STRESS_CPUS", "16")
    spark = measure.session(
        "stress",
        cores,
        extra_conf={
            "spark.driver.memory": driver_mem,
            "spark.memory.fraction": mem_fraction,
            # Shrink in-memory sort/agg buffers so operators hit the
            # spill threshold at sf0.1 row counts, the way a 100 TB
            # task does at production row counts.
            "spark.shuffle.spill.numElementsForceSpillThreshold": "50000",
            "spark.sql.ui.retainedExecutions": "200",
            "spark.ui.retainedStages": "2000",
        },
    )
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    print(
        f"stress session: cores={cores}, driver_mem={driver_mem} "
        f"(heap {heap >> 20} MiB), memory.fraction={mem_fraction}, sf_dir={sf_dir}"
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    failures, timings = [], {}
    for name in HEAVY:
        t0 = time.perf_counter()
        try:
            ok, msg = compare(name, spark, con, sf_dir)
        except Exception as e:  # noqa: BLE001 - record, keep certifying
            ok, msg = False, f"EXCEPTION: {type(e).__name__}: {e}"
        timings[name] = round(time.perf_counter() - t0, 2)
        print(f"[{'PASS' if ok else 'FAIL'}] {name}: {msg} "
              f"({timings[name]}s)")
        if not ok:
            failures.append(name)
        measure.release(spark)

    try:
        stages = measure.scrape(spark)
    except (OSError, ValueError) as e:  # pragma: no cover - UI off / port race
        print(f"  [warn] spill metrics unavailable: {e}", file=sys.stderr)
        stages = []
    mem_spill = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk_spill = sum(s.get("diskBytesSpilled", 0) for s in stages)
    print(
        f"\nspill: memoryBytesSpilled={mem_spill >> 20} MiB, "
        f"diskBytesSpilled={disk_spill >> 20} MiB "
        f"across all stages"
    )
    print(f"total wall: {round(sum(timings.values()), 1)}s")

    if failures:
        print(f"FAILED under memory pressure: {failures}")
        return 1
    if mem_spill == 0 and disk_spill == 0:
        print(
            "VACUOUS: no stage spilled — lower AXS_STRESS_MEM_FRACTION / "
            "AXS_STRESS_DRIVER_MEM; a no-spill green run certifies nothing."
        )
        return 2
    print(f"CERTIFIED: {len(HEAVY)} heavy plans oracle-exact under spill.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
