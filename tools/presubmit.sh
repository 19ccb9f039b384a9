#!/usr/bin/env bash
# Pre-submit certification — the exact driver configuration, locally.
#
# Run from the repo root with NOTHING else on the machine (each leg is
# CPU-saturating; two concurrent Spark workloads time each other
# out).  Legs, in order:
#
#   1. Frozen-core perf budgets (tools/perfgate.py) — first, while
#      the box is idle (see the note above leg 1 below).
#   2. The Tier-1 suite exactly as ROADMAP.md's verify command runs it
#      (sf0.001 parametrized parity + unit/plan gates, 2670 s timeout).
#   3. The sf0.01 leg for the four families that sampled parity
#      runs have historically never drawn (string fns, array/map,
#      similarity search, UDF surface) — parity is gated at sf0.01,
#      so that configuration is what gets certified here.
#   4. Full-registry oracle parity at sf0.01 (the gating SF).
#   5. Full-registry oracle parity at sf0.1 (the bench SF).
#
# Any leg failing aborts.
set -euo pipefail
cd "$(dirname "$0")/.."

NEVER_DRAWN_K="string_functions_part or string_format_closure \
 or array_functions_embeddings or map_functions_lineitem \
 or map_higher_order_functions or cosine_topk or ann_lsh_topk \
 or ann_ivf_topk or image_ahash_topk or udf_pandas_logit \
 or udf_map_in_arrow or udtf_bigrams or udaf_weighted_avg"

# Perf gate runs FIRST: this VM runs on burst CPU credits — the gate
# must see the idle-box state, not the throttled tail of 40 minutes
# of parity sweeps (observed r7: a green gate re-run at the tail of
# the sweeps breached 1.3x purely from credit exhaustion).
echo "== leg 1/5: frozen-core perf budgets (idle box required)"
python tools/perfgate.py

echo "== leg 2/5: Tier-1 suite (sf0.001)"
(
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
)

echo "== leg 3/5: never-driver-drawn families at the driver SF (sf0.01)"
AXS_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest \
    tests/test_oracle_parity.py -q -k "$NEVER_DRAWN_K"

echo "== leg 4/5: full-registry parity at sf0.01"
python tools/parity.py /root/testdata/sf0.01 --json PARITY_sf0.01.json

echo "== leg 5/5: full-registry parity at sf0.1"
python tools/parity.py /root/testdata/sf0.1 --json PARITY_sf0.1.json

echo "PRESUBMIT GREEN"
