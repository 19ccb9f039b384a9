"""Hash-backend microbench: md5-prefix (engine-independent, the
oracle-replayable default) vs native xxhash64 (the production path,
`minhash_xxhash_production`) on the IDENTICAL MinHash plan shape —
one shingle explode, k parallel MIN aggregates, map-side combined.

Quantifies the documented seam in SCALE.md ("a production deployment
that didn't need cross-engine exactness would swap xxhash64 into the
same plan shape"): the md5 path pays a string digest + hex conv per
shingle per row; xxhash64 is a register-only 64-bit mix inside
whole-stage codegen.

Usage: python tools/hashbench.py [sf_dir] [k]
Prints one JSON line with min-of-3 wall seconds per backend.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from axolotls_spark.io.sources import load_table, spread_for_cpu
from axolotls_spark.operators import dedup as D
from axolotls_spark.session import get_spark


def _sig_md5(docs, k: int):
    return D.minhash_wide(D.doc_shingle_hashes(docs), k)


def _sig_xxhash(docs, k: int):
    # Identical plan shape to _sig_md5 with only the digest swapped:
    # one xxhash64 per raw shingle, then the same frozen affine perms.
    return D.minhash_wide(
        D.doc_shingles(docs).select(
            "doc_id",
            F.pmod(F.xxhash64(F.col("shingle")), F.lit(D.MERSENNE_P)).alias("sh"),
        ),
        k,
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    spark = get_spark("hashbench")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    docs.write.format("noop").mode("overwrite").save()  # warm footers

    out: dict[str, float] = {}
    for name, builder in (("md5_prefix", _sig_md5), ("xxhash64", _sig_xxhash)):
        times = []
        for _ in range(3):
            t0 = time.monotonic()
            builder(docs, k).write.format("noop").mode("overwrite").save()
            times.append(time.monotonic() - t0)
        out[name] = round(min(times), 3)
    out["speedup"] = round(out["md5_prefix"] / out["xxhash64"], 2)
    print(json.dumps({"metric": "minhash_sig_build_sec", "k": k,
                      "sf_dir": sf_dir, **out}))


if __name__ == "__main__":
    main()
