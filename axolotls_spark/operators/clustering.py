"""Relational k-means (Lloyd's algorithm) over embedding vectors.

Semantic clustering is a curation primitive for LLM data pipelines
(cluster-then-sample, semantic dedup, topic balancing). The reference
has no clustering (SURVEY §2A — its only ops are element-wise torch
kernels); this is a §2B extension designed scale-first:

- The state is k·dim centroid values, a size the query fixes, so the
  centroids live in ONE row (``c: array<struct<cid, v>>``, sorted by
  cid) that is broadcast every iteration.  The nearest centroid of a
  vector is a per-row array expression against that row — a map step
  with no exchange, no Python and no corpus-sized intermediate.
- The only exchanges per iteration are the (cid, pos) re-average,
  partially aggregated map-side, and the fold of its k·dim rows back
  into the one-row form.
- Iterations are unrolled into one lazy plan (fixed, small count) —
  deterministic init (first k vec_ids) makes the whole run
  reproducible and oracle-checkable by unrolling the same algebra
  in SQL.

Product quantization (below) keeps the long (vec_id, pos, val) form:
its codebooks are trained per subspace on the exploded corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.cacheutil import materialize
from axolotls_spark.functions.arrays import sq_dist


def explode_long(emb: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, array<float>) → (id, pos, val double), pos is 1-based to
    match SQL generate_subscripts."""
    return emb.select(
        id_col,
        (F.posexplode(vec_col)).alias("pos0", "val_f"),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        F.col("val_f").cast("double").alias("val"),
    )


def centroid_row(cents: DataFrame) -> DataFrame:
    """(cid, pos, cval) → one row ``c: array<struct<cid, v>>``, sorted
    by cid, ``v`` the centroid in pos order."""
    s = F.col("s")
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "pos", "cval"))).alias("s")
    ).select(F.transform(
        F.array_distinct(F.transform(s, lambda x: x["cid"])),
        lambda cid: F.struct(cid.alias("cid"), F.transform(
            F.filter(s, lambda x: x["cid"] == cid), lambda x: x["cval"]
        ).alias("v")),
    ).alias("c"))


def kmeans(emb: DataFrame, k: int, iters: int) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` >= 1 Lloyd iterations with deterministic init (the
    vectors with vec_id < k seed centroids cid = vec_id). Returns
    (assignment, centroids) as lazy DataFrames: (vec_id, cid, d2), d2
    the squared distance to the WINNING centroid of the last round
    (pre-update, what inertia sums), and (cid, pos, cval) re-averaged
    from that assignment.

    Each round crosses the vectors with the broadcast centroid row and
    keeps ``array_min`` of (d2, cid) structs, so ties go to the lowest
    cid; a centroid that captures no member drops out.  A vector whose
    embedding is null or empty is not clustered.
    """
    vecs = emb.where(F.size("embedding") > 0).select("vec_id", "embedding")
    row = vecs.where(F.col("vec_id") < k).agg(F.array_sort(F.collect_list(
        F.struct(F.col("vec_id").alias("cid"),
                 F.col("embedding").cast("array<double>").alias("v"))
    )).alias("c")).where(F.size("c") > 0)  # no seed: nothing is assigned
    for _ in range(iters):
        best = F.array_min(F.transform("c", lambda x: F.struct(
            sq_dist(F.col("embedding"), x["v"]).alias("d2"),
            x["cid"].alias("cid"),
        )))
        # inline() makes the argmin a Generate: the isnotnull(cid) a
        # caller's join infers stops above it, where a projection
        # would let it into the join condition and run the argmin
        # twice per vector.
        assign = vecs.crossJoin(F.broadcast(row)).select(
            "vec_id", "embedding", F.inline(F.array(best))
        )
        cents = (
            assign.select("cid", F.posexplode("embedding").alias("pos0", "val"))
            .groupBy("cid", (F.col("pos0") + 1).alias("pos"))
            .agg(F.avg("val").alias("cval"))
        )
        row = centroid_row(cents)
    return assign.select("vec_id", "cid", "d2"), cents


# ---------------------------------------------------------------------------
# Product quantization — per-subspace k-means, the ANN compression
# primitive (Jégou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI'11): split each vector into m contiguous subvectors,
# learn a tiny codebook per subspace, store each vector as m small
# codes. At 100 TB this turns a 64-float embedding into m bytes while
# keeping distance computation ADC-table-driven.
# ---------------------------------------------------------------------------


def pq_train(
    emb: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 1,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Train product-quantization codebooks and encode the corpus.

    Returns (codes, codebook): codes = (vec_id, sub, cid, d2) —
    per-subspace nearest-codebook assignment after ``iters`` Lloyd
    refinements of a deterministic init (the first k vectors'
    subvectors seed each subspace's codebook); codebook =
    (cid, sub, pos, cval), the k·dim-row relation ADC distance
    tables are built from.

    Same scale posture as ``kmeans``: vectors stay in long form, the
    m·k·(dim/m) = k·dim codebook rows broadcast into the distance
    join (pos determines the subspace, so joining on pos alone
    already scopes every centroid row to its own subspace), and the
    only wide exchanges are the per-(vec, sub) argmin and the
    codebook re-average. The corpus is exploded ONCE (persisted) for
    all iterations.
    """
    d_sub = dim // m
    long = (
        explode_long(emb)
        .withColumn(
            "sub", ((F.col("pos") - 1) / F.lit(d_sub)).cast("int")
        )
        .persist()
    )
    return pq_train_long(long, k=k, iters=iters)


def pq_train_long(
    long: DataFrame, k: int = 4, iters: int = 1, init_offset: int = 0
) -> tuple[DataFrame, DataFrame]:
    """``pq_train`` on an already-long-form (vec_id, pos, sub, val)
    relation — the reuse point residual IVF-PQ needs: the residual
    pipeline subtracts cell centroids in long form, then trains the
    SAME per-subspace Lloyd on the residual relation. ``long`` should
    be persisted by the caller (it feeds init, every distance join,
    and every re-average).

    ``init_offset`` shifts the deterministic seed window to vectors
    [offset, offset+k). Residual training MUST offset past the cell
    centroids: the centroid vectors' own residuals are exactly zero,
    an all-zero init makes every assignment distance a tie, and ties
    then break on engine-specific summation-order noise — the
    assignment stops being a pure function of the data."""
    cents = long.filter(
        (F.col("vec_id") >= init_offset)
        & (F.col("vec_id") < init_offset + k)
    ).select(
        (F.col("vec_id") - init_offset).alias("cid"), "sub", "pos",
        F.col("val").alias("cval"),
    )

    def assign(c: DataFrame) -> DataFrame:
        d2 = (
            long.join(F.broadcast(c.drop("sub")), "pos")
            .groupBy("vec_id", "sub", "cid")
            .agg(
                F.sum(
                    (F.col("val") - F.col("cval"))
                    * (F.col("val") - F.col("cval"))
                ).alias("d2")
            )
        )
        w = Window.partitionBy("vec_id", "sub").orderBy("d2", "cid")
        return (
            d2.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "sub", "cid", "d2")
        )

    for _ in range(iters):
        cents = materialize(cents.coalesce(1))
        a = assign(cents)
        cents = (
            long.join(a.select("vec_id", "sub", "cid"), ["vec_id", "sub"])
            .groupBy("cid", "sub", "pos")
            .agg(F.avg("val").alias("cval"))
        )
    cents = materialize(cents.coalesce(1))
    return assign(cents), cents


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 1,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, sub, code, qerr) — see ``pq_train``."""
    final, _ = pq_train(emb, m=m, k=k, iters=iters, dim=dim)
    return final.select(
        "vec_id",
        F.col("sub").cast("int").alias("sub"),
        F.col("cid").cast("long").alias("code"),
        F.round("d2", 6).alias("qerr"),
    )
