"""Relational k-means (Lloyd's algorithm) over embedding vectors.

Semantic clustering is a curation primitive for LLM data pipelines
(cluster-then-sample, semantic dedup, topic balancing). The reference
has no clustering (SURVEY §2A — its only ops are element-wise torch
kernels); this is a §2B extension designed scale-first:

- Vectors are held in LONG form (vec_id, pos, val) — the distance
  computation is a plain broadcast-join + hash aggregate, never a
  Python UDF, so it stays in whole-stage codegen.
- Centroids (k × dim rows) are broadcast every iteration; the big
  side is never shuffled for the distance step. The only wide
  exchanges are the (vec_id, cid) argmin window and the centroid
  re-average — both over data that shrinks with k·dim or N, not
  N·dim·k.
- Iterations are unrolled into one lazy plan (fixed, small count) —
  deterministic init (first k vec_ids) makes the whole run
  reproducible and oracle-checkable by unrolling the same algebra
  in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.cacheutil import materialize


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


def kmeans_assign(long: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd assignment step: nearest centroid per vector.

    ``long``: (vec_id, pos, val); ``centroids``: (cid, pos, cval).
    Distance = Σ_pos (val-cval)²; ties broken by lowest cid so the
    assignment is a pure function of the inputs. Returns
    (vec_id, cid, d2) — d2 is the squared distance to the WINNING
    centroid (pre-update), which is what inertia sums.
    """
    d2 = (
        long.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval"))
                * (F.col("val") - F.col("cval"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "d2")
    )


def kmeans_update(long: DataFrame, assign: DataFrame) -> DataFrame:
    """Centroid re-average: (cid, pos, cval) from current members."""
    return (
        long.join(assign, "vec_id")
        .groupBy("cid", "pos")
        .agg(F.avg("val").alias("cval"))
    )


def kmeans(emb: DataFrame, k: int, iters: int) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd iterations with deterministic init (the
    first k vec_ids are the seed centroids). Returns (assignment,
    centroids) as lazy DataFrames.

    Reuse discipline (same shape as ``graph.pagerank``): ``long`` is
    the exploded corpus and feeds BOTH sides of every iteration
    (distance join + re-average join) — persist it once so the
    posexplode runs a single corpus pass instead of 2·iters.  Each
    round's centroid relation (k·dim rows, tiny) is materialized in
    one partition; without that, the unrolled lazy plan re-derives
    iteration i's centroids from scratch inside iteration i+1, and
    lineage depth — hence recomputation — grows quadratically with
    ``iters``.
    """
    long = explode_long(emb).persist()
    centroids = (
        long.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cid"), "pos", F.col("val").alias("cval"))
    )
    assign = None
    for _ in range(iters):
        centroids = materialize(centroids.coalesce(1))
        assign = kmeans_assign(long, centroids)
        centroids = kmeans_update(long, assign)
    return assign, centroids


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
