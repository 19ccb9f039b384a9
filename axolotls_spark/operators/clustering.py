"""Relational k-means (Lloyd's algorithm) and product quantization over
embedding vectors.

Semantic clustering is a curation primitive for LLM data pipelines
(cluster-then-sample, semantic dedup, topic balancing). The reference
has no clustering (SURVEY §2A — its only ops are element-wise torch
kernels); this is a §2B extension designed scale-first:

- A vector enters as ``(vec_id, sub, v)`` rows, ``v`` its ``sub``-th
  contiguous subvector: k-means is the one-subspace case (``sub`` 0,
  ``v`` the whole embedding), product quantization has m subspaces.
- The state is k·dim centroid values per subspace, a size the query
  fixes, so the centroids live in ONE row (``c: array<struct<sub,
  cid, v>>``, sorted by (sub, cid)) that is broadcast every round.
  The nearest centroid of a row is a per-row array expression against
  the entries of its own ``sub`` — a map step with no exchange, no
  Python and no corpus-sized intermediate.
- The only exchanges per iteration are the (cid, sub, pos) re-average,
  partially aggregated map-side, and the fold of its rows back into
  the one-row form.
- Iterations are unrolled into one lazy plan (fixed, small count) —
  deterministic init (a window of k consecutive vec_ids) makes the
  whole run reproducible and oracle-checkable by unrolling the same
  algebra in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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


def subvectors(emb: DataFrame, m: int, d_sub: Column) -> DataFrame:
    """(vec_id, embedding) → (vec_id, sub, v): ``v`` = the ``d_sub``
    values from position sub·d_sub + 1, for sub in [0, m).  A vector
    whose embedding is null or empty yields no row."""
    return emb.where(F.size("embedding") > 0).select(
        "vec_id",
        F.inline(F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(
                s.alias("sub"),
                F.slice("embedding", s * d_sub + 1, d_sub).alias("v"),
            ),
        )),
    )


def seed_row(rows: DataFrame, k: int, init_offset: int = 0) -> DataFrame:
    """The one centroid row seeded by the vectors with vec_id in
    [init_offset, init_offset + k): cid = vec_id − init_offset.  No
    seed, no row: nothing is assigned."""
    return rows.where(
        (F.col("vec_id") >= init_offset) & (F.col("vec_id") < init_offset + k)
    ).agg(F.array_sort(F.collect_list(F.struct(
        "sub", (F.col("vec_id") - init_offset).alias("cid"),
        F.col("v").cast("array<double>").alias("v"),
    ))).alias("c")).where(F.size("c") > 0)


def centroid_row(cents: DataFrame) -> DataFrame:
    """(cid, sub, pos, cval) → one row ``c: array<struct<sub, cid, v>>``,
    sorted by (sub, cid), ``v`` the centroid in pos order."""
    s = F.col("s")
    key = lambda x: F.struct(x["sub"].alias("sub"), x["cid"].alias("cid"))
    return cents.agg(F.array_sort(
        F.collect_list(F.struct("sub", "cid", "pos", "cval"))
    ).alias("s")).select(F.transform(
        F.array_distinct(F.transform(s, key)),
        lambda c: F.struct(c["sub"].alias("sub"), c["cid"].alias("cid"),
                           F.transform(F.filter(s, lambda x: key(x) == c),
                                       lambda x: x["cval"]).alias("v")),
    ).alias("c"))


def assign(rows: DataFrame, row: DataFrame) -> DataFrame:
    """The nearest-centroid step: (vec_id, sub, v) crossed with the
    broadcast centroid row → (vec_id, sub, v, cid, d2), the smallest
    (d2, cid) among the entries of the row's own ``sub``, so ties go
    to the lowest cid."""
    best = F.array_min(F.transform(
        F.filter("c", lambda x: x["sub"] == F.col("sub")),
        lambda x: F.struct(sq_dist(F.col("v"), x["v"]).alias("d2"),
                           x["cid"].alias("cid")),
    ))
    # inline() makes the argmin a Generate: the isnotnull(cid) a
    # caller's join infers stops above it, where a projection would
    # let it into the join condition and run the argmin twice per row.
    return rows.crossJoin(F.broadcast(row)).select(
        "vec_id", "sub", "v", F.inline(F.array(best))
    )


def lloyd(rows: DataFrame, k: int, iters: int,
          init_offset: int = 0) -> tuple[DataFrame, DataFrame]:
    """``iters`` >= 1 Lloyd rounds over (vec_id, sub, v) rows from the
    ``seed_row`` init.  Returns the last round's assignment (vec_id,
    sub, v, cid, d2), d2 against the centroids it was made with, and
    the centroids (cid, sub, pos, cval) re-averaged from it, pos
    1-based within the subvector.  A centroid that captures no member
    drops out."""
    row = seed_row(rows, k, init_offset)
    for _ in range(iters):
        a = assign(rows, row)
        cents = (
            a.select("cid", "sub", F.posexplode("v").alias("pos0", "val"))
            .groupBy("cid", "sub", (F.col("pos0") + 1).alias("pos"))
            .agg(F.avg("val").alias("cval"))
        )
        row = centroid_row(cents)
    return a, cents


def kmeans(emb: DataFrame, k: int, iters: int) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` >= 1 Lloyd iterations with deterministic init (the
    vectors with vec_id < k seed centroids cid = vec_id). Returns
    (assignment, centroids) as lazy DataFrames: (vec_id, cid, d2), d2
    the squared distance to the WINNING centroid of the last round
    (pre-update, what inertia sums), and (cid, sub, pos, cval), sub 0,
    re-averaged from that assignment.

    k-means is ``lloyd`` on one subspace, the whole embedding; ties go
    to the lowest cid, and a vector whose embedding is null or empty is
    not clustered.
    """
    a, cents = lloyd(subvectors(emb, 1, F.size("embedding")), k, iters)
    return a.select("vec_id", "cid", "d2"), cents


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
    init_offset: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Train product-quantization codebooks and encode the corpus.

    Returns (codes, codebook): codes = (vec_id, sub, cid, d2) — each
    subvector's nearest codebook entry after ``iters`` >= 1 ``lloyd``
    rounds on the m subspaces of dim/m values; codebook = (cid, sub,
    pos, cval), the k·dim rows the codes were assigned against, pos
    1-based over the whole vector — what ADC distance tables are
    built from.

    The vectors with vec_id in [init_offset, init_offset + k) seed
    cid = vec_id − init_offset in every subspace.  Residual training
    MUST offset past the cell centroids: the centroid vectors' own
    residuals are exactly zero, an all-zero init makes every
    assignment distance a tie, and ties then break on engine-specific
    summation-order noise — the assignment stops being a pure function
    of the data.
    """
    d_sub = dim // m
    rows = subvectors(emb, m, F.lit(d_sub))
    _, cents = lloyd(rows, k, iters, init_offset)
    codes = assign(rows, centroid_row(cents))
    return codes.select("vec_id", "sub", "cid", "d2"), cents.select(
        "cid", "sub", (F.col("sub") * d_sub + F.col("pos")).alias("pos"), "cval"
    )


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
