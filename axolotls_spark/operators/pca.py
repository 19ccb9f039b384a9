"""Distributed PCA over embedding columns.

Dimensionality reduction for embedding tables (compaction before ANN
indexing, whitening before clustering) — a §2B LLM-pipeline
extension; the reference has no linear algebra beyond element-wise
torch ops.

Scale design (the moment-sketch shape):

1. **Partial Gram matrices map-side.** Each Arrow batch contributes
   (count, sum-vector, X^T·X), computed vectorized in numpy inside
   one ``mapInPandas``; each partition sums its batches into one
   d + d² partial row.  The corpus is read ONCE and never shuffled;
   only O(partitions × d²) floats move.
2. **One exact reduce.** ``repartition(1)`` sends the partial rows to
   a single ``mapInPandas`` that sums them in partition-id order —
   one row per input partition, so the reduce is bounded whatever
   the corpus size, and the sum is the same on every run.
3. **Eigendecomposition where the data is small.** The d×d
   covariance is one row; ``numpy.linalg.eigh`` runs inside a
   ``mapInPandas`` over that single row (never a driver collect),
   emitting ONE row: mean, top-k components, trace.
4. **Projection as a map.** That row broadcasts into a nested-loop
   join; scores are array dot products, never a per-position
   explode of the corpus.

Eigenvector sign (and near-degenerate order) is solver-specific, so
the query reports sign-free invariants; accuracy vs numpy's reference
PCA is pinned in tests/test_pca.py (eigenvalues, orthonormality,
sign-insensitive score match).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from axolotls_spark.functions.arrays import dot


def sketch(df: DataFrame, moments: Callable, schema: str) -> DataFrame:
    """One-row exact sum of ``moments`` over ``df``: one corpus pass
    and one reduce.

    ``moments(pdf)`` maps an Arrow batch to a dict of numbers and
    numpy arrays, keyed by the column names of ``schema``.  Each
    partition sums its batches map-side into one ``partials`` row,
    tagged with the partition id; ``repartition(1)`` sends those rows
    (one per input partition, whatever the corpus size) to a single
    reduce that sums them in partition order, so the result is the
    same on every run."""
    cols = [f.split()[0] for f in schema.split(",")]

    def partials(it):
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        acc = None
        for pdf in it:
            m = moments(pdf)
            acc = m if acc is None else {c: acc[c] + m[c] for c in cols}
        if acc is not None:
            yield pd.DataFrame(
                {"part": [TaskContext.get().partitionId()]}
                | {c: [np.asarray(acc[c]).tolist()] for c in cols}
            )

    def total(it):
        import numpy as np
        import pandas as pd

        frames = [pdf for pdf in it if len(pdf)]
        if frames:
            pdf = pd.concat(frames).sort_values("part")
            yield pd.DataFrame(
                {c: [np.stack(list(pdf[c])).sum(0).tolist()] for c in cols}
            )

    return (
        df.mapInPandas(partials, "part INT, " + schema)
        .repartition(1)
        .mapInPandas(total, schema)
    )


def gram_moments(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(n, s, g) 1-row relation: the :func:`sketch` of the count, the
    sum vector and the flattened X^T·X.  Population moments —
    covariance uses 1/n (matched by the tests' numpy reference)."""

    def moments(pdf):
        import numpy as np

        x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        return {"n": x.shape[0], "s": x.sum(0), "g": (x.T @ x).ravel()}

    return sketch(
        emb.select(vec_col), moments,
        "n BIGINT, s ARRAY<DOUBLE>, g ARRAY<DOUBLE>",
    )


def principal_components(moments: DataFrame, k: int) -> DataFrame:
    """Top-k eigenpairs of the covariance as ONE row: ``mean``,
    ``comps`` (array<struct<comp, eigenvalue, w>>, sorted by comp,
    eigenvalue descending) and the covariance ``trace`` — eigh on
    the 1-row moments inside mapInPandas, never a driver collect."""

    def eig(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            for n, s, g in zip(pdf["n"], pdf["s"], pdf["g"]):
                mean = np.asarray(s, dtype="float64") / n
                d = mean.shape[0]
                g = np.asarray(g, dtype="float64").reshape(d, d)
                cov = g / n - np.outer(mean, mean)
                vals, vecs = np.linalg.eigh(cov)
                order = np.argsort(vals)[::-1][:k]
                comps = [
                    {"comp": ci, "eigenvalue": float(vals[ei]),
                     "w": vecs[:, ei].tolist()}
                    for ci, ei in enumerate(order)
                ]
                yield pd.DataFrame({
                    "mean": [mean.tolist()], "comps": [comps],
                    "trace": [float(np.trace(cov))],
                })

    return moments.mapInPandas(
        eig,
        "mean ARRAY<DOUBLE>, comps ARRAY<STRUCT<comp: INT,"
        " eigenvalue: DOUBLE, w: ARRAY<DOUBLE>>>, trace DOUBLE",
    )


def project(emb: DataFrame, pcs: DataFrame, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """(id, comp, score, eigenvalue) against the
    :func:`principal_components` row ``pcs``:
    score(v, c) = sum_pos (x[pos] - mean[pos]) * w[c, pos].  A map
    step: ``pcs`` broadcasts into a nested-loop join, each score is
    an array dot product, and ``inline`` emits one row per component.
    """
    xc = F.zip_with(
        F.col(vec_col), F.col("mean"), lambda x, m: x.cast("double") - m
    )
    return (
        emb.crossJoin(F.broadcast(pcs))
        .select(id_col, xc.alias("xc"), "comps")
        .select(id_col, F.inline(F.transform("comps", lambda c: F.struct(
            c["comp"].alias("comp"),
            dot(F.col("xc"), c["w"]).alias("score"),
            c["eigenvalue"].alias("eigenvalue"),
        ))))
    )


def pca_project(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto the top-k principal axes (centered):
    two corpus reads (the sketch, the projection), no corpus shuffle.
    """
    pcs = principal_components(gram_moments(emb, vec_col), k)
    return project(emb, pcs, id_col, vec_col)
