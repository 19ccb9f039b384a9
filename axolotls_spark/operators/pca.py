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
   emitting the top-k eigenpairs.
4. **Projection as a relational op.** Components are a (pos, comp,
   weight) relation (d·k rows, broadcast); scores are a join +
   group-by dot product in whole-stage codegen.

Eigenvector sign (and near-degenerate order) is solver-specific, so
the query is rows-only for the oracle; accuracy vs numpy's reference
PCA is pinned in tests/test_pca.py (eigenvalues, orthonormality,
sign-insensitive score match).
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    """Top-k eigenpairs of the covariance as a (comp, eigenvalue,
    pos, weight) relation — eigh on the 1-row moments inside
    mapInPandas, never a driver-side collect."""

    def eig(
        it: Iterator["pd.DataFrame"],  # noqa: F821
    ) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in it:
            for _, row in pdf.iterrows():
                n = float(row["n"])
                s = np.asarray(row["s"], dtype="float64")
                d = s.shape[0]
                g = np.asarray(row["g"], dtype="float64").reshape(d, d)
                mean = s / n
                cov = g / n - np.outer(mean, mean)
                vals, vecs = np.linalg.eigh(cov)
                order = np.argsort(vals)[::-1][:k]
                out = {
                    "comp": [],
                    "eigenvalue": [],
                    "pos": [],
                    "weight": [],
                    "mean_pos": [],
                }
                for ci, ei in enumerate(order):
                    for pos in range(d):
                        out["comp"].append(ci)
                        out["eigenvalue"].append(float(vals[ei]))
                        out["pos"].append(pos)
                        out["weight"].append(float(vecs[pos, ei]))
                        out["mean_pos"].append(float(mean[pos]))
                yield pd.DataFrame(out)

    return moments.mapInPandas(
        eig,
        "comp INT, eigenvalue DOUBLE, pos INT, weight DOUBLE,"
        " mean_pos DOUBLE",
    )


def pca_project(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto the top-k principal axes (centered):
    score(v, c) = sum_pos (x[pos] - mean[pos]) * w[c, pos].

    The components relation (d·k rows) broadcasts; the projection is
    an equi-join on pos + hash aggregate — pure codegen over the
    corpus, one shuffle (the groupBy), no Python in the hot path.
    """
    comps = principal_components(gram_moments(emb, vec_col), k)
    long = emb.select(
        id_col, F.posexplode(vec_col).alias("pos", "val_f")
    ).select(id_col, "pos", F.col("val_f").cast("double").alias("val"))
    return (
        long.join(F.broadcast(comps), "pos")
        .groupBy(id_col, "comp")
        .agg(
            F.sum(
                (F.col("val") - F.col("mean_pos")) * F.col("weight")
            ).alias("score"),
            F.first("eigenvalue").alias("eigenvalue"),
        )
    )
