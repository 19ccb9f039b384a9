"""PCA accuracy vs numpy's reference implementation — the pinned
coordinate-level check (eigenvector sign and near-degenerate ordering
are solver-specific, so the registered query reports sign-free
invariants for the driver's hash gate since round 5; THIS file is
where the actual coordinates are certified)."""

from __future__ import annotations

import numpy as np
import pytest

from axolotls_spark.io.sources import load_table
from axolotls_spark.operators.pca import gram_moments, pca_project

K = 8


@pytest.fixture(scope="module")
def ref(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype="float64")
    xc = x - x.mean(0)
    cov = (xc.T @ xc) / x.shape[0]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:K]
    return ids, xc, vals[order], vecs[:, order]


def test_gram_moments_match_numpy(spark, sf_dir, ref):
    ids, xc, _, _ = ref
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    x = np.array([r.embedding for r in rows], dtype="float64")
    m = gram_moments(emb).collect()[0]
    assert m.n == len(ids)
    s = np.asarray(m.s)
    g = np.asarray(m.g).reshape(64, 64)
    # Exact positional match — a cross-partition collect_list
    # permutation (the round-1 ADVICE bug) scrambles these.
    assert np.allclose(s, x.sum(0), rtol=1e-12)
    assert np.allclose(g, x.T @ x, rtol=1e-10)


def test_gram_moments_order_stable_many_partitions(spark, sf_dir, ref):
    """Regression for the collect_list ordering hazard: force the
    positional-sum relations through many partitions so the final
    aggregation merges out-of-order inputs, then require exact
    positional equality with numpy."""
    ids, xc, _, _ = ref
    emb = load_table(spark, sf_dir, "embeddings").repartition(17)
    rows = emb.select("embedding").collect()
    x = np.array([r.embedding for r in rows], dtype="float64")
    m = gram_moments(emb).collect()[0]
    s = np.asarray(m.s)
    g = np.asarray(m.g).reshape(64, 64)
    assert np.allclose(s, x.sum(0), rtol=1e-12)
    assert np.allclose(g, x.T @ x, rtol=1e-10)


def test_pca_scores_match_numpy_reference(spark, sf_dir, ref):
    ids, xc, vals, vecs = ref
    got = pca_project(
        load_table(spark, sf_dir, "embeddings"), k=K
    ).collect()
    # eigenvalues: every emitted row carries its component's
    # eigenvalue; compare the distinct set against numpy's top-K.
    by_comp: dict[int, dict[int, float]] = {}
    eig = {}
    for r in got:
        by_comp.setdefault(r.comp, {})[r.vec_id] = r.score
        eig[r.comp] = r.eigenvalue
    assert len(by_comp) == K
    for c in range(K):
        assert eig[c] == pytest.approx(vals[c], rel=1e-6, abs=1e-9)
    # scores: match numpy projection up to per-component sign.
    ref_scores = xc @ vecs  # (n, K)
    idx = {v: i for i, v in enumerate(ids)}
    for c in range(K):
        s_spark = np.array(
            [by_comp[c][v] for v in ids]
        )
        s_ref = ref_scores[:, c]
        agree = np.allclose(s_spark, s_ref, atol=1e-6)
        flipped = np.allclose(s_spark, -s_ref, atol=1e-6)
        assert agree or flipped, f"component {c} mismatch beyond sign"


def test_components_orthonormal(spark, sf_dir, ref):
    """``principal_components`` is one row: comps sorted by comp, an
    orthonormal basis, eigenvalues descending, and the covariance
    trace."""
    from axolotls_spark.operators.pca import principal_components

    _, xc, vals, _ = ref
    emb = load_table(spark, sf_dir, "embeddings")
    (row,) = principal_components(gram_moments(emb), K).collect()
    assert [c.comp for c in row.comps] == list(range(K))
    w = np.array([c.w for c in row.comps]).T  # (64, K)
    assert np.allclose(w.T @ w, np.eye(K), atol=1e-8)
    ev = [c.eigenvalue for c in row.comps]
    assert ev == sorted(ev, reverse=True)
    assert np.allclose(ev, vals, rtol=1e-6, atol=1e-9)
    assert row.trace == pytest.approx((xc * xc).sum() / len(xc), rel=1e-9)


def test_sketch_reads_corpus_once(spark, sf_dir):
    """The moment sketch is one corpus pass and one reduce: the plans
    of ``gram_moments`` and of ``procrustes_alignment_drift`` each
    hold exactly one ``embeddings`` scan and one ``partials``
    MapInPandas, not one per summed column."""
    from axolotls_spark.plans.audit import explain_formatted
    from axolotls_spark.queries import REGISTRY

    emb = load_table(spark, sf_dir, "embeddings")
    for df in (
        gram_moments(emb),
        REGISTRY["procrustes_alignment_drift"].fn(spark, sf_dir),
    ):
        text = explain_formatted(df)
        assert text.count("Arguments: partials(") == 1, text
        assert text.count("embeddings.parquet]") == 1, text
