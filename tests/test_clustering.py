"""Relational k-means: recovers planted clusters, deterministic,
and the distance step never shuffles the long fact side."""

from __future__ import annotations

from pyspark.sql import functions as F

from axolotls_spark.operators import clustering as CLU


def _planted(spark):
    """Two well-separated blobs in 4-d; vec 0 and 1 (the seeds) land
    in different blobs so first-k init starts one seed per blob."""
    rows = []
    for i in range(10):
        base = [10.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 10.0, 0.0, 0.0]
        jitter = [((i * 7 + j * 3) % 5) / 10.0 for j in range(4)]
        rows.append((i, [b + e for b, e in zip(base, jitter)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_recovers_planted_clusters(spark):
    emb = _planted(spark)
    assign, cents = CLU.kmeans(emb, k=2, iters=3)
    got = {r.vec_id: r.cid for r in assign.collect()}
    assert len(got) == 10
    evens = {got[i] for i in range(0, 10, 2)}
    odds = {got[i] for i in range(1, 10, 2)}
    assert evens == {0} and odds == {1}
    # Centroids: k x dim rows, near the blob centers.
    cv = {(r.cid, r.pos): r.cval for r in cents.collect()}
    assert len(cv) == 2 * 4
    assert cv[(0, 1)] > 9.0 and cv[(0, 2)] < 1.0
    assert cv[(1, 2)] > 9.0 and cv[(1, 1)] < 1.0


def test_kmeans_deterministic(spark):
    emb = _planted(spark)
    a1, _ = CLU.kmeans(emb, k=2, iters=2)
    a2, _ = CLU.kmeans(emb, k=2, iters=2)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_empty_cluster_drops_out(spark):
    """A seed that captures no members after re-average simply
    disappears (k shrinks) rather than erroring — matches the
    unrolled-SQL semantics."""
    rows = [(i, [float(i % 2), 0.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assign, cents = CLU.kmeans(emb, k=2, iters=2)
    cids = {r.cid for r in assign.collect()}
    assert cids <= {0, 1} and len(cids) >= 1


def _pq_mirror(X, m, k, iters, init_offset):
    """NumPy product quantization: per subspace, the non-null rows with
    vec_id in [init_offset, init_offset + k) seed cid = vec_id −
    init_offset, ``iters`` Lloyd rounds (first minimum == lowest cid,
    empty cells dropped), then the codes against the last centroids.
    Returns {(vec_id, sub): (cid, d2)}."""
    import numpy as np

    ids = np.array([i for i, x in enumerate(X) if x])
    d_sub = len(X[ids[0]]) // m
    seeds = [i for i in ids if init_offset <= i < init_offset + k]
    out = {}
    for s in range(m):
        sub = np.array([X[i][s * d_sub:(s + 1) * d_sub] for i in ids])
        cids = np.array(seeds) - init_offset
        C = np.array([X[i][s * d_sub:(s + 1) * d_sub] for i in seeds])
        for _ in range(iters):
            a = cids[((sub[:, None, :] - C[None, :, :]) ** 2)
                     .sum(axis=2).argmin(axis=1)]
            cids = np.unique(a)
            C = np.stack([sub[a == c].mean(axis=0) for c in cids])
        d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        for i, j, e in zip(ids, d2.argmin(axis=1), d2.min(axis=1)):
            out[(i, s)] = (cids[j], e)
    return out


def test_pq_encode_matches_numpy_mirror(spark):
    """Independent certification of product quantization: a pure
    NumPy mirror of the same algorithm (windowed init, Lloyd
    refinements per subspace, min-distance/lowest-cid assignment) must
    produce identical codes and quantization errors — this catches
    shared-misconception bugs the same-algebra DuckDB oracle cannot
    (both SQL sides would repeat them).  The inputs cover one and two
    rounds, a seed window past vec_id 0, null and empty embeddings
    (never coded, never seeds), and a subvector equidistant from two
    centroids in both rounds, which goes to the lower cid."""
    import numpy as np

    X = np.random.default_rng(7).normal(size=(40, 16)).tolist()
    X[5], X[11] = None, []
    # Subspace 0 of a 6-row corpus lies on a line: seeds 0 and 6, then
    # -3 joins 0 and 4, 8 join 6, so the re-averaged centroids are 0
    # and 6 again, and 3 is equidistant from both in both rounds.
    Y = [[x, 0.0] + np.random.default_rng(i).normal(size=2).tolist()
         for i, x in enumerate((0.0, 6.0, 3.0, -3.0, 4.0, 8.0))]
    # (corpus, m, k, iters, init_offset)
    cases = [(X, 4, 4, 1, 0), (X, 4, 4, 2, 0), (X, 4, 4, 1, 9),
             (Y, 2, 2, 1, 0)]
    for data, m, k, iters, off in cases:
        dim = len(data[0])
        emb = spark.createDataFrame(
            list(enumerate(data)), "vec_id long, embedding array<double>"
        )
        codes, _ = CLU.pq_train(emb, m=m, k=k, iters=iters, dim=dim,
                                init_offset=off)
        got = {(r.vec_id, r.sub): (r.cid, r.d2) for r in codes.collect()}
        want = _pq_mirror(data, m, k, iters, off)
        assert {key: c for key, (c, _) in got.items()} == {
            key: c for key, (c, _) in want.items()}, (m, k, iters, off)
        assert np.allclose([got[key][1] for key in want],
                           [e for _, e in want.values()], rtol=1e-12)
        if off == 0:
            qerr = {(r.vec_id, r.sub): (r.code, r.qerr) for r in
                    CLU.pq_encode(emb, m=m, k=k, iters=iters,
                                  dim=dim).collect()}
            assert qerr == {key: (c, round(e, 6))
                            for key, (c, e) in want.items()}
    assert got[(2, 0)] == (0, 9.0)  # the tie goes to cid 0


def test_kmeans_matches_numpy_mirror(spark):
    """A NumPy Lloyd loop (first-k init, lowest-cid ties, empty
    clusters dropped) gives the same assignment, the same d2 and the
    same centroids as ``kmeans`` on a seeded random corpus."""
    import numpy as np

    n, dim, k, iters = 60, 8, 4, 3
    X = np.random.default_rng(11).normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in reversed(range(n))],
        "vec_id long, embedding array<double>",
    )
    assign, cents = CLU.kmeans(emb, k=k, iters=iters)

    cids, C = np.arange(k), X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = cids[d2.argmin(axis=1)]  # first minimum == lowest cid
        best = d2.min(axis=1)
        cids = np.unique(a)
        C = np.stack([X[a == c].mean(axis=0) for c in cids])

    got = {r.vec_id: (r.cid, r.d2) for r in assign.collect()}
    assert {i: c for i, (c, _) in got.items()} == dict(enumerate(a.tolist()))
    assert np.allclose([got[i][1] for i in range(n)], best, rtol=1e-12)
    cv = {(r.cid, r.pos): r.cval for r in cents.collect()}
    assert len(cv) == len(cids) * dim
    for j, c in enumerate(cids):
        assert np.allclose([cv[(c, p + 1)] for p in range(dim)], C[j],
                           rtol=1e-12)


def test_kmeans_equidistant_vector_goes_to_lower_cid(spark):
    """Vector 2 sits exactly halfway between seeds 0 and 1; rows arrive
    in descending vec_id order, so only the cid sort puts seed 0
    first."""
    rows = [(2, [1.0, 0.0]), (1, [2.0, 0.0]), (0, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assign, _ = CLU.kmeans(emb, k=2, iters=1)
    got = {r.vec_id: (r.cid, r.d2) for r in assign.collect()}
    assert got == {0: (0, 0.0), 1: (1, 0.0), 2: (0, 1.0)}


def test_kmeans_drops_null_embedding(spark):
    """A row whose embedding is null is not clustered — not even as a
    seed: seed 1 is null, so every vector joins cid 0 — and leaves the
    rest of the run unchanged."""
    rows = [(0, [0.0, 0.0]), (1, None), (2, [1.0, 1.0]), (3, [3.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assign, cents = CLU.kmeans(emb, k=2, iters=2)
    got = sorted(map(tuple, assign.collect()))
    assert [(v, c) for v, c, _ in got] == [(0, 0), (2, 0), (3, 0)]
    kept, kept_cents = CLU.kmeans(
        emb.where("embedding IS NOT NULL"), k=2, iters=2)
    assert got == sorted(map(tuple, kept.collect()))
    assert sorted(map(tuple, cents.collect())) == sorted(
        map(tuple, kept_cents.collect()))
