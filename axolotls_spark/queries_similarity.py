"""Similarity-search queries over ``embeddings`` (64-dim float).

Certifies operators/similarity.py. The brute-force top-k is exactly
oracle-checkable (dot products fold left-to-right in both engines);
since round 5 the random-projection LSH variant is too: the hyperplane
sets are deterministic literals, so the oracle embeds them verbatim
and replays signature → bucket join → cosine → top-k in SQL (the
left-fold dot product is bit-identical across engines — the same
property ``cosine_topk`` already relies on — so the sign bits match
exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.cacheutil import materialize
from axolotls_spark.functions.arrays import cosine, dot, norm, sq_dist
from axolotls_spark.io.sources import load_table
from axolotls_spark.operators import similarity as SIM
from axolotls_spark.registry import register

_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def _adc_topk_tail(adc: DataFrame, k: int = 10) -> DataFrame:
    """Distributed top-k tail shared by the ADC family.

    ``orderBy(...).limit(k)`` is planned as TakeOrderedAndProject —
    each partition keeps its local top-k and only k rows per partition
    reach the single merge task — instead of the unpartitioned
    ``Window.orderBy`` rank, which funnels the WHOLE distance relation
    through one task at 100 TB. The ``rn`` column is then assigned by a
    window over the already-k-row result, so the global window only
    ever sees k rows. Output and oracle are unchanged.
    """
    top = adc.orderBy("adc_d2", "vec_id").limit(k)
    w = Window.orderBy("adc_d2", "vec_id")
    return (
        top.withColumn("rn", F.row_number().over(w))
        .select("vec_id", F.round("adc_d2", 6).alias("adc_d2"), "rn")
    )


def _probe(whole: DataFrame, cells: DataFrame, nprobe: int) -> DataFrame:
    """IVF probe of the query vector (vec_id 0): its ``nprobe`` nearest
    cells of the one-row ``cells`` (ties to the lower cell) as (cell,
    d2, qres), qres = query − cell centroid.  ``whole`` is
    ``clustering.subvectors`` with one subspace."""
    return whole.filter(F.col("vec_id") == 0).crossJoin(
        F.broadcast(cells)
    ).select(F.inline(F.transform("c", lambda x: F.struct(
        x["cid"].alias("cell"),
        sq_dist(F.col("v"), x["v"]).alias("d2"),
        F.zip_with("v", x["v"], lambda a, b: a.cast("double") - b)
        .alias("qres"),
    )))).orderBy("d2", "cell").limit(nprobe)


@register(
    "embedding_norms",
    oracle=f"""
    SELECT
        label,
        COUNT(*) AS n_vecs,
        AVG({_SQL_NORM.format(v='embedding')}) AS avg_norm,
        MAX({_SQL_NORM.format(v='embedding')}) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "embedding", "agg", "array"),
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg(n).alias("avg_norm"),
        F.max(n).alias("max_norm"),
    )


@register(
    "cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               {_SQL_DOT.format(a='q.q_vec', b='c.embedding')}
               / NULLIF({_SQL_NORM.format(v='q.q_vec')}
                        * {_SQL_NORM.format(v='c.embedding')}, 0) AS sim
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, cand_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM scored
    )
    SELECT query_id, cand_id, sim, rn FROM ranked WHERE rn <= 5
    """,
    tags=("similarity", "cosine", "topk", "embedding", "window"),
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors: broadcast queries
    across the corpus, per-query ranking window keeps k. At 100 TB
    the corpus is never shuffled — only scored rows move."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return SIM.brute_force_topk(q, emb, k=5)


@register(
    "similar_label_pairs",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
               / NULLIF({_SQL_NORM.format(v='a.embedding')}
                        * {_SQL_NORM.format(v='b.embedding')}, 0) AS sim
        FROM embeddings a
        JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.35
    """,
    tags=("similarity", "cosine", "blocked-join", "embedding"),
)
def similar_label_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked similarity join: pairs restricted to equal ``label``
    (threshold 0.35 chosen to be selective
    on the synthetic corpus; the classic blocking trick — equi-join key prunes the quadratic
    pair space before any scoring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
        )
        .filter(F.col("sim") >= 0.35)
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cent_vec
        FROM embeddings WHERE vec_id < 16
    ),
    corpus_scored AS (
        SELECT e.vec_id AS cand_id, c.cell,
               {_SQL_DOT.format(a='e.embedding', b='c.cent_vec')}
               / NULLIF({_SQL_NORM.format(v='e.embedding')}
                        * {_SQL_NORM.format(v='c.cent_vec')}, 0) AS cell_sim
        FROM embeddings e, cents c
    ),
    corpus_cells AS (
        SELECT cand_id, cell FROM (
            SELECT cand_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY cand_id
                                      ORDER BY cell_sim DESC, cell) AS rn
            FROM corpus_scored
        ) WHERE rn = 1
    ),
    query_scored AS (
        SELECT e.vec_id AS query_id, c.cell,
               {_SQL_DOT.format(a='e.embedding', b='c.cent_vec')}
               / NULLIF({_SQL_NORM.format(v='e.embedding')}
                        * {_SQL_NORM.format(v='c.cent_vec')}, 0) AS cell_sim
        FROM embeddings e, cents c
        WHERE e.vec_id < 10
    ),
    probe_cells AS (
        SELECT query_id, cell FROM (
            SELECT query_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cell_sim DESC, cell) AS rn
            FROM query_scored
        ) WHERE rn <= 4
    ),
    scored AS (
        SELECT p.query_id, cc.cand_id,
               {_SQL_DOT.format(a='q.embedding', b='c.embedding')}
               / NULLIF({_SQL_NORM.format(v='q.embedding')}
                        * {_SQL_NORM.format(v='c.embedding')}, 0) AS sim
        FROM probe_cells p
        JOIN corpus_cells cc ON cc.cell = p.cell
                            AND cc.cand_id <> p.query_id
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = cc.cand_id
    )
    SELECT query_id, cand_id, sim, rn FROM (
        SELECT query_id, cand_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
    tags=("similarity", "ivf", "ann", "approximate", "window"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k — 16 deterministic coarse cells
    (the 16 lowest-id vectors as centroids), nprobe=4. Fully
    deterministic, so unlike the LSH path it hash-matches a SQL
    oracle; recall vs cosine_topk is asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    cents = emb.filter(F.col("vec_id") < 16)
    return SIM.ivf_topk(q, emb, cents, k=5, nprobe=4)


def _lsh_sigs_sql(dim: int = 64, n_planes: int = 4, n_tables: int = 8) -> str:
    """UNION ALL block computing every LSH table's bit signature in
    SQL with the SAME literal hyperplanes the Spark operator uses
    (``operators/similarity.py:_hyperplanes``, seeds 1000+t).  Each
    bit's dot product is a left fold over the embedding — bit-identical
    to Spark's ``F.aggregate`` fold, so the sign comparison can never
    diverge between engines."""
    from axolotls_spark.operators.similarity import _hyperplanes

    selects = []
    for t in range(n_tables):
        bits = []
        for plane in _hyperplanes(dim, n_planes, seed=1000 + t):
            lits = ", ".join(repr(x) for x in plane)
            d = (
                f"list_sum(list_transform(list_zip(embedding, [{lits}]),"
                f" p -> CAST(p[1] AS DOUBLE) * p[2]))"
            )
            bits.append(f"(CASE WHEN {d} >= 0 THEN '1' ELSE '0' END)")
        sig = " || ".join(bits)
        selects.append(
            f"SELECT vec_id AS sig_id, {t} AS tbl, {sig} AS sig FROM embeddings"
        )
    return " UNION ALL ".join(selects)


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH sigs AS ({_lsh_sigs_sql()}),
    qs AS (SELECT sig_id AS query_id, tbl, sig FROM sigs WHERE sig_id < 10),
    cand AS (
        SELECT DISTINCT q.query_id, c.sig_id AS cand_id
        FROM sigs c JOIN qs q ON q.tbl = c.tbl AND q.sig = c.sig
        WHERE q.query_id <> c.sig_id
    ),
    scored AS (
        SELECT cand.query_id, cand.cand_id,
               {_SQL_DOT.format(a='q.embedding', b='c.embedding')}
               / NULLIF({_SQL_NORM.format(v='q.embedding')}
                        * {_SQL_NORM.format(v='c.embedding')}, 0) AS sim
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings c ON c.vec_id = cand.cand_id
    )
    SELECT query_id, cand_id, sim, rn FROM (
        SELECT query_id, cand_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
    tags=("similarity", "lsh", "ann", "approximate"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane bucketing — the scale
    path: only same-signature candidates are scored.  Hash-checked
    end-to-end since round 5: the hyperplanes are deterministic
    literals, so the oracle replays the identical signature → bucket
    join → cosine → top-k pipeline (recall vs the exact cosine_topk
    is additionally pinned in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return SIM.lsh_bucketed_topk(q, emb, dim=64, k=5, n_planes=4, n_tables=8)


# Shared unrolled-Lloyd CTE (k=8, 2 iterations, first-k init):
# long-form vectors, c0 seeds, d*/a* distance+argmin per iteration,
# c* re-averaged centroids. a2 carries d2 (distance to the winning
# pre-update centroid) so inertia is oracle-checkable too.
_KMEANS_CTE = """
    WITH long AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, pos, val AS cval FROM long WHERE vec_id < 8),
    d1 AS (
        SELECT l.vec_id, c.cid,
               SUM((l.val - c.cval) * (l.val - c.cval)) AS d2
        FROM long l JOIN c0 c USING (pos)
        GROUP BY l.vec_id, c.cid
    ),
    a1 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM d1) WHERE rn = 1
    ),
    c1 AS (
        SELECT a.cid, l.pos, AVG(l.val) AS cval
        FROM long l JOIN a1 a USING (vec_id)
        GROUP BY a.cid, l.pos
    ),
    d2s AS (
        SELECT l.vec_id, c.cid,
               SUM((l.val - c.cval) * (l.val - c.cval)) AS d2
        FROM long l JOIN c1 c USING (pos)
        GROUP BY l.vec_id, c.cid
    ),
    a2 AS (
        SELECT vec_id, cid, d2 FROM (
            SELECT vec_id, cid, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM d2s) WHERE rn = 1
    ),
    c2 AS (
        SELECT a.cid, l.pos, AVG(l.val) AS cval
        FROM long l JOIN a2 a USING (vec_id)
        GROUP BY a.cid, l.pos
    )
"""

_KMEANS_ORACLE = _KMEANS_CTE + """
    SELECT s.cid, s.n_members, n.centroid_norm
    FROM (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY cid) s
    JOIN (SELECT cid, ROUND(SQRT(SUM(cval * cval)), 6) AS centroid_norm
          FROM c2 GROUP BY cid) n
    USING (cid)
"""


@register(
    "kmeans_clusters",
    oracle=_KMEANS_ORACLE,
    tags=("clustering", "kmeans", "iterative", "embedding", "broadcast"),
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational k-means (k=8, 2 Lloyd iterations, deterministic
    first-k init) — cluster sizes + centroid L2 norms. The distance
    step is per-vector array math against the centroids broadcast as
    one row (operators/clustering.py); the identical algebra is
    unrolled in the DuckDB oracle, so the assignment is exactly
    hash-checked. Curation primitive for cluster-then-sample /
    topic balancing over a 100 TB corpus: the vectors are never
    shuffled — only the map-side-aggregated k·dim re-average and the
    fold of its rows into the next round's centroid row exchange."""
    from axolotls_spark.operators import clustering as CLU

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign, cents = CLU.kmeans(emb, k=8, iters=2)
    sizes = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    norms = cents.groupBy("cid").agg(
        F.round(F.sqrt(F.sum(F.col("cval") * F.col("cval"))), 6)
        .alias("centroid_norm")
    )
    return sizes.join(norms, "cid").select("cid", "n_members", "centroid_norm")


@register(
    "kmeans_inertia",
    oracle=_KMEANS_CTE + """
    SELECT cid, COUNT(*) AS n_members,
           ROUND(SUM(d2), 6) AS inertia,
           ROUND(AVG(d2), 6) AS avg_d2
    FROM a2 GROUP BY cid
    """,
    tags=("clustering", "kmeans", "quality", "embedding"),
)
def kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster inertia (within-cluster sum of squared distance to
    the assigned centroid) after the same k=8 / 2-iteration run —
    the quality metric an elbow sweep would minimize. d2 falls out
    of the assignment argmin for free (no extra pass over the
    vectors); only the k-row summary is exchanged."""
    from axolotls_spark.operators import clustering as CLU

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign, _ = CLU.kmeans(emb, k=8, iters=2)
    return assign.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum("d2"), 6).alias("inertia"),
        F.round(F.avg("d2"), 6).alias("avg_d2"),
    )


@register(
    "cluster_balanced_sample",
    oracle=_KMEANS_CTE + """
    SELECT vec_id, cid, rn FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rn
        FROM a2
    ) WHERE rn <= 8
    """,
    tags=("clustering", "sampling", "curation", "window"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-sample: 8 most-central members per k-means
    cluster (rank by distance-to-centroid, vec_id tiebreak) — the
    topic-balancing step of a curation pipeline, guaranteeing every
    semantic cluster is represented regardless of corpus skew. The
    per-cluster top-k is a WindowGroupLimit over the already-small
    assignment relation — the vectors themselves are not re-read."""
    from axolotls_spark.operators import clustering as CLU
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign, _ = CLU.kmeans(emb, k=8, iters=2)
    w = Window.partitionBy("cid").orderBy("d2", "vec_id")
    return (
        assign.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select("vec_id", "cid", "rn")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (deterministic sign matrix)
# ---------------------------------------------------------------------------

_JL_D = 64  # input dim
_JL_K = 8   # output dim


def _jl_sign(i: int, j: int) -> int:
    """±1 from md5("jl:i:j") — reproducible on any engine/run."""
    import hashlib

    h = hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()
    return 1 if int(h[:15], 16) % 2 == 0 else -1

_JL_SIGNS = [[_jl_sign(i, j) for i in range(_JL_D)] for j in range(_JL_K)]
_JL_SCALE = 1.0 / (_JL_K ** 0.5)


def _jl_oracle() -> str:
    cols = []
    for j in range(_JL_K):
        lits = ", ".join(f"{s}.0" for s in _JL_SIGNS[j])
        cols.append(
            f"CAST({_SQL_DOT.format(a='embedding', b=f'[{lits}]')}"
            f" * {_JL_SCALE!r} AS REAL) AS y{j}"
        )
    return (
        "SELECT vec_id, label, " + ", ".join(cols) + " FROM embeddings"
    )


@register(
    "jl_project_embeddings",
    oracle=_jl_oracle(),
    tags=("embedding", "random-projection", "jl", "map-only",
          "dimensionality-reduction"),
)
def jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sketch: project 64-dim embeddings to 8
    dims through a fixed ±1/√k sign matrix — the cheap distance-
    preserving compression that fronts ANN indexes and dedup sweeps.
    The matrix entries are md5-derived literals baked into the plan,
    so Spark, DuckDB, and any future run agree bit-for-bit on the
    matrix itself.

    Scale shape: map-only — eight zip_with/aggregate folds riding
    the scan, zero shuffles, zero joins; the 512-literal matrix
    lives in the codegen'd expression, not in a relation. The f32
    emit absorbs fold-order ulps.
    """
    e = load_table(spark, sf_dir, "embeddings")
    outs = []
    for j in range(_JL_K):
        signs = F.array(*[F.lit(float(s)) for s in _JL_SIGNS[j]])
        outs.append(
            (dot(F.col("embedding"), signs) * _JL_SCALE)
            .cast("float")
            .alias(f"y{j}")
        )
    return e.select("vec_id", "label", *outs)


def _pq_cte(d_sub: int, k: int) -> str:
    """The per-subspace Lloyd CTE block, parameterized by subvector
    width and codebook size (sub = (pos-1) // d_sub; init = first k
    vectors' subvectors; 1 refinement; pa2 = final codes, pc1 = the
    codebook they were assigned against)."""
    return f"""
    WITH long0 AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    long AS (
        SELECT vec_id, pos, CAST((pos - 1) // {d_sub} AS INT) AS sub, val
        FROM long0
    ),
    pc0 AS (
        SELECT vec_id AS cid, sub, pos, val AS cval
        FROM long WHERE vec_id < {k}
    ),
    pd1 AS (
        SELECT l.vec_id, l.sub, c.cid,
               SUM((l.val - c.cval) * (l.val - c.cval)) AS d2
        FROM long l JOIN pc0 c USING (pos)
        GROUP BY l.vec_id, l.sub, c.cid
    ),
    pa1 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, cid) AS rn
            FROM pd1) WHERE rn = 1
    ),
    pc1 AS (
        SELECT a.cid, l.sub, l.pos, AVG(l.val) AS cval
        FROM long l JOIN pa1 a
          ON l.vec_id = a.vec_id AND l.sub = a.sub
        GROUP BY a.cid, l.sub, l.pos
    ),
    pd2 AS (
        SELECT l.vec_id, l.sub, c.cid,
               SUM((l.val - c.cval) * (l.val - c.cval)) AS d2
        FROM long l JOIN pc1 c USING (pos)
        GROUP BY l.vec_id, l.sub, c.cid
    ),
    pa2 AS (
        SELECT vec_id, sub, cid, d2 FROM (
            SELECT vec_id, sub, cid, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, cid) AS rn
            FROM pd2) WHERE rn = 1
    )
"""


@register(
    "pq_encode_embeddings",
    oracle=_pq_cte(16, 4) + """
    SELECT vec_id, CAST(sub AS INT) AS sub,
           CAST(cid AS BIGINT) AS code, ROUND(d2, 6) AS qerr
    FROM pa2
    """,
    tags=("product-quantization", "ann", "compression", "embedding"),
)
def pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (operators/clustering.pq_encode): 64-dim
    embeddings → 4 subspaces × 16 dims, 4-entry codebook per
    subspace (1 Lloyd refinement of the deterministic first-4 init),
    emitting each vector's per-subspace code and quantization error.
    The vector corpus compresses to m small codes per row — the
    storage/IO shape IVF-PQ indexes need at 100 TB — while the
    codebooks (k·dim rows) stay broadcast-sized. Oracle unrolls the
    identical per-subspace Lloyd algebra."""
    from axolotls_spark.operators import clustering as CLU

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return CLU.pq_encode(emb, m=4, k=4, iters=1, dim=64)


def _mmr_step_sql(i: int) -> str:
    return f""",
    ms{i} AS (
        SELECT p.a AS vec_id, MAX(p.sim) AS msim
        FROM pairs p WHERE p.b IN (SELECT vec_id FROM sel{i - 1})
        GROUP BY p.a
    ),
    pick{i} AS (
        SELECT c.vec_id, 0.7 * c.rel - 0.3 * m.msim AS mmr,
               {i} AS sel_rank
        FROM cand c JOIN ms{i} m USING (vec_id)
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        ORDER BY mmr DESC, c.vec_id
        LIMIT 1
    ),
    sel{i} AS (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM pick{i})
"""


_MMR_K = 5

_MMR_ORACLE = (
    f"""
    WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    cand AS (
        SELECT vec_id,
               embedding,
               {_SQL_DOT.format(a='embedding', b='q_vec')}
               / NULLIF({_SQL_NORM.format(v='embedding')}
                        * {_SQL_NORM.format(v='q_vec')}, 0) AS rel
        FROM embeddings, q
        WHERE vec_id > 0
        ORDER BY rel DESC, vec_id
        LIMIT 20
    ),
    pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b,
               {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
               / NULLIF({_SQL_NORM.format(v='a.embedding')}
                        * {_SQL_NORM.format(v='b.embedding')}, 0) AS sim
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    sel1 AS (
        SELECT vec_id, rel AS mmr, 1 AS sel_rank
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    )
"""
    + "".join(_mmr_step_sql(i) for i in range(2, _MMR_K + 1))
    + f"""
    SELECT CAST(sel_rank AS INT) AS sel_rank, vec_id,
           CAST(mmr AS REAL) AS mmr
    FROM sel{_MMR_K}
"""
)


@register(
    "mmr_diverse_topk",
    oracle=_MMR_ORACLE,
    tags=("mmr", "diversity", "rerank", "similarity", "iterative"),
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick 5 of the top-20 cosine candidates,
    each step maximizing 0.7·relevance − 0.3·max-similarity-to-
    already-selected — the standard diversity-aware retrieval head
    for RAG/curation (don't return 5 near-copies of the best hit).

    Scale shape: the corpus-sized work is exactly ONE broadcast-
    query scoring pass + top-20 truncation (identical to
    cosine_topk); the greedy loop then runs entirely on the tiny
    persisted candidate set (20 rows) and its 20×20 pairwise-sim
    relation — 5 fixed unrolled steps over broadcast-sized data,
    no corpus re-scan, no Python. The oracle unrolls the identical
    greedy selection."""
    from axolotls_spark.functions.arrays import cosine

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec")
    )
    cand = (
        emb.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "embedding",
            cosine(F.col("embedding"), F.col("q_vec")).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(20)
        .persist()
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("pa"),
            F.col("b.vec_id").alias("pb"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
        )
        .persist()
    )
    # Each greedy pick is a 1-row relation, eagerly localCheckpoint-ed
    # (r8 optimization): the old per-round `selected.unionAll(pick)
    # .persist()` chain referenced the previous round's relation
    # three times (anti-join, max-sim join, union), so the unrolled
    # lazy lineage grew ~3^k and the 5-step loop fanned into ~50 AQE
    # jobs of broadcast rebuilds.  The loop still touches ONLY the
    # persisted 20-row candidate set and its pairwise-sim cache; the
    # checkpoints make each round's plan O(1).
    picks = [
        cand.orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select(
            "vec_id", F.col("rel").alias("mmr"), F.lit(1).alias("sel_rank")
        )
        .localCheckpoint(eager=True)
    ]
    for i in range(2, _MMR_K + 1):
        sel_ids = picks[0].select("vec_id")
        for p in picks[1:]:
            sel_ids = sel_ids.unionAll(p.select("vec_id"))
        msim = (
            pairs.join(
                sel_ids.withColumnRenamed("vec_id", "pb"), "pb"
            )
            .groupBy("pa")
            .agg(F.max("sim").alias("msim"))
        )
        pick = (
            cand.join(sel_ids, "vec_id", "left_anti")
            .join(msim, cand.vec_id == msim.pa)
            .select(
                "vec_id",
                (
                    F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("msim")
                ).alias("mmr"),
                F.lit(i).alias("sel_rank"),
            )
            .orderBy(F.desc("mmr"), "vec_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(pick)
    selected = picks[0]
    for p in picks[1:]:
        selected = selected.unionAll(p)
    return selected.select(
        F.col("sel_rank").cast("int").alias("sel_rank"),
        "vec_id",
        F.col("mmr").cast("float").alias("mmr"),
    )


@register(
    "pq_adc_topk",
    oracle=_pq_cte(8, 16) + """,
    qv AS (SELECT pos, val FROM long WHERE vec_id = 0),
    dt AS (
        SELECT c.cid, c.sub,
               SUM((q.val - c.cval) * (q.val - c.cval)) AS pd2
        FROM pc1 c JOIN qv q USING (pos)
        GROUP BY c.cid, c.sub
    ),
    adc AS (
        SELECT p.vec_id, SUM(t.pd2) AS adc_d2
        FROM pa2 p JOIN dt t ON t.sub = p.sub AND t.cid = p.cid
        WHERE p.vec_id <> 0
        GROUP BY p.vec_id
    )
    SELECT vec_id, ROUND(adc_d2, 6) AS adc_d2, rn FROM (
        SELECT vec_id, adc_d2,
               ROW_NUMBER() OVER (ORDER BY adc_d2, vec_id) AS rn
        FROM adc
    ) WHERE rn <= 10
    """,
    tags=("product-quantization", "adc", "ann", "topk", "embedding"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation over the PQ codes (Jégou et
    al., TPAMI'11): the query builds an m·k-entry distance table
    against the trained codebooks (one tiny aggregate), then every
    corpus vector's approximate distance is a TABLE LOOKUP SUM over
    its m codes — the corpus's float payload is never touched at
    query time. This is the 100 TB ANN query shape: per-query work
    is O(k·dim) table build + O(N·m) lookups over the compressed
    code relation (broadcast join on (sub, code)), with the exact
    re-rank reserved for the returned short-list. m=8 subspaces ×
    16 codes: on this synthetic (near-isotropic — the hard case for
    PQ) corpus, the exact top-10 sits entirely inside the ADC
    top-20% shortlist (pinned in tests/test_similarity.py), which is
    precisely how ADC is used: shortlist builder, not final ranker.
    Top-10 by ADC distance; oracle replicates table and lookups
    exactly."""
    from axolotls_spark.operators import clustering as CLU
    from axolotls_spark.operators.clustering import explode_long

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes, cents = CLU.pq_train(emb, m=8, k=16, iters=1, dim=64)
    qlong = explode_long(emb.filter(F.col("vec_id") == 0)).select("pos", "val")
    dt = (
        cents.join(F.broadcast(qlong), "pos")
        .groupBy("cid", "sub")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval"))
                * (F.col("val") - F.col("cval"))
            ).alias("pd2")
        )
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(dt), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("pd2").alias("adc_d2"))
    )
    return _adc_topk_tail(adc, k=10)


@register(
    "embedding_mean_shift",
    oracle="""
    WITH long AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    mu AS (
        SELECT label, pos, AVG(val) AS m, COUNT(*) AS n
        FROM long GROUP BY label, pos
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(MAX(a.n) AS BIGINT) AS n_a,
           CAST(MAX(b.n) AS BIGINT) AS n_b,
           ROUND(SUM((a.m - b.m) * (a.m - b.m)), 6) AS mean_shift_sq
    FROM mu a JOIN mu b ON a.pos = b.pos AND a.label < b.label
    GROUP BY a.label, b.label
    """,
    tags=("drift", "embedding", "monitoring", "mmd"),
)
def embedding_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between groups: squared distance between
    per-group mean vectors (linear-kernel MMD — the first-moment
    drift statistic for monitoring an embedding model across data
    slices or snapshots; distribution_drift_psi is its scalar-column
    sibling). Scale shape: ONE long-form aggregate shrinks N·dim
    corpus rows to |labels|·dim means; the pairwise compare runs on
    that broadcast-sized relation — the corpus is never self-joined.
    Sum rounded (6dp) for cross-engine summation order."""
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    long = emb.select(
        "label",
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("v").cast("double").alias("val"),
    )
    mu = long.groupBy("label", "pos").agg(
        F.avg("val").alias("m"), F.count(F.lit(1)).alias("n")
    )
    a, b = mu.alias("a"), mu.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.max("a.n").cast("long").alias("n_a"),
            F.max("b.n").cast("long").alias("n_b"),
            F.round(
                F.sum(
                    (F.col("a.m") - F.col("b.m"))
                    * (F.col("a.m") - F.col("b.m"))
                ),
                6,
            ).alias("mean_shift_sq"),
        )
    )


_SQL_EUC2 = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
)


@register(
    "ann_ivf_adc_topk",
    oracle=_pq_cte(8, 16) + f""",
    cents AS (
        SELECT vec_id AS cell, embedding AS cvec
        FROM embeddings WHERE vec_id < 16
    ),
    corpus_cells AS (
        SELECT cand_id, cell FROM (
            SELECT e.vec_id AS cand_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_SQL_EUC2.format(a='e.embedding',
                                                  b='c.cvec')}, c.cell
                   ) AS rn
            FROM embeddings e, cents c
        ) WHERE rn = 1
    ),
    probed AS (
        SELECT cell FROM (
            SELECT c.cell,
                   ROW_NUMBER() OVER (
                       ORDER BY {_SQL_EUC2.format(a='q.embedding',
                                                  b='c.cvec')}, c.cell
                   ) AS rn
            FROM embeddings q, cents c
            WHERE q.vec_id = 0
        ) WHERE rn <= 4
    ),
    qv AS (SELECT pos, val FROM long WHERE vec_id = 0),
    dt AS (
        SELECT c.cid, c.sub,
               SUM((q.val - c.cval) * (q.val - c.cval)) AS pd2
        FROM pc1 c JOIN qv q USING (pos)
        GROUP BY c.cid, c.sub
    ),
    adc AS (
        SELECT p.vec_id, SUM(t.pd2) AS adc_d2
        FROM pa2 p
        JOIN corpus_cells cc ON cc.cand_id = p.vec_id
        JOIN probed pr ON pr.cell = cc.cell
        JOIN dt t ON t.sub = p.sub AND t.cid = p.cid
        WHERE p.vec_id <> 0
        GROUP BY p.vec_id
    )
    SELECT vec_id, ROUND(adc_d2, 6) AS adc_d2, rn FROM (
        SELECT vec_id, adc_d2,
               ROW_NUMBER() OVER (ORDER BY adc_d2, vec_id) AS rn
        FROM adc
    ) WHERE rn <= 10
    """,
    tags=("ann", "ivf", "product-quantization", "adc", "composition"),
)
def ann_ivf_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC — the composition real vector indexes ship (FAISS
    IVF-PQ minus the residual trick): a coarse inverted file prunes
    the corpus to nprobe=4 euclidean-nearest cells, then ranking
    inside the probed cells is pure code-lookup ADC over the trained
    PQ codebooks. Query-time cost = 16 cell distances + an m·k
    distance table + O(candidates·m) lookups; neither the corpus
    floats nor the unprobed cells are touched. Both stages are the
    already-certified operators (ivf cells, pq_train) composed in
    one lazy plan; the oracle composes the same two CTE blocks."""
    from axolotls_spark.operators import clustering as CLU
    from axolotls_spark.operators.clustering import explode_long

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes, pq_cents = CLU.pq_train(emb, m=8, k=16, iters=1, dim=64)
    whole = CLU.subvectors(emb, 1, F.size("embedding"))
    cells = CLU.seed_row(whole, 16)
    corpus_cells = CLU.assign(whole, cells).select(
        F.col("vec_id").alias("cand_id"), F.col("cid").alias("cell")
    )
    probed = _probe(whole, cells, 4).select("cell")
    qlong = explode_long(emb.filter(F.col("vec_id") == 0)).select("pos", "val")
    dt = (
        pq_cents.join(F.broadcast(qlong), "pos")
        .groupBy("cid", "sub")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval"))
                * (F.col("val") - F.col("cval"))
            ).alias("pd2")
        )
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(corpus_cells, codes.vec_id == corpus_cells.cand_id)
        .join(F.broadcast(probed), "cell")
        .join(F.broadcast(dt), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("pd2").alias("adc_d2"))
    )
    return _adc_topk_tail(adc, k=10)


@register(
    "retrieval_ndcg",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS q_label
               FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, q.q_label, c.vec_id AS cand_id, c.label,
               {_SQL_DOT.format(a='q.q_vec', b='c.embedding')}
               / NULLIF({_SQL_NORM.format(v='q.q_vec')}
                        * {_SQL_NORM.format(v='c.embedding')}, 0) AS sim
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ),
    topk AS (
        SELECT query_id, q_label, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, cand_id) AS rnk
        FROM scored
        QUALIFY rnk <= 10
    ),
    dcg AS (
        SELECT query_id,
               SUM(CASE WHEN label = q_label
                        THEN 1.0 / LOG2(rnk + 1) ELSE 0.0 END) AS dcg
        FROM topk GROUP BY query_id
    ),
    nrel AS (
        SELECT q.query_id, COUNT(*) AS n_rel
        FROM q JOIN embeddings c
          ON c.label = q.q_label AND c.vec_id <> q.query_id
        GROUP BY q.query_id
    ),
    idcg AS (
        SELECT n.query_id,
               SUM(1.0 / LOG2(u.i + 1)) AS idcg
        FROM nrel n, UNNEST(range(1, 11)) AS u(i)
        WHERE u.i <= LEAST(n.n_rel, 10)
        GROUP BY n.query_id
    )
    SELECT d.query_id,
           CAST(n.n_rel AS BIGINT) AS n_rel,
           CAST(d.dcg AS REAL) AS dcg,
           CAST(i.idcg AS REAL) AS idcg,
           CAST(d.dcg / i.idcg AS REAL) AS ndcg
    FROM dcg d JOIN nrel n USING (query_id) JOIN idcg i USING (query_id)
    """,
    tags=("evaluation", "ndcg", "retrieval", "ranking", "metric"),
)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the cosine retrieval ranking, with binary label
    relevance — the evaluation head that closes the retrieval loop
    (build: cosine/IVF/ADC; measure: THIS). DCG folds over the
    ranked top-10, IDCG over the ideal prefix min(n_rel, 10); both
    are tiny aggregates over the already-truncated ranking — the
    corpus cost is exactly one scoring pass (same plan as
    cosine_topk), and n_rel is a label-blocked count, not a second
    scoring pass."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    topk = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            "label",
            "vec_id",
            cosine(F.col("embedding"), F.col("q_vec")).alias("sim"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("sim"), "vec_id"
                )
            ),
        )
        .filter(F.col("rnk") <= 10)
    )
    dcg = topk.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("label") == F.col("q_label"),
                F.lit(1.0) / F.log2(F.col("rnk") + 1),
            ).otherwise(0.0)
        ).alias("dcg")
    )
    nrel = (
        q.alias("q")
        .join(
            emb.alias("c"),
            (F.col("c.label") == F.col("q.q_label"))
            & (F.col("c.vec_id") != F.col("q.query_id")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    ranks = spark.range(1, 11).select(F.col("id").alias("i"))
    idcg = (
        nrel.crossJoin(F.broadcast(ranks))
        .filter(F.col("i") <= F.least(F.col("n_rel"), F.lit(10)))
        .groupBy("query_id")
        .agg(F.sum(F.lit(1.0) / F.log2(F.col("i") + 1)).alias("idcg"))
    )
    return (
        dcg.join(nrel, "query_id")
        .join(idcg, "query_id")
        .select(
            "query_id",
            F.col("n_rel").cast("long").alias("n_rel"),
            F.col("dcg").cast("float").alias("dcg"),
            F.col("idcg").cast("float").alias("idcg"),
            (F.col("dcg") / F.col("idcg")).cast("float").alias("ndcg"),
        )
    )


def _residual_pq_ctes(d_sub: int, k: int, n_cells: int, nprobe: int) -> str:
    """Oracle CTE block for residual IVF-PQ: long-form explode →
    euclidean cell assignment → residual relation → the per-subspace
    Lloyd CTE retargeted at residuals → per-probed-cell query
    residual distance tables."""
    return f"""
    WITH long0 AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    long AS (
        SELECT vec_id, pos, CAST((pos - 1) // {d_sub} AS INT) AS sub, val
        FROM long0
    ),
    cent AS (
        SELECT vec_id AS cell, pos, val AS cval
        FROM long WHERE vec_id < {n_cells}
    ),
    cd AS (
        SELECT l.vec_id, c.cell,
               SUM((l.val - c.cval) * (l.val - c.cval)) AS d2
        FROM long l JOIN cent c USING (pos)
        GROUP BY l.vec_id, c.cell
    ),
    cc AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS rn
            FROM cd) WHERE rn = 1
    ),
    rlong AS (
        SELECT l.vec_id, l.pos, l.sub, l.val - c.cval AS val
        FROM long l
        JOIN cc ON l.vec_id = cc.vec_id
        JOIN cent c ON c.cell = cc.cell AND c.pos = l.pos
    ),
    pc0 AS (
        -- seed from vectors PAST the cell centroids: the centroids'
        -- own residuals are exactly zero, and an all-zero init turns
        -- every assignment into an engine-noise tie.
        SELECT vec_id - {n_cells} AS cid, sub, pos, val AS cval
        FROM rlong
        WHERE vec_id >= {n_cells} AND vec_id < {n_cells} + {k}
    ),
    pd1 AS (
        SELECT r.vec_id, r.sub, c.cid,
               SUM((r.val - c.cval) * (r.val - c.cval)) AS d2
        FROM rlong r JOIN pc0 c USING (pos)
        GROUP BY r.vec_id, r.sub, c.cid
    ),
    pa1 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, cid) AS rn
            FROM pd1) WHERE rn = 1
    ),
    pc1 AS (
        SELECT a.cid, r.sub, r.pos, AVG(r.val) AS cval
        FROM rlong r JOIN pa1 a
          ON r.vec_id = a.vec_id AND r.sub = a.sub
        GROUP BY a.cid, r.sub, r.pos
    ),
    pd2 AS (
        SELECT r.vec_id, r.sub, c.cid,
               SUM((r.val - c.cval) * (r.val - c.cval)) AS d2
        FROM rlong r JOIN pc1 c USING (pos)
        GROUP BY r.vec_id, r.sub, c.cid
    ),
    pa2 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, cid) AS rn
            FROM pd2) WHERE rn = 1
    ),
    qd AS (
        SELECT c.cell, SUM((q.val - c.cval) * (q.val - c.cval)) AS d2
        FROM long q JOIN cent c USING (pos)
        WHERE q.vec_id = 0
        GROUP BY c.cell
    ),
    probed AS (
        SELECT cell FROM (
            SELECT cell, ROW_NUMBER() OVER (ORDER BY d2, cell) AS rn
            FROM qd) WHERE rn <= {nprobe}
    ),
    qres AS (
        SELECT c.cell, q.pos, q.sub, q.val - c.cval AS val
        FROM long q
        JOIN cent c USING (pos)
        JOIN probed p ON p.cell = c.cell
        WHERE q.vec_id = 0
    ),
    dt AS (
        SELECT r.cell, b.cid, b.sub,
               SUM((r.val - b.cval) * (r.val - b.cval)) AS pd2
        FROM qres r JOIN pc1 b ON b.pos = r.pos
        GROUP BY r.cell, b.cid, b.sub
    )
"""


@register(
    "ann_ivfpq_residual_topk",
    oracle=_residual_pq_ctes(8, 16, 16, 4) + """,
    adc AS (
        SELECT p.vec_id, SUM(t.pd2) AS adc_d2
        FROM pa2 p
        JOIN cc ON cc.vec_id = p.vec_id
        JOIN dt t ON t.cell = cc.cell AND t.sub = p.sub AND t.cid = p.cid
        WHERE p.vec_id <> 0
        GROUP BY p.vec_id
    )
    SELECT vec_id, ROUND(adc_d2, 6) AS adc_d2, rn FROM (
        SELECT vec_id, adc_d2,
               ROW_NUMBER() OVER (ORDER BY adc_d2, vec_id) AS rn
        FROM adc
    ) WHERE rn <= 10
    """,
    tags=("ann", "ivf-pq", "residual", "adc", "composition"),
)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ — the full FAISS form: PQ codebooks are
    trained on RESIDUALS (vector − assigned cell centroid), which
    on clustered real-world embeddings carry far less variance than
    raw vectors, so the same code budget quantizes much finer (on
    this deliberately isotropic synthetic corpus the residuals are
    as hard as the raw vectors, so recall matches plain IVF-ADC —
    the structural win appears exactly when the data has cell
    structure); at query time each probed cell gets
    its own distance table from the cell-specific query residual.
    The cells are the shared nearest-centroid step
    (operators/clustering.assign) against the 16 seed vectors
    broadcast as one row; a residual is one zip_with against that
    row, training is ``pq_train`` on the residual arrays, and the
    nprobe·m·k table rows broadcast. The oracle re-derives the whole
    pipeline — cell assignment, residuals, Lloyd, per-cell tables —
    in SQL."""
    from axolotls_spark.operators import clustering as CLU

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k, n_cells, nprobe = 16, 16, 4
    whole = CLU.subvectors(emb, 1, F.size("embedding"))
    cells = CLU.seed_row(whole, n_cells)
    cc = CLU.assign(whole, cells).select(
        "vec_id", F.col("cid").alias("cell"), "v"
    )
    cell_v = F.get(F.filter("c", lambda x: x["cid"] == F.col("cell")), 0)["v"]
    res = cc.crossJoin(F.broadcast(cells)).select(
        "vec_id",
        F.zip_with("v", cell_v, lambda a, b: a.cast("double") - b)
        .alias("embedding"),
    )
    codes, pc1 = CLU.pq_train(
        res, m=8, k=k, iters=1, dim=64, init_offset=n_cells
    )
    qres = _probe(whole, cells, nprobe).select(
        "cell", F.posexplode("qres").alias("pos0", "qv")
    ).select("cell", (F.col("pos0") + 1).alias("pos"), "qv")
    dt = (
        qres.join(
            F.broadcast(pc1.select("cid", "sub", "pos",
                                   F.col("cval").alias("bval"))),
            "pos",
        )
        .groupBy("cell", "cid", "sub")
        .agg(
            F.sum(
                (F.col("qv") - F.col("bval"))
                * (F.col("qv") - F.col("bval"))
            ).alias("pd2")
        )
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(cc.select("vec_id", "cell"), "vec_id")
        .join(F.broadcast(dt), ["cell", "sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("pd2").alias("adc_d2"))
    )
    return _adc_topk_tail(adc, k=10)


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

#: Anchors for hard-negative mining (same selection idiom as
#: cosine_topk's query set).
_HN_N_ANCHORS = 8
_HN_TOPK = 5


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS anchor_id, embedding AS qv, label AS qlbl
        FROM embeddings WHERE vec_id < {_HN_N_ANCHORS}
    ),
    scored AS (
        SELECT q.anchor_id, q.qlbl, c.vec_id AS cand_id,
               c.label AS clbl,
               {_SQL_DOT.format(a='q.qv', b='c.embedding')}
               / NULLIF({_SQL_NORM.format(v='q.qv')}
                        * {_SQL_NORM.format(v='c.embedding')}, 0) AS sim
        FROM q JOIN embeddings c ON c.vec_id <> q.anchor_id
    ),
    wp AS (
        SELECT *, MAX(CASE WHEN clbl = qlbl THEN sim END)
                      OVER (PARTITION BY anchor_id) AS pos_sim
        FROM scored
    ),
    ranked AS (
        SELECT anchor_id, cand_id, sim, pos_sim,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM wp WHERE clbl <> qlbl
    )
    SELECT anchor_id, cand_id AS negative_id, sim AS neg_sim, rn,
           pos_sim - sim AS margin,
           COALESCE(sim >= pos_sim, FALSE) AS violates
    FROM ranked WHERE rn <= {_HN_TOPK}
    """,
    tags=("similarity", "contrastive", "hard-negatives", "topk", "window"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    anchor, the top-5 most-similar vectors with a DIFFERENT
    label (the negatives a triplet loss learns most from), each
    carrying its margin against the anchor's best same-label
    similarity — ``violates`` marks negatives that currently rank
    above the best positive (the active triplet-loss violations).

    Scale shape: ONE broadcast-anchor scoring pass over the corpus;
    the same-label best positive rides in the SAME per-anchor window
    pass as the negative ranking (a conditional MAX over the anchor
    partition), so no second corpus scan and no scored-relation
    self-join. Per-anchor partitions are the parallelism unit —
    the cosine_topk shape, distributed across anchors."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _HN_N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlbl"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "qlbl",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("clbl"),
            (
                dot(F.col("qv"), F.col("embedding"))
                / F.nullif(
                    norm(F.col("qv")) * norm(F.col("embedding")), F.lit(0.0)
                )
            ).alias("sim"),
        )
    )
    wa = Window.partitionBy("anchor_id")
    ranked = (
        scored.withColumn(
            "pos_sim",
            F.max(
                F.when(F.col("clbl") == F.col("qlbl"), F.col("sim"))
            ).over(wa),
        )
        .filter(F.col("clbl") != F.col("qlbl"))
        .withColumn(
            "rn",
            F.row_number().over(
                wa.orderBy(F.col("sim").desc(), "cand_id")
            ),
        )
        .filter(F.col("rn") <= _HN_TOPK)
    )
    return ranked.select(
        "anchor_id",
        F.col("cand_id").alias("negative_id"),
        F.col("sim").alias("neg_sim"),
        "rn",
        (F.col("pos_sim") - F.col("sim")).alias("margin"),
        F.coalesce(
            F.col("sim") >= F.col("pos_sim"), F.lit(False)
        ).alias("violates"),
    )


@register(
    "silhouette_kmeans",
    oracle=_KMEANS_CTE + """
    ,
    d3 AS (
        SELECT l.vec_id, c.cid,
               SUM((l.val - c.cval) * (l.val - c.cval)) AS d2c
        FROM long l JOIN c2 c USING (pos)
        GROUP BY l.vec_id, c.cid
    ),
    sil AS (
        SELECT d3.vec_id, a2.cid AS acid,
               MIN(CASE WHEN d3.cid = a2.cid THEN d2c END) AS a2d,
               MIN(CASE WHEN d3.cid <> a2.cid THEN d2c END) AS b2d
        FROM d3 JOIN a2 ON d3.vec_id = a2.vec_id
        GROUP BY d3.vec_id, a2.cid
    )
    SELECT acid AS cid, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(AVG((SQRT(b2d) - SQRT(a2d))
                     / NULLIF(GREATEST(SQRT(a2d), SQRT(b2d)), 0)), 6)
               AS mean_silhouette
    FROM sil GROUP BY acid
    """,
    tags=("clustering", "kmeans", "silhouette", "evaluation", "embedding"),
)
def silhouette_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per k-means cluster: for each point,
    a = distance to its OWN final centroid, b = distance to the
    nearest OTHER centroid, s = (b - a) / max(a, b); report the
    per-cluster mean — the standard clustering-quality head
    (simplified silhouette replaces all-pairs member distances with
    centroid distances, turning O(N^2) into one broadcast-centroid
    pass; the convention sklearn calls "silhouette on centroids").

    Scale shape: ONE extra map-side distance pass of the assigned
    vectors against the broadcast one-row final centroids
    (``clustering.centroid_row``) on top of the certified kmeans run;
    a and b fall out of the same per-point array of k distances;
    output is k rows. Complements kmeans_inertia (which
    only sees within-cluster tightness — silhouette also penalizes
    overlapping clusters)."""
    from axolotls_spark.operators import clustering as CLU

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    assign, cents = CLU.kmeans(emb, k=8, iters=2)
    d = F.col("d")
    per_point = (
        assign.select("vec_id", F.col("cid").alias("acid"))
        .join(emb, "vec_id")
        .crossJoin(F.broadcast(CLU.centroid_row(cents)))
        .select("acid", F.transform("c", lambda x: F.struct(
            x["cid"].alias("cid"),
            sq_dist(F.col("embedding"), x["v"]).alias("d2"),
        )).alias("d"))
        .select(
            "acid",
            F.get(F.filter(d, lambda x: x["cid"] == F.col("acid")), 0)["d2"]
            .alias("a2d"),
            F.array_min(F.transform(
                F.filter(d, lambda x: x["cid"] != F.col("acid")),
                lambda x: x["d2"],
            )).alias("b2d"),
        )
    )
    a_d = F.sqrt(F.col("a2d"))
    b_d = F.sqrt(F.col("b2d"))
    s = F.try_divide(b_d - a_d, F.greatest(a_d, b_d))
    return per_point.groupBy(F.col("acid").alias("cid")).agg(
        F.count("*").alias("n_members"),
        F.round(F.avg(s), 6).alias("mean_silhouette"),
    )


# ---------------------------------------------------------------------------
# Exact maximum-inner-product top-k with Cauchy-Schwarz norm pruning
# ---------------------------------------------------------------------------

_MIPS_Q = 8      # query vectors (vec_id < _MIPS_Q)
_MIPS_K = 5
_MIPS_M = 200    # norm-descending candidate subset for the bound


@register(
    "mips_norm_pruned_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < {_MIPS_Q}
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               {_SQL_DOT.format(a='q.qv', b='c.embedding')} AS score
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, cand_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, cand_id) AS rn
        FROM scored
    )
    SELECT query_id, cand_id, CAST(score AS REAL) AS score,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_MIPS_K}
    """,
    tags=("mips", "inner-product", "topk", "norm-pruning",
          "similarity", "exact"),
)
def mips_norm_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximum-inner-product top-5 with Cauchy–Schwarz norm
    pruning (the LEMP/FEXIPRO family's first bound): score only the
    {_MIPS_M} largest-norm vectors first, take each query's
    provisional k-th best t_q, then the full corpus is filtered by
    ‖x‖·‖q‖ ≥ t_q BEFORE any dot product — every true top-k member
    survives (its score is ≥ t_q and ≤ ‖x‖‖q‖), so the result is
    bit-identical to brute force, which is exactly what the oracle
    runs.  MIPS ≠ cosine: popular/long vectors legitimately win, so
    the cosine family's normalization tricks don't apply.

    Scale shape: the candidate pass is TakeOrderedAndProject (top-M
    by norm, distributed per-partition top-k) scored against the
    broadcast query block; the corpus-wide phase is a map-side
    filter on a precomputed norm column — at 100 TB the dot products
    that never happen are the point (the pruned fraction is pinned
    in tests).  Requires corpus ≳ M for the bound to be meaningful;
    degrades to brute force, never to a wrong answer.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MIPS_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    return SIM.mips_norm_pruned_topk(
        q, emb, k=_MIPS_K, m=_MIPS_M
    ).select(
        "query_id",
        "cand_id",
        F.col("score").cast("float").alias("score"),
        F.col("rn").cast("long").alias("rn"),
    )


# --------------------------------------------------------------------------
# IVF index build-quality report — round 5.  Cell balance decides
# whether an IVF index scales: a skewed inverted file turns nprobe
# pruning into a full scan (hot cells) and wastes memory on empty
# ones.  One argmax assignment pass + two tiny aggregates.
# --------------------------------------------------------------------------


@register(
    "ivf_cell_balance",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cent_vec
        FROM embeddings WHERE vec_id < 16
    ),
    scored AS (
        SELECT e.vec_id, c.cell,
               {_SQL_DOT.format(a='e.embedding', b='c.cent_vec')}
               / NULLIF({_SQL_NORM.format(v='e.embedding')}
                        * {_SQL_NORM.format(v='c.cent_vec')}, 0) AS cell_sim
        FROM embeddings e, cents c
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cell_sim DESC, cell) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    sizes AS (SELECT cell, COUNT(*) AS sz FROM assigned GROUP BY cell),
    tot AS (
        SELECT CAST(SUM(sz) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(MIN(sz) AS BIGINT) AS min_cell,
               CAST(MAX(sz) AS BIGINT) AS max_cell,
               MAX(sz) / (SUM(sz) / CAST(COUNT(*) AS DOUBLE)) AS imb
        FROM sizes
    ),
    top4 AS (
        SELECT SUM(sz) AS s4 FROM (
            SELECT sz FROM sizes ORDER BY sz DESC, cell LIMIT 4
        )
    )
    SELECT tot.n_vecs, tot.n_cells, tot.min_cell, tot.max_cell,
           CAST(tot.imb AS REAL) AS imbalance,
           CAST(top4.s4 / CAST(tot.n_vecs AS DOUBLE) AS REAL)
               AS worst4_scan_frac
    FROM tot CROSS JOIN top4
    """,
    tags=("similarity", "ivf", "index-quality", "balance", "ann"),
)
def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file balance report for the 16-cell IVF index: cell
    count and size extremes, max/mean imbalance, and the worst-case
    scan fraction at nprobe=4 (the 4 largest cells' share of the
    corpus — the upper bound on how much of the index a probe can
    touch).  An imbalance near n_cells means the coarse quantizer
    collapsed and the 'index' is a full scan in disguise — the
    build-time preflight every 100 TB vector deployment runs before
    trusting its recall/latency model."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = emb.filter(F.col("vec_id") < 16)
    assigned = SIM.assign_cells(emb, cents)
    # 16-row relation with two consumers (gate totals + top-4 scan
    # bound) — each re-ran the corpus cell assignment without the pin.
    sizes = (
        assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("sz")).persist()
    )
    tot = sizes.agg(
        F.sum("sz").cast("long").alias("n_vecs"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("sz").cast("long").alias("min_cell"),
        F.max("sz").cast("long").alias("max_cell"),
        (
            F.max("sz") / (F.sum("sz") / F.count(F.lit(1)).cast("double"))
        ).alias("imb"),
    )
    top4 = (
        sizes.orderBy(F.desc("sz"), F.asc("cell"))
        .limit(4)
        .agg(F.sum("sz").alias("s4"))
    )
    return tot.crossJoin(F.broadcast(top4)).select(
        "n_vecs",
        "n_cells",
        "min_cell",
        "max_cell",
        F.col("imb").cast("float").alias("imbalance"),
        (F.col("s4") / F.col("n_vecs").cast("double"))
        .cast("float")
        .alias("worst4_scan_frac"),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap profile between two rankings
# ---------------------------------------------------------------------------

_RBO_P = 0.5  # persistence: exactly representable, pow(p, d) exact-ish
_RBO_YEARS = (1995, 1996)

#: cents-exact revenue: extendedprice (2dp) x (1-discount) (2dp) is an
#: exact 4-decimal number; x1e4 + round recovers the exact integer in
#: BOTH engines, so rank ORDER never depends on float-sum ulps.
_RBO_REV = (
    "CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"
)


@register(
    "rbo_rank_agreement",
    oracle=f"""
    WITH rev AS (
        SELECT YEAR(CAST(o.o_orderdate AS DATE)) AS yr,
               n.n_name AS nation,
               SUM({_RBO_REV}) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE YEAR(CAST(o.o_orderdate AS DATE)) IN {_RBO_YEARS}
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT yr, nation,
               ROW_NUMBER() OVER (PARTITION BY yr
                                  ORDER BY rev DESC, nation) AS rk
        FROM rev
    ),
    ra AS (SELECT nation, rk FROM ranked WHERE yr = {_RBO_YEARS[0]}),
    rb AS (SELECT nation, rk FROM ranked WHERE yr = {_RBO_YEARS[1]}),
    depths AS (
        SELECT UNNEST(range(1, (SELECT COUNT(*) FROM ra) + 1)) AS depth
    ),
    ov AS (
        SELECT d.depth,
               (SELECT COUNT(*) FROM ra JOIN rb USING (nation)
                WHERE ra.rk <= d.depth AND rb.rk <= d.depth) AS overlap
        FROM depths d
    )
    SELECT CAST(depth AS INT) AS depth,
           CAST(overlap AS BIGINT) AS overlap,
           CAST(overlap / CAST(depth AS DOUBLE) AS REAL) AS agreement,
           CAST(POW({_RBO_P}, depth - 1) AS REAL) AS weight,
           CAST(POW({_RBO_P}, depth - 1)
                * (overlap / CAST(depth AS DOUBLE)) AS REAL)
               AS contribution
    FROM ov ORDER BY depth
    """,
    tags=("rbo", "rank-agreement", "ir-eval", "top-k", "ranking"),
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap PROFILE (Webber, Moffat & Zobel, TOIS'10)
    between two rankings of the same items — here each nation ranked
    by 1995 vs 1996 revenue — the top-weighted agreement measure IR
    and retrieval-eval pipelines use where Kendall/Spearman treat
    every rank position equally (a swap at rank 1 should matter more
    than a swap at rank 24).

    Emits one row per depth d: prefix overlap |A_1..d ∩ B_1..d|, the
    agreement overlap/d, the geometric weight p^(d-1) (p = 0.5), and
    the per-depth RBO contribution.  The scalar RBO is (1-p) x the
    contribution sum — left to the consumer (and the numpy mirror
    test) deliberately: a 25-term float sum's accumulation ORDER is
    engine-specific, while every per-row value here is a short fixed
    sequence of correctly-rounded ops, so the profile itself is
    hash-exact.  Rank order can never diverge between engines
    because revenue is aggregated in exact integer CENTS x 100
    (2dp x 2dp = 4dp, recovered exactly by round(x*1e4)) — ranking
    by a SUM(double) would let last-ulp accumulation differences
    swap adjacent ranks.

    Scale shape: one aggregate to (year, nation) — 50 rows; windows,
    the depth spine, and the prefix-overlap join all run on
    broadcast-sized relations.  For a 100 TB ranking (items = docs,
    not nations) the same plan holds with the rank from the
    distributed-rank primitive and depths capped at the evaluation
    cutoff."""
    y0, y1 = _RBO_YEARS
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cst, o.o_custkey == cst.c_custkey)
        .join(F.broadcast(nat), cst.c_nationkey == nat.n_nationkey)
        .withColumn("yr", F.year(F.col("o_orderdate").cast("date")))
        .filter(F.col("yr").isin(*_RBO_YEARS))
        .groupBy("yr", F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 10000
                ).cast("long")
            ).alias("rev")
        )
    )
    ranked = (
        rev.select(
            "yr",
            "nation",
            F.row_number()
            .over(
                Window.partitionBy("yr").orderBy(
                    F.col("rev").desc(), "nation"
                )
            )
            .alias("rk"),
        ).persist()  # feeds both ranking sides and the depth count
    )
    ra = ranked.filter(F.col("yr") == y0).select("nation", F.col("rk").alias("rka"))
    rb = ranked.filter(F.col("yr") == y1).select("nation", F.col("rk").alias("rkb"))
    n_items = ra.agg(F.count(F.lit(1)).alias("n_items"))
    depths = n_items.select(
        F.explode(F.sequence(F.lit(1), F.col("n_items"))).alias("depth")
    )
    joined = ra.join(rb, "nation")
    ov = (
        depths.join(
            F.broadcast(joined),
            (F.col("rka") <= F.col("depth")) & (F.col("rkb") <= F.col("depth")),
            "left",
        )
        .groupBy("depth")
        .agg(F.count("nation").cast("long").alias("overlap"))
    )
    agreement = F.col("overlap") / F.col("depth").cast("double")
    weight = F.pow(F.lit(_RBO_P), F.col("depth") - 1)
    return ov.select(
        F.col("depth").cast("int"),
        "overlap",
        agreement.cast("float").alias("agreement"),
        weight.cast("float").alias("weight"),
        (weight * agreement).cast("float").alias("contribution"),
    ).orderBy("depth")


# ---------------------------------------------------------------------------
# Linear CKA — representation alignment between two feature blocks
# ---------------------------------------------------------------------------

_CKA_D = 16  # block size: dims 1..16 vs 17..32


@register(
    "cka_embedding_alignment",
    oracle=f"""
    WITH long AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    xl AS (SELECT vec_id, pos AS i, val AS xv FROM long
           WHERE pos <= {_CKA_D}),
    yl AS (SELECT vec_id, pos - {_CKA_D} AS j, val AS yv FROM long
           WHERE pos > {_CKA_D} AND pos <= {2 * _CKA_D}),
    mx AS (SELECT i, SUM(xv) AS sx, COUNT(*)::DOUBLE AS n
           FROM xl GROUP BY i),
    my AS (SELECT j, SUM(yv) AS sy FROM yl GROUP BY j),
    sxy AS (
        SELECT x.i, y.j, SUM(x.xv * y.yv) AS s
        FROM xl x JOIN yl y ON x.vec_id = y.vec_id GROUP BY x.i, y.j
    ),
    sxx AS (
        SELECT a.i, b.i AS i2, SUM(a.xv * b.xv) AS s
        FROM xl a JOIN xl b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
    ),
    syy AS (
        SELECT a.j, b.j AS j2, SUM(a.yv * b.yv) AS s
        FROM yl a JOIN yl b ON a.vec_id = b.vec_id GROUP BY a.j, b.j
    ),
    hxy AS (
        SELECT SUM(POW(sxy.s - mxa.sx * mya.sy / mxa.n, 2)) AS h
        FROM sxy JOIN mx mxa ON mxa.i = sxy.i
                 JOIN my mya ON mya.j = sxy.j
    ),
    hxx AS (
        SELECT SUM(POW(sxx.s - a.sx * b.sx / a.n, 2)) AS h
        FROM sxx JOIN mx a ON a.i = sxx.i JOIN mx b ON b.i = sxx.i2
    ),
    hyy AS (
        SELECT SUM(POW(syy.s - a.sy * b.sy / mn.n, 2)) AS h
        FROM syy JOIN my a ON a.j = syy.j JOIN my b ON b.j = syy.j2
        CROSS JOIN (SELECT MAX(n) AS n FROM mx) mn
    )
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM mx) AS n_rows,
           {_CKA_D} AS d_x, {_CKA_D} AS d_y,
           CAST(hxy.h / (sqrt(hxx.h) * sqrt(hyy.h)) AS REAL)
               AS cka_linear
    FROM hxy CROSS JOIN hxx CROSS JOIN hyy
    """,
    tags=("cka", "representation-similarity", "embedding", "alignment",
          "second-moment"),
)
def cka_embedding_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear Centered Kernel Alignment (Kornblith et al. 2019)
    between two feature blocks of the embedding space (dims 1..16 vs
    17..32) — the standard representation-similarity statistic for
    questions like "does the projected/quantized/new-checkpoint
    space preserve the geometry of the old one".  Linear CKA =
    ‖Cov(X,Y)‖²_F / (‖Cov(X,X)‖_F · ‖Cov(Y,Y)‖_F); a value near 0
    says the blocks carry independent directions (as expected on
    this synthetic corpus), near 1 says they are rotations of each
    other.

    The covariances are computed the distributed way: ONE long-form
    explode, then (i,j)-keyed co-moment aggregates Σ x_i·y_j — the
    N×d corpus is reduced to d² co-moment cells by an equi-join on
    vec_id (each row meets only its own d² feature pairs — work is
    N·d², never N²), and the centering term subtracts the broadcast
    per-dim means.  At 100 TB this is the same Gram-partial pattern
    ``pca_project_embeddings`` uses, with the d×d result tiny by
    construction; the mirror test recomputes CKA from raw NumPy
    matrices (centering first, then one matmul — a genuinely
    different evaluation order)."""
    d = _CKA_D
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("v").cast("double").alias("val"),
    )
    xl = emb.filter(F.col("pos") <= d).select(
        "vec_id", F.col("pos").alias("i"), F.col("val").alias("xv")
    )
    yl = emb.filter((F.col("pos") > d) & (F.col("pos") <= 2 * d)).select(
        "vec_id", (F.col("pos") - d).alias("j"), F.col("val").alias("yv")
    )
    mx = xl.groupBy("i").agg(
        F.sum("xv").alias("sx"), F.count(F.lit(1)).cast("double").alias("n")
    )
    my = yl.groupBy("j").agg(F.sum("yv").alias("sy"))
    sxy = (
        xl.alias("x")
        .join(yl.alias("y"), "vec_id")
        .groupBy(F.col("x.i").alias("i"), F.col("y.j").alias("j"))
        .agg(F.sum(F.col("x.xv") * F.col("y.yv")).alias("s"))
    )
    sxx = (
        xl.alias("a")
        .join(xl.alias("b"), "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("i2"))
        .agg(F.sum(F.col("a.xv") * F.col("b.xv")).alias("s"))
    )
    syy = (
        yl.alias("a")
        .join(yl.alias("b"), "vec_id")
        .groupBy(F.col("a.j").alias("j"), F.col("b.j").alias("j2"))
        .agg(F.sum(F.col("a.yv") * F.col("b.yv")).alias("s"))
    )
    hxy = (
        sxy.join(F.broadcast(mx), "i")
        .join(F.broadcast(my), "j")
        .agg(
            F.sum(
                F.pow(
                    F.col("s") - F.col("sx") * F.col("sy") / F.col("n"), 2
                )
            ).alias("hxy")
        )
    )
    mxa = mx.select(F.col("i"), F.col("sx").alias("sxa"), F.col("n"))
    mxb = mx.select(F.col("i").alias("i2"), F.col("sx").alias("sxb"))
    hxx = (
        sxx.join(F.broadcast(mxa), "i")
        .join(F.broadcast(mxb), "i2")
        .agg(
            F.sum(
                F.pow(
                    F.col("s") - F.col("sxa") * F.col("sxb") / F.col("n"),
                    2,
                )
            ).alias("hxx")
        )
    )
    mya = my.select(F.col("j"), F.col("sy").alias("sya"))
    myb = my.select(F.col("j").alias("j2"), F.col("sy").alias("syb"))
    nrow = mx.agg(F.max("n").alias("n"))
    hyy = (
        syy.join(F.broadcast(mya), "j")
        .join(F.broadcast(myb), "j2")
        .crossJoin(F.broadcast(nrow))
        .agg(
            F.sum(
                F.pow(
                    F.col("s") - F.col("sya") * F.col("syb") / F.col("n"),
                    2,
                )
            ).alias("hyy")
        )
    )
    return (
        hxy.crossJoin(F.broadcast(hxx))
        .crossJoin(F.broadcast(hyy))
        .crossJoin(F.broadcast(nrow))
        .select(
            F.col("n").cast("long").alias("n_rows"),
            F.lit(d).alias("d_x"),
            F.lit(d).alias("d_y"),
            (
                F.col("hxy")
                / (F.sqrt(F.col("hxx")) * F.sqrt(F.col("hyy")))
            )
            .cast("float")
            .alias("cka_linear"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive-representation quality: alignment & uniformity (Wang-Isola)
# ---------------------------------------------------------------------------

_AU_BUCKETS = 16  # uniformity pair sample: unordered pair inclusion p=1/B


@register(
    "alignment_uniformity",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding,
               {_SQL_NORM.format(v='embedding')} AS nrm,
               ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                   ::BIGINT % {_AU_BUCKETS} AS bkt
        FROM embeddings
    ),
    pos AS (
        SELECT 2.0 - 2.0 * ({_SQL_DOT.format(a='a.embedding',
                                             b='b.embedding')}
                            / (a.nrm * b.nrm)) AS d2
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    unif AS (
        SELECT 2.0 - 2.0 * ({_SQL_DOT.format(a='a.embedding',
                                             b='b.embedding')}
                            / (a.nrm * b.nrm)) AS d2
        FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    )
    SELECT (SELECT COUNT(*)::BIGINT FROM e) AS n_vecs,
           (SELECT COUNT(*)::BIGINT FROM pos) AS n_pos_pairs,
           (SELECT COUNT(*)::BIGINT FROM unif) AS n_sample_pairs,
           CAST((SELECT AVG(d2) FROM pos) AS REAL) AS alignment,
           CAST((SELECT ln(AVG(exp(-2.0 * d2))) FROM unif) AS REAL)
               AS uniformity
    """,
    tags=("embedding", "contrastive", "alignment", "uniformity",
          "representation-quality"),
)
def alignment_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment & uniformity (Wang & Isola 2020) — the two numbers
    that summarize a contrastive embedding space: alignment = mean
    squared distance between SAME-LABEL pairs on the unit sphere
    (smaller = positives cluster), uniformity = log E[exp(−2·d²)]
    over ALL pairs (more negative = features spread over the
    sphere).  Good encoders push both down; a collapsed encoder has
    perfect alignment and catastrophic uniformity, which is exactly
    the failure this query exists to catch before a retrieval index
    is built on the embeddings.

    Distributed pair discipline: positive pairs are a LABEL-keyed
    equi-join (work Σ|label|², never N²); the uniformity expectation
    is estimated on a hash-bucket pair sample — every unordered pair
    collides in the same md5 bucket with probability exactly 1/B, a
    uniform inclusion probability, so the bucket-join relation is an
    unbiased pair sample at 1/B the cost and the estimator is the
    plain average over it (B=16, documented; the full-pair oracle
    would be N² and is exactly what this query refuses to do).
    Distances come from the left-fold dot product both engines
    compute bit-identically (the ``cosine_topk`` property), so even
    the sampled pair set matches exactly."""
    from axolotls_spark.operators.dedup import token_hash

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        (token_hash(F.col("vec_id").cast("string")) % _AU_BUCKETS).alias(
            "bkt"
        ),
    )
    # Both pair joins key on LOW-CARDINALITY columns (|labels|, 16
    # buckets), so the sort-merge exchange capped parallelism at the
    # key count and the 64-dim dot products ran on ≤9 tasks (2.1
    # cpu_s serialized).  Broadcasting one side turns each into a
    # BroadcastHashJoin whose STREAMED side is the spread scan — the
    # pair generation + dot fold now parallelize with the corpus
    # scan, not with the key cardinality.  The broadcast side is the
    # bounded embeddings slice (~600 KB here; vectors are the small
    # relation by design at every SF) — NOT the r7 corpus-broadcast
    # hazard class, which concerned corpus-scaled build sides.
    a = SIM.spread_for_cpu(emb, "vec_id").alias("a")
    b = F.broadcast(emb.alias("b"))

    def d2() -> F.Column:
        return 2.0 - 2.0 * (
            dot(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.nrm") * F.col("b.nrm"))
        )

    pos = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(d2().alias("d2"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pos_pairs"),
            F.avg("d2").alias("alignment"),
        )
    )
    unif = (
        a.join(
            b,
            (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(d2().alias("d2"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sample_pairs"),
            F.log(F.avg(F.exp(-2.0 * F.col("d2")))).alias("uniformity"),
        )
    )
    nv = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    return (
        nv.crossJoin(F.broadcast(pos))
        .crossJoin(F.broadcast(unif))
        .select(
            "n_vecs",
            "n_pos_pairs",
            "n_sample_pairs",
            F.col("alignment").cast("float").alias("alignment"),
            F.col("uniformity").cast("float").alias("uniformity"),
        )
    )


# ---------------------------------------------------------------------------
# Effective rank of the embedding covariance (representation collapse)
# ---------------------------------------------------------------------------


@register(
    "embedding_effective_rank",
    oracle="""
    WITH long AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    mu AS (
        SELECT pos, SUM(val) AS s, COUNT(*)::DOUBLE AS n
        FROM long GROUP BY pos
    ),
    cov AS (
        SELECT a.pos AS i, b.pos AS j,
               (SUM(a.val * b.val)
                - ma.s * mb.s / ma.n) / (ma.n - 1) AS c
        FROM long a
        JOIN long b ON a.vec_id = b.vec_id
        JOIN mu ma ON ma.pos = a.pos
        JOIN mu mb ON mb.pos = b.pos
        GROUP BY a.pos, b.pos, ma.s, mb.s, ma.n
    ),
    tr AS (
        SELECT SUM(CASE WHEN i = j THEN c ELSE 0 END) AS trc,
               SUM(c * c) AS trc2,
               COUNT(DISTINCT i)::BIGINT AS d
        FROM cov
    )
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM mu) AS n_rows,
           d AS n_dims,
           CAST(trc AS REAL) AS total_variance,
           CAST(trc * trc / trc2 AS REAL) AS effective_rank,
           CAST(trc * trc / trc2 / d AS REAL) AS rank_fraction
    FROM tr
    """,
    tags=("embedding", "effective-rank", "collapse", "rankme",
          "second-moment"),
)
def embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective rank (participation ratio) of the embedding
    covariance, erank = tr(C)²/tr(C²) = (Σλ)²/Σλ² — the
    dimensional-collapse detector for representation spaces
    (RankMe-family diagnostic): an encoder whose 64-dim output
    really uses ~5 directions scores erank ≈ 5 and will bottleneck
    retrieval no matter how the index is built.  Complements
    ``alignment_uniformity`` (pairwise geometry) and
    ``pca_project_embeddings`` (which extracts the directions; this
    scores their spread WITHOUT any eigendecomposition — both traces
    are pure covariance algebra, because Σλ = tr(C) and
    Σλ² = ‖C‖²_F).

    Scale shape: same (i,j)-keyed co-moment pattern as
    ``cka_embedding_alignment`` — the vec_id equi-join meets each
    row with its own d² feature pairs (work N·d², never N²), the
    d×d covariance is broadcast-sized, and the traces are one
    aggregate over it."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("v").cast("double").alias("val"),
    )
    mu = emb.groupBy("pos").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).cast("double").alias("n")
    )
    a, b = emb.alias("a"), emb.alias("b")
    cov = (
        a.join(b, "vec_id")
        .groupBy(F.col("a.pos").alias("i"), F.col("b.pos").alias("j"))
        .agg(F.sum(F.col("a.val") * F.col("b.val")).alias("sab"))
        .join(
            F.broadcast(
                mu.select(F.col("pos").alias("i"), F.col("s").alias("sa"),
                          "n")
            ),
            "i",
        )
        .join(
            F.broadcast(
                mu.select(F.col("pos").alias("j"), F.col("s").alias("sb"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            (
                (F.col("sab") - F.col("sa") * F.col("sb") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("c"),
        )
    )
    tr = cov.agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("c")).otherwise(0.0))
        .alias("trc"),
        F.sum(F.col("c") * F.col("c")).alias("trc2"),
        F.countDistinct("i").cast("long").alias("d"),
    )
    nrow = mu.agg(F.max("n").cast("long").alias("n_rows"))
    return tr.crossJoin(F.broadcast(nrow)).select(
        "n_rows",
        F.col("d").alias("n_dims"),
        F.col("trc").cast("float").alias("total_variance"),
        (F.col("trc") * F.col("trc") / F.col("trc2"))
        .cast("float")
        .alias("effective_rank"),
        (F.col("trc") * F.col("trc") / F.col("trc2") / F.col("d"))
        .cast("float")
        .alias("rank_fraction"),
    )


# ---------------------------------------------------------------------------
# Cluster-label agreement: normalized mutual information
# ---------------------------------------------------------------------------


@register(
    "cluster_label_nmi",
    oracle=_KMEANS_CTE + """
    , lab AS (
        SELECT e.vec_id, a2.cid, e.label FROM embeddings e
        JOIN a2 ON a2.vec_id = e.vec_id
    ),
    cont AS (
        SELECT cid, label, COUNT(*)::DOUBLE AS nij FROM lab GROUP BY 1, 2
    ),
    margc AS (SELECT cid, SUM(nij) AS ni FROM cont GROUP BY cid),
    margl AS (SELECT label, SUM(nij) AS nj FROM cont GROUP BY label),
    tot AS (SELECT SUM(nij) AS n FROM cont),
    mi AS (
        SELECT SUM(c.nij / t.n
                   * ln(c.nij * t.n / (mc.ni * ml.nj))) AS mi
        FROM cont c
        JOIN margc mc USING (cid)
        JOIN margl ml USING (label)
        CROSS JOIN tot t
    ),
    hc AS (
        SELECT -SUM(ni / t.n * ln(ni / t.n)) AS h
        FROM margc CROSS JOIN tot t
    ),
    hl AS (
        SELECT -SUM(nj / t.n * ln(nj / t.n)) AS h
        FROM margl CROSS JOIN tot t
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_vecs,
           (SELECT COUNT(*)::BIGINT FROM margc) AS n_clusters,
           (SELECT COUNT(*)::BIGINT FROM margl) AS n_labels,
           CAST(mi.mi AS REAL) AS mutual_info,
           CAST(mi.mi / sqrt(hc.h * hl.h) AS REAL) AS nmi
    FROM mi CROSS JOIN hc CROSS JOIN hl
    """,
    tags=("clustering", "nmi", "evaluation", "mutual-information",
          "external-validity"),
)
def cluster_label_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between the k-means clusters
    and the ground-truth labels — the EXTERNAL cluster-validity
    score (``silhouette_kmeans`` is the internal one: geometry only;
    NMI asks whether the clusters recover the labeling): NMI =
    I(C;L)/√(H(C)·H(L)), all from the k×|labels| contingency
    relation.  Near 0 on this corpus — the synthetic embeddings
    carry no label structure — which is the honest readout and
    exactly what the score exists to reveal before anyone ships
    "clusters ≈ topics".

    Scale shape: the k-means assignment is the shared broadcast-
    Lloyd operator (one map-side pass of the vectors per iteration
    against a one-row centroid broadcast, the same plan every
    kmeans_* query certifies); NMI itself is one contingency
    aggregate (≤ k·|labels| cells) plus scalar entropy algebra on
    it."""
    from axolotls_spark.operators import clustering as CLU

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    assign, _ = CLU.kmeans(emb.select("vec_id", "embedding"), k=8, iters=2)
    lab = assign.select("vec_id", "cid").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    # Not persisted: every reader of the contingency table and its two
    # marginals reuses the exchanges of the one k-means plan, while a
    # persist keeps 32 partitions per cached relation (sf0.1: 33 jobs
    # and 33 tasks without the persists, 35 and 624 with them).
    cont = lab.groupBy("cid", "label").agg(
        F.count(F.lit(1)).cast("double").alias("nij")
    )
    margc = cont.groupBy("cid").agg(F.sum("nij").alias("ni"))
    margl = cont.groupBy("label").agg(F.sum("nij").alias("nj"))
    tot = cont.agg(F.sum("nij").alias("n"))
    mi = (
        cont.join(F.broadcast(margc), "cid")
        .join(F.broadcast(margl), "label")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("nij")
                / F.col("n")
                * F.log(
                    F.col("nij") * F.col("n") / (F.col("ni") * F.col("nj"))
                )
            ).alias("mi")
        )
    )
    hc = margc.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(F.col("ni") / F.col("n")
                * F.log(F.col("ni") / F.col("n")))).alias("hc")
    )
    hl = margl.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(F.col("nj") / F.col("n")
                * F.log(F.col("nj") / F.col("n")))).alias("hl")
    )
    counts = tot.crossJoin(
        F.broadcast(margc.agg(F.count(F.lit(1)).cast("long").alias("nc")))
    ).crossJoin(
        F.broadcast(margl.agg(F.count(F.lit(1)).cast("long").alias("nl")))
    )
    return (
        counts.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .select(
            F.col("n").cast("long").alias("n_vecs"),
            F.col("nc").alias("n_clusters"),
            F.col("nl").alias("n_labels"),
            F.col("mi").cast("float").alias("mutual_info"),
            (F.col("mi") / F.sqrt(F.col("hc") * F.col("hl")))
            .cast("float")
            .alias("nmi"),
        )
    )


@register(
    "retrieval_mrr_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS q_lab
               FROM embeddings WHERE vec_id % 25 = 0),
    nrel AS (
        SELECT label, COUNT(*)::BIGINT AS n_lab FROM embeddings GROUP BY label
    ),
    ranked AS (
        SELECT q.query_id, q.q_lab, c.label AS c_lab,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_SQL_DOT.format(a='q.q_vec', b='c.embedding')}
                            / NULLIF({_SQL_NORM.format(v='q.q_vec')}
                                     * {_SQL_NORM.format(v='c.embedding')},
                                     0) DESC,
                            c.vec_id) AS rn
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ),
    per AS (
        SELECT r.query_id,
               MIN(CASE WHEN r.c_lab = r.q_lab THEN r.rn END) AS first_rel,
               SUM(CASE WHEN r.c_lab = r.q_lab THEN 1 ELSE 0 END)::BIGINT
                   AS hits,
               MAX(nrel.n_lab - 1) AS n_rel
        FROM ranked r
        JOIN nrel ON nrel.label = r.q_lab
        WHERE r.rn <= 10
        GROUP BY r.query_id
    )
    SELECT COUNT(*)::BIGINT AS n_queries,
           CAST(ROUND(AVG(COALESCE(1.0 / first_rel, 0.0)), 6) AS REAL)
               AS mrr_at_10,
           CAST(ROUND(AVG(CASE WHEN hits > 0 THEN 1.0 ELSE 0.0 END), 6)
               AS REAL) AS hit_rate_at_10,
           CAST(ROUND(AVG(CAST(hits AS DOUBLE) / LEAST(10, n_rel)), 6)
               AS REAL) AS recall_at_10,
           CAST(ROUND(AVG(CAST(hits AS DOUBLE) / 10.0), 6) AS REAL)
               AS precision_at_10
    FROM per
    """,
    tags=("retrieval-eval", "mrr", "recall", "ranking", "similarity",
          "embedding"),
)
def retrieval_mrr_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 / hit-rate@10 / recall@10 / precision@10 for the exact
    cosine ranking, with same-``label`` as the relevance oracle — the
    standard retrieval-eval scorecard (`retrieval_ndcg` grades one
    graded ranking; this is the binary-relevance battery every ANN
    build gets judged by before its recall knob is trusted).  Every
    1-in-25 vector plays query; relevant = the other members of its
    label; ranks are (sim DESC, vec_id) so cross-engine float ties
    cannot reorder — the same left-fold bit-exact dot product
    ``cosine_topk`` relies on.

    Scale shape: the corpus is never shuffled — queries broadcast
    across it, the per-query ranking window is PARTITIONED by
    query_id (hash exchange of scored rows only), the per-label
    counts relation is |labels| rows broadcast back, and the final
    scorecard is one fold over |Q| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_lab"),
    )
    nrel = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_lab")
    )
    # The broadcast join streams the CORPUS side, and a kilobytes-
    # per-row parquet scan is one partition — so all |Q|x|C| cosines
    # ran on a single task (measured: 7 tasks, 2.9 cpu_s, 4.2 s
    # wall).  Spread ONLY the streamed side (nrel's aggregate doesn't
    # need it); no-op once file count provides scan parallelism.
    scored = (
        F.broadcast(q)
        .join(
            SIM.spread_for_cpu(emb, "vec_id").alias("c"),
            F.col("c.vec_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            "q_lab",
            F.col("c.label").alias("c_lab"),
            F.col("c.vec_id").alias("cand_id"),
            cosine(F.col("q_vec"), F.col("c.embedding")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    per = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .join(
            F.broadcast(nrel),
            F.col("label") == F.col("q_lab"),
        )
        .groupBy("query_id")
        .agg(
            F.min(
                F.when(F.col("c_lab") == F.col("q_lab"), F.col("rn"))
            ).alias("first_rel"),
            F.sum(
                F.when(F.col("c_lab") == F.col("q_lab"), 1).otherwise(0)
            ).cast("long").alias("hits"),
            (F.max("n_lab") - 1).alias("n_rel"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.avg(F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0))),
            6,
        ).cast("float").alias("mrr_at_10"),
        F.round(
            F.avg(F.when(F.col("hits") > 0, 1.0).otherwise(0.0)), 6
        ).cast("float").alias("hit_rate_at_10"),
        F.round(
            F.avg(
                F.col("hits").cast("double")
                / F.least(F.lit(10), F.col("n_rel"))
            ),
            6,
        ).cast("float").alias("recall_at_10"),
        F.round(
            F.avg(F.col("hits").cast("double") / 10.0), 6
        ).cast("float").alias("precision_at_10"),
    )


@register(
    "reciprocal_best_match",
    oracle=f"""
    WITH x AS (SELECT vec_id AS x_id, embedding AS xv
               FROM embeddings WHERE vec_id % 20 = 0),
    y AS (SELECT vec_id AS y_id, embedding AS yv
          FROM embeddings WHERE vec_id % 2 = 1),
    scored AS (
        SELECT x_id, y_id,
               {_SQL_DOT.format(a='xv', b='yv')}
               / NULLIF({_SQL_NORM.format(v='xv')}
                        * {_SQL_NORM.format(v='yv')}, 0) AS sim
        FROM x JOIN y ON x_id <> y_id
    ),
    best_xy AS (
        SELECT x_id, y_id, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY x_id
                                         ORDER BY sim DESC, y_id) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    best_yx AS (
        SELECT x_id, y_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY y_id
                                         ORDER BY sim DESC, x_id) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT b.x_id, b.y_id, b.sim
    FROM best_xy b JOIN best_yx r ON b.x_id = r.x_id AND b.y_id = r.y_id
    ORDER BY b.x_id
    """,
    tags=("similarity", "mutual-nearest", "bitext-mining", "alignment",
          "embedding"),
)
def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairs between two embedding slices
    (even-id queries x odd-id corpus) — the reciprocal-best-hit
    criterion of bitext mining / cross-snapshot entity alignment:
    keep (x, y) only when y is x's top cosine match AND x is y's.
    One-directional top-1 (`cosine_topk`'s shape) keeps hubs — a
    point that is everyone's nearest neighbor produces many false
    pairs; mutuality is the classic cheap hub filter.

    Scale shape: the query slice is broadcast (5% of ids), the corpus
    side is never shuffled for scoring; the two argmax windows run on
    the scored relation partitioned by each side in turn, and the
    mutual join is an equi-join of two top-1 relations (<= |X| + |Y|
    rows).  Determinism: the dot product is the same sequential fold
    text in both engines (bit-identical sims — the cosine_topk
    discipline), ties broken by id."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("x_id"), F.col("embedding").alias("xv")
    )
    yc = SIM.spread_for_cpu(
        emb.filter(F.col("vec_id") % 2 == 1), "vec_id"
    ).select(F.col("vec_id").alias("y_id"), F.col("embedding").alias("yv"))

    # The scored relation feeds BOTH argmax directions: one |X|·|Y|
    # cosine sweep (the query's dominant compute), not two.
    scored = materialize(
        yc.join(F.broadcast(x), F.col("x_id") != F.col("y_id"))
        .select(
            "x_id",
            "y_id",
            SIM.cosine(F.col("xv"), F.col("yv")).alias("sim"),
        )
    )
    wx = Window.partitionBy("x_id").orderBy(F.desc("sim"), F.asc("y_id"))
    wy = Window.partitionBy("y_id").orderBy(F.desc("sim"), F.asc("x_id"))
    best_xy = (
        scored.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") == 1)
        .select("x_id", "y_id", "sim")
    )
    best_yx = (
        scored.withColumn("rn", F.row_number().over(wy))
        .filter(F.col("rn") == 1)
        .select(
            F.col("x_id").alias("rx_id"), F.col("y_id").alias("ry_id")
        )
    )
    return (
        best_xy.join(
            best_yx,
            (best_xy["x_id"] == best_yx["rx_id"])
            & (best_xy["y_id"] == best_yx["ry_id"]),
        )
        .select("x_id", "y_id", "sim")
        .orderBy("x_id")
    )


# ---------------------------------------------------------------------------
# Vector-index lifecycle composite: build -> balance gate -> probe ->
# recall report, as ONE user-facing oracle-checked query (VERDICT r6
# item #7 — the ANN sibling of `daily_ingestion`).
# ---------------------------------------------------------------------------

_VIL_NPROBE = 4
_VIL_K = 10


@register(
    "vector_index_lifecycle",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cent_vec
        FROM embeddings WHERE vec_id < 16
    ),
    corpus_scored AS (
        SELECT e.vec_id AS cand_id, c.cell,
               {_SQL_DOT.format(a='e.embedding', b='c.cent_vec')}
               / NULLIF({_SQL_NORM.format(v='e.embedding')}
                        * {_SQL_NORM.format(v='c.cent_vec')}, 0) AS cell_sim
        FROM embeddings e, cents c
    ),
    corpus_cells AS (
        SELECT cand_id, cell FROM (
            SELECT cand_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY cand_id
                                      ORDER BY cell_sim DESC, cell) AS rn
            FROM corpus_scored
        ) WHERE rn = 1
    ),
    sizes AS (SELECT cell, COUNT(*) AS sz FROM corpus_cells GROUP BY cell),
    tot AS (
        SELECT CAST(SUM(sz) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(MAX(sz) AS BIGINT) AS max_cell,
               MAX(sz) / (SUM(sz) / CAST(COUNT(*) AS DOUBLE)) AS imb
        FROM sizes
    ),
    top4 AS (
        SELECT SUM(sz) AS s4 FROM (
            SELECT sz FROM sizes ORDER BY sz DESC, cell LIMIT 4
        )
    ),
    probe_cells AS (
        SELECT query_id, cell FROM (
            SELECT cs.cand_id AS query_id, cs.cell,
                   ROW_NUMBER() OVER (PARTITION BY cs.cand_id
                                      ORDER BY cs.cell_sim DESC, cs.cell)
                       AS rn
            FROM corpus_scored cs WHERE cs.cand_id % 25 = 0
        ) WHERE rn <= {_VIL_NPROBE}
    ),
    scan AS (
        SELECT p.query_id, SUM(s.sz) - 1 AS n_cand
        FROM probe_cells p JOIN sizes s ON s.cell = p.cell
        GROUP BY p.query_id
    ),
    ivf10 AS (
        SELECT query_id, cand_id FROM (
            SELECT s.query_id, s.cand_id,
                   ROW_NUMBER() OVER (PARTITION BY s.query_id
                                      ORDER BY s.sim DESC, s.cand_id) AS rn
            FROM (
                SELECT p.query_id, cc.cand_id,
                       {_SQL_DOT.format(a='q.embedding', b='c.embedding')}
                       / NULLIF({_SQL_NORM.format(v='q.embedding')}
                                * {_SQL_NORM.format(v='c.embedding')}, 0)
                           AS sim
                FROM probe_cells p
                JOIN corpus_cells cc ON cc.cell = p.cell
                                    AND cc.cand_id <> p.query_id
                JOIN embeddings q ON q.vec_id = p.query_id
                JOIN embeddings c ON c.vec_id = cc.cand_id
            ) s
        ) WHERE rn <= {_VIL_K}
    ),
    exact10 AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_SQL_DOT.format(a='q.embedding',
                                                 b='c.embedding')}
                                / NULLIF({_SQL_NORM.format(v='q.embedding')}
                                         * {_SQL_NORM.format(
                                             v='c.embedding')}, 0) DESC,
                                c.vec_id) AS rn
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id % 25 = 0
        ) WHERE rn <= {_VIL_K}
    ),
    hits AS (
        SELECT e.query_id,
               SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_hit
        FROM exact10 e
        LEFT JOIN ivf10 i ON i.query_id = e.query_id
                         AND i.cand_id = e.cand_id
        GROUP BY e.query_id
    ),
    rec AS (
        SELECT COUNT(*)::BIGINT AS n_queries,
               AVG(n_hit / {_VIL_K}.0) AS recall
        FROM hits
    ),
    probe_cost AS (SELECT AVG(n_cand) AS avg_cand FROM scan)
    SELECT tot.n_vecs, tot.n_cells, tot.max_cell,
           CAST(tot.imb AS REAL) AS imbalance,
           CAST(top4.s4 / CAST(tot.n_vecs AS DOUBLE) AS REAL)
               AS worst4_scan_frac,
           rec.n_queries,
           CAST(ROUND(probe_cost.avg_cand / (tot.n_vecs - 1), 6) AS REAL)
               AS avg_probe_frac,
           CAST(ROUND(rec.recall, 6) AS REAL) AS recall_at_10
    FROM tot, top4, rec, probe_cost
    """,
    tags=("similarity", "ivf", "ann", "composite", "index-lifecycle",
          "retrieval-eval", "pipeline"),
)
def vector_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end vector-index lifecycle as ONE report row — the ANN
    sibling of `daily_ingestion`: IVF build (argmax cell assignment,
    16 deterministic centroids) → balance gate (`ivf_cell_balance`'s
    imbalance + worst-case nprobe scan fraction) → probe (every
    1-in-25 vector queries its 4 nearest cells) → quality report
    (measured per-query candidate fraction AND recall@10 of the probe
    vs the exact cosine ranking).  This is the decision artifact a
    100 TB vector deployment reads before trusting an index: the cost
    side (avg_probe_frac — how much of the corpus a probe actually
    scores) and the quality side (recall_at_10) of the same build,
    from the same assignment pass.

    Scale shape: the cell assignment is computed ONCE and persisted —
    the balance report, the probe-cost arithmetic, and the candidate
    join all reuse it (the standalone parts would scan and assign
    twice; the composite's whole point is the shared build).  Cell sizes are a 16-row relation reused for both the
    gate and the per-query scan cost (pure arithmetic — the probe
    cost needs NO second pass over candidates).  The recall ground
    truth is the honest brute-force eval cost, same as
    `retrieval_mrr_recall`; queries broadcast, the corpus never
    shuffles.  Pinned: the composite adds zero exchanges beyond its
    shared-assignment parts
    (tests/test_round7_ops.py::test_vector_index_lifecycle_plan).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = emb.filter(F.col("vec_id") < 16)
    assigned = SIM.assign_cells(emb, cents).persist()
    # 16-row relation with three consumers (gate totals, top-4 scan
    # bound, per-query probe cost) — pin it so each reads the tiny
    # cached rows instead of re-aggregating the assignment.
    sizes = (
        assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("sz")).persist()
    )
    tot = sizes.agg(
        F.sum("sz").cast("long").alias("n_vecs"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("sz").cast("long").alias("max_cell"),
        (
            F.max("sz") / (F.sum("sz") / F.count(F.lit(1)).cast("double"))
        ).alias("imb"),
    )
    top4 = (
        sizes.orderBy(F.desc("sz"), F.asc("cell"))
        .limit(4)
        .agg(F.sum("sz").alias("s4"))
    )

    is_q = F.col("vec_id") % 25 == 0
    # Two consumers (probe-cost rollup + candidate broadcast): pin the
    # |Q|·nprobe-row probe assignment so the query-slice scoring pass
    # runs once.
    probe_cells = (
        SIM.assign_cells(emb.filter(is_q), cents, n_best=_VIL_NPROBE)
        .withColumnRenamed("vec_id", "query_id")
        .persist()
    )
    scan = (
        probe_cells.join(F.broadcast(sizes), "cell")
        .groupBy("query_id")
        .agg((F.sum("sz") - 1).alias("n_cand"))
    )
    probe_cost = scan.agg(F.avg("n_cand").alias("avg_cand"))

    qv = emb.filter(is_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    cand = (
        assigned.withColumnRenamed("vec_id", "cand_id")
        .join(F.broadcast(probe_cells.select("query_id", "cell")), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("cand_id")
    )
    ivf10 = (
        cand.join(
            emb.select(F.col("vec_id").alias("cand_id"),
                       F.col("embedding").alias("c_vec")),
            "cand_id",
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "cand_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _VIL_K)
        .select("query_id", "cand_id")
    )
    # The recall ground truth streams the CORPUS against the query
    # broadcast, and the single-row-group scan is one partition — the
    # |Q|x|C| cosine sweep measured 3.9 s on ONE task.  Spread the
    # streamed side (same fix as retrieval_mrr_recall).
    exact10 = (
        F.broadcast(qv)
        .join(
            SIM.spread_for_cpu(emb, "vec_id").alias("c"),
            F.col("c.vec_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            F.col("c.vec_id").alias("cand_id"),
            cosine(F.col("q_vec"), F.col("c.embedding")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _VIL_K)
        .select("query_id", "cand_id")
    )
    hits = (
        exact10.join(
            ivf10.withColumn("hit", F.lit(1)),
            ["query_id", "cand_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
    )
    rec = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.avg(F.col("n_hit") / float(_VIL_K)).alias("recall"),
    )

    return (
        tot.crossJoin(F.broadcast(top4))
        .crossJoin(F.broadcast(rec))
        .crossJoin(F.broadcast(probe_cost))
        .select(
            "n_vecs",
            "n_cells",
            "max_cell",
            F.col("imb").cast("float").alias("imbalance"),
            (F.col("s4") / F.col("n_vecs").cast("double"))
            .cast("float")
            .alias("worst4_scan_frac"),
            "n_queries",
            F.round(
                F.col("avg_cand") / (F.col("n_vecs") - 1).cast("double"), 6
            ).cast("float").alias("avg_probe_frac"),
            F.round(F.col("recall"), 6).cast("float").alias("recall_at_10"),
        )
    )
