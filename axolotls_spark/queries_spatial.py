"""Spatial / density-based operators over the embedding plane.

Grid-bucketed epsilon-neighbor joins and DBSCAN (Ester et al.,
KDD'96) on the first two embedding coordinates — the spatial-join
family a 100 TB curation stack needs for density-based outlier
removal and mode discovery, built on the same CC machinery the dedup
pipeline certifies.

Scale design:

- **Never all-pairs.** Points land in an eps-sized grid cell; a point
  probes only its 3x3 cell neighborhood (an EQUI-join on integer cell
  coordinates after a 9-way offset explode), which provably contains
  every true eps-neighbor. The DuckDB oracle instead brute-forces the
  full quadratic pair space — an *independent derivation* of the same
  neighbor relation, so grid-pruning bugs cannot hide in a shared
  plan shape (the brute-force completeness contract is also pinned
  point-for-point in ``tests/test_spatial.py``).
- **Density-adaptive resolution.** eps = K / sqrt(N) keeps the
  expected neighbor count constant as the corpus scales (doubling
  density halves the area each probe covers), so neighbor counts,
  core status, and cluster granularity are scale-stable — a fixed
  eps would drift from "everything is noise" at small N to "one
  giant percolated cluster" (and a transitive-closure blowup) at
  large N. eps is a 1-row broadcast aggregate, not a driver scalar.
- **DBSCAN clusters = connected components over core-core edges**
  via the alternating large-star/small-star algorithm
  (operators/dedup.connected_components_star, O(log^2 n) rounds).
  Border points attach to the MINIMUM core-neighbor cluster rep —
  textbook DBSCAN leaves border assignment order-dependent; taking
  the min makes the labeling deterministic and oracle-checkable.

Reference parity: the reference engine (axolotls/*.py) has no
spatial operators; this is a SURVEY.md §2B/LLM-pipeline extension
family (density prune / semantic mode discovery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axolotls_spark.io.sources import load_table
from axolotls_spark.operators import dedup as D
from axolotls_spark.registry import register

#: eps = _SPATIAL_K / sqrt(N). K = 0.4 puts the expected neighbor
#: count near 2.5 on the unit-norm synthetic embeddings at every SF
#: (measured: avg degree 2.4–2.6 across sf0.001/0.01/0.1), which
#: keeps DBSCAN sub-percolation — many mid-sized clusters instead of
#: one giant component (largest: 315 of 2000 points at sf0.1).
_SPATIAL_K = 0.4

#: Core point = at least this many eps-neighbors EXCLUDING itself
#: (i.e. classic DBSCAN minPts = 4 counting the point itself).
_DBSCAN_MIN_NBRS = 3

#: 3x3 cell-neighborhood offsets for the grid probe join.
_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _eps_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, x, y, eps, cx, cy): 2-D projection of the embedding
    plus the density-adaptive cell assignment. eps comes from a
    1-row broadcast aggregate (no driver collect)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # try_divide: an empty corpus has sqrt(0) = 0 — eps becomes NULL
    # (and the point relation is empty anyway) instead of an ANSI
    # divide-by-zero.
    epsrow = emb.agg(
        F.try_divide(F.lit(_SPATIAL_K), F.sqrt(F.count("*"))).alias("eps")
    )
    return emb.crossJoin(F.broadcast(epsrow)).select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
        "eps",
        F.floor(F.col("embedding")[0].cast("double") / F.col("eps")).alias(
            "cx"
        ),
        F.floor(F.col("embedding")[1].cast("double") / F.col("eps")).alias(
            "cy"
        ),
    )


def eps_neighbor_pairs(pts: DataFrame) -> DataFrame:
    """(u, v) for every ordered pair of distinct points within eps
    (both directions present). Probe side explodes the 3x3 cell
    neighborhood; candidates come from an equi-join on integer cell
    coordinates — work is proportional to cell occupancy, never
    |points|^2. The exact Euclidean filter runs on candidates only.
    """
    probes = pts.select(
        F.col("vec_id").alias("u"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        "eps",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("pcx"),
                        (F.col("cy") + dy).alias("pcy"),
                    )
                    for dx, dy in _OFFSETS
                ]
            )
        ).alias("p"),
    ).select("u", "ax", "ay", "eps", "p.pcx", "p.pcy")
    cand = probes.join(
        pts.select("vec_id", "x", "y", "cx", "cy"),
        (F.col("cx") == F.col("pcx")) & (F.col("cy") == F.col("pcy")),
    )
    d2 = (F.col("ax") - F.col("x")) * (F.col("ax") - F.col("x")) + (
        F.col("ay") - F.col("y")
    ) * (F.col("ay") - F.col("y"))
    return cand.filter(
        (F.col("u") != F.col("vec_id")) & (d2 <= F.col("eps") * F.col("eps"))
    ).select("u", F.col("vec_id").alias("v"))


#: Shared oracle preamble: brute-force quadratic neighbor relation —
#: deliberately NOT the grid algorithm (independent derivation).
_SQL_SPATIAL_CTES = f"""
    nn AS (SELECT {_SPATIAL_K} / sqrt(COUNT(*)) AS eps FROM embeddings),
    pts AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y,
               eps
        FROM embeddings, nn
    ),
    prs AS (
        SELECT a.vec_id AS u, b.vec_id AS v
        FROM pts a JOIN pts b
          ON a.vec_id <> b.vec_id
         AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= a.eps * a.eps
    ),
    deg AS (SELECT u, COUNT(*) AS n FROM prs GROUP BY u)
"""


@register(
    "spatial_eps_neighbors",
    oracle=f"""
    WITH {_SQL_SPATIAL_CTES}
    SELECT p.vec_id,
           CAST(floor(p.x / p.eps) AS BIGINT) AS cx,
           CAST(floor(p.y / p.eps) AS BIGINT) AS cy,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_neighbors,
           COALESCE(d.n, 0) >= {_DBSCAN_MIN_NBRS} AS is_core
    FROM pts p LEFT JOIN deg d ON p.vec_id = d.u
    """,
    tags=("spatial", "grid-join", "eps-neighbors", "dbscan", "embedding"),
)
def spatial_eps_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point eps-neighbor count and DBSCAN core status on the
    embedding plane, with the density-adaptive grid assignment.

    Spark side: 9-way offset explode + equi-join on cell coords (see
    eps_neighbor_pairs); oracle side: brute-force all-pairs — the
    grid join must reproduce the quadratic ground truth exactly."""
    pts = _eps_points(spark, sf_dir)
    deg = eps_neighbor_pairs(pts).groupBy("u").agg(
        F.count("*").alias("n")
    )
    return pts.join(deg, pts.vec_id == deg.u, "left").select(
        "vec_id",
        "cx",
        "cy",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_neighbors"),
        (F.coalesce("n", F.lit(0)) >= _DBSCAN_MIN_NBRS).alias("is_core"),
    )


@register(
    "dbscan_core_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_SPATIAL_CTES},
    core AS (SELECT u FROM deg WHERE n >= {_DBSCAN_MIN_NBRS}),
    e AS (
        SELECT p.u, p.v FROM prs p
        JOIN core c1 ON p.u = c1.u
        JOIN core c2 ON p.v = c2.u
    ),
    reach(u, v) AS (
        SELECT u, v FROM e
        UNION
        SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
    ),
    rep AS (SELECT u, LEAST(u, MIN(v)) AS rep FROM reach GROUP BY u),
    corerep AS (
        SELECT c.u, COALESCE(r.rep, c.u) AS rep
        FROM core c LEFT JOIN rep r ON c.u = r.u
    ),
    border AS (
        SELECT p.u, MIN(cr.rep) AS rep
        FROM prs p
        JOIN corerep cr ON p.v = cr.u
        LEFT JOIN core c ON p.u = c.u
        WHERE c.u IS NULL
        GROUP BY p.u
    )
    SELECT pt.vec_id,
           CASE WHEN cr.u IS NOT NULL THEN 'core'
                WHEN b.u IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(cr.rep, b.rep) AS BIGINT) AS cluster_rep
    FROM pts pt
    LEFT JOIN corerep cr ON pt.vec_id = cr.u
    LEFT JOIN border b ON pt.vec_id = b.u
    """,
    tags=("spatial", "dbscan", "clustering", "connected-components"),
)
def dbscan_core_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DBSCAN labeling: (vec_id, role, cluster_rep)
    with role in {core, border, noise}.

    - clusters = connected components over CORE-CORE eps-edges
      (alternating-star CC — O(log^2 n) rounds), rep = min vec_id;
    - border points (non-core with a core eps-neighbor) attach to the
      MINIMUM core-neighbor rep, removing textbook DBSCAN's
      order-dependence;
    - everything else is noise (cluster_rep NULL).

    The pair relation is computed once by the grid join and persisted
    across its three consumers (degree count, core-core edge set,
    border attachment); the oracle re-derives everything from the
    brute-force quadratic pair space plus a recursive-CTE transitive
    closure — kept tractable at every SF by the density-adaptive eps
    (sub-percolation cluster sizes; see module docstring)."""
    pts = _eps_points(spark, sf_dir)
    prs = eps_neighbor_pairs(pts).persist()
    core = (
        prs.groupBy("u")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _DBSCAN_MIN_NBRS)
        .select("u")
    )
    cc_edges = (
        prs.join(core.withColumnRenamed("u", "cu"), prs.u == F.col("cu"))
        .join(core.withColumnRenamed("u", "cv"), prs.v == F.col("cv"))
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    corerep = D.connected_components_star(
        core.withColumnRenamed("u", "vec_id"), cc_edges, id_col="vec_id"
    ).select(
        F.col("vec_id").alias("cid"), F.col("group_rep").alias("rep")
    )
    border = (
        prs.join(core, "u", "left_anti")
        .join(corerep, prs.v == F.col("cid"))
        .groupBy("u")
        .agg(F.min("rep").alias("brep"))
    )
    return (
        pts.select("vec_id")
        .join(corerep, pts.vec_id == corerep.cid, "left")
        .join(border, pts.vec_id == border.u, "left")
        .select(
            "vec_id",
            F.when(F.col("cid").isNotNull(), F.lit("core"))
            .when(F.col("u").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("rep", "brep").cast("long").alias("cluster_rep"),
        )
    )
