"""Collaborative-filtering operators: rank-1 ALS over the implicit
customer x part rating matrix (order quantities).

Alternating least squares is THE canonical distributed recommender
training loop (Zhou et al., "Large-scale Parallel Collaborative
Filtering for the Netflix Prize", AAIM'08; Spark MLlib's ALS): fix
item factors, solve every user's least squares independently; swap;
repeat. At rank 1 each per-entity solve collapses to a closed form —
u_i = sum_j r_ij v_j / (sum_{j in R(i)} v_j^2 + lambda) — so every
half-round is ONE grouped aggregate after ONE equi-join of the
ratings relation with the opposite factor vector: exactly the
join-reduce shape a 1000-executor ALS runs, with no linear-algebra
black box. The fixed round count is unrolled (the BPE-training-loop
pattern), which keeps the whole computation expressible as identical
SQL for the DuckDB oracle — the iterative ML loop itself is
hash-checked, not just smoke-tested.

Scale design: the ratings relation is built once (one join + one
aggregate) and persisted across the four half-rounds and the RMSE
pass; factor vectors are entity-domain-sized (|users|, |items|),
joined back on their keys — shuffles move factors, never re-derive
ratings. Reported outputs are TakeOrderedAndProject top-k, never a
global window.

Reference parity: no recommender exists in the reference
(axolotls/*.py); SURVEY.md §2B/LLM-pipeline extension family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axolotls_spark.cacheutil import materialize
from axolotls_spark.io.sources import load_table
from axolotls_spark.registry import register

#: L2 regularization — also keeps every closed-form denominator
#: strictly positive (no try_divide needed even for empty groups).
_ALS_LAMBDA = 0.1

#: Users whose recommendations als_top_recs reports.
_ALS_REC_USERS = (1, 2, 4)

_SQL_RATINGS = """
    ratings AS (
        SELECT o.o_custkey AS c, l.l_partkey AS p,
               CAST(SUM(l.l_quantity) AS DOUBLE) AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    )
"""

#: 2.5 unrolled ALS rounds: v0 = 1 -> u1 -> v1 -> u2 -> v2.
_SQL_ALS_CTES = f"""
    {_SQL_RATINGS},
    u1 AS (
        SELECT c, SUM(r) / (COUNT(*) + {_ALS_LAMBDA}) AS u
        FROM ratings GROUP BY c
    ),
    v1 AS (
        SELECT p, SUM(r * u) / (SUM(u * u) + {_ALS_LAMBDA}) AS v
        FROM ratings JOIN u1 USING (c) GROUP BY p
    ),
    u2 AS (
        SELECT c, SUM(r * v) / (SUM(v * v) + {_ALS_LAMBDA}) AS u
        FROM ratings JOIN v1 USING (p) GROUP BY c
    ),
    v2 AS (
        SELECT p, SUM(r * u) / (SUM(u * u) + {_ALS_LAMBDA}) AS v
        FROM ratings JOIN u2 USING (c) GROUP BY p
    )
"""


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .agg(F.sum("l_quantity").cast("double").alias("r"))
    )


def _als_factors(ratings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(user_factors u2, item_factors v2) after 2.5 unrolled rank-1
    rounds from the v0 = 1 initialization. Caller persists ratings."""
    lam = F.lit(_ALS_LAMBDA)
    u1 = ratings.groupBy("c").agg(
        (F.sum("r") / (F.count("*") + lam)).alias("u")
    )
    v1 = (
        ratings.join(u1, "c")
        .groupBy("p")
        .agg(
            (
                F.sum(F.col("r") * F.col("u"))
                / (F.sum(F.col("u") * F.col("u")) + lam)
            ).alias("v")
        )
    )
    # u2/v2 persisted: consumers reference u2 three
    # times (prediction join, v2's own half-round, the report join)
    # and each lazy reference re-ran the whole unrolled chain of
    # ratings joins+aggregates.  Both are entity-sized (|customers| /
    # |parts|), the standard factor-relation cache of ALS.
    u2 = (
        ratings.join(v1, "p")
        .groupBy("c")
        .agg(
            (
                F.sum(F.col("r") * F.col("v"))
                / (F.sum(F.col("v") * F.col("v")) + lam)
            ).alias("u")
        )
        .persist()
    )
    v2 = (
        ratings.join(u2, "c")
        .groupBy("p")
        .agg(
            (
                F.sum(F.col("r") * F.col("u"))
                / (F.sum(F.col("u") * F.col("u")) + lam)
            ).alias("v")
        )
        .persist()
    )
    return u2, v2


@register(
    "als_rank1_factors",
    oracle=f"""
    WITH {_SQL_ALS_CTES},
    pred AS (
        SELECT r.r, u2.u * v2.v AS yhat, u2.u, r.c
        FROM ratings r JOIN u2 USING (c) JOIN v2 USING (p)
    ),
    fit AS (
        SELECT SQRT(AVG((r - yhat) * (r - yhat))) AS rmse,
               SQRT(AVG(r * r)) AS rms_rating
        FROM pred
    ),
    nr AS (SELECT c, COUNT(*) AS n_items FROM ratings GROUP BY c)
    SELECT c AS custkey, ROUND(u, 6) AS u_factor,
           CAST(n_items AS BIGINT) AS n_items,
           ROUND(fit.rmse, 6) AS rmse, ROUND(fit.rms_rating, 6)
               AS rms_rating
    FROM u2 JOIN nr USING (c) CROSS JOIN fit
    ORDER BY u DESC, c LIMIT 15
    """,
    tags=("recsys", "als", "iterative", "factorization", "join-reduce"),
)
def als_rank1_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 ALS factors after 2.5 unrolled alternating rounds on
    the customer x part quantity matrix: top-15 users by factor,
    with the model's reconstruction RMSE (vs the RMS rating — the
    predict-zero baseline it must beat) riding along as the audit
    column.

    Each half-round: join ratings with the opposite factor vector on
    its entity key, then one grouped aggregate computing the
    regularized closed form — the MLlib-ALS shuffle shape with the
    algebra in plain SQL, certified round-for-round by the oracle's
    identical unrolling."""
    # ratings fans out to the ALS half-rounds and the joins below.
    ratings = materialize(_ratings(spark, sf_dir))
    u2, v2 = _als_factors(ratings)
    pred = ratings.join(u2, "c").join(v2, "p")
    fit = pred.agg(
        F.sqrt(
            F.avg(
                (F.col("r") - F.col("u") * F.col("v"))
                * (F.col("r") - F.col("u") * F.col("v"))
            )
        ).alias("rmse"),
        F.sqrt(F.avg(F.col("r") * F.col("r"))).alias("rms_rating"),
    )
    nr = ratings.groupBy("c").agg(F.count("*").alias("n_items"))
    return (
        u2.join(nr, "c")
        .crossJoin(F.broadcast(fit))
        .orderBy(F.col("u").desc(), "c")
        .limit(15)
        .select(
            F.col("c").alias("custkey"),
            F.round("u", 6).alias("u_factor"),
            F.col("n_items").cast("long").alias("n_items"),
            F.round("rmse", 6).alias("rmse"),
            F.round("rms_rating", 6).alias("rms_rating"),
        )
    )


@register(
    "als_top_recs",
    oracle=f"""
    WITH {_SQL_ALS_CTES},
    users(c) AS (VALUES {", ".join(f"({u})" for u in _ALS_REC_USERS)}),
    rated AS (
        SELECT r.c, r.p FROM ratings r JOIN users USING (c)
    ),
    cand AS (
        SELECT u2.c, v2.p, u2.u * v2.v AS score
        FROM u2 JOIN users USING (c)
        CROSS JOIN v2
        WHERE NOT EXISTS (
            SELECT 1 FROM rated
            WHERE rated.c = u2.c AND rated.p = v2.p
        )
    )
    SELECT c AS custkey, p AS partkey, ROUND(score, 6) AS score, rn
    FROM (
        SELECT c, p, score,
               ROW_NUMBER() OVER (
                   PARTITION BY c ORDER BY score DESC, p
               ) AS rn
        FROM cand
    ) WHERE rn <= 5
    """,
    tags=("recsys", "als", "topk", "recommendation"),
)
def als_top_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving head for the rank-1 ALS model: for three fixed users,
    the top-5 UNRATED items by predicted score u*v.

    Scale shape: the three user factors broadcast against the item-
    factor relation (|items|-sized, not |ratings|-sized); already-
    rated items leave via a broadcast anti-join on the users' own
    rating slices; per-user top-5 ranks a 3-partition relation. At
    serving scale this is the classic "score the item catalog per
    user" sweep — linear in |items| per user, never |users| x
    |items|."""
    # ratings fans out to the ALS half-rounds and the joins below.
    ratings = materialize(_ratings(spark, sf_dir))
    u2, v2 = _als_factors(ratings)
    users = spark.createDataFrame([(u,) for u in _ALS_REC_USERS], "c long")
    qu = u2.join(F.broadcast(users), "c")
    rated = ratings.join(F.broadcast(users), "c").select("c", "p")
    cand = (
        v2.crossJoin(F.broadcast(qu))
        .join(F.broadcast(rated), ["c", "p"], "left_anti")
        .select("c", "p", (F.col("u") * F.col("v")).alias("score"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("c").orderBy(F.col("score").desc(), "p")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("c").alias("custkey"),
            F.col("p").alias("partkey"),
            F.round("score", 6).alias("score"),
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference strengths from within-order brand duels
# ---------------------------------------------------------------------------

_BT_ITERS = 4


def _bt_oracle() -> str:
    """Unrolled Hunter-MM Bradley-Terry oracle (MATERIALIZED CTEs —
    inlined, the 4-deep join nest re-derives the corpus per step)."""
    head = """
    WITH lines AS (
        SELECT l.l_orderkey AS ok, p.p_brand AS brand,
               l.l_extendedprice * (1 - l.l_discount) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    duels AS (
        SELECT a.brand AS wb, b.brand AS lb
        FROM lines a JOIN lines b
          ON a.ok = b.ok AND a.brand <> b.brand AND a.rev > b.rev
    ),
    sym AS (
        SELECT wb AS i, lb AS j, 1 AS win FROM duels
        UNION ALL
        SELECT lb AS i, wb AS j, 0 AS win FROM duels
    ),
    pairstats AS MATERIALIZED (
        SELECT i, j, COUNT(*)::DOUBLE AS n, SUM(win)::DOUBLE AS w
        FROM sym GROUP BY i, j
    ),
    witem AS MATERIALIZED (
        SELECT i AS brand, SUM(w) AS tw, SUM(n) AS tg
        FROM pairstats GROUP BY i
    ),
    s0 AS (SELECT brand, 1.0 / (SELECT COUNT(*) FROM witem) AS s
           FROM witem)"""
    steps = []
    for k in range(1, _BT_ITERS + 1):
        steps.append(f""",
    raw{k} AS MATERIALIZED (
        SELECT w.brand, w.tw / SUM(p.n / (si.s + sj.s)) AS s
        FROM witem w
        JOIN pairstats p ON p.i = w.brand
        JOIN s{k - 1} si ON si.brand = p.i
        JOIN s{k - 1} sj ON sj.brand = p.j
        GROUP BY w.brand, w.tw
    ),
    s{k} AS MATERIALIZED (
        SELECT brand, s / (SELECT SUM(s) FROM raw{k}) AS s FROM raw{k}
    )""")
    tail = f"""
    SELECT w.brand,
           CAST(w.tg AS BIGINT) AS games,
           CAST(w.tw AS BIGINT) AS wins,
           CAST(ROUND(s.s, 6) AS REAL) AS strength
    FROM s{_BT_ITERS} s JOIN witem w USING (brand)
    """
    return head + "".join(steps) + tail


@register(
    "bradley_terry_strengths",
    oracle=_bt_oracle(),
    tags=("bradley-terry", "preference-model", "pairwise-ranking",
          "mm-algorithm", "rlhf", "iterative"),
)
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strengths from pairwise duels — THE model a
    preference-data pipeline fits before reward modeling (RLHF
    comparisons, search interleaving, LLM-judge A/B votes are all
    BT data): within every order, each pair of different-brand
    lines is a duel won by the higher-revenue line; four unrolled
    Hunter-MM iterations sᵢ ← Wᵢ / Σⱼ nᵢⱼ/(sᵢ+sⱼ), normalized to
    Σs=1, turn the win matrix into strengths such that
    P(i beats j) = sᵢ/(sᵢ+sⱼ).  `als_rank1_factors` fits tastes
    from RATINGS; this fits a global ranking from COMPARISONS —
    the two ends of the preference-learning spectrum.

    Scale shape: duels come from the order-key self-join (fan-out
    bounded by lines-per-order, never cartesian); the win matrix is
    ≤|brands|² and the MM iterations run inside ONE Arrow-batched
    pandas UDF over that single-partition relation (the
    markov_attribution_removal / pca.py bounded-solve pattern).
    The oracle unrolls the same iterations as MATERIALIZED CTEs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lines = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        F.col("l_orderkey").alias("ok"),
        F.col("p_brand").alias("brand"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev"
        ),
    )
    a = lines.alias("a")
    b = lines.alias("b")
    duels = a.join(
        b,
        (F.col("a.ok") == F.col("b.ok"))
        & (F.col("a.brand") != F.col("b.brand"))
        & (F.col("a.rev") > F.col("b.rev")),
    ).select(F.col("a.brand").alias("wb"), F.col("b.brand").alias("lb"))
    sym = duels.select(
        F.col("wb").alias("i"), F.col("lb").alias("j"), F.lit(1).alias("win")
    ).unionAll(
        duels.select(
            F.col("lb").alias("i"),
            F.col("wb").alias("j"),
            F.lit(0).alias("win"),
        )
    )
    pairstats = (
        sym.groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("win").cast("double").alias("w"),
        )
        .repartition(1)
    )
    iters = _BT_ITERS

    def _solve(batches):
        import pandas as pd

        parts = [pdf for pdf in batches if not pdf.empty]
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
            brands = sorted(set(pdf["i"]))
            n = {(r.i, r.j): r.n for r in pdf.itertuples()}
            w = {}
            g = {}
            for r in pdf.itertuples():
                w[r.i] = w.get(r.i, 0.0) + r.w
                g[r.i] = g.get(r.i, 0.0) + r.n
            s = {bd: 1.0 / len(brands) for bd in brands}
            for _ in range(iters):
                raw = {
                    bd: w[bd]
                    / sum(
                        n[(bd, j)] / (s[bd] + s[j])
                        for j in brands
                        if (bd, j) in n
                    )
                    for bd in brands
                }
                tot = sum(raw.values())
                s = {bd: v / tot for bd, v in raw.items()}
            yield pd.DataFrame(
                {
                    "brand": brands,
                    "games": [int(g[bd]) for bd in brands],
                    "wins": [int(w[bd]) for bd in brands],
                    "strength": [s[bd] for bd in brands],
                }
            )

    out = pairstats.mapInPandas(
        _solve,
        "brand STRING, games BIGINT, wins BIGINT, strength DOUBLE",
    )
    return out.select(
        "brand",
        "games",
        "wins",
        F.round("strength", 6).cast("float").alias("strength"),
    )
