"""Distributed-algorithm lab: KMV sketch algebra, exact distributed
quantiles, weighted sampling, Z-order layout, sweep-line concurrency.

Five operator families a 100 TB curation/analytics stack needs that
round 3 didn't yet cover, each built on the scale primitives this repo
already certifies:

- **KMV (k-minimum-values) distinct sketches** — the mergeable
  distinct-count sketch that, unlike HLL, also supports SET ALGEBRA
  (union via sketch merge, intersection via the Jaccard fraction of
  the union sketch — Beyer et al., SIGMOD'07). Engine-independent
  md5-prefix hashes (operators/dedup.token_hash convention) make
  every sketch row, threshold and estimate exactly reproducible in
  DuckDB, so even the ESTIMATES are hash-checked.
- **Exact quantiles via distributed prefix rank**
  (operators/prefix.ranked_cumsum) — percentile_disc without a
  single-partition sort: global ranks come from range partitions +
  broadcast offsets; the target ranks are pure-integer permille
  arithmetic so no float ceil() ambiguity can split engines.
- **Weighted sampling without replacement** (Efraimidis–Spirakis
  A-Res): key = ln(u)/w with u a deterministic hash uniform; the
  top-k keys are taken via orderBy+limit (TakeOrderedAndProject),
  never a global window.
- **Z-order (Morton) layout** — bit-interleaved multi-dimensional
  clustering, the data-layout primitive behind file-skipping on two
  correlated predicates; the quality report compares per-bucket
  min/max spans (what a format's zone maps would store) against a
  linear layout in ONE corpus pass.
- **Sweep-line interval concurrency** — max concurrent 5-minute
  event windows via +1/−1 boundary deltas and a distributed prefix
  sum; the classic "peak concurrency" query that naive SQL writes as
  an unpartitioned running total.

Reference parity: the reference engine (axolotls/*.py, ~30 eager
tensor ops) has none of these; they are §2B/LLM-pipeline extensions
mandated by SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.cacheutil import materialize
from axolotls_spark.io.sources import load_table
from axolotls_spark.operators.dedup import token_hash
from axolotls_spark.operators.prefix import ranked_cumsum
from axolotls_spark.registry import register

#: KMV sketch size and the 60-bit hash-space modulus (token_hash).
#: k=256 puts the estimator's relative standard error at 1/sqrt(k-2)
#: ≈ 6.3%; the fixed md5 hash draw over this synthetic key domain
#: sits within ~1.7σ at every SF (k=64's draw was a 2.4σ outlier —
#: sketch sizing matters and the tests pin it).
_KMV_K = 256
_H_MOD = float(1 << 60)

#: SQL mirror of operators/dedup.token_hash for custkey columns.
_SQL_H = "CAST(('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 15)) AS BIGINT)"


@register(
    "kmv_distinct_by_priority",
    oracle=f"""
    WITH mem AS (
        SELECT DISTINCT o_orderpriority AS seg, o_custkey FROM orders
    ),
    h AS (
        SELECT seg, o_custkey, {_SQL_H.format(x='o_custkey')} AS h FROM mem
    ),
    ranked AS (
        SELECT seg, h,
               ROW_NUMBER() OVER (PARTITION BY seg
                                  ORDER BY h, o_custkey) AS rn
        FROM h
    ),
    agg AS (
        SELECT seg, COUNT(*) AS n_exact,
               MAX(CASE WHEN rn <= {_KMV_K} THEN h END) AS kth
        FROM ranked GROUP BY seg
    )
    SELECT seg,
           CAST(n_exact AS BIGINT) AS n_exact,
           ROUND(CASE WHEN n_exact < {_KMV_K}
                      THEN CAST(n_exact AS DOUBLE)
                      ELSE ({_KMV_K} - 1) * {_H_MOD} / kth
                 END, 4) AS kmv_est
    FROM agg
    """,
    tags=("sketch", "kmv", "approx-distinct", "mergeable"),
)
def kmv_distinct_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per order priority: keep the k=64
    smallest 60-bit hashes of the member set; the k-th smallest
    (normalized) is an unbiased threshold θ with estimator (k−1)/θ,
    falling back to the exact count when fewer than k distinct
    members exist (small segments take the exact branch at sf0.001,
    the estimator branch at sf0.01+ — both certified).

    Scale shape: one distinct shuffle to the (seg, custkey) member
    relation, a PARTITIONED rank window (per segment, never global),
    and a per-segment aggregate. Sketches merge by unioning hash sets
    and re-truncating to k — the same algebra the set-operation query
    exercises. The exact count rides along as the audit column
    (deliberate second aggregate; production keeps the sketch only).
    """
    orders = load_table(spark, sf_dir, "orders")
    mem = (
        orders.select(F.col("o_orderpriority").alias("seg"), "o_custkey")
        .distinct()
    )
    hm = mem.select(
        "seg", "o_custkey",
        token_hash(F.col("o_custkey").cast("string")).alias("h"),
    )
    w = Window.partitionBy("seg").orderBy("h", "o_custkey")
    ranked = hm.select("seg", "h", F.row_number().over(w).alias("rn"))
    agg = ranked.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.max(F.when(F.col("rn") <= _KMV_K, F.col("h"))).alias("kth"),
    )
    est = F.when(
        F.col("n_exact") < _KMV_K, F.col("n_exact").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(_H_MOD) / F.col("kth"))
    return agg.select(
        "seg",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(est, 4).alias("kmv_est"),
    )


_KMV_A, _KMV_B = "1-URGENT", "2-HIGH"


@register(
    "kmv_set_algebra",
    oracle=f"""
    WITH mem AS (
        SELECT o_custkey,
               MAX(CASE WHEN o_orderpriority = '{_KMV_A}' THEN 1 ELSE 0 END)
                   AS in_a,
               MAX(CASE WHEN o_orderpriority = '{_KMV_B}' THEN 1 ELSE 0 END)
                   AS in_b,
               {_SQL_H.format(x='o_custkey')} AS h
        FROM orders
        WHERE o_orderpriority IN ('{_KMV_A}', '{_KMV_B}')
        GROUP BY o_custkey
    ),
    sk AS (SELECT * FROM mem ORDER BY h, o_custkey LIMIT {_KMV_K}),
    sk_agg AS (
        SELECT COUNT(*) AS n_sk, MAX(h) AS theta,
               SUM(in_a * in_b) AS both_sk
        FROM sk
    ),
    tot AS (
        SELECT COUNT(*) AS u_exact, SUM(in_a * in_b) AS i_exact FROM mem
    )
    SELECT CAST(tot.u_exact AS BIGINT) AS u_exact,
           ROUND(CASE WHEN n_sk < {_KMV_K}
                      THEN CAST(tot.u_exact AS DOUBLE)
                      ELSE ({_KMV_K} - 1) * {_H_MOD} / theta
                 END, 4) AS u_est,
           CAST(tot.i_exact AS BIGINT) AS i_exact,
           ROUND(CASE WHEN n_sk < {_KMV_K}
                      THEN CAST(tot.i_exact AS DOUBLE)
                      ELSE (CAST(both_sk AS DOUBLE) / {_KMV_K})
                           * (({_KMV_K} - 1) * {_H_MOD} / theta)
                 END, 4) AS i_est
    FROM sk_agg CROSS JOIN tot
    """,
    tags=("sketch", "kmv", "set-algebra", "union", "intersection"),
)
def kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra ON SKETCHES — the capability KMV has and HLL
    lacks: the union estimate comes from merging the two segments'
    hash sets and re-truncating to the k smallest; the intersection
    estimate is the Jaccard fraction of the union sketch (how many of
    its k members belong to both sides) times the union estimate
    (Beyer et al., SIGMOD'07). Exact union/intersection audits ride
    along. 1-row output.

    Scale shape: one membership aggregate over the filtered fact scan
    (priority filter pushed down), the union sketch via orderBy+limit
    (TakeOrderedAndProject — never a global window), and two tiny
    aggregates crossed by broadcast. At 100 TB per-segment sketches
    would be k-row states merged WITHOUT rescanning members; the
    membership relation here exists to make the exact audits
    computable."""
    orders = load_table(spark, sf_dir, "orders")
    mem = (
        orders.filter(F.col("o_orderpriority").isin(_KMV_A, _KMV_B))
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == _KMV_A, 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("o_orderpriority") == _KMV_B, 1).otherwise(0)
            ).alias("in_b"),
        )
        .withColumn("h", token_hash(F.col("o_custkey").cast("string")))
        .persist()  # feeds the sketch AND the exact audit totals
    )
    sk = mem.orderBy("h", "o_custkey").limit(_KMV_K)
    sk_agg = sk.agg(
        F.count(F.lit(1)).alias("n_sk"),
        F.max("h").alias("theta"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("both_sk"),
    )
    tot = mem.agg(
        F.count(F.lit(1)).alias("u_exact"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("i_exact"),
    )
    u_est = F.when(
        F.col("n_sk") < _KMV_K, F.col("u_exact").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(_H_MOD) / F.col("theta"))
    i_est = F.when(
        F.col("n_sk") < _KMV_K, F.col("i_exact").cast("double")
    ).otherwise(
        (F.col("both_sk").cast("double") / F.lit(float(_KMV_K))) * u_est
    )
    return sk_agg.crossJoin(F.broadcast(tot)).select(
        F.col("u_exact").cast("long").alias("u_exact"),
        F.round(u_est, 4).alias("u_est"),
        F.col("i_exact").cast("long").alias("i_exact"),
        F.round(i_est, 4).alias("i_est"),
    )


#: Quantiles as integer permille — target rank is exact integer
#: arithmetic ceil(q·N) = (q_pm·N + 999) div 1000, so no float-ceil
#: representation gap (0.9·N is NOT 13500.0 in binary) can split
#: engines.
_Q_PERMILLE = (250, 500, 750, 900, 990)


@register(
    "exact_quantiles_totalprice",
    oracle=f"""
    WITH r AS (
        SELECT o_totalprice AS v,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
        FROM orders
    ),
    n AS (SELECT COUNT(*) AS c FROM orders),
    qs AS (SELECT unnest([{", ".join(str(q) for q in _Q_PERMILLE)}]) AS q_pm)
    SELECT CAST(qs.q_pm AS DOUBLE) / 1000 AS q,
           r.v AS value
    FROM qs CROSS JOIN n
    JOIN r ON r.rn = (qs.q_pm * n.c + 999) // 1000
    """,
    tags=("quantiles", "percentile", "distributed-rank", "prefix-sum"),
)
def exact_quantiles_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile_disc at p25/p50/p75/p90/p99 over order
    totals, computed distributively: global ranks come from
    operators/prefix.ranked_cumsum (range partitions + broadcast
    offsets — no single-partition sort, the thing that makes exact
    quantiles 'impossible' at scale), and each quantile is the row
    whose rank equals ceil(q·N) in pure integer permille arithmetic.

    Scale shape: one range-shuffle of (value, key) pairs + one
    broadcast of the 5-row target-rank spine; contrast with
    percentile_approx (no exactness) or a global sort (one task).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    ranked = ranked_cumsum(
        orders.withColumn("one", F.lit(1)),
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        "one",
        rank_name="rn",
        cum_name="_cum",
    ).select(F.col("o_totalprice").alias("v"), "rn")
    n = orders.agg(F.count(F.lit(1)).alias("c"))
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(q) for q in _Q_PERMILLE])
        ).alias("q_pm")
    )
    targets = (
        qs.crossJoin(F.broadcast(n))
        .select(
            "q_pm",
            F.expr("(q_pm * c + 999) div 1000").alias("target_rn"),
        )
    )
    return (
        ranked.join(
            F.broadcast(targets), ranked.rn == targets.target_rn
        )
        .select(
            (F.col("q_pm").cast("double") / 1000).alias("q"),
            F.col("v").alias("value"),
        )
    )


_WS_K = 20


@register(
    "weighted_sample_orders",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey, o_totalprice,
               LN((CAST({_SQL_H.format(x='o_orderkey')} AS DOUBLE) + 1)
                  / ({_H_MOD} + 1)) / o_totalprice AS skey
        FROM orders
    ),
    top AS (
        SELECT * FROM keyed ORDER BY skey DESC, o_orderkey LIMIT {_WS_K}
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY skey DESC, o_orderkey)
                AS BIGINT) AS rank,
           o_orderkey, o_totalprice,
           ROUND(skey, 6) + 0 AS skey  -- + 0 folds IEEE -0.0 to 0.0
    FROM top
    """,
    tags=("sampling", "weighted", "reservoir", "efraimidis-spirakis"),
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-Res): each row draws a deterministic hash uniform u ∈ (0, 1]
    and competes with key ln(u)/w (monotone in u^(1/w), w =
    o_totalprice > 0); the k largest keys are an exact weighted
    sample — the curation primitive behind quality-weighted corpus
    subsampling.

    Scale shape: the key is a map-only expression; the top-k is
    orderBy+limit (TakeOrderedAndProject — per-partition top-k,
    never a global window); the rank is assigned over the k-row
    result. Deterministic end to end: u comes from the md5-prefix
    hash convention, so both engines draw the same 'randomness'."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    u = (
        token_hash(F.col("o_orderkey").cast("string")).cast("double")
        + F.lit(1.0)
    ) / F.lit(_H_MOD + 1)
    keyed = orders.withColumn("skey", F.log(u) / F.col("o_totalprice"))
    top = keyed.orderBy(F.desc("skey"), "o_orderkey").limit(_WS_K)
    w = Window.orderBy(F.desc("skey"), "o_orderkey")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "o_orderkey",
        "o_totalprice",
        # + 0 folds IEEE -0.0 (tiny negative keys rounding to zero)
        # to +0.0 identically on both engines.
        (F.round("skey", 6) + F.lit(0.0)).alias("skey"),
    )


_Z_BITS = 8          # 8 bits per dimension → 16-bit Morton code
_Z_BUCKET_BITS = 4   # top 4 bits of the code → 16 layout buckets


def _interleave_sql(xc: str, yc: str) -> str:
    """SQL for the Morton interleave of two `_Z_BITS`-bit ints —
    identical text runs in Spark SQL and DuckDB (both support
    `>>`/`<<`/`&` with the same semantics, verified in tests)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({xc} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({yc} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@register(
    "zorder_layout_quality",
    oracle=f"""
    WITH ext AS (
        SELECT MIN(o_custkey) AS kmin, MAX(o_custkey) AS kmax,
               MIN(CAST(o_orderdate AS DATE)) AS dmin,
               MAX(CAST(o_orderdate AS DATE)) AS dmax
        FROM orders
    ),
    q AS (
        SELECT ((o_custkey - kmin) * {1 << _Z_BITS})
                   // (kmax - kmin + 1) AS xq,
               ((CAST(o_orderdate AS DATE) - dmin) * {1 << _Z_BITS})
                   // (dmax - dmin + 1) AS yq
        FROM orders CROSS JOIN ext
    ),
    z AS (
        SELECT xq, yq, {_interleave_sql('xq', 'yq')} AS zval FROM q
    ),
    buckets AS (
        SELECT 'zorder' AS layout,
               zval >> {2 * _Z_BITS - _Z_BUCKET_BITS} AS bucket, xq, yq
        FROM z
        UNION ALL
        SELECT 'linear', xq >> {_Z_BITS - _Z_BUCKET_BITS}, xq, yq FROM z
    ),
    spans AS (
        SELECT layout, bucket,
               MAX(xq) - MIN(xq) AS x_span,
               MAX(yq) - MIN(yq) AS y_span
        FROM buckets GROUP BY layout, bucket
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(AVG(x_span), 4) AS avg_x_span,
           ROUND(AVG(y_span), 4) AS avg_y_span
    FROM spans GROUP BY layout
    """,
    tags=("data-layout", "zorder", "morton", "file-skipping", "pruning"),
)
def zorder_layout_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data layout vs linear layout, measured by the
    zone-map spans a format would store per file: quantize
    (o_custkey, o_orderdate) to 8 bits each, interleave the bits into
    a 16-bit Morton code, bucket rows by the code's top 4 bits (16
    'files'), and report each layout's average per-bucket min/max
    span in BOTH dimensions. Z-order keeps both spans ~1/4 of the
    domain (both predicates prune); linear keeps x tight but y at
    full width (date predicates prune nothing) — the measured
    argument for Z-ordering 100 TB tables clustered on two query
    dimensions.

    Scale shape: extents via one tiny broadcast aggregate; the
    quantize + interleave is map-only integer arithmetic (identical
    SQL text runs in both engines); both layouts are measured in ONE
    corpus pass (a 2× explode, constant factor); the span report
    aggregates 32 bucket rows. Bucketing uses code prefixes, not
    repartitionByRange, so results carry no sampling nondeterminism.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    ext = orders.agg(
        F.min("o_custkey").alias("kmin"),
        F.max("o_custkey").alias("kmax"),
        F.min("od").alias("dmin"),
        F.max("od").alias("dmax"),
    )
    side = 1 << _Z_BITS
    q = orders.crossJoin(F.broadcast(ext)).select(
        F.expr(
            f"(o_custkey - kmin) * {side} div (kmax - kmin + 1)"
        ).alias("xq"),
        F.expr(
            f"datediff(od, dmin) * {side} div (datediff(dmax, dmin) + 1)"
        ).alias("yq"),
    )
    z = q.select("xq", "yq", F.expr(_interleave_sql("xq", "yq")).alias("zval"))
    buckets = z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(
                        f"zval >> {2 * _Z_BITS - _Z_BUCKET_BITS}"
                    ).alias("bucket"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(f"xq >> {_Z_BITS - _Z_BUCKET_BITS}").alias(
                        "bucket"
                    ),
                ),
            )
        ).alias("lb"),
        "xq",
        "yq",
    ).select("lb.layout", "lb.bucket", "xq", "yq")
    spans = buckets.groupBy("layout", "bucket").agg(
        (F.max("xq") - F.min("xq")).alias("x_span"),
        (F.max("yq") - F.min("yq")).alias("y_span"),
    )
    return spans.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.avg("x_span"), 4).alias("avg_x_span"),
        F.round(F.avg("y_span"), 4).alias("avg_y_span"),
    )


#: Probe boxes in the quantized 0..255 space: each covers 1/4 of each
#: dimension (1/16 of the area). A Z-ordered layout should scan ~the
#: area fraction of buckets; a linear (x-only) layout can prune only
#: on x and scans ~1/4 regardless of the y constraint.
_Z_PROBES = (
    (0, 63, 0, 63),
    (64, 127, 128, 191),
    (192, 255, 0, 63),
    (128, 191, 192, 255),
)


@register(
    "zonemap_pruning_rate",
    oracle=f"""
    WITH ext AS (
        SELECT MIN(o_custkey) AS kmin, MAX(o_custkey) AS kmax,
               MIN(CAST(o_orderdate AS DATE)) AS dmin,
               MAX(CAST(o_orderdate AS DATE)) AS dmax
        FROM orders
    ),
    q AS (
        SELECT ((o_custkey - kmin) * {1 << _Z_BITS})
                   // (kmax - kmin + 1) AS xq,
               ((CAST(o_orderdate AS DATE) - dmin) * {1 << _Z_BITS})
                   // (dmax - dmin + 1) AS yq
        FROM orders CROSS JOIN ext
    ),
    z AS (
        SELECT xq, yq, {_interleave_sql('xq', 'yq')} AS zval FROM q
    ),
    buckets AS (
        SELECT 'zorder' AS layout,
               zval >> {2 * _Z_BITS - _Z_BUCKET_BITS} AS bucket, xq, yq
        FROM z
        UNION ALL
        SELECT 'linear', xq >> {_Z_BITS - _Z_BUCKET_BITS}, xq, yq FROM z
    ),
    spans AS (
        SELECT layout, bucket,
               MIN(xq) AS x_lo, MAX(xq) AS x_hi,
               MIN(yq) AS y_lo, MAX(yq) AS y_hi
        FROM buckets GROUP BY layout, bucket
    ),
    probes AS (
        SELECT * FROM (VALUES
            {", ".join(f"({a}, {b}, {c}, {d})" for a, b, c, d in _Z_PROBES)}
        ) AS p(px_lo, px_hi, py_lo, py_hi)
    )
    SELECT layout,
           CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
           CAST({len(_Z_PROBES)} AS BIGINT) AS n_probes,
           ROUND(AVG(CASE WHEN x_hi >= px_lo AND x_lo <= px_hi
                           AND y_hi >= py_lo AND y_lo <= py_hi
                          THEN 1.0 ELSE 0.0 END), 6) AS avg_scan_frac
    FROM spans CROSS JOIN probes
    GROUP BY layout
    """,
    tags=("data-layout", "zone-map", "pruning", "file-skipping"),
)
def zonemap_pruning_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff measurement for ``zorder_layout_quality``: probe
    both layouts' per-bucket zone maps with four two-dimensional box
    predicates (each 1/16 of the quantized area) and report the
    average fraction of buckets ('files') a scan must touch — exactly
    the min/max pruning decision a parquet/lakehouse reader makes
    per file. Z-order's buckets bound both dimensions so ~the area
    fraction survives; the linear layout prunes on x only and scans
    ~1/4 of the files no matter how selective the date predicate is.

    Scale shape: same one-pass span aggregate as the layout query
    (32 zone-map rows), crossed with a 4-row broadcast probe spine —
    the measurement costs nothing beyond the spans."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    ext = orders.agg(
        F.min("o_custkey").alias("kmin"),
        F.max("o_custkey").alias("kmax"),
        F.min("od").alias("dmin"),
        F.max("od").alias("dmax"),
    )
    side = 1 << _Z_BITS
    q = orders.crossJoin(F.broadcast(ext)).select(
        F.expr(
            f"(o_custkey - kmin) * {side} div (kmax - kmin + 1)"
        ).alias("xq"),
        F.expr(
            f"datediff(od, dmin) * {side} div (datediff(dmax, dmin) + 1)"
        ).alias("yq"),
    )
    z = q.select("xq", "yq", F.expr(_interleave_sql("xq", "yq")).alias("zval"))
    buckets = z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(
                        f"zval >> {2 * _Z_BITS - _Z_BUCKET_BITS}"
                    ).alias("bucket"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(f"xq >> {_Z_BITS - _Z_BUCKET_BITS}").alias(
                        "bucket"
                    ),
                ),
            )
        ).alias("lb"),
        "xq",
        "yq",
    ).select("lb.layout", "lb.bucket", "xq", "yq")
    spans = buckets.groupBy("layout", "bucket").agg(
        F.min("xq").alias("x_lo"), F.max("xq").alias("x_hi"),
        F.min("yq").alias("y_lo"), F.max("yq").alias("y_hi"),
    )
    probes = spark.createDataFrame(
        list(_Z_PROBES), "px_lo long, px_hi long, py_lo long, py_hi long"
    )
    hit = (
        (F.col("x_hi") >= F.col("px_lo"))
        & (F.col("x_lo") <= F.col("px_hi"))
        & (F.col("y_hi") >= F.col("py_lo"))
        & (F.col("y_lo") <= F.col("py_hi"))
    )
    return (
        spans.crossJoin(F.broadcast(probes))
        .groupBy("layout")
        .agg(
            F.countDistinct("bucket").alias("n_buckets"),
            F.lit(len(_Z_PROBES)).cast("long").alias("n_probes"),
            F.round(
                F.avg(F.when(hit, 1.0).otherwise(0.0)), 6
            ).alias("avg_scan_frac"),
        )
    )


_SWEEP_SECS = 300


@register(
    "max_concurrent_events",
    oracle=f"""
    WITH b AS (
        SELECT ts AS t, 1 AS delta, event_id FROM events
        UNION ALL
        SELECT ts + INTERVAL {_SWEEP_SECS} SECOND, -1, event_id FROM events
    ),
    c AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta, event_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM b
    ),
    mx AS (SELECT MAX(cum) AS max_concurrent FROM c)
    SELECT CAST(mx.max_concurrent AS BIGINT) AS max_concurrent,
           strftime(MIN(c.t), '%Y-%m-%d %H:%M:%S') AS first_at
    FROM c JOIN mx ON c.cum = mx.max_concurrent
    GROUP BY mx.max_concurrent
    """,
    tags=("sweep-line", "intervals", "concurrency", "prefix-sum"),
)
def max_concurrent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency of 5-minute event windows (sweep line): every
    interval contributes a +1 boundary at its start and a −1 at its
    end; the running sum over boundaries ordered by (time, delta,
    event_id) — closes before opens at the same instant, so intervals
    are half-open — is the live concurrency, and its max (with the
    first time it is reached) is the answer. The naive SQL running
    total is an unpartitioned window over 2·N boundary rows; here the
    prefix sum is distributed (operators/prefix.ranked_cumsum), so
    the sweep scales with partitions, not one task.

    Scale shape: boundary explode is map-only (2× constant factor);
    one range shuffle for the prefix sum; the max/argmin fold is two
    aggregates over the persisted concurrency relation."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    b = ev.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ts").alias("t"),
                    F.lit(1).alias("delta"),
                    F.col("event_id"),
                ),
                F.struct(
                    (
                        F.col("ts")
                        + F.expr(f"INTERVAL {_SWEEP_SECS} SECONDS")
                    ).alias("t"),
                    F.lit(-1).alias("delta"),
                    F.col("event_id"),
                ),
            )
        ).alias("e")
    ).select("e.t", "e.delta", "e.event_id")
    cum = materialize(  # feeds the max AND the argmin fold
        ranked_cumsum(
            b,
            [F.asc("t"), F.asc("delta"), F.asc("event_id")],
            "delta",
            rank_name="_rn",
            cum_name="cum",
        ).select("t", "cum")
    )
    mx = cum.agg(F.max("cum").alias("max_concurrent"))
    return (
        cum.join(F.broadcast(mx), cum.cum == mx.max_concurrent)
        .groupBy("max_concurrent")
        .agg(
            F.date_format(F.min("t"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_at"
            )
        )
        .select(
            F.col("max_concurrent").cast("long").alias("max_concurrent"),
            "first_at",
        )
    )


# ---------------------------------------------------------------------------
# Join-size estimation by key-domain sampling
# ---------------------------------------------------------------------------

#: 1-in-8 deterministic key-domain sample for the join-size
#: estimator (h % 8 == 0 on the engine-independent md5 hash).
_JSE_MOD = 8


@register(
    "join_size_estimate",
    oracle=f"""
    WITH fe AS (
        SELECT user_id AS k, COUNT(*) AS f FROM events GROUP BY user_id
    ),
    fo AS (
        SELECT o_custkey AS k, COUNT(*) AS f
        FROM orders GROUP BY o_custkey
    ),
    j AS (
        SELECT fe.k, fe.f * fo.f AS m, {_SQL_H.format(x='fe.k')} AS h
        FROM fe JOIN fo USING (k)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_join_keys,
           CAST(COUNT(*) FILTER (WHERE h % {_JSE_MOD} = 0) AS BIGINT)
               AS n_sampled_keys,
           CAST(SUM(m) AS BIGINT) AS exact_join_rows,
           CAST({_JSE_MOD} * COALESCE(
                    SUM(m) FILTER (WHERE h % {_JSE_MOD} = 0), 0)
                AS BIGINT) AS est_join_rows,
           ROUND(ABS({_JSE_MOD}.0 * COALESCE(
                     SUM(m) FILTER (WHERE h % {_JSE_MOD} = 0), 0)
                     - SUM(m)) / SUM(m) * 100, 4) AS rel_err_pct
    FROM j
    """,
    tags=("sketch", "join-size", "cardinality-estimation", "governance"),
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT executing the join — the query-
    governance primitive that decides whether an events-x-orders
    user join is safe to run at 100 TB: |A join B| = sum over keys
    of fA(k)*fB(k), computed from the two per-key COUNT aggregates
    joined on the KEY DOMAIN (millions of keys, never the row-level
    join's billions of rows).

    The estimator samples the key domain deterministically
    (md5-hash % 8 == 0 — "end-biased" domain sampling: every key's
    inclusion is a pure function of the key, so both engines pick
    the identical sample) and scales the sampled frequency-product
    mass by 8: unbiased over the hash draw, and all-integer
    arithmetic so even the estimate hash-checks. The exact total
    rides along as the audit column (same deliberate pattern as the
    HLL exact-audit columns): at production scale you'd keep only
    the sampled pass, touching 1/8 of the key domain."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    fe = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count("*").alias("fa")
    )
    fo = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("fb")
    )
    j = fe.join(fo, "k").select(
        (F.col("fa") * F.col("fb")).alias("m"),
        (token_hash(F.col("k").cast("string")) % _JSE_MOD == 0).alias(
            "sampled"
        ),
    )
    msamp = F.coalesce(
        F.sum(F.when(F.col("sampled"), F.col("m"))), F.lit(0)
    )
    return j.agg(
        F.count("*").alias("n_join_keys"),
        F.count_if("sampled").alias("n_sampled_keys"),
        F.sum("m").cast("long").alias("exact_join_rows"),
        (F.lit(_JSE_MOD) * msamp).cast("long").alias("est_join_rows"),
        F.round(
            F.abs(
                F.lit(float(_JSE_MOD)) * msamp - F.sum("m")
            )
            / F.sum("m")
            * 100,
            4,
        ).alias("rel_err_pct"),
    )


# ---------------------------------------------------------------------------
# Consistent hashing: ring assignment + rebalance movement
# ---------------------------------------------------------------------------

_CH_NODES = 4     # initial cluster size
_CH_VNODES = 32   # virtual nodes per physical node
#: ring positions are 60-bit md5 hashes of "node:replica" labels —
#: the same engine-independent arithmetic as every other hash here.
_CH_RING_SQL = " UNION ALL ".join(
    f"SELECT {n} AS node, "
    + _SQL_H.format(x=f"'ring:{n}:{r}'")
    + " AS pos"
    for n in range(_CH_NODES + 1)
    for r in range(_CH_VNODES)
)


@register(
    "consistent_hash_movement",
    oracle=f"""
    WITH ring AS ({_CH_RING_SQL}),
    keys AS (
        SELECT o_orderkey AS k, {_SQL_H.format(x='o_orderkey')} AS h
        FROM orders
    ),
    a4 AS (
        SELECT k.k,
               COALESCE(
                   MIN(CASE WHEN r.pos >= k.h THEN r.pos END),
                   MIN(r.pos)) AS sel
        FROM keys k CROSS JOIN ring r
        WHERE r.node < {_CH_NODES}
        GROUP BY k.k
    ),
    a5 AS (
        SELECT k.k,
               COALESCE(
                   MIN(CASE WHEN r.pos >= k.h THEN r.pos END),
                   MIN(r.pos)) AS sel
        FROM keys k CROSS JOIN ring r
        GROUP BY k.k
    ),
    n4 AS (SELECT a4.k, r.node FROM a4 JOIN ring r ON a4.sel = r.pos),
    n5 AS (SELECT a5.k, r.node FROM a5 JOIN ring r ON a5.sel = r.pos),
    j AS (
        SELECT n4.node AS node4, n5.node AS node5
        FROM n4 JOIN n5 USING (k)
    )
    SELECT node4 AS node,
           CAST(COUNT(*) AS BIGINT) AS n_keys_before,
           CAST(COUNT(*) FILTER (WHERE node5 <> node4) AS BIGINT)
               AS n_moved_away,
           ROUND(COUNT(*) FILTER (WHERE node5 <> node4)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS moved_frac
    FROM j GROUP BY node4
    """,
    tags=("consistent-hashing", "partitioning", "rebalance",
          "infrastructure"),
)
def consistent_hash_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring assignment and the rebalance-movement
    report for scaling 4 -> 5 nodes (Karger et al., STOC'97): every
    order key walks clockwise to the first of 32 virtual nodes per
    physical node; adding node 4 must move only the keys landing in
    the new node's arcs (~1/5 of each node's keys), where mod-N
    partitioning would reshuffle ~4/5 — the property that makes
    shard scaling cheap, measured rather than asserted.

    Scale shape: BOTH ring epochs collapse to one 1-row broadcast
    spine (sorted vnode-position arrays + a pos→node map); each key
    resolves its successor in both rings with per-row higher-order
    array lookups (wrap-around via COALESCE to the ring head) — ONE
    corpus scan, zero row blowup, and the only shuffle is the 5-row
    movement rollup. (The first formulation — a 160× key-ring
    crossJoin re-aggregated per epoch — was the 18 s bench outlier
    this replaced.)"""
    orders = load_table(spark, sf_dir, "orders")
    ring = spark.createDataFrame(
        [(n, r) for n in range(_CH_NODES + 1) for r in range(_CH_VNODES)],
        "node int, replica int",
    ).select(
        "node",
        token_hash(
            F.concat(
                F.lit("ring:"),
                F.col("node").cast("string"),
                F.lit(":"),
                F.col("replica").cast("string"),
            )
        ).alias("pos"),
    )
    spine = ring.agg(
        F.sort_array(F.collect_list("pos")).alias("arr5"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("node") < _CH_NODES, F.col("pos"))
            )
        ).alias("arr4"),
        F.map_from_entries(
            F.collect_list(F.struct("pos", "node"))
        ).alias("m"),
    )

    def successor(arr: str) -> F.Column:
        # try_element_at: the filtered array is legitimately empty
        # when h lies past the last vnode (the wrap-around case);
        # plain element_at throws under ANSI.
        hit = F.expr(f"try_element_at(filter({arr}, p -> p >= h), 1)")
        return F.col("m")[F.coalesce(hit, F.element_at(F.col(arr), 1))]

    # The per-key work (md5 hash + two 160-element array walks) runs
    # in the scan stage, and a kilobytes-per-row parquet file is ONE
    # scan partition — measured 2.4 cpu_s serialized on one task.
    from axolotls_spark.io.sources import spread_for_cpu

    keys = spread_for_cpu(orders, "o_orderkey").select(
        F.col("o_orderkey").alias("k"),
        token_hash(F.col("o_orderkey").cast("string")).alias("h"),
    )
    assigned = keys.crossJoin(F.broadcast(spine)).select(
        "k",
        successor("arr4").alias("node4"),
        successor("arr5").alias("node5"),
    )
    moved = F.col("node5") != F.col("node4")
    return assigned.groupBy(F.col("node4").alias("node")).agg(
        F.count("*").alias("n_keys_before"),
        F.count_if(moved).alias("n_moved_away"),
        F.round(
            F.count_if(moved) / F.count("*").cast("double"), 6
        ).alias("moved_frac"),
    )


# ---------------------------------------------------------------------------
# 2D skyline (Pareto frontier) via distributed exclusive prefix max
# ---------------------------------------------------------------------------


@register(
    "skyline_price_size",
    oracle="""
    SELECT a.p_partkey, a.p_retailprice, a.p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice
               OR b.p_size > a.p_size)
    )
    """,
    tags=("skyline", "pareto", "dominance", "prefix-max",
          "distributed-rank"),
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of parts (minimize retail price,
    maximize size): the classic multi-criteria OLAP operator.  The
    textbook formulation is a quadratic NOT-EXISTS dominance check —
    and that is exactly what the oracle runs, making it an
    independent derivation.  The Spark plan instead exploits the 2D
    structure: sweep prices ascending, and a part is Pareto-optimal
    iff (a) it carries the max size among equal-priced parts and
    (b) its size strictly beats the EXCLUSIVE prefix max of sizes
    over all strictly-cheaper parts — one distributed prefix-max
    (operators/prefix.exclusive_prefix_max: range partitions +
    broadcast offsets), O(N log N)-ish instead of O(N²), no corpus
    self-join, no single-partition window.

    Scale shape: one groupBy to the distinct-price relation, one
    range shuffle for the prefix max, one equi-join back on price.
    """
    from axolotls_spark.operators.prefix import exclusive_prefix_max

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("pmax")
    )
    swept = exclusive_prefix_max(
        per_price,
        [F.asc("p_retailprice")],
        "pmax",
        out_name="prev_max",
    )
    frontier = swept.filter(
        F.col("prev_max").isNull() | (F.col("pmax") > F.col("prev_max"))
    ).select(F.col("p_retailprice").alias("fp"), "pmax")
    return part.join(
        frontier,
        (part.p_retailprice == F.col("fp"))
        & (part.p_size == F.col("pmax")),
    ).select("p_partkey", "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank test via distributed average ranks
# ---------------------------------------------------------------------------


@register(
    "kruskal_wallis_segments",
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    r AS (
        SELECT seg,
               RANK() OVER (ORDER BY v)
                 + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar,
               v
        FROM j
    ),
    g AS (
        SELECT seg, SUM(ar) AS rg, COUNT(*)::DOUBLE AS ng
        FROM r GROUP BY 1
    ),
    ties AS (
        SELECT COALESCE(SUM(t*t*t - t), 0)::DOUBLE AS tie
        FROM (SELECT COUNT(*)::DOUBLE AS t FROM j GROUP BY v)
    ),
    agg AS (
        SELECT COUNT(*)::DOUBLE AS k, SUM(ng) AS n,
               SUM(rg*rg/ng) AS srr
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_total,
           CAST(k AS BIGINT) AS k_groups,
           CAST(12.0 / (n * (n + 1)) * srr - 3 * (n + 1) AS REAL)
               AS h_stat,
           CAST((12.0 / (n * (n + 1)) * srr - 3 * (n + 1))
                / (1 - tie / (n*n*n - n)) AS REAL) AS h_corrected
    FROM agg CROSS JOIN ties
    """,
    tags=("kruskal-wallis", "rank-test", "nonparametric",
          "distributed-rank", "prefix-sum"),
)
def kruskal_wallis_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank ANOVA of order value across market
    segments — the nonparametric sibling of anova_oneway_segments
    (H needs no normality and shrugs off the heavy right tail that
    inflates the F test's within-variance).  The hard part at scale
    is GLOBAL AVERAGE RANKS over the corpus; here each distinct
    value's average rank falls out of the distributed prefix sum
    (operators/prefix.ranked_cumsum over the distinct-value
    relation): avg_rank(v) = C_<v + (t_v+1)/2 with C the exclusive
    cumulative count — no corpus-wide sort, no single-partition
    window, and the tie-correction Σ(t³−t) rides the same relation.

    Scale shape: one fact-dim join, one groupBy to the distinct-value
    relation, one range shuffle for the prefix counts, one equi-join
    back on value, one 5-row group aggregate.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # (r8: a (seg, v)-cell rewrite was tried and REVERTED — v is
    # near-continuous, so the cells are corpus-sized and the persist +
    # extra exchange cost more than the re-scan they saved; tasks
    # 146->302.)
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_totalprice").alias("v"),
    )
    dv = j.groupBy("v").agg(F.count(F.lit(1)).cast("double").alias("t"))
    rc = ranked_cumsum(
        dv, [F.asc("v")], "t", rank_name="_rn", cum_name="cumt"
    ).select(
        "v",
        "t",
        (F.col("cumt") - F.col("t") + (F.col("t") + 1) / 2).alias("ar"),
    )
    g = (
        j.join(rc.select("v", "ar"), "v")
        .groupBy("seg")
        .agg(
            F.sum("ar").alias("rg"),
            F.count(F.lit(1)).cast("double").alias("ng"),
        )
    )
    ties = dv.agg(
        F.coalesce(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
            F.lit(0.0),
        ).alias("tie")
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("ng").alias("n"),
        F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("srr"),
    )
    h = (
        F.lit(12.0) / (F.col("n") * (F.col("n") + 1)) * F.col("srr")
        - 3 * (F.col("n") + 1)
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        F.col("n").cast("long").alias("n_total"),
        F.col("k").cast("long").alias("k_groups"),
        h.cast("float").alias("h_stat"),
        (
            h
            / (
                1
                - F.col("tie")
                / (F.col("n") * F.col("n") * F.col("n") - F.col("n"))
            )
        )
        .cast("float")
        .alias("h_corrected"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation via distributed average ranks
# ---------------------------------------------------------------------------


@register(
    "spearman_corr_qty_price",
    oracle="""
    WITH j AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
    ),
    r AS (
        SELECT RANK() OVER (ORDER BY x)
                 + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
               RANK() OVER (ORDER BY y)
                 + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
        FROM j
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST((COUNT(*) * SUM(rx*ry) - SUM(rx) * SUM(ry))
                / SQRT(COUNT(*) * SUM(rx*rx) - SUM(rx) * SUM(rx))
                / SQRT(COUNT(*) * SUM(ry*ry) - SUM(ry) * SUM(ry))
                AS REAL) AS spearman_rho
    FROM r
    """,
    tags=("spearman", "rank-correlation", "nonparametric",
          "distributed-rank", "prefix-sum"),
)
def spearman_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price — the
    monotone-association measure that ignores the marginal scales
    (corr_matrix_lineitem's Pearson entries see only LINEAR
    association).  Average ranks for BOTH variables come from the
    distributed prefix sum over each variable's distinct-value
    relation (the kruskal_wallis_segments machinery, applied twice):
    avg_rank(v) = C_<v + (t_v+1)/2 — no corpus-wide sort, ties get
    the exact midrank, and ρ is Pearson's formula on the rank pair.

    Scale shape: two distinct-value aggregates + two range shuffles
    for the prefix counts, two equi-joins back onto the fact scan,
    ONE final moment aggregate.  Quantity has ~50 distinct values
    (heavy ties — midranks matter); price is near-continuous.
    """
    # (r8: a distinct-(x,y)-cell rewrite — lineitem scanned once, rank
    # maps joined onto the cells — was tried and REVERTED: price is
    # near-continuous, so the cell relation is corpus-sized and its
    # persist + extra exchange cost more than the two parquet re-scans
    # it saved; tasks 288->443, shuffle 35.8->48.8 MB.)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )

    def avg_ranks(col: str, out: str) -> DataFrame:
        dv = li.groupBy(col).agg(
            F.count(F.lit(1)).cast("double").alias("t")
        )
        return ranked_cumsum(
            dv, [F.asc(col)], "t", rank_name="_rn", cum_name="cumt"
        ).select(
            col,
            (F.col("cumt") - F.col("t") + (F.col("t") + 1) / 2).alias(
                out
            ),
        )

    ranked = li.join(avg_ranks("x", "rx"), "x").join(
        avg_ranks("y", "ry"), "y"
    )
    n = F.count(F.lit(1)).cast("double")
    return ranked.agg(
        n.cast("long").alias("n"),
        (
            (n * F.sum(F.col("rx") * F.col("ry"))
             - F.sum("rx") * F.sum("ry"))
            / F.sqrt(
                n * F.sum(F.col("rx") * F.col("rx"))
                - F.sum("rx") * F.sum("rx")
            )
            / F.sqrt(
                n * F.sum(F.col("ry") * F.col("ry"))
                - F.sum("ry") * F.sum("ry")
            )
        )
        .cast("float")
        .alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b via contingency-cell pair counting
# ---------------------------------------------------------------------------


@register(
    "kendall_tau_concordance",
    oracle="""
    WITH cells AS (
        SELECT l_quantity AS x, l_discount AS y,
               COUNT(*)::BIGINT AS c
        FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
        SELECT SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)
                   AS conc,
               SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)
                   AS disc
        FROM cells a JOIN cells b ON a.x < b.x
    ),
    marg AS (
        SELECT SUM(c) AS n,
               (SELECT SUM(tx * (tx - 1) / 2) FROM (
                    SELECT SUM(c) AS tx FROM cells GROUP BY x)) AS n1,
               (SELECT SUM(ty * (ty - 1) / 2) FROM (
                    SELECT SUM(c) AS ty FROM cells GROUP BY y)) AS n2
        FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST(n1 AS BIGINT) AS ties_x,
           CAST(n2 AS BIGINT) AS ties_y,
           CAST((conc - disc)
                / (SQRT(CAST(n * (n - 1) / 2 - n1 AS DOUBLE))
                   * SQRT(CAST(n * (n - 1) / 2 - n2 AS DOUBLE)))
                AS REAL) AS tau_b
    FROM pairs, marg
    """,
    tags=("kendall", "rank-correlation", "nonparametric",
          "contingency", "pair-counting"),
)
def kendall_tau_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between quantity and discount — the
    pair-concordance complement to ``spearman_corr_qty_price``
    (Spearman sees rank-linear association; Kendall counts inversion
    pairs, the statistic behind trend tests and rank-agreement
    metrics).

    The naive definition is an O(n^2) all-pairs comparison — 1.8e11
    pairs at sf0.1, forever at 100 TB.  Both variables are
    low-cardinality (quantity has 50 distinct values, discount 11),
    so the corpus collapses to a <=550-cell CONTINGENCY relation in
    one hash aggregate, and every pair count is recovered from cell
    products: concordant = sum c_a*c_b over cell pairs with
    x_a<x_b, y_a<y_b; discordant with y_a>y_b; tie terms from the
    marginals.  Work after the single fact-table scan is O(cells^2)
    = 550^2 on a broadcast nested-loop self-join — data-size
    independent.  (For continuous variables, discretize first —
    ``discretize_equal_frequency`` — exactly as histogram GBDT does.)

    Engine stability: all counts are exact BIGINTs; the only float
    math is the final tau division.  n0-n1 and n0-n2 (~1.8e11) are
    exact in double but their PRODUCT (~3e22) overflows both BIGINT
    and the 2^53 double-exact range, so both engines compute
    sqrt(a)*sqrt(b) — two correctly-rounded sqrts of exact integers,
    then one rounded multiply — an identical op sequence, then
    float32."""
    li = load_table(spark, sf_dir, "lineitem")
    # The <=550-row contingency relation feeds FIVE consumers (both
    # sides of the pair join, two tie marginals, the total); persist
    # so the fact table is scanned exactly once.
    cells = (
        li.groupBy(
            F.col("l_quantity").alias("x"), F.col("l_discount").alias("y")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.x") < F.col("b.x"))
        .agg(
            F.sum(
                F.when(
                    F.col("a.y") < F.col("b.y"),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(F.lit(0))
            ).alias("conc"),
            F.sum(
                F.when(
                    F.col("a.y") > F.col("b.y"),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(F.lit(0))
            ).alias("disc"),
        )
    )
    n1 = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("tx"))
        .agg(F.sum(F.col("tx") * (F.col("tx") - 1) / 2).cast("long").alias("n1"))
    )
    n2 = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("ty"))
        .agg(F.sum(F.col("ty") * (F.col("ty") - 1) / 2).cast("long").alias("n2"))
    )
    n = cells.agg(F.sum("c").cast("long").alias("n"))
    n0 = F.col("n") * (F.col("n") - 1) / 2
    return (
        pairs.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "n",
            F.col("conc").cast("long").alias("concordant"),
            F.col("disc").cast("long").alias("discordant"),
            F.col("n1").alias("ties_x"),
            F.col("n2").alias("ties_y"),
            (
                (F.col("conc") - F.col("disc"))
                / (
                    F.sqrt((n0 - F.col("n1")).cast("double"))
                    * F.sqrt((n0 - F.col("n2")).cast("double"))
                )
            )
            .cast("float")
            .alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov via distributed prefix counts
# ---------------------------------------------------------------------------

_KS_A, _KS_B = "BUILDING", "MACHINERY"


@register(
    "ks_two_sample",
    oracle=f"""
    WITH s AS (
        SELECT o.o_totalprice AS v,
               CASE WHEN c.c_mktsegment = '{_KS_A}' THEN 1 ELSE 0 END AS a
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('{_KS_A}', '{_KS_B}')
    ),
    dv AS (
        SELECT v, SUM(a)::BIGINT AS ca, (COUNT(*) - SUM(a))::BIGINT AS cb
        FROM s GROUP BY v
    ),
    t AS (SELECT SUM(ca) AS n1, SUM(cb) AS n2 FROM dv),
    cum AS (
        SELECT v,
               SUM(ca) OVER (ORDER BY v) AS c1,
               SUM(cb) OVER (ORDER BY v) AS c2
        FROM dv
    ),
    d AS (
        SELECT ABS(c1 * t.n2 - c2 * t.n1) AS dnum, v
        FROM cum CROSS JOIN t
    ),
    best AS (
        SELECT dnum, v FROM d
        ORDER BY dnum DESC, v LIMIT 1
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
           CAST(best.dnum AS BIGINT) AS d_num,
           CAST(best.dnum / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))
                AS REAL) AS ks_d,
           CAST(best.v AS REAL) AS d_at_value,
           CAST(2 * EXP(-2.0
                * (best.dnum / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)))
                * (best.dnum / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)))
                * (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)
                   / (CAST(t.n1 AS DOUBLE) + CAST(t.n2 AS DOUBLE))))
                AS REAL) AS p_approx
    FROM best CROSS JOIN t
    """,
    tags=("kolmogorov-smirnov", "two-sample", "nonparametric",
          "distribution-drift", "distributed-rank", "prefix-sum"),
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between order
    totals of two customer segments — the distribution-equality test
    that complements ``distribution_drift_psi`` (PSI needs bins and a
    reference snapshot; KS is binless and exact) and
    ``kruskal_wallis_segments`` (which compares locations, not whole
    CDFs).  The supremum gap D = max_v |F1(v) - F2(v)| is the
    standard drift gate for "did this feature's distribution move
    between two corpus snapshots".

    Engine-exactness: D's argmax runs entirely on INTEGERS —
    |c1*n2 - c2*n1| (cross-multiplied cumulative counts, <= ~4e11,
    exact BIGINT) — so the engines cannot disagree on where the
    supremum sits; the only float math is the final division and the
    one-term Kolmogorov tail approximation p ~ 2 exp(-2 D^2 * n1*n2
    / (n1+n2)), emitted float32.

    Scale shape: one aggregate to the distinct-value relation, then
    the cumulative counts come from the distributed-rank primitive
    (range partitions + broadcast offsets — o_totalprice is
    near-continuous, so the distinct relation is corpus-sized and a
    global ORDER BY window would funnel it through one task); the
    argmax is one TakeOrdered over that relation."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin(_KS_A, _KS_B))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == _KS_A, 1).otherwise(0).alias("a"),
        )
    )
    # Two consumers (global totals + the prefix relation) — each
    # re-ran the orders x customer join and the distinct-value
    # aggregate without the pin.
    dv = (
        s.groupBy("v")
        .agg(
            F.sum("a").cast("long").alias("ca"),
            (F.count(F.lit(1)) - F.sum("a")).cast("long").alias("cb"),
        )
        .persist()
    )
    t = dv.agg(
        F.sum("ca").cast("long").alias("n1"),
        F.sum("cb").cast("long").alias("n2"),
    )
    # BOTH cumulative counts ride ONE prefix pass (extra_cums): the
    # combined count is the primary cumulant and cb accumulates over
    # the same value order — one range shuffle + one cached ranged
    # relation instead of two chained prefix scaffolds (r8); c1 falls
    # out by subtraction, exact BIGINT arithmetic throughout.
    both = dv.select("v", "ca", "cb", (F.col("ca") + F.col("cb")).alias("ct"))
    rk = ranked_cumsum(both, [F.asc("v")], "ct", rank_name="_rn",
                       cum_name="cboth", extra_cums={"cb": "c2"})
    cum = rk.select(
        "v",
        (F.col("cboth") - F.col("c2")).alias("c1"),
        "c2",
    )
    d = cum.crossJoin(F.broadcast(t)).select(
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias(
            "dnum"
        ),
        "v",
    )
    best = d.orderBy(F.col("dnum").desc(), "v").limit(1)
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    ksd = F.col("d_num") / (n1d * n2d)
    return (
        best.select(F.col("dnum").alias("d_num"), "v")
        .crossJoin(F.broadcast(t))
        .select(
            "n1",
            "n2",
            "d_num",
            ksd.cast("float").alias("ks_d"),
            F.col("v").cast("float").alias("d_at_value"),
            (
                2
                * F.exp(
                    -2.0
                    * ksd
                    * ksd
                    * (n1d * n2d / (n1d + n2d))
                )
            )
            .cast("float")
            .alias("p_approx"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (two-sample rank test) via distributed average ranks
# ---------------------------------------------------------------------------


@register(
    "mann_whitney_u",
    oracle="""
    WITH j AS (
        SELECT l_linestatus AS grp, l_extendedprice AS v FROM lineitem
    ),
    r AS (
        SELECT grp,
               RANK() OVER (ORDER BY v)
                 + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar,
               v
        FROM j
    ),
    g AS (
        SELECT SUM(CASE WHEN grp = 'F' THEN ar END) AS ra,
               SUM(CASE WHEN grp = 'F' THEN 1 ELSE 0 END)::DOUBLE AS na,
               SUM(CASE WHEN grp <> 'F' THEN 1 ELSE 0 END)::DOUBLE AS nb
        FROM r
    ),
    ties AS (
        SELECT COALESCE(SUM(t*t*t - t), 0)::DOUBLE AS tie
        FROM (SELECT COUNT(*)::DOUBLE AS t FROM j GROUP BY v)
    ),
    s AS (
        SELECT na, nb, na + nb AS n,
               ra - na * (na + 1) / 2 AS u
        FROM g
    )
    SELECT CAST(s.na AS BIGINT) AS n_a, CAST(s.nb AS BIGINT) AS n_b,
           CAST(s.u AS REAL) AS u_stat,
           CAST(s.u / (s.na * s.nb) AS REAL) AS cles,
           CAST((s.u - s.na * s.nb / 2)
                / sqrt(s.na * s.nb / 12.0
                       * ((s.n + 1) - t.tie / (s.n * (s.n - 1))))
                AS REAL) AS z_score
    FROM s CROSS JOIN ties t
    """,
    tags=("mann-whitney", "rank-test", "nonparametric", "two-sample",
          "distributed-rank", "prefix-sum"),
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) comparing extended price
    between the two line statuses — the two-sample member of the
    nonparametric family (``kruskal_wallis_segments`` is its k-group
    generalization, ``ks_two_sample`` its distribution-shape
    sibling): U with exact midranks for ties, the tie-corrected
    normal z (no continuity correction — documented), and the
    common-language effect size U/(n_A·n_B) = P(random A > random B),
    which is what a reviewer should read instead of the p-value at
    this sample size.

    Scale shape: identical to Kruskal–Wallis — global average ranks
    come from the distributed prefix sum over the DISTINCT-VALUE
    relation (operators/prefix.ranked_cumsum: avg_rank(v) =
    C_<v + (t_v+1)/2), so there is no corpus-wide sort and no
    single-partition window.  The per-group rank sum needs NO join
    back to the corpus either (the old plan shuffled every lineitem
    row onto the value key a second time — r8 §2.3): the per-value
    group count t_A rides the SAME distinct-value aggregate, so
    ra = Σ_v ar(v)·t_A(v) is one more cell of the value-domain
    aggregate, and the tie term rides the same relation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("grp"),
        F.col("l_extendedprice").alias("v"),
    )
    dv = li.groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        F.sum(F.when(F.col("grp") == "F", 1).otherwise(0))
        .cast("double")
        .alias("ta"),
    )
    rc = ranked_cumsum(
        dv, [F.asc("v")], "t", rank_name="_rn", cum_name="cumt"
    ).select(
        "v",
        "t",
        "ta",
        (F.col("cumt") - F.col("t") + (F.col("t") + 1) / 2).alias("ar"),
    )
    g = rc.agg(
        F.sum(F.col("ar") * F.col("ta")).alias("ra"),
        F.sum("ta").alias("na"),
        F.sum(F.col("t") - F.col("ta")).alias("nb"),
        F.coalesce(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
            F.lit(0.0),
        ).alias("tie"),
    )
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2
    n = F.col("na") + F.col("nb")
    return g.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        u.cast("float").alias("u_stat"),
        (u / (F.col("na") * F.col("nb"))).cast("float").alias("cles"),
        (
            (u - F.col("na") * F.col("nb") / 2)
            / F.sqrt(
                F.col("na")
                * F.col("nb")
                / 12.0
                * ((n + 1) - F.col("tie") / (n * (n - 1)))
            )
        )
        .cast("float")
        .alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-equality test (ANOVA on |y - group median|)
# ---------------------------------------------------------------------------


@register(
    "brown_forsythe_variance",
    oracle="""
    WITH base AS (
        SELECT c_mktsegment AS seg, CAST(c_acctbal AS DOUBLE) AS y
        FROM customer
    ),
    med AS (
        SELECT seg, quantile_cont(y, 0.5) AS md FROM base GROUP BY seg
    ),
    z AS (
        SELECT b.seg, ABS(b.y - m.md) AS z
        FROM base b JOIN med m ON b.seg = m.seg
    ),
    g AS (
        SELECT seg, COUNT(*)::DOUBLE AS ng, SUM(z) AS sz,
               SUM(z * z) AS szz
        FROM z GROUP BY seg
    ),
    t AS (
        SELECT COUNT(*)::DOUBLE AS k, SUM(ng) AS n, SUM(sz) AS s,
               SUM(sz * sz / ng) AS sgm,
               SUM(szz) AS ss
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_total, CAST(k AS BIGINT) AS k_groups,
           CAST(((sgm - s * s / n) / (k - 1))
                / ((ss - sgm) / (n - k)) AS REAL) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within
    FROM t
    """,
    tags=("brown-forsythe", "levene", "variance-equality", "anova",
          "diagnostics", "shared-algebra"),
)
def brown_forsythe_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test for equal variances across market
    segments — the robust (median-centered) Levene variant, and the
    diagnostic that must pass BEFORE ``anova_oneway_segments``'s
    pooled-variance F is trustworthy: it is literally a one-way
    ANOVA on the absolute deviations z = |y − median_g|, so unequal
    spread shows up as a mean shift in z.  Median centering (not
    mean) is what makes it robust to the heavy tails that break
    classic Levene.

    Scale shape: one exact per-group median pass (5 groups), one
    broadcast join of the 5-row median relation back onto the scan,
    then the standard ANOVA moment algebra — two grouped aggregates,
    all map-side combinable, no windows."""
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").cast("double").alias("y"),
    )
    med = base.groupBy("seg").agg(F.expr("percentile(y, 0.5)").alias("md"))
    z = base.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("y") - F.col("md")).alias("z")
    )
    g = z.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sz").alias("s"),
        F.sum(F.col("sz") * F.col("sz") / F.col("ng")).alias("sgm"),
        F.sum("szz").alias("ss"),
    )
    return t.select(
        F.col("n").cast("long").alias("n_total"),
        F.col("k").cast("long").alias("k_groups"),
        (
            ((F.col("sgm") - F.col("s") * F.col("s") / F.col("n"))
             / (F.col("k") - 1))
            / ((F.col("ss") - F.col("sgm")) / (F.col("n") - F.col("k")))
        )
        .cast("float")
        .alias("f_stat"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"),
    )


# ---------------------------------------------------------------------------
# Weighted median via the distributed prefix sum
# ---------------------------------------------------------------------------


@register(
    "weighted_median_unit_price",
    oracle="""
    WITH base AS (
        SELECT CAST(l_extendedprice AS DOUBLE) / l_quantity AS v,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
    ),
    dv AS (SELECT v, SUM(wt)::BIGINT AS w FROM base GROUP BY v),
    tot AS (SELECT SUM(w)::BIGINT AS tw FROM dv),
    cum AS (
        SELECT v, w,
               SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
        FROM dv
    ),
    med AS (
        SELECT MIN(v) AS wmed FROM cum CROSS JOIN tot
        WHERE 2 * cw >= tw
    ),
    unw AS (SELECT quantile_cont(v, 0.5) AS umed FROM base)
    SELECT (SELECT tw FROM tot) AS total_weight,
           CAST(med.wmed AS REAL) AS weighted_median,
           CAST(unw.umed AS REAL) AS unweighted_median
    FROM med CROSS JOIN unw
    """,
    tags=("weighted-median", "order-statistics", "prefix-sum",
          "distributed-rank"),
)
def weighted_median_unit_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted median unit price — the order statistic a
    pricing analysis actually wants (each line item votes with its
    units, so a 50-unit line moves the median 50× more than a
    1-unit line), emitted beside the unweighted median so the gap
    IS the volume-mix readout.  Selection rule: the smallest value
    whose cumulative weight reaches half the total, with the
    half-total test written as the INTEGER comparison 2·cum ≥ W
    (quantities are integers) — no float ever decides which value
    is the median.

    Scale shape: the Kruskal–Wallis machinery pointed at a weighted
    quantile — one distinct-value aggregate, one distributed prefix
    sum (operators/prefix.ranked_cumsum: range shuffle, no
    single-partition window), one filtered MIN.  Generalizes to any
    weighted quantile q by replacing 2·cum ≥ W with
    denom·cum ≥ q·W·denom."""
    base = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("double") / F.col("l_quantity"))
        .alias("v"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    # One corpus pass for BOTH medians: the distinct-value relation
    # carries the quantity weight AND the row frequency, so the
    # unweighted median is percentile(v, 0.5, freq) over it — exactly
    # the replicated-row semantics of percentile(v, 0.5) on the raw
    # rows — instead of a second corpus aggregate. Persisted: three
    # consumers (total weight, prefix relation, unweighted median).
    dv = (
        base.groupBy("v")
        .agg(
            F.sum("wt").cast("long").alias("w"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
        .persist()
    )
    tot = dv.agg(F.sum("w").cast("long").alias("tw"))
    cum = ranked_cumsum(
        dv, [F.asc("v")], "w", rank_name="_rn", cum_name="cw"
    )
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cw") >= F.col("tw"))
        .agg(F.min("v").alias("wmed"))
    )
    unw = dv.agg(F.expr("percentile(v, 0.5, c)").alias("umed"))
    return (
        tot.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(unw))
        .select(
            F.col("tw").alias("total_weight"),
            F.col("wmed").cast("float").alias("weighted_median"),
            F.col("umed").cast("float").alias("unweighted_median"),
        )
    )


# --------------------------------------------------------------------------
# V-optimal histogram (DP synopsis construction)


_VOPT_BINS = 64
_VOPT_BUCKETS = 8
_VOPT_WIDTH = 10000.0  # equi-width pre-bin: o_totalprice / 10000, clipped

#: Shared SSE text: MUST stay in this exact op order — the numpy
#: mirror (operators/histogram.voptimal_dp) computes
#: (S2j-S2k) - (Sj-Sk)^2/(j-k) identically, so the DP doubles are
#: bit-identical across engines and argmin tie-breaks agree.
_VOPT_SSE = (
    "(({j}.S2 - {k}.S2) - ({j}.S - {k}.S) * ({j}.S - {k}.S)"
    " * 1.0 / ({j}.j - {k}.j))"
)


def _voptimal_oracle() -> str:
    parts = [
        f"""
    spine AS (SELECT UNNEST(range(0, {_VOPT_BINS})) AS bin),
    counts AS (
        SELECT LEAST(CAST(FLOOR(o_totalprice / {_VOPT_WIDTH}) AS BIGINT),
                     {_VOPT_BINS - 1}) AS bin,
               COUNT(*)::BIGINT AS c
        FROM orders GROUP BY 1
    ),
    h AS (
        SELECT s.bin, COALESCE(c.c, 0)::BIGINT AS c
        FROM spine s LEFT JOIN counts c USING (bin)
    ),
    p AS (
        SELECT bin + 1 AS j,
               SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                   ::BIGINT AS S,
               SUM(c * c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                   ::BIGINT AS S2
        FROM h
        UNION ALL SELECT 0, 0, 0
    ),
    e1 AS (
        SELECT j.j, {_VOPT_SSE.format(j='j', k='k')} AS e
        FROM p j JOIN p k ON k.j = 0
        WHERE j.j >= 1
    )"""
    ]
    for b in range(2, _VOPT_BUCKETS + 1):
        parts.append(
            f""",
    cand{b} AS (
        SELECT j.j, k.j AS k,
               e{b - 1}.e + {_VOPT_SSE.format(j='j', k='k')} AS e
        FROM p j
        JOIN p k ON k.j >= {b - 1} AND k.j < j.j
        JOIN e{b - 1} ON e{b - 1}.j = k.j
        WHERE j.j >= {b}
    ),
    e{b} AS (SELECT j, MIN(e) AS e FROM cand{b} GROUP BY j)"""
        )
    # Backtrack: bt{b} holds k_{b-1}, the end of the (b-1)-bucket
    # prefix chosen at level b; ORDER BY e, k = numpy's first-min.
    parts.append(
        f""",
    bt{_VOPT_BUCKETS} AS (
        SELECT k FROM cand{_VOPT_BUCKETS}
        WHERE j = {_VOPT_BINS} ORDER BY e, k LIMIT 1
    )"""
    )
    for b in range(_VOPT_BUCKETS - 1, 1, -1):
        parts.append(
            f""",
    bt{b} AS (
        SELECT k FROM cand{b}
        WHERE j = (SELECT k FROM bt{b + 1})
        ORDER BY e, k LIMIT 1
    )"""
        )
    bounds = ["SELECT 0 AS idx, 0 AS k"]
    for b in range(2, _VOPT_BUCKETS + 1):
        bounds.append(f"SELECT {b - 1}, (SELECT k FROM bt{b})")
    bounds.append(f"SELECT {_VOPT_BUCKETS}, {_VOPT_BINS}")
    parts.append(
        f""",
    bounds AS ({" UNION ALL ".join(bounds)}),
    pairs AS (
        SELECT a.idx + 1 AS bucket_id, a.k AS lo, b.k AS hi
        FROM bounds a JOIN bounds b ON b.idx = a.idx + 1
    )
    SELECT CAST(bucket_id AS INT) AS bucket_id,
           CAST(lo AS INT) AS lo_bin,
           CAST(hi - 1 AS INT) AS hi_bin,
           (pj.S - pk.S)::BIGINT AS n_rows,
           CAST({_VOPT_SSE.format(j='pj', k='pk')} AS REAL) AS sse,
           CAST((SELECT e FROM e{_VOPT_BUCKETS}
                 WHERE j = {_VOPT_BINS}) AS REAL) AS total_sse
    FROM pairs
    JOIN p pk ON pk.j = lo
    JOIN p pj ON pj.j = hi
    ORDER BY bucket_id"""
    )
    return "WITH " + "".join(parts)


@register(
    "voptimal_histogram",
    oracle=_voptimal_oracle(),
    tags=("synopsis", "histogram", "v-optimal", "dp",
          "one-partition-solve"),
)
def voptimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal 8-bucket histogram of ``o_totalprice`` (Jagadish et
    al., VLDB'98): pre-bin into 64 equi-width cells with ONE corpus
    aggregate, then choose the 7 bucket boundaries minimizing total
    within-bucket SSE by O(B n^2) dynamic programming — the synopsis
    construction behind selectivity estimation and zonemap/bucket
    design, and the optimal counterpart of the fixed grids in
    `histogram_price_buckets` / `discretize_equal_frequency`.

    The DP runs INSIDE the plan on the 64-row bin relation
    (repartition(1) -> Arrow batch -> operators/histogram.voptimal_dp
    — the markov/pca one-partition-solve pattern; documented
    bounded-relation repartition).  The oracle replays the identical
    DP as chained CTEs (one candidate/min pair per level, relational
    — never the CollapseProject expression blowup), with every SSE in
    the same int64-prefix op order, so even the DP doubles and the
    argmin tie-breaks agree bit-for-bit across engines.

    At 100 TB: the corpus cost is the one histogram aggregate (the
    statistic ANALYZE collects anyway); optimality then costs B n^2 =
    32k FLOPs, location-independent."""
    import pandas as pd

    from axolotls_spark.operators.histogram import voptimal_dp

    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(
        F.least(
            F.floor(F.col("o_totalprice") / _VOPT_WIDTH).cast("long"),
            F.lit(_VOPT_BINS - 1),
        ).alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    spine = spark.range(_VOPT_BINS).select(F.col("id").alias("bin"))
    h = (
        spine.join(counts, "bin", "left")
        .select("bin", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
        # 64-row relation pinned to one partition for the in-plan DP
        # (documented bounded-relation repartition(1)).
        .repartition(1)
    )
    n_buckets = _VOPT_BUCKETS

    def _solve(batches):
        parts = [pdf for pdf in batches if not pdf.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values("bin")
        cts = [int(x) for x in pdf["c"]]
        bounds, sses, total = voptimal_dp(cts, n_buckets)
        s = [0]
        for c in cts:
            s.append(s[-1] + c)
        yield pd.DataFrame(
            {
                "bucket_id": list(range(1, n_buckets + 1)),
                "lo_bin": bounds[:-1],
                "hi_bin": [k - 1 for k in bounds[1:]],
                "n_rows": [
                    s[bounds[i + 1]] - s[bounds[i]]
                    for i in range(n_buckets)
                ],
                "sse": sses,
                "total_sse": [total] * n_buckets,
            }
        )

    out = h.mapInPandas(
        _solve,
        "bucket_id int, lo_bin int, hi_bin int, n_rows long, "
        "sse double, total_sse double",
    )
    return out.select(
        "bucket_id",
        "lo_bin",
        "hi_bin",
        "n_rows",
        F.col("sse").cast("float").alias("sse"),
        F.col("total_sse").cast("float").alias("total_sse"),
    ).orderBy("bucket_id")


# --------------------------------------------------------------------------
# Heavy-change detection between eras (deltoids)


_HCD_SPLIT = "1998-07-01"
_HCD_TOPK = 20


@register(
    "heavy_change_detection",
    oracle=f"""
    WITH era AS (
        SELECT l_partkey AS part,
               CASE WHEN l_shipdate < TIMESTAMP '{_HCD_SPLIT} 00:00:00'
                    THEN 0 ELSE 1 END AS era
        FROM lineitem
    ),
    c AS (
        SELECT part, era, COUNT(*)::BIGINT AS c FROM era GROUP BY 1, 2
    ),
    tot AS (
        SELECT SUM(CASE WHEN era = 0 THEN c ELSE 0 END)::BIGINT AS na,
               SUM(CASE WHEN era = 1 THEN c ELSE 0 END)::BIGINT AS nb
        FROM c
    ),
    wide AS (
        SELECT COALESCE(a.part, b.part) AS part,
               COALESCE(a.c, 0)::BIGINT AS ca,
               COALESCE(b.c, 0)::BIGINT AS cb
        FROM (SELECT part, c FROM c WHERE era = 0) a
        FULL OUTER JOIN (SELECT part, c FROM c WHERE era = 1) b
          ON a.part = b.part
    )
    SELECT part, ca, cb,
           ABS(ca * nb - cb * na)::BIGINT AS change_score,
           CAST(ca * 1.0 / na AS REAL) AS freq_before,
           CAST(cb * 1.0 / nb AS REAL) AS freq_after,
           CAST(cb * na > ca * nb AS INT) AS increased
    FROM wide CROSS JOIN tot
    ORDER BY change_score DESC, part
    LIMIT {_HCD_TOPK}
    """,
    tags=("heavy-change", "deltoids", "drift", "monitoring", "topk"),
)
def heavy_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heavy CHANGES in part frequency between the pre- and
    post-1998H2 shipment eras — the deltoids problem (Cormode &
    Muthukrishnan): the items whose relative frequency moved most,
    which is what a drift monitor actually wants (the top-k lists
    themselves barely move when everything is Zipfian;
    `distribution_drift_psi` summarizes the aggregate shift, this
    names the items responsible).

    Integer discipline at the ranking boundary: the change score is
    the cross-multiplied |c_a*N_b - c_b*N_a| — exactly proportional
    to |freq_before - freq_after| but computed entirely in int64, so
    the top-k cutoff and the `increased` flag can never hinge on a
    float (at petabyte counts the same statistic is computed on
    per-mille rates or decimal128; the plan shape is unchanged).

    Scale shape: one (part, era) aggregate over the corpus, a
    key-domain full-outer join, a broadcast 1-row totals attach, and
    a TakeOrderedAndProject top-k."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        F.when(
            F.col("l_shipdate") < F.lit(_HCD_SPLIT).cast("timestamp"), 0
        ).otherwise(1).alias(
            "era"
        ),
    )
    c = li.groupBy("part", "era").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = c.agg(
        F.sum(F.when(F.col("era") == 0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("era") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    a = c.filter(F.col("era") == 0).select(
        "part", F.col("c").alias("ca")
    )
    b = c.filter(F.col("era") == 1).select(
        F.col("part").alias("part_b"), F.col("c").alias("cb")
    )
    wide = (
        a.join(b, a["part"] == b["part_b"], "full_outer")
        .select(
            F.coalesce(a["part"], b["part_b"]).alias("part"),
            F.coalesce(F.col("ca"), F.lit(0)).cast("long").alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).cast("long").alias("cb"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return (
        wide.select(
            "part",
            "ca",
            "cb",
            F.abs(
                F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
            )
            .cast("long")
            .alias("change_score"),
            (F.col("ca") * 1.0 / F.col("na"))
            .cast("float")
            .alias("freq_before"),
            (F.col("cb") * 1.0 / F.col("nb"))
            .cast("float")
            .alias("freq_after"),
            (F.col("cb") * F.col("na") > F.col("ca") * F.col("nb"))
            .cast("int")
            .alias("increased"),
        )
        .orderBy(F.desc("change_score"), "part")
        .limit(_HCD_TOPK)
    )


# --------------------------------------------------------------------------
# Learned-index feasibility audit (per-segment CDF model error)


_LIDX_SEGS = 8
_LIDX_WIDTH = 100000.0  # o_totalprice segment width (clipped top seg)


@register(
    "learned_index_audit",
    oracle=f"""
    WITH ranked AS (
        SELECT o_totalprice AS x,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey)
                   ::BIGINT AS r,
               LEAST(CAST(FLOOR(o_totalprice / {_LIDX_WIDTH}) AS BIGINT),
                     {_LIDX_SEGS - 1}) AS seg
        FROM orders
    ),
    m AS (
        SELECT seg, COUNT(*)::BIGINT AS n,
               SUM(x) AS sx, SUM(r * 1.0) AS sr,
               SUM(x * r) AS sxr, SUM(x * x) AS sxx
        FROM ranked GROUP BY seg
    ),
    fit AS (
        SELECT seg, n, sx, sr, sxr, sxx,
               (n * sxr - sx * sr) / (n * sxx - sx * sx) AS slope
        FROM m
    ),
    fit2 AS (
        SELECT seg, n, slope, (sr - slope * sx) / n AS intercept
        FROM fit
    ),
    resid AS (
        SELECT r.seg, f.n, f.slope, f.intercept,
               ABS(r.r - (f.slope * r.x + f.intercept)) AS e
        FROM ranked r JOIN fit2 f ON r.seg = f.seg
    )
    SELECT seg AS segment, n AS n_keys,
           CAST(slope AS REAL) AS slope,
           CAST(intercept AS REAL) AS intercept,
           CAST(MAX(e) AS REAL) AS max_abs_err,
           CAST(SUM(e) / n AS REAL) AS mean_abs_err
    FROM resid
    GROUP BY seg, n, slope, intercept
    ORDER BY segment
    """,
    tags=("learned-index", "cdf-model", "synopsis", "prefix-sum",
          "index-design"),
)
def learned_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-index feasibility audit over ``o_totalprice`` — per
    value segment, the least-squares linear CDF model rank ~ a*x + b
    and its maximum/mean absolute rank error: exactly the epsilon a
    PGM/RMI-style learned index needs to bound its final search step
    (a segment with max error 120 means "model, then binary-search
    241 positions").  `voptimal_histogram` designs buckets for
    SELECTIVITY; this audits the same distribution for LOOKUP.

    Scale shape: the global rank comes from
    operators/prefix.ranked_cumsum (range partitions + broadcast
    offsets — never an unpartitioned window over the corpus); the
    per-segment fit is one moment aggregate; residuals re-join the
    8-row broadcast parameter relation.  The oracle spells the same
    fit from the same moments in the same operation order, and every
    emitted float is float32 (only MAX/mean of |residual| — no
    decision boundaries)."""
    # (r8: a persist + eager count of ranked was tried and REVERTED —
    # measured 7.4 -> 15.1 cpu_s: the fit and residual consumers
    # already share the ranked chain through runtime ReusedExchange,
    # so the columnar cache build was pure added cost.)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("one"),
    )
    ranked = ranked_cumsum(
        o, [F.asc("x"), F.asc("k")], "one", rank_name="r", cum_name="_c"
    ).select(
        "x",
        F.col("r").cast("long").alias("r"),
        F.least(
            F.floor(F.col("x") / _LIDX_WIDTH).cast("long"),
            F.lit(_LIDX_SEGS - 1),
        ).alias("seg"),
    )
    m = ranked.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("r") * 1.0).alias("sr"),
        F.sum(F.col("x") * F.col("r")).alias("sxr"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    fit = m.withColumn(
        "slope",
        (F.col("n") * F.col("sxr") - F.col("sx") * F.col("sr"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
    ).withColumn(
        "intercept",
        (F.col("sr") - F.col("slope") * F.col("sx")) / F.col("n"),
    )
    resid = ranked.join(
        F.broadcast(fit.select("seg", "n", "slope", "intercept")), "seg"
    ).withColumn(
        "e",
        F.abs(
            F.col("r") - (F.col("slope") * F.col("x") + F.col("intercept"))
        ),
    )
    return (
        resid.groupBy("seg", "n", "slope", "intercept")
        .agg(
            F.max("e").alias("max_e"),
            (F.sum("e") / F.col("n")).alias("mean_e"),
        )
        .select(
            F.col("seg").alias("segment"),
            F.col("n").alias("n_keys"),
            F.col("slope").cast("float").alias("slope"),
            F.col("intercept").cast("float").alias("intercept"),
            F.col("max_e").cast("float").alias("max_abs_err"),
            F.col("mean_e").cast("float").alias("mean_abs_err"),
        )
        .orderBy("segment")
    )
