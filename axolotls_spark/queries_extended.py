"""Extended operator coverage: as-of join, pivot, string functions,
map functions, exact percentiles.

The as-of join is the headline here — the one relational operator
Spark has no native form for (operators/temporal_join.py); the rest
certify builtin surfaces SURVEY §2B lists that earlier modules
didn't touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.io.sources import load_table
from axolotls_spark.operators.temporal_join import asof_join
from axolotls_spark.registry import REGISTRY, register, stable_f32


@register(
    "asof_join_last_order",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders
        QUALIFY rn = 1
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           o.o_orderkey   AS last_orderkey,
           o.o_totalprice AS last_totalprice
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    tags=("asof-join", "temporal", "window", "custom-operator"),
)
def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event matched to the user's latest order at-or-before the
    event time. Right side deduped per (custkey, orderdate) first so
    both engines pick the same row; Spark side is the union+window
    as-of (one shuffle, no range explosion), oracle is DuckDB's
    native ASOF JOIN."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderkey",
            "o_totalprice",
        )
    )
    joined = asof_join(
        e, o, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


@register(
    "pivot_status_revenue",
    oracle="""
    SELECT o_orderpriority,
           SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS F,
           SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS O,
           SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("pivot", "agg", "reshape"),
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list — at scale the explicit list
    matters: without it Spark runs an extra distinct job to discover
    pivot columns."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("o_totalprice"))
    )


@register(
    "string_functions_part",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                          AS name_upper,
           length(p_name)::BIGINT                 AS name_len,
           substring(p_name, 1, 8)                AS name_prefix,
           len(string_split(p_name, ' '))::INT    AS n_words,
           levenshtein(p_brand, 'Brand#33')::INT  AS brand_dist,
           regexp_extract(p_brand, '[0-9]+')      AS brand_num,
           concat_ws('|', p_brand, p_type)        AS brand_type,
           instr(p_name, 'a')::BIGINT             AS first_a,
           replace(p_type, ' ', '_')              AS type_snake
    FROM part
    """,
    tags=("string-functions", "scalar"),
)
def string_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.levenshtein("p_brand", F.lit("Brand#33")).alias("brand_dist"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.instr("p_name", "a").cast("long").alias("first_a"),
        F.replace("p_type", F.lit(" "), F.lit("_")).alias("type_snake"),
    )


@register(
    "map_functions_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           2::INT                           AS map_size,
           l_quantity                       AS qty_val,
           'qty,price'                      AS keys_csv,
           l_quantity + l_extendedprice     AS vals_sum
    FROM lineitem
    """,
    tags=("map-functions", "nested"),
)
def map_functions_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (reference declares a Map dtype but never
    builds a column — ``dtypes.py:213-235``; we actually support it):
    construction, cardinality, lookup, key listing, value fold. The
    oracle states the expected scalars directly (DuckDB's MAP has
    different ergonomics; the values are what's certified)."""
    li = load_table(spark, sf_dir, "lineitem")
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("price"), F.col("l_extendedprice"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(m).alias("map_size"),
        F.element_at(m, "qty").alias("qty_val"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.aggregate(
            F.map_values(m), F.lit(0.0), lambda acc, x: acc + x
        ).alias("vals_sum"),
    )


_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@register(
    "dedup_by_embedding",
    oracle=f"""
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE NOT EXISTS (
        SELECT 1 FROM embeddings a
        WHERE a.label = e.label AND a.vec_id < e.vec_id
          AND {_SQL_DOT.format(a='a.embedding', b='e.embedding')}
              / NULLIF({_SQL_NORM.format(v='a.embedding')}
                       * {_SQL_NORM.format(v='e.embedding')}, 0) >= 0.35
    )
    """,
    tags=("dedup", "embedding", "cosine", "near-dup", "anti-join"),
)
def dedup_by_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal (keep lowest id per
    near-dup relation, label-blocked pair generation + anti-join)."""
    from axolotls_spark.operators.similarity import embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dedup(emb, threshold=0.35).select("vec_id", "label")


@register(
    "unpivot_status_revenue",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS F,
               SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS O,
               SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'P') AS P
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, revenue FROM (
        SELECT o_orderpriority, 'F' AS status, F AS revenue FROM wide
        UNION ALL
        SELECT o_orderpriority, 'O', O FROM wide
        UNION ALL
        SELECT o_orderpriority, 'P', P FROM wide
    )
    """,
    tags=("unpivot", "reshape"),
)
def unpivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot → unpivot round shape (melt); nulls kept on both sides
    for statuses absent within a priority."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return wide.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "status", "revenue"
    )


@register(
    "posexplode_tokens",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
        WHERE doc_id < 50
    )
    SELECT doc_id, i::INT AS pos, toks[i + 1] AS tok
    FROM t, UNNEST(range(0, len(toks))) AS u(i)
    """,
    tags=("posexplode", "explode", "nested"),
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode — order-preserving token enumeration."""
    from axolotls_spark.operators.dedup import tokens_col

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           quantile_cont(l_quantity, 0.5)      AS p50_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile", "statistics"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SQL percentile == DuckDB
    quantile_cont). At 100 TB the approx_percentile sketch is the
    right tool; it's not oracle-matchable, so the exact form
    certifies the operator and the approx form stays available."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_price"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90_price"),
        F.percentile("l_quantity", F.lit(0.5)).alias("p50_qty"),
    )


@register(
    "math_functions_lineitem",
    oracle="""
    SELECT
        l_orderkey, l_linenumber,
        l_extendedprice - l_quantity              AS f_sub,
        l_extendedprice * l_discount              AS f_mul,
        CAST(l_quantity AS BIGINT) % 7            AS f_mod,
        ABS(l_discount - 0.05)                    AS f_abs,
        CAST(SIGN(l_discount - 0.05) AS DOUBLE)   AS f_sign,
        CAST(FLOOR(l_extendedprice) AS BIGINT)    AS f_floor,
        CAST(CEIL(l_extendedprice) AS BIGINT)     AS f_ceil,
        ROUND(l_extendedprice, 1)                 AS f_round,
        SQRT(l_quantity)                          AS f_sqrt,
        POWER(l_quantity, 2.0)                    AS f_pow,
        GREATEST(l_quantity, l_discount * 100.0)  AS f_greatest,
        LEAST(l_quantity, l_discount * 100.0)     AS f_least,
        EXP(l_discount)                           AS f_exp
    FROM lineitem
    WHERE l_orderkey < 200
    """,
    tags=("scalar", "math", "reference-parity"),
)
def math_functions_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numeric closure beyond the reference's +|/|log|logit
    (SURVEY §2A op 23-26 note: '-', '*', '%', comparisons et al. are
    absent there but free in Spark) — certifies each maps to the
    same IEEE semantics as the oracle engine. Pure projection, one
    codegen stage."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    q, d, p = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (p - q).alias("f_sub"),
        (p * d).alias("f_mul"),
        (q.cast("long") % 7).alias("f_mod"),
        F.abs(d - 0.05).alias("f_abs"),
        F.signum(d - 0.05).alias("f_sign"),
        F.floor(p).alias("f_floor"),
        F.ceil(p).alias("f_ceil"),
        F.round(p, 1).alias("f_round"),
        F.sqrt(q).alias("f_sqrt"),
        F.pow(q, 2.0).alias("f_pow"),
        F.greatest(q, d * 100.0).alias("f_greatest"),
        F.least(q, d * 100.0).alias("f_least"),
        F.exp(d).alias("f_exp"),
    )


@register(
    "sample_hash_mod",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 100 < 10
    """,
    tags=("sampling", "deterministic", "hash"),
)
def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by content hash — the reproducible
    alternative to df.sample() for pipeline debugging and A/B
    holdouts at 100 TB: the same keys are sampled on every engine,
    every run, every partitioning (Bernoulli sample() is
    seed+partitioning dependent and not oracle-checkable)."""
    from axolotls_spark.operators.dedup import token_hash

    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        token_hash(F.col("o_orderkey").cast("string")) % 100 < 10
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "agg_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           quantile_cont(l_extendedprice, 0.5) AS exact_p50_price,
           CAST(1 AS INT) AS approx_orders_ok,
           CAST(1 AS INT) AS approx_p50_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approximate", "sketch", "hll", "bound-oracle"),
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB substitutes for exact distinct
    counts and percentiles: HLL++ approx_count_distinct (fixed-size
    state, no distinct shuffle) and t-digest-style approx_percentile.

    Sketch INTERNALS are estimator-specific, so the raw estimates are
    not cross-engine comparable; the hash-checked contract is the
    accuracy BOUND: the exact values (which both engines agree on)
    plus integer flags asserting the sketch landed within its error
    budget — measured worst-case across 3 SFs is 3.3% relative for
    approx_count_distinct(rsd=0.02) and 0.08% for
    percentile_approx(acc=10000), certified here at 10% / 1%.  The
    oracle computes the same exact values and, trivially, flags of 1:
    a sketch outside its bound hash-mismatches.  The exact distinct /
    exact percentile columns are CERTIFICATION overhead — a production
    rollup at 100 TB runs the two sketch aggregates alone (fixed-size
    state, no distinct expansion)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("approx_p50_price"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_p50_price"),
    )
    rel = lambda ap, ex: F.abs(ap - F.col(ex)) / F.col(ex)  # noqa: E731
    return a.select(
        "l_returnflag",
        "exact_orders",
        "exact_p50_price",
        (rel(F.col("approx_orders"), "exact_orders") <= 0.10)
        .cast("int")
        .alias("approx_orders_ok"),
        (rel(F.col("approx_p50_price"), "exact_p50_price") <= 0.01)
        .cast("int")
        .alias("approx_p50_ok"),
    )


@register(
    "window_distribution_funcs",
    oracle="""
    SELECT
        o_orderkey, o_orderstatus, o_totalprice,
        NTILE(4)        OVER w AS quartile,
        PERCENT_RANK()  OVER w AS pct_rank,
        CUME_DIST()     OVER w AS cume,
        FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
        LAST_VALUE(o_orderkey)  OVER (PARTITION BY o_orderstatus
                                      ORDER BY o_totalprice, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS priciest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "distribution", "ntile", "percent-rank"),
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile/percent_rank/cume_dist)
    plus first/last_value with an explicit full frame — last_value
    under the default frame is a classic wrong-answer trap, so the
    frame is spelled out in both engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(w_full).alias("priciest_key"),
    )


@register(
    "rollup_time_hierarchy",
    oracle="""
    SELECT
        strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        CASE WHEN GROUPING(date_trunc('hour', CAST(ts AS TIMESTAMP))) = 0
             THEN strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                           '%Y-%m-%d %H:%M:%S') END AS hour,
        COUNT(*)   AS n_events,
        SUM(value) AS total_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', CAST(ts AS TIMESTAMP)),
                     date_trunc('hour', CAST(ts AS TIMESTAMP)))
    HAVING GROUPING(date_trunc('day', CAST(ts AS TIMESTAMP))) = 0
    """,
    tags=("agg", "rollup", "time-window", "hypertable"),
)
def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hourly AND daily
    continuous aggregates in ONE pass over the events stream table
    (GROUPING SETS share the scan + partial aggregation). The grand
    total row is excluded so every row belongs to a day."""
    # GROUPING() must live in the aggregate's own select list (Spark
    # resolves HAVING against output aliases); filter in an outer
    # query instead.
    return spark.sql(
        """
        SELECT day, hour, n_events, total_value FROM (
            SELECT
                date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day,
                CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                     THEN date_format(date_trunc('hour', ts),
                                      'yyyy-MM-dd HH:mm:ss') END AS hour,
                COUNT(*)   AS n_events,
                SUM(value) AS total_value,
                GROUPING(date_trunc('day', ts)) AS gd
            FROM {events}
            GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
        ) WHERE gd = 0
        """,
        events=load_table(spark, sf_dir, "events"),
    )


@register(
    "array_functions_embeddings",
    oracle="""
    SELECT
        vec_id,
        embedding[1:4]                         AS head4,
        list_reverse(embedding)[1]             AS last_elem,
        list_max(embedding)                    AS arr_max,
        list_min(embedding)                    AS arr_min,
        list_sort(embedding)[1:3]              AS smallest3,
        list_contains(embedding, 0.0)          AS has_zero,
        len(list_concat(embedding[1:4], embedding[1:1]))::INT AS concat_len
    FROM embeddings
    WHERE vec_id < 100
    """,
    tags=("array", "array-functions", "nested"),
)
def array_functions_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function closure over the higher-order basics already
    certified (transform/filter/aggregate): slice, reverse, min/max,
    sort, contains, concat — all JVM-side, no explode."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    arr = F.col("embedding")
    return emb.select(
        "vec_id",
        F.slice(arr, 1, 4).alias("head4"),
        F.element_at(F.reverse(arr), 1).alias("last_elem"),
        F.array_max(arr).alias("arr_max"),
        F.array_min(arr).alias("arr_min"),
        F.slice(F.array_sort(arr), 1, 3).alias("smallest3"),
        F.array_contains(arr, F.lit(0.0)).alias("has_zero"),
        F.size(F.concat(F.slice(arr, 1, 4), F.slice(arr, 1, 1))).alias(
            "concat_len"
        ),
    )


@register(
    "sample_stratified_by_lang",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 <
          CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 20 WHEN 'zh' THEN 50
                    WHEN 'fr' THEN 10 ELSE 100 END
    """,
    tags=("sampling", "stratified", "deterministic", "hash"),
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling — per-language keep rates
    (downsample the overrepresented languages, keep all of the rare
    one), decided by content hash so the sample is identical on every
    engine/run/partitioning. The LLM-corpus rebalancing primitive:
    df.sampleBy() does the same stratification but is seed-and-
    partitioning dependent, hence not reproducible across engines.
    Pure map-side filter: no shuffle at any scale."""
    from axolotls_spark.operators.dedup import token_hash

    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 5)
        .when(F.col("lang") == "de", 20)
        .when(F.col("lang") == "zh", 50)
        .when(F.col("lang") == "fr", 10)
        .otherwise(100)
    )
    return docs.filter(
        token_hash(F.col("doc_id").cast("string")) % 100 < rate
    ).select("doc_id", "lang", "source", "n_chars")


@register(
    "histogram_price_buckets",
    oracle="""
    SELECT LEAST(GREATEST(FLOOR((o_totalprice - 0.0) / 50000.0)::INT, 0), 9)
               AS bucket,
           COUNT(*)          AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1
    """,
    tags=("agg", "histogram", "binning"),
)
def histogram_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram (10 × 50k buckets, clamped ends) with
    portable floor arithmetic — the fixed-bucket formulation keeps
    the aggregate a plain hash agg on a 10-value key: one partial +
    final shuffle regardless of data volume, unlike quantile-based
    binning which needs a percentile pass first."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 50000.0).cast("int"), F.lit(0)),
        F.lit(9),
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "agg_linear_regression",
    oracle="""
    SELECT l_returnflag,
        CAST(regr_slope(l_extendedprice, l_quantity) AS REAL)     AS slope,
        CAST(regr_intercept(l_extendedprice, l_quantity) AS REAL) AS intercept,
        CAST(regr_r2(l_extendedprice, l_quantity) AS REAL)        AS r2,
        CAST(covar_samp(l_extendedprice, l_quantity) AS REAL)     AS covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "statistics", "regression"),
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit via the regr_* aggregate family —
    single-pass algebraic aggregates (sums of x, y, x², xy), so they
    compose partial+final like any sum: distributed linear modeling
    with no ML-library dependency and no extra shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.regr_slope("l_extendedprice", "l_quantity").alias("slope"),
        F.regr_intercept("l_extendedprice", "l_quantity").alias("intercept"),
        F.regr_r2("l_extendedprice", "l_quantity").alias("r2"),
        F.covar_samp("l_extendedprice", "l_quantity").alias("covar"),
    )
    return stable_f32(out, "slope", "intercept", "r2", "covar")


@register(
    "fuzzy_match_part_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM names a
    JOIN names b
      ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    tags=("string", "levenshtein", "fuzzy-join", "blocking"),
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching — near-identical part names by edit
    distance. The scale pattern, not the pairwise one: dedupe to
    DISTINCT names first (the name domain is bounded even when rows
    aren't), equi-join on a blocking key (first character) so
    Catalyst plans a hash join, and evaluate levenshtein only on the
    in-block survivors. An unblocked name×name comparison is a
    cartesian product — the thing this query exists to avoid."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    return (
        a.join(
            b,
            (F.substring("name_a", 1, 1) == F.substring("name_b", 1, 1))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 3)
    )


@register(
    "collation_ci_grouping",
    oracle="""
    SELECT lower(CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                      ELSE lower(p_type) END) AS type_ci,
           COUNT(*) AS n,
           SUM(p_retailprice) AS total_price
    FROM part
    GROUP BY type_ci
    """,
    tags=("collation", "sql-surface", "string", "agg"),
)
def collation_ci_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): group a
    deliberately mixed-case column under UTF8_LCASE so 'STANDARD
    BRASS' and 'standard brass' land in one group — no lower()
    normalization in the grouping key itself. The engine's collation
    machinery (not an expression rewrite) performs the CI comparison;
    the output key is lowercased only for cross-engine display
    stability. Single hash-agg shuffle, same as any groupBy."""
    p = load_table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_partkey") % 2 == 0, F.upper("p_type")
    ).otherwise(F.lower("p_type"))
    return (
        p.select(
            mixed.cast("string collate UTF8_LCASE").alias("type_coll"),
            "p_retailprice",
        )
        .groupBy("type_coll")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p_retailprice").alias("total_price"),
        )
        .select(
            F.lower(F.col("type_coll")).cast("string").alias("type_ci"),
            "n",
            "total_price",
        )
    )


@register(
    "sketch_mergeable_rollup",
    oracle="""
    SELECT strftime(date_trunc('month', CAST(ts AS TIMESTAMP)), '%Y-%m')
               AS month,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS INT) AS users_ok,
           CAST(1 AS INT) AS median_ok
    FROM events
    GROUP BY date_trunc('month', CAST(ts AS TIMESTAMP))
    """,
    tags=("sketch", "hll", "kll", "reaggregation", "bound-oracle"),
)
def sketch_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches, Spark 4): build
    per-DAY HLL sketches of distinct users and KLL sketches of the
    value distribution, then answer the MONTHLY question by merging
    the daily sketches — `hll_union_agg` / `kll_sketch_merge` —
    without touching raw events again.

    This is the incremental-analytics pattern 100 TB forces: raw
    events are scanned once ever; each day persists a few-KB sketch;
    any date-range rollup (month, quarter, trailing-28d) is a merge
    over O(days) sketches, not a rescan of O(events). Distinct counts
    don't sum across days (users repeat) — only sketch union answers
    it from pre-aggregates.

    Hash-checked via accuracy BOUNDS (the sketch bytes are
    engine-specific): alongside the exact monthly counts both engines
    agree on, integer flags assert the merged-HLL user estimate is
    within 10% of the exact distinct count (measured ≤0.4% across 3
    SFs) and the merged-KLL median lies inside the exact [q45, q55]
    value band (KLL default-k rank error ≈1.65% ≪ ±5%).  The exact
    columns are certification overhead — production merges the
    few-KB daily sketches alone, which is the point of the query."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("users_sk"),
        F.kll_sketch_agg_double("value").alias("value_sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    exact = e.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month")
    ).agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile("value", F.lit(0.45)).alias("q45"),
        F.percentile("value", F.lit(0.55)).alias("q55"),
    )
    merged = (
        daily.groupBy(F.date_trunc("month", "day").cast("date").alias("month"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("users_sk")).alias(
                "approx_users"
            ),
            # KLL exposes a pairwise merge (not an agg): fold the
            # month's ≤31 daily sketches with aggregate() — first
            # sketch is the init, the rest merge in.
            F.kll_sketch_get_quantile_double(
                F.aggregate(
                    F.slice(
                        F.collect_list("value_sk"),
                        F.lit(2),
                        F.greatest(
                            F.size(F.collect_list("value_sk")) - 1,
                            F.lit(0),
                        ),
                    ),
                    F.element_at(F.collect_list("value_sk"), 1),
                    lambda acc, x: F.kll_sketch_merge_double(acc, x),
                ),
                F.lit(0.5),
            ).alias("approx_median_value"),
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    return merged.join(exact, "month").select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "n_events",
        "n_days",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.10
        )
        .cast("int")
        .alias("users_ok"),
        (
            (F.col("approx_median_value") >= F.col("q45"))
            & (F.col("approx_median_value") <= F.col("q55"))
        )
        .cast("int")
        .alias("median_ok"),
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "corr_matrix_lineitem",
    oracle="""
    SELECT * FROM (
    """ + "\n    UNION ALL\n    ".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
               CAST(corr({a}, {b}) AS REAL) AS pearson_r,
               CAST(covar_samp({a}, {b}) AS REAL) AS cov_s
        FROM lineitem"""
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ) + """
    )
    """,
    tags=("statistics", "correlation", "single-scan", "agg"),
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation + sample covariance of the
    lineitem numeric measures — the EDA/feature-selection primitive.

    Scale shape: ONE scan, one 1-row aggregate computing all C(4,2)
    pairs simultaneously (corr/covar_samp are algebraic aggregates —
    partial moments combine associatively map-side); the long-form
    unpivot to (col_a, col_b) rows happens on the 1-row result. The
    oracle's UNION ALL of per-pair scans is the shape to AVOID at
    100 TB — 6 scans where one suffices.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            aggs.append(F.corr(a, b).alias(f"r__{a}__{b}"))
            aggs.append(F.covar_samp(a, b).alias(f"c__{a}__{b}"))
    wide = li.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"r__{a}__{b}").cast("float").alias("pearson_r"),
                F.col(f"c__{a}__{b}").cast("float").alias("cov_s"),
            )
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i + 1:]
        ]
    )
    return wide.select(F.explode(pairs).alias("p")).select("p.*")


@register(
    "impute_group_stats",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, l_linenumber, l_returnflag,
               NULLIF(l_discount, 0.0) AS disc
        FROM lineitem
    ),
    grp AS (
        SELECT l_returnflag, AVG(disc) AS grp_mean
        FROM base GROUP BY 1
    ),
    gstats AS (SELECT MEDIAN(disc) AS glob_median FROM base)
    SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag,
           (b.disc IS NULL) AS was_missing,
           COALESCE(b.disc, g.grp_mean)    AS disc_mean_imputed,
           COALESCE(b.disc, gl.glob_median) AS disc_median_imputed
    FROM base b
    JOIN grp g USING (l_returnflag)
    CROSS JOIN gstats gl
    """,
    tags=("imputation", "preprocessing", "fill_null", "broadcast", "agg"),
)
def impute_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null imputation with DATA-DERIVED statistics — per-group mean
    and global exact median — the ML-preprocessing upgrade of the
    reference's constant ``fill_null`` (``numeric_column.py:56-63``:
    torch masked assign of a literal). Zero-discounts stand in for
    missing values, matching ref_feature_chain's convention.

    Scale shape: group means are one tiny aggregate, the median one
    1-row aggregate; both broadcast back onto the fact scan — the
    corpus is read once and never shuffled (the per-group relation
    has |groups| rows). Spark's ``median`` is exact (sort-based
    partial aggregation), same semantics as DuckDB's MEDIAN for the
    odd/even-count cases.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.nullif("l_discount", F.lit(0.0)).alias("disc"),
    )
    grp = base.groupBy("l_returnflag").agg(F.avg("disc").alias("grp_mean"))
    glob = base.agg(F.median("disc").alias("glob_median"))
    return (
        base.join(F.broadcast(grp), "l_returnflag")
        .crossJoin(F.broadcast(glob))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.col("disc").isNull().alias("was_missing"),
            F.coalesce("disc", "grp_mean").alias("disc_mean_imputed"),
            F.coalesce("disc", "glob_median").alias("disc_median_imputed"),
        )
    )


@register(
    "scale_standardize_features",
    oracle="""
    WITH stats AS (
        SELECT AVG(l_quantity) AS q_mean, STDDEV_SAMP(l_quantity) AS q_std,
               MIN(l_extendedprice) AS p_min, MAX(l_extendedprice) AS p_max
        FROM lineitem
    )
    SELECT l.l_orderkey, l.l_linenumber,
           CAST((l.l_quantity - s.q_mean) / s.q_std AS REAL) AS quantity_z,
           CAST((l.l_extendedprice - s.p_min) / (s.p_max - s.p_min)
               AS REAL) AS price_minmax
    FROM lineitem l CROSS JOIN stats s
    """,
    tags=("scaling", "preprocessing", "standardize", "broadcast"),
)
def scale_standardize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling — z-score and min-max — the other core
    preprocessing op the reference's feature-chain domain implies
    but never implements (its ops stop at +/÷/log/logit,
    ``numeric_column.py:76-125``).

    Scale shape: one 1-row stats aggregate broadcast onto the scan;
    map-only afterwards. The alternative spelling — two window
    functions over an empty partition — funnels the corpus through
    ONE partition and is the canonical global-window trap this
    engine's plan audits exist to catch.
    """
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.avg("l_quantity").alias("q_mean"),
        F.stddev_samp("l_quantity").alias("q_std"),
        F.min("l_extendedprice").alias("p_min"),
        F.max("l_extendedprice").alias("p_max"),
    )
    return li.crossJoin(F.broadcast(stats)).select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("l_quantity") - F.col("q_mean")) / F.col("q_std"))
        .cast("float")
        .alias("quantity_z"),
        (
            (F.col("l_extendedprice") - F.col("p_min"))
            / (F.col("p_max") - F.col("p_min"))
        )
        .cast("float")
        .alias("price_minmax"),
    )


@register(
    "map_higher_order_functions",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        l_quantity * 2.0 AS qty_doubled,
        (CASE WHEN l_quantity > 10 THEN 1 ELSE 0 END
         + CASE WHEN l_extendedprice > 10 THEN 1 ELSE 0 END)
            AS n_entries_gt10,
        l_quantity + l_discount + l_extendedprice + l_tax
            AS zipped_sum,
        'PRICE,QTY' AS upper_keys_csv
    FROM lineitem
    """,
    tags=("map", "higher-order", "transform_keys", "map_zip_with"),
)
def map_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order MAP closure — transform_values / map_filter /
    map_zip_with / transform_keys — completing the MapType surface
    (reference declares the dtype but has no column or functions,
    ``dtypes.py:213-235``). The oracle states the equivalent scalar
    algebra directly: what's certified is that each map operator
    computes exactly its elementwise meaning, in codegen, map-only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m1 = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("price"), F.col("l_extendedprice"),
    )
    m2 = F.create_map(
        F.lit("qty"), F.col("l_discount"),
        F.lit("tax"), F.col("l_tax"),
    )
    zipped = F.map_zip_with(
        m1, m2,
        lambda k, a, b: F.coalesce(a, F.lit(0.0)) + F.coalesce(b, F.lit(0.0)),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(
            F.transform_values(m1, lambda k, v: v * 2), "qty"
        ).alias("qty_doubled"),
        F.size(F.map_filter(m1, lambda k, v: v > 10)).alias("n_entries_gt10"),
        F.aggregate(
            F.map_values(zipped), F.lit(0.0), lambda acc, x: acc + x
        ).alias("zipped_sum"),
        F.array_join(
            F.array_sort(F.map_keys(F.transform_keys(m1, lambda k, v: F.upper(k)))),
            ",",
        ).alias("upper_keys_csv"),
    )


@register(
    "winsorize_outliers",
    oracle="""
    WITH cuts AS (
        SELECT quantile_cont(l_extendedprice, 0.01) AS p01,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem
    )
    SELECT l.l_orderkey, l.l_linenumber,
           (l.l_extendedprice < c.p01 OR l.l_extendedprice > c.p99)
               AS was_clipped,
           LEAST(GREATEST(l.l_extendedprice, c.p01), c.p99)
               AS price_winsorized
    FROM lineitem l CROSS JOIN cuts c
    """,
    tags=("winsorize", "preprocessing", "percentile", "broadcast"),
)
def winsorize_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip a feature to its exact [p1, p99] range —
    the outlier-robust preprocessing step between imputation and
    scaling. Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, both linear interpolation) so the cut
    points are oracle-identical.

    Scale shape: one 1-row percentile aggregate broadcast onto the
    scan, map-only clip after. Exact global percentiles cost a sort-
    based aggregate; at 100 TB swap `percentile` for
    `approx_percentile` (t-digest, fixed state) — same query shape.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cuts = li.agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("p01"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
    )
    return li.crossJoin(F.broadcast(cuts)).select(
        "l_orderkey",
        "l_linenumber",
        (
            (F.col("l_extendedprice") < F.col("p01"))
            | (F.col("l_extendedprice") > F.col("p99"))
        ).alias("was_clipped"),
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99")
        ).alias("price_winsorized"),
    )


@register(
    "array_set_operations",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+')[1:5]  AS a,
               string_split_regex(trim(text), '\s+')[-5:]  AS b
        FROM documents
    )
    SELECT doc_id,
           len(list_distinct(list_filter(a, x -> list_contains(b, x))))
               AS n_common,
           len(list_distinct(list_concat(a, b))) AS n_union,
           COALESCE(array_to_string(
               list_sort(list_distinct(
                   list_filter(a, x -> NOT list_contains(b, x)))), ','), '')
               AS only_a_csv,
           COALESCE(list_position(a, b[1]), 0) AS pos_of_first_b
    FROM t
    """,
    tags=("array", "set-ops", "intersect", "union", "except"),
)
def array_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-operation closure — array_intersect / array_union /
    array_except / array_position — over each document's first and
    last 5 tokens. Cardinalities and sorted renderings are compared
    (both engines dedup set results but order them differently);
    Spark's 0-for-absent array_position convention is matched with a
    COALESCE on the oracle side. All map-only, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    a = F.slice(toks, 1, 5)
    b = F.slice(toks, -5, 5)
    return docs.select(
        "doc_id",
        F.size(F.array_intersect(a, b)).alias("n_common"),
        F.size(F.array_union(a, b)).alias("n_union"),
        F.array_join(F.array_sort(F.array_except(a, b)), ",").alias(
            "only_a_csv"
        ),
        F.array_position(a, F.element_at(b, 1)).alias("pos_of_first_b"),
    )


@register(
    "string_format_closure",
    oracle="""
    SELECT p_partkey,
           printf('%s#%05d', p_brand, p_partkey) AS tagged,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0')  AS key_padded,
           translate(p_brand, '#', '-')              AS brand_dashed,
           array_to_string(list_transform(
               string_split(lower(p_type), ' '),
               w -> upper(w[1]) || w[2:]), ' ')       AS type_title,
           repeat('*', CAST(p_size % 5 AS INT))      AS size_stars,
           reverse(p_name)                           AS name_rev
    FROM part
    """,
    tags=("string", "format", "printf", "closure"),
)
def string_format_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting closure — format_string/printf, lpad,
    translate, initcap, repeat, reverse — rounding out the string
    surface (the reference's strings support only construction,
    slicing, and UTF-8 decode, ``string_column.py``). All map-only
    codegen; both engines share C-style printf semantics.
    """
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.format_string("%s#%05d", F.col("p_brand"), F.col("p_partkey")).alias(
            "tagged"
        ),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.initcap("p_type").alias("type_title"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5).cast("int")).alias(
            "size_stars"
        ),
        F.reverse("p_name").alias("name_rev"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog with EXACT register-level oracle parity.
# ---------------------------------------------------------------------------

_HLL_M = 64
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al., HLL'07)

# Engine-independent 60-bit hash (operators/dedup.token_hash) split
# into 6 register bits + 54 rho bits; rho = index of the lowest set
# bit of the rho field (+1), found EXACTLY via a 64-row powers-of-two
# lookup — no float log2, no engine-specific bit intrinsics.
_HLL_POW_SQL = "(SELECT * FROM (VALUES " + ", ".join(
    f"(CAST({1 << i} AS BIGINT), {i + 1})" for i in range(55)
) + ") AS t(pv, rho))"

_HLL_REG_CTE = f"""
    hashed AS (
        SELECT o_orderpriority AS priority,
               ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM orders
    ),
    split AS (
        SELECT priority, h % {_HLL_M} AS reg, h // {_HLL_M} AS rest
        FROM hashed
    ),
    rhod AS (
        SELECT s.priority, s.reg,
               COALESCE(p.rho, 55) AS rho
        FROM split s
        LEFT JOIN {_HLL_POW_SQL} p ON (s.rest & -s.rest) = p.pv
    ),
    regs AS (
        SELECT priority, CAST(reg AS INT) AS reg,
               CAST(MAX(rho) AS INT) AS max_rho
        FROM rhod GROUP BY priority, reg
    )
"""


@register(
    "hll_registers",
    oracle="WITH " + _HLL_REG_CTE + """
    SELECT priority, reg, max_rho FROM regs
    """,
    tags=("sketch", "hll", "approx-distinct", "mergeable", "exact-oracle"),
)
def hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog REGISTER state per group — the mergeable sketch
    itself, as exact integers (unlike ``agg_approx_sketches``, whose
    engine-native sketches are only rows-checkable). 64 registers,
    6 register bits + 54 rho bits of the engine-independent md5
    hash; rho (lowest-set-bit index) is resolved by a broadcast
    55-row powers-of-two lookup, never float log2. Merging two
    corpora's sketches = MAX per (group, reg) — the property that
    lets 100 TB of per-partition partial sketches reduce in one
    tree aggregation. One shuffle; state is |groups|·64 rows."""
    from axolotls_spark.operators.dedup import token_hash

    o = load_table(spark, sf_dir, "orders")
    pow_rows = [(1 << i, i + 1) for i in range(55)]
    powers = spark.createDataFrame(pow_rows, "pv long, rho int")
    h = token_hash(F.col("o_custkey").cast("string"))
    split = o.select(
        F.col("o_orderpriority").alias("priority"),
        (h % _HLL_M).alias("reg"),
        # shiftright, NOT h/64: double division rounds away the low
        # bits of a 60-bit hash (53-bit mantissa) and corrupts rho.
        F.shiftright(h, 6).alias("rest"),
    )
    rhod = split.join(
        F.broadcast(powers),
        split.rest.bitwiseAND(-split.rest) == powers.pv,
        "left",
    ).select(
        "priority", "reg", F.coalesce(F.col("rho"), F.lit(55)).alias("rho")
    )
    return rhod.groupBy("priority", F.col("reg").cast("int").alias("reg")).agg(
        F.max("rho").cast("int").alias("max_rho")
    )


@register(
    "hll_distinct_by_priority",
    oracle="WITH " + _HLL_REG_CTE + f""",
    dense AS (
        SELECT g.priority, gs.reg,
               COALESCE(r.max_rho, 0) AS max_rho
        FROM (SELECT DISTINCT priority FROM regs) g
        CROSS JOIN (SELECT unnest(range({_HLL_M})) AS reg) gs
        LEFT JOIN regs r ON r.priority = g.priority AND r.reg = gs.reg
    ),
    est AS (
        SELECT priority,
               SUM(POWER(2.0, -max_rho)) AS z,
               SUM(CASE WHEN max_rho = 0 THEN 1 ELSE 0 END) AS zeros
        FROM dense GROUP BY priority
    ),
    ex AS (
        SELECT o_orderpriority AS priority,
               COUNT(DISTINCT o_custkey) AS n_exact
        FROM orders GROUP BY 1
    )
    SELECT e.priority,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           ROUND(CASE WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / e.z
                           <= 2.5 * {_HLL_M}
                      AND e.zeros > 0
                      THEN {_HLL_M} * LN({_HLL_M} / e.zeros)
                      ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / e.z
                 END, 4) AS n_est
    FROM est e JOIN ex x USING (priority)
    """,
    tags=("sketch", "hll", "approx-distinct", "estimate"),
)
def hll_distinct_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate vs exact distinct per group: the
    harmonic-mean estimator over the dense 64-register state, with
    the standard linear-counting small-range correction — identical
    algebra both engines, so even the ESTIMATE is hash-checked, not
    just 'close'. The exact distinct rides along to make the
    accuracy auditable in the result itself — note that this audit
    column is a DELIBERATE second corpus pass (count_distinct cannot
    fold into the register aggregate): it exists so the estimator is
    oracle-checkable; a production sketch rollup would drop it and
    keep the single register pass."""
    # regs feeds BOTH the group spine and the dense join — persist,
    # or the corpus aggregate runs twice (SCALE.md
    # "union-of-derivations is a hidden multi-pass").
    regs = REGISTRY["hll_registers"].fn(spark, sf_dir).persist()
    spine = spark.range(_HLL_M).select(F.col("id").cast("int").alias("reg"))
    groups = regs.select("priority").distinct()
    dense = (
        groups.crossJoin(F.broadcast(spine))
        .join(regs, ["priority", "reg"], "left")
        .select(
            "priority", F.coalesce(F.col("max_rho"), F.lit(0)).alias("max_rho")
        )
    )
    est = dense.groupBy("priority").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("z"),
        F.sum(F.when(F.col("max_rho") == 0, 1).otherwise(0)).alias("zeros"),
    )
    o = load_table(spark, sf_dir, "orders")
    exact = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("z")
    corrected = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("zeros") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return est.join(exact, "priority").select(
        "priority",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(corrected, 4).alias("n_est"),
    )


@register(
    "hll_rolling_wau",
    oracle=f"""
    WITH hashed AS (
        SELECT CAST(ts AS DATE) AS d,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM events
    ),
    split AS (
        SELECT d, h % {_HLL_M} AS reg, h // {_HLL_M} AS rest FROM hashed
    ),
    rhod AS (
        SELECT s.d, s.reg, COALESCE(p.rho, 55) AS rho
        FROM split s
        LEFT JOIN {_HLL_POW_SQL} p ON (s.rest & -s.rest) = p.pv
    ),
    cover AS (
        SELECT CAST(d + CAST(u.i AS INT) AS DATE) AS wday, reg, rho
        FROM rhod, UNNEST(range(0, 7)) AS u(i)
    ),
    regs AS (
        SELECT wday, reg, MAX(rho) AS max_rho FROM cover GROUP BY 1, 2
    ),
    est AS (
        SELECT wday,
               SUM(POWER(2.0, -max_rho)) + ({_HLL_M} - COUNT(*)) AS z,
               {_HLL_M} - COUNT(*) AS zeros
        FROM regs GROUP BY wday
    ),
    exact AS (
        SELECT CAST(d + CAST(u.i AS INT) AS DATE) AS wday,
               COUNT(DISTINCT user_id) AS n_exact
        FROM (SELECT CAST(ts AS DATE) AS d, user_id FROM events) e,
             UNNEST(range(0, 7)) AS u(i)
        GROUP BY 1
    )
    SELECT strftime(e.wday, '%Y-%m-%d') AS wday,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           ROUND(CASE WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / e.z
                           <= 2.5 * {_HLL_M}
                      AND e.zeros > 0
                      THEN {_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE) / e.zeros)
                      ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / e.z
                 END, 4) AS n_est
    FROM est e JOIN exact x USING (wday)
    """,
    tags=("sketch", "hll", "rolling-window", "wau", "mergeable"),
)
def hll_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per window-end day via HLL
    registers — the scale path ``dau_wau_rolling`` (exact) cannot
    take at 100 TB, where per-window exact distinct state explodes:
    each event's register contribution is replicated to the 7
    windows it belongs to (constant-factor cover-day explode, the
    dau_wau trick), then MAX-merged per (day, register) — state is
    64 small ints per day regardless of cardinality, and windows
    merge associatively. Absent registers enter the estimator as
    2^-0 terms arithmetically (64 − observed), so no dense spine
    join is needed. The exact rolling distinct rides along, making
    the sketch's accuracy auditable row by row."""
    from axolotls_spark.operators.dedup import token_hash

    ev = load_table(spark, sf_dir, "events")
    powers = spark.createDataFrame(
        [(1 << i, i + 1) for i in range(55)], "pv long, rho int"
    )
    h = token_hash(F.col("user_id").cast("string"))
    base = ev.select(
        F.col("ts").cast("date").alias("d"),
        F.col("user_id"),
        (h % _HLL_M).alias("reg"),
        F.shiftright(h, 6).alias("rest"),
    )
    rhod = base.join(
        F.broadcast(powers),
        base.rest.bitwiseAND(-base.rest) == powers.pv,
        "left",
    ).select(
        "d", "user_id", "reg",
        F.coalesce(F.col("rho"), F.lit(55)).alias("rho"),
    )
    cover = rhod.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d", "user_id", "reg", "rho",
    ).select(
        F.date_add("d", F.col("i")).alias("wday"), "user_id", "reg", "rho"
    )
    # cover feeds BOTH the register agg and the exact distinct —
    # persist (single-pass rule).
    cover = cover.persist()
    est = (
        cover.groupBy("wday", "reg")
        .agg(F.max("rho").alias("max_rho"))
        .groupBy("wday")
        .agg(
            (
                F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))
                + (F.lit(_HLL_M) - F.count(F.lit(1)))
            ).alias("z"),
            (F.lit(_HLL_M) - F.count(F.lit(1))).alias("zeros"),
        )
    )
    exact = cover.groupBy("wday").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("z")
    corrected = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("zeros") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return est.join(exact, "wday").select(
        F.date_format("wday", "yyyy-MM-dd").alias("wday"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(corrected, 4).alias("n_est"),
    )


@register(
    "hll_rollup_priorities",
    oracle="WITH " + _HLL_REG_CTE + f""",
    lvls AS (
        SELECT priority, reg, max_rho FROM regs
        UNION ALL
        SELECT 'ALL', reg, MAX(max_rho) FROM regs GROUP BY reg
    ),
    est AS (
        SELECT priority,
               SUM(POWER(2.0, -max_rho)) + ({_HLL_M} - COUNT(*)) AS z,
               {_HLL_M} - COUNT(*) AS zeros
        FROM lvls GROUP BY priority
    ),
    ex AS (
        SELECT o_orderpriority AS priority,
               COUNT(DISTINCT o_custkey) AS n_exact
        FROM orders GROUP BY 1
        UNION ALL
        SELECT 'ALL', COUNT(DISTINCT o_custkey) FROM orders
    )
    SELECT e.priority,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           ROUND(CASE WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / e.z
                           <= 2.5 * {_HLL_M}
                      AND e.zeros > 0
                      THEN {_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE) / e.zeros)
                      ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / e.z
                 END, 4) AS n_est
    FROM est e JOIN ex x USING (priority)
    """,
    tags=("sketch", "hll", "rollup", "merge", "algebra"),
)
def hll_rollup_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA in one query: the grand-total distinct estimate
    is computed by MERGING the per-priority register states (MAX per
    register) — never by re-scanning the corpus. This is the property
    that makes sketch-backed rollup/cube hierarchies free at 100 TB:
    every ancestor level of a rollup derives from its children's
    64-int states. Exact distincts ride along at both levels; absent
    registers enter the estimator arithmetically (64 − observed).
    The exact audit columns are a DELIBERATE extra corpus pass for
    oracle-checkability — a production rollup keeps only the register
    merge, which never touches the corpus again."""
    regs = REGISTRY["hll_registers"].fn(spark, sf_dir).persist()
    merged = regs.groupBy("reg").agg(
        F.max("max_rho").alias("max_rho")
    ).select(F.lit("ALL").alias("priority"), "reg", "max_rho")
    both = regs.unionByName(merged)
    est = both.groupBy("priority").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
        ).alias("z"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("zeros"),
    )
    o = load_table(spark, sf_dir, "orders")
    exact = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_custkey").alias("n_exact")
    ).unionByName(
        o.agg(F.countDistinct("o_custkey").alias("n_exact")).select(
            F.lit("ALL").alias("priority"), "n_exact"
        )
    )
    raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("z")
    corrected = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("zeros") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return est.join(exact, "priority").select(
        "priority",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(corrected, 4).alias("n_est"),
    )


# ---------------------------------------------------------------------------
# Mergeable bottom-k quantile sketch with rollup
# ---------------------------------------------------------------------------

_BK_K = 1024
_BK_TOL = (10, 100)  # |est - exact| <= 10% of exact


@register(
    "quantile_sketch_rollup",
    oracle=f"""
    WITH ranked AS (
        SELECT o_orderpriority AS grp, o_totalprice AS v,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                   ::BIGINT AS h
        FROM orders
    ),
    sk AS (
        SELECT grp, v, h FROM (
            SELECT grp, v, h,
                   ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h, v) AS rn
            FROM ranked
        ) WHERE rn <= {_BK_K}
    ),
    msk AS (SELECT v FROM sk ORDER BY h, v LIMIT {_BK_K}),
    est AS (
        SELECT grp, quantile_cont(v, 0.5) AS est,
               COUNT(*)::BIGINT AS sketch_rows
        FROM sk GROUP BY grp
        UNION ALL
        SELECT 'ALL', quantile_cont(v, 0.5), COUNT(*)::BIGINT FROM msk
    ),
    ex AS (
        SELECT o_orderpriority AS grp,
               quantile_cont(o_totalprice, 0.5) AS exact
        FROM orders GROUP BY 1
        UNION ALL
        SELECT 'ALL', quantile_cont(o_totalprice, 0.5) FROM orders
    )
    SELECT e.grp, e.sketch_rows,
           CAST(e.est AS REAL) AS est_median,
           CAST(x.exact AS REAL) AS exact_median,
           CASE WHEN ABS(e.est - x.exact) * {_BK_TOL[1]}
                     <= {_BK_TOL[0]} * x.exact
                THEN 1 ELSE 0 END AS within_tol
    FROM est e JOIN ex x USING (grp)
    ORDER BY grp
    """,
    tags=("sketch", "quantile", "bottom-k", "mergeable", "rollup",
          "bound-oracle"),
)
def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k quantile sketch with a rollup merge — the
    quantile member of the sketch family (``hll_rollup_priorities``
    merges distinct-count registers, ``kmv_set_algebra`` merges KMV
    samples; this merges uniform samples for ORDER STATISTICS): keep
    the k rows with the lowest content hash per group (a
    deterministic uniform sample), estimate the median from the
    sample, and — the mergeability proof — build the ALL-level
    sketch FROM the per-group sketches (bottom-k of a union equals
    bottom-k of the union's bottom-k's), never rescanning the fact
    table.  Relative rank error is O(1/√k) ≈ 3.1% at k=1024; the
    oracle pins |est − exact| ≤ 10% of exact as an integer bound
    column, plus the exact float32 sample medians (the sample is
    content-addressed, so both engines pick IDENTICAL rows).

    Scale shape: the per-group sketch is one partitioned window
    (top-k by hash within each of the 5 priority groups); the merge
    level is TakeOrderedAndProject over the ≤ 5k sketch rows — no
    single-partition funnel over corpus data, and at 100 TB each
    rollup level costs only sketch-sized work, the same contract as
    the HLL rollup.  The exact medians exist only to certify the
    bound and would be dropped in production."""
    from axolotls_spark.operators.dedup import token_hash

    o = load_table(spark, sf_dir, "orders")
    ranked = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        token_hash(F.col("o_orderkey").cast("string")).alias("h"),
    )
    w = Window.partitionBy("grp").orderBy("h", "v")
    sk = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BK_K)
        .drop("rn")
    )
    msk = sk.orderBy("h", "v").limit(_BK_K).select("v")
    est = sk.groupBy("grp").agg(
        F.expr("percentile(v, 0.5)").alias("est"),
        F.count(F.lit(1)).cast("long").alias("sketch_rows"),
    ).unionAll(
        msk.agg(
            F.lit("ALL").alias("grp"),
            F.expr("percentile(v, 0.5)").alias("est"),
            F.count(F.lit(1)).cast("long").alias("sketch_rows"),
        )
    )
    ex = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact")
    ).unionAll(
        o.agg(
            F.lit("ALL").alias("grp"),
            F.expr("percentile(o_totalprice, 0.5)").alias("exact"),
        )
    )
    tol_n, tol_d = _BK_TOL
    return (
        est.join(ex, "grp")
        .select(
            "grp",
            "sketch_rows",
            F.col("est").cast("float").alias("est_median"),
            F.col("exact").cast("float").alias("exact_median"),
            F.when(
                F.abs(F.col("est") - F.col("exact")) * tol_d
                <= tol_n * F.col("exact"),
                1,
            )
            .otherwise(0)
            .alias("within_tol"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# HLL set intersection via inclusion-exclusion on mergeable registers
# ---------------------------------------------------------------------------

_HLL_EST_SQL = f"""CASE WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / {{z}}
                             <= 2.5 * {_HLL_M}
                        AND {{zeros}} > 0
                   THEN {_HLL_M} * LN({_HLL_M} / {{zeros}})
                   ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / {{z}} END"""


@register(
    "hll_intersection_estimate",
    oracle=f"""
    WITH tagged AS (
        SELECT 'A' AS s,
               ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT 'B' AS s,
               ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM orders WHERE o_orderstatus = 'F'
    ),
    split AS (
        SELECT s, h % {_HLL_M} AS reg, h // {_HLL_M} AS rest FROM tagged
    ),
    rhod AS (
        SELECT t.s, t.reg, COALESCE(p.rho, 55) AS rho
        FROM split t
        LEFT JOIN {_HLL_POW_SQL} p ON (t.rest & -t.rest) = p.pv
    ),
    regs AS (
        SELECT s, reg, MAX(rho) AS max_rho FROM rhod GROUP BY s, reg
    ),
    states AS (
        SELECT s, reg, max_rho FROM regs
        UNION ALL
        SELECT 'U' AS s, reg, MAX(max_rho) FROM regs GROUP BY reg
    ),
    dense AS (
        SELECT g.s, gs.reg, COALESCE(r.max_rho, 0) AS max_rho
        FROM (SELECT DISTINCT s FROM states) g
        CROSS JOIN (SELECT unnest(range({_HLL_M})) AS reg) gs
        LEFT JOIN states r ON r.s = g.s AND r.reg = gs.reg
    ),
    est AS (
        SELECT s, SUM(POWER(2.0, -max_rho)) AS z,
               SUM(CASE WHEN max_rho = 0 THEN 1 ELSE 0 END) AS zeros
        FROM dense GROUP BY s
    ),
    vals AS (
        SELECT s, {_HLL_EST_SQL.format(z='z', zeros='zeros')} AS v
        FROM est
    ),
    wide AS (
        SELECT MAX(CASE WHEN s = 'A' THEN v END) AS va,
               MAX(CASE WHEN s = 'B' THEN v END) AS vb,
               MAX(CASE WHEN s = 'U' THEN v END) AS vu
        FROM vals
    ),
    ex AS (
        SELECT COUNT(*)::BIGINT AS n_exact FROM (
            SELECT o_custkey FROM orders GROUP BY o_custkey
            HAVING MAX(CASE WHEN o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END) = 1
               AND MAX(CASE WHEN o_orderstatus = 'F'
                            THEN 1 ELSE 0 END) = 1
        )
    )
    SELECT ROUND(va, 4) AS est_a, ROUND(vb, 4) AS est_b,
           ROUND(vu, 4) AS est_union,
           ROUND(va + vb - vu, 4) AS est_intersection,
           ex.n_exact AS exact_intersection,
           CAST(ROUND(ABS(va + vb - vu - ex.n_exact)
                      / ex.n_exact, 4) AS REAL) AS rel_err
    FROM wide CROSS JOIN ex
    """,
    tags=("sketch", "hll", "intersection", "inclusion-exclusion",
          "mergeable", "exact-oracle"),
)
def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection cardinality from HLL sketches by
    inclusion–exclusion — the audience-overlap question
    (`audience_overlap_exact`) answered the way a 100 TB system
    must: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union
    sketch is the register-wise MAX of the two sketches (the merge
    that makes HLL mergeable; KMV answers the same question via
    ``kmv_set_algebra`` with better intersection error).  A = urgent
    -priority customers, B = finalized-status customers.  The exact
    intersection rides along as the audit column, with the relative
    error — honestly large for HLL intersections of similar sets,
    which is WHY the KMV path exists.

    Engine exactness: registers are integer md5 arithmetic (the
    ``hll_registers`` machinery), the estimator is the same
    few-op float both engines round at 4dp.

    Scale shape: ONE corpus scan fans into both set taggings
    (union of two filters of the same relation — Spark plans one
    exchange per branch of the grouped register aggregate);
    register states are 3×64 rows; estimator algebra is bounded.
    The exact-count audit is a deliberate second pass, exactly as
    documented on ``hll_distinct_by_priority``."""
    from axolotls_spark.operators.dedup import token_hash

    o = load_table(spark, sf_dir, "orders")
    h = token_hash(F.col("o_custkey").cast("string"))
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("A").alias("s"), h.alias("h")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.lit("B").alias("s"), h.alias("h")
    )
    pow_rows = [(1 << i, i + 1) for i in range(55)]
    powers = spark.createDataFrame(pow_rows, "pv long, rho int")
    split = a.unionAll(b).select(
        "s", (F.col("h") % _HLL_M).alias("reg"),
        F.shiftright(F.col("h"), 6).alias("rest"),
    )
    rhod = split.join(
        F.broadcast(powers),
        split.rest.bitwiseAND(-split.rest) == powers.pv,
        "left",
    ).select("s", "reg", F.coalesce(F.col("rho"), F.lit(55)).alias("rho"))
    regs = (
        rhod.groupBy("s", "reg")
        .agg(F.max("rho").alias("max_rho"))
        .persist()
    )
    states = regs.unionAll(
        regs.groupBy("reg").agg(F.max("max_rho").alias("max_rho"))
        .select(F.lit("U").alias("s"), "reg", "max_rho")
    )
    spine = spark.range(_HLL_M).select(F.col("id").alias("reg"))
    sets = spark.createDataFrame([("A",), ("B",), ("U",)], ["s"])
    dense = (
        sets.crossJoin(F.broadcast(spine))
        .join(states, ["s", "reg"], "left")
        .select("s", F.coalesce(F.col("max_rho"), F.lit(0)).alias("max_rho"))
    )
    est = dense.groupBy("s").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("z"),
        F.sum(F.when(F.col("max_rho") == 0, 1).otherwise(0)).alias("zeros"),
    )
    raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("z")
    v = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("zeros") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    wide = est.select("s", v.alias("v")).agg(
        F.max(F.when(F.col("s") == "A", F.col("v"))).alias("va"),
        F.max(F.when(F.col("s") == "B", F.col("v"))).alias("vb"),
        F.max(F.when(F.col("s") == "U", F.col("v"))).alias("vu"),
    )
    ex = (
        o.groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("ina"),
            F.max(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("inb"),
        )
        .filter((F.col("ina") == 1) & (F.col("inb") == 1))
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    inter = F.col("va") + F.col("vb") - F.col("vu")
    return wide.crossJoin(F.broadcast(ex)).select(
        F.round("va", 4).alias("est_a"),
        F.round("vb", 4).alias("est_b"),
        F.round("vu", 4).alias("est_union"),
        F.round(inter, 4).alias("est_intersection"),
        F.col("n_exact").alias("exact_intersection"),
        F.round(F.abs(inter - F.col("n_exact")) / F.col("n_exact"), 4)
        .cast("float")
        .alias("rel_err"),
    )


# --------------------------------------------------------------------------
# AMS (Alon–Matias–Szegedy) F2 sign sketch with a merge witness


#: Number of independent AMS sign sketches.  With 32, the estimator's
#: standard error is F2*sqrt(2/32) = 0.25*F2, so the emitted 3-sigma
#: acceptance band |mean_est - F2| <= 0.75*F2 is deterministic-safe at
#: every tested SF (measured relative error <= 0.2 across all scopes).
_AMS_K = 32

#: Even first hex nibble of md5 -> +1, odd -> -1 (exactly 8/16 each
#: way, and identical text in both engines: lowercase hex md5).
_AMS_EVEN = ("0", "2", "4", "6", "8", "a", "c", "e")


def _ams_sign_sql(key: str) -> str:
    return (
        f"CASE WHEN substr(md5(j::VARCHAR || ':' || {key}::VARCHAR), 1, 1)"
        f" IN {_AMS_EVEN} THEN 1 ELSE -1 END"
    )


@register(
    "ams_f2_sketch_merge",
    oracle=f"""
    WITH cnt AS (
        SELECT l_returnflag AS flag, l_partkey AS k,
               COUNT(*)::BIGINT AS c
        FROM lineitem GROUP BY 1, 2
    ),
    comp AS (
        SELECT flag, j.j,
               SUM(c * {_ams_sign_sql("k")})::BIGINT AS s
        FROM cnt CROSS JOIN (
            SELECT UNNEST(range(0, {_AMS_K})) AS j
        ) j
        GROUP BY 1, 2
    ),
    flag_est AS (
        SELECT flag, SUM(s * s)::BIGINT AS est_ss FROM comp GROUP BY flag
    ),
    flag_exact AS (
        SELECT flag, COUNT(*)::BIGINT AS n_keys,
               SUM(c * c)::BIGINT AS f2_exact
        FROM cnt GROUP BY flag
    ),
    gcnt AS (SELECT k, SUM(c)::BIGINT AS c FROM cnt GROUP BY k),
    gcomp AS (
        SELECT j.j, SUM(c * {_ams_sign_sql("k")})::BIGINT AS s
        FROM gcnt CROSS JOIN (
            SELECT UNNEST(range(0, {_AMS_K})) AS j
        ) j
        GROUP BY 1
    ),
    direct AS (SELECT SUM(s * s)::BIGINT AS est_ss FROM gcomp),
    mcomp AS (SELECT j, SUM(s)::BIGINT AS s FROM comp GROUP BY j),
    merged AS (SELECT SUM(s * s)::BIGINT AS est_ss FROM mcomp),
    gexact AS (
        SELECT COUNT(*)::BIGINT AS n_keys, SUM(c * c)::BIGINT AS f2_exact
        FROM gcnt
    )
    SELECT flag AS scope, n_keys, f2_exact, est_ss,
           {_AMS_K} AS n_sketches,
           CAST(ABS(est_ss - {_AMS_K} * f2_exact)
                <= 24 * f2_exact AS INT) AS within_3sigma,
           CAST(NULL AS INT) AS merged_equals_direct
    FROM flag_est JOIN flag_exact USING (flag)
    UNION ALL
    SELECT 'ALL' AS scope, g.n_keys, g.f2_exact, m.est_ss,
           {_AMS_K} AS n_sketches,
           CAST(ABS(m.est_ss - {_AMS_K} * g.f2_exact)
                <= 24 * g.f2_exact AS INT) AS within_3sigma,
           CAST(m.est_ss = d.est_ss AS INT) AS merged_equals_direct
    FROM merged m CROSS JOIN direct d CROSS JOIN gexact g
    ORDER BY scope
    """,
    tags=("sketch", "ams", "f2", "self-join-size", "mergeable",
          "bound-oracle"),
)
def ams_f2_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS sign sketch of the second frequency moment F2 = sum_k c_k^2
    of ``l_partkey`` — the classical streaming estimator of SELF-JOIN
    SIZE, the statistic a distributed optimizer needs before deciding
    whether a key is safe to shuffle-join (`join_size_estimate` is the
    sampling sibling; this is the fixed-size-summary sibling).

    Each of the 32 sketches keeps ONE integer per scope:
    S_j = sum_k c_k * s_j(k) with s_j(k) = +/-1 from an md5 bit
    (4-wise-independence stands in for the textbook BCH generator;
    engine-independent by construction).  E[S_j^2] = F2, so the mean
    of the 32 squares estimates F2 with sigma = F2*sqrt(2/32).

    The MERGE WITNESS is the point of the query: S_j is LINEAR in the
    count vector, so per-returnflag components simply ADD —
    ``merged_equals_direct`` asserts (as an exact integer equality,
    not a bound) that summing the three per-flag component vectors
    and squaring gives bit-identically the estimate computed from
    the global counts.  That is the property that lets 1000 executors
    sketch their shards independently and a coordinator combine
    32 integers per shard — no re-scan, no raw-key exchange.

    Scale shape: ONE corpus shuffle (the (flag, partkey) count);
    everything after runs on the key-domain relation (|parts|-sized),
    fanned out x32 for the signs, collapsed to 3x32 = 96 component
    integers.  All emitted columns are integers (counts, exact F2,
    sum of squared components, flags), so the parity hash is exact by
    construction; the accuracy claim rides as the integer
    ``within_3sigma`` bound (the `sketch_mergeable_rollup` /
    `ann_lsh_topk` promotion pattern).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_partkey").alias("k"),
    )
    cnt = li.groupBy("flag", "k").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # cnt feeds the sketch components, both exact-F2 legs, and the
    # global regroup — persist the key-domain relation once.
    cnt = cnt.persist()
    spine = F.broadcast(
        spark.range(_AMS_K).select(F.col("id").cast("int").alias("j"))
    )

    def sign() -> F.Column:
        h = F.substring(
            F.md5(
                F.concat(
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("k").cast("string"),
                )
            ),
            1,
            1,
        )
        return F.when(h.isin(*_AMS_EVEN), F.lit(1)).otherwise(F.lit(-1))

    # Referenced by BOTH the per-flag estimate and the merge witness
    # — without the pin the x32 md5 sign ladder over the key domain
    # (the query's dominant compute) runs twice.
    comp = (
        cnt.crossJoin(spine)
        .groupBy("flag", "j")
        .agg(F.sum(F.col("c") * sign()).cast("long").alias("s"))
        .persist()
    )
    flag_est = comp.groupBy("flag").agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("est_ss")
    )
    flag_exact = cnt.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"),
    )
    # Two consumers (independent witness sketch + exact global F2).
    gcnt = cnt.groupBy("k").agg(F.sum("c").cast("long").alias("c")).persist()
    gcomp = (
        gcnt.crossJoin(spine)
        .groupBy("j")
        .agg(F.sum(F.col("c") * sign()).cast("long").alias("s"))
    )
    direct = gcomp.agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("d_est_ss")
    )
    merged = (
        comp.groupBy("j")
        .agg(F.sum("s").cast("long").alias("s"))
        .agg(F.sum(F.col("s") * F.col("s")).cast("long").alias("est_ss"))
    )
    gexact = gcnt.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"),
    )
    flags = flag_est.join(flag_exact, "flag").select(
        F.col("flag").alias("scope"),
        "n_keys",
        "f2_exact",
        "est_ss",
        F.lit(_AMS_K).alias("n_sketches"),
        (
            F.abs(F.col("est_ss") - _AMS_K * F.col("f2_exact"))
            <= 24 * F.col("f2_exact")
        )
        .cast("int")
        .alias("within_3sigma"),
        F.lit(None).cast("int").alias("merged_equals_direct"),
    )
    all_row = (
        merged.crossJoin(F.broadcast(direct))
        .crossJoin(F.broadcast(gexact))
        .select(
            F.lit("ALL").alias("scope"),
            "n_keys",
            "f2_exact",
            "est_ss",
            F.lit(_AMS_K).alias("n_sketches"),
            (
                F.abs(F.col("est_ss") - _AMS_K * F.col("f2_exact"))
                <= 24 * F.col("f2_exact")
            )
            .cast("int")
            .alias("within_3sigma"),
            (F.col("est_ss") == F.col("d_est_ss"))
            .cast("int")
            .alias("merged_equals_direct"),
        )
    )
    return flags.unionAll(all_row).orderBy("scope")
