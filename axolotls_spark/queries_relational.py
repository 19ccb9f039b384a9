"""Relational core — joins, aggregations, windows, sorts, set ops.

SURVEY.md §2B: every operator here is a *stock Spark primitive*; the
value-add is the scale-aware physical shape. Design rules applied
throughout (checked via .explain):

- dimension sides of joins are broadcast (``F.broadcast``) — at
  100 TB the fact table never shuffles for a dim join;
- aggregations rely on partial (map-side) aggregation — Spark's
  HashAggregate does this automatically for algebraic aggs;
- top-k is ``orderBy().limit(k)`` which plans TakeOrderedAndProject
  (per-partition heap + driver merge of k rows, never a full sort);
- windows declare explicit, deterministic ORDER BY tie-breakers so
  results are reproducible under any partitioning.

The reference has none of these operators (SURVEY §2A "ABSENT":
no join/agg/sort/filter identifiers anywhere in its source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.io.sources import load_table
from axolotls_spark.registry import register, stable_f32

# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle="""
    WITH agg AS (
        SELECT
            l.l_orderkey,
            CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                 AS BIGINT)             AS revenue_e4,
            o.o_orderdate
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY l.l_orderkey, o.o_orderdate
    )
    SELECT
        l_orderkey,
        CAST(revenue_e4 AS DOUBLE) / 10000.0 AS revenue,
        CAST(o_orderdate AS DATE)            AS orderdate
    FROM agg
    ORDER BY revenue_e4 DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "broadcast-join", "agg", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → broadcast join into the
    fact table → hash agg → top-k. customer is broadcast (post-filter
    it is tiny at any SF); lineitem↔orders co-shuffle on orderkey;
    final TakeOrderedAndProject avoids a global sort.

    Revenue is summed in exact 1e-4 fixed point (BIGINT) and emitted
    as a double via one identical cast+division in both engines, so
    both the values AND the top-k ORDER BY boundary are bit-exact at
    any SF (VERDICT r7 item #3 / SCALE.md integer-cents rule) — a
    raw SUM(double) ranking key can flip adjacent top-k entries when
    two orders' revenues differ below the summation-order spread."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("revenue_e4")
        )
        .select(
            "l_orderkey",
            (F.col("revenue_e4").cast("double") / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.to_date("o_orderdate").alias("orderdate"),
            "revenue_e4",
        )
        .orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
        .limit(10)
        .drop("revenue_e4")
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT
        n.n_name AS nation,
        SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    tags=("join", "multi-join", "broadcast-join", "agg"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join — every dim broadcast, so the only
    fact-side movement is the final agg shuffle on n_name (5 rows)."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(F.col("n_name").alias("nation"), "revenue")
    )


@register(
    "join_semi_active_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "semi-join"),
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — existence check without duplication; Spark
    builds the hash side once, never materializes matches."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_idle_customers",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "anti-join"),
)
def join_anti_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_left_order_linecounts",
    oracle="""
    SELECT o.o_orderkey, COUNT(l.l_orderkey) AS n_lines,
           COALESCE(SUM(l.l_quantity), 0.0)  AS total_qty
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
    tags=("join", "outer-join", "agg"),
)
def join_left_order_linecounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving unmatched orders; COUNT of the
    right key counts only matches (SQL semantics both engines)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_lines"),
            F.coalesce(F.sum("l_quantity"), F.lit(0.0)).alias("total_qty"),
        )
    )


@register(
    "join_range_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('small', 0.0, 50000.0),
               ('medium', 50000.0, 150000.0),
               ('large', 150000.0, 1e18)
    )
    SELECT b.band, COUNT(*) AS n_orders, AVG(o.o_totalprice) AS avg_price
    FROM orders o
    JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
    tags=("join", "range-join", "non-equi-join", "agg"),
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a tiny banding dim — broadcast
    nested-loop, the right physical plan for interval lookup: each
    fact row probes the broadcast band list, no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 50000.0), ("medium", 50000.0, 150000.0), ("large", 150000.0, 1e18)],
        "band: string, lo: double, hi: double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg("o_totalprice").alias("avg_price"),
        )
    )


@register(
    "join_full_outer_daily_activity",
    oracle="""
    WITH o AS (
        SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT COALESCE(o.d, e.d) AS day,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(e.n_events, 0) AS n_events
    FROM o FULL OUTER JOIN e ON o.d = e.d
    """,
    tags=("join", "full-outer-join", "agg"),
)
def join_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two daily aggregates with disjoint date
    ranges on both ends — preserves unmatched days from either side
    (the one join type the suite didn't yet certify)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("od"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("ed"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        o.join(e, o.od == e.ed, "full_outer")
        .select(
            F.coalesce("od", "ed").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "agg_distinct_segments",
    oracle="""
    SELECT
        c_mktsegment,
        COUNT(*)                    AS n_customers,
        COUNT(DISTINCT c_nationkey) AS n_nations,
        CAST(SUM(c_acctbal) AS REAL) AS total_bal,
        CAST(AVG(c_acctbal) AS REAL) AS avg_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("agg", "count-distinct"),
)
def agg_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    out = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.sum("c_acctbal").alias("total_bal"),
        F.avg("c_acctbal").alias("avg_bal"),
    )
    return stable_f32(out, "total_bal", "avg_bal")


@register(
    "agg_stats_moments",
    oracle="""
    SELECT
        l_returnflag,
        MIN(l_extendedprice)             AS min_price,
        MAX(l_extendedprice)             AS max_price,
        CAST(STDDEV_SAMP(l_extendedprice) AS REAL)     AS sd_price,
        CAST(VAR_SAMP(l_extendedprice) AS REAL)        AS var_price,
        MEDIAN(l_extendedprice)          AS med_price,
        CAST(CORR(l_extendedprice, l_quantity) AS REAL) AS corr_pq
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "statistics"),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic + order-statistic aggregates; median is exact
    (percentile 0.5 with interpolation — identical in DuckDB).
    Variance-family outputs are reduction-order-sensitive in the
    last ulps, so they are emitted float32 (see stable_f32)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.stddev_samp("l_extendedprice").alias("sd_price"),
        F.var_samp("l_extendedprice").alias("var_price"),
        F.median("l_extendedprice").alias("med_price"),
        F.corr("l_extendedprice", "l_quantity").alias("corr_pq"),
    )
    return stable_f32(out, "sd_price", "var_price", "corr_pq")


@register(
    "agg_rollup_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup", "grouping-sets"),
)
def agg_rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, SUM(o_totalprice) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube", "grouping-sets"),
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total")
    )


@register(
    "agg_conditional_buckets",
    oracle="""
    SELECT
        CASE WHEN o_totalprice < 50000 THEN 'small'
             WHEN o_totalprice < 150000 THEN 'medium'
             ELSE 'large' END AS bucket,
        COUNT(*) AS n,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_finished
    FROM orders
    GROUP BY 1
    """,
    tags=("agg", "case-when", "conditional"),
)
def agg_conditional_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "n_finished"
        ),
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_topk_orders",
    oracle="""
    SELECT * FROM (
        SELECT
            o_custkey, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER w AS rn,
            RANK()       OVER w AS rk,
            DENSE_RANK() OVER w AS drk
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
    tags=("window", "ranking", "topk-per-group"),
)
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3-per-customer via ranking window; o_orderkey tie-break
    makes ROW_NUMBER deterministic. At scale Spark pushes a per-key
    limit into the shuffle (WindowGroupLimit) for rank filters."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running_total",
    oracle="""
    SELECT
        o_custkey, o_orderkey,
        CAST(SUM(o_totalprice) OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS REAL) AS running_total
    FROM orders
    """,
    tags=("window", "analytic", "rows-frame"),
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = o.select(
        "o_custkey",
        "o_orderkey",
        F.sum("o_totalprice").over(w).alias("running_total"),
    )
    return stable_f32(out, "running_total")


@register(
    "window_lag_lead_events",
    oracle="""
    SELECT
        user_id, event_id, value,
        LAG(value)  OVER w AS prev_value,
        LEAD(value) OVER w AS next_value,
        value - LAG(value) OVER w AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "lag-lead"),
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT
        o_orderkey, o_totalprice,
        COUNT(*) OVER (
            ORDER BY o_totalprice
            RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
        ) AS n_within_1k
    FROM orders
    """,
    tags=("window", "range-frame"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, tie-stable so deterministic without
    a tiebreaker). Unpartitioned window = single-node sort at scale;
    acceptable here only because it demonstrates the frame type —
    real pipelines must partition."""
    o = load_table(spark, sf_dir, "orders")
    # Double-valued RANGE bounds need the SQL frame syntax (the
    # python rangeBetween API only takes long offsets).
    return o.selectExpr(
        "o_orderkey",
        "o_totalprice",
        "COUNT(*) OVER (ORDER BY o_totalprice"
        " RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_within_1k",
    )


# ---------------------------------------------------------------------------
# Sort / top-k / set ops
# ---------------------------------------------------------------------------


@register(
    "topk_expensive_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags=("sort", "topk"),
)
def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: plans as TakeOrderedAndProject (per-partition
    heaps, driver merges 25 rows) — no full sort even at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@register(
    "setop_nation_overlap",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop", "intersect"),
)
def setop_nation_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@register(
    "setop_customer_only_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop", "except"),
)
def setop_customer_only_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    # subtract == EXCEPT (set semantics); exceptAll would keep keys
    # whose customer multiplicity exceeds supplier multiplicity.
    return c.subtract(s)


@register(
    "setop_union_parties",
    oracle="""
    SELECT party_id, name, kind FROM (
        SELECT c_custkey AS party_id, c_name AS name, 'customer' AS kind
        FROM customer
        UNION ALL
        SELECT s_suppkey AS party_id, s_name AS name, 'supplier' AS kind
        FROM supplier
    )
    """,
    tags=("setop", "union"),
)
def setop_union_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("party_id"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("kind"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("party_id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s)


@register(
    "grouping_sets_sql",
    oracle="""
    SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg", "grouping-sets", "sql"),
)
def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface: the engine accepts ANSI SQL via spark.sql over
    DataFrames bound as parameters — GROUPING SETS is the exemplar."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "sla_ship_within_days",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           SUM(CASE WHEN DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE)) <= 30
                    THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) AS pct_within_30d,
           AVG(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE))::DOUBLE) AS avg_lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("sla", "reporting", "join", "date", "agg"),
)
def sla_ship_within_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping SLA by order priority: share of line items shipped
    within 30 days of order placement, plus the mean lag — the
    operational-reporting shape (fact↔fact join on orderkey, one
    conditional aggregate)."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(F.when(lag <= 30, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("pct_within_30d"),
            F.avg(lag.cast("double")).alias("avg_lag_days"),
        )
    )


@register(
    "grouping_sets_sales",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS INT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
    tags=("grouping-sets", "agg", "olap", "reshape"),
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id() disambiguation — the surface
    ``grouping_sets_sql`` does NOT cover: COALESCE('ALL') alone
    cannot distinguish a NULL that came from the data from a NULL the
    rollup produced; grouping_id is the only correct discriminator,
    and BI tools key on it. Includes the full (a,b) combination plus
    both margins and the grand total in ONE Expand-based aggregate
    (one scan, one shuffle — never a job per set); exact integer-cent
    sums keep the hash comparable."""
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                    AS INT) AS gid,
               COUNT(*) AS n_orders,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )
