"""Incremental-warehouse maintenance operators.

The reference (`/root/reference/axolotls` — four column classes,
element-wise torch kernels, SURVEY §2A) has no table-maintenance
surface; these are §2B-style extensions covering the operations a
lakehouse actually runs to keep derived tables current:

- ``scd2_priority_history``  — Slowly-Changing-Dimension Type 2:
  collapse an ordered change stream into versioned validity
  intervals (effective_from / effective_to / is_current).
- ``cdc_apply_latest``       — CDC apply: latest-change-wins per key
  with delete tombstones, in ONE hash aggregate (no window sort).
- ``ewma_daily_revenue``     — exponentially-weighted moving average
  over the daily revenue series (bounded 15-day kernel so the
  weights are exact literals on both engines).
- ``anomaly_mad_robust``     — robust outlier flagging by median
  absolute deviation (the median-based z-score that survives the
  very outliers a mean-based z-score is skewed by).
- ``sample_fixed_per_group`` — deterministic k-per-group sample via
  engine-independent hash ordering (the distributed replacement for
  reservoir sampling: same guarantee, reproducible, one shuffle).
- ``bfs_shortest_hops``      — bounded-depth multi-source BFS over
  the aggregated nation trade graph (aggregate-then-iterate like
  pagerank; the oracle is a bounded recursive CTE).

Every query is pure Column-expression PySpark with an exact DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.io.sources import load_table
from axolotls_spark.operators.graph import bfs
from axolotls_spark.queries_analytics import trade_facts
from axolotls_spark.registry import register, stable_f32


# ---------------------------------------------------------------------------
# SCD Type 2 — versioned validity intervals from an ordered change stream
# ---------------------------------------------------------------------------


@register(
    "scd2_priority_history",
    oracle="""
    WITH chg AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               CASE WHEN LAG(o_orderpriority) OVER w IS DISTINCT FROM
                         o_orderpriority THEN 1 ELSE 0 END AS is_chg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
        SELECT *,
               SUM(is_chg) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS version
        FROM chg
    ),
    v AS (
        SELECT o_custkey, CAST(version AS BIGINT) AS version,
               MIN(o_orderpriority) AS priority,
               MIN(o_orderdate) AS effective_from,
               COUNT(*) AS n_orders
        FROM runs GROUP BY 1, 2
    )
    SELECT o_custkey, version, priority, effective_from,
           LEAD(effective_from) OVER pw AS effective_to,
           n_orders,
           (LEAD(effective_from) OVER pw IS NULL) AS is_current
    FROM v
    WINDOW pw AS (PARTITION BY o_custkey ORDER BY version)
    """,
    tags=("scd2", "warehouse", "gaps-and-islands", "window", "incremental"),
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: each customer's order
    priority over time collapsed into versioned validity intervals
    (effective_from, effective_to=next version's start, NULL and
    is_current on the open interval) — the standard dimension-table
    versioning every warehouse maintains.

    Scale shape: one shuffle on the dimension key drives everything —
    the change-detect lag, the run-id prefix sum, the per-run
    aggregate and the effective_to lead all share the o_custkey
    partitioning, so Catalyst plans a single exchange and the
    per-version relation (≤ |changes|) never leaves those partitions.
    """
    from axolotls_spark.operators.warehouse import scd2_history

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return scd2_history(
        o,
        key="o_custkey",
        order_cols=["o_orderdate", "o_orderkey"],
        attr="o_orderpriority",
        eff_col="o_orderdate",
    ).select(
        "o_custkey",
        "version",
        F.col("o_orderpriority").alias("priority"),
        "effective_from",
        "effective_to",
        F.col("n_rows").alias("n_orders"),
        "is_current",
    )


# ---------------------------------------------------------------------------
# CDC apply — latest-change-wins with delete tombstones, one aggregate
# ---------------------------------------------------------------------------


@register(
    "cdc_apply_latest",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, value, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        FROM events
    )
    SELECT user_id,
           event_type AS last_event_type,
           value      AS last_value,
           ts         AS last_ts,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("cdc", "upsert", "warehouse", "max_by", "incremental"),
)
def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply: the events stream is a per-user change
    feed where ``error`` is a delete tombstone; materialize the
    current state — latest change wins by (ts, event_id), users whose
    final change is a tombstone drop out.

    Scale shape: the oracle spells it as the familiar ROW_NUMBER()=1
    window, but that costs a per-key SORT of the full changelog. The
    engine instead uses ``max_by`` with a (ts, event_id) struct
    ordinal: ONE hash aggregate with map-side partial combine — each
    task reduces its slice to one candidate per key before the
    exchange, so 100 TB of changelog shuffles at most |keys| × tasks
    rows and nothing is ever sorted.
    """
    from axolotls_spark.operators.warehouse import cdc_latest

    e = load_table(spark, sf_dir, "events")
    return cdc_latest(
        e,
        key="user_id",
        ordinal=["ts", "event_id"],
        payload=["event_type", "value", "ts"],
        tombstone=F.col("event_type") == "error",
    ).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("last_ts"),
        "n_changes",
    )


# ---------------------------------------------------------------------------
# EWMA — bounded-kernel exponential smoothing with exact literal weights
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_K = 15  # kernel length: (1-a)^15 ≈ 0.5% — negligible tail

# The weighted sum is spelled once and run verbatim on both engines
# (Spark F.expr and DuckDB). Weights are Python-computed literals, so
# no pow() libm divergence can creep in.
_EWMA_NUM = " + ".join(
    f"COALESCE(l{k}, 0.0) * {(1.0 - _EWMA_ALPHA) ** k!r}" for k in range(_EWMA_K)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN l{k} IS NOT NULL THEN {(1.0 - _EWMA_ALPHA) ** k!r} ELSE 0.0 END)"
    for k in range(_EWMA_K)
)
_EWMA_EXPR = f"({_EWMA_NUM}) / ({_EWMA_DEN})"


@register(
    "ewma_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS revenue
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT day, revenue,
               {", ".join(f"LAG(revenue, {k}) OVER (ORDER BY day) AS l{k}"
                          for k in range(_EWMA_K))}
        FROM daily
    )
    SELECT day, CAST(revenue AS REAL) AS revenue,
           CAST({_EWMA_EXPR} AS REAL) AS ewma
    FROM lagged
    """,
    tags=("ewma", "timeseries", "smoothing", "window", "shared-algebra"),
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.3) of daily order
    revenue, as a bounded 15-term kernel: the infinite recurrence's
    tail beyond 15 days carries <0.5% weight, and truncating it turns
    a sequential fold into a stateless window expression whose
    weights are identical float literals on both engines.

    Scale shape: the windowed relation is the DAILY aggregate —
    calendar-bounded (~2.4k rows for 7 years) regardless of fact
    volume, so the unpartitioned ordering is a non-issue; the only
    corpus-sized work is the one groupBy(day) shuffle. For per-entity
    smoothing at scale, partition the same window by the entity key.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "revenue",
        *[F.lag("revenue", k).over(w).alias(f"l{k}") for k in range(_EWMA_K)],
    )
    return stable_f32(
        lagged.select("day", "revenue", F.expr(_EWMA_EXPR).alias("ewma")),
        "revenue",
        "ewma",
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection — median absolute deviation
# ---------------------------------------------------------------------------

_MAD_C = 1.4826  # consistency constant: MAD ≈ σ for normal data
_MAD_CUT = 3.5


@register(
    "anomaly_mad_robust",
    oracle=f"""
    WITH e AS (SELECT event_id, event_type, value FROM events),
    med AS (
        SELECT event_type, median(value) AS med FROM e GROUP BY 1
    ),
    mad AS (
        SELECT e.event_type, median(abs(value - med)) AS mad
        FROM e JOIN med USING (event_type) GROUP BY 1
    )
    SELECT event_id, e.event_type, value,
           CAST((value - med) / ({_MAD_C} * mad) AS REAL) AS robust_z
    FROM e JOIN med USING (event_type) JOIN mad USING (event_type)
    WHERE abs(value - med) / ({_MAD_C} * mad) > {_MAD_CUT}
    """,
    tags=("anomaly", "mad", "robust-statistics", "median", "quality"),
)
def anomaly_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier flagging on the heavy-tailed
    event values: |x − median| / (1.4826 · MAD) > 3.5 — the
    median-based z-score whose cutoffs, unlike anomaly_zscore_orders'
    mean/stddev, are not themselves dragged by the outliers being
    hunted (50% breakdown point vs 0%).

    Scale shape: two exact-median aggregates over the same
    type-keyed relation (medians need a per-group sort — that is
    the price of exactness; swap in approx_percentile for a
    sort-free sketch at extreme scale), then the tiny per-type
    stats broadcast back onto the facts for a map-only flag pass.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(
                F.abs(F.col("value") - F.col("med")), F.lit(0.5)
            ).alias("mad")
        )
    )
    z = (F.col("value") - F.col("med")) / (F.lit(_MAD_C) * F.col("mad"))
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(z) > _MAD_CUT)
        .select(
            "event_id",
            "event_type",
            "value",
            z.cast("float").alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic fixed-size per-group sample (distributed reservoir)
# ---------------------------------------------------------------------------

_SAMPLE_K = 5


@register(
    "sample_fixed_per_group",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang, source,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM documents
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
                                     ORDER BY hv, doc_id) AS rn
        FROM h
    )
    SELECT lang, source, doc_id, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_SAMPLE_K}
    """,
    tags=("sampling", "reservoir", "deterministic", "per-group", "curation"),
)
def sample_fixed_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k=5 documents per (lang, source) stratum, chosen by
    engine-independent md5 hash order — the distributed, reproducible
    replacement for reservoir sampling: the hash order is a uniform
    random permutation fixed at data-creation time, so "first k by
    hash" IS a uniform k-sample, and re-running (or re-sharding) the
    job picks the same rows.

    Scale shape: one shuffle on the stratum key; rank-k selection
    within each partition. At extreme per-stratum cardinality, cut
    the sort cost by pre-filtering on a hash threshold (keep hv <
    max_int * (c·k/n̂)) before ranking — the same two-phase trick
    sample_weighted_topk uses.
    """
    docs = load_table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    r = docs.select("doc_id", "lang", "source", hv.alias("hv")).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang", "source").orderBy("hv", "doc_id")
        ),
    )
    return r.filter(F.col("rn") <= _SAMPLE_K).select(
        "lang", "source", "doc_id", F.col("rn").cast("long").alias("rn")
    )


# ---------------------------------------------------------------------------
# Bounded-depth BFS over the aggregated trade graph
# ---------------------------------------------------------------------------

_BFS_SEED = 0  # n_nationkey of the BFS source
_BFS_DEPTH = 4
_BFS_FANOUT = 3  # keep each nation's top-3 outgoing trade edges

_BFS_EDGES_SQL = f"""
        SELECT src, dst FROM (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.s_nationkey
                       ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC,
                                c.c_nationkey) AS rk
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer c ON o_custkey = c.c_custkey
            JOIN supplier s ON l_suppkey = s.s_suppkey
            WHERE s.s_nationkey <> c.c_nationkey
            GROUP BY 1, 2)
        WHERE rk <= {_BFS_FANOUT}
"""


@register(
    "bfs_shortest_hops",
    oracle=f"""
    WITH RECURSIVE edges AS ({_BFS_EDGES_SQL}),
    bfs(node, hops) AS (
        SELECT {_BFS_SEED}, 0
        UNION
        SELECT e.dst, b.hops + 1
        FROM bfs b JOIN edges e ON e.src = b.node
        WHERE b.hops < {_BFS_DEPTH}
    )
    SELECT n_name AS nation, CAST(MIN(hops) AS BIGINT) AS hops
    FROM bfs JOIN nation ON node = n_nationkey
    GROUP BY 1
    """,
    tags=("graph", "bfs", "iterative", "recursive-cte", "broadcast"),
)
def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop counts from nation 0 over the top-3-partner trade
    graph (each nation keeps only its 3 highest-revenue export
    edges), breadth-first to depth 4 — the oracle says it as a
    bounded recursive CTE; the engine runs the same frontier
    expansion inside one lazy plan, pagerank-style.

    Scale shape: the one corpus-sized pass is the edge aggregation;
    the top-3 cut ranks ≤|nations|² rows, and the rounds run in one
    array ``aggregate`` over the one-row graph (operators/graph.bfs).
    """
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        trade_facts(spark, sf_dir)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.sum("revenue").alias("w"))
    )
    edges = (
        rev.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("w"), "dst")
            ),
        )
        .filter(F.col("rk") <= _BFS_FANOUT)
        .select("src", "dst")
    )
    dist = bfs(edges, _BFS_SEED, _BFS_DEPTH)
    return dist.join(F.broadcast(n), dist.node == n.n_nationkey).select(
        F.col("n_name").alias("nation"), F.col("hops").cast("long").alias("hops")
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance.
# ---------------------------------------------------------------------------


@register(
    "mv_incremental_refresh",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("materialized-view", "incremental", "warehouse", "delta"),
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the MV state
    (orders BEFORE 1997-01-01, pre-aggregated by priority × month)
    is refreshed by merging only the DELTA batch's partial aggregate
    — a full outer join on the group keys with additive merge — and
    the oracle certifies the core MV invariant: incremental refresh
    ≡ full recompute over the whole table.

    Scale shape: refresh cost is O(delta) + O(|groups|), never
    O(base). The base aggregate stands in for the stored MV (on a
    real lake it is a parquet/Delta table read back, not recomputed);
    the delta aggregate is one shuffle over the new batch; the merge
    joins two group-cardinality relations. Additive aggregates
    (count/sum — here exact integer cents) are the self-maintainable
    class; min/max would need the delete-compensation generalization.
    """
    o = load_table(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("timestamp")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            ),
        )

    mv_state = agg(o.filter(F.col("o_orderdate") < split))
    delta = agg(o.filter(F.col("o_orderdate") >= split))
    s, d = mv_state.alias("s"), delta.alias("d")
    return (
        s.join(d, ["priority", "month"], "full_outer")
        .select(
            "priority",
            "month",
            (
                F.coalesce(F.col("s.n_orders"), F.lit(0))
                + F.coalesce(F.col("d.n_orders"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("s.rev_cents"), F.lit(0))
                + F.coalesce(F.col("d.rev_cents"), F.lit(0))
            ).alias("rev_cents"),
        )
    )


@register(
    "mv_refresh_with_deletes",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders
    WHERE NOT (o_orderkey % 97 = 0 AND o_orderdate < DATE '1997-01-01')
    GROUP BY 1, 2
    HAVING COUNT(*) > 0
    """,
    tags=("materialized-view", "incremental", "retraction", "delete"),
)
def mv_refresh_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance WITH retractions — the general CDC
    shape: the stored state (pre-1997 aggregate) absorbs an insert
    batch (post-1997 orders) AND a delete batch (every 97th pre-1997
    order, the GDPR-erasure/correction case) by ADDING insert
    partials and SUBTRACTING delete partials per group; groups whose
    count retracts to zero drop out. The oracle certifies the
    invariant: incremental apply ≡ full recompute over
    (base ∖ deletes) ∪ inserts. Count/sum are self-maintainable
    under deletes with no history replay; min/max would need the
    per-group recompute fallback.

    Scale shape: O(inserts) + O(deletes) + O(|groups|) — the base is
    never rescanned (its aggregate stands in for the stored MV)."""
    o = load_table(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("timestamp")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            ),
        )

    base = o.filter(F.col("o_orderdate") < split)
    mv_state = agg(base)
    inserts = agg(o.filter(F.col("o_orderdate") >= split))
    deletes = agg(base.filter(F.col("o_orderkey") % 97 == 0))
    s, i, d = mv_state.alias("s"), inserts.alias("i"), deletes.alias("d")
    n = (
        F.coalesce(F.col("s.n_orders"), F.lit(0))
        + F.coalesce(F.col("i.n_orders"), F.lit(0))
        - F.coalesce(F.col("d.n_orders"), F.lit(0))
    )
    rev = (
        F.coalesce(F.col("s.rev_cents"), F.lit(0))
        + F.coalesce(F.col("i.rev_cents"), F.lit(0))
        - F.coalesce(F.col("d.rev_cents"), F.lit(0))
    )
    return (
        s.join(i, ["priority", "month"], "full_outer")
        .join(d, ["priority", "month"], "full_outer")
        .select(
            "priority", "month", n.alias("n_orders"), rev.alias("rev_cents")
        )
        .filter(F.col("n_orders") > 0)
    )


# --------------------------------------------------------------------------
# Bucketed co-located join — round 5.  The on-disk co-partitioning
# story the 100 TB brief calls out explicitly: write both fact tables
# bucketed by the join key, and the repeated key-join plans with ZERO
# exchanges under the join (pinned by tests/test_plan_audit.py) — the
# shuffle is paid once at write time and amortized over every
# subsequent join.
# --------------------------------------------------------------------------


@register(
    "bucketed_join_colocate",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l.l_extendedprice) AS REAL) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("warehouse", "bucketing", "join", "colocation", "sink"),
)
def bucketed_join_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two tables that were WRITTEN bucketed on the join key
    (8 buckets, sorted within bucket): the sort-merge join consumes
    the bucketed layout directly — no Exchange under the join, no
    sort — so the only shuffle in the whole plan is the final tiny
    group-by.  The ``merge`` hint pins SMJ at every SF (a broadcast
    join would also be exchange-free but wouldn't demonstrate the
    layout).  The write itself is the one-time co-location cost every
    warehouse pays to make its hot join paths shuffle-free.
    """
    from axolotls_spark.io.sinks import replace_bucketed_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    replace_bucketed_table(
        orders, "bkt_orders", ["o_orderkey"], 8, sort_by=["o_orderkey"]
    )
    replace_bucketed_table(
        li, "bkt_lineitem", ["l_orderkey"], 8, sort_by=["l_orderkey"]
    )
    bo = spark.table("bkt_orders").hint("merge")
    bl = spark.table("bkt_lineitem").hint("merge")
    return (
        bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("l_extendedprice").cast("float").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Small-file compaction planner (OPTIMIZE bin packing)


#: Target compacted file size.  Demo-scaled (128 KiB) so every SF
#: produces a multi-bin plan; a production lake uses 128 MiB-1 GiB —
#: the SAME plan with a different literal, since nothing below
#: depends on the value.
_COMPACT_TARGET = 131072


@register(
    "compaction_bin_packing",
    oracle=f"""
    WITH files AS (
        SELECT strftime(o_orderdate, '%Y-%m') || '/' || o_orderpriority
                   AS file_id,
               (COUNT(*) * 150)::BIGINT AS size_bytes
        FROM orders
        GROUP BY 1
    ),
    ranked AS (
        SELECT file_id, size_bytes,
               SUM(size_bytes) OVER (
                   ORDER BY size_bytes DESC, file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM files
    ),
    binned AS (
        SELECT file_id, size_bytes,
               CAST(cum - size_bytes AS BIGINT) // {_COMPACT_TARGET}
                   AS bin_id
        FROM ranked
    )
    SELECT bin_id,
           COUNT(*)::BIGINT AS n_files,
           SUM(size_bytes)::BIGINT AS bin_bytes,
           MAX(size_bytes)::BIGINT AS max_file_bytes,
           MIN(size_bytes)::BIGINT AS min_file_bytes,
           CAST(SUM(size_bytes)::DOUBLE / {_COMPACT_TARGET} AS REAL)
               AS fill_ratio
    FROM binned
    GROUP BY bin_id
    ORDER BY bin_id
    """,
    tags=("warehouse", "compaction", "bin-packing", "maintenance",
          "prefix-sum"),
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan — the OPTIMIZE planner of a lakehouse
    table (Delta/Iceberg `rewrite_data_files`): group the table's file
    manifest into target-sized rewrite bins by next-fit-decreasing,
    emitting per-bin file count, byte totals, and fill ratio.  The
    manifest is simulated from `orders` partitioned by
    (month, priority) at ~150 bytes/row; on a real lake it is the
    table's metadata/manifest relation — which is exactly why this
    scales: the planner touches FILE METADATA (millions of rows at
    100 TB), never data.

    Bin assignment is deterministic, parallel next-fit-decreasing:
    files sorted by (size DESC, file_id), each file's bin is
    ``exclusive_prefix_sum // target`` — a bin may overrun the target
    by at most one file (classic NFD bound), which the emitted
    ``fill_ratio`` makes visible.  Strict first-fit-decreasing packs
    marginally tighter but is inherently sequential (each placement
    depends on every earlier bin's residual capacity); the prefix-sum
    formulation is order-equivalent, one-pass, and runs on the same
    distributed scaffold the exact-quantile family certifies
    (operators/prefix.ranked_cumsum: range partitions + a window over
    the <=32-row per-partition offsets relation — NO unpartitioned
    window over the manifest).

    Integer discipline (round-6 boundary rule): the bin boundary is
    computed with INTEGER division on exact byte counts — a float
    ``floor(cum/target)`` could round up across the boundary when the
    exclusive prefix lands exactly on a target multiple."""
    from axolotls_spark.operators.prefix import ranked_cumsum

    o = load_table(spark, sf_dir, "orders")
    files = (
        o.groupBy(
            F.concat_ws(
                "/",
                F.date_format("o_orderdate", "yyyy-MM"),
                F.col("o_orderpriority"),
            ).alias("file_id")
        )
        .agg((F.count(F.lit(1)) * 150).cast("long").alias("size_bytes"))
    )
    rc = ranked_cumsum(
        files,
        [F.desc("size_bytes"), F.asc("file_id")],
        "size_bytes",
        rank_name="rn",
        cum_name="cum",
    )
    binned = rc.withColumn(
        "bin_id",
        F.expr(f"(cum - size_bytes) div {_COMPACT_TARGET}").cast("long"),
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("size_bytes").cast("long").alias("bin_bytes"),
            F.max("size_bytes").cast("long").alias("max_file_bytes"),
            F.min("size_bytes").cast("long").alias("min_file_bytes"),
            (
                F.sum("size_bytes").cast("double") / _COMPACT_TARGET
            )
            .cast("float")
            .alias("fill_ratio"),
        )
        .orderBy("bin_id")
    )


# --------------------------------------------------------------------------
# Merkle digest tree (log-localized replica reconciliation)


_MERKLE_LEAVES = 64
_MERKLE_FANOUT = 4

_MERKLE_HASH = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _merkle_oracle() -> str:
    levels = [
        f"""
    keyed AS (
        SELECT o_orderkey % {_MERKLE_LEAVES} AS node_id,
               {_MERKLE_HASH.format(
                   x="o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR"
                     " || '|' || o_orderstatus || '|' ||"
                     " CAST(FLOOR(o_totalprice * 100) AS BIGINT)::VARCHAR"
               )} AS cks
        FROM orders
    ),
    lvl0 AS (
        SELECT node_id, COUNT(*)::BIGINT AS n_rows,
               md5(bit_xor(cks)::VARCHAR || ':' || COUNT(*)::VARCHAR)
                   AS digest
        FROM keyed GROUP BY node_id
    )"""
    ]
    n = _MERKLE_LEAVES
    lvl = 0
    while n > 1:
        n //= _MERKLE_FANOUT
        lvl += 1
        levels.append(
            f""",
    lvl{lvl} AS (
        SELECT node_id // {_MERKLE_FANOUT} AS node_id,
               SUM(n_rows)::BIGINT AS n_rows,
               md5(string_agg(digest, ',' ORDER BY node_id)) AS digest
        FROM lvl{lvl - 1} GROUP BY node_id // {_MERKLE_FANOUT}
    )"""
        )
    selects = [
        f"SELECT {i} AS level, CAST(node_id AS INT) AS node_id,"
        f" n_rows, digest FROM lvl{i}"
        for i in range(lvl + 1)
    ]
    return (
        "WITH "
        + "".join(levels)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY level, node_id"
    )


@register(
    "merkle_tree_levels",
    oracle=_merkle_oracle(),
    tags=("reconciliation", "merkle", "checksum", "warehouse",
          "hierarchical"),
)
def merkle_tree_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle digest tree over orders (64 leaves, fan-out 4, 4
    levels) — the hierarchical form of `table_diff_checksum`'s flat
    bucket digests: two replicas compare ROOTS first and descend only
    into unequal subtrees, so localizing a divergence costs
    O(fanout * log n) digest comparisons instead of O(buckets) — the
    sync protocol of Dynamo-style anti-entropy and data-lake
    cross-region repair, and the artifact each side ships (85 rows)
    instead of the table.

    Determinism stack: per-row checksums are the engine-independent
    md5-slice (`token_hash`), combined per leaf with the
    order-insensitive overflow-free bit_xor + count (shuffle-order
    immune); every PARENT digest then hashes its children's digests
    in explicit node-id order, so the tree value is a pure function
    of table content.  Floats never reach a hash: price enters as
    FLOOR(cents).

    Scale shape: ONE corpus aggregate builds the leaves; the 3
    parent levels aggregate 64 -> 16 -> 4 -> 1 metadata rows."""
    from axolotls_spark.operators.dedup import token_hash

    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        (F.col("o_orderkey") % _MERKLE_LEAVES).alias("node_id"),
        token_hash(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.floor(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("string"),
            )
        ).alias("cks"),
    )
    lvl = (
        keyed.groupBy("node_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.md5(
                F.concat_ws(
                    ":",
                    F.expr("bit_xor(cks)").cast("string"),
                    F.count(F.lit(1)).cast("string"),
                )
            ).alias("digest"),
        )
        .withColumn("level", F.lit(0))
    )
    # Each level is consumed twice (the output union and the next
    # level's aggregate); persist the <=64-row relations so
    # the orders scan and the per-level digest chain run once.
    lvl = lvl.persist()
    out = lvl
    n = _MERKLE_LEAVES
    level = 0
    while n > 1:
        n //= _MERKLE_FANOUT
        level += 1
        lvl = (
            lvl.groupBy(
                F.expr(f"node_id div {_MERKLE_FANOUT}").alias("node_id")
            )
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        F.col("node_id").alias("cid"),
                                        F.col("digest"),
                                    )
                                )
                            ),
                            lambda s: s["digest"],
                        ),
                    )
                ).alias("digest"),
            )
            .withColumn("level", F.lit(level))
        )
        lvl = lvl.persist()
        out = out.unionByName(lvl)
    return out.select(
        "level",
        F.col("node_id").cast("int").alias("node_id"),
        "n_rows",
        "digest",
    ).orderBy("level", "node_id")


# --------------------------------------------------------------------------
# Late-arriving-data restatement curve (bitemporal reporting)


_RESTATE_HASH = "('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT"


@register(
    "late_data_restatement",
    oracle=f"""
    WITH keyed AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               o_totalprice AS v,
               CAST(o_orderdate AS DATE)
                   + CAST({_RESTATE_HASH} % 30 AS INTEGER)
                       AS known_date,
               last_day(CAST(o_orderdate AS DATE)) AS month_end
        FROM orders
    )
    SELECT month,
           COUNT(*)::BIGINT AS n_final,
           CAST(SUM(v) AS REAL) AS rev_final,
           SUM(CASE WHEN known_date <= month_end + 7
                    THEN 1 ELSE 0 END)::BIGINT AS n_known_7d,
           CAST(SUM(CASE WHEN known_date <= month_end + 7
                         THEN v ELSE 0 END) AS REAL) AS rev_7d,
           SUM(CASE WHEN known_date <= month_end + 30
                    THEN 1 ELSE 0 END)::BIGINT AS n_known_30d,
           CAST(SUM(CASE WHEN known_date <= month_end + 30
                         THEN v ELSE 0 END) AS REAL) AS rev_30d,
           CAST(SUM(CASE WHEN known_date <= month_end + 7
                         THEN v ELSE 0 END) / SUM(v) AS REAL)
               AS completeness_7d
    FROM keyed
    GROUP BY month
    ORDER BY month
    """,
    tags=("bitemporal", "late-data", "restatement", "warehouse",
          "reporting"),
)
def late_data_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-data restatement curve — per order month, the
    revenue a report closed 7 and 30 days after month-end would have
    shown vs the final restated truth (arrival lag planted as a
    deterministic 0-29-day hash of the order key: the synthetic table
    records no ingestion time, the `watermark_delay_design`
    convention).  This is the BITEMPORAL question every finance /
    metrics warehouse answers — "what did we know when we published?"
    — and the measurement that sets a close calendar: completeness_7d
    tells you how wrong the fast close is, and the 7d→30d delta
    whether waiting helps.

    Determinism: arrival lag, month-end cutoffs, and all known/not
    flags are pure integer DATE arithmetic; only the revenue sums are
    floats (float32 emitted).  Scale shape: ONE conditional aggregate
    over the corpus — the as-of flags are CASE columns, not
    per-snapshot scans."""
    from axolotls_spark.operators.dedup import token_hash

    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_totalprice").alias("v"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (token_hash(F.col("o_orderkey").cast("string")) % 30).cast(
                "int"
            ),
        ).alias("known_date"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
    )
    k7 = F.col("known_date") <= F.date_add(F.col("month_end"), 7)
    k30 = F.col("known_date") <= F.date_add(F.col("month_end"), 30)
    return (
        keyed.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_final"),
            F.sum("v").cast("float").alias("rev_final"),
            F.sum(k7.cast("int")).cast("long").alias("n_known_7d"),
            F.sum(F.when(k7, F.col("v")).otherwise(0.0))
            .cast("float")
            .alias("rev_7d"),
            F.sum(k30.cast("int")).cast("long").alias("n_known_30d"),
            F.sum(F.when(k30, F.col("v")).otherwise(0.0))
            .cast("float")
            .alias("rev_30d"),
            (
                F.sum(F.when(k7, F.col("v")).otherwise(0.0))
                / F.sum("v")
            )
            .cast("float")
            .alias("completeness_7d"),
        )
        .orderBy("month")
    )
