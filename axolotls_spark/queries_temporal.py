"""Temporal + semi-structured operators — date functions, batch time
windows (tumbling / sliding / session), JSON extraction.

The reference's type system explicitly excludes all date/time types
(``dtypes.py:92``: "no float16, and all date and time stuff"); these
are SURVEY §2B extensions on the ``events``/``orders`` tables. Batch
time windows here mirror Structured Streaming's window semantics
(same ``F.window``/``F.session_window`` operators), so the streaming
upgrade in axolotls_spark.streaming shares this logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.cacheutil import materialize
from axolotls_spark.io.sources import load_table
from axolotls_spark.registry import register


@register(
    "date_parts_orders",
    oracle="""
    SELECT
        o_orderkey,
        EXTRACT(YEAR FROM o_orderdate)::INT  AS o_year,
        EXTRACT(MONTH FROM o_orderdate)::INT AS o_month,
        CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
        DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
            AS days_to_1998
    FROM orders
    """,
    tags=("date", "extract", "date_trunc"),
)
def date_parts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month_start"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_1998"
        ),
    )


@register(
    "agg_monthly_revenue",
    oracle="""
    SELECT
        CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
        COUNT(*)          AS n_orders,
        SUM(o_totalprice) AS revenue
    FROM orders
    GROUP BY 1
    """,
    tags=("date", "agg", "time-series"),
)
def agg_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("month_start"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("revenue"),
        )
    )


@register(
    "window_tumbling_hourly",
    oracle="""
    SELECT
        CAST(TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS VARCHAR)
            AS window_start,
        event_type,
        COUNT(*)   AS n_events,
        SUM(value) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("time-window", "tumbling", "agg"),
)
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window — identical operator to the streaming
    path (Structured Streaming groupBy window on an event-time
    column + watermark). Window start is emitted as a string to be
    timezone-representation-proof across engines."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "window_sliding_30m",
    oracle="""
    WITH slides AS (
        SELECT UNNEST(GENERATE_SERIES(0, 1)) AS k
    )
    SELECT
        CAST(TIME_BUCKET(INTERVAL '30 minutes',
                         CAST(ts AS TIMESTAMP) - k * INTERVAL '30 minutes')
             AS VARCHAR) AS window_start,
        COUNT(*) AS n_events
    FROM events, slides
    GROUP BY 1
    """,
    tags=("time-window", "sliding", "agg"),
)
def window_sliding_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 h length, 30 min slide — each event lands in
    2 windows. Spark's F.window(slideDuration) expands rows exactly
    like the oracle's generate_series trick."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT
        event_type,
        COUNT(*)                                        AS n,
        AVG(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS avg_k,
        MAX(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "string", "agg"),
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from ``events.props``. Spark side uses
    the native JSON path operator (get_json_object); the oracle uses
    a regex so it cannot depend on DuckDB's JSON extension being
    loadable. Both yield the integer field ``k``."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(k).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "json_schema_inference",
    oracle="""
    SELECT
        event_id,
        CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k
    FROM events
    WHERE CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) > 90
    """,
    tags=("json", "from_json", "filter"),
)
def json_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing via from_json with a declared schema —
    the scalable path (one parse, typed access, filter pushes into
    the scan's non-JSON columns)."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT")
    return (
        e.select("event_id", parsed.getField("k").alias("k"))
        .filter(F.col("k") > 90)
    )


@register(
    "sessionize_events_batch",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM ordered
    )
    SELECT user_id, CAST(session_seq AS BIGINT)      AS session_seq,
           COUNT(*)                                  AS n_events,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S')    AS session_start,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S')    AS session_end,
           CAST(SUM(value) AS REAL)                  AS total_value
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    tags=("sessionization", "gaps-and-islands", "window", "agg"),
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts
    after a >30-minute silence per user. lag → boundary flag →
    running sum = session id, then one aggregate per session.

    All three windows + the final groupBy share the user_id hash
    partitioning, so the whole pipeline is ONE shuffle regardless of
    scale — the per-user ordering happens inside each partition.
    This is the batch twin of streaming_sessionization
    (F.session_window); identical session boundaries, checked against
    the SQL gaps-and-islands form DuckDB runs. Ties on ts break by
    event_id so both engines see identical orderings.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Interval arithmetic (not epoch casts): ts is TIMESTAMP_NTZ,
    # which has no direct numeric cast but full interval support.
    boundary = (
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTE"))
    ).cast("int")
    return (
        e.withColumn("new_sess", boundary)
        .withColumn(
            "session_seq",
            F.sum("new_sess")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.sum("value").cast("float").alias("total_value"),
        )
    )


@register(
    "timeseries_gap_fill",
    oracle="""
    WITH bounds AS (
        SELECT CAST(DATE_TRUNC('day', MIN(o_orderdate)) AS DATE) AS d0,
               CAST(DATE_TRUNC('day', MAX(o_orderdate)) AS DATE) AS d1
        FROM orders
    ),
    spine AS (
        SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS day,
               COUNT(*) AS n_orders, SUM(o_totalprice) AS revenue
        FROM orders
        GROUP BY 1
    )
    SELECT s.day,
           COALESCE(d.n_orders, 0)   AS n_orders,
           COALESCE(d.revenue, 0.0)  AS revenue
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
    tags=("time-series", "gap-fill", "sequence", "explode", "outer-join"),
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: build a dense daily spine with
    F.sequence(min_day, max_day) → explode, left-join the actual
    daily aggregate onto it, and zero-fill the holes — the standard
    time-series densification every downstream model/chart needs.

    Scale shape: the spine is tiny (one row per calendar day — a few
    thousand rows even for decades), so it stays a broadcast no
    matter how large `orders` grows; the only wide edge is the daily
    aggregate itself. The spine side is exploded from a single row —
    never a driver loop."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("revenue"),
    )
    spine = (
        o.agg(
            F.to_date(F.date_trunc("day", F.min("o_orderdate"))).alias("d0"),
            F.to_date(F.date_trunc("day", F.max("o_orderdate"))).alias("d1"),
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


@register(
    "mom_revenue_growth",
    oracle="""
    WITH monthly AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
               SUM(o_totalprice) AS revenue
        FROM orders
        GROUP BY 1
    )
    SELECT month_start, revenue,
           LAG(revenue) OVER (ORDER BY month_start) AS prev_revenue,
           ROUND(100.0 * (revenue - LAG(revenue) OVER (ORDER BY month_start))
                 / LAG(revenue) OVER (ORDER BY month_start), 6) AS mom_pct
    FROM monthly
    """,
    tags=("time-series", "window", "lag", "analytic"),
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — lag over an UNPARTITIONED
    window, which funnels rows through one partition and is normally
    a 100 TB anti-pattern; here it is safe *by construction* because
    the windowed input is the monthly aggregate (one row per month,
    bounded by the calendar, not by data volume). The docstrings of
    sessionize_events_batch / q11 show the partitioned alternatives
    when the input does scale with data."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month_start")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month_start")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month_start",
        "revenue",
        prev.alias("prev_revenue"),
        F.round(100.0 * (F.col("revenue") - prev) / prev, 6).alias("mom_pct"),
    )


@register(
    "date_interval_arithmetic",
    oracle="""
    SELECT o_orderkey,
           quarter(o_orderdate)::INT                          AS q,
           weekofyear(o_orderdate)::INT                       AS iso_week,
           isodow(o_orderdate)::INT                           AS iso_dow,
           (o_orderdate + INTERVAL 90 DAY)::DATE              AS ship_deadline,
           last_day(o_orderdate + INTERVAL 1 MONTH)           AS next_month_end,
           (o_orderdate + INTERVAL 1 YEAR)::DATE              AS anniversary,
           (o_orderdate + CASE WHEN (8 - isodow(o_orderdate)) % 7 = 0
                               THEN INTERVAL 7 DAY
                               ELSE to_days(((8 - isodow(o_orderdate)) % 7)::INT)
                          END)::DATE                          AS next_monday,
           datediff('day', o_orderdate, DATE '1998-12-01')::INT AS days_to_ref
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
    tags=("temporal", "interval-arithmetic", "date-functions", "map-only"),
)
def date_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar/interval arithmetic closure: quarter, ISO week, ISO
    day-of-week, day/month/year interval shifts, month-end, next
    weekday, day difference to an epoch. Pins the engines' calendar
    semantics against each other (ISO week/dow are the classic
    divergence points — Spark's weekofyear and DuckDB's weekofyear
    are both ISO-8601; Spark's dayofweek is Sunday=1, so the ISO
    form uses a shifted expression). Map-only: pushdown-eligible
    modulo filter, zero shuffles."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    d = F.col("o_orderdate")
    iso_dow = ((F.dayofweek(d) + 5) % 7 + 1).cast("int")
    off = (8 - iso_dow) % 7
    return o.select(
        "o_orderkey",
        F.quarter(d).alias("q"),
        F.weekofyear(d).alias("iso_week"),
        iso_dow.alias("iso_dow"),
        F.date_add(d, 90).alias("ship_deadline"),
        F.last_day(F.add_months(d, 1)).alias("next_month_end"),
        F.add_months(d, 12).alias("anniversary"),
        F.date_add(d, F.when(off == 0, 7).otherwise(off)).alias(
            "next_monday"
        ),
        F.datediff(F.lit("1998-12-01").cast("date"), d).alias("days_to_ref"),
    )


@register(
    "variant_shred_props",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           COUNT(*)  AS n,
           SUM(value) AS total_value
    FROM events
    GROUP BY k_bucket
    """,
    tags=("variant", "semi-structured", "json", "agg"),
)
def variant_shred_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via the VARIANT type (Spark 4):
    ``parse_json`` shreds ``events.props`` into a binary variant at
    scan time, ``variant_get`` extracts typed paths with no
    per-query string re-parsing — the open-table-format pattern for
    JSON at 100 TB (parse once, store variant, path-extract at
    column speed). Oracle extracts the same path with DuckDB's JSON
    functions; both group on a derived bucket so the result is a
    small aggregate."""
    e = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.select(k.alias("k_val"), "value")
        .groupBy(F.floor(F.col("k_val") / 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )


_RECURSIVE_SPINE_SQL = """
    WITH RECURSIVE months(m) AS (
        SELECT DATE '1992-01-01' AS m
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < DATE '1998-12-01'
    ),
    rev AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m,
               COUNT(*) AS n_orders,
               SUM(o_totalprice) AS revenue
        FROM {orders} GROUP BY 1
    )
    SELECT months.m AS month_start,
           COALESCE(rev.n_orders, 0) AS n_orders,
           COALESCE(rev.revenue, 0.0) AS revenue
    FROM months LEFT JOIN rev ON months.m = rev.m
"""


@register(
    "recursive_month_spine",
    oracle=_RECURSIVE_SPINE_SQL.format(orders="orders"),
    tags=("recursive-cte", "sql-surface", "calendar-spine", "gap-fill"),
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 SQL surface): generate the 1992–1998
    month spine recursively and left-join monthly order revenue onto
    it — zero-filled calendar gap-fill, with the IDENTICAL SQL text
    running on both engines.

    Scale note: recursion executes sequentially (one step per month,
    84 steps) — correct for calendar spines, whose size is calendar-
    bounded, never data-bounded. Data-sized series use sequence()/
    explode (timeseries_gap_fill); graph closure over cyclic data
    needs the iterative AQE loop (dedup_groups) since recursive
    UNION-dedup is not yet in Spark."""
    return spark.sql(
        _RECURSIVE_SPINE_SQL, orders=load_table(spark, sf_dir, "orders")
    )


@register(
    "timeseries_interpolate_linear",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT)
                   AS hr,
               value
        FROM events
    ),
    bounds AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM ev),
    spine AS (
        SELECT UNNEST(generate_series(h0, h1)) AS hr FROM bounds
    ),
    grid AS (
        SELECT t.event_type, s.hr
        FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN spine s
    ),
    hourly AS (
        SELECT event_type, hr, AVG(value) AS val
        FROM ev GROUP BY 1, 2
    ),
    joined AS (
        SELECT g.event_type, g.hr, h.val FROM grid g
        LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hr = h.hr
    ),
    w AS (
        SELECT event_type, hr, val,
            last_value(val IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY hr
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS prev_val,
            last_value(CASE WHEN val IS NOT NULL THEN hr END IGNORE NULLS)
                OVER (
                PARTITION BY event_type ORDER BY hr
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS prev_hr,
            first_value(val IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY hr
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
            ) AS next_val,
            first_value(CASE WHEN val IS NOT NULL THEN hr END IGNORE NULLS)
                OVER (
                PARTITION BY event_type ORDER BY hr
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
            ) AS next_hr
        FROM joined
    )
    SELECT event_type, hr, (val IS NULL) AS was_gap,
        CASE
            WHEN val IS NOT NULL THEN val
            WHEN prev_val IS NULL THEN next_val
            WHEN next_val IS NULL THEN prev_val
            ELSE prev_val + (next_val - prev_val) * (hr - prev_hr)
                 / (next_hr - prev_hr)
        END AS value_filled
    FROM w
    """,
    tags=("time-series", "interpolation", "window", "ignore-nulls", "spine"),
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing hourly averages per event
    type: densify onto an hour spine, then fill each gap from its
    nearest known neighbors weighted by distance (edges carry the
    single available neighbor) — the upsample/align primitive for
    sensor/metric pipelines.

    Scale shape: the spine is one row per hour (tiny at any horizon)
    crossed with the type dimension — broadcast against the hourly
    aggregate. The neighbor search is two IGNORE-NULLS running
    windows (forward + backward) over the dense grid, partitioned by
    type: one shuffle of spine-sized (not corpus-sized) data; the
    corpus itself is touched once by the hourly aggregate. No
    per-gap joins, no Python.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"),
        "value",
    )
    hourly = ev.groupBy("event_type", "hr").agg(F.avg("value").alias("val"))
    spine = ev.agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    ).select(F.explode(F.sequence("h0", "h1")).alias("hr"))
    grid = ev.select("event_type").distinct().crossJoin(F.broadcast(spine))
    joined = grid.join(hourly, ["event_type", "hr"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_hr = F.when(F.col("val").isNotNull(), F.col("hr"))
    w = joined.select(
        "event_type",
        "hr",
        "val",
        F.last("val", ignorenulls=True).over(wb).alias("prev_val"),
        F.last(known_hr, ignorenulls=True).over(wb).alias("prev_hr"),
        F.first("val", ignorenulls=True).over(wf).alias("next_val"),
        F.first(known_hr, ignorenulls=True).over(wf).alias("next_hr"),
    )
    filled = (
        F.when(F.col("val").isNotNull(), F.col("val"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val"))
            * (F.col("hr") - F.col("prev_hr"))
            / (F.col("next_hr") - F.col("prev_hr"))
        )
    )
    return w.select(
        "event_type",
        "hr",
        F.col("val").isNull().alias("was_gap"),
        filled.alias("value_filled"),
    )


@register(
    "activity_heatmap_dow_hour",
    oracle="""
    SELECT CAST(EXTRACT(ISODOW FROM CAST(ts AS TIMESTAMP)) AS INT) AS dow,
           CAST(EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS INT)   AS hour,
           COUNT(*)   AS n_events,
           SUM(value) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("heatmap", "date", "reporting", "agg"),
)
def activity_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (ISO dow: Monday=1) —
    the usage-pattern grid every ops dashboard opens with; one
    aggregate, 168 output cells regardless of corpus size."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek(F.date_sub("ts", 1)).alias("dow"),  # ISO: Mon=1
        F.hour("ts").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Classical time-series decomposition + changepoint detection
# ---------------------------------------------------------------------------


@register(
    "seasonal_decompose_weekly",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ),
    t AS (
        SELECT day, rev,
               AVG(rev)  OVER w7 AS trend,
               COUNT(*)  OVER w7 AS win_n
        FROM daily
        WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT CAST(EXTRACT(ISODOW FROM day) AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(AVG(rev / trend) AS REAL) AS seasonal_index
    FROM t
    WHERE win_n = 7
    GROUP BY 1
    """,
    tags=("timeseries", "seasonality", "decomposition", "window", "moving-avg"),
)
def seasonal_decompose_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative decomposition of the daily revenue
    series: trend = centered 7-day moving average, weekly seasonal
    index = mean(observed / trend) per ISO day-of-week — "how much
    does a Monday run above or below trend?". Edge days without a
    full 7-day window are excluded so the index is unbiased.

    Scale shape: the only corpus-sized work is the groupBy(day)
    aggregate; the moving-average window runs over the
    calendar-bounded daily relation (~2.4k rows for 7 years), so the
    unpartitioned ordering is immaterial. Per-entity decomposition
    partitions the same windows by the entity key.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "rev",
        F.avg("rev").over(w7).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("win_n"),
    )
    return (
        t.filter(F.col("win_n") == 7)
        .groupBy(F.dayofweek(F.date_sub("day", 1)).alias("dow"))  # ISO Mon=1
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.avg(F.col("rev") / F.col("trend")).cast("float")
            .alias("seasonal_index"),
        )
    )


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ),
    mu AS (SELECT AVG(rev) AS mu, COUNT(*) AS n_days FROM daily),
    c AS (
        SELECT day,
               SUM(rev - mu) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS cusum,
               n_days
        FROM daily CROSS JOIN mu
    ),
    r AS (
        SELECT day, cusum, n_days,
               ROW_NUMBER() OVER (ORDER BY abs(cusum) DESC, day) AS rk
        FROM c
    )
    SELECT day AS changepoint_day,
           CAST(abs(cusum) AS REAL) AS max_abs_cusum,
           CAST(n_days AS BIGINT) AS n_days
    FROM r WHERE rk = 1
    """,
    tags=("timeseries", "changepoint", "cusum", "window", "anomaly"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily revenue: the running sum
    of deviations from the global mean peaks (in absolute value) at
    the most likely single level-shift point — the standard offline
    CUSUM estimator, entirely relational.

    Scale shape: one corpus aggregate to the daily series, a 1-row
    broadcast mean, then prefix-sum + argmax over the
    calendar-bounded relation. Nothing sequential ever touches the
    fact table.
    """
    # daily feeds both the global mean and the prefix-sum window —
    # persist the calendar-bounded relation so the corpus aggregate
    # runs once (one parquet scan in the whole plan).
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .persist()
    )
    mu = daily.agg(
        F.avg("rev").alias("mu"), F.count(F.lit(1)).alias("n_days")
    )
    c = daily.crossJoin(F.broadcast(mu)).select(
        "day",
        F.sum(F.col("rev") - F.col("mu"))
        .over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cusum"),
        "n_days",
    )
    r = c.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc(F.abs(F.col("cusum"))), "day")),
    )
    return r.filter(F.col("rk") == 1).select(
        F.col("day").alias("changepoint_day"),
        F.abs(F.col("cusum")).cast("float").alias("max_abs_cusum"),
        F.col("n_days").cast("long").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Rolling-OLS linear forecast
# ---------------------------------------------------------------------------

_FC_WIN = 28  # fit window (days)
_FC_H = 7     # forecast horizon (days)

# Closed-form simple regression over the last _FC_WIN points — the
# same scalar text runs as Spark F.expr and in the DuckDB oracle.
_FC_B = "((n*sty - st*sy) / (n*stt - st*st))"
_FC_A = f"((sy - {_FC_B}*st) / n)"


@register(
    "forecast_linear_28d",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT day, rev,
               ROW_NUMBER() OVER (ORDER BY day) AS t,
               COUNT(*) OVER () AS nd,
               MAX(day) OVER () AS last_day
        FROM daily
    ),
    fit AS (
        SELECT COUNT(*)::DOUBLE AS n,
               SUM(t::DOUBLE) AS st, SUM(t::DOUBLE * t::DOUBLE) AS stt,
               SUM(rev) AS sy, SUM(t::DOUBLE * rev) AS sty,
               MIN(nd) AS nd, MIN(last_day) AS last_day
        FROM idx WHERE t > nd - {_FC_WIN}
    )
    SELECT CAST(h.h AS BIGINT) AS horizon,
           last_day + CAST(h.h AS INT) AS forecast_day,
           CAST({_FC_A} + {_FC_B} * (nd + h.h) AS REAL) AS forecast_rev
    FROM fit CROSS JOIN UNNEST(range(1, {_FC_H} + 1)) AS h(h)
    """,
    tags=("forecast", "timeseries", "ols", "shared-algebra", "window"),
)
def forecast_linear_28d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window linear forecast: fit revenue ~ a + b·t by
    closed-form OLS over the last 28 days, extrapolate 7 days out —
    the capacity-planning baseline forecast, with the same Cramer
    scalar text on both engines (ols_normal_equations' 1-D sibling).

    Scale shape: one corpus aggregate to the calendar-bounded daily
    relation; the index window, the 28-day fit sums and the 7-row
    horizon expansion all act on that tiny relation. The persisted
    daily aggregate feeds both the window and nothing else recomputes
    the corpus.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("day")
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    idx = daily.select(
        "day",
        "rev",
        F.row_number().over(w).alias("t"),
        F.count(F.lit(1)).over(wall).alias("nd"),
        F.max("day").over(wall).alias("last_day"),
    )
    t = F.col("t").cast("double")
    fit = idx.filter(F.col("t") > F.col("nd") - _FC_WIN).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(t).alias("st"),
        F.sum(t * t).alias("stt"),
        F.sum("rev").alias("sy"),
        F.sum(t * F.col("rev")).alias("sty"),
        F.min("nd").alias("nd"),
        F.min("last_day").alias("last_day"),
    )
    hs = F.explode(F.sequence(F.lit(1), F.lit(_FC_H))).alias("h")
    return fit.select("*", hs).select(
        F.col("h").cast("long").alias("horizon"),
        F.date_add(F.col("last_day"), F.col("h")).alias("forecast_day"),
        (
            F.expr(_FC_A) + F.expr(_FC_B) * (F.col("nd") + F.col("h"))
        ).cast("float").alias("forecast_rev"),
    )


# ---------------------------------------------------------------------------
# Robust nonparametric trend: Mann–Kendall test + Theil–Sen slope
# ---------------------------------------------------------------------------


@register(
    "trend_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN b.rev > a.rev THEN 1
                    WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn,
               (b.rev - a.rev) / date_diff('day', a.day, b.day) AS slope
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    nd AS (SELECT COUNT(*)::DOUBLE AS n FROM daily),
    agg AS (
        SELECT SUM(sgn) AS s, MEDIAN(slope) AS sen
        FROM pairs
    )
    SELECT CAST(nd.n AS BIGINT) AS n_days,
           CAST(agg.s AS BIGINT) AS s_stat,
           CAST(CASE
                WHEN agg.s > 0 THEN (agg.s - 1)
                    / SQRT(nd.n * (nd.n - 1) * (2 * nd.n + 5) / 18)
                WHEN agg.s < 0 THEN (agg.s + 1)
                    / SQRT(nd.n * (nd.n - 1) * (2 * nd.n + 5) / 18)
                ELSE 0.0 END AS REAL) AS mk_z,
           CAST(agg.sen AS REAL) AS sen_slope
    FROM agg CROSS JOIN nd
    """,
    tags=("timeseries", "mann-kendall", "theil-sen", "robust", "trend"),
)
def trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust nonparametric trend on daily revenue: the Mann–Kendall
    S statistic (sum of pairwise sign comparisons — detects monotone
    trend without assuming linearity or normality) with its
    continuity-corrected z-score, plus the Theil–Sen slope (median of
    all pairwise slopes — up to ~29% contaminated observations can't
    move it, unlike OLS where one outlier day owns the fit). The
    outlier-proof complement to forecast_linear_28d's least-squares
    trend. Continuous revenue sums make sign ties measure-zero, so
    the no-ties variance n(n−1)(2n+5)/18 applies.

    Scale shape: the corpus collapses to the per-day aggregate first
    (day-domain relation, calendar-bounded, materialized once for the
    four independent subtrees it feeds); the pairwise self-join, sign sum and pair-median all run on that
    bounded relation — the O(d²) pair space never touches corpus-sized
    data. At 100 TB the only corpus work is the one grouped scan. The
    pair-median itself is distributed: Spark's exact ``percentile``
    funnels every pair into one count-map reducer (13 s on 2.9 M
    pairs), so the Sen slope is instead the mean of the
    rank-⌈m/2⌉/⌈(m+1)/2⌉ order statistics under
    operators/prefix.order_statistic_values (range partitions +
    broadcast count offsets; only the partition holding a target rank
    is ever sorted, and only the slope column is shuffled — the rank-k
    VALUE of a multiset needs no tie-break columns) with the pair
    count m = d(d−1)/2 derived from the day count — no single-task
    sort anywhere.  The pair stream is NOT cached: regenerating the
    broadcast nested-loop join from the materialized day relation is
    cheaper than serializing 2.9 M pair rows into the columnar cache,
    and each consumer projects only the column it needs before the
    pairs are materialized (r8 §2.3/§5).
    """
    from axolotls_spark.operators.prefix import order_statistic_values

    daily = materialize(
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .coalesce(1)  # calendar-bounded
    )
    # The materialized day relation is byte-tiny (one partition), so
    # the nested-loop pair generation STREAMED it on a single task —
    # measured 7.7 s (6.8 cpu_s) for the 2.9 M slope/sign rows while
    # 31 cores idled.  Spreading the stream side
    # keeps the O(d²) expansion parallel; the broadcast side is the
    # same bounded day relation.
    a = daily.repartition(
        spark.sparkContext.defaultParallelism
    ).select(F.col("day").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("day").alias("d2"), F.col("rev").alias("r2"))
    pairs = a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
    slopes = pairs.select(
        (
            (F.col("r2") - F.col("r1"))
            / F.datediff(F.col("d2"), F.col("d1"))
        ).alias("slope")
    )
    sgns = pairs.select(
        F.when(F.col("r2") > F.col("r1"), 1)
        .when(F.col("r2") < F.col("r1"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    nd = daily.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # Median targets from the closed-form pair count m = d(d-1)/2:
    # 1-indexed ranks (m+1) div 2 and (m+2) div 2 (equal when m odd);
    # interpolated median == their mean, matching MEDIAN()/percentile.
    targets = nd.select(
        F.expr("CAST(n * (n - 1) / 2 AS BIGINT)").alias("m")
    ).select(
        F.explode(
            F.array(
                (F.col("m") + 1) / F.lit(2),
                (F.col("m") + 2) / F.lit(2),
            ).cast("array<bigint>")
        ).alias("target_rn")
    )
    sen = order_statistic_values(slopes, "slope", targets).agg(
        F.avg("value").alias("sen")
    )
    agg = sgns.agg(F.sum("sgn").alias("s")).crossJoin(F.broadcast(sen))
    var = F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18
    return agg.crossJoin(F.broadcast(nd)).select(
        F.col("n").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("s_stat"),
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var))
        .otherwise(0.0)
        .cast("float")
        .alias("mk_z"),
        F.col("sen").cast("float").alias("sen_slope"),
    )


# ---------------------------------------------------------------------------
# Poisson burst detection on hourly event counts
# ---------------------------------------------------------------------------


@register(
    "burst_detection_hourly",
    oracle="""
    WITH h AS (
        SELECT event_type,
               CAST(TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                    AS VARCHAR) AS hour_start,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type, AVG(CAST(n AS DOUBLE)) AS mu FROM h GROUP BY 1
    )
    SELECT h.event_type, hour_start, CAST(n AS BIGINT) AS n,
           CAST(mu AS REAL) AS expected,
           CAST((n - mu) / sqrt(mu) AS REAL) AS surprise
    FROM h JOIN base USING (event_type)
    WHERE n > mu + 3 * sqrt(mu)
    """,
    tags=("burst", "anomaly", "poisson", "time-bucket", "monitoring"),
)
def burst_detection_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection on hourly event counts: under a Poisson
    baseline (variance = mean), an hour is a burst when its count
    exceeds μ + 3√μ — the count-data complement of the value-based
    z-score/MAD detectors. Baseline μ is each type's mean over its
    OBSERVED hours (a dense spine would shrink μ toward zero for
    sparse types; choose per deployment).

    Scale shape: corpus → hourly count relation in one
    map-side-combined aggregate; the per-type baseline is a tiny
    second aggregate broadcast back; flagging is map-only.
    """
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
    ).agg(F.count(F.lit(1)).alias("n")).persist()
    base = h.groupBy("event_type").agg(
        F.avg(F.col("n").cast("double")).alias("mu")
    )
    return (
        h.join(F.broadcast(base), "event_type")
        .filter(F.col("n") > F.col("mu") + 3 * F.sqrt("mu"))
        .select(
            "event_type",
            "hour_start",
            F.col("n").cast("long").alias("n"),
            F.col("mu").cast("float").alias("expected"),
            ((F.col("n") - F.col("mu")) / F.sqrt("mu"))
            .cast("float")
            .alias("surprise"),
        )
    )


# ---------------------------------------------------------------------------
# Split-conformal forecast intervals
# ---------------------------------------------------------------------------

_CF_CAL = 14   # calibration days (between train end and test start)
_CF_TEST = 7   # held-out test days
#: split-conformal quantile index: ceil((n_cal + 1) * (1 - alpha))
#: with alpha = 0.2 -> the 12th smallest of 14 absolute residuals.
_CF_K = 12


@register(
    "forecast_conformal_interval",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT day, rev,
               ROW_NUMBER() OVER (ORDER BY day) AS t,
               COUNT(*) OVER () AS nd
        FROM daily
    ),
    fit AS (
        SELECT COUNT(*)::DOUBLE AS n,
               SUM(t::DOUBLE) AS st, SUM(t::DOUBLE * t::DOUBLE) AS stt,
               SUM(rev) AS sy, SUM(t::DOUBLE * rev) AS sty
        FROM idx WHERE t <= nd - {_CF_CAL + _CF_TEST}
    ),
    cal AS (
        SELECT ABS(rev - ({_FC_A} + {_FC_B} * t)) AS res
        FROM idx CROSS JOIN fit
        WHERE t > nd - {_CF_CAL + _CF_TEST} AND t <= nd - {_CF_TEST}
    ),
    q AS (
        SELECT res AS qhat FROM (
            SELECT res, ROW_NUMBER() OVER (ORDER BY res) AS rn FROM cal
        ) WHERE rn = {_CF_K}
    )
    SELECT t - (nd - {_CF_TEST}) AS horizon, day,
           CAST(rev AS REAL) AS actual_rev,
           CAST({_FC_A} + {_FC_B} * t AS REAL) AS forecast_rev,
           CAST({_FC_A} + {_FC_B} * t - qhat AS REAL) AS lo,
           CAST({_FC_A} + {_FC_B} * t + qhat AS REAL) AS hi,
           rev BETWEEN {_FC_A} + {_FC_B} * t - qhat
                   AND {_FC_A} + {_FC_B} * t + qhat AS covered
    FROM idx CROSS JOIN fit CROSS JOIN q
    WHERE t > nd - {_CF_TEST}
    """,
    tags=("forecast", "conformal", "uncertainty", "timeseries",
          "calibration"),
)
def forecast_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals for the linear revenue
    forecast (Vovk et al. / the distribution-free conformal recipe):
    fit OLS on everything before the last 14+7 days, take
    the ceil((n+1)(1-alpha))-th smallest absolute residual on the
    14-day calibration slice as qhat (alpha = 0.2), and report
    [forecast - qhat, forecast + qhat] for the 7 held-out days with
    the realized coverage flag — finite-sample 80% coverage with NO
    distributional assumptions, the honest uncertainty head a
    forecast pipeline ships with.

    Scale shape: the corpus collapses to one per-day aggregate;
    fit/calibration/quantile/test are all windows and aggregates
    over the day-domain relation (bounded by the date range, the
    same allowlisted regime as forecast_linear_28d). One 1-row fit
    relation and one 1-row qhat relation broadcast back."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    wd = Window.orderBy("day")
    idx = daily.select(
        "day",
        "rev",
        F.row_number().over(wd).alias("t"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nd"),
    )
    td = F.col("t").cast("double")
    fit = idx.filter(
        F.col("t") <= F.col("nd") - (_CF_CAL + _CF_TEST)
    ).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(td).alias("st"),
        F.sum(td * td).alias("stt"),
        F.sum("rev").alias("sy"),
        F.sum(td * F.col("rev")).alias("sty"),
    )
    b = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    a = (F.col("sy") - b * F.col("st")) / F.col("n")
    yhat = a + b * F.col("t")
    cal = (
        idx.crossJoin(F.broadcast(fit))
        .filter(
            (F.col("t") > F.col("nd") - (_CF_CAL + _CF_TEST))
            & (F.col("t") <= F.col("nd") - _CF_TEST)
        )
        .select(F.abs(F.col("rev") - yhat).alias("res"))
    )
    q = (
        cal.withColumn(
            "rn", F.row_number().over(Window.orderBy("res"))
        )
        .filter(F.col("rn") == _CF_K)
        .select(F.col("res").alias("qhat"))
    )
    return (
        idx.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(q))
        .filter(F.col("t") > F.col("nd") - _CF_TEST)
        .select(
            (F.col("t") - (F.col("nd") - _CF_TEST)).alias("horizon"),
            "day",
            F.col("rev").cast("float").alias("actual_rev"),
            yhat.cast("float").alias("forecast_rev"),
            (yhat - F.col("qhat")).cast("float").alias("lo"),
            (yhat + F.col("qhat")).cast("float").alias("hi"),
            F.col("rev").between(
                yhat - F.col("qhat"), yhat + F.col("qhat")
            ).alias("covered"),
        )
    )


# ---------------------------------------------------------------------------
# Journey sequence-pattern matching (MATCH_RECOGNIZE-style)
# ---------------------------------------------------------------------------

#: Event-type initials for the journey string.
_SEQ_INITS = (("click", "c"), ("error", "e"), ("purchase", "p"),
              ("signup", "s"), ("view", "v"))

#: Named patterns over the per-user journey string (RE2-safe syntax
#: so Spark's Java regex and DuckDB's RE2 agree).
_SEQ_PATTERNS = (
    ("view_then_purchase", "v[a-z]*p"),
    ("error_before_purchase", "e[^p]*p"),
    ("signup_first", "^s"),
    ("never_purchased", "^[^p]*$"),
    ("purchase_retention", "p[a-z]*p"),
)

_SEQ_INITS_SQL = ", ".join(f"('{t}', '{i}')" for t, i in _SEQ_INITS)
_SEQ_PATS_SQL = ", ".join(f"('{n}', '{p}')" for n, p in _SEQ_PATTERNS)


@register(
    "session_pattern_match",
    oracle=f"""
    WITH inits(event_type, init) AS (VALUES {_SEQ_INITS_SQL}),
    seqs AS (
        SELECT e.user_id,
               string_agg(i.init, '' ORDER BY e.ts, e.event_id) AS seq
        FROM events e JOIN inits i USING (event_type)
        GROUP BY e.user_id
    ),
    pats(pattern_name, pat) AS (VALUES {_SEQ_PATS_SQL}),
    tot AS (SELECT COUNT(*) AS n_users FROM seqs)
    SELECT p.pattern_name,
           CAST(COUNT(*) FILTER (WHERE regexp_matches(s.seq, p.pat))
                AS BIGINT) AS n_matching,
           CAST(tot.n_users AS BIGINT) AS n_users,
           ROUND(COUNT(*) FILTER (WHERE regexp_matches(s.seq, p.pat))
                 / CAST(tot.n_users AS DOUBLE), 6) AS frac
    FROM seqs s CROSS JOIN pats p CROSS JOIN tot
    GROUP BY p.pattern_name, tot.n_users
    """,
    tags=("sequence", "pattern-match", "match-recognize", "journey",
          "regex"),
)
def session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence patterns over user journeys:
    each user's event history collapses to an ordered initial string
    (ts then event_id tiebreak — fully deterministic), and a
    broadcast spine of named regexes counts journeys matching each
    behavioral pattern (view→purchase conversion, error-shadowed
    purchases, signup-first onboarding, churn-risk never-purchased,
    repeat-purchase retention) — the sequence-analytics surface
    ANSI MATCH_RECOGNIZE provides that Spark SQL lacks natively.

    Scale shape: ONE shuffle builds the per-user journey string
    (sorted struct collect, map-side combinable); the pattern spine
    is a 5-row broadcast cross join; matching is a JVM regexp over
    the user-domain relation. Patterns use RE2-safe syntax so Java
    regex and DuckDB RE2 agree. Journey strings are bounded by
    per-user event counts — a user with millions of events would
    need the chunked variant (split by session, patterns per
    chunk)."""
    events = load_table(spark, sf_dir, "events")
    inits = spark.createDataFrame(
        list(_SEQ_INITS), "event_type string, init string"
    )
    seqs = (
        events.join(F.broadcast(inits), "event_type")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "init")
                        )
                    ),
                    lambda x: x.getField("init"),
                ),
                "",
            ).alias("seq")
        )
    )
    pats = spark.createDataFrame(
        list(_SEQ_PATTERNS), "pattern_name string, pat string"
    )
    tot = seqs.agg(F.count("*").alias("n_users"))
    hit = F.expr("seq rlike pat")
    return (
        seqs.crossJoin(F.broadcast(pats))
        .crossJoin(F.broadcast(tot))
        .groupBy("pattern_name", "n_users")
        .agg(F.count_if(hit).alias("n_matching"))
        .select(
            "pattern_name",
            F.col("n_matching").cast("long"),
            F.col("n_users").cast("long"),
            F.round(
                F.col("n_matching") / F.col("n_users").cast("double"), 6
            ).alias("frac"),
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation function + Ljung-Box portmanteau on daily revenue
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 14


@register(
    "acf_ljung_box",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ),
    stats AS (
        SELECT COUNT(*)::DOUBLE AS n, AVG(rev) AS mu,
               SUM((rev - (SELECT AVG(rev) FROM daily))
                   * (rev - (SELECT AVG(rev) FROM daily))) AS denom
        FROM daily
    ),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
        SELECT l.lag,
               SUM((a.rev - s.mu) * (b.rev - s.mu)) AS num
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b
          ON date_diff('day', a.day, b.day) = l.lag
        CROSS JOIN stats s
        GROUP BY l.lag
    ),
    acf AS (
        SELECT p.lag, p.num / s.denom AS r, s.n
        FROM pairs p CROSS JOIN stats s
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(r AS REAL) AS acf,
           CAST(n * (n + 2)
                * SUM(r * r / (n - lag))
                  OVER (ORDER BY lag ROWS UNBOUNDED PRECEDING)
                AS REAL) AS ljung_box_q
    FROM acf
    """,
    tags=("timeseries", "acf", "ljung-box", "autocorrelation",
          "diagnostics"),
)
def acf_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue at lags 1–14 plus the
    cumulative Ljung–Box Q statistic — the standard residual/series
    whiteness diagnostic (weekly seasonality shows up as an r₇
    spike; Q(k) = n(n+2)·Σ_{{j≤k}} r_j²/(n−j) grows past the χ²_k
    quantile when the series isn't white noise).  Calendar gaps are
    handled by matching pairs exactly `lag` days apart, with the
    full-series mean/variance as the classical denominator.

    Scale shape: the corpus collapses to the per-day aggregate
    first; lag pairing is a 14× explode of the day-domain relation
    equi-joined back on (day + lag), never a corpus self-join; the
    ACF reduction is one grouped aggregate to 14 rows and the
    Ljung–Box cumsum runs on those 14 rows.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .persist()
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("rev").alias("mu"),
        (
            F.sum(F.col("rev") * F.col("rev"))
            - F.count(F.lit(1)) * F.avg("rev") * F.avg("rev")
        ).alias("denom"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    shifted = (
        daily.crossJoin(F.broadcast(lags))
        .crossJoin(F.broadcast(stats))
        .select(
            "lag",
            F.date_add(F.col("day"), F.col("lag")).alias("day2"),
            (F.col("rev") - F.col("mu")).alias("xa"),
            "mu",
            "denom",
            "n",
        )
    )
    b = daily.select(F.col("day").alias("day2"), F.col("rev").alias("rb"))
    pairs = shifted.join(b, "day2").groupBy("lag").agg(
        (
            F.sum(F.col("xa") * (F.col("rb") - F.col("mu")))
            / F.first("denom")
        ).alias("r"),
        F.first("n").alias("n"),
    )
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return pairs.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("r").cast("float").alias("acf"),
        (
            F.col("n")
            * (F.col("n") + 2)
            * F.sum(
                F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))
            ).over(w)
        )
        .cast("float")
        .alias("ljung_box_q"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily-revenue series
# ---------------------------------------------------------------------------


@register(
    "max_drawdown_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ),
    dd AS (
        SELECT day, rev,
               MAX(rev) OVER (ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS peak
        FROM daily
    )
    SELECT day AS trough_day,
           CAST((peak - rev) / peak AS REAL) AS max_drawdown,
           CAST(peak AS REAL) AS peak_rev,
           CAST(rev AS REAL) AS trough_rev
    FROM dd
    ORDER BY (peak - rev) / peak DESC, day
    LIMIT 1
    """,
    tags=("timeseries", "drawdown", "running-max", "monitoring"),
)
def max_drawdown_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of daily revenue — the worst peak-to-trough
    decline (peak_t − x_t)/peak_t under the running maximum.  The
    risk/monitoring counterpart to cusum_changepoint: CUSUM finds
    where the mean shifted, drawdown reports the deepest slump an
    on-call dashboard would have paged on.

    Scale shape: the corpus collapses to the calendar-bounded daily
    aggregate; the running peak is one ordered window over that
    day-domain relation and the argmax is orderBy+limit(1)
    (TakeOrderedAndProject), never a corpus-sized sort.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        "rev",
        F.max("rev").over(w).alias("peak"),
    ).select(
        "day",
        "rev",
        "peak",
        ((F.col("peak") - F.col("rev")) / F.col("peak")).alias("d"),
    )
    return (
        dd.orderBy(F.desc("d"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("trough_day"),
            F.col("d").cast("float").alias("max_drawdown"),
            F.col("peak").cast("float").alias("peak_rev"),
            F.col("rev").cast("float").alias("trough_rev"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest (naive / seasonal-naive / MA-7)
# ---------------------------------------------------------------------------


@register(
    "forecast_backtest_metrics",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS y
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT day, y,
               LAG(y, 1) OVER (ORDER BY day) AS f_naive,
               LAG(y, 7) OVER (ORDER BY day) AS f_snaive,
               AVG(y) OVER (ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS f_ma7,
               ROW_NUMBER() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    eval_rows AS (SELECT * FROM lagged WHERE rn > 7),
    scale AS (
        SELECT AVG(ABS(y - f_snaive)) AS mae_snaive FROM eval_rows
    ),
    m AS (
        SELECT 'naive' AS method, COUNT(*)::BIGINT AS n_days,
               AVG(ABS(y - f_naive)) AS mae,
               AVG(2.0 * ABS(y - f_naive) / (ABS(y) + ABS(f_naive)))
                   AS smape
        FROM eval_rows
        UNION ALL
        SELECT 'seasonal_naive', COUNT(*)::BIGINT,
               AVG(ABS(y - f_snaive)),
               AVG(2.0 * ABS(y - f_snaive) / (ABS(y) + ABS(f_snaive)))
        FROM eval_rows
        UNION ALL
        SELECT 'moving_avg_7', COUNT(*)::BIGINT,
               AVG(ABS(y - f_ma7)),
               AVG(2.0 * ABS(y - f_ma7) / (ABS(y) + ABS(f_ma7)))
        FROM eval_rows
    )
    SELECT m.method, m.n_days,
           CAST(m.mae AS REAL) AS mae,
           CAST(m.smape AS REAL) AS smape,
           CAST(m.mae / s.mae_snaive AS REAL) AS mase
    FROM m CROSS JOIN scale s
    ORDER BY m.method
    """,
    tags=("forecast", "backtest", "smape", "mase", "timeseries",
          "evaluation"),
)
def forecast_backtest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step backtest of three baseline
    forecasters over daily revenue — the evaluation harness that
    belongs NEXT TO any forecaster (``forecast_linear_28d``,
    ``forecast_conformal_interval``): naive (yesterday),
    seasonal-naive (same weekday last week), and a trailing 7-day
    moving average, scored with MAE, sMAPE, and MASE (Hyndman &
    Koehler 2006 — MAE scaled by the seasonal-naive MAE, so values
    < 1 mean "beats the seasonal baseline").  Every day after the
    first week is a fold: each row's forecast uses only strictly
    earlier days (LAG / trailing frame), which is what makes this a
    genuine out-of-sample backtest rather than a fit statistic.

    Scale shape: identical to ``ewma_daily_revenue`` — the windowed
    relation is the calendar-bounded daily aggregate (~10^3 rows
    regardless of fact volume; the one corpus-sized shuffle is the
    groupBy(day)), then three metric aggregates over it.  Per-SKU /
    per-entity backtests partition the same windows by the entity
    key."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("f_naive"),
        F.lag("y", 7).over(w).alias("f_snaive"),
        F.avg("y").over(w.rowsBetween(-7, -1)).alias("f_ma7"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") > 7)
    scale = lagged.agg(
        F.avg(F.abs(F.col("y") - F.col("f_snaive"))).alias("mae_snaive")
    )

    def metrics(fcol: str, label: str) -> DataFrame:
        err = F.abs(F.col("y") - F.col(fcol))
        return lagged.agg(
            F.lit(label).alias("method"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.avg(err).alias("mae"),
            F.avg(
                2.0 * err / (F.abs(F.col("y")) + F.abs(F.col(fcol)))
            ).alias("smape"),
        )

    m = (
        metrics("f_naive", "naive")
        .unionAll(metrics("f_snaive", "seasonal_naive"))
        .unionAll(metrics("f_ma7", "moving_avg_7"))
    )
    return (
        m.crossJoin(F.broadcast(scale))
        .select(
            "method",
            "n_days",
            F.col("mae").cast("float").alias("mae"),
            F.col("smape").cast("float").alias("smape"),
            (F.col("mae") / F.col("mae_snaive")).cast("float").alias("mase"),
        )
        .orderBy("method")
    )


# ---------------------------------------------------------------------------
# Inter-event burstiness (Goh-Barabási B index) per user
# ---------------------------------------------------------------------------

_BURST_MIN_GAPS = 10


@register(
    "burstiness_interevent",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    gaps AS (
        SELECT user_id,
               CAST(DATEDIFF('second', prev_ts, ts) AS DOUBLE) AS g
        FROM ordered WHERE prev_ts IS NOT NULL
    ),
    per_user AS (
        SELECT user_id, COUNT(*)::DOUBLE AS n, SUM(g) AS s,
               SUM(g * g) AS ss
        FROM gaps GROUP BY user_id
        HAVING COUNT(*) >= {_BURST_MIN_GAPS}
    ),
    b AS (
        SELECT user_id, s / n AS mu,
               sqrt((ss - s * s / n) / (n - 1)) AS sigma,
               (sqrt((ss - s * s / n) / (n - 1)) - s / n)
               / (sqrt((ss - s * s / n) / (n - 1)) + s / n) AS bi
        FROM per_user
    )
    SELECT COUNT(*)::BIGINT AS n_users,
           CAST(AVG(mu) AS REAL) AS mean_gap_seconds,
           CAST(AVG(bi) AS REAL) AS mean_burstiness,
           CAST(MIN(bi) AS REAL) AS min_burstiness,
           CAST(MAX(bi) AS REAL) AS max_burstiness
    FROM b
    """,
    tags=("burstiness", "interevent", "temporal", "goh-barabasi",
          "behavioral"),
)
def burstiness_interevent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of each user's
    inter-event times — the temporal-pattern classifier behind
    bot/anomaly triage and retention modeling: B→−1 is a metronome
    (scheduled job), B≈0 is Poisson (memoryless humans at scale),
    B→+1 is bursty sessions.  Sibling of
    ``sessionize_events_batch`` (which CUTS at a gap threshold;
    burstiness characterizes the whole gap distribution without
    choosing one) and ``burst_detection_hourly`` (corpus-level rate
    spikes vs per-user temporal texture).

    Scale shape: one per-user LAG window (partitioned by user — no
    global ordering), one per-user moment aggregate with a
    min-gap-count floor, one corpus summary aggregate.  Gaps are
    exact integer seconds (DATEDIFF both engines), so per-user
    moments are exact and B is the same few-op float on both
    sides."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            )
            .cast("double")
            .alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("g").alias("s"),
            F.sum(F.col("g") * F.col("g")).alias("ss"),
        )
        .filter(F.col("n") >= _BURST_MIN_GAPS)
    )
    mu = F.col("s") / F.col("n")
    sigma = F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    b = per_user.select(
        mu.alias("mu"), ((sigma - mu) / (sigma + mu)).alias("bi")
    )
    return b.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.avg("mu").cast("float").alias("mean_gap_seconds"),
        F.avg("bi").cast("float").alias("mean_burstiness"),
        F.min("bi").cast("float").alias("min_burstiness"),
        F.max("bi").cast("float").alias("max_burstiness"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent of daily revenue (rescaled-range analysis)
# ---------------------------------------------------------------------------

_HURST_NS = (8, 16, 32, 64)


@register(
    "hurst_exponent_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS y
        FROM orders GROUP BY 1
    ),
    rn AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS r FROM daily
    ),
    blocks AS (
        SELECT ns.n, CAST(FLOOR((r - 1) / ns.n) AS BIGINT) AS blk,
               r, y
        FROM rn CROSS JOIN (
            SELECT UNNEST([{', '.join(str(n) for n in _HURST_NS)}]) AS n
        ) ns
    ),
    stats AS (
        SELECT n, blk, COUNT(*)::DOUBLE AS cnt, AVG(y) AS mu,
               sqrt((SUM(y*y) - SUM(y)*SUM(y)/COUNT(*))
                    / (COUNT(*) - 1)) AS s
        FROM blocks GROUP BY n, blk
    ),
    cum AS (
        SELECT b.n, b.blk,
               SUM(b.y - st.mu) OVER (
                   PARTITION BY b.n, b.blk ORDER BY b.r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cd
        FROM blocks b JOIN stats st ON st.n = b.n AND st.blk = b.blk
        WHERE st.cnt = st.n
    ),
    rs AS (
        SELECT c.n, c.blk,
               (MAX(c.cd) - MIN(c.cd)) AS rng
        FROM cum c GROUP BY c.n, c.blk
    ),
    pern AS (
        SELECT rs.n, AVG(rs.rng / st.s) AS rs_avg,
               COUNT(*)::BIGINT AS n_blocks
        FROM rs JOIN stats st ON st.n = rs.n AND st.blk = rs.blk
        WHERE st.s > 0 AND st.cnt = rs.n
        GROUP BY rs.n
    ),
    pts AS (
        SELECT ln(CAST(n AS DOUBLE)) AS x, ln(rs_avg) AS y FROM pern
    ),
    m AS (
        SELECT COUNT(*)::DOUBLE AS k, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(x*y) AS sxy
        FROM pts
    )
    SELECT (SELECT CAST(SUM(n_blocks) AS BIGINT) FROM pern)
               AS n_blocks_total,
           CAST(k AS BIGINT) AS n_scales,
           CAST((k*sxy - sx*sy) / (k*sxx - sx*sx) AS REAL)
               AS hurst_exponent
    FROM m
    """,
    tags=("hurst", "rescaled-range", "long-memory", "timeseries",
          "fractal"),
)
def hurst_exponent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by rescaled-range analysis
    (Hurst 1951 / Mandelbrot-Wallis R/S): split the series into
    blocks of n ∈ {8,16,32,64} days, compute each block's range of
    cumulative deviations over its standard deviation, and fit
    ln E[R/S] ~ H·ln n.  H ≈ 0.5 is a memoryless series, H > 0.5
    persistent long-memory (trends compound), H < 0.5
    mean-reverting — the long-memory diagnostic that says whether
    ``forecast_linear_28d``-style extrapolation is even plausible,
    complementing ``acf_ljung_box`` (fixed-lag correlation) with a
    scale-free readout.

    Scale shape: the windowed relation is the calendar-bounded
    daily aggregate (the ewma contract); blocks come from a 4-row
    broadcast scale spine, per-block moments are one grouped
    aggregate, the within-block cumulative deviation is a window
    PARTITIONED by (scale, block), and the final fit is OLS on 4
    points.  Incomplete trailing blocks are excluded (cnt = n)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
    )
    rn = daily.select(
        "y", F.row_number().over(Window.orderBy("day")).alias("r")
    )
    ns = rn.sparkSession.createDataFrame(
        [(n,) for n in _HURST_NS], ["n"]
    )
    blocks = rn.crossJoin(F.broadcast(ns)).select(
        "n",
        F.floor((F.col("r") - 1) / F.col("n")).cast("long").alias("blk"),
        "r",
        "y",
    )
    stats = blocks.groupBy("n", "blk").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.avg("y").alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("y") * F.col("y"))
                - F.sum("y") * F.sum("y") / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("s"),
    )
    w = (
        Window.partitionBy("n", "blk")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        blocks.join(F.broadcast(stats), ["n", "blk"])
        .filter(F.col("cnt") == F.col("n").cast("double"))
        .select(
            "n",
            "blk",
            F.sum(F.col("y") - F.col("mu")).over(w).alias("cd"),
        )
    )
    rs = cum.groupBy("n", "blk").agg(
        (F.max("cd") - F.min("cd")).alias("rng")
    )
    pern = (
        rs.join(F.broadcast(stats), ["n", "blk"])
        .filter((F.col("s") > 0) & (F.col("cnt") == F.col("n")))
        .groupBy("n")
        .agg(
            F.avg(F.col("rng") / F.col("s")).alias("rs_avg"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
        )
    )
    pts = pern.select(
        F.log(F.col("n").cast("double")).alias("x"),
        F.log("rs_avg").alias("y"),
        "n_blocks",
    )
    m = pts.agg(
        F.sum("n_blocks").cast("long").alias("n_blocks_total"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return m.select(
        "n_blocks_total",
        F.col("k").cast("long").alias("n_scales"),
        (
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
        )
        .cast("float")
        .alias("hurst_exponent"),
    )


# ---------------------------------------------------------------------------
# Permutation entropy of daily revenue (ordinal-pattern complexity)
# ---------------------------------------------------------------------------


@register(
    "permutation_entropy_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS y
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT y,
               LEAD(y, 1) OVER (ORDER BY day) AS y1,
               LEAD(y, 2) OVER (ORDER BY day) AS y2
        FROM daily
    ),
    pat AS (
        SELECT CASE
                 WHEN y <= y1 AND y1 <= y2 THEN 0
                 WHEN y <= y2 AND y2 < y1 THEN 1
                 WHEN y1 < y AND y <= y2 THEN 2
                 WHEN y2 < y AND y <= y1 THEN 3
                 WHEN y1 <= y2 AND y2 < y THEN 4
                 ELSE 5
               END AS p
        FROM lagged WHERE y1 IS NOT NULL AND y2 IS NOT NULL
    ),
    cnt AS (SELECT p, COUNT(*)::DOUBLE AS c FROM pat GROUP BY p),
    tot AS (SELECT SUM(c) AS t FROM cnt)
    SELECT CAST(tot.t AS BIGINT) AS n_windows,
           (SELECT COUNT(*)::BIGINT FROM cnt) AS n_patterns_seen,
           CAST(SUM((c / tot.t) * ln(tot.t / c)) AS REAL)
               AS perm_entropy_nats,
           CAST(SUM((c / tot.t) * ln(tot.t / c)) / ln(6.0) AS REAL)
               AS normalized
    FROM cnt CROSS JOIN tot
    GROUP BY tot.t
    """,
    tags=("permutation-entropy", "ordinal-patterns", "complexity",
          "timeseries"),
)
def permutation_entropy_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Permutation entropy (Bandt & Pompe 2002) of daily revenue,
    order 3: classify every 3-day window by the ORDINAL pattern of
    its values (6 possible orderings, ties broken toward the
    earlier day — the standard convention) and take the entropy of
    the pattern distribution.  Normalized to [0,1] it is the
    model-free complexity score that separates trending/seasonal
    structure (low) from noise (≈1) — the ordinal complement of
    ``acf_ljung_box`` (linear correlation) and
    ``hurst_exponent_revenue`` (scale-free memory): PE sees any
    monotone structure, not just linear.

    Ordinal robustness is the engine-exactness story: patterns are
    decided by COMPARISONS of money sums, not arithmetic on them,
    so a last-ulp cross-engine difference in a revenue sum flips a
    pattern only when two days are within one ulp of EQUAL — and
    the ≤-convention makes exact ties deterministic too.

    Scale shape: per-day aggregate (calendar-bounded), two LEADs on
    the ordered day relation, one ≤6-row pattern count, scalar
    entropy."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
    ).filter(F.col("y1").isNotNull() & F.col("y2").isNotNull())
    y, y1, y2 = F.col("y"), F.col("y1"), F.col("y2")
    pat = lagged.select(
        F.when((y <= y1) & (y1 <= y2), 0)
        .when((y <= y2) & (y2 < y1), 1)
        .when((y1 < y) & (y <= y2), 2)
        .when((y2 < y) & (y <= y1), 3)
        .when((y1 <= y2) & (y2 < y), 4)
        .otherwise(5)
        .alias("p")
    )
    cnt = pat.groupBy("p").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = cnt.agg(F.sum("c").alias("t"))
    npat = cnt.agg(F.count(F.lit(1)).cast("long").alias("n_patterns_seen"))
    ent = cnt.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.col("c") / F.col("t")) * F.log(F.col("t") / F.col("c"))
        ).alias("h")
    )
    import math

    return (
        tot.crossJoin(F.broadcast(npat))
        .crossJoin(F.broadcast(ent))
        .select(
            F.col("t").cast("long").alias("n_windows"),
            "n_patterns_seen",
            F.col("h").cast("float").alias("perm_entropy_nats"),
            (F.col("h") / math.log(6.0)).cast("float").alias("normalized"),
        )
    )


# ---------------------------------------------------------------------------
# Periodogram power at candidate seasonal periods
# ---------------------------------------------------------------------------

_PERIODS = (7, 30, 365)


@register(
    "periodogram_seasonal_power",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS y
        FROM orders GROUP BY 1
    ),
    rn AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t FROM daily
    ),
    m AS (
        SELECT AVG(y) AS mu, COUNT(*)::DOUBLE AS n,
               SUM(y*y) - SUM(y)*SUM(y)/COUNT(*) AS ss
        FROM rn
    ),
    terms AS (
        SELECT p.per, rn.t, rn.y - m.mu AS yc
        FROM rn CROSS JOIN m
        CROSS JOIN (SELECT UNNEST([{', '.join(str(p) for p in _PERIODS)}])
                        AS per) p
    ),
    ft AS (
        SELECT per,
               SUM(yc * cos(2 * pi() * t / per)) AS re,
               SUM(yc * sin(2 * pi() * t / per)) AS im
        FROM terms GROUP BY per
    )
    SELECT ft.per AS period_days,
           CAST((re*re + im*im) * 2.0 / (m.n * m.ss / m.n) / m.n AS REAL)
               AS power_share
    FROM ft CROSS JOIN m
    ORDER BY period_days
    """,
    tags=("periodogram", "spectral", "seasonality", "fourier",
          "timeseries"),
)
def periodogram_seasonal_power(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Periodogram power of daily revenue at the three candidate
    seasonal periods (weekly, monthly, yearly) — the Fourier probe
    that answers "is there a 7-day cycle worth modeling" BEFORE
    ``seasonal_decompose_weekly`` assumes one: for each period the
    single-frequency DFT coefficient is two plain aggregates
    (Σ y·cos(2πt/P), Σ y·sin(2πt/P)) on the mean-centered series,
    and the emitted share is its power normalized by total variance
    (the fraction of variance a pure sinusoid at that period would
    explain, ×2 for the conjugate frequency).

    Scale shape: per-day aggregate, a row number on the
    calendar-bounded relation, a 3-row broadcast period spine, one
    grouped trig aggregate — no FFT machinery needed when only
    named frequencies are on trial, and at 100 TB the daily relation
    this runs on is still calendar-sized."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("y"))
    )
    rn = daily.select(
        "y", (F.row_number().over(Window.orderBy("day")) - 1).alias("t")
    )
    m = rn.agg(
        F.avg("y").alias("mu"),
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum(F.col("y") * F.col("y"))
            - F.sum("y") * F.sum("y") / F.count(F.lit(1))
        ).alias("ss"),
    )
    pers = rn.sparkSession.createDataFrame(
        [(p,) for p in _PERIODS], ["per"]
    )
    import math

    terms = rn.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(pers)).select(
        "per",
        "t",
        (F.col("y") - F.col("mu")).alias("yc"),
    )
    two_pi = 2 * math.pi
    ft = terms.groupBy("per").agg(
        F.sum(
            F.col("yc") * F.cos(F.lit(two_pi) * F.col("t") / F.col("per"))
        ).alias("re"),
        F.sum(
            F.col("yc") * F.sin(F.lit(two_pi) * F.col("t") / F.col("per"))
        ).alias("im"),
    )
    return (
        ft.crossJoin(F.broadcast(m))
        .select(
            F.col("per").alias("period_days"),
            (
                (F.col("re") * F.col("re") + F.col("im") * F.col("im"))
                * 2.0
                / (F.col("n") * F.col("ss") / F.col("n"))
                / F.col("n")
            )
            .cast("float")
            .alias("power_share"),
        )
        .orderBy("period_days")
    )


# ---------------------------------------------------------------------------
# Matrix-profile motif: the most similar pair of 6-month revenue shapes
# ---------------------------------------------------------------------------

_MP_W = 6  # subsequence length in months


@register(
    "matrix_profile_motif",
    oracle=f"""
    WITH monthly AS (
        SELECT DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS m,
               SUM(o_totalprice) AS y
        FROM orders GROUP BY 1
    ),
    seq AS (
        SELECT STRFTIME(m, '%Y-%m') AS mk,
               ROW_NUMBER() OVER (ORDER BY m) AS rn,
               y,
               LEAD(y, 1) OVER (ORDER BY m) AS y1,
               LEAD(y, 2) OVER (ORDER BY m) AS y2,
               LEAD(y, 3) OVER (ORDER BY m) AS y3,
               LEAD(y, 4) OVER (ORDER BY m) AS y4,
               LEAD(y, 5) OVER (ORDER BY m) AS y5,
               DATEDIFF('month', m,
                        LEAD(m, 5) OVER (ORDER BY m)) AS span
        FROM monthly
    ),
    sub AS (
        SELECT mk, rn,
               (y + y1 + y2 + y3 + y4 + y5) / 6.0 AS mu,
               SQRT(((y - (y+y1+y2+y3+y4+y5)/6.0)^2
                     + (y1 - (y+y1+y2+y3+y4+y5)/6.0)^2
                     + (y2 - (y+y1+y2+y3+y4+y5)/6.0)^2
                     + (y3 - (y+y1+y2+y3+y4+y5)/6.0)^2
                     + (y4 - (y+y1+y2+y3+y4+y5)/6.0)^2
                     + (y5 - (y+y1+y2+y3+y4+y5)/6.0)^2) / 6.0) AS sd,
               y, y1, y2, y3, y4, y5
        FROM seq WHERE y5 IS NOT NULL AND span = 5
    ),
    z AS (
        SELECT mk, rn,
               (y - mu) / sd AS z0, (y1 - mu) / sd AS z1,
               (y2 - mu) / sd AS z2, (y3 - mu) / sd AS z3,
               (y4 - mu) / sd AS z4, (y5 - mu) / sd AS z5
        FROM sub WHERE sd > 0
    ),
    pairs AS (
        SELECT a.mk AS month_a, b.mk AS month_b,
               (a.z0-b.z0)^2 + (a.z1-b.z1)^2 + (a.z2-b.z2)^2
               + (a.z3-b.z3)^2 + (a.z4-b.z4)^2 + (a.z5-b.z5)^2 AS d2
        FROM z a JOIN z b ON b.rn >= a.rn + {_MP_W}
    )
    SELECT month_a, month_b,
           CAST(ROUND(SQRT(d2), 4) AS REAL) AS zdist
    FROM pairs
    ORDER BY ROUND(d2, 6), month_a, month_b
    LIMIT 3
    """,
    tags=("matrix-profile", "motif-discovery", "timeseries",
          "z-normalized", "similarity"),
)
def matrix_profile_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-profile motif discovery: the 3 most similar pairs of
    non-overlapping 6-month revenue SHAPES (z-normalized Euclidean
    distance, the matrix-profile metric) — "which two half-years
    moved the same way?", the motif question none of the
    trend/seasonality queries ask (`seasonal_decompose_weekly` fits
    one fixed period; motifs find repeated patterns at ANY offset).
    Z-normalization makes it shape similarity — level and amplitude
    are divided out.

    Scale shape: the corpus collapses to a CALENDAR-bounded monthly
    relation (84 rows for seven years — bounded at any corpus size,
    the allowlisted per-month-aggregate window class), subsequences
    are 5 LEADs on that relation, and the all-pairs join is
    ≤(|months|)² on the z-vectors — never corpus-sized.
    The top-3 is TakeOrderedAndProject with a rounded-distance,
    (month_a, month_b) deterministic order."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.trunc("o_orderdate", "month").alias("m")
    ).agg(F.sum("o_totalprice").alias("y"))
    w = Window.orderBy("m")
    seq = monthly.select(
        F.date_format("m", "yyyy-MM").alias("mk"),
        F.row_number().over(w).alias("rn"),
        "y",
        *[F.lead("y", i).over(w).alias(f"y{i}") for i in range(1, _MP_W)],
        F.months_between(F.lead("m", _MP_W - 1).over(w), F.col("m"))
        .alias("span"),
    ).filter(
        F.col(f"y{_MP_W - 1}").isNotNull() & (F.col("span") == _MP_W - 1)
    )
    cols = ["y"] + [f"y{i}" for i in range(1, _MP_W)]
    mu = sum(F.col(c) for c in cols) / float(_MP_W)
    seq = seq.withColumn("mu", mu)
    sd = F.sqrt(
        sum((F.col(c) - F.col("mu")) * (F.col(c) - F.col("mu"))
            for c in cols)
        / float(_MP_W)
    )
    z = (
        seq.withColumn("sd", sd)
        .filter(F.col("sd") > 0)
        .select(
            "mk",
            "rn",
            *[
                ((F.col(c) - F.col("mu")) / F.col("sd")).alias(f"z{i}")
                for i, c in enumerate(cols)
            ],
        )
    )
    a = z.alias("a")
    b = z.alias("b")
    d2 = sum(
        (F.col(f"a.z{i}") - F.col(f"b.z{i}"))
        * (F.col(f"a.z{i}") - F.col(f"b.z{i}"))
        for i in range(_MP_W)
    )
    pairs = a.join(b, F.col("b.rn") >= F.col("a.rn") + _MP_W).select(
        F.col("a.mk").alias("month_a"),
        F.col("b.mk").alias("month_b"),
        d2.alias("d2"),
    )
    return (
        pairs.orderBy(F.round("d2", 6), "month_a", "month_b")
        .limit(3)
        .select(
            "month_a",
            "month_b",
            F.round(F.sqrt("d2"), 4).cast("float").alias("zdist"),
        )
    )


# --------------------------------------------------------------------------
# SLO error-budget burn-rate alerts (multi-window)


#: SLI: an event is an ERROR when value > 180 (≈ p97 of the synthetic
#: distribution — a 2-3% ambient error rate with real spikes).  SLO
#: target 95% good ⇒ error budget 5% ⇒ burn rate = error_rate / 0.05
#: = 20·e/n.  Multi-window alert thresholds (the Google-SRE shape,
#: rescaled for this budget): page when the FAST window (1 h) burns
#: > 3× budget AND the SLOW window (6 h) burns > 1.5× — the fast
#: window gives low detection latency, the slow one stops a single
#: noisy hour from paging.
_SLO_ERR_VALUE = 180


@register(
    "slo_burn_rate_alerts",
    oracle=f"""
    WITH base AS (
        SELECT CAST(ts AS DATE) AS day,
               EXTRACT(hour FROM ts)::INT AS hr,
               CASE WHEN value > {_SLO_ERR_VALUE} THEN 1 ELSE 0 END AS err
        FROM events
    ),
    hourly AS (
        SELECT day, hr, hr // 6 AS slot6,
               COUNT(*)::BIGINT AS n_1h, SUM(err)::BIGINT AS err_1h
        FROM base GROUP BY 1, 2, 3
    ),
    six AS (
        SELECT day, slot6,
               SUM(n_1h)::BIGINT AS n_6h, SUM(err_1h)::BIGINT AS err_6h
        FROM hourly GROUP BY 1, 2
    )
    SELECT strftime(h.day, '%Y-%m-%d') || ' ' ||
               LPAD(h.hr::VARCHAR, 2, '0') AS hour,
           h.n_1h, h.err_1h,
           CAST(h.err_1h * 20.0 / h.n_1h AS REAL) AS burn_1h,
           s.n_6h, s.err_6h,
           CAST(s.err_6h * 20.0 / s.n_6h AS REAL) AS burn_6h,
           CAST(20 * h.err_1h > 3 * h.n_1h AS INT) AS fast_burn,
           CAST(40 * s.err_6h > 3 * s.n_6h AS INT) AS slow_burn,
           CAST(20 * h.err_1h > 3 * h.n_1h
                AND 40 * s.err_6h > 3 * s.n_6h AS INT) AS page
    FROM hourly h JOIN six s ON h.day = s.day AND h.slot6 = s.slot6
    ORDER BY hour
    """,
    tags=("slo", "burn-rate", "monitoring", "multi-window",
          "tumbling"),
)
def slo_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO error-budget burn-rate table — per hour, the
    1-hour (fast) and enclosing 6-hour (slow) burn rates of a 95%
    value-SLO over events, and the page decision requiring BOTH
    windows to burn hot (fast > 3x budget, slow > 1.5x): the standard
    SRE construction that pages quickly on real incidents but not on
    one noisy hour.  `window_tumbling_hourly` is the plain-counts
    sibling; this is the alerting policy on top.

    Integer discipline at every decision boundary: with a rational
    budget (1/20) and rational thresholds (3, 3/2), each flag reduces
    to an integer cross-multiplication (20*e > 3*n; 40*e > 3*n) — no
    float ever reaches a comparison, so the page column is hash-exact
    by construction.  Scale shape: one (day, hour) aggregate over the
    corpus; the 6-hour rollup and the fast-slow join run on the
    ~720-row window relation."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hr"),
        F.when(F.col("value") > _SLO_ERR_VALUE, 1).otherwise(0).alias("err"),
    )
    hourly = (
        base.groupBy("day", "hr", F.expr("hr div 6").alias("slot6"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_1h"),
            F.sum("err").cast("long").alias("err_1h"),
        )
    )
    six = hourly.groupBy("day", "slot6").agg(
        F.sum("n_1h").cast("long").alias("n_6h"),
        F.sum("err_1h").cast("long").alias("err_6h"),
    )
    fast = 20 * F.col("err_1h") > 3 * F.col("n_1h")
    slow = 40 * F.col("err_6h") > 3 * F.col("n_6h")
    return (
        hourly.join(six, ["day", "slot6"])
        .select(
            F.concat(
                F.date_format("day", "yyyy-MM-dd"),
                F.lit(" "),
                F.lpad(F.col("hr").cast("string"), 2, "0"),
            ).alias("hour"),
            "n_1h",
            "err_1h",
            (F.col("err_1h") * 20.0 / F.col("n_1h"))
            .cast("float")
            .alias("burn_1h"),
            "n_6h",
            "err_6h",
            (F.col("err_6h") * 20.0 / F.col("n_6h"))
            .cast("float")
            .alias("burn_6h"),
            fast.cast("int").alias("fast_burn"),
            slow.cast("int").alias("slow_burn"),
            (fast & slow).cast("int").alias("page"),
        )
        .orderBy("hour")
    )
