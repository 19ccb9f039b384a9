"""SQL-surface closure: argmin/argmax/mode aggregates, LISTAGG,
bitmap-based exact distinct, SQL pipe syntax with named parameters,
GROUP BY ALL, and the split_part/str_to_map/explode_outer string
closure.

The reference has no aggregation surface at all (SURVEY §2A "absent"
list; verified over /root/reference — no groupby/agg identifier in
any of its 13 .py files), so these are §2B extension operators:
each certifies a stock Spark SQL capability a user migrating off the
reference's torch-kernel model would reach for, oracle-checked
against DuckDB.

Scale notes (100 TB): every query here is a single hash-aggregate
or map-only projection — no windows over global partitions, no
driver collect. The bitmap distinct is the headline: exact
COUNT(DISTINCT) re-expressed as mergeable fixed-width bitmap
partials (32k bits per bucket), so the final combine moves one
4 KB bitmap per (group, bucket) instead of re-shuffling every
distinct key — the same partial-aggregation contract HLL sketches
satisfy approximately, here exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axolotls_spark.io.sources import load_table
from axolotls_spark.registry import register


@register(
    "agg_argminmax_mode",
    oracle="""
    SELECT o_orderpriority,
           arg_min(o_orderkey, o_totalprice) AS cheapest_orderkey,
           arg_max(o_orderkey, o_totalprice) AS priciest_orderkey,
           mode(o_orderstatus)               AS modal_status,
           COUNT(*)                          AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "min-by", "max-by", "mode", "sql-surface"),
)
def agg_argminmax_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by/mode aggregate closure over orders.

    Determinism audit (sf0.01): each priority group has exactly one
    row at its min and max o_totalprice, and a unique modal
    o_orderstatus — so the argmin/argmax/mode picks are well-defined
    on both engines. One hash aggregate, map-side partials; at scale
    these are single-pass streaming aggregates (no sort, no window).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_orderkey"),
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_orderkey"),
        F.mode("o_orderstatus").alias("modal_status"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_listagg_group_all",
    oracle="""
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus)
               AS statuses,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    """,
    tags=("agg", "listagg", "group-by-all", "sql-surface"),
)
def agg_listagg_group_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG (Spark 4.0) with WITHIN GROUP ordering + GROUP BY ALL
    on both engines (DuckDB's string_agg is the same aggregate under
    its ANSI name). DISTINCT + explicit ORDER BY makes the
    concatenation order-deterministic, so the value-hash comparison
    is exact despite Spark's unordered partial aggregation."""
    return spark.sql(
        """
        SELECT l_returnflag,
               listagg(DISTINCT l_linestatus, '|')
                   WITHIN GROUP (ORDER BY l_linestatus) AS statuses,
               SUM(l_quantity) AS sum_qty
        FROM {lineitem}
        GROUP BY ALL
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "bitmap", "distinct", "partial-agg", "scale"),
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT key) via Spark 3.5 bitmap aggregates.

    Plain COUNT(DISTINCT) expands to an Expand + two-phase aggregate
    that shuffles every distinct key. This form instead groups by
    (group, bitmap_bucket_number(key)) and builds a fixed 32k-bit
    bitmap per bucket map-side; the shuffle then carries one ≤4 KB
    bitmap per (group, bucket) regardless of row count — the
    mergeable-partial contract that makes exact distinct viable at
    100 TB. Two keys are counted in one pass over the scan.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def bitmap_distinct(key: str, out: str) -> DataFrame:
        return (
            li.groupBy(
                "l_returnflag", F.bitmap_bucket_number(F.col(key)).alias("b")
            )
            .agg(
                F.bitmap_count(
                    F.bitmap_construct_agg(F.bitmap_bit_position(F.col(key)))
                ).alias("cnt")
            )
            .groupBy("l_returnflag")
            .agg(F.sum("cnt").alias(out))
        )

    parts = bitmap_distinct("l_partkey", "distinct_parts")
    supps = bitmap_distinct("l_suppkey", "distinct_supps")
    return parts.join(supps, "l_returnflag")


@register(
    "sql_pipe_revenue",
    oracle="""
    SELECT l_returnflag,
           SUM(l_extendedprice * (1 - l_discount)) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_quantity > 10
    GROUP BY l_returnflag
    """,
    tags=("sql-surface", "pipe-syntax", "named-parameters"),
)
def sql_pipe_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0 SQL pipe syntax (FROM … |> WHERE … |> AGGREGATE)
    with a named parameter marker (:min_qty) — the modern scripting
    surface. Catalyst compiles pipes to the identical logical plan
    as the nested-SELECT oracle, so pushdown/pruning are unchanged.
    """
    return spark.sql(
        """
        FROM {lineitem}
        |> WHERE l_quantity > :min_qty
        |> AGGREGATE SUM(l_extendedprice * (1 - l_discount)) AS revenue,
                     COUNT(*) AS n_items
           GROUP BY l_returnflag
        """,
        args={"min_qty": 10},
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "string_split_map_roundtrip",
    oracle="""
    SELECT p_partkey,
           string_split(p_type, ' ')[1] AS type_head,
           string_split(p_type, ' ')[-1] AS type_tail,
           p_brand AS brand_rt,
           tok
    FROM part,
         UNNEST(
            CASE WHEN len(list_filter(string_split(p_name, ' '),
                                      x -> x LIKE '%o%')) = 0
                 THEN [NULL]
                 ELSE list_filter(string_split(p_name, ' '),
                                  x -> x LIKE '%o%') END
         ) AS u(tok)
    """,
    tags=("string-functions", "map-functions", "explode-outer", "nested"),
)
def string_split_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_part head/tail indexing, a str_to_map round-trip
    (serialize brand into 'k:v' text, parse back, extract), and
    explode_outer over a filtered token list that is empty for ~40%
    of parts — the outer explode keeps those rows with a NULL token
    (oracle emulates via UNNEST of [NULL]). Map-only: no shuffle,
    explode fuses into the scan projection."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias(
                "type_head"
            ),
            F.split_part(F.col("p_type"), F.lit(" "), F.lit(-1)).alias(
                "type_tail"
            ),
            F.str_to_map(
                F.concat(F.lit("brand:"), F.col("p_brand")),
                F.lit(","),
                F.lit(":"),
            )["brand"].alias("brand_rt"),
            F.filter(
                F.split(F.col("p_name"), " "), lambda t: t.like("%o%")
            ).alias("toks"),
        )
        .select(
            "p_partkey",
            "type_head",
            "type_tail",
            "brand_rt",
            F.explode_outer("toks").alias("tok"),
        )
    )


@register(
    "join_null_safe_eq",
    oracle="""
    WITH l AS (
        SELECT l_orderkey, l_linenumber,
               NULLIF(l_discount, 0.0) AS disc
        FROM lineitem
    ),
    bands(disc, band) AS (
        VALUES (0.02, 'low'), (0.05, 'mid'), (0.08, 'high'),
               (CAST(NULL AS DOUBLE), 'none')
    )
    SELECT b.band, COUNT(*) AS n_lines
    FROM l JOIN bands b ON l.disc IS NOT DISTINCT FROM b.disc
    GROUP BY b.band
    """,
    tags=("join", "null-safe", "eqNullSafe", "sql-surface"),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of vanishing — the semantics
    dimension-lookup joins need when 'missing' is itself a category.
    Zero-discount lines map to a NULL key and land in the 'none'
    band; a plain equi-join would silently drop them.

    Scale shape: the band relation broadcasts; Spark plans ``<=>``
    as a hash join key (null-safe keys still hash), so this costs
    the same as the ordinary equi-join.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.nullif("l_discount", F.lit(0.0)).alias("disc"),
    )
    bands = spark.createDataFrame(
        [(0.02, "low"), (0.05, "mid"), (0.08, "high"), (None, "none")],
        "b_disc DOUBLE, band STRING",
    )
    return (
        l.join(F.broadcast(bands), l.disc.eqNullSafe(bands.b_disc))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
