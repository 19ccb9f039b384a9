"""Data-quality + SQL-surface coverage: table profiling, expectation
(constraint) checking, ANSI-safe try_* arithmetic, and correlated
LATERAL subqueries.

Profiling and expectations are the two governance operators a
training-data pipeline runs before anything else ("what does this
table look like" / "which rows break the contract"); both are built
as a SINGLE full-scan aggregate stacked to long format, so at 100 TB
they cost one pass and one one-row shuffle regardless of how many
columns/rules are profiled. The reference has no equivalent (it has
no aggregation at all — SURVEY §2A); these extend §2B per the
driver's north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.io.sources import load_table
from axolotls_spark.registry import register, stable_f32

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "profile_table_stats",
    oracle="""
    WITH base AS (SELECT * FROM lineitem)
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           COUNT(*)                  AS n_rows,
           COUNT(*) - COUNT({c})    AS n_null,
           COUNT(DISTINCT {c})      AS n_distinct,
           MIN({c})::DOUBLE         AS min_v,
           MAX({c})::DOUBLE         AS max_v,
           CAST(AVG({c}) AS REAL)          AS avg_v,
           CAST(STDDEV_SAMP({c}) AS REAL)  AS std_v
    FROM base"""
        for c in _PROFILE_COLS
    )
    + """
    ORDER BY column_name
    """,
    tags=("profiling", "governance", "aggregation", "single-pass"),
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile (count / nulls / distinct / min / max /
    mean / stddev) for every numeric measure of lineitem, emitted in
    long format (one row per column).

    Scale shape: ONE scan feeds every metric for every column. The
    exact ``countDistinct`` makes Catalyst plan Expand(n_cols+1) +
    two-phase distinct aggregation — 2 exchanges, the second over
    O(distinct values) rows only. At 100 TB the right profiling
    variant swaps ``approx_count_distinct`` for the exact one: that
    collapses the plan to a single exchange with no Expand (HLL
    sketches merge map-side); exact is kept here because it is
    DuckDB-oracle-matchable. (The oracle's UNION ALL per column is
    the readable SQL equivalent; DuckDB scans per branch but computes
    the same values.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            F.min(c).cast("double").alias(f"{c}__min_v"),
            F.max(c).cast("double").alias(f"{c}__max_v"),
            F.avg(c).cast("float").alias(f"{c}__avg_v"),
            F.stddev_samp(c).cast("float").alias(f"{c}__std_v"),
        ]
    wide = li.agg(*aggs)
    metrics = (
        "n_rows", "n_null", "n_distinct", "min_v", "max_v", "avg_v", "std_v"
    )
    stack_expr = "stack({n}, {args}) as (column_name, {cols})".format(
        n=len(_PROFILE_COLS),
        args=", ".join(
            "'{c}', {fields}".format(
                c=c, fields=", ".join(f"`{c}__{m}`" for m in metrics)
            )
            for c in _PROFILE_COLS
        ),
        cols=", ".join(metrics),
    )
    return wide.selectExpr(stack_expr)


_RULES = (
    ("positive_price", "o_totalprice > 0"),
    ("known_status", "o_orderstatus IN ('F', 'O', 'P')"),
    ("priority_format", "o_orderpriority LIKE '_-%'"),
    ("date_in_range",
     "o_orderdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31'"),
    ("custkey_present", "o_custkey IS NOT NULL AND o_custkey >= 0"),
)


@register(
    "quality_expectations",
    oracle="""
    WITH checked AS (SELECT * FROM orders)
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS rule_name,
           COUNT(*) AS n_checked,
           COUNT(*) FILTER (WHERE NOT ({cond})) AS n_violations
    FROM checked"""
        for name, cond in _RULES
    )
    + """
    ORDER BY rule_name
    """,
    tags=("data-quality", "expectations", "governance", "single-pass"),
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite over orders — each rule is a boolean SQL
    predicate; the result reports checked/violation counts per rule
    (the Deequ/Great-Expectations "validation report" shape).

    Scale shape: all rules evaluate in ONE conditional aggregate over
    a single scan (`sum(case when not rule)`), partial-aggregated
    map-side; adding a rule adds a column to the agg, never a pass
    over the data.
    """
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for name, cond in _RULES:
        aggs += [
            F.count(F.lit(1)).alias(f"{name}__n_checked"),
            F.sum(
                F.when(~F.expr(cond), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"{name}__n_violations"),
        ]
    wide = o.agg(*aggs)
    stack_expr = "stack({n}, {args}) as (rule_name, n_checked, n_violations)".format(
        n=len(_RULES),
        args=", ".join(
            f"'{name}', `{name}__n_checked`, `{name}__n_violations`"
            for name, _ in _RULES
        ),
    )
    return wide.selectExpr(stack_expr)


@register(
    "try_arith_semantics",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_quantity - 1, 0)     AS unit_over_qm1,
           CAST(CASE WHEN l_discount > 0 THEN LN(l_discount) END AS REAL)
               AS ln_disc,
           TRY_CAST(l_returnflag AS DOUBLE)                 AS flag_num,
           CASE WHEN l_linenumber <= 2
                THEN ['A','B'][l_linenumber] END            AS pick
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    """,
    tags=("try-functions", "ansi", "null-semantics", "scalar"),
)
def try_arith_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: Spark's try_* family returns NULL where
    strict evaluation would raise — division by zero, log of a
    non-positive, a non-numeric cast, an out-of-bounds array index.
    This pins the engine's error-value contract (SURVEY §7 "division
    & log semantics" risk): the oracle expresses the same semantics
    with NULLIF / CASE / TRY_CAST guards, and the hash-match proves
    both engines compute the identical well-defined result.
    Map-only: no shuffle, filter pushed to the scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - 1
        ).alias("unit_over_qm1"),
        F.when(F.col("l_discount") > 0, F.log(F.col("l_discount")))
        .cast("float")
        .alias("ln_disc"),
        F.col("l_returnflag").try_cast("double").alias("flag_num"),
        F.try_element_at(
            F.array(F.lit("A"), F.lit("B")), F.col("l_linenumber")
        ).alias("pick"),
    )


@register(
    "lateral_topk_per_nation",
    oracle="""
    SELECT n_name, c_name, c_acctbal
    FROM (
        SELECT n.n_name, c.c_name, c.c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY n.n_nationkey
                                  ORDER BY c.c_acctbal DESC, c.c_name) AS rn
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    )
    WHERE rn <= 3
    """,
    tags=("lateral-join", "sql-surface", "top-k-per-group"),
)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — per
    nation, the top-3 customers by account balance. Certifies the
    SQL surface accepts ANSI lateral joins; Catalyst rewrites the
    correlated limit into a partitioned window (same plan as the
    oracle's ROW_NUMBER form), so there is no nested-loop
    re-execution per outer row — one shuffle by nationkey. Ties
    broken by c_name so both engines pick identical rows."""
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM {nation} n,
        LATERAL (
            SELECT c_name, c_acctbal FROM {customer}
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) c
        """,
        nation=load_table(spark, sf_dir, "nation"),
        customer=load_table(spark, sf_dir, "customer"),
    )


@register(
    "anomaly_zscore_orders",
    oracle="""
    WITH joined AS (
        SELECT o_orderkey, c_mktsegment, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    stats AS (
        SELECT c_mktsegment,
               AVG(o_totalprice)         AS seg_avg,
               STDDEV_SAMP(o_totalprice) AS seg_std
        FROM joined GROUP BY c_mktsegment
    )
    SELECT j.o_orderkey, j.c_mktsegment, j.o_totalprice,
           CAST((j.o_totalprice - s.seg_avg) / s.seg_std AS REAL) AS zscore
    FROM joined j JOIN stats s USING (c_mktsegment)
    WHERE ABS((j.o_totalprice - s.seg_avg) / s.seg_std) > 1.5
    """,
    tags=("anomaly-detection", "data-quality", "two-phase-agg"),
)
def anomaly_zscore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier detection: orders whose total price sits
    more than 1.5 sample standard deviations from their market
    segment's mean.

    Scale shape: per-group stats via groupBy (the group-stats result
    is O(segments) — tiny) then a BROADCAST join back onto the fact
    rows, so flagging is a map-side operation. The tempting
    alternative — a window over `partition by segment` — would hash
    ALL 100 TB of orders into ~5 partitions (one per segment), a
    catastrophic skew; the agg+broadcast form costs a second scan of
    the join but never builds a giant partition.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = o.select("o_orderkey", "o_custkey", "o_totalprice").join(
        c, F.col("o_custkey") == F.col("c_custkey")
    )
    stats = joined.groupBy("c_mktsegment").agg(
        F.avg("o_totalprice").alias("seg_avg"),
        F.stddev_samp("o_totalprice").alias("seg_std"),
    )
    z = (F.col("o_totalprice") - F.col("seg_avg")) / F.col("seg_std")
    return (
        joined.join(F.broadcast(stats), "c_mktsegment")
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 1.5)
        .select(
            "o_orderkey",
            "c_mktsegment",
            "o_totalprice",
            F.col("zscore").cast("float").alias("zscore"),
        )
    )


_FK_EDGES = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
)


@register(
    "ri_orphan_report",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS edge,
           COUNT(*) AS n_child,
           COUNT(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM {parent} p WHERE p.{pkey} = c.{ckey}
           )) AS n_orphans
    FROM {child} c"""
        for name, child, ckey, parent, pkey in _FK_EDGES
    )
    + "\nORDER BY edge",
    tags=("referential-integrity", "data-quality", "anti-join", "governance"),
)
def ri_orphan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the schema's FK edges: for
    each child→parent edge, how many child rows exist and how many
    reference a missing parent key (orphans). The governance check a
    pipeline runs after every ingest.

    Scale shape: all edges sharing a child table share ONE scan of
    it — lineitem's three FK checks are three left joins stacked on
    a single pass (distinct parent key-sets, partial-agg'd map-side,
    broadcast when they fit under AQE), reduced to one wide row and
    unpivoted. 100 TB cost: one scan per child table (2 total), not
    one per edge (4).
    """
    from collections import defaultdict

    by_child: dict[str, list] = defaultdict(list)
    for name, child, ckey, parent, pkey in _FK_EDGES:
        by_child[child].append((name, ckey, parent, pkey))

    out = None
    for child, edges in by_child.items():
        df = load_table(spark, sf_dir, child).select(
            *dict.fromkeys(e[1] for e in edges)
        )
        aggs = [F.count(F.lit(1)).alias("__n_child")]
        for name, ckey, parent, pkey in edges:
            pk = f"__pk_{name}"
            pa = (
                load_table(spark, sf_dir, parent)
                .select(F.col(pkey).alias(pk))
                .distinct()
            )
            df = df.join(pa, F.col(ckey) == F.col(pk), "left")
            aggs.append(
                F.sum(
                    F.when(F.col(pk).isNull(), 1).otherwise(0)
                ).alias(f"__orph_{name}")
            )
        wide = df.agg(*aggs)
        stack = "stack({n}, {args}) as (edge, n_child, n_orphans)".format(
            n=len(edges),
            args=", ".join(
                f"'{name}', __n_child, `__orph_{name}`"
                for name, *_ in edges
            ),
        )
        part = wide.selectExpr(stack)
        out = part if out is None else out.unionAll(part)
    return out


@register(
    "benford_first_digit",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT digit, COUNT(*)::DOUBLE AS n FROM d GROUP BY 1),
    tot AS (SELECT SUM(n) AS t FROM obs)
    SELECT obs.digit,
           CAST(obs.n AS BIGINT) AS n_orders,
           obs.n / tot.t AS observed_p,
           LN(1.0 + 1.0 / obs.digit) / LN(10.0) AS benford_p
    FROM obs CROSS JOIN tot
    """,
    tags=("benford", "data-forensics", "quality", "agg"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law — the forensic screen for fabricated or truncated
    numeric data (synthetic uniform generators fail it loudly, which
    is itself a useful data-provenance signal).

    Scale shape: one digit-extraction aggregate (9 output rows), a
    1-row total broadcast back. Digit extraction stays on the
    integer part so both engines avoid float-format drift.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = obs.agg(F.sum("n").alias("t"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n_orders"),
        (F.col("n") / F.col("t")).alias("observed_p"),
        (F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))).alias(
            "benford_p"
        ),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — governance check on quasi-identifier tuples
# ---------------------------------------------------------------------------

_KANON_K = 5


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
               COUNT(*) AS n
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           CAST(CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END)
                     AS DOUBLE) / SUM(n) AS REAL) AS risk_frac,
           CAST(MIN(n) AS BIGINT) AS min_group_size
    FROM g
    """,
    tags=("k-anonymity", "privacy", "governance", "quality", "agg"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier tuple (market segment, nation, $1000 account
    band): how many QI groups have fewer than k=5 members, and what
    fraction of rows sit in them — the re-identification risk gate a
    governance pipeline runs before any data release.

    Scale shape: one hash aggregate to the QI-group relation, one
    summary aggregate over it. The banding is a map-only expression;
    generalizing a QI (coarser bands) to pass the gate re-runs only
    this two-aggregate plan.
    """
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    viol = F.col("n") < _KANON_K
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(viol, 1).otherwise(0)).cast("long")
        .alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("n")).otherwise(0)).cast("long")
        .alias("n_rows_at_risk"),
        (
            F.sum(F.when(viol, F.col("n")).otherwise(0)).cast("double")
            / F.sum("n")
        )
        .cast("float")
        .alias("risk_frac"),
        F.min("n").cast("long").alias("min_group_size"),
    )


@register(
    "flesch_readability",
    oracle=r"""
    WITH f AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+'))::DOUBLE AS words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE
                   AS sents,
               len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE
                   AS sylls
        FROM documents
    )
    SELECT doc_id, CAST(words AS BIGINT) AS n_words,
           CAST(sents AS BIGINT) AS n_sentences,
           CAST(sylls AS BIGINT) AS n_syllables,
           ROUND(206.835 - 1.015 * words / sents
                 - 84.6 * sylls / NULLIF(words, 0), 4) AS flesch_ease,
           ROUND(0.39 * words / sents
                 + 11.8 * sylls / NULLIF(words, 0) - 15.59, 4)
               AS fk_grade
    FROM f
    """,
    tags=("text-analysis", "readability", "quality-scoring", "map-only"),
)
def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch–Kincaid grade per document, from
    the standard heuristics (syllables = vowel-group count, the
    classic approximation; sentences = terminal-punctuation runs,
    floored at 1 for fragment docs). Map-only — three regexp counts
    riding the scan, zero shuffles; the quality-scoring family's
    readability axis alongside the Gopher/length/entropy filters."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    ).cast("double")
    sylls = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("double")
    return docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        sylls.cast("long").alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * words / sents
            - F.lit(84.6) * F.try_divide(sylls, words),
            4,
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * words / sents
            + F.lit(11.8) * F.try_divide(sylls, words)
            - F.lit(15.59),
            4,
        ).alias("fk_grade"),
    )


#: l-diversity floor: every quasi-identifier group must contain at
#: least l distinct values of the sensitive attribute.
_LDIV_L = 3


@register(
    "l_diversity_audit",
    oracle=f"""
    WITH g AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
               COUNT(DISTINCT c_custkey) AS n,
               COUNT(DISTINCT o_orderpriority) AS l_div
        FROM customer
        LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN l_div < {_LDIV_L} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating_groups,
           CAST(SUM(CASE WHEN l_div < {_LDIV_L} THEN n ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(l_div) AS BIGINT) AS min_l,
           CAST(CAST(SUM(CASE WHEN l_div < {_LDIV_L} THEN n ELSE 0 END)
                     AS DOUBLE) / SUM(n) AS REAL) AS risk_frac
    FROM g
    """,
    tags=("l-diversity", "privacy", "governance", "quality", "agg"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE'06 — the
    k-anonymity follow-up): a quasi-identifier group is safe only if
    its SENSITIVE attribute (order priority here) takes >= l
    distinct values — k-anonymous groups where everyone shares one
    sensitive value still leak by homogeneity. Same quasi-identifier
    bands as k_anonymity_audit; one join + one aggregate with a
    distinct-count per group, one summary row."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    g = (
        cust.join(
            orders, orders.o_custkey == cust.c_custkey, "left"
        )
        .groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias(
                "bal_band"
            ),
        )
        .agg(
            F.countDistinct("c_custkey").alias("n"),
            F.countDistinct("o_orderpriority").alias("l_div"),
        )
    )
    viol = F.col("l_div") < _LDIV_L
    return g.agg(
        F.count("*").alias("n_groups"),
        F.count_if(viol).alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("l_div").cast("long").alias("min_l"),
        (
            F.sum(F.when(viol, F.col("n")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("n")
        )
        .cast("float")
        .alias("risk_frac"),
    )


# --------------------------------------------------------------------------
# t-closeness: ordered-EMD distribution distance per QI group

_TCLOSE_T = 0.20


@register(
    "t_closeness_audit",
    oracle=f"""
    WITH base AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
               o_orderpriority AS prio
        FROM customer JOIN orders ON o_custkey = c_custkey
    ),
    cnt AS (
        SELECT c_mktsegment, c_nationkey, bal_band, prio,
               COUNT(*)::DOUBLE AS n
        FROM base GROUP BY 1, 2, 3, 4
    ),
    grp AS (
        SELECT c_mktsegment, c_nationkey, bal_band, SUM(n) AS tot
        FROM cnt GROUP BY 1, 2, 3
    ),
    spine AS (SELECT DISTINCT prio FROM base),
    m AS (SELECT COUNT(*)::DOUBLE AS m FROM spine),
    gcnt AS (SELECT prio, COUNT(*)::DOUBLE AS n FROM base GROUP BY 1),
    gtot AS (SELECT SUM(n) AS t FROM gcnt),
    gcum AS (
        SELECT a.prio, SUM(b.n) / MAX(gtot.t) AS cq
        FROM spine a JOIN gcnt b ON b.prio <= a.prio
        CROSS JOIN gtot GROUP BY a.prio
    ),
    full_grid AS (
        SELECT g.c_mktsegment, g.c_nationkey, g.bal_band, g.tot,
               s.prio, COALESCE(c.n, 0) AS n
        FROM grp g CROSS JOIN spine s
        LEFT JOIN cnt c
          ON c.c_mktsegment = g.c_mktsegment
         AND c.c_nationkey = g.c_nationkey
         AND c.bal_band = g.bal_band
         AND c.prio = s.prio
    ),
    cums AS (
        SELECT c_mktsegment, c_nationkey, bal_band, tot, prio,
               SUM(n) OVER (PARTITION BY c_mktsegment, c_nationkey,
                                         bal_band
                            ORDER BY prio
                            ROWS UNBOUNDED PRECEDING) / tot AS cp
        FROM full_grid
    ),
    t_g AS (
        SELECT c.c_mktsegment, c.c_nationkey, c.bal_band,
               MAX(c.tot) AS tot,
               SUM(ABS(c.cp - g.cq)) / (MAX(m.m) - 1) AS t
        FROM cums c JOIN gcum g ON c.prio = g.prio
        CROSS JOIN m
        GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN t > {_TCLOSE_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violating_groups,
           CAST(SUM(CASE WHEN t > {_TCLOSE_T} THEN tot ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(MAX(t) AS REAL) AS max_t,
           CAST(SUM(CASE WHEN t > {_TCLOSE_T} THEN tot ELSE 0 END)
                / SUM(tot) AS REAL) AS risk_frac
    FROM t_g
    """,
    tags=("t-closeness", "privacy", "governance", "emd", "quality"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al., ICDE'07) — completes the
    k-anonymity → l-diversity → t-closeness privacy ladder on the
    SAME quasi-identifier bands: a QI group leaks when its sensitive
    distribution (order priority, an ordinal 1-URGENT…5-LOW) sits
    far from the corpus-wide distribution, measured by the ordered
    Earth-Mover's Distance Σ|CumP−CumQ|/(m−1).  l-diversity passes
    a group with 3 distinct values at 98/1/1%; t-closeness flags it.

    Scale shape: one join + one (QI, priority) hash aggregate; the
    m=5-level grid is rebuilt per group by a broadcast spine cross
    (groups missing a level still accumulate EMD mass), cumulatives
    run in per-group partitioned windows over ≤5 rows, the global
    distribution is a broadcast 5-row triangle join (no global
    window), and the audit is one summary row.
    """
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = cust.join(
        orders, orders.o_custkey == cust.c_custkey
    ).select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        F.col("o_orderpriority").alias("prio"),
    )
    cnt = base.groupBy(
        "c_mktsegment", "c_nationkey", "bal_band", "prio"
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    grp = cnt.groupBy("c_mktsegment", "c_nationkey", "bal_band").agg(
        F.sum("n").alias("tot")
    )
    spine = base.select("prio").distinct()
    m = spine.agg(F.count(F.lit(1)).cast("double").alias("m"))
    gcnt = base.groupBy("prio").agg(
        F.count(F.lit(1)).cast("double").alias("gn")
    )
    gtot = gcnt.agg(F.sum("gn").alias("t"))
    gcum = (
        spine.withColumnRenamed("prio", "p_a")
        .join(F.broadcast(gcnt), F.col("prio") <= F.col("p_a"))
        .crossJoin(F.broadcast(gtot))
        .groupBy(F.col("p_a").alias("prio"))
        .agg((F.sum("gn") / F.max("t")).alias("cq"))
    )
    full_grid = (
        grp.crossJoin(F.broadcast(spine))
        .join(
            cnt,
            ["c_mktsegment", "c_nationkey", "bal_band", "prio"],
            "left",
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "bal_band",
            "tot",
            "prio",
            F.coalesce("n", F.lit(0.0)).alias("n"),
        )
    )
    wg = (
        Window.partitionBy("c_mktsegment", "c_nationkey", "bal_band")
        .orderBy("prio")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = full_grid.select(
        "c_mktsegment",
        "c_nationkey",
        "bal_band",
        "tot",
        "prio",
        (F.sum("n").over(wg) / F.col("tot")).alias("cp"),
    )
    t_g = (
        cums.join(F.broadcast(gcum), "prio")
        .crossJoin(F.broadcast(m))
        .groupBy("c_mktsegment", "c_nationkey", "bal_band")
        .agg(
            F.max("tot").alias("tot"),
            (
                F.sum(F.abs(F.col("cp") - F.col("cq")))
                / (F.max("m") - 1)
            ).alias("t"),
        )
    )
    viol = F.col("t") > _TCLOSE_T
    return t_g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.count_if(viol).cast("long").alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("tot")).otherwise(F.lit(0.0)))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.max("t").cast("float").alias("max_t"),
        (
            F.sum(F.when(viol, F.col("tot")).otherwise(F.lit(0.0)))
            / F.sum("tot")
        )
        .cast("float")
        .alias("risk_frac"),
    )


# ---------------------------------------------------------------------------
# HBOS — histogram-based outlier score (top anomalies)
# ---------------------------------------------------------------------------

_HBOS_BINS = 16
_HBOS_TOPK = 20
_HBOS_FEATURES = ("l_quantity", "l_extendedprice", "l_discount")


def _hbos_bin_sql(col: str) -> str:
    b = _HBOS_BINS
    return (
        f"CAST(LEAST(FLOOR((CAST({col} AS DOUBLE) - mn_{col}) * {b}.0"
        f" / (mx_{col} - mn_{col})), {b - 1}) AS INTEGER)"
    )


@register(
    "hbos_outlier_scores",
    oracle=f"""
    WITH stats AS (
        SELECT {', '.join(f'MIN({c}) AS mn_{c}, MAX({c}) AS mx_{c}'
                          for c in _HBOS_FEATURES)},
               COUNT(*)::BIGINT AS n
        FROM lineitem
    ),
    binned AS (
        SELECT l.l_orderkey, l.l_linenumber,
               {', '.join(f'{_hbos_bin_sql(c)} AS b_{c}'
                          for c in _HBOS_FEATURES)}
        FROM lineitem l CROSS JOIN stats
    ),
    {', '.join(f'''h_{c} AS (
        SELECT b_{c} AS b, COUNT(*)::BIGINT AS c_{c}
        FROM binned GROUP BY 1
    )''' for c in _HBOS_FEATURES)}
    SELECT x.l_orderkey, x.l_linenumber,
           {', '.join(f'x.b_{c} AS bin_{i}'
                      for i, c in enumerate(_HBOS_FEATURES))},
           {' * '.join(f'h_{c}.c_{c}' for c in _HBOS_FEATURES)}
               AS rarity_product,
           CAST(3.0 * ln(CAST(s.n AS DOUBLE))
                - {' - '.join(f'ln(CAST(h_{c}.c_{c} AS DOUBLE))'
                              for c in _HBOS_FEATURES)} AS REAL)
               AS hbos_score
    FROM binned x
    {' '.join(f'JOIN h_{c} ON h_{c}.b = x.b_{c}' for c in _HBOS_FEATURES)}
    CROSS JOIN stats s
    ORDER BY rarity_product, x.l_orderkey, x.l_linenumber
    LIMIT {_HBOS_TOPK}
    """,
    tags=("anomaly", "hbos", "outlier", "histogram", "unsupervised"),
)
def hbos_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012) — the
    linear-time unsupervised anomaly detector: per-feature
    equal-width histograms, score = Σ_f −log(density_f(x)), top-k
    most anomalous line items.  The multivariate sibling of
    ``anomaly_zscore_orders`` (z-score assumes unimodal Gaussian;
    HBOS only assumes feature independence and handles multimodal
    marginals).

    Engine-exact ranking trick: −Σ log(count) is monotone in the
    PRODUCT of the three bin counts, so the top-k ORDER BY runs on
    ``rarity_product`` — an exact BIGINT (counts ≤ 6·10^5 cubed
    < 2^63) with an integer (orderkey, linenumber) tiebreak — and
    the float score is emitted for display only; no float ever
    decides the ranking, so libm ulp differences cannot flip rows
    in or out of the result.

    Scale shape: ONE stats pass (min/max, map-combinable), bin ids
    from a broadcast 1-row stats relation, three ≤16-row histogram
    aggregates broadcast-joined back, and the top-k is
    TakeOrderedAndProject — no global sort, no shuffle of the
    corpus beyond the three tiny histogram aggregates."""
    b, feats = _HBOS_BINS, list(_HBOS_FEATURES)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", *feats
    )
    stats = li.agg(
        *[
            agg
            for c in feats
            for agg in (
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            )
        ],
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    binned = li.crossJoin(F.broadcast(stats))
    for c in feats:
        binned = binned.withColumn(
            f"b_{c}",
            F.least(
                F.floor(
                    (F.col(c).cast("double") - F.col(f"mn_{c}"))
                    * float(b)
                    / (F.col(f"mx_{c}") - F.col(f"mn_{c}"))
                ),
                F.lit(b - 1).cast("bigint"),
            ).cast("int"),
        )
    binned = binned.select(
        "l_orderkey", "l_linenumber", "n", *[f"b_{c}" for c in feats]
    )
    out = binned
    for c in feats:
        h = (
            binned.groupBy(F.col(f"b_{c}").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias(f"c_{c}"))
        )
        out = out.join(F.broadcast(h), out[f"b_{c}"] == h["b"]).drop("b")
    prod = F.col(f"c_{feats[0]}")
    for c in feats[1:]:
        prod = prod * F.col(f"c_{c}")
    score = F.lit(3.0) * F.log(F.col("n").cast("double"))
    for c in feats:
        score = score - F.log(F.col(f"c_{c}").cast("double"))
    return (
        out.select(
            "l_orderkey",
            "l_linenumber",
            *[
                F.col(f"b_{c}").alias(f"bin_{i}")
                for i, c in enumerate(feats)
            ],
            prod.alias("rarity_product"),
            score.cast("float").alias("hbos_score"),
        )
        .orderBy("rarity_product", "l_orderkey", "l_linenumber")
        .limit(_HBOS_TOPK)
    )


# ---------------------------------------------------------------------------
# Differentially-private count release (deterministic Laplace via hash)
# ---------------------------------------------------------------------------

_DP_EPS = 0.5
_DP_SEED = "dp-release-r6"  # release identifier: part of the noise hash


@register(
    "dp_noisy_counts",
    oracle=f"""
    WITH counts AS (
        SELECT o_orderpriority AS grp, COUNT(*)::BIGINT AS n
        FROM orders GROUP BY 1
        UNION ALL
        SELECT 'ALL', COUNT(*)::BIGINT FROM orders
    ),
    u AS (
        SELECT grp, n,
               CAST(('0x' || substr(md5('{_DP_SEED}|' || grp), 1, 15))
                    ::BIGINT AS DOUBLE) / 1152921504606846976.0 - 0.5
                   AS u
        FROM counts
    ),
    noise AS (
        SELECT grp, n,
               -(1.0 / {_DP_EPS})
                 * CASE WHEN u >= 0 THEN 1.0 ELSE -1.0 END
                 * ln(1.0 - 2.0 * ABS(u)) AS lap
        FROM u
    )
    SELECT grp, n AS true_count,
           CAST(n + lap AS REAL) AS noisy_count,
           CAST(ABS(lap) AS REAL) AS abs_noise,
           CASE WHEN ABS(lap) <= (1.0 / {_DP_EPS}) * ln(1000.0)
                THEN 1 ELSE 0 END AS within_999_bound
    FROM noise
    ORDER BY grp
    """,
    tags=("privacy", "differential-privacy", "laplace", "noisy-counts",
          "governance"),
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private count release (Laplace mechanism,
    ε=0.5, sensitivity 1) over order priorities plus the ALL rollup
    — the privacy-release sibling of the k-anonymity / l-diversity /
    t-closeness AUDITS: those measure re-identification risk, this
    actually perturbs the published statistic.  The Laplace draw is
    the inverse-CDF transform −(1/ε)·sgn(u)·ln(1−2|u|) of a
    uniform u ∈ [−½,½) derived from the md5 of (release-id | group)
    — deterministic, engine-independent, and keyed by a release
    identifier so re-releasing under a new id draws fresh noise
    (the accountant's ε budget is spent per release-id).  True
    counts ride along ONLY because this is a certification query;
    a production release would drop them, and the 99.9%-quantile
    noise-bound flag is what the utility contract checks.

    Scale shape: one grouped count (map-side combinable), noise is
    per-GROUP scalar arithmetic on the ≤6-row release relation —
    the mechanism adds zero distributed work at any corpus size."""
    from axolotls_spark.operators.dedup import token_hash

    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).unionAll(
        o.agg(
            F.lit("ALL").alias("grp"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    u = (
        token_hash(F.concat(F.lit(_DP_SEED + "|"), F.col("grp"))).cast(
            "double"
        )
        / F.lit(1152921504606846976.0)
        - 0.5
    )
    lap = (
        F.lit(-1.0 / _DP_EPS)
        * F.when(u >= 0, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u))
    )
    import math

    bound = (1.0 / _DP_EPS) * math.log(1000.0)
    return counts.select(
        "grp",
        F.col("n").alias("true_count"),
        (F.col("n") + lap).cast("float").alias("noisy_count"),
        F.abs(lap).cast("float").alias("abs_noise"),
        F.when(F.abs(lap) <= bound, 1).otherwise(0)
        .alias("within_999_bound"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# Local DP: randomized response with debiased estimator
# ---------------------------------------------------------------------------

_RR_F = 0.5  # probability a respondent answers at random
_RR_SEED = "rr-release-r6"


@register(
    "local_dp_randomized_response",
    oracle=f"""
    WITH base AS (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS truth,
               CAST(('0x' || substr(md5('{_RR_SEED}|coin|'
                                        || CAST(c_custkey AS VARCHAR)),
                                    1, 15))::BIGINT AS DOUBLE)
                   / 1152921504606846976.0 AS u1,
               ('0x' || substr(md5('{_RR_SEED}|bit|'
                                   || CAST(c_custkey AS VARCHAR)),
                               1, 15))::BIGINT % 2 AS rbit
        FROM customer
    ),
    reported AS (
        SELECT truth,
               CASE WHEN u1 < {_RR_F} THEN rbit ELSE truth END AS resp
        FROM base
    ),
    agg AS (
        SELECT COUNT(*)::DOUBLE AS n,
               SUM(truth)::DOUBLE AS nt,
               SUM(resp)::DOUBLE AS nr
        FROM reported
    )
    SELECT CAST(n AS BIGINT) AS n_respondents,
           CAST(nt AS BIGINT) AS n_true_holders,
           CAST(nr AS BIGINT) AS n_yes_reports,
           CAST(nr / n AS REAL) AS p_observed,
           CAST((nr / n - {_RR_F} / 2) / (1 - {_RR_F}) AS REAL)
               AS p_debiased,
           CAST(nt / n AS REAL) AS p_true,
           CASE WHEN ABS((nr / n - {_RR_F} / 2) / (1 - {_RR_F}) - nt / n)
                     <= 3 * sqrt((nr / n) * (1 - nr / n) / n)
                        / (1 - {_RR_F})
                THEN 1 ELSE 0 END AS within_3se
    FROM agg
    """,
    tags=("privacy", "local-dp", "randomized-response", "debiasing",
          "governance"),
)
def local_dp_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Warner's randomized response — the LOCAL differential-privacy
    mechanism (each record is perturbed BEFORE aggregation, so the
    engine never holds the true bit) next to ``dp_noisy_counts``'s
    central Laplace release: with probability f=½ a respondent
    answers a fair coin instead of the truth (ε = ln 3 per response
    for this f), and the population rate is recovered by the
    debiasing identity p̂ = (p_obs − f/2)/(1 − f).  Both coins are
    md5-derived from (release-id | role | key) — deterministic and
    engine-independent, the same discipline as every sampler in this
    repo — and the true rate rides along ONLY as certification, with
    a 3-standard-error bound flag as the utility contract.

    Scale shape: per-row scalar perturbation (no shuffle added),
    ONE 3-cell aggregate; the mechanism is free at any corpus
    size."""
    from axolotls_spark.operators.dedup import token_hash

    c = load_table(spark, sf_dir, "customer")
    truth = F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
    u1 = (
        token_hash(
            F.concat(
                F.lit(_RR_SEED + "|coin|"), F.col("c_custkey").cast("string")
            )
        ).cast("double")
        / F.lit(1152921504606846976.0)
    )
    rbit = token_hash(
        F.concat(F.lit(_RR_SEED + "|bit|"), F.col("c_custkey").cast("string"))
    ) % 2
    reported = c.select(
        truth.alias("truth"),
        F.when(u1 < _RR_F, rbit).otherwise(truth).alias("resp"),
    )
    agg = reported.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("truth").cast("double").alias("nt"),
        F.sum("resp").cast("double").alias("nr"),
    )
    p_obs = F.col("nr") / F.col("n")
    p_deb = (p_obs - _RR_F / 2) / (1 - _RR_F)
    p_true = F.col("nt") / F.col("n")
    se3 = 3 * F.sqrt(p_obs * (1 - p_obs) / F.col("n")) / (1 - _RR_F)
    return agg.select(
        F.col("n").cast("long").alias("n_respondents"),
        F.col("nt").cast("long").alias("n_true_holders"),
        F.col("nr").cast("long").alias("n_yes_reports"),
        p_obs.cast("float").alias("p_observed"),
        p_deb.cast("float").alias("p_debiased"),
        p_true.cast("float").alias("p_true"),
        F.when(F.abs(p_deb - p_true) <= se3, 1).otherwise(0)
        .alias("within_3se"),
    )


# ---------------------------------------------------------------------------
# User-level DP: contribution bounding + Laplace release
# ---------------------------------------------------------------------------

_UDP_EPS = 0.5
_UDP_CAP = 10  # max events any single user may contribute per type
_UDP_SEED = "udp-release-r6"


@register(
    "dp_user_level_counts",
    oracle=f"""
    WITH per_user AS (
        SELECT event_type AS grp, user_id, COUNT(*)::BIGINT AS n
        FROM events GROUP BY 1, 2
    ),
    capped AS (
        SELECT grp,
               SUM(n)::BIGINT AS true_count,
               SUM(LEAST(n, {_UDP_CAP}))::BIGINT AS capped_count,
               SUM(CASE WHEN n > {_UDP_CAP} THEN 1 ELSE 0 END)::BIGINT
                   AS clipped_users
        FROM per_user GROUP BY grp
    ),
    noise AS (
        SELECT grp, true_count, capped_count, clipped_users,
               CAST(('0x' || substr(md5('{_UDP_SEED}|' || grp), 1, 15))
                    ::BIGINT AS DOUBLE) / 1152921504606846976.0 - 0.5
                   AS u
        FROM capped
    )
    SELECT grp AS event_type, true_count, capped_count, clipped_users,
           CAST(ROUND(capped_count
                      - ({_UDP_CAP} / {_UDP_EPS})
                        * CASE WHEN u >= 0 THEN 1.0 ELSE -1.0 END
                        * ln(1.0 - 2.0 * ABS(u)), 4) AS REAL)
               AS noisy_count
    FROM noise
    ORDER BY event_type
    """,
    tags=("privacy", "differential-privacy", "user-level",
          "contribution-bounding", "laplace", "governance"),
)
def dp_user_level_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-level ε-DP event counts — the piece `dp_noisy_counts`
    (event-level, sensitivity 1) deliberately leaves open: when one
    user can contribute MANY events, protecting events is not
    protecting people.  User-level DP first BOUNDS each user's
    contribution per released cell (cap C=10, the clip a DP-SGD
    pipeline applies to gradients, here applied to counts), which
    makes the release's sensitivity exactly C, then adds
    Laplace(C/ε) noise — scale 20× the event-level release, the
    honest price of the stronger unit of privacy.  Clipped-user and
    capped-vs-true columns quantify the bias the cap introduces
    (the bias/noise trade a real release tunes C against).

    Noise is the same md5(release-id | cell) inverse-CDF transform
    as the event-level release — deterministic, engine-independent,
    budget-accounted per release-id.

    Scale shape: one (user, type) aggregate (map-side combinable),
    one |types|-row rollup; the mechanism is scalar arithmetic on
    the bounded release relation."""
    from axolotls_spark.operators.dedup import token_hash

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        F.col("event_type").alias("grp"), "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    capped = per_user.groupBy("grp").agg(
        F.sum("n").cast("long").alias("true_count"),
        F.sum(F.least(F.col("n"), F.lit(_UDP_CAP)))
        .cast("long")
        .alias("capped_count"),
        F.sum(F.when(F.col("n") > _UDP_CAP, 1).otherwise(0))
        .cast("long")
        .alias("clipped_users"),
    )
    u = (
        token_hash(F.concat(F.lit(_UDP_SEED + "|"), F.col("grp"))).cast(
            "double"
        )
        / F.lit(1152921504606846976.0)
        - 0.5
    )
    lap = (
        F.lit(_UDP_CAP / _UDP_EPS)
        * F.when(u >= 0, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u))
    )
    return capped.select(
        F.col("grp").alias("event_type"),
        "true_count",
        "capped_count",
        "clipped_users",
        F.round(F.col("capped_count") - lap, 4)
        .cast("float")
        .alias("noisy_count"),
    )


# --------------------------------------------------------------------------
# Approximate functional-dependency discovery (g3 error)


#: Candidate single-column FDs to audit: (table, lhs, rhs).  A mix of
#: dependencies that hold (key-determined, g3 = 0) and genuinely
#: violated ones at several magnitudes — so the report exercises the
#: full verdict range.
_FD_CANDIDATES = (
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("customer", "c_name", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("nation", "n_regionkey", "n_name"),
    ("nation", "n_name", "n_regionkey"),
)


def _fd_pair_sql(tbl: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{tbl}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
           SUM(rows)::BIGINT AS n_rows,
           COUNT(*)::BIGINT AS n_lhs_groups,
           SUM(rows - keep)::BIGINT AS violations,
           CAST(SUM(rows - keep)::DOUBLE / SUM(rows) AS REAL) AS g3,
           CAST(SUM(rows - keep) = 0 AS INT) AS holds
    FROM (
        SELECT {lhs}, SUM(c) AS rows, MAX(c) AS keep
        FROM (
            SELECT {lhs}, {rhs}, COUNT(*)::BIGINT AS c
            FROM {tbl} GROUP BY 1, 2
        ) GROUP BY 1
    )"""


@register(
    "fd_discovery_audit",
    oracle="\nUNION ALL\n".join(
        _fd_pair_sql(*cand) for cand in _FD_CANDIDATES
    )
    + "\nORDER BY tbl, lhs, rhs",
    tags=("quality", "profiling", "functional-dependency", "g3",
          "metadata"),
)
def fd_discovery_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit — for each candidate
    ``lhs -> rhs`` the g3 error of Kivinen–Mannila (the minimum
    fraction of rows to delete for the FD to hold exactly:
    ``1 - sum_A max_B count / n``), the schema-constraint miner of
    data-profiling stacks (Metanome/Deequ).  Discovered FDs drive
    real decisions at 100 TB: an FD that HOLDS is a normalization /
    dictionary-encoding opportunity and a join-key-safety witness;
    one that ALMOST holds (small g3) is usually a data-quality bug
    surfaced row-countably.  The candidate list spans key-determined
    FDs (g3 = 0) and violated pairs across four tables.

    Scale shape, per candidate: ONE aggregate over the distinct
    (lhs, rhs) domain (never the raw table twice — the row count
    rides along as SUM(c)), then a lhs-domain regroup; the audit
    total is a bounded union of key-domain relations.  All verdict
    columns are integers; g3 is one double division, bit-exact both
    engines."""
    parts = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        ab = (
            load_table(spark, sf_dir, tbl)
            .groupBy(F.col(lhs).alias("a"), F.col(rhs).alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        per_a = ab.groupBy("a").agg(
            F.sum("c").alias("rows"), F.max("c").alias("keep")
        )
        parts.append(
            per_a.agg(
                F.lit(tbl).alias("tbl"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.sum("rows").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_lhs_groups"),
                F.sum(F.col("rows") - F.col("keep"))
                .cast("long")
                .alias("violations"),
                (
                    F.sum(F.col("rows") - F.col("keep")).cast("double")
                    / F.sum("rows")
                )
                .cast("float")
                .alias("g3"),
                (F.sum(F.col("rows") - F.col("keep")) == 0)
                .cast("int")
                .alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("tbl", "lhs", "rhs")


# --------------------------------------------------------------------------
# Weight-of-evidence / information-value feature screen


def _woe_bin_sql(feature: str, bin_expr: str) -> str:
    return f"""
    SELECT '{feature}' AS feature, {bin_expr} AS bin,
           COUNT(*)::BIGINT AS n,
           SUM(y)::BIGINT AS n_good
    FROM base GROUP BY 2"""


_WOE_BASE_SQL = """
    base AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               o_orderpriority,
               o_totalprice
        FROM orders
    )
"""

_WOE_PRICE_BIN = (
    "CAST(LEAST(CAST(FLOOR(o_totalprice / 100000.0) AS BIGINT), 4)"
    " AS VARCHAR)"
)


@register(
    "woe_information_value",
    oracle=f"""
    WITH {_WOE_BASE_SQL},
    bins AS (
        {_woe_bin_sql("priority", "o_orderpriority")}
        UNION ALL
        {_woe_bin_sql("price_band", _WOE_PRICE_BIN)}
    ),
    tot AS (
        SELECT feature, SUM(n_good)::BIGINT AS g_tot,
               SUM(n - n_good)::BIGINT AS b_tot
        FROM bins GROUP BY feature
    ),
    scored AS (
        SELECT b.feature, b.bin, b.n, b.n_good,
               (b.n - b.n_good)::BIGINT AS n_bad,
               LN(((b.n_good + 0.5) / t.g_tot)
                  / ((b.n - b.n_good + 0.5) / t.b_tot)) AS woe,
               ((b.n_good + 0.5) / t.g_tot
                - (b.n - b.n_good + 0.5) / t.b_tot)
               * LN(((b.n_good + 0.5) / t.g_tot)
                    / ((b.n - b.n_good + 0.5) / t.b_tot)) AS ivc
        FROM bins b JOIN tot t USING (feature)
    )
    SELECT feature, bin, n, n_good, n_bad,
           CAST(woe AS REAL) AS woe,
           CAST(ivc AS REAL) AS iv_contrib,
           CAST(SUM(ivc) OVER (PARTITION BY feature) AS REAL)
               AS feature_iv
    FROM scored
    ORDER BY feature, bin
    """,
    tags=("quality", "woe", "information-value", "feature-screen",
          "encoding"),
)
def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence table and information value per feature —
    the credit-scoring feature screen (Siddiqi's IV rule of thumb:
    <0.02 useless, >0.3 strong) for a binary target
    (order finalized, ``o_orderstatus = 'F'``) against a categorical
    feature and a fixed-width price band.  WOE is the bin's
    log-odds shift ``ln((g_i/G)/(b_i/B))`` with +0.5 Laplace cells so
    an empty bin never produces an infinite encoding; IV is the
    symmetrized KL mass ``sum (g_i/G - b_i/B) * WOE_i``.
    `target_encode_loo` is the per-ROW leakage-safe sibling; this is
    the per-BIN screening/reporting artifact.

    Scale shape: one grouped aggregate per feature over the raw
    table (map-side combinable), then all algebra on the bin relation
    (<=10 rows); the feature totals join is a broadcast.  The only
    window (feature_iv) runs on the bin relation, not data."""
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        "o_orderpriority",
        "o_totalprice",
    )
    feats = [
        ("priority", F.col("o_orderpriority")),
        (
            "price_band",
            F.least(
                F.floor(F.col("o_totalprice") / 100000.0).cast("long"),
                F.lit(4),
            ).cast("string"),
        ),
    ]
    parts = []
    for name, bin_col in feats:
        parts.append(
            o.groupBy(bin_col.alias("bin"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("y").cast("long").alias("n_good"),
            )
            .select(F.lit(name).alias("feature"), "bin", "n", "n_good")
        )
    bins = parts[0].unionAll(parts[1])
    tot = bins.groupBy("feature").agg(
        F.sum("n_good").cast("long").alias("g_tot"),
        F.sum(F.col("n") - F.col("n_good")).cast("long").alias("b_tot"),
    )
    gq = (F.col("n_good") + 0.5) / F.col("g_tot")
    bq = (F.col("n") - F.col("n_good") + 0.5) / F.col("b_tot")
    woe = F.log(gq / bq)
    scored = bins.join(F.broadcast(tot), "feature").select(
        "feature",
        "bin",
        "n",
        "n_good",
        (F.col("n") - F.col("n_good")).cast("long").alias("n_bad"),
        woe.alias("woe_d"),
        ((gq - bq) * woe).alias("ivc_d"),
    )
    w = Window.partitionBy("feature")
    return (
        scored.select(
            "feature",
            "bin",
            "n",
            "n_good",
            "n_bad",
            F.col("woe_d").cast("float").alias("woe"),
            F.col("ivc_d").cast("float").alias("iv_contrib"),
            F.sum("ivc_d").over(w).cast("float").alias("feature_iv"),
        )
        .orderBy("feature", "bin")
    )
