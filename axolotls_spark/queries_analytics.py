"""Sequence/product analytics over ``events`` + sparse-vector
similarity over ``documents`` + manual join pruning.

SURVEY §2B extensions. The reference has no sequence or similarity
operators at all (its entire surface is element-wise math,
``numeric_column.py:76-125``); these are the classic large-scale
behavioural-analytics shapes (funnel, cohort retention) and the
sparse counterpart of the dense embedding similarity in
``operators/similarity.py``.

Scale notes are on each query; the common theme is ONE shuffle per
corpus-sized relation: funnels fold per-user sorted arrays after a
single groupBy, retention derives cohorts from a ``collect_set``
aggregate rather than a second window shuffle, and sparse cosine
bounds its pair fan-out with a document-frequency prune (the DIMSUM
trick) before the self-join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.cacheutil import materialize
from axolotls_spark.functions.arrays import ordered_pairs
from axolotls_spark.io.sources import load_table, spread_for_cpu
from axolotls_spark.operators.dedup import tokens_col
from axolotls_spark.operators.graph import apsp, hits, kcore, pagerank
from axolotls_spark.registry import register, stable_f32

# --------------------------------------------------------------------------
# Funnel: strict-ordered view -> click -> purchase


def _funnel_step(acc, x):
    """One fold step over a time-sorted (ts, event_type) array:
    latch first view, first click strictly after it, first purchase
    strictly after that. Pure column algebra — shared by the query
    and the property tests (tests/test_properties.py)."""
    return F.struct(
        F.when(acc.t1.isNull() & (x.event_type == F.lit("view")), x.ts)
        .otherwise(acc.t1)
        .alias("t1"),
        F.when(
            acc.t2.isNull()
            & acc.t1.isNotNull()
            & (x.event_type == F.lit("click"))
            & (x.ts > acc.t1),
            x.ts,
        )
        .otherwise(acc.t2)
        .alias("t2"),
        F.when(
            acc.t3.isNull()
            & acc.t2.isNotNull()
            & (x.event_type == F.lit("purchase"))
            & (x.ts > acc.t2),
            x.ts,
        )
        .otherwise(acc.t3)
        .alias("t3"),
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
            AND CAST(e.ts AS TIMESTAMP) > v.t1
        WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
            AND CAST(e.ts AS TIMESTAMP) > c.t2
        WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT
        (SELECT COUNT(DISTINCT user_id) FROM events
         WHERE event_type IN ('view', 'click', 'purchase')) AS n_users,
        (SELECT COUNT(*) FROM v) AS n_view,
        (SELECT COUNT(*) FROM c) AS n_click_after_view,
        (SELECT COUNT(*) FROM p) AS n_purchase_after_click
    """,
    tags=("funnel", "sequence-analytics", "higher-order", "single-shuffle"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-ordered funnel: first view, first click AFTER that
    view, first purchase AFTER that click; counts users reaching
    each stage.

    Scale shape: ONE shuffle (groupBy user), then a map-side
    ``aggregate`` fold over each user's time-sorted event array —
    the oracle's three self-joins would be three corpus shuffles.
    Per-user state is 3 timestamps, so skewed users cost memory only
    in their (bounded) collected arrays.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    per_user = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    null_ts = F.lit(None).cast("timestamp_ntz")
    fold = F.aggregate(
        "evs",
        F.struct(
            null_ts.alias("t1"), null_ts.alias("t2"), null_ts.alias("t3")
        ),
        _funnel_step,
    )
    return per_user.select(fold.alias("f")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("f.t1").alias("n_view"),
        F.count("f.t2").alias("n_click_after_view"),
        F.count("f.t3").alias("n_purchase_after_click"),
    )


# --------------------------------------------------------------------------
# Weekly cohort retention


@register(
    "retention_cohorts",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(DATE_TRUNC('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        FROM events
    ),
    c AS (SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY 1)
    SELECT c.cohort_week,
           CAST(DATEDIFF('day', c.cohort_week, uw.wk) / 7 AS INT)
               AS week_offset,
           COUNT(*) AS n_users
    FROM uw JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("retention", "cohort", "sequence-analytics", "single-shuffle"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-
    active week, counted in each later week they return.

    Scale shape: one groupBy(user) shuffle collecting the (tiny)
    distinct-week set; cohort = array_min of that set, offsets via
    explode — all map-side after the single exchange. The naive
    plan (distinct + window-min + second aggregate) shuffles the
    corpus twice.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    )
    pu = e.groupBy("user_id").agg(F.collect_set("wk").alias("wks"))
    exploded = pu.select(
        F.array_min("wks").alias("cohort_week"),
        F.explode("wks").alias("wk"),
    )
    return exploded.groupBy(
        "cohort_week",
        (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


# --------------------------------------------------------------------------
# Manual bloom-filter semi-join pruning


@register(
    "bloom_prejoin_filter",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           l.l_extendedprice * (1 - l.l_discount) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
    tags=("join-pruning", "bloom-filter", "runtime-filter", "join"),
)
def bloom_prejoin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join lineitem to urgent orders with an explicit bloom-filter
    pre-prune on the fact side — the manual form of Spark's
    InjectRuntimeFilter (whose ``bloom_filter_agg`` is internal-only
    in Spark 4, so the bitset is built from user-level primitives:
    xxhash64 → bit position, ``bit_or`` per 64-bit word).

    At 100 TB the win is scan-side: the bitset probe rejects most
    lineitem rows BEFORE the join shuffle, so the exchange moves
    ~1/5 of the fact table. Hash collisions only cost shuffle bytes
    (false positives; never false negatives — a member key always
    has its bit set), and the exact hash join afterwards keeps the
    result precise, which is why this stays oracle-checkable. The
    filter itself is a <=64Ki-row (word, mask) relation — a ~512 KB
    broadcast at 2^22 bits, sized for ~1M distinct keys — and both
    build and probe stay inside whole-stage codegen.
    """
    m_bits = 1 << 22
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    urgent = o.select("o_orderkey")
    bloom = (
        urgent.select(
            F.expr(f"pmod(xxhash64(o_orderkey), {m_bits}L)").alias("h")
        )
        .select(
            F.expr("h div 64").alias("wi"),
            F.expr("shiftleft(1L, cast(h % 64 AS INT))").alias("m"),
        )
        .groupBy("wi")
        .agg(F.expr("bit_or(m)").alias("mask"))
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    ).withColumn("h", F.expr(f"pmod(xxhash64(l_orderkey), {m_bits}L)"))
    pruned = (
        l.join(F.broadcast(bloom), F.expr("h div 64") == F.col("wi"))
        .filter(F.expr("(mask >> cast(h % 64 AS INT)) & 1L = 1L"))
    )
    return (
        pruned.join(
            urgent.hint("shuffle_hash"), pruned.l_orderkey == urgent.o_orderkey
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# Sparse TF-IDF cosine pairs (DIMSUM-style df prune)

_MAX_DF_FRAC = 0.25  # terms in >25% of docs are stopwords: pruned
_MIN_COS = 0.30


@register(
    "sparse_cosine_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
        FROM toks GROUP BY doc_id, term
    ),
    n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
    dfreq AS (
        SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY term
    ),
    w AS (
        SELECT t.doc_id, t.term, t.tf * LN((n.n_docs + 1) / (d.df + 1)) AS w
        FROM tf t JOIN dfreq d USING (term), n
        WHERE d.df > 1 AND d.df <= n.n_docs * {_MAX_DF_FRAC}
    ),
    nrm AS (
        SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
    ),
    u AS (
        SELECT w.doc_id, w.term, w.w / nrm.nrm AS uw
        FROM w JOIN nrm USING (doc_id) WHERE nrm.nrm > 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           SUM(a.uw * b.uw) AS cosine
    FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING SUM(a.uw * b.uw) >= {_MIN_COS}
    """,
    tags=("similarity", "sparse-vector", "tfidf", "self-join", "dimsum"),
)
def sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with TF-IDF cosine >= 0.30 via a sparse
    inverted-index self-join — the sparse sibling of
    ``cosine_topk`` (dense embeddings).

    Scale shape (DIMSUM): pair fan-out of an inverted-index join is
    sum(df^2), unbounded on stopwords — so terms with df > 25%·N
    are pruned BEFORE the join (they carry ~no idf weight anyway),
    as are df=1 terms (cannot pair). Weights are L2-normalized
    before pairing so the final aggregate is a plain SUM — no
    norm join after the (largest) pair relation.
    """
    docs = spread_for_cpu(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    # tf feeds the df aggregate AND the weight projection; it is not
    # cached, because both re-read its one aggregate exchange.
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    w = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") > 1) & (F.col("df") <= F.col("n_docs") * _MAX_DF_FRAC)
        )
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
            ).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    # Feeds BOTH sides of the self-join below: one normalize pass.
    u = materialize(
        w.join(nrm, "doc_id")
        .filter(F.col("nrm") > 0)
        .select("doc_id", "term", (F.col("w") / F.col("nrm")).alias("uw"))
    )
    a = u.alias("a")
    b = u.alias("b")
    return (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("a.uw") * F.col("b.uw")).alias("cosine"))
        .filter(F.col("cosine") >= _MIN_COS)
    )


# --------------------------------------------------------------------------
# The nation trade graph, shared by the whole graph family


def trade_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_nationkey, c_nationkey, revenue) per lineitem: the one trade
    join every trade-graph query starts from — lineitem ⋈ orders (the
    only fact-to-fact join, one shuffle), then customer and supplier
    broadcast. Queries project, filter and aggregate it into their own
    edge relation (key or name level, weighted or distinct, self-trade
    kept or dropped); at any fact-table scale what comes out is
    ≤ |nations|² edges."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .select(
            "s_nationkey",
            "c_nationkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): supplier-nation name → customer-nation name,
    weighted by total revenue — :func:`trade_facts` with both nation
    names broadcast in, then ONE group-by shuffle over the facts."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        trade_facts(spark, sf_dir)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("ck"),
                                 F.col("n_name").alias("dst"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"),
                                 F.col("n_name").alias("src"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("revenue").alias("w"))
    )


# --------------------------------------------------------------------------
# PageRank over the nation trade graph (aggregate-then-iterate)

# The oracle twin of trade_edges().
_TRADE_EDGES_SQL = """
        SELECT ns.n_name AS src, nc.n_name AS dst,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
        GROUP BY 1, 2
"""

_PR_EDGES_SQL = f"""
    edges AS ({_TRADE_EDGES_SQL}),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    ncnt AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
    ow AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
    t AS (SELECT e.src, e.dst, e.w / ow.ow AS wn FROM edges e JOIN ow USING (src)),
    r0 AS (SELECT node, 1.0 / ncnt.n AS rank FROM nodes CROSS JOIN ncnt)
"""


def _pr_iter_sql(i: int) -> str:
    return f""",
    r{i} AS (
        SELECT nodes.node,
               (1 - 0.85) / ncnt.n
                 + 0.85 * COALESCE(c.s, 0.0) AS rank
        FROM nodes
        CROSS JOIN ncnt
        LEFT JOIN (
            SELECT t.dst, SUM(r{i - 1}.rank * t.wn) AS s
            FROM t JOIN r{i - 1} ON t.src = r{i - 1}.node
            GROUP BY t.dst
        ) c ON nodes.node = c.dst
    )"""


_PR_ORACLE = (
    "WITH " + _PR_EDGES_SQL
    + "".join(_pr_iter_sql(i) for i in range(1, 6))
    + "\n    SELECT node AS nation, CAST(rank AS REAL) AS pagerank FROM r5"
)


@register(
    "pagerank_trade_graph",
    oracle=_PR_ORACLE,
    tags=("graph", "pagerank", "iterative", "broadcast", "agg"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank of the nation-to-nation trade graph (supplier nation
    → customer nation, edge weight = revenue), 5 damped power
    iterations — relational graph analytics in the k-means mold
    (operators/clustering.py): NO driver loop state, no collect.

    Scale shape: the ONLY corpus-sized work is the edge aggregation
    (lineitem joined to broadcast dimensions, one shuffle for the
    groupBy); the graph that comes out is |nations|² at most, so it
    collects into one row and all power iterations run inside one
    array ``aggregate`` over a 25-entry rank map — no join or
    exchange per iteration. 100 TB of facts, 25-node graph:
    aggregate-then-iterate.
    """
    return pagerank(trade_edges(spark, sf_dir)).select(
        F.col("node").alias("nation"),
        F.col("rank").cast("float").alias("pagerank"),
    )


# --------------------------------------------------------------------------
# Term co-occurrence PMI (top-V vocabulary bound)

_PMI_V = 200  # vocabulary cap: bounds pair fan-out to V^2
_PMI_MIN_PAIRS = 5


@register(
    "cooccurrence_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
    ),
    freq AS (SELECT term, COUNT(*)::DOUBLE AS df FROM toks GROUP BY term),
    vocab AS (
        SELECT term, df FROM freq ORDER BY df DESC, term LIMIT {_PMI_V}
    ),
    tv AS (SELECT t.doc_id, t.term FROM toks t JOIN vocab USING (term)),
    n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b, COUNT(*)::DOUBLE AS n_ab
        FROM tv a JOIN tv b
            ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_PMI_MIN_PAIRS}
    )
    SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(LN(n_ab * n.n_docs / (va.df * vb.df)) AS REAL) AS pmi
    FROM pairs
    JOIN vocab va ON pairs.term_a = va.term
    JOIN vocab vb ON pairs.term_b = vb.term
    CROSS JOIN n
    ORDER BY n_ab * n.n_docs / (va.df * vb.df) DESC, term_a, term_b
    LIMIT 50
    """,
    tags=("text-analysis", "pmi", "cooccurrence", "self-join", "topk"),
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 term pairs by pointwise mutual information (document-
    level co-occurrence) over a capped vocabulary.

    Scale shape: the vocabulary is cut to the top-{_PMI_V} terms via
    distributed top-k (TakeOrderedAndProject — never a global
    single-partition window) and broadcast, so the pair join's
    fan-out is bounded by V² regardless of corpus size. Ranking uses
    the rational ratio n_ab·N/(df_a·df_b) rather than its log — IEEE
    division is bit-identical across engines, LN's last ulp is not —
    with the PMI itself emitted for the value compare (9 sig digits).
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    # Persisted: the distinct (doc, term) relation feeds BOTH the
    # document-frequency aggregate (via the vocab cut) and the pair
    # expansion — without the pin the corpus tokenize+distinct ran
    # once per consumer (r8 §5).
    toks = (
        docs.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .distinct()
        .persist()
    )
    freq = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    vocab = freq.orderBy(F.col("df").desc(), "term").limit(_PMI_V)
    tv = toks.join(F.broadcast(vocab.select("term")), "term")
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # Pair generation by per-doc combination expansion over ONE
    # doc_id exchange (the bucket_group_pairs pattern) instead of a
    # self-join that exchanged and sorted both cache reads separately
    # (r8 §2.4).  Per-doc vocab-token lists are bounded by the V-term
    # vocabulary cut, so the inline quadratic expansion is bounded by
    # min(V, doc_len)² per document — identical pairs, same counts.
    plists = tv.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("term")).alias("ts")
    )
    combos = ordered_pairs("ts", "term_a", "term_b")
    pairs = (
        plists.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.term_a").alias("term_a"),
            F.col("p.term_b").alias("term_b"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIRS)
    )
    va = vocab.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    ratio = F.col("n_ab") * F.col("n_docs") / (F.col("df_a") * F.col("df_b"))
    return (
        pairs.join(F.broadcast(va), "term_a")
        .join(F.broadcast(vb), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.log(ratio).cast("float").alias("pmi"),
            ratio.alias("_r"),
        )
        .orderBy(F.col("_r").desc(), "term_a", "term_b")
        .limit(50)
        .drop("_r")
    )


# --------------------------------------------------------------------------
# Batch interval join via time-bucketing (scalable range join)

_ATTR_WINDOW_S = 1800  # purchase within 30 min after a click


@register(
    "interval_join_attribution",
    oracle=f"""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id,
           DATEDIFF('second', CAST(c.ts AS TIMESTAMP),
                    CAST(p.ts AS TIMESTAMP)) AS lag_s
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) > CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP)
         <= CAST(c.ts AS TIMESTAMP) + INTERVAL {_ATTR_WINDOW_S} SECOND
    WHERE c.event_type = 'click'
    """,
    tags=("interval-join", "range-join", "bucketing", "attribution"),
)
def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution as a BATCH interval join: every
    purchase by the same user within 30 min after a click (the batch
    twin of streaming_attribution_join).

    Scale shape: a naive range join on (user, time-range) degrades
    to per-user nested loops. Instead each click is replicated into
    its two covering 30-min buckets, the join runs on the composite
    EQUI key (user_id, bucket) — hash join, AQE-skew-splittable —
    and the exact range predicate filters residually. Each matching
    pair meets exactly once because a purchase lives in exactly one
    bucket. Replication factor is a constant 2, independent of data
    volume or window size.
    """
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        (F.unix_timestamp("ts") / _ATTR_WINDOW_S).cast("long").alias("bkt"),
    )
    c2 = clicks.withColumn(
        "bkt",
        F.explode(
            F.array(
                (F.unix_timestamp("click_ts") / _ATTR_WINDOW_S).cast("long"),
                (F.unix_timestamp("click_ts") / _ATTR_WINDOW_S).cast("long")
                + 1,
            )
        ),
    )
    return (
        c2.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (c2.bkt == purchases.bkt),
        )
        .filter(
            (F.col("purchase_ts") > F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr(f"INTERVAL {_ATTR_WINDOW_S} SECOND")
            )
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
            ).cast("int").alias("lag_s"),
        )
    )


# --------------------------------------------------------------------------
# A/B experiment readout: deterministic hash split + Welch's t


@register(
    "ab_test_welch",
    oracle="""
    WITH assigned AS (
        SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
                         % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT arm, COUNT(*)::DOUBLE AS n, AVG(value) AS mean,
               VAR_SAMP(value) AS var
        FROM assigned GROUP BY arm
    )
    SELECT a.n AS n_a, b.n AS n_b,
           CAST(a.mean AS REAL) AS mean_a, CAST(b.mean AS REAL) AS mean_b,
           CAST((a.mean - b.mean)
           / SQRT(a.var / a.n + b.var / b.n) AS REAL) AS t_stat
    FROM (SELECT * FROM s WHERE arm = 'A') a
    CROSS JOIN (SELECT * FROM s WHERE arm = 'B') b
    """,
    tags=("ab-test", "experiment", "statistics", "hash-split", "agg"),
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: deterministic content-hash user split
    into arms A/B (reproducible on every engine/run — the same
    property the sampling family relies on), then Welch's
    t-statistic on purchase value between arms.

    Scale shape: assignment is a map-side hash expression (no
    randomness, no shuffle); the whole readout is ONE grouped
    aggregate producing two rows, pivoted by a self-cross of 1-row
    relations. At 100 TB this is a single corpus pass — the
    experiment-analysis primitive metric pipelines run daily.
    """
    from axolotls_spark.operators.dedup import token_hash

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    assigned = e.select(
        F.when(
            token_hash(F.col("user_id").cast("string")) % 2 == 0, "A"
        )
        .otherwise("B")
        .alias("arm"),
        "value",
    )
    s = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("var"),
    )
    a = s.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = s.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        (
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b"))
        ).alias("t_stat"),
    ).transform(lambda df: stable_f32(df, "mean_a", "mean_b", "t_stat"))


# --------------------------------------------------------------------------
# CUPED variance-reduced experiment readout


@register(
    "cuped_adjusted_lift",
    oracle="""
    WITH per AS (
        SELECT o_custkey AS cust,
               SUM(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01'
                        THEN o_totalprice ELSE 0 END) AS x,
               SUM(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
                        THEN o_totalprice ELSE 0 END) AS y
        FROM orders GROUP BY 1
    ),
    armed AS (
        SELECT CASE WHEN ('0x' || substr(md5(cust::VARCHAR), 1, 15))::BIGINT
                         % 2 = 0
                    THEN 'T' ELSE 'C' END AS arm,
               x, y
        FROM per
    ),
    st AS (
        SELECT AVG(x) AS mx, COVAR_SAMP(x, y) / VAR_SAMP(x) AS theta
        FROM armed
    ),
    adj AS (
        SELECT arm, y, y - st.theta * (x - st.mx) AS ya
        FROM armed CROSS JOIN st
    ),
    g AS (SELECT VAR_SAMP(y) AS vy, VAR_SAMP(ya) AS vya FROM adj),
    s AS (
        SELECT arm, COUNT(*) AS n, AVG(y) AS my, AVG(ya) AS mya
        FROM adj GROUP BY arm
    )
    SELECT CAST(t.n AS BIGINT) AS n_treat, CAST(c.n AS BIGINT) AS n_control,
           CAST(st.theta AS REAL) AS theta,
           CAST(t.my - c.my AS REAL) AS diff_raw,
           CAST(t.mya - c.mya AS REAL) AS diff_cuped,
           CAST(1.0 - g.vya / g.vy AS REAL) AS var_reduction
    FROM (SELECT * FROM s WHERE arm = 'T') t
    CROSS JOIN (SELECT * FROM s WHERE arm = 'C') c
    CROSS JOIN st CROSS JOIN g
    """,
    tags=("ab-test", "cuped", "variance-reduction", "experiment",
          "statistics"),
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al., WSDM'13) experiment readout: the
    treatment-effect estimate on post-period customer spend, variance-
    reduced by each customer's PRE-period spend as the control
    covariate — y_adj = y − θ·(x − x̄) with θ = cov(x,y)/var(x). The
    industry-standard upgrade to ab_test_welch: same deterministic
    hash split, but the pre-experiment covariate absorbs
    between-customer variance, shrinking the confidence interval
    without touching the expected lift. Reports the raw and adjusted
    arm differences plus the achieved variance reduction.

    Scale shape: ONE grouped pass over orders builds per-customer
    (pre, post) spend via conditional sums; θ and x̄ are a 1-row
    broadcast aggregate; the adjusted readout is one more grouped
    aggregate over the per-customer relation. Three corpus-free
    scalar relations pivot the two arms — no shuffle wider than the
    per-customer groupBy.
    """
    from axolotls_spark.operators.dedup import token_hash

    split = F.lit("1999-01-01").cast("timestamp")
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(
            F.when(F.col("o_orderdate") < split, F.col("o_totalprice"))
            .otherwise(0.0)
        ).alias("x"),
        F.sum(
            F.when(F.col("o_orderdate") >= split, F.col("o_totalprice"))
            .otherwise(0.0)
        ).alias("y"),
    )
    armed = per.select(
        F.when(token_hash(F.col("cust").cast("string")) % 2 == 0, "T")
        .otherwise("C")
        .alias("arm"),
        "x",
        "y",
    )
    st = armed.agg(
        F.avg("x").alias("mx"),
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("theta"),
    )
    adj = armed.crossJoin(F.broadcast(st)).select(
        "arm",
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("mx"))).alias(
            "ya"
        ),
    )
    g = adj.agg(
        F.var_samp("y").alias("vy"), F.var_samp("ya").alias("vya")
    )
    s = adj.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("my"),
        F.avg("ya").alias("mya"),
    )
    t = s.filter(F.col("arm") == "T").select(
        F.col("n").alias("n_treat"),
        F.col("my").alias("my_t"),
        F.col("mya").alias("mya_t"),
    )
    c = s.filter(F.col("arm") == "C").select(
        F.col("n").alias("n_control"),
        F.col("my").alias("my_c"),
        F.col("mya").alias("mya_c"),
    )
    return (
        t.crossJoin(c)
        .crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(g))
        .select(
            F.col("n_treat").cast("long").alias("n_treat"),
            F.col("n_control").cast("long").alias("n_control"),
            F.col("theta").cast("float").alias("theta"),
            (F.col("my_t") - F.col("my_c")).cast("float").alias("diff_raw"),
            (F.col("mya_t") - F.col("mya_c"))
            .cast("float")
            .alias("diff_cuped"),
            (F.lit(1.0) - F.col("vya") / F.col("vy"))
            .cast("float")
            .alias("var_reduction"),
        )
    )


# --------------------------------------------------------------------------
# Difference-in-differences: 2x2 pre/post x treat/control readout


@register(
    "diff_in_diff_readout",
    oracle="""
    WITH cells AS (
        SELECT CASE WHEN ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))
                         ::BIGINT % 2 = 0
                    THEN 'T' ELSE 'C' END AS arm,
               CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
                    THEN 'post' ELSE 'pre' END AS period,
               o_totalprice AS v
        FROM orders
    ),
    s AS (
        SELECT arm, period, COUNT(*) AS n, AVG(v) AS mean_v
        FROM cells GROUP BY arm, period
    )
    SELECT s.arm, s.period, CAST(s.n AS BIGINT) AS n,
           CAST(s.mean_v AS REAL) AS mean_v,
           CAST((tpost.mean_v - tpre.mean_v)
                - (cpost.mean_v - cpre.mean_v) AS REAL) AS did_estimate
    FROM s
    CROSS JOIN (SELECT mean_v FROM s WHERE arm = 'T' AND period = 'post') tpost
    CROSS JOIN (SELECT mean_v FROM s WHERE arm = 'T' AND period = 'pre') tpre
    CROSS JOIN (SELECT mean_v FROM s WHERE arm = 'C' AND period = 'post') cpost
    CROSS JOIN (SELECT mean_v FROM s WHERE arm = 'C' AND period = 'pre') cpre
    ORDER BY s.arm, s.period
    """,
    tags=("ab-test", "difference-in-differences", "causal", "experiment",
          "statistics"),
)
def diff_in_diff_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: per-order spend means in the
    2×2 (treatment, period) grid plus the DiD estimate
    (ΔT − ΔC) — the causal-inference workhorse when treatment
    rolls out at a known date and a parallel-trends control group
    absorbs the secular drift that a naive pre/post comparison
    mistakes for effect. Completes the experimentation trio:
    ab_test_welch (post-only), cuped_adjusted_lift (pre-period
    covariate), diff_in_diff (pre/post trend differencing).

    Scale shape: assignment and period are map-side expressions; the
    whole readout is ONE grouped aggregate into a 4-row grid; the
    DiD scalar is assembled by broadcasting the four 1-row cell
    relations back onto the grid. A single corpus pass at any scale.
    """
    from axolotls_spark.operators.dedup import token_hash

    split = F.lit("1999-01-01").cast("timestamp")
    o = load_table(spark, sf_dir, "orders")
    cells = o.select(
        F.when(token_hash(F.col("o_custkey").cast("string")) % 2 == 0, "T")
        .otherwise("C")
        .alias("arm"),
        F.when(F.col("o_orderdate") >= split, "post")
        .otherwise("pre")
        .alias("period"),
        F.col("o_totalprice").alias("v"),
    )
    s = cells.groupBy("arm", "period").agg(
        F.count(F.lit(1)).alias("n"), F.avg("v").alias("mean_v")
    ).persist()

    def cell(arm: str, period: str, name: str) -> DataFrame:
        return s.filter(
            (F.col("arm") == arm) & (F.col("period") == period)
        ).select(F.col("mean_v").alias(name))

    return (
        s.crossJoin(F.broadcast(cell("T", "post", "tpost")))
        .crossJoin(F.broadcast(cell("T", "pre", "tpre")))
        .crossJoin(F.broadcast(cell("C", "post", "cpost")))
        .crossJoin(F.broadcast(cell("C", "pre", "cpre")))
        .select(
            "arm",
            "period",
            F.col("n").cast("long").alias("n"),
            F.col("mean_v").cast("float").alias("mean_v"),
            (
                (F.col("tpost") - F.col("tpre"))
                - (F.col("cpost") - F.col("cpre"))
            )
            .cast("float")
            .alias("did_estimate"),
        )
        .orderBy("arm", "period")
    )


# --------------------------------------------------------------------------
# Poisson bootstrap: distributed confidence interval for a corpus mean

# Cumulative Poisson(1) CDF breakpoints: P(X <= k) = e^-1 * sum 1/i!.
# Shared literal text drives the identical inverse-CDF CASE ladder in
# Spark and the DuckDB oracle, so replicate weights match bit-for-bit.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)
_BOOT_B = 32  # bootstrap replicates
_BOOT_U = (
    "(('0x' || substr(md5(k || ':' || b), 1, 13))::BIGINT"
    " / 4503599627370496.0)"
)
_BOOT_W_SQL = "CASE " + " ".join(
    f"WHEN u < CAST({c!r} AS DOUBLE) THEN {i}"
    for i, c in enumerate(_POIS_CDF)
) + " ELSE 7 END"


@register(
    "bootstrap_ci_poisson",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey::VARCHAR AS k, o_totalprice AS v FROM orders
    ),
    ex AS (
        SELECT k, v, unnest(range(0, {_BOOT_B}))::VARCHAR AS b FROM o
    ),
    u AS (SELECT b, v, {_BOOT_U} AS u FROM ex),
    w AS (SELECT b, v, {_BOOT_W_SQL} AS wt FROM u),
    rm AS (SELECT b, SUM(wt * v) / SUM(wt) AS m FROM w GROUP BY b),
    rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM rm),
    fs AS (SELECT COUNT(*) AS n, AVG(v) AS point_mean FROM o)
    SELECT CAST(fs.n AS BIGINT) AS n_orders,
           CAST(fs.point_mean AS REAL) AS point_mean,
           CAST((SELECT AVG(m) FROM rm) AS REAL) AS boot_mean,
           CAST((SELECT STDDEV_SAMP(m) FROM rm) AS REAL) AS boot_se,
           CAST((SELECT m FROM rk WHERE r = 2) AS REAL) AS ci_lo,
           CAST((SELECT m FROM rk WHERE r = {_BOOT_B - 1}) AS REAL) AS ci_hi
    FROM fs
    """,
    tags=("bootstrap", "poisson", "confidence-interval", "statistics",
          "experiment"),
)
def bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Hanley & MacGibbon; the Google/Meta metric-
    pipeline standard) confidence interval for mean order value:
    classical bootstrap resampling needs N global draws per replicate
    — impossible distributed — but Binomial(N, 1/N) → Poisson(1), so
    each row independently contributes a deterministic pseudo-Poisson
    weight per replicate and every replicate mean is a weighted
    aggregate. Reports the point estimate, bootstrap mean/SE, and the
    rank-based 2nd..{_BOOT_B - 1}th order-statistic interval of the
    {_BOOT_B} replicate means.

    Replicate weights come from an md5-derived uniform pushed through
    the shared inverse-CDF ladder (_POIS_CDF literals), so Spark and
    the oracle agree bit-for-bit — no RNG, reproducible on any
    engine, any partitioning, any run.

    Scale shape: a constant ×{_BOOT_B} map-side explode (no join, no
    state), then ONE grouped aggregate to the {_BOOT_B}-row replicate
    relation; ranking/percentiles run on those {_BOOT_B} rows. At
    100 TB the explode factor is the only cost knob — exactly how
    production metric pipelines bootstrap trillions of rows.
    """
    # The ×B explode + per-row md5 ladder runs in the SCAN stage, and
    # a single-row-group parquet file is one unsplittable partition —
    # measured 4.3 s of md5 on one task while 31 cores idled.
    o = spread_for_cpu(
        load_table(spark, sf_dir, "orders"), "o_orderkey"
    ).select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_totalprice").alias("v"),
    )
    ex = o.select(
        "k",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("bi"),
    ).select("k", "v", F.col("bi").cast("string").alias("b"))
    u = ex.select(
        "b",
        "v",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("k"), F.lit(":"), F.col("b"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(4503599627370496.0)
        ).alias("u"),
    )
    wt = F.lit(7)
    for i in range(len(_POIS_CDF) - 1, -1, -1):
        wt = F.when(F.col("u") < F.lit(_POIS_CDF[i]), i).otherwise(wt)
    w = u.select("b", "v", wt.alias("wt"))
    rm = w.groupBy("b").agg(
        (F.sum(F.col("wt") * F.col("v")) / F.sum("wt")).alias("m")
    ).persist()
    rk = rm.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("r")
    )
    stats = rm.agg(
        F.avg("m").alias("boot_mean"), F.stddev_samp("m").alias("boot_se")
    )
    lo = rk.filter(F.col("r") == 2).select(F.col("m").alias("ci_lo"))
    hi = rk.filter(F.col("r") == _BOOT_B - 1).select(
        F.col("m").alias("ci_hi")
    )
    fs = o.agg(
        F.count(F.lit(1)).alias("n_orders"), F.avg("v").alias("point_mean")
    )
    return (
        fs.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("point_mean").cast("float").alias("point_mean"),
            F.col("boot_mean").cast("float").alias("boot_mean"),
            F.col("boot_se").cast("float").alias("boot_se"),
            F.col("ci_lo").cast("float").alias("ci_lo"),
            F.col("ci_hi").cast("float").alias("ci_hi"),
        )
    )


# --------------------------------------------------------------------------
# DAU / rolling 7-day active users (distinct over sliding windows)


@register(
    "dau_wau_rolling",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS day,
               user_id
        FROM events
    ),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM du),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
    cover AS (
        SELECT DISTINCT
               CAST(UNNEST(generate_series(du.day, du.day + 6,
                                           INTERVAL 1 DAY)) AS DATE)
                   AS day,
               du.user_id
        FROM du
    ),
    wau AS (
        SELECT c.day, COUNT(*) AS wau
        FROM cover c, bounds b
        WHERE c.day <= b.d1
        GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau
    FROM dau d JOIN wau w USING (day)
    """,
    tags=("dau-wau", "rolling-distinct", "product-metrics", "explode"),
)
def dau_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + trailing-7-day active users per day —
    the DAU/WAU product metric, which needs DISTINCT over a sliding
    window (not a sum, so no window-frame aggregate applies).

    Scale shape: the corpus collapses to distinct (day, user) pairs
    first (one shuffle over corpus-sized data); each pair then
    CONTRIBUTES itself to the 7 cover days via sequence+explode —
    constant 7× replication of the already-small pair relation,
    followed by distinct + count. This is the standard scalable
    rewrite of rolling COUNT(DISTINCT); the naive per-day self-join
    re-scans the pair relation once per window day.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
    )
    du = e.distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    d1 = du.agg(F.max("day").alias("d1"))
    cover = (
        du.select(
            F.explode(
                F.sequence("day", F.date_add("day", 6))
            ).alias("day"),
            "user_id",
        )
        .distinct()
    )
    wau = (
        cover.crossJoin(F.broadcast(d1))
        .filter(F.col("day") <= F.col("d1"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return dau.join(wau, "day")


# --------------------------------------------------------------------------
# Event-transition matrix (first-order Markov over per-user sequences)


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type,
               COUNT(*)::DOUBLE AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT from_type, SUM(n) AS tot FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n_transitions,
           p.n / t.tot AS prob
    FROM pairs p JOIN totals t USING (from_type)
    """,
    tags=("markov", "sequence-analytics", "window", "lead"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), with tie-stable
    ordering (ts, event_id) so both engines pair identically.

    Scale shape: one window shuffle on user_id (the sequence
    partitioning the data already demands), then two tiny aggregates
    — the transition relation is |types|² rows no matter the corpus.
    The journey-mining primitive behind next-action prediction and
    anomalous-flow detection.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n_transitions"),
            (F.col("n") / F.col("tot")).alias("prob"),
        )
    )


# --------------------------------------------------------------------------
# Market-basket brand affinity (bounded per-basket pair explosion)


@register(
    "basket_brand_affinity",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS support
        FROM ob a JOIN ob b
            ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, support
    FROM pairs
    ORDER BY support DESC, brand_a, brand_b
    LIMIT 25
    """,
    tags=("market-basket", "affinity", "self-join", "topk"),
)
def basket_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 brand pairs co-purchased in the same order — the
    market-basket affinity primitive behind recommendations.

    Scale shape: the self-join is keyed on l_orderkey and baskets
    are bounded (~7 lines/order), so pair fan-out is a small
    constant × |orders| — unlike unconstrained item-item joins.
    The part dimension broadcasts; one shuffle keys the basket
    relation; top-k is distributed TakeOrderedAndProject with full
    tie-breaks so both engines cut identical rows.
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.alias("a")
    b = ob.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "brand_a", "brand_b")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Key-skew diagnostic profile


@register(
    "key_skew_profile",
    oracle="""
    WITH k AS (
        SELECT o_custkey AS key, COUNT(*)::DOUBLE AS n
        FROM orders GROUP BY 1
    ),
    s AS (SELECT SUM(n) AS tot, COUNT(*)::DOUBLE AS n_keys,
                 MAX(n) AS max_n, AVG(n) AS mean_n
          FROM k)
    SELECT CAST(s.n_keys AS BIGINT)        AS n_keys,
           s.max_n / s.mean_n              AS max_over_mean,
           s.max_n / s.tot                 AS max_share,
           CAST(SUM((k.n / s.tot) * (k.n / s.tot)) AS REAL) AS hhi
    FROM k CROSS JOIN s
    GROUP BY s.n_keys, s.max_n, s.mean_n, s.tot
    """,
    tags=("skew", "diagnostics", "profiling", "agg"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation-key skew diagnostics for orders.o_custkey:
    max/mean ratio, the heaviest key's share, and the Herfindahl
    index of the key distribution — the pre-flight check that says
    whether a shuffle on this key needs salting or AQE skew
    handling BEFORE the job runs at 100 TB.

    Scale shape: one key-count aggregate (the same shuffle the
    prospective join would do, but emitting only |keys| rows), a
    1-row stats aggregate broadcast back, one tiny final aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    s = k.agg(
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).cast("double").alias("n_keys"),
        F.max("n").alias("max_n"),
        F.avg("n").alias("mean_n"),
    )
    share = F.col("n") / F.col("tot")
    return (
        k.crossJoin(F.broadcast(s))
        .groupBy("n_keys", "max_n", "mean_n", "tot")
        .agg(F.sum(share * share).alias("hhi"))
        .select(
            F.col("n_keys").cast("long").alias("n_keys"),
            (F.col("max_n") / F.col("mean_n")).alias("max_over_mean"),
            (F.col("max_n") / F.col("tot")).alias("max_share"),
            F.col("hhi").cast("float").alias("hhi"),
        )
    )


# --------------------------------------------------------------------------
# Salted two-phase aggregation (skew mitigation, semantics-preserving)


@register(
    "skew_salted_aggregate",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           CAST(COUNT(*) AS BIGINT)        AS n_rows,
           MAX(l_extendedprice)            AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("skew", "salting", "agg", "two-phase"),
)
def skew_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation over lineitem.l_returnflag —
    three giant groups, the worst-case hot-key aggregation shape.
    Phase 1 groups by (key, salt) so each hot key spreads over 16
    reducers; phase 2 merges the ≤ 3·16 partials by key
    (operators/skew.py salted_aggregate, salt derived from row
    hashes, not rand(), so speculative retries are deterministic).

    The oracle is the PLAIN single-phase GROUP BY — certifying that
    salting is invisible to results. Emitted aggregates are chosen
    order-stable (integer-valued SUM, COUNT, MAX), so partial/merge
    regrouping cannot move a floating-point ulp.
    """
    from axolotls_spark.operators import skew

    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_quantity", "l_extendedprice"
    )
    out = skew.salted_aggregate(
        l,
        keys=["flag"],
        partial_aggs={
            "p_qty": F.sum("l_quantity"),
            "p_n": F.count(F.lit(1)),
            "p_max": F.max("l_extendedprice"),
        },
        merge_aggs={
            "sum_qty": F.sum("p_qty").cast("long"),
            "n_rows": F.sum("p_n").alias("n_rows"),
            "max_price": F.max("p_max"),
        },
    )
    return out.select("flag", "sum_qty", "n_rows", "max_price")


@register(
    "skew_salted_join",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("skew", "salting", "join", "broadcast"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe probe join: orders (the skewed probe side — hot
    customers concentrate o_custkey) joins customer through
    ``salted_broadcast_join``, which scatters each probe row over 8
    salt shards and replicates the broadcast build side per shard,
    so a hot key's rows land on 8 executors instead of one.

    The oracle is the PLAIN equi-join — certifying the salted plan
    returns byte-identical results. Revenue is summed in exact
    integer cents (SCALE.md money rule) so the emit is order-stable
    under the extra regrouping.
    """
    from axolotls_spark.operators import skew

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = skew.salted_broadcast_join(o, c, ["o_custkey"], n_salts=8)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )


# --------------------------------------------------------------------------
# Top session paths (first-3-event journeys)


@register(
    "top_session_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM seq WHERE rn <= 3
        GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
    tags=("path-analysis", "sequence-analytics", "window", "topk"),
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 opening journeys: each user's first three events (tie-
    stable order) concatenated into a path string, counted across
    users — the path-analysis primitive behind onboarding funnels.

    Scale shape: one window shuffle on user (rank + keep first 3),
    then the path aggregate runs over ≤3 rows per user; the path
    relation is tiny and the top-k is distributed. No per-user
    driver loops, no Python.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    paths = seq.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Triangle counting on the trade graph


@register(
    "graph_triangle_count",
    oracle="""
    WITH e0 AS (
        SELECT DISTINCT ns.n_name AS u, nc.n_name AS v
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
        WHERE ns.n_name <> nc.n_name
    ),
    und AS (
        SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM e0
        GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_triangles
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    WHERE e1.a < e1.b AND e2.a < e2.b
    """,
    tags=("graph", "triangle-count", "self-join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the undirected nation trade graph — the
    clustering-coefficient numerator, and the canonical pattern for
    multi-way self-joins on an aggregated edge relation.

    Scale shape: same aggregate-then-iterate discipline as PageRank
    — the corpus collapses to a distinct edge set ONCE (dims
    broadcast), edges canonicalize a<b so each triangle is counted
    exactly once via the ordered two-hop + closing-edge join; the
    joins run on the tiny edge relation, never the facts.
    """
    # The canonical edge relation feeds all three legs of the
    # triangle join — persist it, or the whole fact-table lineage
    # (6 scans) executes once PER LEG (18 scans total).
    und = (
        trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .persist()
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


# --------------------------------------------------------------------------
# Chi-square test of independence (lang x source)


@register(
    "chisq_lang_source",
    oracle="""
    WITH obs AS (
        SELECT lang, source, COUNT(*)::DOUBLE AS o
        FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY 1),
    ct AS (SELECT source, SUM(o) AS c FROM obs GROUP BY 1),
    n AS (SELECT SUM(o) AS n FROM obs)
    SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_langs,
           CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_sources,
           CAST(SUM((obs.o - rt.r * ct.c / n.n) * (obs.o - rt.r * ct.c / n.n)
               / (rt.r * ct.c / n.n)) AS REAL) AS chi2
    FROM obs
    JOIN rt USING (lang)
    JOIN ct USING (source)
    CROSS JOIN n
    """,
    tags=("chi-square", "statistics", "independence", "contingency"),
)
def chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for independence of language and
    source — the categorical counterpart of ab_test_welch: is the
    corpus's language mix uniform across sources, or do sources
    specialize?

    Scale shape: the contingency table is ONE aggregate over the
    corpus (|langs|x|sources| rows); marginals and the grand total
    derive from it and broadcast back. Note the chi2 sum runs over
    observed cells only — expected-only cells (marginal products
    with zero observed count) are excluded, matching the oracle's
    inner join; dof bookkeeping is the caller's concern.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The tiny contingency table feeds four consumers (marginals,
    # total, the chi2 sum) — persist it so the corpus aggregate runs
    # once instead of once per derivation.
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    ).persist()
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    nl = rt.agg(F.count(F.lit(1)).alias("n_langs"))
    ns = ct.agg(F.count(F.lit(1)).alias("n_sources"))
    exp = F.col("r") * F.col("c") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp).alias("chi2")
        )
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(ns))
        .select(
            "n_langs", "n_sources", F.col("chi2").cast("float").alias("chi2")
        )
    )


# --------------------------------------------------------------------------
# Closed-form multi-feature OLS (normal equations + Cramer's rule)

# Shared scalar algebra over the moment sums — the SAME SQL text runs
# as Spark F.expr and inside the DuckDB oracle, so the engines cannot
# drift. 3x3 system: y ~ b0 + b1*x1 + b2*x2.
_OLS_DET = (
    "(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)"
    " + s2*(s1*s12 - s11*s2))"
)
_OLS_B0 = (
    "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)"
    " + s2*(s1y*s12 - s11*s2y)) / " + _OLS_DET
)
_OLS_B1 = (
    "(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)"
    " + s2*(s1*s2y - s1y*s2)) / " + _OLS_DET
)
_OLS_B2 = (
    "(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)"
    " + sy*(s1*s12 - s11*s2)) / " + _OLS_DET
)
_OLS_SSE = (
    "(syy - 2*(({b0})*sy + ({b1})*s1y + ({b2})*s2y)"
    " + (({b0})*({b0})*n + ({b1})*({b1})*s11 + ({b2})*({b2})*s22"
    "    + 2*({b0})*({b1})*s1 + 2*({b0})*({b2})*s2"
    "    + 2*({b1})*({b2})*s12))"
).format(b0=_OLS_B0, b1=_OLS_B1, b2=_OLS_B2)
_OLS_R2 = f"1 - ({_OLS_SSE}) / (syy - sy*sy/n)"

_OLS_SUMS_SQL = """
        SELECT COUNT(*)::DOUBLE            AS n,
               SUM(l_quantity)             AS s1,
               SUM(l_discount)             AS s2,
               SUM(l_quantity*l_quantity)  AS s11,
               SUM(l_quantity*l_discount)  AS s12,
               SUM(l_discount*l_discount)  AS s22,
               SUM(l_extendedprice)        AS sy,
               SUM(l_extendedprice*l_extendedprice) AS syy,
               SUM(l_quantity*l_extendedprice)      AS s1y,
               SUM(l_discount*l_extendedprice)      AS s2y
        FROM lineitem
"""


@register(
    "ols_normal_equations",
    oracle=f"""
    WITH s AS ({_OLS_SUMS_SQL})
    SELECT CAST(n AS BIGINT) AS n_rows,
           {_OLS_B0} AS b0,
           {_OLS_B1} AS b1,
           {_OLS_B2} AS b2,
           {_OLS_R2} AS r2
    FROM s
    """,
    tags=("regression", "ols", "normal-equations", "statistics", "single-scan"),
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature OLS (price ~ quantity + discount) in closed
    form: ONE scan accumulates the 10 moment sums, then Cramer's
    rule solves the 3x3 normal equations and R² derives from the
    same sums — coefficients, fit quality, zero iterations, zero
    Python, and an EXACT cross-engine oracle (the identical scalar
    algebra text runs on both engines via F.expr).

    Scale shape: the only distributed work is an algebraic aggregate
    (partial sums combine map-side); everything after operates on
    one row. This is how regression-at-100TB should look when d is
    small; the iterative/mapInPandas machinery (kmeans, pca) is for
    when it is not.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    sums = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(d).alias("s2"),
        F.sum(q * q).alias("s11"),
        F.sum(q * d).alias("s12"),
        F.sum(d * d).alias("s22"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(q * y).alias("s1y"),
        F.sum(d * y).alias("s2y"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_rows"),
        F.expr(_OLS_B0).alias("b0"),
        F.expr(_OLS_B1).alias("b1"),
        F.expr(_OLS_B2).alias("b2"),
        F.expr(_OLS_R2).alias("r2"),
    )


# --------------------------------------------------------------------------
# k-fold cross-validated OLS — train-on-complement by moment subtraction

_CV_K = 5

# Test-side SSE/R²: the _OLS_SSE quadratic evaluated with the TRAIN
# betas (Cramer over complement moments n,s1,...) against the held-out
# fold's own moments tn,ts1,... — same shared-algebra trick, so the
# whole CV is exact on both engines.
_CV_TEST_SSE = (
    "(tsyy - 2*(({b0})*tsy + ({b1})*ts1y + ({b2})*ts2y)"
    " + (({b0})*({b0})*tn + ({b1})*({b1})*ts11 + ({b2})*({b2})*ts22"
    "    + 2*({b0})*({b1})*ts1 + 2*({b0})*({b2})*ts2"
    "    + 2*({b1})*({b2})*ts12))"
).format(b0=_OLS_B0, b1=_OLS_B1, b2=_OLS_B2)
_CV_TEST_R2 = f"(1 - ({_CV_TEST_SSE}) / (tsyy - tsy*tsy/tn))"

_CV_MOMENTS = {
    "n": "COUNT(*)",
    "s1": "SUM(x1)",
    "s2": "SUM(x2)",
    "s11": "SUM(x1*x1)",
    "s12": "SUM(x1*x2)",
    "s22": "SUM(x2*x2)",
    "sy": "SUM(y)",
    "syy": "SUM(y*y)",
    "s1y": "SUM(x1*y)",
    "s2y": "SUM(x2*y)",
}


@register(
    "cv_ols_generalization",
    oracle=f"""
    WITH feats AS (
        SELECT ('0x' || substr(md5(l_orderkey::VARCHAR || '-'
                    || l_linenumber::VARCHAR), 1, 15))::BIGINT
                   % {_CV_K} AS fold,
               l_quantity AS x1, l_discount AS x2, l_extendedprice AS y
        FROM lineitem
    ),
    fm AS (
        SELECT fold,
               {", ".join(f"{e}::DOUBLE AS f{k}" for k, e in _CV_MOMENTS.items())}
        FROM feats GROUP BY fold
    ),
    tot AS (
        SELECT {", ".join(f"SUM(f{k}) AS g{k}" for k in _CV_MOMENTS)}
        FROM fm
    ),
    tr AS (
        SELECT fold,
               {", ".join(f"g{k} - f{k} AS {k}" for k in _CV_MOMENTS)},
               {", ".join(f"f{k} AS t{k}" for k in _CV_MOMENTS)}
        FROM fm CROSS JOIN tot
    )
    SELECT fold,
           CAST(tn AS BIGINT) AS n_test,
           CAST({_OLS_R2} AS REAL) AS train_r2,
           CAST({_CV_TEST_R2} AS REAL) AS test_r2,
           CAST(({_OLS_R2}) - ({_CV_TEST_R2}) AS REAL) AS gap
    FROM tr
    """,
    tags=("cross-validation", "ols", "generalization", "ml-eval",
          "shared-algebra", "single-scan"),
)
def cv_ols_generalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated OLS (price ~ quantity + discount) with
    ZERO extra passes: because OLS is fully determined by moment sums
    and moments are additive, each fold's train-on-complement model
    is (total − fold) algebra — one grouped aggregate computes the
    5×10 per-fold moments, the complement subtraction + Cramer solve
    + held-out R² all run on 5 rows. The naive formulation retrains
    k times over the corpus; this is the distributed-CV trick that
    makes model selection a single scan. Reports per-fold train/test
    R² and the generalization gap.

    Fold assignment is the deterministic md5 split (engine-portable,
    partition-independent); every scalar formula is the exact
    shared-algebra text of ols_normal_equations run on both engines.
    """
    from axolotls_spark.operators.dedup import token_hash

    li = load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        (
            token_hash(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % _CV_K
        ).alias("fold"),
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    fm = feats.groupBy("fold").agg(
        *[
            F.expr(e).cast("double").alias(f"f{k}")
            for k, e in _CV_MOMENTS.items()
        ]
    )
    tot = fm.agg(
        *[F.sum(f"f{k}").alias(f"g{k}") for k in _CV_MOMENTS]
    )
    tr = fm.crossJoin(F.broadcast(tot)).select(
        "fold",
        *[
            (F.col(f"g{k}") - F.col(f"f{k}")).alias(k)
            for k in _CV_MOMENTS
        ],
        *[F.col(f"f{k}").alias(f"t{k}") for k in _CV_MOMENTS],
    )
    return tr.select(
        "fold",
        F.col("tn").cast("long").alias("n_test"),
        F.expr(_OLS_R2).cast("float").alias("train_r2"),
        F.expr(_CV_TEST_R2).cast("float").alias("test_r2"),
        (F.expr(_OLS_R2) - F.expr(_CV_TEST_R2)).cast("float").alias("gap"),
    )


# --------------------------------------------------------------------------
# Floor-at-zero running balance (non-linear sequential fold)


@register(
    "running_balance_floor",
    oracle="""
    WITH d AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN event_type = 'purchase' THEN -value
                    ELSE value END AS delta
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           list_reduce(
               list_prepend(0.0, list(delta ORDER BY ts, event_id)),
               (acc, x) -> greatest(acc + x, 0.0)
           ) AS final_balance
    FROM d
    GROUP BY user_id
    """,
    tags=("sequential-fold", "running-balance", "higher-order", "non-linear"),
)
def running_balance_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running balance floored at zero (credits from every
    event, debits from purchases; balance can never go negative) —
    the inventory/wallet recurrence b_i = max(0, b_{i-1} + δ_i).

    This recurrence is NOT a window aggregate (the max makes it
    non-linear, so no prefix-sum trick applies); the scalable
    spelling is the same single-shuffle sorted-array fold as the
    funnel: groupBy user, array_sort, one sequential ``aggregate``
    per user. Both engines fold in identical order, so the result is
    bit-identical — no float-rounding slack needed.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", -F.col("value"))
        .otherwise(F.col("value"))
        .alias("delta"),
    )
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "delta"))
        ).alias("evs"),
    )
    fold = F.aggregate(
        "evs",
        F.lit(0.0),
        lambda acc, x: F.greatest(acc + x.delta, F.lit(0.0)),
    )
    return per_user.select(
        "user_id", "n_events", fold.alias("final_balance")
    )


@register(
    "ols_by_group",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*)::DOUBLE            AS n,
               SUM(l_quantity)             AS s1,
               SUM(l_discount)             AS s2,
               SUM(l_quantity*l_quantity)  AS s11,
               SUM(l_quantity*l_discount)  AS s12,
               SUM(l_discount*l_discount)  AS s22,
               SUM(l_extendedprice)        AS sy,
               SUM(l_extendedprice*l_extendedprice) AS syy,
               SUM(l_quantity*l_extendedprice)      AS s1y,
               SUM(l_discount*l_extendedprice)      AS s2y
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           {_OLS_B0} AS b0,
           {_OLS_B1} AS b1,
           {_OLS_B2} AS b2,
           {_OLS_R2} AS r2
    FROM s
    """,
    tags=("regression", "ols", "grouped-models", "statistics"),
)
def ols_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One OLS model PER GROUP (price ~ quantity + discount, by
    return flag) — segment-level model fitting as a single grouped
    aggregate + closed-form solve. The grouped twin of
    ols_normal_equations: adding thousands of groups changes only
    the aggregate's key, not the plan shape — this is how per-
    segment models train at 100 TB without a per-group job loop.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(d).alias("s2"),
        F.sum(q * q).alias("s11"),
        F.sum(q * d).alias("s12"),
        F.sum(d * d).alias("s22"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(q * y).alias("s1y"),
        F.sum(d * y).alias("s2y"),
    )
    return sums.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.expr(_OLS_B0).alias("b0"),
        F.expr(_OLS_B1).alias("b1"),
        F.expr(_OLS_B2).alias("b2"),
        F.expr(_OLS_R2).alias("r2"),
    )


@register(
    "longest_daily_streak",
    oracle="""
    WITH du AS (
        SELECT DISTINCT user_id,
               CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
        FROM events
    ),
    grp AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day
               ) AS INT) AS anchor
        FROM du
    ),
    streaks AS (
        SELECT user_id, COUNT(*) AS len
        FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id, MAX(len) AS longest_streak
    FROM streaks GROUP BY user_id
    """,
    tags=("streaks", "gaps-and-islands", "sequence-analytics", "window"),
)
def longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user — the streak
    metric, via the gaps-and-islands anchor trick: day minus its
    per-user rank is constant exactly within a consecutive run.

    Scale shape: distinct (user, day) collapses the corpus first;
    the window and both aggregates run over that small relation,
    partitioned by user — one corpus shuffle, two cheap re-uses of
    the same partitioning.
    """
    from pyspark.sql import Window

    du = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = du.withColumn(
        "anchor", F.date_sub("day", F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(F.max("len").alias("longest_streak"))


# --------------------------------------------------------------------------
# Distribution drift: Population Stability Index (week 1 vs week 4)

_PSI_PCTS = [i / 10 for i in range(1, 10)]  # decile cut points


@register(
    "distribution_drift_psi",
    oracle=f"""
    WITH ref AS (
        SELECT value FROM events
        WHERE CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-08'
    ),
    cur AS (
        SELECT value FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-22'
    ),
    cuts AS (
        SELECT quantile_cont(value, {_PSI_PCTS}) AS c FROM ref
    ),
    rb AS (
        SELECT 1 + list_sum(list_transform(cuts.c,
                   x -> CASE WHEN ref.value > x THEN 1 ELSE 0 END)) AS b,
               COUNT(*)::DOUBLE AS n
        FROM ref CROSS JOIN cuts GROUP BY 1
    ),
    cb AS (
        SELECT 1 + list_sum(list_transform(cuts.c,
                   x -> CASE WHEN cur.value > x THEN 1 ELSE 0 END)) AS b,
               COUNT(*)::DOUBLE AS n
        FROM cur CROSS JOIN cuts GROUP BY 1
    ),
    tot AS (
        SELECT (SELECT SUM(n) FROM rb) AS rn, (SELECT SUM(n) FROM cb) AS cn
    ),
    spine AS (SELECT UNNEST(range(1, 11)) AS b)
    SELECT CAST(10 AS INT) AS n_buckets,
           CAST(SUM(
               ((COALESCE(rb.n, 0) + 0.5) / (tot.rn + 5)
                - (COALESCE(cb.n, 0) + 0.5) / (tot.cn + 5))
               * LN(((COALESCE(rb.n, 0) + 0.5) / (tot.rn + 5))
                    / ((COALESCE(cb.n, 0) + 0.5) / (tot.cn + 5)))
           ) AS REAL) AS psi
    FROM spine
    LEFT JOIN rb USING (b)
    LEFT JOIN cb USING (b)
    CROSS JOIN tot
    """,
    tags=("drift", "psi", "monitoring", "percentile", "broadcast"),
)
def distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and last week of
    event values — the model-monitoring drift detector: decile bins
    derive from the REFERENCE window's exact percentiles, both
    windows histogram against those bins, PSI = Σ (p−q)·ln(p/q)
    (0.5-smoothed so empty buckets stay finite).

    Scale shape: cut points are one exact-percentile aggregate over
    the reference window, broadcast; each window then histograms
    with a map-side bucket expression + tiny groupBy. Nothing but
    the two filtered scans is corpus-sized, and the date filters
    push down to the parquet scan.
    """
    e = load_table(spark, sf_dir, "events")
    ref = e.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp")).select(
        "value"
    )
    cur = e.filter(
        F.col("ts") >= F.lit("2024-01-22").cast("timestamp")
    ).select("value")
    cuts = ref.agg(
        *[
            F.expr(f"percentile(value, {p})").alias(f"c{i}")
            for i, p in enumerate(_PSI_PCTS)
        ]
    )
    bucket = (
        F.lit(1)
        + sum(
            F.when(F.col("value") > F.col(f"c{i}"), 1).otherwise(0)
            for i in range(len(_PSI_PCTS))
        )
    ).alias("b")

    def hist(df):
        return (
            df.crossJoin(F.broadcast(cuts))
            .select(bucket)
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("double").alias("n"))
        )

    rb = hist(ref).withColumnRenamed("n", "rn_b").persist()
    cb = hist(cur).withColumnRenamed("n", "cn_b").persist()
    # Window totals are the histograms' own sums — deriving them from
    # the ≤10-row aggregates saves two more corpus passes.
    tot = (
        rb.agg(F.sum("rn_b").alias("rn"))
        .crossJoin(cb.agg(F.sum("cn_b").alias("cn")))
    )
    spine = (
        e.sparkSession.range(1, 11)
        .select(F.col("id").cast("int").alias("b"))
    )
    p = (F.coalesce("rn_b", F.lit(0.0)) + 0.5) / (F.col("rn") + 5)
    q = (F.coalesce("cn_b", F.lit(0.0)) + 0.5) / (F.col("cn") + 5)
    return (
        spine.join(F.broadcast(rb), "b", "left")
        .join(F.broadcast(cb), "b", "left")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum((p - q) * F.log(p / q)).alias("psi"))
        .select(F.lit(10).alias("n_buckets"), "psi")
        .transform(lambda df: stable_f32(df, "psi"))
    )


@register(
    "funnel_latency_percentiles",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
            AND CAST(e.ts AS TIMESTAMP) > v.t1
        WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
            AND CAST(e.ts AS TIMESTAMP) > c.t2
        WHERE e.event_type = 'purchase' GROUP BY 1
    ),
    lat AS (
        SELECT DATEDIFF('second', v.t1, p.t3)::DOUBLE AS s
        FROM v JOIN p USING (user_id)
    )
    SELECT COUNT(*) AS n_converting,
           quantile_cont(s, 0.25) AS p25_s,
           quantile_cont(s, 0.50) AS p50_s,
           quantile_cont(s, 0.75) AS p75_s
    FROM lat
    """,
    tags=("funnel", "latency", "percentile", "sequence-analytics"),
)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: exact quartiles of the seconds
    between a user's first view and their strict-ordered completing
    purchase — the funnel family's 'how long', to funnel_conversion's
    'how many'. Same single-shuffle fold computes the stage times;
    the percentile aggregate runs over converting users only.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    per_user = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    null_ts = F.lit(None).cast("timestamp_ntz")
    fold = F.aggregate(
        "evs",
        F.struct(
            null_ts.alias("t1"), null_ts.alias("t2"), null_ts.alias("t3")
        ),
        _funnel_step,
    )
    lat = (
        per_user.select(fold.alias("f"))
        .filter(F.col("f.t3").isNotNull())
        .select(
            (
                F.unix_timestamp(F.col("f.t3").cast("timestamp"))
                - F.unix_timestamp(F.col("f.t1").cast("timestamp"))
            ).cast("double").alias("s")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converting"),
        F.expr("percentile(s, 0.25)").alias("p25_s"),
        F.expr("percentile(s, 0.50)").alias("p50_s"),
        F.expr("percentile(s, 0.75)").alias("p75_s"),
    )


@register(
    "conversion_wilson_ci",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    agg AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(converted)::DOUBLE AS k FROM pu
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(k AS BIGINT) AS n_converted,
           k / n AS rate,
           (k/n + 1.96*1.96/(2*n)
            - 1.96 * SQRT((k/n)*(1 - k/n)/n + 1.96*1.96/(4*n*n)))
           / (1 + 1.96*1.96/n) AS wilson_lo,
           (k/n + 1.96*1.96/(2*n)
            + 1.96 * SQRT((k/n)*(1 - k/n)/n + 1.96*1.96/(4*n*n)))
           / (1 + 1.96*1.96/n) AS wilson_hi
    FROM agg
    """,
    tags=("confidence-interval", "wilson", "statistics", "conversion"),
)
def conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User conversion rate with a 95% Wilson score interval — the
    right CI for proportions (never escapes [0,1], sane at small n),
    computed as pure column algebra over one per-user aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    agg = pu.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("converted").cast("double").alias("k"),
    )
    z = 1.96
    # nullif-guarded divisor: ANSI mode raises DIVIDE_BY_ZERO on an
    # empty input's n=0; NULL propagates a NULL interval instead.
    nd = F.nullif(F.col("n"), F.lit(0.0))
    phat = F.col("k") / nd
    half = z * F.sqrt(
        phat * (1 - phat) / nd + z * z / (4 * nd * nd)
    )
    denom = 1 + z * z / nd
    center = phat + z * z / (2 * nd)
    return agg.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("k").cast("long").alias("n_converted"),
        phat.alias("rate"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    )


@register(
    "gini_customer_spend",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, SUM(o_totalprice) AS x
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i
        FROM spend
    ),
    agg AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(i * x) AS six
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS REAL) AS total_spend,
           CAST(2.0 * six / (n * sx) - (n + 1) / n AS REAL) AS gini
    FROM agg
    """,
    tags=("gini", "inequality", "statistics", "window"),
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration — the
    whale-vs-longtail inequality metric, from the closed form
    G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over ascending-ranked spend
    (ties broken by custkey so both engines rank identically).

    Scale shape: per-customer spend is one aggregate; the global
    rank is the only total-order step and runs over |customers|
    rows, not the fact table. For data too large even for that, the
    same formula runs on quantile-bucketed approximations — the
    query shape is unchanged.
    """
    from pyspark.sql import Window

    spend = load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("x")
    )
    w = Window.orderBy("x", "o_custkey")
    ranked = spend.select("x", F.row_number().over(w).alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("float").alias("total_spend"),
        (
            2.0 * F.col("six") / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1) / F.col("n")
        )
        .cast("float")
        .alias("gini"),
    )


# --------------------------------------------------------------------------
# Exact audience overlap between event-type segments


@register(
    "audience_overlap_exact",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    sz AS (SELECT event_type, COUNT(*) AS n FROM u GROUP BY 1),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM u a JOIN u b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) AS REAL)
               AS jaccard
    FROM pairs
    JOIN sz sa ON pairs.type_a = sa.event_type
    JOIN sz sb ON pairs.type_b = sb.event_type
    """,
    tags=("overlap", "jaccard", "audience", "self-join", "set"),
)
def audience_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise audience overlap between event-type segments:
    |A∩B|, |A|, |B| and Jaccard for every type pair — the
    ground-truth counterpart of sketch-based overlap estimation
    (agg_approx_sketches), worth its cost whenever the segment count
    is small.

    Scale shape: the corpus collapses to the distinct (user, type)
    relation first (one aggregate); the pair expansion is a
    user-keyed equi-join whose per-user fan-out is bounded by
    C(|types|, 2) = 10, never N². The distinct relation feeds both
    join sides and the size aggregate, so it is persisted — one
    corpus pass total (the round-1 sparse_cosine lesson).
    """
    e = load_table(spark, sf_dir, "events")
    u = e.select("user_id", "event_type").distinct().persist()
    sz = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = u.select("user_id", F.col("event_type").alias("type_a"))
    b = u.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_both").cast("long").alias("n_both"),
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            )
            .cast("float")
            .alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Community detection: weighted label propagation on the trade graph

_LP_ROUNDS = 3

_LP_EDGES_SQL = """
    e0 AS MATERIALIZED (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS w
        FROM lineitem
        JOIN orders     ON l_orderkey = o_orderkey
        JOIN customer c ON o_custkey = c.c_custkey
        JOIN supplier s ON l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2
    ),
    und AS (
        SELECT src, dst, w FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM e0
    ),
    ed AS MATERIALIZED (SELECT src, dst, SUM(w) AS w FROM und GROUP BY 1, 2),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed)
"""


def _lp_round_sql(r: int) -> str:
    return f"""
    l{r} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT e.dst AS node, l.label, SUM(e.w) AS s,
                   ROW_NUMBER() OVER (PARTITION BY e.dst
                                      ORDER BY SUM(e.w) DESC, l.label) AS rk
            FROM ed e JOIN l{r - 1} l ON e.src = l.node
            GROUP BY e.dst, l.label) v
        WHERE rk = 1
    )"""


@register(
    "label_propagation_communities",
    oracle="WITH "
    + _LP_EDGES_SQL
    + ","
    + ",".join(_lp_round_sql(r) for r in range(1, _LP_ROUNDS + 1))
    + f"""
    SELECT n_name AS nation, CAST(label AS BIGINT) AS community
    FROM l{_LP_ROUNDS} JOIN nation ON node = n_nationkey
    """,
    tags=("graph", "community", "label-propagation", "iterative",
          "broadcast"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation over the undirected nation trade
    graph: every node starts as its own community; each of 3
    synchronous rounds re-labels a node with the community carrying
    the largest total incident edge weight (ties to the smaller
    label) — the classic near-linear community-detection pass,
    deterministic by construction.

    Scale shape: aggregate-then-iterate (operators/graph.py): one
    corpus pass builds the ≤|nations|² weighted edge list, which is
    persisted; each round is then a broadcast join of the tiny label
    vector + a vote aggregate + an argmax window over ≤|edges| rows.
    Edge weights are rounded to cents so the vote sums are
    cross-engine stable. Billion-node graphs drop the broadcast hint
    and the identical plan runs as shuffled joins keyed on src.
    """
    from pyspark.sql import Window

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    e0 = (
        trade_facts(spark, sf_dir)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.round(F.sum("revenue"), 2).alias("w"))
    )
    # Undirect via a single-pass explode of both orientations — a
    # union of e0 with its swap executes the corpus aggregation
    # lineage once PER SIDE (the union-of-derivations trap).
    und = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst"), F.col("w")),
                F.struct(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    ed = (
        und.groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .repartition(1)
        .persist()
    )
    labels = (
        ed.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
    )
    rk_w = Window.partitionBy("node").orderBy(F.desc("s"), "label")
    for _ in range(_LP_ROUNDS):
        votes = (
            ed.join(F.broadcast(labels), ed.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.sum("w").alias("s"))
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(rk_w))
            .filter(F.col("rk") == 1)
            .select("node", "label")
        )
    return labels.join(F.broadcast(n), labels.node == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("label").cast("long").alias("community"),
    )


# --------------------------------------------------------------------------
# Pareto (80/20) contribution analysis by brand


@register(
    "pareto_brand_revenue",
    oracle="""
    WITH b AS (
        SELECT p_brand, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    ),
    t AS (SELECT SUM(revenue) AS total FROM b),
    r AS (
        SELECT p_brand, revenue,
               SUM(revenue) OVER (ORDER BY revenue DESC, p_brand
                                  ROWS UNBOUNDED PRECEDING) AS cum
        FROM b
    )
    SELECT p_brand,
           CAST(revenue AS REAL) AS revenue,
           CAST(revenue / t.total AS REAL) AS share,
           CAST(cum / t.total AS REAL) AS cum_share,
           (cum / t.total <= 0.8) AS in_pareto_head
    FROM r CROSS JOIN t
    """,
    tags=("pareto", "contribution", "bi", "window", "agg"),
)
def pareto_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/contribution analysis: each brand's revenue share and
    cumulative share in descending-revenue order, flagging the head
    that covers 80% of revenue — the 80/20 readout every BI review
    starts from.

    Scale shape: one corpus aggregate to the |brands| relation (part
    dimension broadcast onto the fact scan); ranking, cumulation and
    the total all act on those ≤25 rows. Brand revenues are far
    apart, so the desc ordering is stable across engines; shares are
    emitted float32.
    """
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .persist()  # feeds the total and the ranked window
    )
    t = b.agg(F.sum("revenue").alias("total"))
    w = Window.orderBy(F.desc("revenue"), "p_brand").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = b.select("p_brand", "revenue", F.sum("revenue").over(w).alias("cum"))
    return r.crossJoin(F.broadcast(t)).select(
        "p_brand",
        F.col("revenue").cast("float").alias("revenue"),
        (F.col("revenue") / F.col("total")).cast("float").alias("share"),
        (F.col("cum") / F.col("total")).cast("float").alias("cum_share"),
        (F.col("cum") / F.col("total") <= 0.8).alias("in_pareto_head"),
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (rank-based terciles)


@register(
    "rfm_segment_counts",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               DATEDIFF('day', CAST(MAX(o_orderdate) AS DATE),
                        (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
                   AS recency_days,
               COUNT(*) AS frequency,
               SUM(o_totalprice) AS monetary
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT o_custkey,
               NTILE(3) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
               NTILE(3) OVER (ORDER BY frequency, o_custkey)         AS f_score,
               NTILE(3) OVER (ORDER BY monetary, o_custkey)          AS m_score,
               monetary
        FROM cust
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(AVG(monetary) AS REAL) AS avg_monetary
    FROM scored
    GROUP BY 1, 2, 3
    """,
    tags=("rfm", "segmentation", "ntile", "bi", "window"),
)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: tercile scores for Recency (days since last
    order, higher recency_days = worse = lower score), Frequency and
    Monetary per customer, reported as the 27-cell segment grid with
    counts and average spend — the classic lifecycle-marketing cut.

    Terciles are rank-based NTILE(3) with a customer-id tiebreak, not
    interpolated percentile cuts — the ccnet_perplexity_buckets
    lesson: interpolation boundaries differ across engines in the
    last ulp and flip boundary customers; ranks cannot.

    Scale shape: one corpus aggregate to the customer relation; the
    three ntile windows sort that dimension-sized relation (fine for
    dimension cardinality; at extreme scale swap in approx-quantile
    band thresholds and give up exact tercile sizes).
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    last = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(last))
        .select(
            "o_custkey",
            F.datediff("gmax", "lastd").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = cust.select(
        "o_custkey",
        "monetary",
        F.ntile(3).over(
            Window.orderBy(F.desc("recency_days"), "o_custkey")
        ).alias("r_score"),
        F.ntile(3).over(Window.orderBy("frequency", "o_custkey")).alias(
            "f_score"
        ),
        F.ntile(3).over(Window.orderBy("monetary", "o_custkey")).alias(
            "m_score"
        ),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.avg("monetary").cast("float").alias("avg_monetary"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier retention curve (right-censored survival)

_KM_CHURN_DAYS = 90  # no order in the trailing window => churn event


@register(
    "kaplan_meier_retention",
    oracle=f"""
    WITH g AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS gmax FROM orders),
    cust AS (
        SELECT o_custkey,
               DATEDIFF('day', CAST(MIN(o_orderdate) AS DATE),
                        CAST(MAX(o_orderdate) AS DATE)) AS duration,
               CASE WHEN DATEDIFF('day', CAST(MAX(o_orderdate) AS DATE),
                                  (SELECT gmax FROM g)) > {_KM_CHURN_DAYS}
                    THEN 1 ELSE 0 END AS churned
        FROM orders GROUP BY 1
    ),
    tbl AS (
        SELECT duration, SUM(churned) AS d, COUNT(*) AS c
        FROM cust GROUP BY 1
    ),
    risk AS (
        SELECT duration, d, c,
               SUM(c) OVER (ORDER BY duration DESC
                            ROWS UNBOUNDED PRECEDING) AS n_risk
        FROM tbl
    )
    SELECT duration AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(EXP(SUM(LN(GREATEST(1.0 - CAST(d AS DOUBLE) / n_risk,
                                    1e-12)))
                    OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING))
                AS REAL) AS survival
    FROM risk
    """,
    tags=("survival", "kaplan-meier", "retention", "censoring", "window"),
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier estimate of customer lifetime (first order → last
    order), right-censored: customers still ordering within the
    trailing 90 days are censored, everyone else's last-order day is
    a churn event. S(t) = Π_{s≤t} (1 − d_s/n_s), computed as
    exp(Σ ln·) so the running product is a window aggregate; the
    at-risk count n_s is a reversed cumulative sum — both windows run
    over the distinct-duration relation, never the corpus.

    Scale shape: one corpus aggregate to per-customer (duration,
    churned), one more to the ≤|distinct durations| life table; the
    KM product and at-risk windows act on that tiny ordered relation.
    The 1e-12 guard keeps ln() defined when the final time step
    exhausts the risk set (S hits 0) identically on both engines.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    g = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("firstd"),
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            F.datediff("lastd", "firstd").alias("duration"),
            F.when(
                F.datediff("gmax", "lastd") > _KM_CHURN_DAYS, 1
            ).otherwise(0).alias("churned"),
        )
    )
    tbl = cust.groupBy("duration").agg(
        F.sum("churned").alias("d"), F.count(F.lit(1)).alias("c")
    )
    w_desc = Window.orderBy(F.desc("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_asc = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = tbl.withColumn("n_risk", F.sum("c").over(w_desc))
    frac = F.greatest(
        F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"),
        F.lit(1e-12),
    )
    return risk.select(
        F.col("duration").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d_events"),
        F.exp(F.sum(F.log(frac)).over(w_asc)).cast("float").alias("survival"),
    )


# --------------------------------------------------------------------------
# TextRank keywords: PageRank composed over the word co-occurrence graph

_TR_V = 100       # vocabulary cap (top-df terms)
_TR_MIN_CO = 2    # min doc co-occurrence for an edge
_TR_ITERS = 3
_TR_TOPK = 20

_TR_EDGES_SQL = f"""
    toks AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
    ),
    freq AS (SELECT term, COUNT(*)::DOUBLE AS df FROM toks GROUP BY term),
    vocab AS (
        SELECT term FROM freq ORDER BY df DESC, term LIMIT {_TR_V}
    ),
    tv AS (SELECT t.doc_id, t.term FROM toks t JOIN vocab USING (term)),
    co AS (
        SELECT a.term AS ta, b.term AS tb, COUNT(*)::DOUBLE AS w
        FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_TR_MIN_CO}
    ),
    edges AS (
        SELECT ta AS src, tb AS dst, w FROM co
        UNION ALL
        SELECT tb AS src, ta AS dst, w FROM co
    ),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    ncnt AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
    ow AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
    t AS (SELECT e.src, e.dst, e.w / ow.ow AS wn
          FROM edges e JOIN ow USING (src)),
    r0 AS (SELECT node, 1.0 / ncnt.n AS rank FROM nodes CROSS JOIN ncnt)
"""


@register(
    "textrank_keywords",
    oracle=(
        "WITH " + _TR_EDGES_SQL
        + "".join(_pr_iter_sql(i) for i in range(1, _TR_ITERS + 1))
        + f""",
    ranked AS (
        SELECT node AS term, rank,
               ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS rk
        FROM r{_TR_ITERS}
    )
    SELECT term, CAST(rank AS REAL) AS textrank, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_TR_TOPK}
    """
    ),
    tags=("textrank", "keywords", "graph", "pagerank", "text", "iterative"),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau): PageRank over
    the document-co-occurrence word graph — top-100-df vocabulary,
    edges weighted by co-document counts, 3 damped power iterations,
    top-20 terms. A composition showcase: the SAME pagerank operator
    (operators/graph.py) and even the same unrolled-iteration oracle
    SQL (_pr_iter_sql) run here over a text-derived graph instead of
    the trade graph.  The ≤{_TR_V}-term vocabulary cap bounds the
    graph to one row, which pagerank's in-expression iteration needs.

    Scale shape: identical to cooccurrence_pmi up front (vocab cap
    bounds pair fan-out at V²), but with ZERO corpus-keyed
    exchanges: per-doc distinct is ``array_distinct`` (map-only, no
    global DISTINCT exchange), the document-frequency aggregate is
    map-side combined, the ≤{_TR_V}-term vocabulary collapses to a
    ONE-ROW array that broadcast-crosses back onto the per-doc token
    arrays, and pairs come from the per-doc combination expansion of
    ``array_intersect(tokens, vocab)`` (r8 §2.4 — the old self-join
    exchanged and sorted the (doc, term) relation twice; the r8
    first cut persisted it, but the columnar cache build of an
    exploded stream costs ~3× one recompute, r8 §13).
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    dts = docs.select(
        "doc_id", F.array_distinct(tokens_col(F.col("text"))).alias("ts0")
    )
    freq = (
        dts.select(F.explode("ts0").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    # Vocab cap via distributed top-k (TakeOrderedAndProject): the
    # document-frequency relation grows with the corpus's distinct
    # vocabulary, so an unpartitioned Window rank would bottleneck.
    # The capped vocabulary is a bounded 1-row ARRAY relation — the
    # broadcast cross below never carries corpus-scaled data.
    vocab = freq.orderBy(F.desc("df"), "term").limit(_TR_V).select("term")
    vocab_arr = vocab.agg(F.collect_list("term").alias("vs"))
    # Per-doc vocab-token lists are bounded by the V-term cut, so the
    # inline quadratic expansion is bounded by min(V, doc_len)² per
    # document — identical pairs, same counts as a (doc, term)
    # self-join, without ever shuffling the token stream by doc_id.
    plists = dts.crossJoin(F.broadcast(vocab_arr)).select(
        F.array_sort(F.array_intersect("ts0", "vs")).alias("ts")
    )
    combos = ordered_pairs("ts", "ta", "tb")
    co = (
        plists.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.ta").alias("ta"), F.col("p.tb").alias("tb"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .filter(F.col("w") >= _TR_MIN_CO)
    )
    # Undirect in ONE pass over co — never co.union(co-swapped), which
    # references the unpersisted pair join twice and re-executes the
    # heaviest stage (per-doc V^2 fan-out) per side (SCALE.md
    # "union-of-derivations"; same explode shape as
    # operators/dedup.py connected_components_star).
    edges = co.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ta").alias("src"),
                    F.col("tb").alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.col("tb").alias("src"),
                    F.col("ta").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    ranks = pagerank(edges, iters=_TR_ITERS)
    ranked = ranks.select(
        F.col("node").alias("term"),
        "rank",
        F.row_number().over(Window.orderBy(F.desc("rank"), "node")).alias("rk"),
    )
    return ranked.filter(F.col("rk") <= _TR_TOPK).select(
        "term",
        F.col("rank").cast("float").alias("textrank"),
        F.col("rk").cast("long").alias("rk"),
    )


# --------------------------------------------------------------------------
# Cohort LTV grid: cumulative revenue per user by cohort-week x age-week


@register(
    "cohort_ltv_grid",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               CAST(DATE_TRUNC('week', MIN(o_orderdate)) AS DATE) AS cohort_week
        FROM orders GROUP BY 1
    ),
    sized AS (
        SELECT cohort_week, COUNT(*) AS n_users FROM firsts GROUP BY 1
    ),
    facts AS (
        SELECT f.cohort_week,
               CAST(DATEDIFF('day', f.cohort_week,
                    CAST(DATE_TRUNC('week', o.o_orderdate) AS DATE)) / 7
                    AS BIGINT) AS age_week,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    )
    SELECT facts.cohort_week,
           age_week,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(rev_cents AS DOUBLE) / 100.0 AS rev,
           CAST(SUM(rev_cents) OVER (PARTITION BY facts.cohort_week
                                     ORDER BY age_week
                                     ROWS UNBOUNDED PRECEDING)
                AS DOUBLE) / 100.0 / n_users AS cum_ltv_per_user
    FROM facts JOIN sized ON facts.cohort_week = sized.cohort_week
    """,
    tags=("cohort", "ltv", "product-analytics", "window", "agg"),
)
def cohort_ltv_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value grid: customers cohorted by the week of
    their first order; each (cohort-week, age-week) cell reports the
    cohort's revenue that week and the cumulative revenue PER USER —
    the LTV curves a growth team projects payback from (the revenue
    sibling of retention_cohorts' activity counts).

    Scale shape: first-order cohorts are one aggregate; the fact
    pass joins the (persisted) cohort relation and aggregates to the
    |cohorts|×|age| grid, on which the cumulative window runs. The
    per-user division uses the exact cohort size, so the curve is
    comparable across cohorts of different sizes.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    firsts = (
        o.groupBy("o_custkey")
        .agg(
            F.to_date(F.date_trunc("week", F.min("o_orderdate"))).alias(
                "cohort_week"
            )
        )
        .persist()  # feeds cohort sizes AND the fact join
    )
    sized = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    # Money sums in exact integer cents: a SUM(double) this large
    # lands within one float32 ulp of a rounding midpoint often
    # enough that the usual f32 emit flips between engines; integer
    # cents make the sums (and the cumulative window) exact, so the
    # derived doubles are bit-identical and emit at full precision.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    facts = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", "o_orderdate")),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("long")
            .alias("age_week"),
        )
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w = Window.partitionBy("cohort_week").orderBy("age_week").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        facts.join(F.broadcast(sized), "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            F.col("n_users").cast("long").alias("n_users"),
            (F.col("rev_cents").cast("double") / 100.0).alias("rev"),
            (
                F.sum("rev_cents").over(w).cast("double")
                / 100.0
                / F.col("n_users")
            ).alias("cum_ltv_per_user"),
        )
    )


# --------------------------------------------------------------------------
# k-core decomposition (bounded peel) of the trade graph

_KCORE_K = 4
_KCORE_ROUNDS = 4

# MATERIALIZED hints are load-bearing: alive{i} is referenced twice
# per round, so inlined CTEs would re-expand the 6-way corpus join
# 2^rounds times — DuckDB runs minutes instead of seconds at sf0.1.
_KCORE_EDGES_SQL = """
    e0 AS MATERIALIZED (
        SELECT DISTINCT s.s_nationkey AS u, c.c_nationkey AS v
        FROM lineitem
        JOIN orders     ON l_orderkey = o_orderkey
        JOIN customer c ON o_custkey = c.c_custkey
        JOIN supplier s ON l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS MATERIALIZED (
        SELECT u, v FROM e0 UNION SELECT v, u FROM e0
    ),
    alive0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM und)
"""


def _kcore_round_sql(i: int) -> str:
    return f""",
    deg{i} AS MATERIALIZED (
        SELECT e.u AS node, COUNT(*) AS d
        FROM und e
        JOIN alive{i - 1} a ON e.u = a.node
        JOIN alive{i - 1} b ON e.v = b.node
        GROUP BY 1
    ),
    alive{i} AS MATERIALIZED (
        SELECT node FROM deg{i} WHERE d >= {_KCORE_K})"""


@register(
    "kcore_trade_graph",
    oracle="WITH "
    + _KCORE_EDGES_SQL
    + "".join(_kcore_round_sql(i) for i in range(1, _KCORE_ROUNDS + 1))
    + f"""
    SELECT n_name AS nation, CAST(d AS BIGINT) AS core_degree
    FROM deg{_KCORE_ROUNDS}
    JOIN alive{_KCORE_ROUNDS} USING (node)
    JOIN nation ON node = n_nationkey
    """,
    tags=("graph", "k-core", "iterative", "peel", "broadcast"),
)
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=4) of the undirected nation trade
    graph by iterative peeling: each round recomputes degrees within
    the surviving set and drops nodes below k, four unrolled rounds —
    the cohesive-subgraph extractor (who trades with enough partners
    who themselves trade enough?) completing the graph suite next to
    PageRank, BFS, triangles and label propagation.

    Scale shape: one corpus pass to the distinct undirected edge
    list, then the peels in one array ``aggregate`` (operators/graph.kcore).
    """
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    u, v = F.col("s_nationkey"), F.col("c_nationkey")
    # Single-pass undirection (explode of both orientations) — a
    # union with the swap would run the corpus lineage twice.
    und = trade_facts(spark, sf_dir).filter(u != v).select(F.explode(F.array(
        F.struct(u.alias("src"), v.alias("dst")),
        F.struct(v.alias("src"), u.alias("dst")),
    )).alias("e")).select("e.src", "e.dst").distinct()
    deg = kcore(und, _KCORE_K, _KCORE_ROUNDS)
    return deg.join(F.broadcast(n), deg.node == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("d").cast("long").alias("core_degree"),
    )


@register(
    "frequent_event_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    tri AS (
        SELECT e1 || '>' || e2 || '>' || e3 AS trigram,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE e3 IS NOT NULL GROUP BY 1
    )
    SELECT trigram, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, trigram) AS BIGINT) AS rk
    FROM tri
    QUALIFY rk <= 20
    """,
    tags=("sequence-mining", "trigram", "product-analytics", "window"),
)
def frequent_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining, PrefixSpan's workhorse special case: the
    top-20 most frequent length-3 event-type subsequences
    (contiguous) across per-user timelines. Two LEADs over one
    tie-stable user window turn sequence extraction into a single
    window shuffle — no per-user array materialization, no explode
    fan-out — then a 125-row-max aggregate and a tiny ranking. At
    100 TB the only corpus-sized exchange is the user window, which
    any per-user sequence feature shares anyway."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    tri = seq.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("trigram")
    ).agg(F.count(F.lit(1)).alias("n"))
    # Distinct trigram count grows with the corpus: take the top-20 via
    # orderBy+limit (TakeOrderedAndProject), then assign the rank over
    # the 20-row result so no unpartitioned Window sees the full
    # relation.
    top = tri.orderBy(F.desc("n"), "trigram").limit(20)
    rk = Window.orderBy(F.desc("n"), "trigram")
    return top.select(
        "trigram", "n", F.row_number().over(rk).cast("long").alias("rk")
    )


@register(
    "multitouch_attribution",
    oracle="""
    WITH touches AS (
        SELECT p.event_id AS conv_id,
               c.event_id AS touch_id,
               c.event_type AS channel,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY CAST(c.ts AS TIMESTAMP),
                                           c.event_id) AS pos,
               COUNT(*) OVER (PARTITION BY p.event_id) AS n
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND c.event_type IN ('click', 'view', 'signup')
         AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
         AND CAST(c.ts AS TIMESTAMP)
             >= CAST(p.ts AS TIMESTAMP) - INTERVAL 7 DAY
        WHERE p.event_type = 'purchase'
    ),
    credited AS (
        SELECT channel,
               1.0 / n AS linear_credit,
               CASE WHEN n = 1 THEN 1.0
                    WHEN n = 2 THEN 0.5
                    WHEN pos = 1 OR pos = n THEN 0.4
                    ELSE 0.2 / (n - 2) END AS ushape_credit
        FROM touches
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(linear_credit), 6) AS linear_credit,
           ROUND(SUM(ushape_credit), 6) AS ushape_credit
    FROM credited
    GROUP BY channel
    """,
    tags=("attribution", "multi-touch", "marketing", "interval-join"),
)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: every purchase credits its 7-day
    touchpoint path under two standard models — linear (1/n per
    touch) and U-shaped (40% first, 40% last, 20% split across the
    middle; degenerate paths collapse to 100% / 50-50). Distinct
    from interval_join_attribution (which emits the raw click→
    purchase pair stream): this allocates CREDIT over the full
    ordered path.

    Scale shape: the touch join is user-equi (range is a residual,
    never a cartesian); path position and length are one window over
    the conversion-partitioned touches; credit rules are map-only
    arithmetic; the channel rollup is a 5-row aggregate. Sums are
    rounded (6dp) because cross-engine summation order differs at
    the last ulp."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    c = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("c_user"),
        F.col("event_type").alias("channel"),
        F.col("ts").cast("timestamp").alias("c_ts"),
    )
    touches = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("conv_id").orderBy("c_ts", "touch_id")
    wn = Window.partitionBy("conv_id")
    pos, n = F.row_number().over(w), F.count(F.lit(1)).over(wn)
    credited = touches.select(
        "channel",
        pos.alias("pos"),
        n.alias("n"),
    ).select(
        "channel",
        (F.lit(1.0) / F.col("n")).alias("linear_credit"),
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
        .alias("ushape_credit"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("linear_credit"), 6).alias("linear_credit"),
        F.round(F.sum("ushape_credit"), 6).alias("ushape_credit"),
    )


# ---------------------------------------------------------------------------
# Data-driven Shapley attribution
# ---------------------------------------------------------------------------

#: Channel -> bit for the journey bitmask (alphabetical, purchase is
#: the conversion event, not a channel).
_SHAP_CHANNELS = (("click", 1), ("error", 2), ("signup", 4), ("view", 8))

#: Shapley coalition weights for n = 4 players, by |S| of the
#: coalition S the player joins: |S|!(n-1-|S|)!/n!.
_SHAP_W = ("CASE bit_count(s) WHEN 0 THEN 0.25 WHEN 1 THEN 1.0/12 "
           "WHEN 2 THEN 1.0/12 ELSE 0.25 END")

_SHAP_CH_SQL = ", ".join(f"('{n}', {b})" for n, b in _SHAP_CHANNELS)


@register(
    "shapley_attribution",
    oracle=f"""
    WITH ch(name, bit) AS (VALUES {_SHAP_CH_SQL}),
    fp AS (
        SELECT user_id, MIN(ts) AS fts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    m AS (
        SELECT fp.user_id, COALESCE(SUM(DISTINCT ch.bit), 0) AS mask
        FROM fp
        LEFT JOIN events e
          ON e.user_id = fp.user_id AND e.ts < fp.fts
         AND e.event_type <> 'purchase'
        LEFT JOIN ch ON ch.name = e.event_type
        GROUP BY fp.user_id
    ),
    mc AS (SELECT mask, COUNT(*) AS cnt FROM m GROUP BY mask),
    subs AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS s),
    v AS (
        SELECT s,
               COALESCE(SUM(CASE WHEN (mask & s) = mask THEN cnt END), 0)
                   AS v
        FROM subs CROSS JOIN mc GROUP BY s
    ),
    shap AS (
        SELECT ch.name,
               SUM(({_SHAP_W.replace('s', 'v1.s')})
                   * (v2.v - v1.v)) AS shapley
        FROM ch
        JOIN v v1 ON (v1.s & ch.bit) = 0
        JOIN v v2 ON v2.s = v1.s + ch.bit
        GROUP BY ch.name
    )
    SELECT name AS channel, ROUND(shapley, 6) AS shapley,
           CAST(tot.v AS BIGINT) AS n_conversions
    FROM shap CROSS JOIN (SELECT v FROM v WHERE s = 15) tot
    """,
    tags=("attribution", "shapley", "marketing", "bitmask",
          "subset-enumeration"),
)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven Shapley attribution over pre-conversion journeys:
    each converting user's channel set (distinct non-purchase event
    types strictly BEFORE their first purchase) becomes a 4-bit
    mask; the coalition value v(S) counts conversions whose mask is
    a SUBSET of S, and each channel's credit is the exact Shapley
    value over the 16 enumerated coalitions — the principled
    alternative to the heuristic first/last/linear rules in
    multitouch_attribution (efficiency property: credits sum to
    v(N) - v(empty), pinned in tests).

    Scale shape: the corpus-sized work is ONE self-restricted join
    (events x first-purchase timestamps on user_id) and one mask
    aggregate; everything after — the 16-value mask histogram, the
    16-row coalition-value relation via a broadcast subset spine,
    the 32-term Shapley sum — is bitmask arithmetic on
    domain-bounded relations. Subset containment is (mask & s) =
    mask, never set explosion."""
    events = load_table(spark, sf_dir, "events")
    ch = spark.createDataFrame(
        list(_SHAP_CHANNELS), "name string, bit long"
    )
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fts"))
    )
    e = events.alias("e")
    m = (
        fp.join(
            e,
            (F.col("e.user_id") == fp.user_id)
            & (F.col("e.ts") < F.col("fts"))
            & (F.col("e.event_type") != "purchase"),
            "left",
        )
        .join(
            F.broadcast(ch), F.col("name") == F.col("e.event_type"), "left"
        )
        .groupBy(fp.user_id)
        .agg(F.coalesce(F.sum_distinct("bit"), F.lit(0)).alias("mask"))
    )
    mc = m.groupBy("mask").agg(F.count("*").alias("cnt"))
    subs = spark.range(16).select(F.col("id").alias("s"))
    v = (
        subs.crossJoin(F.broadcast(mc))
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mask").bitwiseAND(F.col("s"))
                        == F.col("mask"),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            ).alias("v")
        )
    )
    w = (
        F.when(F.bit_count("s") == 0, F.lit(0.25))
        .when(F.bit_count("s") == 1, F.lit(1.0) / 12)
        .when(F.bit_count("s") == 2, F.lit(1.0) / 12)
        .otherwise(F.lit(0.25))
    )
    v1 = v.select(F.col("s"), F.col("v").alias("v1"))
    v2 = v.select(F.col("s").alias("s2"), F.col("v").alias("v2"))
    shap = (
        ch.join(F.broadcast(v1), F.col("s").bitwiseAND(F.col("bit")) == 0)
        .join(F.broadcast(v2), F.col("s2") == F.col("s") + F.col("bit"))
        .groupBy("name")
        .agg(F.sum(w * (F.col("v2") - F.col("v1"))).alias("shapley"))
    )
    tot = v.filter(F.col("s") == 15).select(
        F.col("v").alias("n_conversions")
    )
    return shap.crossJoin(F.broadcast(tot)).select(
        F.col("name").alias("channel"),
        F.round("shapley", 6).alias("shapley"),
        F.col("n_conversions").cast("long"),
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (random walk with restart)
# ---------------------------------------------------------------------------

_PPR_SEED = "NATION_0"


def _ppr_iter_sql(i: int) -> str:
    prev = f"p{i - 1}"
    return f""",
    p{i} AS (
        SELECT nodes.node,
               0.15 * (CASE WHEN nodes.node = '{_PPR_SEED}'
                            THEN 1.0 ELSE 0.0 END)
                 + 0.85 * COALESCE(c.s, 0.0) AS rank
        FROM nodes
        LEFT JOIN (
            SELECT t.dst, SUM({prev}.rank * t.wn) AS s
            FROM t JOIN {prev} ON t.src = {prev}.node
            GROUP BY t.dst
        ) c ON nodes.node = c.dst
    )"""


_PPR_ORACLE = (
    "WITH " + _PR_EDGES_SQL
    + f""",
    p0 AS (
        SELECT node, CASE WHEN node = '{_PPR_SEED}' THEN 1.0 ELSE 0.0 END
            AS rank
        FROM nodes
    )"""
    + "".join(_ppr_iter_sql(i) for i in range(1, 6))
    + "\n    SELECT node AS nation, CAST(rank AS REAL) AS ppr FROM p5"
)


@register(
    "ppr_trade_similarity",
    oracle=_PPR_ORACLE,
    tags=("graph", "personalized-pagerank", "random-walk", "iterative"),
)
def ppr_trade_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the NATION_0 seed over the
    nation trade graph — random walk with restart, the standard
    graph-proximity score for seed expansion and graph-based
    recommendation ("which trade partners is this economy most
    entangled with", direct or transitive). Restart mass returns
    entirely to the seed, so ranks decay with trade distance from
    it, unlike global pagerank_trade_graph.

    Scale shape identical to pagerank_trade_graph: corpus-sized work
    is the one edge aggregation; all 5 iterations run inside one
    array ``aggregate`` over the one-row 25-node graph
    (operators/graph.pagerank with a seed)."""
    return pagerank(trade_edges(spark, sf_dir), _PPR_SEED).select(
        F.col("node").alias("nation"),
        F.col("rank").cast("float").alias("ppr"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------

_TE_SMOOTH = 10.0  # pseudo-count weight toward the global prior


@register(
    "target_encode_loo",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority AS cat,
               COUNT(*) AS n, SUM(o_totalprice) AS s
        FROM orders GROUP BY 1
    ),
    prior AS (SELECT AVG(o_totalprice) AS mu FROM orders)
    SELECT o.o_orderkey AS orderkey, o.o_orderpriority AS cat,
           CAST(o.o_totalprice AS REAL) AS target,
           CAST((g.s - o.o_totalprice + {_TE_SMOOTH} * prior.mu)
                / (g.n - 1 + {_TE_SMOOTH}) AS REAL) AS loo_encoding
    FROM orders o
    JOIN g ON g.cat = o.o_orderpriority
    CROSS JOIN prior
    ORDER BY o.o_orderkey LIMIT 20
    """,
    tags=("feature-engineering", "target-encoding", "leave-one-out",
          "broadcast"),
)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the
    categorical-feature workhorse for gradient-boosted / linear
    models: each row's category is encoded by its group's target
    mean EXCLUDING the row itself (killing the self-leakage that
    makes naive target encoding overfit), shrunk toward the global
    prior by a pseudo-count (Micci-Barreca, SIGKDD Expl. 2001).

    Scale shape: one group aggregate over the category domain plus a
    1-row prior — both broadcast back onto the fact scan, so the
    encoding is MAP-ONLY per row (no window over the fact table, no
    per-group shuffle of facts). The 20-row sample is
    orderBy+limit (TakeOrderedAndProject)."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_orderpriority").alias("cat")).agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
    )
    prior = orders.agg(F.avg("o_totalprice").alias("mu"))
    enc = (
        orders.join(
            F.broadcast(g), F.col("o_orderpriority") == F.col("cat")
        )
        .crossJoin(F.broadcast(prior))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            "cat",
            F.col("o_totalprice").cast("float").alias("target"),
            (
                (
                    F.col("s")
                    - F.col("o_totalprice")
                    + F.lit(_TE_SMOOTH) * F.col("mu")
                )
                / (F.col("n") - 1 + F.lit(_TE_SMOOTH))
            )
            .cast("float")
            .alias("loo_encoding"),
        )
    )
    return enc.orderBy("orderkey").limit(20)


# ---------------------------------------------------------------------------
# HITS hubs and authorities
# ---------------------------------------------------------------------------

def _hits_iter_sql(i: int) -> str:
    prev_h = f"h{i - 1}n"
    return f""",
    a{i} AS (
        SELECT e.dst AS node, SUM(p.sc * e.w) AS sc
        FROM edges e JOIN {prev_h} p ON e.src = p.node
        GROUP BY e.dst
    ),
    a{i}n AS (
        SELECT node, sc / t.s AS sc
        FROM a{i} CROSS JOIN (SELECT SUM(sc) AS s FROM a{i}) t
    ),
    h{i} AS (
        SELECT e.src AS node, SUM(p.sc * e.w) AS sc
        FROM edges e JOIN a{i}n p ON e.dst = p.node
        GROUP BY e.src
    ),
    h{i}n AS (
        SELECT node, sc / t.s AS sc
        FROM h{i} CROSS JOIN (SELECT SUM(sc) AS s FROM h{i}) t
    )"""


_HITS_ORACLE = (
    "WITH " + _PR_EDGES_SQL
    + """,
    h0n AS (SELECT node, 1.0 AS sc FROM nodes)"""
    + "".join(_hits_iter_sql(i) for i in range(1, 4))
    + """
    SELECT n.node AS nation,
           CAST(COALESCE(h.sc, 0.0) AS REAL) AS hub,
           CAST(COALESCE(a.sc, 0.0) AS REAL) AS authority
    FROM nodes n
    LEFT JOIN h3n h ON n.node = h.node
    LEFT JOIN a3n a ON n.node = a.node"""
)


@register(
    "hits_trade_graph",
    oracle=_HITS_ORACLE,
    tags=("graph", "hits", "hubs-authorities", "iterative"),
)
def hits_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg '99) on the weighted nation trade graph: a
    nation's AUTHORITY is the hub-mass of its suppliers, its HUB
    score the authority-mass of its customers — mutually reinforcing
    and L1-normalized each half-step, 3 unrolled iterations. The
    complement to pagerank_trade_graph: PageRank ranks by random-walk
    visitation, HITS separates "big buyer" (hub) from "big seller"
    (authority) roles.

    Scale shape: the PageRank family's one edge aggregation, then the
    iterations in one array ``aggregate`` (operators/graph.hits)."""
    return hits(trade_edges(spark, sf_dir), 3).select(
        F.col("node").alias("nation"),
        F.col("hub").cast("float").alias("hub"),
        F.col("authority").cast("float").alias("authority"),
    )


# ---------------------------------------------------------------------------
# Histogram-based decision-stump split search (the GBDT primitive)
# ---------------------------------------------------------------------------

_STUMP_BINS = 16
_STUMP_FEATS = ("l_quantity", "l_discount", "l_tax")

_STUMP_FEATS_SQL = " UNION ALL ".join(
    f"SELECT '{f}' AS feat, CAST({f} AS DOUBLE) AS x, y FROM base"
    for f in _STUMP_FEATS
)


@register(
    "stump_split_search",
    oracle=f"""
    WITH base AS (
        SELECT l_quantity, l_discount, l_tax,
               l_extendedprice * (1 - l_discount) AS y
        FROM lineitem
    ),
    long AS ({_STUMP_FEATS_SQL}),
    rng AS (
        SELECT feat, MIN(x) AS lo, MAX(x) AS hi FROM long GROUP BY feat
    ),
    binned AS (
        SELECT l.feat,
               LEAST(CAST(FLOOR((l.x - r.lo) / (r.hi - r.lo)
                                * {_STUMP_BINS}) AS BIGINT),
                     {_STUMP_BINS - 1}) AS bin,
               l.y
        FROM long l JOIN rng r USING (feat)
    ),
    hist AS (
        SELECT feat, bin, COUNT(*) AS n, SUM(y) AS s, SUM(y * y) AS ss
        FROM binned GROUP BY feat, bin
    ),
    cum AS (
        SELECT feat, bin,
               SUM(n)  OVER w AS nl, SUM(s)  OVER w AS sl,
               SUM(ss) OVER w AS ssl,
               SUM(n)  OVER p AS nt, SUM(s)  OVER p AS st,
               SUM(ss) OVER p AS sst
        FROM hist
        WINDOW w AS (PARTITION BY feat ORDER BY bin),
               p AS (PARTITION BY feat)
    ),
    gains AS (
        SELECT c.feat, c.bin,
               r.lo + (c.bin + 1) * (r.hi - r.lo) / {_STUMP_BINS}
                   AS threshold,
               c.nl AS n_left, c.nt - c.nl AS n_right,
               (c.sst - c.st * c.st / c.nt)
               - (c.ssl - c.sl * c.sl / c.nl)
               - ((c.sst - c.ssl)
                  - (c.st - c.sl) * (c.st - c.sl) / (c.nt - c.nl))
                   AS gain
        FROM cum c JOIN rng r USING (feat)
        WHERE c.nl > 0 AND c.nt - c.nl > 0
    )
    SELECT feat, ROUND(threshold, 6) AS threshold,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           ROUND(gain, 4) AS gain
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY feat
                                     ORDER BY gain DESC, bin) AS rn
        FROM gains
    ) WHERE rn = 1
    """,
    tags=("gbdt", "decision-stump", "histogram-split", "ml-training",
          "supervised"),
)
def stump_split_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump split search — the inner-loop
    primitive of every distributed gradient-boosted-tree trainer
    (LightGBM/XGBoost-hist): per feature, bin the corpus into 16
    equal-width bins in ONE pass, then evaluate every bin-boundary
    split from CUMULATIVE bin statistics — variance gain
    = SSE(parent) − SSE(left) − SSE(right) via the sum/sumsq
    identity, no second data pass, no per-threshold rescan.
    Reports the best (threshold, gain, child sizes) per feature for
    predicting line revenue from quantity/discount/tax.

    Scale shape: the fact table is touched exactly once (a 3-way
    feature explode riding the scan, then the (feat, bin) hash
    aggregate → 48 rows); split evaluation is windows over ≤16-row
    per-feature partitions. This is why histogram GBDT scales where
    exact split enumeration (sort per feature per node) cannot."""
    li = load_table(spark, sf_dir, "lineitem")
    y = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y")
    base = li.select("l_quantity", "l_discount", "l_tax", y)
    long = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("feat"),
                        F.col(f).cast("double").alias("x"),
                    )
                    for f in _STUMP_FEATS
                ]
            )
        ).alias("fx"),
        "y",
    ).select("fx.feat", "fx.x", "y")
    rng = long.groupBy("feat").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    binned = long.join(F.broadcast(rng), "feat").select(
        "feat",
        F.least(
            F.floor(
                (F.col("x") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * _STUMP_BINS
            ).cast("long"),
            F.lit(_STUMP_BINS - 1),
        ).alias("bin"),
        "y",
    )
    hist = binned.groupBy("feat", "bin").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("feat").orderBy("bin")
    p = Window.partitionBy("feat")
    cum = hist.select(
        "feat",
        "bin",
        F.sum("n").over(w).alias("nl"),
        F.sum("s").over(w).alias("sl"),
        F.sum("ss").over(w).alias("ssl"),
        F.sum("n").over(p).alias("nt"),
        F.sum("s").over(p).alias("st"),
        F.sum("ss").over(p).alias("sst"),
    )
    gains = (
        cum.join(F.broadcast(rng), "feat")
        .filter((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0))
        .select(
            "feat",
            "bin",
            (
                F.col("lo")
                + (F.col("bin") + 1)
                * (F.col("hi") - F.col("lo"))
                / _STUMP_BINS
            ).alias("threshold"),
            F.col("nl").alias("n_left"),
            (F.col("nt") - F.col("nl")).alias("n_right"),
            (
                (F.col("sst") - F.col("st") * F.col("st") / F.col("nt"))
                - (F.col("ssl") - F.col("sl") * F.col("sl") / F.col("nl"))
                - (
                    (F.col("sst") - F.col("ssl"))
                    - (F.col("st") - F.col("sl"))
                    * (F.col("st") - F.col("sl"))
                    / (F.col("nt") - F.col("nl"))
                )
            ).alias("gain"),
        )
    )
    wb = Window.partitionBy("feat").orderBy(F.col("gain").desc(), "bin")
    return (
        gains.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "feat",
            F.round("threshold", 6).alias("threshold"),
            F.col("n_left").cast("long"),
            F.col("n_right").cast("long"),
            F.round("gain", 4).alias("gain"),
        )
    )


# ---------------------------------------------------------------------------
# Off-policy evaluation: IPS / SNIPS
# ---------------------------------------------------------------------------

_OPE_TAU = 2.0  # softmax temperature of the target policy


@register(
    "offpolicy_ips_estimate",
    oracle=f"""
    WITH logged AS (
        SELECT event_type AS arm, value AS r FROM events
    ),
    arms AS (
        SELECT arm, COUNT(*) AS n, AVG(r) AS mean_r FROM logged
        GROUP BY arm
    ),
    tot AS (SELECT SUM(n)::DOUBLE AS nt FROM arms),
    pol AS (
        SELECT arm, n / tot.nt AS p_log,
               EXP(mean_r / {_OPE_TAU})
               / SUM(EXP(mean_r / {_OPE_TAU})) OVER () AS p_tgt
        FROM arms CROSS JOIN tot
    ),
    w AS (
        SELECT l.r, p.p_tgt / p.p_log AS wt
        FROM logged l JOIN pol p USING (arm)
    )
    SELECT ROUND(SUM(r * wt) / COUNT(*), 6) AS ips_value,
           ROUND(SUM(r * wt) / SUM(wt), 6) AS snips_value,
           ROUND(SUM(wt) * SUM(wt) / SUM(wt * wt) / COUNT(*), 6)
               AS ess_frac,
           ROUND(MAX(wt), 6) AS max_weight,
           ROUND(AVG(r), 6) AS logging_value
    FROM w
    """,
    tags=("off-policy", "ips", "snips", "bandit", "evaluation"),
)
def offpolicy_ips_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a softmax target policy from logged
    interaction data — the counterfactual question every
    recommender/bandit change answers BEFORE an online A/B: events
    are (arm = event type, reward = value) logged under the
    empirical behavior policy; the target policy prefers
    higher-mean arms (softmax over arm means, tau = 2); its value
    is estimated by inverse-propensity scoring — IPS
    (unbiased, high variance), SNIPS (self-normalized — the
    standard variance fix), plus the diagnostics an OPE report
    needs: effective-sample-size fraction and the max importance
    weight (weight explosion = untrustworthy estimate).

    Scale shape: the arm relation is domain-sized (5 rows) and
    broadcast back; the corpus is scanned once for arm stats and
    once for the weighted estimate — both plain aggregates; the
    softmax normalizer is a 1-row broadcast."""
    events = load_table(spark, sf_dir, "events")
    logged = events.select(
        F.col("event_type").alias("arm"), F.col("value").alias("r")
    )
    arms = logged.groupBy("arm").agg(
        F.count("*").alias("n"), F.avg("r").alias("mean_r")
    )
    tot = arms.agg(
        F.sum("n").cast("double").alias("nt"),
        F.sum(F.exp(F.col("mean_r") / _OPE_TAU)).alias("z"),
    )
    pol = (
        arms.crossJoin(F.broadcast(tot))
        .withColumn("p_log", F.col("n") / F.col("nt"))
        .withColumn(
            "p_tgt", F.exp(F.col("mean_r") / _OPE_TAU) / F.col("z")
        )
        .select("arm", "p_log", "p_tgt")
    )
    w = logged.join(F.broadcast(pol), "arm").select(
        "r", (F.col("p_tgt") / F.col("p_log")).alias("wt")
    )
    return w.agg(
        F.round(F.sum(F.col("r") * F.col("wt")) / F.count("*"), 6).alias(
            "ips_value"
        ),
        F.round(
            F.sum(F.col("r") * F.col("wt")) / F.sum("wt"), 6
        ).alias("snips_value"),
        F.round(
            F.sum("wt")
            * F.sum("wt")
            / F.sum(F.col("wt") * F.col("wt"))
            / F.count("*"),
            6,
        ).alias("ess_frac"),
        F.round(F.max("wt"), 6).alias("max_weight"),
        F.round(F.avg("r"), 6).alias("logging_value"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA across market segments


@register(
    "anova_oneway_segments",
    oracle="""
    WITH joined AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
        SELECT seg, COUNT(*)::DOUBLE AS n, SUM(y) AS s, SUM(y*y) AS ss
        FROM joined GROUP BY seg
    ),
    tot AS (
        SELECT COUNT(*)::DOUBLE AS k, SUM(n) AS nn, SUM(s) AS st,
               SUM(ss) AS sst,
               SUM(s * s / n) AS sgm
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_total,
           CAST((sgm - st*st/nn) / (k - 1)
                / ((sst - sgm) / (nn - k)) AS REAL) AS f_stat,
           CAST((sgm - st*st/nn) / (sst - st*st/nn) AS REAL) AS eta_sq
    FROM tot
    """,
    tags=("anova", "f-test", "experiment", "statistics", "single-scan"),
)
def anova_oneway_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the 5 market segments:
    between-group sum of squares SSB = Σ s_g²/n_g − S²/N and within
    SSW = ΣSS − Σ s_g²/n_g both fall out of per-group (n, Σy, Σy²),
    so F = (SSB/(k−1))/(SSW/(N−k)) and the effect size η² = SSB/SST
    need exactly ONE grouped aggregate after the fact-dim join —
    the k-sample generalization of ab_test_welch's two arms.

    Scale shape: the only corpus work is the orders⋈customer equi-
    join (both shuffle on the key; at warehouse scale this is the
    standard co-partitioned fact-dim join) and its 5-row group
    aggregate; the F/η² algebra runs on one row.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias(
                "ss"
            ),
        )
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sgm"),
    )
    ssb = F.col("sgm") - F.col("st") * F.col("st") / F.col("nn")
    ssw = F.col("sst") - F.col("sgm")
    sstot = F.col("sst") - F.col("st") * F.col("st") / F.col("nn")
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_total"),
        (ssb / (F.col("k") - 1) / (ssw / (F.col("nn") - F.col("k"))))
        .cast("float")
        .alias("f_stat"),
        (ssb / sstot).cast("float").alias("eta_sq"),
    )


# --------------------------------------------------------------------------
# Log-rank test: survival difference between two customer strata


@register(
    "logrank_test_retention",
    oracle=f"""
    WITH g AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS gmax FROM orders),
    cust AS (
        SELECT o.o_custkey,
               DATEDIFF('day', CAST(MIN(o.o_orderdate) AS DATE),
                        CAST(MAX(o.o_orderdate) AS DATE)) AS duration,
               CASE WHEN DATEDIFF('day', CAST(MAX(o.o_orderdate) AS DATE),
                                  (SELECT gmax FROM g)) > {_KM_CHURN_DAYS}
                    THEN 1 ELSE 0 END AS churned,
               CASE WHEN MAX(c.c_mktsegment) = 'BUILDING'
                    THEN 1 ELSE 0 END AS grp
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey
    ),
    tbl AS (
        SELECT duration,
               SUM(churned)::DOUBLE AS d,
               SUM(churned * grp)::DOUBLE AS d1,
               COUNT(*)::DOUBLE AS c,
               SUM(grp)::DOUBLE AS c1
        FROM cust GROUP BY duration
    ),
    risk AS (
        SELECT duration, d, d1,
               SUM(c)  OVER (ORDER BY duration DESC
                             ROWS UNBOUNDED PRECEDING) AS n_risk,
               SUM(c1) OVER (ORDER BY duration DESC
                             ROWS UNBOUNDED PRECEDING) AS n1_risk
        FROM tbl
    ),
    acc AS (
        SELECT SUM(d1) AS o1,
               SUM(d * n1_risk / n_risk) AS e1,
               SUM(CASE WHEN n_risk > 1
                        THEN d * (n1_risk / n_risk)
                             * (1 - n1_risk / n_risk)
                             * (n_risk - d) / (n_risk - 1)
                        ELSE 0 END) AS v
        FROM risk WHERE d > 0
    )
    SELECT CAST(o1 AS BIGINT) AS observed_1,
           CAST(e1 AS REAL) AS expected_1,
           CAST((o1 - e1) / SQRT(v) AS REAL) AS z,
           CAST((o1 - e1) * (o1 - e1) / v AS REAL) AS chi_sq
    FROM acc
    """,
    tags=("survival", "log-rank", "hypothesis-test", "censoring",
          "kaplan-meier"),
)
def logrank_test_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel–Cox) test: does the BUILDING segment churn on
    a different clock than everyone else?  Shares kaplan_meier_retention's
    duration/censoring construction, then at every event time t
    compares group 1's observed churn d1(t) with its hypergeometric
    expectation d(t)·n1(t)/n(t) under H0 (identical hazards), and
    accumulates the variance d·(n1/n)(1−n1/n)(n−d)/(n−1).  The
    standard two-sample survival comparison — KM curves show the
    difference, this says whether it's noise.

    Scale shape: identical to the KM query — one corpus aggregate to
    per-customer rows, one to the distinct-duration life table; the
    at-risk reversed-cumulative windows and the O/E/V reduction all
    run on that calendar-bounded relation.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    g = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("firstd"),
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            F.max("c_mktsegment").alias("seg"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            F.datediff("lastd", "firstd").alias("duration"),
            F.when(
                F.datediff("gmax", "lastd") > _KM_CHURN_DAYS, 1
            ).otherwise(0).alias("churned"),
            F.when(F.col("seg") == "BUILDING", 1).otherwise(0).alias(
                "grp"
            ),
        )
    )
    tbl = cust.groupBy("duration").agg(
        F.sum("churned").cast("double").alias("d"),
        F.sum(F.col("churned") * F.col("grp")).cast("double").alias("d1"),
        F.count(F.lit(1)).cast("double").alias("c"),
        F.sum("grp").cast("double").alias("c1"),
    )
    w_desc = Window.orderBy(F.desc("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = tbl.select(
        "duration",
        "d",
        "d1",
        F.sum("c").over(w_desc).alias("n_risk"),
        F.sum("c1").over(w_desc).alias("n1_risk"),
    ).filter(F.col("d") > 0)
    p1 = F.col("n1_risk") / F.col("n_risk")
    acc = risk.agg(
        F.sum("d1").alias("o1"),
        F.sum(F.col("d") * p1).alias("e1"),
        F.sum(
            F.when(
                F.col("n_risk") > 1,
                F.col("d")
                * p1
                * (1 - p1)
                * (F.col("n_risk") - F.col("d"))
                / (F.col("n_risk") - 1),
            ).otherwise(0.0)
        ).alias("v"),
    )
    return acc.select(
        F.col("o1").cast("long").alias("observed_1"),
        F.col("e1").cast("float").alias("expected_1"),
        ((F.col("o1") - F.col("e1")) / F.sqrt(F.col("v")))
        .cast("float")
        .alias("z"),
        (
            (F.col("o1") - F.col("e1"))
            * (F.col("o1") - F.col("e1"))
            / F.col("v")
        )
        .cast("float")
        .alias("chi_sq"),
    )


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the per-nation mean-spend test family

_BH_Q = 0.10
# Abramowitz-Stegun 26.2.17 normal CDF, identical text on both
# engines (neither exposes a portable erf): Phi(|z|) with
# k = 1/(1 + 0.2316419|z|) and the 5-term polynomial; two-sided
# p = 2(1 - Phi(|z|)).  |poly error| < 7.5e-8 — identical to f32.
_BH_K = "(1 / (1 + 0.2316419 * ABS(z)))"
_BH_P = (
    "(2 * (EXP(-0.5 * z * z) / 2.5066282746310002 * "
    "(0.319381530 * {k} - 0.356563782 * {k} * {k}"
    " + 1.781477937 * {k} * {k} * {k}"
    " - 1.821255978 * {k} * {k} * {k} * {k}"
    " + 1.330274429 * {k} * {k} * {k} * {k} * {k})))"
).format(k=_BH_K)


@register(
    "fdr_bh_nation_tests",
    oracle=f"""
    WITH joined AS (
        SELECT n.n_name AS nation, o.o_totalprice AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    g AS (
        SELECT nation, COUNT(*)::DOUBLE AS n, SUM(y) AS s,
               SUM(y*y) AS ss
        FROM joined GROUP BY nation
    ),
    tot AS (
        SELECT SUM(n) AS nn, SUM(s) AS st, SUM(ss) AS sst FROM g
    ),
    zs AS (
        SELECT nation,
               (s/n - (st - s)/(nn - n))
               / SQRT(((ss - s*s/n) / (n - 1)) / n
                      + (((sst - ss) - (st - s)*(st - s)/(nn - n))
                         / (nn - n - 1)) / (nn - n)) AS z
        FROM g CROSS JOIN tot
    ),
    ps AS (
        SELECT nation, z, {_BH_P} AS p,
               ROW_NUMBER() OVER (ORDER BY {_BH_P}, nation) AS i,
               COUNT(*) OVER () AS m
        FROM zs
    ),
    mx AS (
        SELECT MAX(CASE WHEN p <= {_BH_Q} * i / m THEN i END) AS imax
        FROM ps
    )
    SELECT nation,
           CAST(z AS REAL) AS z,
           CAST(p AS REAL) AS p_value,
           CAST(i AS BIGINT) AS p_rank,
           CAST({_BH_Q} * i / m AS REAL) AS bh_crit,
           CAST(CASE WHEN i <= COALESCE(imax, 0) THEN 1 ELSE 0 END
                AS INT) AS rejected
    FROM ps CROSS JOIN mx
    """,
    tags=("fdr", "benjamini-hochberg", "multiple-testing",
          "hypothesis-test", "welch"),
)
def fdr_bh_nation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a FAMILY of tests — the
    missing piece once dashboards run 25 parallel nation-vs-rest
    Welch tests and 'significant' results appear by volume alone.
    Each nation's complement moments come from total−group algebra
    (the cv_ols trick — no second corpus pass), the two-sided p uses
    the Abramowitz–Stegun Φ polynomial (shared formula text, since
    neither engine has a portable erf), and BH's step-up rule rejects
    ranks 1..i* where i* = max{{i : p_(i) ≤ q·i/m}} at q = 0.10.

    Scale shape: ONE corpus pass to 25 per-nation moment rows; the
    sort, rank window and step-up scan all run on the 25-row family.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias(
                "ss"
            ),
        )
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
    )
    mean_g = F.col("s") / F.col("n")
    mean_r = (F.col("st") - F.col("s")) / (F.col("nn") - F.col("n"))
    var_g = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    var_r = (
        (F.col("sst") - F.col("ss"))
        - (F.col("st") - F.col("s"))
        * (F.col("st") - F.col("s"))
        / (F.col("nn") - F.col("n"))
    ) / (F.col("nn") - F.col("n") - 1)
    zs = g.crossJoin(F.broadcast(tot)).select(
        "nation",
        (
            (mean_g - mean_r)
            / F.sqrt(
                var_g / F.col("n") + var_r / (F.col("nn") - F.col("n"))
            )
        ).alias("z"),
    )
    ps = zs.select(
        "nation",
        "z",
        F.expr(_BH_P).alias("p"),
    ).select(
        "nation",
        "z",
        "p",
        F.row_number()
        .over(Window.orderBy("p", "nation"))
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    mx = ps.agg(
        F.max(
            F.when(
                F.col("p") <= _BH_Q * F.col("i") / F.col("m"), F.col("i")
            )
        ).alias("imax")
    )
    return ps.crossJoin(F.broadcast(mx)).select(
        "nation",
        F.col("z").cast("float").alias("z"),
        F.col("p").cast("float").alias("p_value"),
        F.col("i").cast("long").alias("p_rank"),
        (F.lit(_BH_Q) * F.col("i") / F.col("m"))
        .cast("float")
        .alias("bh_crit"),
        F.when(F.col("i") <= F.coalesce(F.col("imax"), F.lit(0)), 1)
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    )


# --------------------------------------------------------------------------
# All-pairs shortest paths via min-plus matrix squaring

@register(
    "apsp_trade_costs",
    oracle=f"""
    WITH edges AS ({_TRADE_EDGES_SQL}),
    tw AS (SELECT SUM(w) AS t FROM edges),
    nodes AS (
        SELECT src AS v FROM edges UNION SELECT dst FROM edges
    ),
    d0 AS (
        SELECT src, dst, MIN(c) AS c FROM (
            SELECT src, dst, LN(t / w) AS c FROM edges CROSS JOIN tw
            UNION ALL
            SELECT v, v, 0.0 FROM nodes
        ) GROUP BY 1, 2
    ),
    d1 AS (
        SELECT a.src, b.dst, MIN(a.c + b.c) AS c
        FROM d0 a JOIN d0 b ON a.dst = b.src GROUP BY 1, 2
    ),
    d2 AS (
        SELECT a.src, b.dst, MIN(a.c + b.c) AS c
        FROM d1 a JOIN d1 b ON a.dst = b.src GROUP BY 1, 2
    ),
    d3 AS (
        SELECT a.src, b.dst, MIN(a.c + b.c) AS c
        FROM d2 a JOIN d2 b ON a.dst = b.src GROUP BY 1, 2
    )
    SELECT src, dst, CAST(c AS REAL) AS cost
    FROM d3
    """,
    tags=("graph", "shortest-path", "apsp", "min-plus",
          "matrix-squaring"),
)
def apsp_trade_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs shortest paths on the weighted nation trade graph by
    MIN-PLUS MATRIX SQUARING: with edge cost ln(Σw / w_e) (strong
    trade flows are cheap to traverse), D_{2k} = min_j D_k(i,j) +
    D_k(j,·) doubles the covered path length per round — 3 squarings
    reach length-8 paths, past any 25-node diameter.  The log-rounds
    complement to bfs_shortest_hops's per-hop frontier expansion:
    O(log V) squarings instead of O(V) Bellman–Ford sweeps.

    Scale shape: the PageRank family's one edge aggregation, then the
    squarings in one array ``aggregate`` (operators/graph.apsp).
    """
    return apsp(trade_edges(spark, sf_dir), 3).select(
        "src", "dst", F.col("c").cast("float").alias("cost")
    )


# --------------------------------------------------------------------------
# Mutual-information feature ranking (binned features vs return flag)

_MI_BINS = 8
_MI_FEATS = ("l_quantity", "l_discount", "l_tax")

_MI_FEATS_SQL = " UNION ALL ".join(
    f"SELECT '{f}' AS feat, CAST({f} AS DOUBLE) AS x, l_returnflag AS lbl"
    " FROM lineitem"
    for f in _MI_FEATS
)


@register(
    "mutual_info_features",
    oracle=f"""
    WITH long AS ({_MI_FEATS_SQL}),
    rng AS (
        SELECT feat, MIN(x) AS lo, MAX(x) AS hi FROM long GROUP BY feat
    ),
    binned AS (
        SELECT l.feat,
               LEAST(CAST(FLOOR((l.x - r.lo) / (r.hi - r.lo)
                                * {_MI_BINS}) AS BIGINT),
                     {_MI_BINS - 1}) AS bin,
               l.lbl
        FROM long l JOIN rng r ON l.feat = r.feat
    ),
    joint AS (
        SELECT feat, bin, lbl, COUNT(*)::DOUBLE AS nxy
        FROM binned GROUP BY 1, 2, 3
    ),
    mx AS (
        SELECT feat, bin, SUM(nxy) AS nx FROM joint GROUP BY 1, 2
    ),
    my AS (
        SELECT feat, lbl, SUM(nxy) AS ny FROM joint GROUP BY 1, 2
    ),
    tot AS (SELECT feat, SUM(nxy) AS nn FROM joint GROUP BY 1)
    SELECT j.feat,
           CAST(SUM(j.nxy / t.nn
                    * LN(j.nxy * t.nn / (x.nx * y.ny))) AS REAL)
               AS mi_nats,
           CAST(COUNT(DISTINCT j.bin) AS BIGINT) AS n_bins_used
    FROM joint j
    JOIN mx x ON j.feat = x.feat AND j.bin = x.bin
    JOIN my y ON j.feat = y.feat AND j.lbl = y.lbl
    JOIN tot t ON j.feat = t.feat
    GROUP BY j.feat
    """,
    tags=("mutual-information", "feature-selection", "entropy",
          "histogram", "single-scan"),
)
def mutual_info_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between each 8-bin histogram feature
    and the return flag — the model-free feature-relevance screen
    that catches nonlinear and non-monotone dependence a correlation
    matrix misses (corr_matrix_lineitem is the linear sibling, the
    stump gain the variance-reduction one).  I = Σ p(x,y)·
    ln(p(x,y)/(p(x)p(y))) over the (feat, bin, label) contingency
    cube.

    Scale shape: the fact table is touched ONCE (3-way feature
    explode riding the scan, the stump-histogram mold); the joint
    counts are a grouped aggregate of the ≤feat×bins×labels cube, the
    marginals are windows over that cube partitioned by feat, and the
    MI reduction is a 3-row groupBy.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select("l_quantity", "l_discount", "l_tax",
                     F.col("l_returnflag").alias("lbl"))
    long = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("feat"),
                        F.col(f).cast("double").alias("x"),
                    )
                    for f in _MI_FEATS
                ]
            )
        ).alias("fx"),
        "lbl",
    ).select("fx.feat", "fx.x", "lbl")
    rng = long.groupBy("feat").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    binned = long.join(F.broadcast(rng), "feat").select(
        "feat",
        F.least(
            F.floor(
                (F.col("x") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * _MI_BINS
            ).cast("long"),
            F.lit(_MI_BINS - 1),
        ).alias("bin"),
        "lbl",
    )
    # One exchange of the cube on feat serves the three marginal
    # windows and the per-feature reduction: no marginal aggregate is
    # joined back, so no AQE join rewrite (whose timing varied the job
    # count) is left to make.
    joint = (
        binned.groupBy("feat", "bin", "lbl")
        .agg(F.count(F.lit(1)).cast("double").alias("nxy"))
        .repartition("feat")
    )
    return (
        joint.select(
            "feat",
            "bin",
            "nxy",
            F.sum("nxy").over(Window.partitionBy("feat", "bin")).alias("nx"),
            F.sum("nxy").over(Window.partitionBy("feat", "lbl")).alias("ny"),
            F.sum("nxy").over(Window.partitionBy("feat")).alias("nn"),
        )
        .groupBy("feat")
        .agg(
            F.sum(
                F.col("nxy")
                / F.col("nn")
                * F.log(
                    F.col("nxy") * F.col("nn")
                    / (F.col("nx") * F.col("ny"))
                )
            )
            .cast("float")
            .alias("mi_nats"),
            F.countDistinct("bin").cast("long").alias("n_bins_used"),
        )
    )


# --------------------------------------------------------------------------
# Always-valid inference: mixture SPRT p-value for the A/B readout

_MSPRT_TAU2 = 25.0  # mixing variance of the effect-size prior


@register(
    "msprt_always_valid",
    oracle=f"""
    WITH assigned AS (
        SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
                         ::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT arm, COUNT(*)::DOUBLE AS n, AVG(value) AS mean,
               VAR_SAMP(value) AS var
        FROM assigned GROUP BY arm
    ),
    w AS (
        SELECT a.n AS n_a, b.n AS n_b,
               b.mean - a.mean AS delta,
               a.var / a.n + b.var / b.n AS v
        FROM (SELECT * FROM s WHERE arm = 'A') a
        CROSS JOIN (SELECT * FROM s WHERE arm = 'B') b
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(delta AS REAL) AS delta,
           CAST(SQRT(v / (v + {_MSPRT_TAU2}))
                * EXP(delta * delta * {_MSPRT_TAU2}
                      / (2 * v * (v + {_MSPRT_TAU2}))) AS REAL)
               AS lambda,
           CAST(LEAST(1.0,
                      1.0 / (SQRT(v / (v + {_MSPRT_TAU2}))
                             * EXP(delta * delta * {_MSPRT_TAU2}
                                   / (2 * v * (v + {_MSPRT_TAU2})))))
                AS REAL) AS always_valid_p
    FROM w
    """,
    tags=("msprt", "always-valid", "sequential-testing", "experiment",
          "ab-test"),
)
def msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid p-value via the mixture SPRT (Johari et al.,
    KDD'17 — the math behind 'peeking-safe' commercial A/B
    platforms): the normal-mixture likelihood ratio Λ =
    √(V/(V+τ²))·exp(δ²τ²/(2V(V+τ²))) over the same deterministic
    hash split as ab_test_welch, with V the Welch variance of the
    arm-mean difference and τ² the effect prior.  p = min(1, 1/Λ)
    stays valid UNDER CONTINUOUS MONITORING — the fixed-n Welch t is
    anti-conservative the moment a dashboard refreshes daily.

    Scale shape: identical to ab_test_welch — map-side hash
    assignment, ONE grouped aggregate to two arm rows, closed-form
    algebra on a self-cross of 1-row relations.
    """
    from axolotls_spark.operators.dedup import token_hash

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    assigned = e.select(
        F.when(
            token_hash(F.col("user_id").cast("string")) % 2 == 0, "A"
        )
        .otherwise("B")
        .alias("arm"),
        "value",
    )
    s = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("var"),
    )
    a = s.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = s.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    w = a.crossJoin(b).select(
        "n_a",
        "n_b",
        (F.col("mean_b") - F.col("mean_a")).alias("delta"),
        (
            F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
        ).alias("v"),
    )
    lam = F.sqrt(F.col("v") / (F.col("v") + _MSPRT_TAU2)) * F.exp(
        F.col("delta")
        * F.col("delta")
        * _MSPRT_TAU2
        / (2 * F.col("v") * (F.col("v") + _MSPRT_TAU2))
    )
    return w.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("delta").cast("float").alias("delta"),
        lam.cast("float").alias("lambda"),
        F.least(F.lit(1.0), 1.0 / lam).cast("float").alias(
            "always_valid_p"
        ),
    )


# --------------------------------------------------------------------------
# Stratified (sub-classification) treatment-effect estimate


@register(
    "stratified_ate_balance",
    oracle="""
    WITH base AS (
        SELECT CAST(FLOOR(c.c_acctbal / 1000) AS BIGINT) AS stratum,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treat,
               o.o_totalprice AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
        SELECT stratum, treat, COUNT(*)::DOUBLE AS n, AVG(y) AS mean
        FROM base GROUP BY 1, 2
    ),
    strata AS (
        SELECT stratum,
               SUM(n) AS ns,
               MAX(CASE WHEN treat = 1 THEN mean END) AS mt,
               MAX(CASE WHEN treat = 0 THEN mean END) AS mc
        FROM cells GROUP BY 1
    ),
    ok AS (SELECT * FROM strata WHERE mt IS NOT NULL AND mc IS NOT NULL),
    raw AS (
        SELECT AVG(CASE WHEN treat = 1 THEN y END)
               - AVG(CASE WHEN treat = 0 THEN y END) AS ate_raw,
               COUNT(*)::DOUBLE AS n_all
        FROM base
    )
    SELECT CAST(MAX(raw.ate_raw) AS REAL) AS ate_raw,
           CAST(SUM(ok.ns * (ok.mt - ok.mc)) / SUM(ok.ns) AS REAL)
               AS ate_stratified,
           CAST(COUNT(*) AS BIGINT) AS n_strata_used,
           CAST(SUM(ok.ns) / MAX(raw.n_all) AS REAL) AS coverage_frac
    FROM ok CROSS JOIN raw
    """,
    tags=("causal", "stratification", "ate", "subclassification",
          "experiment"),
)
def stratified_ate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-classification treatment-effect estimate (Cochran '68 —
    the precursor to propensity stratification): compare BUILDING-
    segment order values against the rest WITHIN $1000 account-
    balance strata, then average the per-stratum gaps weighted by
    stratum size.  If balance confounds segment membership, the raw
    gap and the stratified ATE diverge — the query reports both,
    plus how many strata had both arms (positivity) and the row
    coverage of those strata.

    Scale shape: ONE corpus pass to the (stratum, arm) cell means;
    everything after runs on the ≤|bands|×2 cell relation.  The
    stratified estimator is what an observational pipeline runs
    daily where cuped_adjusted_lift handles the randomized case.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("stratum"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("treat"),
        F.col("o_totalprice").alias("y"),
    )
    cells = base.groupBy("stratum", "treat").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("mean"),
    )
    strata = cells.groupBy("stratum").agg(
        F.sum("n").alias("ns"),
        F.max(F.when(F.col("treat") == 1, F.col("mean"))).alias("mt"),
        F.max(F.when(F.col("treat") == 0, F.col("mean"))).alias("mc"),
    )
    ok = strata.filter(
        F.col("mt").isNotNull() & F.col("mc").isNotNull()
    )
    raw = base.agg(
        (
            F.avg(F.when(F.col("treat") == 1, F.col("y")))
            - F.avg(F.when(F.col("treat") == 0, F.col("y")))
        ).alias("ate_raw"),
        F.count(F.lit(1)).cast("double").alias("n_all"),
    )
    return ok.crossJoin(F.broadcast(raw)).agg(
        F.max("ate_raw").cast("float").alias("ate_raw"),
        (
            F.sum(F.col("ns") * (F.col("mt") - F.col("mc")))
            / F.sum("ns")
        )
        .cast("float")
        .alias("ate_stratified"),
        F.count(F.lit(1)).cast("long").alias("n_strata_used"),
        (F.sum("ns") / F.max("n_all")).cast("float").alias(
            "coverage_frac"
        ),
    )


# --------------------------------------------------------------------------
# Chow structural-break test on the OLS pricing model

_CHOW_BREAK = "1998-06-01"
_CHOW_K = 3  # parameters per regime (intercept + 2 slopes)

_CHOW_SELF_SSE = (
    "(syy - (({b0})*sy + ({b1})*s1y + ({b2})*s2y))"
).format(b0=_OLS_B0, b1=_OLS_B1, b2=_OLS_B2)

_CHOW_MOMENT_EXPRS = {
    "n": "COUNT(*)",
    "s1": "SUM(x1)",
    "s2": "SUM(x2)",
    "s11": "SUM(x1*x1)",
    "s12": "SUM(x1*x2)",
    "s22": "SUM(x2*x2)",
    "sy": "SUM(y)",
    "syy": "SUM(y*y)",
    "s1y": "SUM(x1*y)",
    "s2y": "SUM(x2*y)",
}


@register(
    "chow_test_break",
    oracle=f"""
    WITH feats AS (
        SELECT CASE WHEN l_shipdate < TIMESTAMP '{_CHOW_BREAK}'
                    THEN 0 ELSE 1 END AS period,
               l_quantity AS x1, l_discount AS x2,
               l_extendedprice AS y
        FROM lineitem
    ),
    pm AS (
        SELECT period,
               {", ".join(f"{e}::DOUBLE AS {k}"
                          for k, e in _CHOW_MOMENT_EXPRS.items())}
        FROM feats GROUP BY period
    ),
    sse_p AS (
        SELECT period, n, {_CHOW_SELF_SSE} AS sse FROM pm
    ),
    pooled AS (
        SELECT {", ".join(f"SUM({k}) AS {k}"
                          for k in _CHOW_MOMENT_EXPRS)}
        FROM pm
    ),
    sse_pool AS (SELECT n, {_CHOW_SELF_SSE} AS sse FROM pooled),
    acc AS (
        SELECT SUM(sse) AS sse_split, SUM(n) AS n_all,
               MIN(CASE WHEN period = 0 THEN n END) AS n_pre
        FROM sse_p
    )
    SELECT CAST(acc.n_pre AS BIGINT) AS n_pre,
           CAST(acc.n_all - acc.n_pre AS BIGINT) AS n_post,
           CAST(sse_pool.sse AS REAL) AS sse_pooled,
           CAST(acc.sse_split AS REAL) AS sse_split,
           CAST(((sse_pool.sse - acc.sse_split) / {_CHOW_K})
                / (acc.sse_split / (acc.n_all - 2 * {_CHOW_K}))
                AS REAL) AS chow_f
    FROM acc CROSS JOIN sse_pool
    """,
    tags=("chow-test", "structural-break", "ols", "regression",
          "shared-algebra", "single-scan"),
)
def chow_test_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the pricing model
    (price ~ quantity + discount) at {break_date}: fit the two
    regimes and the pooled model purely from ADDITIVE MOMENTS (the
    cv_ols trick — per-period moment rows sum to the pooled row,
    each fit is Cramer algebra on its own row, and a self-fit's SSE
    collapses to syy − b'X'y), then
    F = ((SSE_pooled − SSE_split)/k) / (SSE_split/(n−2k)).
    cusum_changepoint finds WHERE the series shifted; this says
    whether the REGRESSION RELATIONSHIP itself changed, with a
    sampling distribution attached.

    Scale shape: ONE grouped scan to two 10-moment rows; every fit,
    SSE and the F ratio run on ≤2-row relations.
    """.format(break_date=_CHOW_BREAK)
    li = load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.when(
            F.col("l_shipdate") < F.lit(_CHOW_BREAK).cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("period"),
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    pm = feats.groupBy("period").agg(
        *[
            F.expr(e).cast("double").alias(k)
            for k, e in _CHOW_MOMENT_EXPRS.items()
        ]
    )
    sse_p = pm.select(
        "period", "n", F.expr(_CHOW_SELF_SSE).alias("sse")
    )
    pooled = pm.agg(
        *[F.sum(k).alias(k) for k in _CHOW_MOMENT_EXPRS]
    )
    sse_pool = pooled.select("n", F.expr(_CHOW_SELF_SSE).alias("sse"))
    acc = sse_p.agg(
        F.sum("sse").alias("sse_split"),
        F.sum("n").alias("n_all"),
        F.min(F.when(F.col("period") == 0, F.col("n"))).alias("n_pre"),
    )
    return acc.crossJoin(
        F.broadcast(
            sse_pool.select(F.col("sse").alias("sse_pooled"))
        )
    ).select(
        F.col("n_pre").cast("long").alias("n_pre"),
        (F.col("n_all") - F.col("n_pre")).cast("long").alias("n_post"),
        F.col("sse_pooled").cast("float").alias("sse_pooled"),
        F.col("sse_split").cast("float").alias("sse_split"),
        (
            ((F.col("sse_pooled") - F.col("sse_split")) / _CHOW_K)
            / (F.col("sse_split") / (F.col("n_all") - 2 * _CHOW_K))
        )
        .cast("float")
        .alias("chow_f"),
    )


# --------------------------------------------------------------------------
# Ridge regularization path from centered moments

_RIDGE_LFS = (0.0, 0.01, 0.1, 1.0)
# Centered second moments; lam = lf * (Sxx+Szz)/2 keeps the path
# scale-free across SFs and feature units.
_RIDGE_PRE = {
    "sxx": "(s11 - s1*s1/n)",
    "sxz": "(s12 - s1*s2/n)",
    "szz": "(s22 - s2*s2/n)",
    "sxy": "(s1y - s1*sy/n)",
    "szy": "(s2y - s2*sy/n)",
    "syyc": "(syy - sy*sy/n)",
}
_RIDGE_LAM = "(lf * (sxx + szz) / 2)"
_RIDGE_DET = f"((sxx + {_RIDGE_LAM}) * (szz + {_RIDGE_LAM}) - sxz*sxz)"
_RIDGE_B1 = f"((sxy * (szz + {_RIDGE_LAM}) - sxz * szy) / {_RIDGE_DET})"
_RIDGE_B2 = f"(((sxx + {_RIDGE_LAM}) * szy - sxz * sxy) / {_RIDGE_DET})"
_RIDGE_SSE = (
    "(syyc - 2*(({b1})*sxy + ({b2})*szy)"
    " + ({b1})*({b1})*sxx + 2*({b1})*({b2})*sxz"
    " + ({b2})*({b2})*szz)"
).format(b1=_RIDGE_B1, b2=_RIDGE_B2)


@register(
    "ridge_path_lineitem",
    oracle=f"""
    WITH m AS (
        SELECT COUNT(*)::DOUBLE AS n,
               SUM(l_quantity) AS s1, SUM(l_discount) AS s2,
               SUM(l_quantity*l_quantity) AS s11,
               SUM(l_quantity*l_discount) AS s12,
               SUM(l_discount*l_discount) AS s22,
               SUM(l_extendedprice) AS sy,
               SUM(l_extendedprice*l_extendedprice) AS syy,
               SUM(l_quantity*l_extendedprice) AS s1y,
               SUM(l_discount*l_extendedprice) AS s2y
        FROM lineitem
    ),
    c AS (
        SELECT n, s1, s2, sy,
               {", ".join(f"{e} AS {k}" for k, e in _RIDGE_PRE.items())}
        FROM m
    ),
    lams AS (
        SELECT CAST(unnest([{", ".join(str(lf) for lf in _RIDGE_LFS)}])
                    AS DOUBLE) AS lf
    )
    SELECT CAST(lf AS REAL) AS lam_frac,
           CAST((sy - ({_RIDGE_B1})*s1 - ({_RIDGE_B2})*s2) / n
                AS REAL) AS b0,
           CAST({_RIDGE_B1} AS REAL) AS b1,
           CAST({_RIDGE_B2} AS REAL) AS b2,
           CAST(1 - ({_RIDGE_SSE}) / syyc AS REAL) AS r2
    FROM lams CROSS JOIN c
    """,
    tags=("ridge", "regularization", "regression", "shared-algebra",
          "single-scan"),
)
def ridge_path_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regularization path for price ~ quantity + discount —
    four shrinkage levels solved CLOSED-FORM from one set of
    centered moments: β(λ) = (X'X + λI)⁻¹X'y with the intercept
    unpenalized (centered algebra), λ = lf·(Sxx+Szz)/2 so the path
    is scale-free across SFs.  The model-selection companion to
    cv_ols_generalization: the path shows how fast the fit degrades
    as coefficients shrink — k retrains for the price of ZERO extra
    scans, because moments are sufficient statistics.

    Scale shape: ONE corpus aggregate to a 1-row moment relation;
    the 4-point λ spine is a broadcast literal cross and all solves
    run on 4 rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("l_quantity").alias("s1"),
        F.sum("l_discount").alias("s2"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("s11"),
        F.sum(F.col("l_quantity") * F.col("l_discount")).alias("s12"),
        F.sum(F.col("l_discount") * F.col("l_discount")).alias("s22"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias(
            "syy"
        ),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias(
            "s1y"
        ),
        F.sum(F.col("l_discount") * F.col("l_extendedprice")).alias(
            "s2y"
        ),
    )
    c = m.select(
        "n",
        "s1",
        "s2",
        "sy",
        *[F.expr(e).alias(k) for k, e in _RIDGE_PRE.items()],
    )
    lams = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(lf)) for lf in _RIDGE_LFS])
        ).alias("lf")
    )
    return lams.crossJoin(F.broadcast(c)).select(
        F.col("lf").cast("float").alias("lam_frac"),
        (
            (
                F.col("sy")
                - F.expr(_RIDGE_B1) * F.col("s1")
                - F.expr(_RIDGE_B2) * F.col("s2")
            )
            / F.col("n")
        )
        .cast("float")
        .alias("b0"),
        F.expr(_RIDGE_B1).cast("float").alias("b1"),
        F.expr(_RIDGE_B2).cast("float").alias("b2"),
        (1 - F.expr(_RIDGE_SSE) / F.col("syyc"))
        .cast("float")
        .alias("r2"),
    )


# --------------------------------------------------------------------------
# Randomization (permutation) test — round 5.  Exact-replay Monte
# Carlo: the B pseudo-permutations are md5-derived Bernoulli
# reassignments of the treatment label (Dwass-style randomization
# test), so both engines draw the IDENTICAL resamples and the whole
# test is hash-checkable — no RNG state crosses the engine boundary.
#
# Hashing cost is ONE md5 per row, not one per (row, resample): md5
# yields 128 independent bits, so resample b's side is simply bit b
# of the row's digest (two 60-bit halves cover B=64).  At 100 TB this
# is the difference between 1x and 64x the corpus-hashing work.
# --------------------------------------------------------------------------

_PERM_B = 64


@register(
    "permutation_test_priority",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
               o_totalprice AS y,
               ('0x' || substr(md5(o_orderkey::VARCHAR || '|pt'), 1, 15))::BIGINT AS h1,
               ('0x' || substr(md5(o_orderkey::VARCHAR || '|pt'), 16, 15))::BIGINT AS h2
        FROM orders
    ),
    obs AS (
        SELECT AVG(CASE WHEN t = 1 THEN y END)
               - AVG(CASE WHEN t = 0 THEN y END) AS stat_obs
        FROM base
    ),
    spine AS (
        SELECT UNNEST(range(0, {_PERM_B})) AS b
    ),
    perm AS (
        SELECT s.b,
               AVG(CASE WHEN (CASE WHEN s.b < 60
                                   THEN (base.h1 >> s.b) & 1
                                   ELSE (base.h2 >> (s.b - 60)) & 1 END) = 1
                        THEN y END)
               - AVG(CASE WHEN (CASE WHEN s.b < 60
                                     THEN (base.h1 >> s.b) & 1
                                     ELSE (base.h2 >> (s.b - 60)) & 1 END) = 0
                          THEN y END) AS stat_b
        FROM base CROSS JOIN spine s
        GROUP BY s.b
    )
    SELECT CAST(o.stat_obs AS REAL) AS stat_obs,
           CAST({_PERM_B} AS INT) AS n_perms,
           CAST(SUM(CASE WHEN ABS(p.stat_b) >= ABS(o.stat_obs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           CAST((1.0 + SUM(CASE WHEN ABS(p.stat_b) >= ABS(o.stat_obs)
                                THEN 1 ELSE 0 END)) / (1.0 + {_PERM_B})
                AS REAL) AS p_value
    FROM perm p CROSS JOIN obs o
    GROUP BY o.stat_obs
    """,
    tags=("statistics", "permutation-test", "experiment", "hash-split",
          "monte-carlo"),
)
def permutation_test_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the urgent-vs-rest mean order-value
    lift: B=64 deterministic md5-keyed label reassignments (bit b of
    each order's single digest), two-sided p = (1 + #extreme) /
    (1 + B) — the distribution-free complement of ab_test_welch (no
    normality or equal-variance assumption).

    Scale shape: ONE md5 per row covers all 64 resamples (bit-slicing
    the digest); the observed stat is one aggregate; the B resamples
    are an inline spine explode whose per-(b, arm) partials collapse
    map-side, so shuffle volume is 2B rows per partition regardless
    of table size — one corpus pass total, never B passes.
    """
    md5s = F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("|pt")))
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("t"),
        F.col("o_totalprice").alias("y"),
        F.conv(F.substring(md5s, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5s, 16, 15), 16, 10).cast("long").alias("h2"),
    )
    obs = o.agg(
        (
            F.avg(F.when(F.col("t") == 1, F.col("y")))
            - F.avg(F.when(F.col("t") == 0, F.col("y")))
        ).alias("stat_obs")
    )
    # shiftright needs a literal bit count in the DataFrame API, so
    # the side bit is taken with a per-b literal mask carried through
    # the spine instead (equivalent to the oracle's (h >> b) & 1).
    masks = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.lit(0 if b < 60 else 1).alias("half"),
                F.lit(1 << (b if b < 60 else b - 60)).alias("mask"),
            )
            for b in range(_PERM_B)
        ]
    )
    exploded = o.select("y", "h1", "h2", F.explode(masks).alias("m")).select(
        F.col("m.b").alias("b"),
        "y",
        F.when(
            F.col("m.half") == 0,
            F.col("h1").bitwiseAND(F.col("m.mask")),
        )
        .otherwise(F.col("h2").bitwiseAND(F.col("m.mask")))
        .alias("bit"),
    )
    perm = exploded.groupBy("b").agg(
        (
            F.avg(F.when(F.col("bit") != 0, F.col("y")))
            - F.avg(F.when(F.col("bit") == 0, F.col("y")))
        ).alias("stat_b")
    )
    extreme = F.sum(
        F.when(F.abs(F.col("stat_b")) >= F.abs(F.col("stat_obs")), 1).otherwise(0)
    )
    return (
        perm.crossJoin(F.broadcast(obs))
        .agg(
            F.first("stat_obs").cast("float").alias("stat_obs"),
            F.lit(_PERM_B).cast("int").alias("n_perms"),
            extreme.cast("long").alias("n_extreme"),
            (
                (F.lit(1.0) + extreme) / F.lit(1.0 + _PERM_B)
            ).cast("float").alias("p_value"),
        )
    )


# --------------------------------------------------------------------------
# Poisson GLM (log link) — round 5.  Completes the in-engine
# regression family (OLS, grouped OLS, ridge path, logistic IRLS):
# counts ~ covariate by two unrolled IRLS steps, every step ONE
# weighted-moment aggregate + a closed-form 2x2 WLS solve — the same
# shared-algebra shape as logreg_quality_classifier, replayed
# verbatim by the oracle.
# --------------------------------------------------------------------------

_POIS_ETA = "(b0 + b1 * x)"
_POIS_MU = f"EXP({_POIS_ETA})"
_POIS_Z = f"({_POIS_ETA} + (y - {_POIS_MU}) / {_POIS_MU})"
_POIS_MOMENTS = {
    "sw": f"SUM({_POIS_MU})",
    "swx": f"SUM({_POIS_MU} * x)",
    "swxx": f"SUM({_POIS_MU} * x * x)",
    "swz": f"SUM({_POIS_MU} * {_POIS_Z})",
    "swxz": f"SUM({_POIS_MU} * x * {_POIS_Z})",
}
_POIS_MOMENT_SQL = ", ".join(f"{e} AS {k}" for k, e in _POIS_MOMENTS.items())
_POIS_B1 = "(sw * swxz - swx * swz) / (sw * swxx - swx * swx)"
_POIS_B0 = f"(swz - {_POIS_B1} * swx) / sw"


@register(
    "glm_poisson_orders",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    ),
    base AS (
        SELECT CAST(COALESCE(s.n_orders, 0) AS DOUBLE) AS y,
               CAST(c.c_acctbal AS DOUBLE) / 1000.0 AS x
        FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    seed AS (SELECT LN(AVG(y)) AS b0, 0.0 AS b1 FROM base),
    m1 AS (SELECT {_POIS_MOMENT_SQL} FROM base CROSS JOIN seed),
    beta1 AS (SELECT {_POIS_B0} AS b0, {_POIS_B1} AS b1 FROM m1),
    m2 AS (SELECT {_POIS_MOMENT_SQL} FROM base CROSS JOIN beta1),
    beta2 AS (SELECT {_POIS_B0} AS b0, {_POIS_B1} AS b1 FROM m2),
    fitq AS (
        SELECT COUNT(*) AS n,
               SUM((y - {_POIS_MU}) * (y - {_POIS_MU}) / {_POIS_MU})
                   AS pearson
        FROM base CROSS JOIN beta2
    )
    SELECT CAST(beta2.b0 AS REAL) AS b0,
           CAST(beta2.b1 AS REAL) AS b1,
           CAST(fitq.n AS BIGINT) AS n_customers,
           CAST(fitq.pearson / (fitq.n - 2) AS REAL) AS dispersion
    FROM beta2 CROSS JOIN fitq
    """,
    tags=("glm", "poisson", "irls", "statistics", "shared-algebra",
          "iterative"),
)
def glm_poisson_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson regression of per-customer order counts on scaled
    account balance: log link, two unrolled IRLS steps (mu = w, working
    response z = eta + (y-mu)/mu, closed-form 2x2 WLS per step), plus
    the Pearson chi-square dispersion — the over/under-dispersion
    check that decides whether Poisson is even the right family.

    Scale shape: the feature relation is persisted and scanned once
    per IRLS aggregate (each a 1-row moment fold against the broadcast
    current beta); nothing iterative touches the driver."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_acctbal").cast("double") / 1000.0).alias("x")
    )
    base = (
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("double").alias("y"),
            "x",
        )
        .persist()
    )
    beta = base.agg(F.log(F.avg("y")).alias("b0"), F.lit(0.0).alias("b1"))
    for _ in range(2):
        m = base.crossJoin(F.broadcast(beta)).agg(
            *[F.expr(e).alias(k) for k, e in _POIS_MOMENTS.items()]
        )
        beta = m.select(
            F.expr(_POIS_B0).alias("b0"), F.expr(_POIS_B1).alias("b1")
        )
    fitq = base.crossJoin(F.broadcast(beta)).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"SUM((y - {_POIS_MU}) * (y - {_POIS_MU}) / {_POIS_MU})"
        ).alias("pearson"),
    )
    return beta.crossJoin(F.broadcast(fitq)).select(
        F.col("b0").cast("float").alias("b0"),
        F.col("b1").cast("float").alias("b1"),
        F.col("n").cast("long").alias("n_customers"),
        (F.col("pearson") / (F.col("n") - 2)).cast("float").alias("dispersion"),
    )


# --------------------------------------------------------------------------
# Propensity-score matching (caliper 1-NN with replacement) — round 5.
# --------------------------------------------------------------------------


@register(
    "psm_caliper_att",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, SUM(o_totalprice) AS y FROM orders GROUP BY o_custkey
    ),
    base AS (
        SELECT c.c_custkey,
               CAST(c.c_acctbal AS DOUBLE) AS x,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
               COALESCE(s.y, 0.0) AS y
        FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    m AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(t)::DOUBLE AS st,
               SUM(x * x) AS sxx, SUM(x * t) AS sxt
        FROM base
    ),
    coef AS (
        SELECT (n * sxt - sx * st) / (n * sxx - sx * sx) AS b,
               (st - (n * sxt - sx * st) / (n * sxx - sx * sx) * sx) / n AS a
        FROM m
    ),
    scored AS (
        SELECT c_custkey, t, y, x, a + b * x AS p FROM base CROSS JOIN coef
    ),
    cal AS (SELECT 0.2 * STDDEV_SAMP(p) AS caliper FROM scored),
    best AS (
        SELECT tid, yt, yc FROM (
            SELECT tr.c_custkey AS tid, tr.y AS yt, co.y AS yc,
                   ROW_NUMBER() OVER (
                       PARTITION BY tr.c_custkey
                       ORDER BY ABS(tr.x - co.x), co.c_custkey
                   ) AS rn
            FROM scored tr
            JOIN scored co ON co.t = 0
            CROSS JOIN cal
            WHERE tr.t = 1 AND ABS(tr.p - co.p) <= cal.caliper
        ) WHERE rn = 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM scored WHERE t = 1)
               AS n_treated,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(AVG(yt - yc) AS REAL) AS att,
           (SELECT CAST(caliper AS REAL) FROM cal) AS caliper
    FROM best
    """,
    tags=("causal", "propensity-matching", "statistics", "bucketed-join"),
)
def psm_caliper_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect on the treated (ATT) by propensity-
    score matching: a linear-probability propensity fit (closed-form
    OLS on account balance), then 1-nearest-neighbor matching WITH
    replacement inside a 0.2*sigma caliper, deterministic control-id
    tie-break.  Completes the causal family (CUPED, diff-in-diff,
    stratified ATE) with the matching estimator.

    Scale shape: greedy without-replacement matching is inherently
    sequential, but with-replacement 1-NN is relational — candidates
    come from a CALIPER-BUCKET equi-join (bucket width = caliper, so
    every within-caliper pair lands in the treated row's bucket +-1;
    the treated side explodes 3x, controls don't), then one
    min(struct) argmin per treated row.  Work is proportional to
    bucket occupancy, never |treated|x|controls| — the oracle's
    quadratic join is the independent completeness proof.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("x"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("t"),
    )
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("yo"))
    )
    base = (
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            "c_custkey", "x", "t", F.coalesce(F.col("yo"), F.lit(0.0)).alias("y")
        )
        .persist()
    )
    m = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("t").cast("double").alias("st"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("t")).alias("sxt"),
    )
    bexp = (F.col("n") * F.col("sxt") - F.col("sx") * F.col("st")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    coef = m.select(
        bexp.alias("b"), ((F.col("st") - bexp * F.col("sx")) / F.col("n")).alias("a")
    )
    scored = (
        base.crossJoin(F.broadcast(coef))
        .select(
            "c_custkey", "t", "y", "x",
            (F.col("a") + F.col("b") * F.col("x")).alias("p"),
        )
        .persist()
    )
    cal = scored.agg((F.lit(0.2) * F.stddev_samp("p")).alias("caliper"))
    tr = (
        scored.filter(F.col("t") == 1)
        .crossJoin(F.broadcast(cal))
        .select(
            F.col("c_custkey").alias("tid"),
            F.col("y").alias("yt"),
            F.col("p").alias("pt"),
            F.col("x").alias("xt"),
            "caliper",
            F.floor(F.col("p") / F.col("caliper")).alias("k"),
        )
        .select(
            "tid", "yt", "pt", "xt", "caliper",
            F.explode(
                F.array(F.col("k") - 1, F.col("k"), F.col("k") + 1)
            ).alias("kk"),
        )
    )
    co = (
        scored.filter(F.col("t") == 0)
        .crossJoin(F.broadcast(cal))
        .select(
            F.col("c_custkey").alias("cid"),
            F.col("y").alias("yc"),
            F.col("p").alias("pc"),
            F.col("x").alias("xc"),
            F.floor(F.col("p") / F.col("caliper")).alias("kk"),
        )
    )
    # The bucket join's INPUTS are byte-tiny (treated×3 + controls,
    # ~50 KB at sf0.1) so AQE coalesces the join to ONE partition —
    # but its OUTPUT is row-explosive (every within-bucket pair) and
    # the argmin scans it, measured as a single 3 s task while 31
    # cores idled.  Pinning the treated side's exchange to
    # defaultParallelism keeps the pair generation + argmin parallel;
    # AQE never coalesces a user-numbered repartition, and at cluster
    # scale the same expression sizes with the executor count.
    tr = tr.repartition(
        spark.sparkContext.defaultParallelism, "kk"
    )
    best = (
        tr.join(co, "kk")
        .filter(F.abs(F.col("pt") - F.col("pc")) <= F.col("caliper"))
        .groupBy("tid", "yt")
        .agg(
            # Argmin on |x_t - x_c|, NOT |p_t - p_c|: p = a + b*x is
            # monotone in x so the nearest-propensity neighbor is the
            # nearest-x neighbor, and x distances are raw parquet
            # doubles — bit-identical across engines — whereas p
            # carries the aggregate-reduction noise of (a, b), which
            # flipped exact grid ties (2-decimal acctbal) at sf0.1.
            F.min(
                F.struct(
                    F.abs(F.col("xt") - F.col("xc")).alias("adx"),
                    F.col("cid").alias("cid"),
                    F.col("yc").alias("yc"),
                )
            ).alias("mt")
        )
    )
    n_treated = scored.filter(F.col("t") == 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_treated")
    )
    att = best.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.avg(F.col("yt") - F.col("mt.yc")).cast("float").alias("att"),
    )
    return (
        n_treated.crossJoin(F.broadcast(att))
        .crossJoin(F.broadcast(cal.select(F.col("caliper").cast("float").alias("caliper"))))
        .select("n_treated", "n_matched", "att", "caliper")
    )


# ---------------------------------------------------------------------------
# Depth-2 CART: level-synchronous histogram tree growth
# ---------------------------------------------------------------------------

_CART_BINS = 16
_CART_FEATS = ("l_quantity", "l_extendedprice", "l_discount")

#: One bin expression per feature, shared by the Spark plan and the
#: oracle: global equal-width bins over [lo, hi], top edge clamped.
_CART_BIN_SQL = (
    "LEAST(CAST(FLOOR((CAST({x} AS DOUBLE) - lo_{x}) / (hi_{x} - lo_{x})"
    f" * {_CART_BINS}) AS BIGINT), {_CART_BINS - 1})"
)

_CART_RNG_SQL = ", ".join(
    f"MIN(CAST({x} AS DOUBLE)) AS lo_{x}, MAX(CAST({x} AS DOUBLE)) AS hi_{x}"
    for x in _CART_FEATS
)

#: gini-style node score from exact integer counts: ONE division per
#: node so the double result is a single correctly-rounded op in both
#: engines (argmax over these scores is therefore engine-stable).
_CART_SCORE = "({p} * {p} + ({n} - {p}) * ({n} - {p})) / CAST({n} AS DOUBLE)"

_CART_LONG1_SQL = "\n        UNION ALL\n        ".join(
    f"SELECT '{x}' AS feat, b_{x} AS bin, pos FROM binned"
    for x in _CART_FEATS
)

_CART_LONG2_SQL = "\n        UNION ALL\n        ".join(
    f"SELECT node, '{x}' AS feat, b_{x} AS bin, pos FROM noded"
    for x in _CART_FEATS
)

_CART_THRESH_SQL = (
    "CASE {feat} "
    + " ".join(
        f"WHEN '{x}' THEN lo_{x} + ({{bin}} + 1) * (hi_{x} - lo_{x})"
        f" / {_CART_BINS}"
        for x in _CART_FEATS
    )
    + " END"
)


@register(
    "tree_depth2_cart",
    oracle=f"""
    WITH base AS (
        SELECT l_quantity, l_extendedprice, l_discount,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem
    ),
    rng AS (SELECT {_CART_RNG_SQL} FROM base),
    binned AS (
        SELECT pos,
               {", ".join(_CART_BIN_SQL.format(x=x) + f" AS b_{x}"
                          for x in _CART_FEATS)}
        FROM base, rng
    ),
    long1 AS (
        {_CART_LONG1_SQL}
    ),
    hist1 AS (
        SELECT feat, bin, COUNT(*)::BIGINT AS n, SUM(pos)::BIGINT AS p
        FROM long1 GROUP BY 1, 2
    ),
    cum1 AS (
        SELECT feat, bin,
               SUM(n) OVER w AS nl, SUM(p) OVER w AS pl,
               SUM(n) OVER t AS nt, SUM(p) OVER t AS pt
        FROM hist1
        WINDOW w AS (PARTITION BY feat ORDER BY bin),
               t AS (PARTITION BY feat)
    ),
    gains1 AS (
        SELECT feat, bin, nl AS n_left, nt - nl AS n_right,
               pl AS pos_left, pt - pl AS pos_right,
               {_CART_SCORE.format(p="pl", n="nl")}
               + {_CART_SCORE.format(p="(pt - pl)", n="(nt - nl)")}
               - {_CART_SCORE.format(p="pt", n="nt")} AS gain
        FROM cum1 WHERE nl > 0 AND nt - nl > 0
    ),
    best1 AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY gain DESC, feat, bin)
                       AS rn
            FROM gains1
        ) WHERE rn = 1
    ),
    noded AS (
        SELECT b.*,
               CASE WHEN (CASE best1.feat
                          {" ".join(f"WHEN '{x}' THEN b.b_{x}"
                                    for x in _CART_FEATS)}
                          END) <= best1.bin
                    THEN 'L' ELSE 'R' END AS node
        FROM binned b, best1
    ),
    long2 AS (
        {_CART_LONG2_SQL}
    ),
    hist2 AS (
        SELECT node, feat, bin, COUNT(*)::BIGINT AS n,
               SUM(pos)::BIGINT AS p
        FROM long2 GROUP BY 1, 2, 3
    ),
    cum2 AS (
        SELECT node, feat, bin,
               SUM(n) OVER w AS nl, SUM(p) OVER w AS pl,
               SUM(n) OVER t AS nt, SUM(p) OVER t AS pt
        FROM hist2
        WINDOW w AS (PARTITION BY node, feat ORDER BY bin),
               t AS (PARTITION BY node, feat)
    ),
    gains2 AS (
        SELECT node, feat, bin, nl AS n_left, nt - nl AS n_right,
               pl AS pos_left, pt - pl AS pos_right,
               {_CART_SCORE.format(p="pl", n="nl")}
               + {_CART_SCORE.format(p="(pt - pl)", n="(nt - nl)")}
               - {_CART_SCORE.format(p="pt", n="nt")} AS gain
        FROM cum2 WHERE nl > 0 AND nt - nl > 0
    ),
    best2 AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY node
                                         ORDER BY gain DESC, feat, bin)
                       AS rn
            FROM gains2
        ) WHERE rn = 1
    )
    SELECT 'root' AS node, feat, CAST(bin AS INT) AS split_bin,
           ROUND({_CART_THRESH_SQL.format(feat="best1.feat",
                                          bin="best1.bin")}, 6)
               AS threshold,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(pos_left AS BIGINT) AS pos_left,
           CAST(pos_right AS BIGINT) AS pos_right,
           CAST(gain AS REAL) AS gain
    FROM best1, rng
    UNION ALL
    SELECT node, feat, CAST(bin AS INT) AS split_bin,
           ROUND({_CART_THRESH_SQL.format(feat="best2.feat",
                                          bin="best2.bin")}, 6)
               AS threshold,
           CAST(n_left AS BIGINT), CAST(n_right AS BIGINT),
           CAST(pos_left AS BIGINT), CAST(pos_right AS BIGINT),
           CAST(gain AS REAL)
    FROM best2, rng
    """,
    tags=("cart", "decision-tree", "histogram-split", "ml-training",
          "level-synchronous", "supervised"),
)
def tree_depth2_cart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy depth-2 CART (gini) on histogram bins — the
    LEVEL-SYNCHRONOUS tree growth every distributed GBDT/forest
    trainer uses (extends ``stump_split_search`` from one split to a
    grown tree).  Classifies `l_returnflag = 'R'` from
    quantity/extendedprice/discount.

    The scale discipline is one fact-table pass PER LEVEL, never per
    node: level 1 bins all features in one scan and aggregates
    (feat, bin) histograms; the winning split is broadcast back, each
    row gets its node in a map-only pass, and level 2 aggregates
    (node, feat, bin) histograms — all nodes of the level share that
    single shuffle.  Depth d costs d scans regardless of the 2^d
    node count, which is why histogram trees train on 100 TB while
    per-node sort-based CART cannot.  Split assignment compares BIN
    indices (exact integers), never float thresholds, so the grown
    tree is bit-identical across engines; node scores are
    (p^2+q^2)/n with an exact-integer numerator and a SINGLE
    division, making the argmax engine-stable (no accumulation-order
    risk).  Thresholds are emitted for human consumption only.

    Oracle: the full two-level greedy recursion in SQL CTEs — both
    engines must pick the same root split, partition identically,
    and pick the same two child splits."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        *[F.col(x).cast("double").alias(x) for x in _CART_FEATS],
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    rng = base.agg(
        *[
            a
            for x in _CART_FEATS
            for a in (
                F.min(x).alias(f"lo_{x}"),
                F.max(x).alias(f"hi_{x}"),
            )
        ]
    )
    binned = (
        base.crossJoin(F.broadcast(rng))
        .select(
            "pos",
            *[
                F.least(
                    F.floor(
                        (F.col(x) - F.col(f"lo_{x}"))
                        / (F.col(f"hi_{x}") - F.col(f"lo_{x}"))
                        * _CART_BINS
                    ).cast("long"),
                    F.lit(_CART_BINS - 1).cast("long"),
                ).alias(f"b_{x}")
                for x in _CART_FEATS
            ],
        )
        .persist()  # level 1 AND the node-assignment pass read this
    )

    def explode_feats(df: DataFrame, extra: list[str]) -> DataFrame:
        fx = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(x).alias("feat"),
                        F.col(f"b_{x}").alias("bin"),
                    )
                    for x in _CART_FEATS
                ]
            )
        ).alias("fx")
        return df.select(fx, "pos", *extra).select(
            "fx.feat", "fx.bin", "pos", *extra
        )

    def level_best(long: DataFrame, keys: list[str]) -> DataFrame:
        hist = long.groupBy(*keys, "feat", "bin").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("p"),
        )
        w = Window.partitionBy(*keys, "feat").orderBy("bin")
        t = Window.partitionBy(*keys, "feat")
        cum = hist.select(
            *keys,
            "feat",
            "bin",
            F.sum("n").over(w).alias("nl"),
            F.sum("p").over(w).alias("pl"),
            F.sum("n").over(t).alias("nt"),
            F.sum("p").over(t).alias("pt"),
        )

        def score(p, n):
            return (p * p + (n - p) * (n - p)) / n.cast("double")

        nl, pl = F.col("nl"), F.col("pl")
        nt, pt = F.col("nt"), F.col("pt")
        gains = cum.filter((nl > 0) & (nt - nl > 0)).select(
            *keys,
            "feat",
            "bin",
            nl.alias("n_left"),
            (nt - nl).alias("n_right"),
            pl.alias("pos_left"),
            (pt - pl).alias("pos_right"),
            (
                score(pl, nl)
                + score(pt - pl, nt - nl)
                - score(pt, nt)
            ).alias("gain"),
        )
        wb = Window.partitionBy(*keys).orderBy(
            F.col("gain").desc(), "feat", "bin"
        )
        return (
            gains.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    # level_best needs one key for its window; a constant group key
    # makes the level-1 ROW_NUMBER a global argmax over a 48-row
    # relation (never a window over data-sized input).
    best1 = level_best(
        explode_feats(binned.withColumn("_g", F.lit(1)), ["_g"]), ["_g"]
    ).drop("_g")

    b1 = F.broadcast(
        best1.select(
            F.col("feat").alias("s_feat"), F.col("bin").alias("s_bin")
        )
    )
    rowbin = F.coalesce(
        *[
            F.when(F.col("s_feat") == x, F.col(f"b_{x}"))
            for x in _CART_FEATS
        ]
    )
    noded = binned.crossJoin(b1).withColumn(
        "node", F.when(rowbin <= F.col("s_bin"), "L").otherwise("R")
    )
    best2 = level_best(explode_feats(noded, ["node"]), ["node"])

    def with_threshold(df: DataFrame, node_col) -> DataFrame:
        thr = F.coalesce(
            *[
                F.when(
                    F.col("feat") == x,
                    F.col(f"lo_{x}")
                    + (F.col("bin") + 1)
                    * (F.col(f"hi_{x}") - F.col(f"lo_{x}"))
                    / _CART_BINS,
                )
                for x in _CART_FEATS
            ]
        )
        return df.crossJoin(F.broadcast(rng)).select(
            node_col.alias("node"),
            "feat",
            F.col("bin").cast("int").alias("split_bin"),
            F.round(thr, 6).alias("threshold"),
            "n_left",
            "n_right",
            "pos_left",
            "pos_right",
            F.col("gain").cast("float").alias("gain"),
        )

    return with_threshold(best1, F.lit("root")).unionAll(
        with_threshold(best2, F.col("node"))
    )


# ---------------------------------------------------------------------------
# Doubly-robust (AIPW) average treatment effect
# ---------------------------------------------------------------------------

_AIPW_CLIP = (0.05, 0.95)


@register(
    "aipw_doubly_robust_ate",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, SUM(o_totalprice) AS y FROM orders GROUP BY o_custkey
    ),
    base AS (
        SELECT CAST(c.c_acctbal AS DOUBLE) AS x,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
               COALESCE(s.y, 0.0) AS y
        FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    pm AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(t)::DOUBLE AS st,
               SUM(x * x) AS sxx, SUM(x * t) AS sxt
        FROM base
    ),
    prop AS (
        SELECT (n * sxt - sx * st) / (n * sxx - sx * sx) AS pb,
               (st - (n * sxt - sx * st) / (n * sxx - sx * sx) * sx) / n
                   AS pa
        FROM pm
    ),
    om AS (
        SELECT t, COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM base GROUP BY t
    ),
    oc AS (
        SELECT t, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS a
        FROM om
    ),
    w AS (
        SELECT b.t, b.y, b.x,
               LEAST(GREATEST(p.pa + p.pb * b.x, {_AIPW_CLIP[0]}),
                     {_AIPW_CLIP[1]}) AS e,
               o1.a + o1.b * b.x AS m1,
               o0.a + o0.b * b.x AS m0
        FROM base b
        CROSS JOIN prop p
        CROSS JOIN (SELECT a, b FROM oc WHERE t = 1) o1
        CROSS JOIN (SELECT a, b FROM oc WHERE t = 0) o0
    )
    SELECT CAST(SUM(t) AS BIGINT) AS n_treated,
           CAST(COUNT(*) - SUM(t) AS BIGINT) AS n_control,
           CAST(SUM(CASE WHEN t = 1 THEN y END) / SUM(t)
                - SUM(CASE WHEN t = 0 THEN y END) / (COUNT(*) - SUM(t))
                AS REAL) AS naive_diff,
           CAST(AVG(m1 - m0) AS REAL) AS reg_ate,
           CAST(AVG(m1 - m0
                    + t * (y - m1) / e
                    - (1 - t) * (y - m0) / (1 - e)) AS REAL) AS aipw_ate
    FROM w
    """,
    tags=("causal", "aipw", "doubly-robust", "ate", "propensity",
          "shared-algebra"),
)
def aipw_doubly_robust_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) average treatment effect — the estimator
    that completes this repo's causal ladder (post-only diff → CUPED
    → diff-in-diff → stratified → PSM-matched → randomization test):
    augmented inverse-propensity weighting is consistent if EITHER
    the propensity model OR the outcome model is right (Robins,
    Rotnitzky & Zhao 1994), which is why it is the default modern
    observational estimator.  Same frame as ``psm_caliper_att``:
    units = customers, treatment = BUILDING segment, covariate =
    account balance, outcome = total spend.

    All three nuisance fits are CLOSED-FORM moment algebra on the
    same scan — the linear-probability propensity e(x) (clipped to
    [0.05, 0.95], the standard overlap trim) and per-arm outcome
    regressions m1(x)/m0(x) from per-group (n, Σx, Σy, Σxx, Σxy).
    The final AIPW mean is ONE corpus aggregate of the influence
    expression; emitted next to the naive difference and the
    regression-imputation ATE so the three estimators' divergence
    (the confounding signal) is part of the result.

    Scale shape: two moment aggregates (propensity + per-arm
    outcome, both map-side combinable) and one final aggregate —
    three passes, no joins bigger than broadcast 1-row coefficient
    relations.  At 100 TB this is exactly three scans; cross-fitting
    (the ML-nuisance variant) would reuse the hash-mod split
    machinery."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("y"))
    base = (
        c.join(spend, c.c_custkey == spend.o_custkey, "left")
        .select(
            F.col("c_acctbal").cast("double").alias("x"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("t"),
            F.coalesce(F.col("y"), F.lit(0.0)).alias("y"),
        )
    )
    pm = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("t").cast("double").alias("st"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("t")).alias("sxt"),
    )
    pb = (F.col("n") * F.col("sxt") - F.col("sx") * F.col("st")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    prop = pm.select(
        pb.alias("pb"),
        ((F.col("st") - pb * F.col("sx")) / F.col("n")).alias("pa"),
    )
    om = base.groupBy("t").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    ob = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    oc = om.select(
        "t",
        ob.alias("b"),
        ((F.col("sy") - ob * F.col("sx")) / F.col("n")).alias("a"),
    )
    o1 = oc.filter(F.col("t") == 1).select(
        F.col("a").alias("a1"), F.col("b").alias("b1")
    )
    o0 = oc.filter(F.col("t") == 0).select(
        F.col("a").alias("a0"), F.col("b").alias("b0")
    )
    lo, hi = _AIPW_CLIP
    w = (
        base.crossJoin(F.broadcast(prop))
        .crossJoin(F.broadcast(o1))
        .crossJoin(F.broadcast(o0))
        .select(
            "t",
            "y",
            F.least(
                F.greatest(
                    F.col("pa") + F.col("pb") * F.col("x"), F.lit(lo)
                ),
                F.lit(hi),
            ).alias("e"),
            (F.col("a1") + F.col("b1") * F.col("x")).alias("m1"),
            (F.col("a0") + F.col("b0") * F.col("x")).alias("m0"),
        )
    )
    t_ = F.col("t")
    return w.agg(
        F.sum("t").cast("long").alias("n_treated"),
        (F.count(F.lit(1)) - F.sum("t")).cast("long").alias("n_control"),
        (
            F.sum(F.when(t_ == 1, F.col("y"))) / F.sum("t")
            - F.sum(F.when(t_ == 0, F.col("y")))
            / (F.count(F.lit(1)) - F.sum("t"))
        )
        .cast("float")
        .alias("naive_diff"),
        F.avg(F.col("m1") - F.col("m0")).cast("float").alias("reg_ate"),
        F.avg(
            F.col("m1")
            - F.col("m0")
            + t_ * (F.col("y") - F.col("m1")) / F.col("e")
            - (1 - t_) * (F.col("y") - F.col("m0")) / (1 - F.col("e"))
        )
        .cast("float")
        .alias("aipw_ate"),
    )


# ---------------------------------------------------------------------------
# Regression discontinuity (sharp RDD, local linear)
# ---------------------------------------------------------------------------

_RDD_CUTOFF = 0.0
_RDD_BANDWIDTH = 1000.0


@register(
    "rdd_local_linear",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, SUM(o_totalprice) AS y FROM orders GROUP BY o_custkey
    ),
    base AS (
        SELECT CAST(c.c_acctbal AS DOUBLE) - {_RDD_CUTOFF} AS x,
               COALESCE(s.y, 0.0) AS y
        FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
        WHERE c.c_acctbal >= {_RDD_CUTOFF - _RDD_BANDWIDTH}
          AND c.c_acctbal <  {_RDD_CUTOFF + _RDD_BANDWIDTH}
    ),
    m AS (
        SELECT CASE WHEN x >= 0 THEN 1 ELSE 0 END AS side,
               COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM base GROUP BY 1
    ),
    fit AS (
        SELECT side, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS a
        FROM m
    )
    SELECT CAST(l.n AS BIGINT) AS n_left, CAST(r.n AS BIGINT) AS n_right,
           CAST(l.a AS REAL) AS intercept_left,
           CAST(r.a AS REAL) AS intercept_right,
           CAST(l.b AS REAL) AS slope_left,
           CAST(r.b AS REAL) AS slope_right,
           CAST(r.a - l.a AS REAL) AS rdd_effect
    FROM (SELECT * FROM fit WHERE side = 0) l
    CROSS JOIN (SELECT * FROM fit WHERE side = 1) r
    """,
    tags=("causal", "rdd", "regression-discontinuity", "local-linear",
          "shared-algebra"),
)
def rdd_local_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity effect at an account-balance
    cutoff — the quasi-experimental design a growth team reaches for
    when treatment is assigned by a threshold rule (here: customers
    below balance 0 are treated as credit-restricted) and no
    randomization exists.  Local linear regression on each side of
    the cutoff within a fixed bandwidth (Imbens & Lemieux 2008,
    Hahn-Todd-van der Klaauw identification); the causal estimate is
    the intercept jump at the cutoff, and both side-fits are emitted
    so a reader can check the standard falsification (wild slopes =
    bandwidth too wide).

    Same closed-form moment algebra as ``aipw_doubly_robust_ate``:
    each side's OLS comes from one (n, Σx, Σy, Σxx, Σxy) aggregate
    over the bandwidth window, and centering x at the cutoff makes
    the intercept the boundary prediction directly — no matrix
    solve, no iteration.

    Scale shape: the bandwidth predicate is PUSHED to the parquet
    scan (only the window near the cutoff is read — at 100 TB the
    bandwidth filter is the difference between scanning everything
    and scanning a sliver), then one grouped moment aggregate (two
    groups, map-side combinable) and a 1x1 broadcast cross of the
    two side-fits."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    lo = _RDD_CUTOFF - _RDD_BANDWIDTH
    hi = _RDD_CUTOFF + _RDD_BANDWIDTH
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("y"))
    base = (
        c.filter((F.col("c_acctbal") >= lo) & (F.col("c_acctbal") < hi))
        .join(spend, c.c_custkey == spend.o_custkey, "left")
        .select(
            (F.col("c_acctbal").cast("double") - F.lit(_RDD_CUTOFF)).alias(
                "x"
            ),
            F.coalesce(F.col("y"), F.lit(0.0)).alias("y"),
        )
    )
    m = base.groupBy(
        F.when(F.col("x") >= 0, 1).otherwise(0).alias("side")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = m.select(
        "side",
        "n",
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"),
    )
    l = fit.filter(F.col("side") == 0).select(
        F.col("n").alias("nl"), F.col("a").alias("al"), F.col("b").alias("bl")
    )
    r = fit.filter(F.col("side") == 1).select(
        F.col("n").alias("nr"), F.col("a").alias("ar"), F.col("b").alias("br")
    )
    return l.crossJoin(F.broadcast(r)).select(
        F.col("nl").cast("long").alias("n_left"),
        F.col("nr").cast("long").alias("n_right"),
        F.col("al").cast("float").alias("intercept_left"),
        F.col("ar").cast("float").alias("intercept_right"),
        F.col("bl").cast("float").alias("slope_left"),
        F.col("br").cast("float").alias("slope_right"),
        (F.col("ar") - F.col("al")).cast("float").alias("rdd_effect"),
    )


# ---------------------------------------------------------------------------
# Wald grouping estimator (errors-in-variables slope)
# ---------------------------------------------------------------------------


@register(
    "wald_grouping_slope",
    oracle="""
    WITH med AS (
        SELECT quantile_cont(l_quantity, 0.5) AS m FROM lineitem
    ),
    g AS (
        SELECT CASE WHEN l.l_quantity > med.m THEN 1 ELSE 0 END AS hi,
               CAST(l.l_quantity AS DOUBLE) AS x,
               CAST(l.l_extendedprice AS DOUBLE) AS y
        FROM lineitem l CROSS JOIN med
    ),
    m AS (
        SELECT hi, COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM g GROUP BY hi
    ),
    t AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
               SUM(sxx) AS sxx, SUM(sxy) AS sxy,
               SUM(CASE WHEN hi = 1 THEN sy END)
                   / SUM(CASE WHEN hi = 1 THEN n END) AS yh,
               SUM(CASE WHEN hi = 0 THEN sy END)
                   / SUM(CASE WHEN hi = 0 THEN n END) AS yl,
               SUM(CASE WHEN hi = 1 THEN sx END)
                   / SUM(CASE WHEN hi = 1 THEN n END) AS xh,
               SUM(CASE WHEN hi = 0 THEN sx END)
                   / SUM(CASE WHEN hi = 0 THEN n END) AS xl,
               SUM(CASE WHEN hi = 1 THEN n END)::BIGINT AS n_high,
               SUM(CASE WHEN hi = 0 THEN n END)::BIGINT AS n_low
        FROM m
    )
    SELECT n_high, n_low,
           CAST((yh - yl) / (xh - xl) AS REAL) AS wald_slope,
           CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) AS REAL)
               AS ols_slope,
           CAST((sy - (yh - yl) / (xh - xl) * sx) / n AS REAL)
               AS wald_intercept
    FROM t
    """,
    tags=("causal", "errors-in-variables", "wald", "grouping-estimator",
          "robust-regression"),
)
def wald_grouping_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's grouping estimator for the quantity→price slope — the
    original (Wald 1940) errors-in-variables fix that modern IV
    generalizes: split on the median of the regressor and take the
    slope of the line through the two group means,
    (ȳ_hi − ȳ_lo)/(x̄_hi − x̄_lo).  Under classical measurement
    error in x, OLS attenuates toward zero while the grouping
    estimator stays consistent (group membership is robust to noise
    that rarely crosses the median), so emitting BOTH slopes makes
    the attenuation diagnostic part of the result.

    Numerically self-conditioning on any data: the denominator is
    the gap between the above- and below-median regressor means —
    large by construction — so the ratio is stable even when the
    true slope is ~0 (as in this synthetic corpus, where quantity
    and price are independent; the estimator's value here is the
    certified algebra, and the near-agreement of the two slopes is
    itself the no-measurement-error readout).

    Scale shape: one exact-median pass (single-column scan), then
    ONE grouped moment aggregate over {{hi, lo}} — both map-side
    combinable (two groups); the median rides as a 1-row broadcast.
    At 100 TB the median would come from the same bottom-k /
    approx-quantile sketch machinery as ``exact_quantiles_totalprice``
    with the grouping threshold unchanged in spirit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    med = li.agg(F.expr("percentile(x, 0.5)").alias("m"))
    g = li.crossJoin(F.broadcast(med)).select(
        F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("hi"),
        "x",
        "y",
    )
    m = g.groupBy("hi").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    hi1 = F.col("hi") == 1
    t = m.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
        (F.sum(F.when(hi1, F.col("sy"))) / F.sum(F.when(hi1, F.col("n"))))
        .alias("yh"),
        (F.sum(F.when(~hi1, F.col("sy"))) / F.sum(F.when(~hi1, F.col("n"))))
        .alias("yl"),
        (F.sum(F.when(hi1, F.col("sx"))) / F.sum(F.when(hi1, F.col("n"))))
        .alias("xh"),
        (F.sum(F.when(~hi1, F.col("sx"))) / F.sum(F.when(~hi1, F.col("n"))))
        .alias("xl"),
        F.sum(F.when(hi1, F.col("n"))).cast("long").alias("n_high"),
        F.sum(F.when(~hi1, F.col("n"))).cast("long").alias("n_low"),
    )
    wald = (F.col("yh") - F.col("yl")) / (F.col("xh") - F.col("xl"))
    return t.select(
        "n_high",
        "n_low",
        wald.cast("float").alias("wald_slope"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        )
        .cast("float")
        .alias("ols_slope"),
        ((F.col("sy") - wald * F.col("sx")) / F.col("n"))
        .cast("float")
        .alias("wald_intercept"),
    )


# ---------------------------------------------------------------------------
# Bayesian A/B test (exact Beta-Binomial P(B beats A))
# ---------------------------------------------------------------------------

#: per-user conversion = at least this many purchase events (the
#: corpus-median purchase count, so both arms are non-degenerate at
#: every SF); arm = user_id parity (the deterministic assignment).
_BAYES_CONV_MIN = 14


@register(
    "bayes_ab_beta_binomial",
    oracle=f"""
    WITH per_user AS MATERIALIZED (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
        FROM events GROUP BY user_id
    ),
    arms AS MATERIALIZED (
        SELECT user_id % 2 AS arm,
               CASE WHEN c >= {_BAYES_CONV_MIN} THEN 1 ELSE 0 END AS conv
        FROM per_user
    ),
    p AS MATERIALIZED (
        SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
               SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS sa,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nb,
               SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS sb
        FROM arms
    ),
    ab AS MATERIALIZED (
        SELECT na, sa, nb, sb,
               sa + 1 AS a1, na - sa + 1 AS b1,
               sb + 1 AS a2, nb - sb + 1 AS b2
        FROM p
    ),
    lf AS MATERIALIZED (
        SELECT g.n,
               SUM(CASE WHEN g.n > 0 THEN ln(CAST(g.n AS DOUBLE))
                        ELSE 0.0 END)
                   OVER (ORDER BY g.n ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS lf
        FROM (SELECT UNNEST(generate_series(0, a1 + b1 + a2 + b2)) AS n
              FROM ab) g
    ),
    consts AS MATERIALIZED (
        SELECT
            SUM(CASE WHEN lf.n = ab.b1 + ab.b2 - 1 THEN lf.lf END) AS c1,
            SUM(CASE WHEN lf.n = ab.b2 - 1 THEN lf.lf END) AS c2,
            SUM(CASE WHEN lf.n = ab.a1 - 1 THEN lf.lf END)
            + SUM(CASE WHEN lf.n = ab.b1 - 1 THEN lf.lf END)
            - SUM(CASE WHEN lf.n = ab.a1 + ab.b1 - 1 THEN lf.lf END)
                AS lnb_ab
        FROM lf CROSS JOIN ab
    ),
    terms AS MATERIALIZED (
        SELECT ab.a1, ab.b1, ab.b2,
               UNNEST(generate_series(0, ab.a2 - 1)) AS i
        FROM ab
    ),
    summed AS MATERIALIZED (
        SELECT SUM(exp(
            l1.lf + k.c1 - l2.lf
            - ln(CAST(t.b2 + t.i AS DOUBLE))
            - (l3.lf + k.c2 - l4.lf)
            - k.lnb_ab)) AS prob
        FROM terms t
        CROSS JOIN consts k
        JOIN lf l1 ON l1.n = t.a1 + t.i - 1
        JOIN lf l2 ON l2.n = t.a1 + t.i + t.b1 + t.b2 - 1
        JOIN lf l3 ON l3.n = t.i
        JOIN lf l4 ON l4.n = t.i + t.b2
    )
    SELECT ab.na AS n_a, ab.sa AS s_a, ab.nb AS n_b, ab.sb AS s_b,
           CAST(CAST(ab.sa AS DOUBLE) / ab.na AS REAL) AS rate_a,
           CAST(CAST(ab.sb AS DOUBLE) / ab.nb AS REAL) AS rate_b,
           CAST(summed.prob AS REAL) AS prob_b_beats_a
    FROM ab CROSS JOIN summed
    """,
    tags=("ab-test", "bayesian", "beta-binomial", "experimentation",
          "closed-form"),
)
def bayes_ab_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Bayesian A/B readout: P(conversion_B > conversion_A)
    under independent Beta posteriors with uniform priors — the
    decision-ready number a Bayesian experimentation stack reports
    instead of a p-value, computed by the exact closed-form sum
    P(B>A) = Σ_{{i<α_B}} B(α_A+i, β_A+β_B) / ((β_B+i)·B(1+i, β_B)·
    B(α_A, β_A)) (Evan Miller's formula; all α, β are integers, so
    every log-Beta reduces to log-factorials).

    Engine-independence strategy: NO libm lgamma — both engines
    build the SAME log-factorial relation (a number spine with a
    running Σ ln k prefix sum), so the only cross-engine FP drift is
    ulp-level summation order, absorbed by the float32 emit.  The
    mirror test recomputes the probability with ``math.lgamma`` —
    a genuinely independent special-function path.

    Scale shape: conversion flags are one per-user aggregate; the
    posterior parameters are ONE 4-cell aggregate; the spine and the
    term sum are proportional to the number of CONVERSIONS in arm B
    (not events), built with sequence→explode and reduced by one
    aggregate — at 100 TB the heavy side stays two map-side-
    combinable passes over events, and the Beta sum would remain
    thousands of rows (or flip to the normal approximation the same
    relation already carries the moments for).  The prefix sum runs
    single-partition on the ~10^3-row spine; the range-partitioned
    prefix machinery in ``operators/prefix.py`` is the documented
    degrade path if the spine ever grew corpus-sized."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("c")
    )
    arms = per_user.select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("c") >= _BAYES_CONV_MIN, 1).otherwise(0).alias("conv"),
    )
    a0, a1_ = F.col("arm") == 0, F.col("arm") == 1
    p = arms.agg(
        F.sum(F.when(a0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(a0, F.col("conv")).otherwise(0)).cast("long")
        .alias("sa"),
        F.sum(F.when(a1_, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(a1_, F.col("conv")).otherwise(0)).cast("long")
        .alias("sb"),
    )
    ab = p.select(
        "na",
        "sa",
        "nb",
        "sb",
        (F.col("sa") + 1).alias("a1"),
        (F.col("na") - F.col("sa") + 1).alias("b1"),
        (F.col("sb") + 1).alias("a2"),
        (F.col("nb") - F.col("sb") + 1).alias("b2"),
    )
    # log-factorial relation lf(n) = ln(n!) for n = 0..a1+b1+a2+b2,
    # via one ordered prefix sum over the ~10^3-row spine (documented
    # single-partition window; see docstring for the degrade path).
    spine = ab.select(
        F.explode(
            F.sequence(
                F.lit(0),
                F.col("a1") + F.col("b1") + F.col("a2") + F.col("b2"),
            )
        ).alias("n")
    )
    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)
    lf = spine.select(
        "n",
        F.sum(
            F.when(F.col("n") > 0, F.log(F.col("n").cast("double")))
            .otherwise(0.0)
        )
        .over(w)
        .alias("lf"),
    )
    consts = (
        lf.crossJoin(F.broadcast(ab))
        .agg(
            F.sum(
                F.when(
                    F.col("n") == F.col("b1") + F.col("b2") - 1, F.col("lf")
                )
            ).alias("c1"),
            F.sum(
                F.when(F.col("n") == F.col("b2") - 1, F.col("lf"))
            ).alias("c2"),
            (
                F.sum(F.when(F.col("n") == F.col("a1") - 1, F.col("lf")))
                + F.sum(F.when(F.col("n") == F.col("b1") - 1, F.col("lf")))
                - F.sum(
                    F.when(
                        F.col("n") == F.col("a1") + F.col("b1") - 1,
                        F.col("lf"),
                    )
                )
            ).alias("lnb_ab"),
        )
    )
    terms = ab.select(
        "a1",
        "b1",
        "b2",
        F.explode(F.sequence(F.lit(0), F.col("a2") - 1)).alias("i"),
    )
    l1, l2, l3, l4 = (lf.alias(x) for x in ("l1", "l2", "l3", "l4"))
    summed = (
        terms.crossJoin(F.broadcast(consts))
        .join(
            F.broadcast(l1),
            F.col("l1.n") == F.col("a1") + F.col("i") - 1,
        )
        .join(
            F.broadcast(l2),
            F.col("l2.n")
            == F.col("a1") + F.col("i") + F.col("b1") + F.col("b2") - 1,
        )
        .join(F.broadcast(l3), F.col("l3.n") == F.col("i"))
        .join(F.broadcast(l4), F.col("l4.n") == F.col("i") + F.col("b2"))
        .agg(
            F.sum(
                F.exp(
                    F.col("l1.lf")
                    + F.col("c1")
                    - F.col("l2.lf")
                    - F.log((F.col("b2") + F.col("i")).cast("double"))
                    - (F.col("l3.lf") + F.col("c2") - F.col("l4.lf"))
                    - F.col("lnb_ab")
                )
            ).alias("prob")
        )
    )
    return ab.crossJoin(F.broadcast(summed)).select(
        F.col("na").alias("n_a"),
        F.col("sa").alias("s_a"),
        F.col("nb").alias("n_b"),
        F.col("sb").alias("s_b"),
        (F.col("sa").cast("double") / F.col("na"))
        .cast("float")
        .alias("rate_a"),
        (F.col("sb").cast("double") / F.col("nb"))
        .cast("float")
        .alias("rate_b"),
        F.col("prob").cast("float").alias("prob_b_beats_a"),
    )


# ---------------------------------------------------------------------------
# Directed weighted modularity of the region partition on the trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_modularity_regions",
    oracle="""
    WITH edges AS (
        SELECT ns.n_regionkey AS src_r, nc.n_regionkey AS dst_r,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
        GROUP BY 1, 2
    ),
    m AS (SELECT SUM(w) AS m FROM edges),
    comm AS (
        SELECT r.r_name,
               COALESCE(i.w, 0.0) AS internal_w,
               COALESCE(o.w, 0.0) AS out_w,
               COALESCE(d.w, 0.0) AS in_w
        FROM region r
        LEFT JOIN (SELECT src_r, SUM(w) AS w FROM edges
                   WHERE src_r = dst_r GROUP BY 1) i
               ON i.src_r = r.r_regionkey
        LEFT JOIN (SELECT src_r, SUM(w) AS w FROM edges GROUP BY 1) o
               ON o.src_r = r.r_regionkey
        LEFT JOIN (SELECT dst_r, SUM(w) AS w FROM edges GROUP BY 1) d
               ON d.dst_r = r.r_regionkey
    )
    SELECT c.r_name AS region,
           CAST(c.internal_w / m.m AS REAL) AS internal_frac,
           CAST(c.out_w / m.m AS REAL) AS out_frac,
           CAST(c.in_w / m.m AS REAL) AS in_frac,
           CAST(c.internal_w / m.m
                - (c.out_w / m.m) * (c.in_w / m.m) AS REAL)
               AS q_contribution
    FROM comm c CROSS JOIN m
    ORDER BY region
    """,
    tags=("graph", "modularity", "community", "partition-quality"),
)
def graph_modularity_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted modularity (Leicht & Newman 2008) of the
    REGION partition on the nation-to-nation trade graph — the
    partition-quality score that tells you whether a community
    assignment (here: geography; in practice the output of
    ``label_propagation_communities``) explains the edge mass:
    Q = Σ_c (e_c/m − (out_c/m)(in_c/m)), per-community contributions
    emitted so the reader sees WHICH communities trade internally
    versus across the cut (on this uniform synthetic corpus each
    region's contribution ≈ 0 — flow is geography-blind — which is
    the honest readout, and exactly what the statistic is for).

    Scale shape: the ONLY corpus-sized work is the one edge
    aggregation (same broadcast-dimension join tree as
    ``pagerank_trade_graph``); modularity itself runs on the ≤ 25²
    edge relation — three tiny grouped sums and a broadcast total.
    Community assignment is a relation, not a constant: swap the
    region map for any (node → community) table and the plan shape
    is unchanged."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    edges = (
        trade_facts(spark, sf_dir)
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("ck"),
                    F.col("n_regionkey").alias("dst_r"),
                )
            ),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("sk"),
                    F.col("n_regionkey").alias("src_r"),
                )
            ),
            F.col("s_nationkey") == F.col("sk"),
        )
        .groupBy("src_r", "dst_r")
        .agg(F.sum("revenue").alias("w"))
    )
    m = edges.agg(F.sum("w").alias("m"))
    internal = (
        edges.filter(F.col("src_r") == F.col("dst_r"))
        .groupBy("src_r")
        .agg(F.sum("w").alias("iw"))
    )
    outw = edges.groupBy("src_r").agg(F.sum("w").alias("ow"))
    inw = edges.groupBy("dst_r").agg(F.sum("w").alias("dw"))
    comm = (
        r.join(
            F.broadcast(internal), r.r_regionkey == internal.src_r, "left"
        )
        .drop("src_r")
        .join(F.broadcast(outw), r.r_regionkey == outw.src_r, "left")
        .drop("src_r")
        .join(F.broadcast(inw), r.r_regionkey == inw.dst_r, "left")
        .drop("dst_r")
        .select(
            "r_name",
            F.coalesce(F.col("iw"), F.lit(0.0)).alias("internal_w"),
            F.coalesce(F.col("ow"), F.lit(0.0)).alias("out_w"),
            F.coalesce(F.col("dw"), F.lit(0.0)).alias("in_w"),
        )
    )
    return (
        comm.crossJoin(F.broadcast(m))
        .select(
            F.col("r_name").alias("region"),
            (F.col("internal_w") / F.col("m"))
            .cast("float")
            .alias("internal_frac"),
            (F.col("out_w") / F.col("m")).cast("float").alias("out_frac"),
            (F.col("in_w") / F.col("m")).cast("float").alias("in_frac"),
            (
                F.col("internal_w") / F.col("m")
                - (F.col("out_w") / F.col("m")) * (F.col("in_w") / F.col("m"))
            )
            .cast("float")
            .alias("q_contribution"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# Poisson overdispersion test (order counts per customer)
# ---------------------------------------------------------------------------


@register(
    "overdispersion_poisson",
    oracle="""
    WITH y AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey)::DOUBLE AS y
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    ),
    m AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(y) AS s, SUM(y * y) AS ss
        FROM y
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(s / n AS REAL) AS mean_orders,
           CAST((ss - s * s / n) / (n - 1) AS REAL) AS var_orders,
           CAST(((ss - s * s / n) / (n - 1)) / (s / n) AS REAL)
               AS dispersion_index,
           CAST(sqrt((n - 1) / 2.0)
                * (((ss - s * s / n) / (n - 1)) / (s / n) - 1) AS REAL)
               AS z_score,
           CASE WHEN sqrt((n - 1) / 2.0)
                     * (((ss - s * s / n) / (n - 1)) / (s / n) - 1)
                     > 1.6449
                THEN 1 ELSE 0 END AS overdispersed
    FROM m
    """,
    tags=("overdispersion", "poisson", "count-model", "diagnostics",
          "shared-algebra"),
)
def overdispersion_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion test on per-customer order counts —
    the diagnostic that must run BEFORE trusting
    ``glm_poisson_orders``'s standard errors: if Var(y) > E[y] the
    Poisson likelihood understates uncertainty and a
    negative-binomial / quasi-Poisson refit is needed.  Statistic:
    dispersion index s²/ȳ and its normal-approximation z-score
    √((n−1)/2)·(s²/ȳ − 1) (Böhning 1994's standardization of the
    χ² dispersion statistic); on this corpus order placement is
    binomial-uniform, so the index sits at ≈ 1 and the test
    correctly does not fire — the honest negative readout.

    Scale shape: one per-customer count aggregate (the same frame
    as the GLM), one 3-cell moment aggregate, both map-side
    combinable; the statistic is closed-form moment algebra on the
    1-row moment relation."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    y = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("double").alias("y"))
    )
    m = y.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    mean = F.col("s") / F.col("n")
    z = F.sqrt((F.col("n") - 1) / 2.0) * (var / mean - 1)
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        mean.cast("float").alias("mean_orders"),
        var.cast("float").alias("var_orders"),
        (var / mean).cast("float").alias("dispersion_index"),
        z.cast("float").alias("z_score"),
        F.when(z > 1.6449, 1).otherwise(0).alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# Mediation analysis (Baron-Kenny product of coefficients + Sobel z)
# ---------------------------------------------------------------------------


@register(
    "mediation_sobel",
    oracle="""
    WITH base AS (
        SELECT CAST(c.c_acctbal AS DOUBLE) AS x,
               CAST(COUNT(o.o_orderkey) AS DOUBLE) AS m,
               COALESCE(SUM(o.o_totalprice), 0.0) AS y
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    mo AS (
        SELECT COUNT(*)::DOUBLE AS n,
               SUM(x) AS sx, SUM(m) AS sm, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(m*m) AS smm, SUM(y*y) AS syy,
               SUM(x*m) AS sxm, SUM(x*y) AS sxy, SUM(m*y) AS smy
        FROM base
    ),
    c_ AS (
        SELECT n,
               sxx - sx*sx/n AS cxx, smm - sm*sm/n AS cmm,
               syy - sy*sy/n AS cyy, sxm - sx*sm/n AS cxm,
               sxy - sx*sy/n AS cxy, smy - sm*sy/n AS cmy
        FROM mo
    ),
    fit AS (
        SELECT n, cxx, cmm, cyy, cxm, cxy, cmy,
               cxm / cxx AS a,
               (cxx*cmy - cxm*cxy) / (cxx*cmm - cxm*cxm) AS b,
               (cmm*cxy - cxm*cmy) / (cxx*cmm - cxm*cxm) AS c_prime,
               cxy / cxx AS c
        FROM c_
    ),
    se AS (
        SELECT n, a, b, c, c_prime,
               sqrt(((cmm - a*a*cxx) / (n - 2)) / cxx) AS se_a,
               sqrt(((cyy - c_prime*cxy - b*cmy) / (n - 3))
                    * cxx / (cxx*cmm - cxm*cxm)) AS se_b
        FROM fit
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(a AS REAL) AS a_path,
           CAST(se_a AS REAL) AS se_a,
           CAST(b AS REAL) AS b_path,
           CAST(se_b AS REAL) AS se_b,
           CAST(c AS REAL) AS total_effect,
           CAST(c_prime AS REAL) AS direct_effect,
           CAST(a * b AS REAL) AS indirect_effect,
           CAST(a * b / sqrt(a*a*se_b*se_b + b*b*se_a*se_a) AS REAL)
               AS sobel_z
    FROM se
    """,
    tags=("causal", "mediation", "sobel", "baron-kenny",
          "shared-algebra"),
)
def mediation_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron–Kenny mediation decomposition with the Sobel test —
    does account balance (X) drive total spend (Y) THROUGH order
    frequency (M)?  Three regressions, all closed-form on ONE
    centered-moment relation: a = slope(M~X); (b, c') from the
    two-regressor fit Y ~ X + M via the 2×2 normal equations in
    centered co-moments; c = slope(Y~X).  The indirect effect a·b,
    the direct effect c', and Sobel's z = a·b/√(a²σ_b²+b²σ_a²)
    (first-order delta method) are all emitted, so total = direct +
    indirect is checkable by eye.  On this synthetic corpus balance
    does not move order counts (a ≈ 0) while order counts strongly
    move spend (b ≫ 0), so the z denominator is dominated by the
    |b|·σ_a term — numerically stable — and the verdict is
    "no mediation", the honest null.

    Scale shape: one per-customer aggregate (the same frame as
    ``overdispersion_poisson``), then ONE 10-cell moment aggregate;
    every coefficient and standard error is scalar algebra on the
    1-row moment relation.  Three regressions, one pass."""
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    base = (
        cst.join(o, cst.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.count("o_orderkey").cast("double").alias("m"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("y"),
        )
        .select(F.col("c_acctbal").cast("double").alias("x"), "m", "y")
    )
    mo = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("m").alias("sm"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("m")).alias("sxm"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("m") * F.col("y")).alias("smy"),
    )
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    cmm = F.col("smm") - F.col("sm") * F.col("sm") / F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    cxm = F.col("sxm") - F.col("sx") * F.col("sm") / F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    cmy = F.col("smy") - F.col("sm") * F.col("sy") / F.col("n")
    cen = mo.select(
        "n",
        cxx.alias("cxx"),
        cmm.alias("cmm"),
        cyy.alias("cyy"),
        cxm.alias("cxm"),
        cxy.alias("cxy"),
        cmy.alias("cmy"),
    )
    det = F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm")
    fit = cen.select(
        "n",
        "cxx",
        "cmm",
        "cyy",
        "cxm",
        "cxy",
        "cmy",
        (F.col("cxm") / F.col("cxx")).alias("a"),
        ((F.col("cxx") * F.col("cmy") - F.col("cxm") * F.col("cxy")) / det)
        .alias("b"),
        ((F.col("cmm") * F.col("cxy") - F.col("cxm") * F.col("cmy")) / det)
        .alias("c_prime"),
        (F.col("cxy") / F.col("cxx")).alias("c"),
    )
    se = fit.select(
        "n",
        "a",
        "b",
        "c",
        "c_prime",
        F.sqrt(
            ((F.col("cmm") - F.col("a") * F.col("a") * F.col("cxx"))
             / (F.col("n") - 2))
            / F.col("cxx")
        ).alias("se_a"),
        F.sqrt(
            (
                (
                    F.col("cyy")
                    - F.col("c_prime") * F.col("cxy")
                    - F.col("b") * F.col("cmy")
                )
                / (F.col("n") - 3)
            )
            * F.col("cxx")
            / (F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm"))
        ).alias("se_b"),
    )
    ab = F.col("a") * F.col("b")
    return se.select(
        F.col("n").cast("long").alias("n"),
        F.col("a").cast("float").alias("a_path"),
        F.col("se_a").cast("float").alias("se_a"),
        F.col("b").cast("float").alias("b_path"),
        F.col("se_b").cast("float").alias("se_b"),
        F.col("c").cast("float").alias("total_effect"),
        F.col("c_prime").cast("float").alias("direct_effect"),
        ab.cast("float").alias("indirect_effect"),
        (
            ab
            / F.sqrt(
                F.col("a") * F.col("a") * F.col("se_b") * F.col("se_b")
                + F.col("b") * F.col("b") * F.col("se_a") * F.col("se_a")
            )
        )
        .cast("float")
        .alias("sobel_z"),
    )


# ---------------------------------------------------------------------------
# Simpson's paradox detector (pooled vs per-group regression signs)
# ---------------------------------------------------------------------------


@register(
    "simpsons_paradox_check",
    oracle="""
    WITH base AS (
        SELECT l_returnflag AS grp,
               CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem
    ),
    g AS (
        SELECT grp, COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(x*y) AS sxy
        FROM base GROUP BY grp
    ),
    fit AS (
        SELECT grp, n,
               (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope
        FROM g
    ),
    pooled AS (
        SELECT (SUM(n)*SUM(sxy) - SUM(sx)*SUM(sy))
               / (SUM(n)*SUM(sxx) - SUM(sx)*SUM(sx)) AS pooled_slope
        FROM g
    )
    SELECT f.grp, CAST(f.n AS BIGINT) AS n,
           CAST(f.slope AS REAL) AS group_slope,
           CAST(p.pooled_slope AS REAL) AS pooled_slope,
           CASE WHEN f.slope * p.pooled_slope < 0 THEN 1 ELSE 0 END
               AS sign_reversal
    FROM fit f CROSS JOIN pooled p
    ORDER BY f.grp
    """,
    tags=("simpson", "confounding", "regression", "diagnostics",
          "shared-algebra"),
)
def simpsons_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: the pooled quantity→price slope
    next to each return-flag group's own slope, with a sign-reversal
    flag — the one-query confounding audit an analyst runs before
    trusting ANY pooled regression readout (if group slopes and the
    pooled slope disagree in sign, the grouping variable is a
    confounder and the pooled number is an artifact of group
    composition).  The k-group sibling of ``chow_test_break``
    (which tests coefficient EQUALITY at a known break; this one
    tests sign coherence across a partition).

    Scale shape: ONE grouped moment aggregate; the pooled fit is
    re-derived by SUMMING the same per-group moments (no second
    scan — the moments are additive), and the compare is a 3-row
    broadcast cross.  One pass, no windows, no joins on facts."""
    base = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    g = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    fit = g.select(
        "grp",
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("slope"),
    )
    pooled = g.agg(
        (
            (F.sum("n") * F.sum("sxy") - F.sum("sx") * F.sum("sy"))
            / (F.sum("n") * F.sum("sxx") - F.sum("sx") * F.sum("sx"))
        ).alias("pooled_slope")
    )
    return (
        fit.crossJoin(F.broadcast(pooled))
        .select(
            "grp",
            F.col("n").cast("long").alias("n"),
            F.col("slope").cast("float").alias("group_slope"),
            F.col("pooled_slope").cast("float").alias("pooled_slope"),
            F.when(F.col("slope") * F.col("pooled_slope") < 0, 1)
            .otherwise(0)
            .alias("sign_reversal"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Restricted mean survival time (area under the KM curve)
# ---------------------------------------------------------------------------


@register(
    "rmst_retention",
    oracle=f"""
    WITH g AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS gmax FROM orders),
    cust AS (
        SELECT o_custkey,
               DATEDIFF('day', CAST(MIN(o_orderdate) AS DATE),
                        CAST(MAX(o_orderdate) AS DATE)) AS duration,
               CASE WHEN DATEDIFF('day', CAST(MAX(o_orderdate) AS DATE),
                                  (SELECT gmax FROM g)) > {_KM_CHURN_DAYS}
                    THEN 1 ELSE 0 END AS churned
        FROM orders GROUP BY 1
    ),
    tbl AS (
        SELECT duration, SUM(churned) AS d, COUNT(*) AS c
        FROM cust GROUP BY 1
    ),
    risk AS (
        SELECT duration, d, c,
               SUM(c) OVER (ORDER BY duration DESC
                            ROWS UNBOUNDED PRECEDING) AS n_risk
        FROM tbl
    ),
    km AS (
        SELECT duration,
               EXP(SUM(LN(GREATEST(1.0 - CAST(d AS DOUBLE) / n_risk,
                                   1e-12)))
                   OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING))
                   AS s,
               LAG(duration) OVER (ORDER BY duration) AS prev_t,
               EXP(SUM(LN(GREATEST(1.0 - CAST(d AS DOUBLE) / n_risk,
                                   1e-12)))
                   OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING))
                 / GREATEST(1.0 - CAST(d AS DOUBLE) / n_risk, 1e-12)
                   AS s_prev
        FROM risk
    )
    SELECT (SELECT COUNT(*)::BIGINT FROM cust) AS n_customers,
           CAST(MAX(duration) AS BIGINT) AS tau_days,
           CAST(SUM(s_prev * (duration - COALESCE(prev_t, 0))) AS REAL)
               AS rmst_days
    FROM km
    """,
    tags=("survival", "rmst", "kaplan-meier", "retention",
          "shared-algebra"),
)
def rmst_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time — the area under the
    Kaplan-Meier retention curve up to the longest observed
    duration: the single "expected retained days per customer"
    number a lifecycle team reports instead of eyeballing the curve
    (and the estimand of choice when hazards are non-proportional
    and a Cox hazard ratio would be misleading; Royston & Parmar
    2013).  Built on the SAME life table as
    ``kaplan_meier_retention``/``logrank_test_retention``: RMST =
    Σ S(t_{{i-1}})·(t_i − t_{{i-1}}) with S left-continuous, so the
    integral is one aggregate over the distinct-duration relation —
    S before each drop recovered by DIVIDING the running product by
    the current factor rather than a second window.

    Scale shape: one per-customer aggregate, one distinct-duration
    life table (calendar-bounded), the KM running product, one
    final sum — identical cost to the KM query it annotates."""
    o = load_table(spark, sf_dir, "orders")
    g = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("first"),
            F.max(F.col("o_orderdate").cast("date")).alias("last"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            F.datediff("last", "first").alias("duration"),
            F.when(
                F.datediff("gmax", "last") > _KM_CHURN_DAYS, 1
            )
            .otherwise(0)
            .alias("churned"),
        )
    )
    tbl = cust.groupBy("duration").agg(
        F.sum("churned").alias("d"), F.count(F.lit(1)).alias("c")
    )
    w_desc = Window.orderBy(F.desc("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = tbl.select(
        "duration", "d", F.sum("c").over(w_desc).alias("n_risk")
    )
    w_asc = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    factor = F.greatest(
        1.0 - F.col("d").cast("double") / F.col("n_risk"), F.lit(1e-12)
    )
    km = risk.select(
        "duration",
        (F.exp(F.sum(F.log(factor)).over(w_asc)) / factor).alias("s_prev"),
        F.lag("duration").over(Window.orderBy("duration")).alias("prev_t"),
    )
    n = cust.agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    return (
        km.agg(
            F.max("duration").cast("long").alias("tau_days"),
            F.sum(
                F.col("s_prev")
                * (F.col("duration") - F.coalesce(F.col("prev_t"), F.lit(0)))
            )
            .cast("float")
            .alias("rmst_days"),
        )
        .crossJoin(F.broadcast(n))
        .select("n_customers", "tau_days", "rmst_days")
    )


# ---------------------------------------------------------------------------
# Theil inequality index with between/within decomposition
# ---------------------------------------------------------------------------


@register(
    "theil_index_spend",
    oracle="""
    WITH spend AS (
        SELECT c.c_mktsegment AS seg, SUM(o.o_totalprice) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_mktsegment
    ),
    tot AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(y) AS sy FROM spend
    ),
    t_total AS (
        SELECT SUM((y / (tot.sy / tot.n))
                   * ln(y / (tot.sy / tot.n))) / MAX(tot.n) AS t
        FROM spend CROSS JOIN tot
    ),
    g AS (
        SELECT seg, COUNT(*)::DOUBLE AS ng, SUM(y) AS sg
        FROM spend GROUP BY seg
    ),
    tg AS (
        SELECT s.seg,
               SUM((s.y / (g.sg / g.ng)) * ln(s.y / (g.sg / g.ng)))
                   / MAX(g.ng) AS t_g,
               MAX(g.ng) AS ng, MAX(g.sg) AS sg
        FROM spend s JOIN g ON g.seg = s.seg
        GROUP BY s.seg
    ),
    dec AS (
        SELECT
            SUM((tg.sg / tot.sy)
                * ln((tg.sg / tg.ng) / (tot.sy / tot.n))) AS t_between,
            SUM((tg.sg / tot.sy) * tg.t_g) AS t_within
        FROM tg CROSS JOIN tot
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_customers,
           CAST(t_total.t AS REAL) AS theil_total,
           CAST(dec.t_between AS REAL) AS theil_between,
           CAST(dec.t_within AS REAL) AS theil_within,
           CAST(dec.t_between / t_total.t AS REAL) AS between_share
    FROM t_total CROSS JOIN dec
    """,
    tags=("inequality", "theil", "decomposition", "gini-sibling",
          "analytics"),
)
def theil_index_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of customer spend with the exact
    between/within-segment decomposition — the property
    ``gini_customer_spend`` cannot offer (Gini does not decompose
    additively): T_total = T_between + Σ_g share_g·T_g, so the
    between-share column answers "how much of the spend inequality
    is explained by market segment" in one number.  Spenders only
    (y > 0 by construction here — every order has positive price),
    natural-log formulation.

    Scale shape: one per-customer aggregate; the total and per-group
    entropy sums are each ONE aggregate against broadcast 1-row /
    5-row mean relations; the decomposition is scalar algebra on the
    5-row group relation.  No windows over the corpus, no sort (the
    advantage over Gini, whose exact form needs a global rank)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_mktsegment")
        .agg(F.sum("o_totalprice").alias("y"))
        .select(F.col("c_mktsegment").alias("seg"), "y")
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("sy"),
    )
    t_total = (
        spend.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(
                    (F.col("y") / (F.col("sy") / F.col("n")))
                    * F.log(F.col("y") / (F.col("sy") / F.col("n")))
                )
                / F.max("n")
            ).alias("t")
        )
    )
    g = spend.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.sum("y").alias("sg"),
    )
    tg = (
        spend.join(F.broadcast(g), "seg")
        .groupBy("seg")
        .agg(
            (
                F.sum(
                    (F.col("y") / (F.col("sg") / F.col("ng")))
                    * F.log(F.col("y") / (F.col("sg") / F.col("ng")))
                )
                / F.max("ng")
            ).alias("t_g"),
            F.max("ng").alias("ng"),
            F.max("sg").alias("sg"),
        )
    )
    dec = tg.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.col("sg") / F.col("sy"))
            * F.log(
                (F.col("sg") / F.col("ng")) / (F.col("sy") / F.col("n"))
            )
        ).alias("t_between"),
        F.sum((F.col("sg") / F.col("sy")) * F.col("t_g")).alias("t_within"),
    )
    nrow = tot.select(F.col("n").cast("long").alias("n_customers"))
    return (
        nrow.crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(dec))
        .select(
            "n_customers",
            F.col("t").cast("float").alias("theil_total"),
            F.col("t_between").cast("float").alias("theil_between"),
            F.col("t_within").cast("float").alias("theil_within"),
            (F.col("t_between") / F.col("t")).cast("float")
            .alias("between_share"),
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_assortativity",
    oracle=f"""
    WITH edges AS ({_TRADE_EDGES_SQL}),
    outs AS (SELECT src, SUM(w) AS os FROM edges GROUP BY src),
    ins AS (SELECT dst, SUM(w) AS isv FROM edges GROUP BY dst),
    j AS (
        SELECT e.w, o2.os AS x, i.isv AS y
        FROM edges e JOIN outs o2 ON o2.src = e.src
                     JOIN ins i ON i.dst = e.dst
    ),
    m AS (
        SELECT SUM(w) AS sw, SUM(w*x) AS swx, SUM(w*y) AS swy,
               SUM(w*x*x) AS swxx, SUM(w*y*y) AS swyy,
               SUM(w*x*y) AS swxy, COUNT(*)::BIGINT AS n_edges
        FROM j
    )
    SELECT n_edges,
           CAST((sw*swxy - swx*swy)
                / (sqrt(sw*swxx - swx*swx) * sqrt(sw*swyy - swy*swy))
                AS REAL) AS assortativity
    FROM m
    """,
    tags=("graph", "assortativity", "degree-correlation", "topology"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted strength assortativity of the nation trade graph —
    the edge-weighted Pearson correlation between the out-strength
    of an edge's source and the in-strength of its destination
    (Newman 2002 generalized to weights): positive = heavy exporters
    ship to heavy importers (rich-club flow), negative = hub-spoke.
    Completes the trade-graph topology suite (pagerank/HITS rank
    nodes, k-core finds the mass, modularity scores a partition;
    assortativity characterizes the MIXING pattern).

    Scale shape: the one corpus-sized edge aggregation shared by the
    whole graph family, then strengths and the weighted-moment
    correlation all on the ≤ 25² edge relation — two tiny grouped
    sums, one 6-cell weighted moment aggregate."""
    edges = trade_edges(spark, sf_dir)
    outs = edges.groupBy("src").agg(F.sum("w").alias("os"))
    ins = edges.groupBy("dst").agg(F.sum("w").alias("isv"))
    j = (
        edges.join(F.broadcast(outs), "src")
        .join(F.broadcast(ins), "dst")
        .select("w", F.col("os").alias("x"), F.col("isv").alias("y"))
    )
    m = j.agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("x")).alias("swx"),
        F.sum(F.col("w") * F.col("y")).alias("swy"),
        F.sum(F.col("w") * F.col("x") * F.col("x")).alias("swxx"),
        F.sum(F.col("w") * F.col("y") * F.col("y")).alias("swyy"),
        F.sum(F.col("w") * F.col("x") * F.col("y")).alias("swxy"),
        F.count(F.lit(1)).cast("long").alias("n_edges"),
    )
    return m.select(
        "n_edges",
        (
            (F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy"))
            / (
                F.sqrt(
                    F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
                )
                * F.sqrt(
                    F.col("sw") * F.col("swyy") - F.col("swy") * F.col("swy")
                )
            )
        )
        .cast("float")
        .alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Fisher price index (Laspeyres/Paasche) between two years
# ---------------------------------------------------------------------------

_IDX_Y0, _IDX_Y1 = 1995, 1996


@register(
    "price_index_fisher",
    oracle=f"""
    WITH li AS (
        SELECT l.l_partkey AS pk,
               YEAR(CAST(o.o_orderdate AS DATE)) AS yr,
               SUM(l.l_quantity) AS q,
               SUM(l.l_extendedprice) / SUM(l.l_quantity) AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE YEAR(CAST(o.o_orderdate AS DATE))
                  IN ({_IDX_Y0}, {_IDX_Y1})
        GROUP BY 1, 2
    ),
    matched AS (
        SELECT a.pk, a.p AS p0, a.q AS q0, b.p AS p1, b.q AS q1
        FROM (SELECT * FROM li WHERE yr = {_IDX_Y0}) a
        JOIN (SELECT * FROM li WHERE yr = {_IDX_Y1}) b ON a.pk = b.pk
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n_parts,
               SUM(p1 * q0) AS p1q0, SUM(p0 * q0) AS p0q0,
               SUM(p1 * q1) AS p1q1, SUM(p0 * q1) AS p0q1
        FROM matched
    )
    SELECT n_parts,
           CAST(p1q0 / p0q0 AS REAL) AS laspeyres,
           CAST(p1q1 / p0q1 AS REAL) AS paasche,
           CAST(sqrt((p1q0 / p0q0) * (p1q1 / p0q1)) AS REAL) AS fisher
    FROM s
    """,
    tags=("price-index", "laspeyres", "paasche", "fisher", "economics"),
)
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher ideal price indices between
    two years over the common part basket — the index-number
    toolkit behind any "how much did prices move, holding the
    basket fixed" dashboard: Laspeyres weights by base-year
    quantities (overstates inflation under substitution), Paasche
    by current-year (understates), Fisher is their geometric mean
    and the superlative index national statistics agencies publish.
    Unit prices are revenue/quantity per (part, year); only parts
    traded in BOTH years enter (the matched-model rule).

    Scale shape: one (part, year) aggregate on the date-filtered
    scan (predicate pushed to parquet), a self-equi-join on partkey
    of the two year slices, one 4-cell weighted-sum aggregate —
    the indices are scalar algebra on the 1-row relation."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
    ).filter(F.col("yr").isin(_IDX_Y0, _IDX_Y1))
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_partkey").alias("pk"), "yr")
        .agg(
            F.sum("l_quantity").alias("q"),
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        )
    )
    a = li.filter(F.col("yr") == _IDX_Y0).select(
        "pk", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    b = li.filter(F.col("yr") == _IDX_Y1).select(
        "pk", F.col("p").alias("p1"), F.col("q").alias("q1")
    )
    s = a.join(b, "pk").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).alias("p1q0"),
        F.sum(F.col("p0") * F.col("q0")).alias("p0q0"),
        F.sum(F.col("p1") * F.col("q1")).alias("p1q1"),
        F.sum(F.col("p0") * F.col("q1")).alias("p0q1"),
    )
    lasp = F.col("p1q0") / F.col("p0q0")
    paas = F.col("p1q1") / F.col("p0q1")
    return s.select(
        "n_parts",
        lasp.cast("float").alias("laspeyres"),
        paas.cast("float").alias("paasche"),
        F.sqrt(lasp * paas).cast("float").alias("fisher"),
    )


# ---------------------------------------------------------------------------
# Capture-recapture population estimate (Chapman)
# ---------------------------------------------------------------------------


@register(
    "capture_recapture_chapman",
    oracle=f"""
    WITH y0 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE YEAR(CAST(o_orderdate AS DATE)) = {_IDX_Y0}
    ),
    y1 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE YEAR(CAST(o_orderdate AS DATE)) = {_IDX_Y1}
    ),
    s AS (
        SELECT (SELECT COUNT(*) FROM y0)::DOUBLE AS n1,
               (SELECT COUNT(*) FROM y1)::DOUBLE AS n2,
               (SELECT COUNT(*) FROM y0 JOIN y1 USING (o_custkey))::DOUBLE
                   AS m
    )
    SELECT CAST(n1 AS BIGINT) AS n_capture_1,
           CAST(n2 AS BIGINT) AS n_capture_2,
           CAST(m AS BIGINT) AS n_recaptured,
           CAST((n1 + 1) * (n2 + 1) / (m + 1) - 1 AS REAL)
               AS chapman_estimate,
           CAST(sqrt((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
                     / ((m + 1) * (m + 1) * (m + 2))) AS REAL)
               AS chapman_se,
           (SELECT COUNT(*)::BIGINT FROM customer) AS true_population
    FROM s
    """,
    tags=("capture-recapture", "chapman", "population-estimate",
          "census", "dedup-adjacent"),
)
def capture_recapture_chapman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chapman capture-recapture estimate of the customer universe
    from two overlapping activity snapshots (customers ordering in
    1995 vs 1996): N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with its closed-form
    standard error — the mark-recapture estimator a data platform
    uses to size an entity universe it never observes completely
    (total distinct users across partially-overlapping crawls or
    logs; the census-side cousin of the dedup family, which removes
    overlap rather than extrapolating from it).  The true customer
    count rides along as certification; the gap is the
    equal-catchability bias, which is the documented caveat.

    Scale shape: two year-filtered DISTINCT aggregates (predicate
    pushed), one equi-join for the overlap, scalar algebra on a
    1-row relation."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year(F.col("o_orderdate").cast("date")).alias("yr"),
    )
    y0 = o.filter(F.col("yr") == _IDX_Y0).select("o_custkey").distinct()
    y1 = o.filter(F.col("yr") == _IDX_Y1).select("o_custkey").distinct()
    n1 = y0.agg(F.count(F.lit(1)).cast("double").alias("n1"))
    n2 = y1.agg(F.count(F.lit(1)).cast("double").alias("n2"))
    m = y0.join(y1, "o_custkey").agg(
        F.count(F.lit(1)).cast("double").alias("m")
    )
    pop = load_table(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).cast("long").alias("true_population")
    )
    s = (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(pop))
    )
    est = (F.col("n1") + 1) * (F.col("n2") + 1) / (F.col("m") + 1) - 1
    se = F.sqrt(
        (F.col("n1") + 1)
        * (F.col("n2") + 1)
        * (F.col("n1") - F.col("m"))
        * (F.col("n2") - F.col("m"))
        / (
            (F.col("m") + 1)
            * (F.col("m") + 1)
            * (F.col("m") + 2)
        )
    )
    return s.select(
        F.col("n1").cast("long").alias("n_capture_1"),
        F.col("n2").cast("long").alias("n_capture_2"),
        F.col("m").cast("long").alias("n_recaptured"),
        est.cast("float").alias("chapman_estimate"),
        se.cast("float").alias("chapman_se"),
        "true_population",
    )


# ---------------------------------------------------------------------------
# Entropy rate of the user-behavior Markov chain
# ---------------------------------------------------------------------------


@register(
    "markov_entropy_rate",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS nxt
        FROM events
    ),
    trans AS (
        SELECT event_type AS src, nxt AS dst, COUNT(*)::DOUBLE AS c
        FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    marg AS (SELECT src, SUM(c) AS cs FROM trans GROUP BY src),
    tot AS (SELECT SUM(c) AS t FROM trans),
    h AS (
        SELECT SUM((tr.c / tot.t) * ln(mg.cs / tr.c)) AS rate
        FROM trans tr JOIN marg mg USING (src) CROSS JOIN tot
    ),
    h0 AS (
        SELECT ln(COUNT(*)::DOUBLE) AS hmax FROM marg
    )
    SELECT (SELECT CAST(t AS BIGINT) FROM tot) AS n_transitions,
           (SELECT COUNT(*)::BIGINT FROM marg) AS n_states,
           CAST(h.rate AS REAL) AS entropy_rate_nats,
           CAST(h.rate / h0.hmax AS REAL) AS normalized_rate
    FROM h CROSS JOIN h0
    """,
    tags=("entropy-rate", "markov", "predictability", "behavioral",
          "information-theory"),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order event-type Markov chain —
    how PREDICTABLE the next user action is given the current one:
    H = Σ_ij π̂_i p_ij ln(1/p_ij), with the stationary weights
    estimated by the empirical source frequencies (the MLE for an
    observed chain: π̂_i p_ij = count_ij / total, so the whole
    statistic collapses to one pass over the transition-count
    relation ``event_transition_matrix`` already certifies).
    Normalized by ln|states| it is the 0–1 unpredictability score
    behind session-quality and bot heuristics (a scripted agent's
    rate ≈ 0, uniform noise ≈ 1).

    Scale shape: one per-user LEAD window (partitioned), one
    transition-count aggregate (≤ |event types|² rows), scalar
    entropy algebra on it."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    marg = trans.groupBy("src").agg(F.sum("c").alias("cs"))
    tot = trans.agg(F.sum("c").alias("t"))
    h = (
        trans.join(F.broadcast(marg), "src")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("c") / F.col("t"))
                * F.log(F.col("cs") / F.col("c"))
            ).alias("rate")
        )
    )
    h0 = marg.agg(
        F.log(F.count(F.lit(1)).cast("double")).alias("hmax"),
        F.count(F.lit(1)).cast("long").alias("n_states"),
    )
    ntr = tot.select(F.col("t").cast("long").alias("n_transitions"))
    return (
        ntr.crossJoin(F.broadcast(h0))
        .crossJoin(F.broadcast(h))
        .select(
            "n_transitions",
            "n_states",
            F.col("rate").cast("float").alias("entropy_rate_nats"),
            (F.col("rate") / F.col("hmax")).cast("float")
            .alias("normalized_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Experiment power analysis: minimum detectable effect
# ---------------------------------------------------------------------------

#: z_{alpha/2} for two-sided alpha=0.05 and z_beta for 80% power —
#: fixed literals so both engines share the exact constants.
_MDE_Z_ALPHA = 1.959963984540054
_MDE_Z_BETA = 0.8416212335729143


@register(
    "power_analysis_mde",
    oracle=f"""
    WITH spend AS (
        SELECT c.c_custkey,
               COALESCE(SUM(o.o_totalprice), 0.0) AS y
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    ),
    m AS (
        SELECT COUNT(*)::DOUBLE AS n, AVG(y) AS mu,
               sqrt((SUM(y*y) - SUM(y)*SUM(y)/COUNT(*))
                    / (COUNT(*) - 1)) AS sigma
        FROM spend
    )
    SELECT CAST(n AS BIGINT) AS n_units,
           CAST(mu AS REAL) AS mean_outcome,
           CAST(sigma AS REAL) AS sd_outcome,
           CAST(({_MDE_Z_ALPHA} + {_MDE_Z_BETA}) * sigma
                * sqrt(2.0 / (n / 2.0)) AS REAL) AS mde_abs,
           CAST(({_MDE_Z_ALPHA} + {_MDE_Z_BETA}) * sigma
                * sqrt(2.0 / (n / 2.0)) / mu AS REAL) AS mde_rel
    FROM m
    """,
    tags=("power-analysis", "mde", "experiment-design",
          "ab-test", "closed-form"),
)
def power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for a 50/50 experiment on customer
    spend — the DESIGN-time calculator that belongs in front of
    every estimator in the causal family (``ab_test_welch``,
    ``cuped_adjusted_lift``, …): with all current customers split
    into two arms, the smallest true lift a two-sided α=0.05 test
    detects with 80% power is (z_{{α/2}}+z_β)·σ·√(2/(N/2)).
    Emitted absolute and relative to the mean, with σ estimated
    from the very population the experiment would randomize — the
    honest input, not a guess.  The experiment-design twin of
    ``lsh_band_design`` (design tables before builds, power before
    tests); CUPED's variance reduction would shrink σ and this
    number with it.

    Scale shape: one per-customer aggregate, one 3-cell moment
    aggregate, scalar algebra.  The z constants are shared literals
    so both engines compute the identical few-op float."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("y"))
    )
    m = spend.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("y") * F.col("y"))
                - F.sum("y") * F.sum("y") / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("sigma"),
    )
    mde = (
        F.lit(_MDE_Z_ALPHA + _MDE_Z_BETA)
        * F.col("sigma")
        * F.sqrt(2.0 / (F.col("n") / 2.0))
    )
    return m.select(
        F.col("n").cast("long").alias("n_units"),
        F.col("mu").cast("float").alias("mean_outcome"),
        F.col("sigma").cast("float").alias("sd_outcome"),
        mde.cast("float").alias("mde_abs"),
        (mde / F.col("mu")).cast("float").alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# Cramér's V: association strength between two categoricals
# ---------------------------------------------------------------------------


@register(
    "cramers_v_association",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               COUNT(*)::BIGINT AS o
        FROM orders GROUP BY 1, 2
    ),
    rm AS (SELECT pri, SUM(o)::BIGINT AS r FROM cells GROUP BY pri),
    cm AS (SELECT st, SUM(o)::BIGINT AS c FROM cells GROUP BY st),
    tot AS (SELECT SUM(o)::BIGINT AS n,
                   COUNT(DISTINCT pri)::BIGINT AS nr,
                   COUNT(DISTINCT st)::BIGINT AS nc
            FROM cells),
    chi AS (
        SELECT ROUND(SUM(
                   (cells.o - CAST(rm.r * cm.c AS DOUBLE) / tot.n)
                   * (cells.o - CAST(rm.r * cm.c AS DOUBLE) / tot.n)
                   / (CAST(rm.r * cm.c AS DOUBLE) / tot.n)), 6) AS chi2,
               MAX(tot.n) AS n, MAX(tot.nr) AS nr, MAX(tot.nc) AS nc
        FROM cells
        JOIN rm ON rm.pri = cells.pri
        JOIN cm ON cm.st = cells.st
        CROSS JOIN tot
    )
    SELECT n, nr AS n_rows, nc AS n_cols,
           CAST(chi2 AS REAL) AS chi2,
           CAST(ROUND(sqrt(chi2 / (n * (LEAST(nr, nc) - 1))), 6) AS REAL)
               AS cramers_v,
           CAST(ROUND(sqrt(
               GREATEST(0.0, chi2 / n
                             - CAST((nr - 1) * (nc - 1) AS DOUBLE)
                               / (n - 1))
               / LEAST(nr - CAST((nr - 1) * (nr - 1) AS DOUBLE) / (n - 1),
                       nc - CAST((nc - 1) * (nc - 1) AS DOUBLE) / (n - 1))
               ), 6) AS REAL) AS cramers_v_corrected
    FROM chi
    """,
    tags=("association", "chi-square", "cramers-v", "categorical",
          "statistics"),
)
def cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V (plain + Bergsma bias-corrected) between order
    priority and order status — the effect-size companion to the
    chi-square independence test (`chisq_lang_source` reports the
    statistic; V normalizes it to [0,1] so association strengths are
    comparable across tables of different shape and size).  The
    bias-corrected variant subtracts the expected chance inflation
    (r−1)(c−1)/(n−1) — the version a feature-selection pass should
    rank categorical pairs by.

    Scale shape: ONE corpus aggregate to the r×c contingency cells
    (map-side combinable; 15 cells here), then margins and the χ²
    fold run on the bounded cell relation with broadcast joins —
    the corpus is scanned once regardless of r×c."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    rm = cells.groupBy("pri").agg(F.sum("o").cast("long").alias("r"))
    cm = cells.groupBy("st").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("pri").cast("long").alias("nr"),
        F.countDistinct("st").cast("long").alias("nc"),
    )
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n")
    chi = (
        cells.join(F.broadcast(rm), "pri")
        .join(F.broadcast(cm), "st")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6
            ).alias("chi2"),
            F.max("n").alias("n"),
            F.max("nr").alias("nr"),
            F.max("nc").alias("nc"),
        )
    )
    phi2 = F.col("chi2") / F.col("n")
    bias = ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("double") / (
        F.col("n") - 1
    )
    rcor = F.col("nr") - ((F.col("nr") - 1) * (F.col("nr") - 1)).cast(
        "double"
    ) / (F.col("n") - 1)
    ccor = F.col("nc") - ((F.col("nc") - 1) * (F.col("nc") - 1)).cast(
        "double"
    ) / (F.col("n") - 1)
    return chi.select(
        "n",
        F.col("nr").alias("n_rows"),
        F.col("nc").alias("n_cols"),
        F.col("chi2").cast("float").alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * (F.least("nr", "nc") - 1))
            ),
            6,
        ).cast("float").alias("cramers_v"),
        F.round(
            F.sqrt(
                F.greatest(F.lit(0.0), phi2 - bias)
                / F.least(rcor, ccor)
            ),
            6,
        ).cast("float").alias("cramers_v_corrected"),
    )


# ---------------------------------------------------------------------------
# Cochran–Armitage trend test across ordered groups
# ---------------------------------------------------------------------------


@register(
    "cochran_armitage_trend",
    oracle="""
    WITH g AS (
        SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS w,
               COUNT(*)::BIGINT AS n,
               SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
                   AS r
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT SUM(n)::DOUBLE AS nn, SUM(r)::DOUBLE AS rr,
               SUM(w * r)::DOUBLE AS swr, SUM(w * n)::DOUBLE AS swn,
               SUM(w * w * n)::DOUBLE AS swwn,
               COUNT(*)::BIGINT AS k
        FROM g
    )
    SELECT k AS k_groups, CAST(nn AS BIGINT) AS n_total,
           CAST(rr AS BIGINT) AS n_events,
           CAST(ROUND((swr - rr / nn * swn)
                / sqrt(rr / nn * (1.0 - rr / nn)
                       * (swwn - swn * swn / nn)), 6) AS REAL) AS z_trend
    FROM s
    """,
    tags=("trend-test", "cochran-armitage", "ordered-groups",
          "statistics", "closed-form"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for a linear trend in a binary rate
    across ORDERED groups — here, P(order finalized) across the five
    priority ranks.  The k-sample chi-square (`chisq_lang_source`,
    `cramers_v_association`) asks "any association?"; this asks the
    sharper monotone question a dose-response or priority-SLA audit
    needs, with scores w=1..5 parsed from the priority label.
    T = Σw·r − p̄·Σw·n, Var = p̄(1−p̄)(Σw²n − (Σwn)²/N), z = T/√Var.

    Scale shape: ONE corpus aggregate to 5 (w, n, r) rows, one
    5-row moment fold, scalar algebra — a map-side-combinable
    single scan, no joins."""
    o = load_table(spark, sf_dir, "orders")
    g = (
        o.groupBy(
            F.substring("o_orderpriority", 1, 1)
            .cast("long")
            .alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).cast("long").alias("r"),
        )
    )
    s = g.agg(
        F.sum("n").cast("double").alias("nn"),
        F.sum("r").cast("double").alias("rr"),
        F.sum(F.col("w") * F.col("r")).cast("double").alias("swr"),
        F.sum(F.col("w") * F.col("n")).cast("double").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n"))
        .cast("double")
        .alias("swwn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    pbar = F.col("rr") / F.col("nn")
    return s.select(
        F.col("k").alias("k_groups"),
        F.col("nn").cast("long").alias("n_total"),
        F.col("rr").cast("long").alias("n_events"),
        F.round(
            (F.col("swr") - pbar * F.col("swn"))
            / F.sqrt(
                pbar
                * (F.lit(1.0) - pbar)
                * (
                    F.col("swwn")
                    - F.col("swn") * F.col("swn") / F.col("nn")
                )
            ),
            6,
        ).cast("float").alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# Tukey HSD: which segment pairs differ, after the ANOVA says "some do"
# ---------------------------------------------------------------------------

#: Studentized range critical value q_{0.05, k=5, df=inf} (standard
#: table value) — shared literal so both engines use the identical
#: threshold.  With N-k in the tens of thousands the df=inf row is
#: the correct one to three decimals.
_TUKEY_Q_05_K5 = 3.858


@register(
    "tukey_hsd_pairs",
    oracle=f"""
    WITH joined AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
        SELECT seg, COUNT(*)::DOUBLE AS n, SUM(y) AS s, SUM(y*y) AS ss
        FROM joined GROUP BY seg
    ),
    msw AS (
        SELECT (SUM(ss) - SUM(s * s / n)) / (SUM(n) - COUNT(*)) AS msw
        FROM g
    )
    SELECT a.seg AS seg_a, b.seg AS seg_b,
           CAST(ROUND(a.s / a.n - b.s / b.n, 4) AS REAL) AS mean_diff,
           CAST(ROUND({_TUKEY_Q_05_K5}
                      * sqrt(msw.msw / 2.0 * (1.0 / a.n + 1.0 / b.n)),
                      4) AS REAL) AS hsd_threshold,
           CASE WHEN ABS(a.s / a.n - b.s / b.n)
                     > {_TUKEY_Q_05_K5}
                       * sqrt(msw.msw / 2.0 * (1.0 / a.n + 1.0 / b.n))
                THEN 1 ELSE 0 END AS significant
    FROM g a JOIN g b ON a.seg < b.seg CROSS JOIN msw
    """,
    tags=("tukey-hsd", "post-hoc", "multiple-comparison", "anova",
          "statistics"),
)
def tukey_hsd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey–Kramer HSD post-hoc pairwise comparisons across the 5
    market segments — the follow-up `anova_oneway_segments` demands:
    the F-test only says SOME means differ; HSD controls the
    familywise error across all 10 pairs via the studentized-range
    critical value, the honest alternative to running 10 Welch tests
    and pretending α still means 0.05 (`fdr_bh_nation_tests` is the
    other standard answer when the tests aren't all-pairs-of-means).
    Unequal group sizes use the Kramer form √(MSW/2·(1/nᵢ+1/nⱼ)).

    Scale shape: the corpus work is identical to the ANOVA (one
    fact-dim equi-join + one 5-row moment aggregate); the all-pairs
    self-join runs on the bounded 5-row group relation — broadcast,
    never corpus-sized."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias(
                "ss"
            ),
        )
    )
    msw = g.agg(
        (
            (
                F.sum("ss")
                - F.sum(F.col("s") * F.col("s") / F.col("n"))
            )
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("msw")
    )
    a = g.alias("a")
    b = g.alias("b")
    diff = F.col("a.s") / F.col("a.n") - F.col("b.s") / F.col("b.n")
    hsd = F.lit(_TUKEY_Q_05_K5) * F.sqrt(
        F.col("msw")
        / 2.0
        * (F.lit(1.0) / F.col("a.n") + F.lit(1.0) / F.col("b.n"))
    )
    return (
        a.join(b, F.col("a.seg") < F.col("b.seg"))
        .crossJoin(F.broadcast(msw))
        .select(
            F.col("a.seg").alias("seg_a"),
            F.col("b.seg").alias("seg_b"),
            F.round(diff, 4).cast("float").alias("mean_diff"),
            F.round(hsd, 4).cast("float").alias("hsd_threshold"),
            F.when(F.abs(diff) > hsd, 1).otherwise(0).alias(
                "significant"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Lift / cumulative-gain decile table for a scored ranking
# ---------------------------------------------------------------------------


@register(
    "lift_gain_deciles",
    oracle="""
    WITH scored AS (
        SELECT doc_id, n_chars,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
    ),
    tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(pos)::BIGINT AS p
            FROM scored),
    dec AS (
        SELECT ((rn - 1) * 10 // tot.n)::BIGINT AS decile,
               COUNT(*)::BIGINT AS n_docs, SUM(pos)::BIGINT AS positives
        FROM scored CROSS JOIN tot
        GROUP BY 1
    )
    SELECT decile, n_docs, positives,
           CAST(positives AS DOUBLE) / n_docs AS response_rate,
           CAST(CAST(positives AS DOUBLE) * tot.n
                / (CAST(n_docs AS DOUBLE) * tot.p) AS REAL) AS lift,
           CAST(SUM(positives) OVER (ORDER BY decile) AS DOUBLE)
               / tot.p AS cum_gain
    FROM dec CROSS JOIN tot
    """,
    tags=("lift-curve", "gain-chart", "ranking-eval", "deciles",
          "model-eval"),
)
def lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift and cumulative-gain decile table for a scored ranking —
    the campaign-targeting readout beside `logreg_auc_roc` (AUC is
    one number; the decile table says WHERE the ranker earns it):
    documents ranked by length, label = is-English, so the table
    reads "the top decile by length contains lift× the base rate of
    English documents".  Decile assignment is pure integer
    arithmetic ((rn−1)·10/N) with a (score, id) tiebreak, so both
    engines bucket identically — no ntile edge-case semantics, no
    float quantile boundaries.

    Scale shape: the global rank comes from the distributed-prefix
    machinery (`operators/prefix.ranked_cumsum` — range partition +
    broadcast offsets), so the corpus is never funneled through one
    task; then one 10-row aggregate and a window cum-sum on the
    bounded 10-row decile relation.  Every emitted float is a single
    division of exact integers — bit-identical cross-engine."""
    from axolotls_spark.operators.prefix import ranked_cumsum

    d = load_table(spark, sf_dir, "documents")
    scored = ranked_cumsum(
        d.select(
            "doc_id",
            "n_chars",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        ),
        [F.desc("n_chars"), F.asc("doc_id")],
        "pos",
        rank_name="rn",
        cum_name="__cum_unused",
    ).drop("__cum_unused")
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    dec = (
        scored.crossJoin(F.broadcast(tot))
        .groupBy(
            F.floor((F.col("rn") - 1) * 10 / F.col("n"))
            .cast("long")
            .alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pos").cast("long").alias("positives"),
        )
    )
    wc = Window.orderBy("decile")
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_docs",
            "positives",
            (F.col("positives").cast("double") / F.col("n_docs")).alias(
                "response_rate"
            ),
            (
                F.col("positives").cast("double")
                * F.col("n")
                / (F.col("n_docs").cast("double") * F.col("p"))
            ).cast("float").alias("lift"),
            (
                F.sum("positives").over(wc).cast("double") / F.col("p")
            ).alias("cum_gain"),
        )
    )


# ---------------------------------------------------------------------------
# Markov-chain attribution: removal effects over an absorbing chain
# ---------------------------------------------------------------------------

_MARKOV_CHANNELS = ("click", "signup", "view")
_MARKOV_ITERS = 48


def _markov_oracle() -> str:
    """Unroll the absorbing-chain value iteration as a CTE chain —
    the SQL mirror of the Spark loop, generated from the same
    iteration count so both engines compute the identical truncated
    fixpoint (parity needs same-structure arithmetic, not
    convergence)."""
    chans = ", ".join(f"'{c}'" for c in _MARKOV_CHANNELS)
    head = f"""
    WITH firstp AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS p_ts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    seq AS (
        SELECT e.user_id, e.event_type AS ch,
               CAST(e.ts AS TIMESTAMP) AS ts, e.event_id,
               f.p_ts IS NOT NULL AS conv
        FROM events e LEFT JOIN firstp f ON f.user_id = e.user_id
        WHERE e.event_type IN ({chans})
          AND (f.p_ts IS NULL OR CAST(e.ts AS TIMESTAMP) < f.p_ts)
    ),
    hops AS (
        SELECT user_id, ch AS src,
               COALESCE(LEAD(ch) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                        CASE WHEN conv THEN 'CONV' ELSE 'NULL' END) AS dst,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM seq
    ),
    starts AS (
        SELECT 'START' AS src,
               COALESCE(MIN(CASE WHEN h.rn = 1 THEN h.src END),
                        CASE WHEN MAX(CASE WHEN f.user_id IS NOT NULL
                                           THEN 1 ELSE 0 END) = 1
                             THEN 'CONV' ELSE 'NULL' END) AS dst
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN hops h ON h.user_id = u.user_id
        LEFT JOIN firstp f ON f.user_id = u.user_id
        GROUP BY u.user_id
    ),
    trans AS (
        SELECT src, dst, COUNT(*)::DOUBLE AS c
        FROM (SELECT src, dst FROM hops UNION ALL
              SELECT src, dst FROM starts)
        GROUP BY 1, 2
    ),
    probs AS (
        SELECT src, dst,
               c / SUM(c) OVER (PARTITION BY src) AS p
        FROM trans
    ),
    variants AS (
        SELECT * FROM (VALUES ('BASE'), ({chans.replace(", ", "), (")}))
        AS t(variant)
    ),
    vedges AS (
        SELECT v.variant, p.src, p.dst, p.p
        FROM probs p CROSS JOIN variants v
        WHERE v.variant = 'BASE'
           OR (p.src <> v.variant AND p.dst <> v.variant)
    ),
    v0 AS (
        SELECT v.variant, c.ch AS state, 0.0::DOUBLE AS val
        FROM variants v
        CROSS JOIN (SELECT UNNEST([{chans}]) AS ch) c
    )"""
    steps = []
    for k in range(_MARKOV_ITERS):
        steps.append(f""",
    v{k + 1} AS MATERIALIZED (
        SELECT e.variant, e.src AS state,
               SUM(CASE WHEN e.dst = 'CONV' THEN e.p
                        ELSE e.p * COALESCE(v.val, 0.0) END) AS val
        FROM vedges e
        LEFT JOIN v{k} v ON v.variant = e.variant AND v.state = e.dst
        WHERE e.src IN ({chans})
        GROUP BY e.variant, e.src
    )""")
    tail = f""",
    conv AS (
        SELECT e.variant,
               SUM(CASE WHEN e.dst = 'CONV' THEN e.p
                        ELSE e.p * COALESCE(v.val, 0.0) END) AS big_v
        FROM vedges e
        LEFT JOIN v{_MARKOV_ITERS} v
               ON v.variant = e.variant AND v.state = e.dst
        WHERE e.src = 'START'
        GROUP BY e.variant
    ),
    eff AS (
        SELECT r.variant AS channel,
               (b.big_v - r.big_v) / b.big_v AS removal
        FROM conv r CROSS JOIN (SELECT big_v FROM conv
                                WHERE variant = 'BASE') b
        WHERE r.variant <> 'BASE'
    )
    SELECT channel,
           CAST(ROUND((SELECT big_v FROM conv WHERE variant = 'BASE'),
                      6) AS REAL) AS base_conv_prob,
           CAST(ROUND(removal, 6) AS REAL) AS removal_effect,
           CAST(ROUND(removal / SUM(removal) OVER (), 6) AS REAL)
               AS attribution_share
    FROM eff"""
    return head + "".join(steps) + tail


@register(
    "markov_attribution_removal",
    oracle=_markov_oracle(),
    tags=("attribution", "markov-chain", "removal-effect", "marketing",
          "absorbing-chain", "iterative"),
)
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    alternative to `multitouch_attribution`'s positional rules: fit
    a first-order chain over each user's pre-purchase channel path
    (START → channels → CONV/NULL), compute the absorbing conversion
    probability by value iteration, then re-compute it with each
    channel's node REMOVED (its in- and out-edges lost to NULL); a
    channel's credit is the conversion probability it cannot be
    replaced for.  All five variants (base + 4 removals) iterate
    jointly as one (variant, state) relation.

    Engine parity: both sides run the SAME 48 truncated iterations
    (the oracle unrolls them as CTEs from the shared constant), so
    agreement is structural, not asymptotic; the NumPy mirror also
    checks the exact linear solve to confirm 48 iterations converged
    (mean path ~4 hops → residual mass ~0.75^48).

    Scale shape: journey extraction is one user-partitioned window
    over channel events (no self-join); the chain is a bounded
    ≤(|C|+2)² relation, and all 48 iterations run inside ONE
    Arrow-batched pandas UDF over that single-partition relation
    (operators/pca.py's eigh-on-one-row pattern — never a driver
    collect, zero iteration shuffles).  At 100 TB only the
    transition-count aggregate touches the corpus.  The oracle
    unrolls the same iterations as MATERIALIZED CTEs (inlined, the
    48-deep join nest explodes DuckDB's planner)."""
    ev = load_table(spark, sf_dir, "events")
    firstp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("timestamp")).alias("p_ts"))
    )
    seq = (
        ev.filter(F.col("event_type").isin(*_MARKOV_CHANNELS))
        .join(F.broadcast(firstp), "user_id", "left")
        .filter(
            F.col("p_ts").isNull()
            | (F.col("ts").cast("timestamp") < F.col("p_ts"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("ch"),
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            F.col("p_ts").isNotNull().alias("conv"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = seq.select(
        "user_id",
        F.col("ch").alias("src"),
        F.coalesce(
            F.lead("ch").over(w),
            F.when(F.col("conv"), F.lit("CONV")).otherwise(F.lit("NULL")),
        ).alias("dst"),
        F.row_number().over(w).alias("rn"),
    )
    users = ev.select("user_id").distinct()
    starts = (
        users.join(hops, "user_id", "left")
        .join(F.broadcast(firstp), "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("rn") == 1, F.col("src"))),
                F.when(
                    F.max(
                        F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)
                    )
                    == 1,
                    F.lit("CONV"),
                ).otherwise(F.lit("NULL")),
            ).alias("dst")
        )
        .select(F.lit("START").alias("src"), "dst")
    )
    trans = (
        hops.select("src", "dst")
        .unionAll(starts)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    ws = Window.partitionBy("src")
    probs = trans.select(
        "src", "dst", (F.col("c") / F.sum("c").over(ws)).alias("p")
    )
    variants = spark.createDataFrame(
        [("BASE",)] + [(c,) for c in _MARKOV_CHANNELS], ["variant"]
    )
    vedges = (
        probs.crossJoin(F.broadcast(variants))
        .filter(
            (F.col("variant") == "BASE")
            | (
                (F.col("src") != F.col("variant"))
                & (F.col("dst") != F.col("variant"))
            )
        )
        # <=30-row relation pinned to one partition before the
        # one-row pivot (documented bounded-relation repartition(1)).
        .repartition(1)
    )
    # The chain is a bounded ≤(|C|+2)² relation; the truncated value
    # iteration runs inside ONE Arrow-batched pandas UDF over that
    # single-partition relation — the same never-a-driver-collect
    # pattern as operators/pca.py's eigh-on-one-row: transitions are
    # computed distributed, the 4-variant × 3-state solve costs
    # microseconds, and the result stays a DataFrame.
    chan_lit = list(_MARKOV_CHANNELS)
    iters = _MARKOV_ITERS

    def _solve(batches):
        import pandas as pd

        # One bounded partition, but Arrow may still split batches:
        # fold them back together before solving.
        parts = [pdf for pdf in batches if not pdf.empty]
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
            out_ch, out_base, out_rem = [], [], []
            probs_by_var = {}
            for vr, g in pdf.groupby("variant"):
                probs_by_var[vr] = {
                    (r.src, r.dst): r.p for r in g.itertuples()
                }
            base_v = None
            for vr in ["BASE"] + [
                c for c in chan_lit if c in probs_by_var
            ]:
                t = probs_by_var[vr]
                v = {c: 0.0 for c in chan_lit}
                for _ in range(iters):
                    v = {
                        c: t.get((c, "CONV"), 0.0)
                        + sum(
                            t.get((c, d), 0.0) * v[d] for d in chan_lit
                        )
                        for c in chan_lit
                    }
                big_v = t.get(("START", "CONV"), 0.0) + sum(
                    t.get(("START", d), 0.0) * v[d] for d in chan_lit
                )
                if vr == "BASE":
                    base_v = big_v
                else:
                    out_ch.append(vr)
                    out_base.append(base_v)
                    out_rem.append((base_v - big_v) / base_v)
            yield pd.DataFrame(
                {
                    "channel": out_ch,
                    "base_v": out_base,
                    "removal": out_rem,
                }
            )

    eff = vedges.mapInPandas(
        _solve, "channel STRING, base_v DOUBLE, removal DOUBLE"
    )
    tot = eff.agg(F.sum("removal").alias("tot_removal"))
    return eff.crossJoin(F.broadcast(tot)).select(
        "channel",
        F.round("base_v", 6).cast("float").alias("base_conv_prob"),
        F.round("removal", 6).cast("float").alias("removal_effect"),
        F.round(F.col("removal") / F.col("tot_removal"), 6)
        .cast("float")
        .alias("attribution_share"),
    )


# ---------------------------------------------------------------------------
# Gradient boosting: two exact-greedy stump rounds on residuals
# ---------------------------------------------------------------------------

_GBDT_ROUNDS = 2


def _gbdt_oracle() -> str:
    """Unrolled 2-round boosting oracle.  Each round: exact-greedy
    split search from cumulative (n, Σtarget) over the distinct-value
    histogram, then residual update.  Gains are compared after ROUND
    to 4dp with a (feat, threshold) tie-break so both engines pick
    the identical split even at last-ulp gain drift."""
    best = """
        SELECT feat, x AS threshold,
               sl / nl AS left_pred,
               (st - sl) / (nt - nl) AS right_pred,
               sl * sl / nl + (st - sl) * (st - sl) / (nt - nl)
                 - st * st / nt AS gain
        FROM (
            SELECT feat, x,
                   SUM(n) OVER w AS nl, SUM(s) OVER w AS sl,
                   SUM(n) OVER p AS nt, SUM(s) OVER p AS st
            FROM {hist}
            WINDOW w AS (PARTITION BY feat ORDER BY x),
                   p AS (PARTITION BY feat)
        )
        WHERE nl > 0 AND nt - nl > 0
        ORDER BY ROUND(sl * sl / nl
                       + (st - sl) * (st - sl) / (nt - nl)
                       - st * st / nt, 4) DESC, feat, x
        LIMIT 1
    """
    return f"""
    WITH base AS (
        SELECT l_quantity AS q, l_discount AS d,
               l_extendedprice * (1 - l_discount) AS y
        FROM lineitem
    ),
    long1 AS (
        SELECT 'l_quantity' AS feat, q AS x, y AS t FROM base
        UNION ALL
        SELECT 'l_discount' AS feat, d AS x, y AS t FROM base
    ),
    hist1 AS (
        SELECT feat, x, COUNT(*)::DOUBLE AS n, SUM(t) AS s
        FROM long1 GROUP BY 1, 2
    ),
    spec1 AS MATERIALIZED ({best.format(hist='hist1')}),
    resid1 AS (
        SELECT b.q, b.d,
               b.y - CASE WHEN s.feat = 'l_quantity'
                          THEN CASE WHEN b.q <= s.threshold
                                    THEN s.left_pred ELSE s.right_pred END
                          ELSE CASE WHEN b.d <= s.threshold
                                    THEN s.left_pred ELSE s.right_pred END
                     END AS r
        FROM base b CROSS JOIN spec1 s
    ),
    rmse1 AS (SELECT sqrt(AVG(r * r)) AS rmse FROM resid1),
    long2 AS (
        SELECT 'l_quantity' AS feat, q AS x, r AS t FROM resid1
        UNION ALL
        SELECT 'l_discount' AS feat, d AS x, r AS t FROM resid1
    ),
    hist2 AS (
        SELECT feat, x, COUNT(*)::DOUBLE AS n, SUM(t) AS s
        FROM long2 GROUP BY 1, 2
    ),
    spec2 AS MATERIALIZED ({best.format(hist='hist2')}),
    resid2 AS (
        SELECT b.r - CASE WHEN s.feat = 'l_quantity'
                          THEN CASE WHEN b.q <= s.threshold
                                    THEN s.left_pred ELSE s.right_pred END
                          ELSE CASE WHEN b.d <= s.threshold
                                    THEN s.left_pred ELSE s.right_pred END
                     END AS r
        FROM resid1 b CROSS JOIN spec2 s
    ),
    rmse2 AS (SELECT sqrt(AVG(r * r)) AS rmse FROM resid2)
    SELECT 1::BIGINT AS round, s.feat,
           CAST(ROUND(s.threshold, 6) AS REAL) AS threshold,
           CAST(ROUND(s.left_pred, 4) AS REAL) AS left_pred,
           CAST(ROUND(s.right_pred, 4) AS REAL) AS right_pred,
           CAST(ROUND(s.gain, 2) AS DOUBLE) AS gain,
           CAST(ROUND(m.rmse, 4) AS REAL) AS rmse_after
    FROM spec1 s CROSS JOIN rmse1 m
    UNION ALL
    SELECT 2::BIGINT, s.feat,
           CAST(ROUND(s.threshold, 6) AS REAL),
           CAST(ROUND(s.left_pred, 4) AS REAL),
           CAST(ROUND(s.right_pred, 4) AS REAL),
           CAST(ROUND(s.gain, 2) AS DOUBLE),
           CAST(ROUND(m.rmse, 4) AS REAL)
    FROM spec2 s CROSS JOIN rmse2 m
    """


@register(
    "gbdt_boost_rounds",
    oracle=_gbdt_oracle(),
    tags=("gbdt", "boosting", "residual-fit", "exact-greedy",
          "ml-training", "iterative"),
)
def gbdt_boost_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of gradient boosting with exact-greedy regression
    stumps — the SEQUENTIAL-ensemble pattern the single-tree queries
    don't cover (`stump_split_search` is the histogram inner loop,
    `tree_depth2_cart` the greedy tree; boosting refits the next
    learner on the RESIDUALS of the ensemble so far, which is what
    XGBoost/LightGBM actually iterate).  Exact-greedy mode: every
    distinct feature value is a candidate threshold, gains come from
    cumulative (n, Σtarget) prefix sums over the value-ordered
    histogram — one corpus pass per round, no per-threshold rescan.
    Emits each round's split spec and the train RMSE after applying
    it (strictly decreasing — the mirror test pins that).

    Engine determinism: the winning split is chosen by (ROUND(gain,4)
    DESC, feat, threshold), so a last-ulp gain difference cannot make
    the engines pick different splits; predictions are single
    divisions of money sums.

    Scale shape: per round, ONE corpus aggregate to the ≤Σ|values|
    histogram (map-side combinable), prefix sums on the bounded
    per-feature relation (partitioned window), and the argmax as
    orderBy().limit(1) — TakeOrderedAndProject, never a global rank
    window.  The corpus relation is persisted once and reused by
    both rounds and both RMSE folds."""
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.select(
            F.col("l_quantity").alias("q"),
            F.col("l_discount").alias("d"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("y"),
        ).persist()
    )

    def long_form(rel: DataFrame, target: str) -> DataFrame:
        return rel.selectExpr(
            "stack(2, 'l_quantity', q, 'l_discount', d) AS (feat, x)",
            f"{target} AS t",
        )

    def best_split(rel: DataFrame) -> DataFrame:
        hist = rel.groupBy("feat", "x").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("t").alias("s"),
        )
        wc = Window.partitionBy("feat").orderBy("x")
        wp = Window.partitionBy("feat")
        cum = hist.select(
            "feat",
            "x",
            F.sum("n").over(wc).alias("nl"),
            F.sum("s").over(wc).alias("sl"),
            F.sum("n").over(wp).alias("nt"),
            F.sum("s").over(wp).alias("st"),
        ).filter(
            (F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0)
        )
        gain = (
            F.col("sl") * F.col("sl") / F.col("nl")
            + (F.col("st") - F.col("sl"))
            * (F.col("st") - F.col("sl"))
            / (F.col("nt") - F.col("nl"))
            - F.col("st") * F.col("st") / F.col("nt")
        )
        return (
            cum.select(
                "feat",
                F.col("x").alias("threshold"),
                (F.col("sl") / F.col("nl")).alias("left_pred"),
                (
                    (F.col("st") - F.col("sl"))
                    / (F.col("nt") - F.col("nl"))
                ).alias("right_pred"),
                gain.alias("gain"),
            )
            .orderBy(
                F.round("gain", 4).desc(), "feat", "threshold"
            )
            .limit(1)
            .localCheckpoint(eager=True)
        )

    def pred(spec_prefix: str = "") -> "F.Column":
        t, lp, rp = (
            F.col("threshold"),
            F.col("left_pred"),
            F.col("right_pred"),
        )
        return F.when(
            F.col("feat") == "l_quantity",
            F.when(F.col("q") <= t, lp).otherwise(rp),
        ).otherwise(F.when(F.col("d") <= t, lp).otherwise(rp))

    rows = []
    cur = base.withColumn("r", F.col("y"))
    for rnd in range(1, _GBDT_ROUNDS + 1):
        spec = best_split(long_form(cur, "r"))
        nxt = (
            cur.crossJoin(F.broadcast(spec))
            .withColumn("r", F.col("r") - pred())
            .select("q", "d", "y", "r")
        )
        rmse = nxt.agg(F.sqrt(F.avg(F.col("r") * F.col("r"))).alias("rmse"))
        rows.append(
            spec.crossJoin(F.broadcast(rmse)).select(
                F.lit(rnd).cast("long").alias("round"),
                "feat",
                F.round("threshold", 6).cast("float").alias("threshold"),
                F.round("left_pred", 4).cast("float").alias("left_pred"),
                F.round("right_pred", 4).cast("float").alias("right_pred"),
                F.round("gain", 2).cast("double").alias("gain"),
                F.round("rmse", 4).cast("float").alias("rmse_after"),
            )
        )
        cur = nxt
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# k-truss: edges supported by enough triangles, with iterative peeling
# ---------------------------------------------------------------------------

_KTRUSS_K = 4
_KTRUSS_ROUNDS = 3

_KTRUSS_EDGES_SQL = """
    te0 AS MATERIALIZED (
        SELECT DISTINCT LEAST(s_nationkey, c_nationkey) AS a,
                        GREATEST(s_nationkey, c_nationkey) AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s_nationkey <> c_nationkey
    )
"""


def _ktruss_round_sql(i: int) -> str:
    # MATERIALIZED: each round references its predecessor ~5 times;
    # left as inline views DuckDB re-executes the 4-way corpus join
    # multiplicatively per round (observed: 100 GiB OOM at sf0.1 —
    # the round-6 CollapseProject/CTE lesson, relational edition).
    return f""",
    tadj{i} AS MATERIALIZED (
        SELECT a AS u, b AS v FROM te{i - 1}
        UNION ALL
        SELECT b AS u, a AS v FROM te{i - 1}
    ),
    tsup{i} AS MATERIALIZED (
        SELECT e.a, e.b, COUNT(*)::BIGINT AS sup
        FROM te{i - 1} e
        JOIN tadj{i} x ON x.u = e.a
        JOIN tadj{i} y ON y.u = e.b AND y.v = x.v
        GROUP BY e.a, e.b
    ),
    te{i} AS MATERIALIZED (
        SELECT e.a, e.b, COALESCE(s.sup, 0) AS sup
        FROM te{i - 1} e
        LEFT JOIN tsup{i} s ON s.a = e.a AND s.b = e.b
        WHERE COALESCE(s.sup, 0) >= {_KTRUSS_K - 2}
    )"""


@register(
    "ktruss_trade_edges",
    oracle="WITH "
    + _KTRUSS_EDGES_SQL
    + "".join(_ktruss_round_sql(i) for i in range(1, _KTRUSS_ROUNDS + 1))
    + f"""
    SELECT na.n_name AS nation_a, nb.n_name AS nation_b,
           CAST(e.sup AS BIGINT) AS support
    FROM te{_KTRUSS_ROUNDS} e
    JOIN nation na ON e.a = na.n_nationkey
    JOIN nation nb ON e.b = nb.n_nationkey
    """,
    tags=("graph", "k-truss", "triangle-support", "iterative", "peel"),
)
def ktruss_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss (k=4) of the undirected nation trade graph: keep the
    edges supported by ≥ k−2 triangles, recompute support on the
    survivors, repeat — the EDGE-cohesion analogue of
    `kcore_trade_graph`'s node peeling (a k-truss is strictly
    stronger than a (k−1)-core: every surviving edge sits in enough
    triangles among surviving edges, the standard community-backbone
    extractor).  Three unrolled peel rounds; support per edge is
    the |N(a)∩N(b)| two-hop join over the canonical a<b edge set,
    the same pattern `graph_triangle_count` counts once globally.

    Scale shape: aggregate-then-iterate — one corpus pass to the
    distinct ≤|nations|² edge relation, then every round is a
    bounded self-join + aggregate with an eager localCheckpoint
    (the kcore discipline).  At 100 TB the edge relation is still
    dimension-sized; production k-truss on billion-edge graphs runs
    the identical rounds with shuffled joins."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    e = (
        trade_facts(spark, sf_dir)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct()
        .withColumn("sup", F.lit(0).cast("long"))
        .repartition(1)
    )
    for _ in range(_KTRUSS_ROUNDS):
        adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        sup = (
            e.alias("e")
            .join(adj.alias("x"), F.col("x.u") == F.col("e.a"))
            .join(
                adj.alias("y"),
                (F.col("y.u") == F.col("e.b"))
                & (F.col("y.v") == F.col("x.v")),
            )
            .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        )
        e = (
            e.select("a", "b")
            .join(sup, ["a", "b"], "left")
            .select(
                "a", "b", F.coalesce(F.col("sup"), F.lit(0)).alias("sup")
            )
            .filter(F.col("sup") >= _KTRUSS_K - 2)
            .repartition(1)
            .localCheckpoint(eager=True)
        )
    na = n.select(F.col("n_nationkey").alias("a"), F.col("n_name").alias("nation_a"))
    nb = n.select(F.col("n_nationkey").alias("b"), F.col("n_name").alias("nation_b"))
    return (
        e.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select("nation_a", "nation_b", F.col("sup").alias("support"))
    )


# ---------------------------------------------------------------------------
# Holm-Bonferroni step-down over the same nation test family
# ---------------------------------------------------------------------------

_HOLM_ALPHA = 0.05


@register(
    "holm_stepdown_nation_tests",
    oracle=f"""
    WITH joined AS (
        SELECT n.n_name AS nation, o.o_totalprice AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    g AS (
        SELECT nation, COUNT(*)::DOUBLE AS n, SUM(y) AS s,
               SUM(y*y) AS ss
        FROM joined GROUP BY nation
    ),
    tot AS (
        SELECT SUM(n) AS nn, SUM(s) AS st, SUM(ss) AS sst FROM g
    ),
    zs AS (
        SELECT nation,
               (s/n - (st - s)/(nn - n))
               / SQRT(((ss - s*s/n) / (n - 1)) / n
                      + (((sst - ss) - (st - s)*(st - s)/(nn - n))
                         / (nn - n - 1)) / (nn - n)) AS z
        FROM g CROSS JOIN tot
    ),
    ps AS (
        SELECT nation, z, {_BH_P} AS p,
               ROW_NUMBER() OVER (ORDER BY {_BH_P}, nation) AS i,
               COUNT(*) OVER () AS m
        FROM zs
    ),
    stop AS (
        SELECT MIN(CASE WHEN p > {_HOLM_ALPHA} / (m - i + 1)
                        THEN i END) AS istop
        FROM ps
    )
    SELECT nation, CAST(z AS REAL) AS z, CAST(p AS REAL) AS p_value,
           CAST(i AS BIGINT) AS p_rank,
           CAST({_HOLM_ALPHA} / (m - i + 1) AS REAL) AS holm_crit,
           CAST(CASE WHEN i < COALESCE(stop.istop, m + 1)
                     THEN 1 ELSE 0 END AS INT) AS rejected
    FROM ps CROSS JOIN stop
    """,
    tags=("holm", "fwer", "step-down", "multiple-comparison",
          "statistics"),
)
def holm_stepdown_nation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm–Bonferroni step-down over the same 25 nation-vs-rest
    Welch tests `fdr_bh_nation_tests` runs — completing the
    multiple-testing family with the FWER-controlling member
    (BH bounds the FALSE DISCOVERY RATE and rejects more; Holm
    bounds ANY false rejection and is the uniformly-more-powerful
    replacement for plain Bonferroni).  Step-down rule: walk
    p-values ascending, reject while p_(i) ≤ α/(m−i+1), STOP at the
    first failure — everything after the stop survives even if its
    p is small, which is exactly what the step-up BH does not do
    (the mirror test pins rejected_holm ⊆ rejected_bh at matched
    levels on this family).

    Scale shape: identical to the BH query — ONE corpus pass to 25
    moment rows, complement moments by total−group algebra, rank and
    stop-scan on the bounded family (allowlisted 25-row window)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias(
                "ss"
            ),
        )
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
    )
    mean_g = F.col("s") / F.col("n")
    mean_r = (F.col("st") - F.col("s")) / (F.col("nn") - F.col("n"))
    var_g = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    var_r = (
        (F.col("sst") - F.col("ss"))
        - (F.col("st") - F.col("s"))
        * (F.col("st") - F.col("s"))
        / (F.col("nn") - F.col("n"))
    ) / (F.col("nn") - F.col("n") - 1)
    zs = g.crossJoin(F.broadcast(tot)).select(
        "nation",
        (
            (mean_g - mean_r)
            / F.sqrt(
                var_g / F.col("n") + var_r / (F.col("nn") - F.col("n"))
            )
        ).alias("z"),
    )
    ps = zs.select("nation", "z", F.expr(_BH_P).alias("p")).select(
        "nation",
        "z",
        "p",
        F.row_number().over(Window.orderBy("p", "nation")).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    stop = ps.agg(
        F.min(
            F.when(
                F.col("p") > _HOLM_ALPHA / (F.col("m") - F.col("i") + 1),
                F.col("i"),
            )
        ).alias("istop")
    )
    return ps.crossJoin(F.broadcast(stop)).select(
        "nation",
        F.col("z").cast("float").alias("z"),
        F.col("p").cast("float").alias("p_value"),
        F.col("i").alias("p_rank"),
        (F.lit(_HOLM_ALPHA) / (F.col("m") - F.col("i") + 1))
        .cast("float")
        .alias("holm_crit"),
        F.when(
            F.col("i")
            < F.coalesce(F.col("istop"), F.col("m") + 1),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Delete-one-group jackknife for a ratio estimator
# ---------------------------------------------------------------------------


@register(
    "jackknife_ratio_variance",
    oracle="""
    WITH joined AS (
        SELECT n.n_name AS nation, o.o_totalprice AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    g AS (
        SELECT nation, COUNT(*)::DOUBLE AS n, SUM(y) AS s
        FROM joined GROUP BY nation
    ),
    tot AS (SELECT SUM(n) AS nn, SUM(s) AS st,
                   COUNT(*)::DOUBLE AS k FROM g),
    loo AS (
        SELECT nation, (st - s) / (nn - n) AS theta_i
        FROM g CROSS JOIN tot
    ),
    jk AS (
        SELECT MAX(tot.st / tot.nn) AS theta_full,
               MAX(tot.k) AS k,
               AVG(theta_i) AS theta_bar,
               SUM(theta_i * theta_i) AS sqs,
               SUM(theta_i) AS ssum
        FROM loo CROSS JOIN tot
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(ROUND(theta_full, 4) AS REAL) AS theta,
           CAST(ROUND((k - 1) * (theta_full
                                 - (1.0 / k) * ssum)
                      + theta_full, 4) AS REAL)
               AS theta_jack_bc,
           CAST(ROUND(SQRT((k - 1) / k
                           * (sqs - ssum * ssum / k)), 4) AS REAL)
               AS se_jack
    FROM jk
    """,
    tags=("jackknife", "resampling", "variance-estimate", "ratio",
          "deterministic"),
)
def jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife for the revenue-per-order ratio —
    the deterministic member of the resampling family
    (`bootstrap_ci_poisson` draws random replicates; the grouped
    jackknife needs none, so its oracle is EXACT, not seeded): leave
    each nation out, recompute θ₍ᵢ₎ = (S−sᵢ)/(N−nᵢ) from the group
    relation alone, and report the bias-corrected estimate
    kθ − (k−1)·θ̄₍·₎ and SE_jack = √((k−1)/k · Σ(θ₍ᵢ₎−θ̄)²) — the
    variance a cluster-sampled estimate actually has when nations
    are the sampling clusters (the survey-statistics companion to
    `raking_ipf_weights`).

    Scale shape: ONE corpus pass to 25 (n, Σy) rows; every
    leave-one-out replicate is total−group algebra on that bounded
    relation — the corpus is never rescanned per replicate."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("o_totalprice").alias("s"),
        )
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        "nation",
        ((F.col("st") - F.col("s")) / (F.col("nn") - F.col("n"))).alias(
            "theta_i"
        ),
        F.col("st"),
        F.col("nn"),
        F.col("k"),
    )
    jk = loo.agg(
        F.max(F.col("st") / F.col("nn")).alias("theta_full"),
        F.max("k").alias("k"),
        F.sum(F.col("theta_i") * F.col("theta_i")).alias("sqs"),
        F.sum("theta_i").alias("ssum"),
    )
    return jk.select(
        F.col("k").cast("long").alias("n_groups"),
        F.round("theta_full", 4).cast("float").alias("theta"),
        F.round(
            (F.col("k") - 1)
            * (F.col("theta_full") - F.col("ssum") / F.col("k"))
            + F.col("theta_full"),
            4,
        ).cast("float").alias("theta_jack_bc"),
        F.round(
            F.sqrt(
                (F.col("k") - 1)
                / F.col("k")
                * (
                    F.col("sqs")
                    - F.col("ssum") * F.col("ssum") / F.col("k")
                )
            ),
            4,
        ).cast("float").alias("se_jack"),
    )


# ---------------------------------------------------------------------------
# Yuen's trimmed-mean t-test (robust two-sample comparison)
# ---------------------------------------------------------------------------

_YUEN_TRIM = 0.2  # standard 20% symmetric trimming (Yuen 1974)


@register(
    "yuen_trimmed_ttest",
    oracle=f"""
    WITH joined AS (
        SELECT c.c_mktsegment AS grp, o.o_totalprice AS y,
               o.o_orderkey AS k
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    ranked AS (
        SELECT grp, y,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY y, k) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n
        FROM joined
    ),
    marked AS (
        SELECT grp, y, rn, n,
               CAST(FLOOR({_YUEN_TRIM} * n) AS BIGINT) AS g
        FROM ranked
    ),
    bounds AS (
        SELECT grp, MAX(n) AS n, MAX(g) AS g,
               MAX(CASE WHEN rn = g + 1 THEN y END) AS lo,
               MAX(CASE WHEN rn = n - g THEN y END) AS hi,
               AVG(CASE WHEN rn > g AND rn <= n - g THEN y END) AS tmean
        FROM marked GROUP BY grp
    ),
    wstats AS (
        SELECT m.grp, MAX(b.n) AS n, MAX(b.g) AS g, MAX(b.tmean) AS tmean,
               SUM(LEAST(GREATEST(m.y, b.lo), b.hi)) AS sw,
               SUM(LEAST(GREATEST(m.y, b.lo), b.hi)
                   * LEAST(GREATEST(m.y, b.lo), b.hi)) AS sww
        FROM marked m JOIN bounds b ON b.grp = m.grp
        GROUP BY m.grp
    ),
    d AS (
        SELECT grp, n, g, tmean, n - 2 * g AS h,
               (sww - sw * sw / n) / (n - 1)
                 * (n - 1) / ((n - 2.0 * g) * (n - 2.0 * g - 1)) AS dj
        FROM wstats
    ),
    wide AS (
        SELECT MAX(CASE WHEN grp = 'BUILDING' THEN n END) AS n1,
               MAX(CASE WHEN grp = 'MACHINERY' THEN n END) AS n2,
               MAX(CASE WHEN grp = 'BUILDING' THEN h END) AS h1,
               MAX(CASE WHEN grp = 'MACHINERY' THEN h END) AS h2,
               MAX(CASE WHEN grp = 'BUILDING' THEN tmean END) AS t1,
               MAX(CASE WHEN grp = 'MACHINERY' THEN tmean END) AS t2,
               MAX(CASE WHEN grp = 'BUILDING' THEN dj END) AS d1,
               MAX(CASE WHEN grp = 'MACHINERY' THEN dj END) AS d2
        FROM d
    )
    SELECT CAST(n1 AS BIGINT) AS n_building,
           CAST(n2 AS BIGINT) AS n_machinery,
           CAST(h1 AS BIGINT) AS h_building,
           CAST(h2 AS BIGINT) AS h_machinery,
           CAST(ROUND(t1, 4) AS REAL) AS trimmed_mean_building,
           CAST(ROUND(t2, 4) AS REAL) AS trimmed_mean_machinery,
           CAST(ROUND((t1 - t2) / SQRT(d1 + d2), 6) AS REAL) AS yuen_t,
           CAST(ROUND((d1 + d2) * (d1 + d2)
                      / (d1 * d1 / (h1 - 1) + d2 * d2 / (h2 - 1)),
                      4) AS REAL) AS df
    FROM wide
    """,
    tags=("yuen", "trimmed-mean", "robust-statistics", "welch",
          "two-sample"),
)
def yuen_trimmed_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's trimmed-mean t-test between two customer segments —
    the ROBUST member of the two-sample family: `ab_test_welch`
    compares raw means (heavy tails inflate the variance and eat
    power), `mann_whitney_u` abandons the mean entirely; Yuen
    compares 20%-TRIMMED means with winsorized variances, keeping a
    location test that ignores the tails — the standard choice for
    revenue-like skewed outcomes.  dⱼ = (nⱼ−1)s²wⱼ/(hⱼ(hⱼ−1)) with
    h = n−2g effective sizes; Welch–Satterthwaite df.

    Engine determinism: trim boundaries are exact order statistics
    at integer ranks (rn over (y, orderkey) — total order, no float
    quantile interpolation), winsorized clamps use the boundary
    VALUES, and all moments are money-sum algebra.

    Scale shape: the ranking window is PARTITIONED by segment (hash
    exchange, no global funnel); boundaries and moments are one
    grouped pass each over the ranked relation plus a 2-row
    broadcast join.  At 100 TB the per-group order statistics would
    come from the distributed-prefix machinery instead of one task
    per segment — the `weighted_median_unit_price` degrade path."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_mktsegment").alias("grp"),
            F.col("o_totalprice").alias("y"),
            F.col("o_orderkey").alias("k"),
        )
    )
    wr = Window.partitionBy("grp").orderBy("y", "k")
    wp = Window.partitionBy("grp")
    marked = joined.select(
        "grp",
        "y",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).withColumn(
        "g", F.floor(F.lit(_YUEN_TRIM) * F.col("n")).cast("long")
    )
    bounds = marked.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max("g").alias("g"),
        F.max(F.when(F.col("rn") == F.col("g") + 1, F.col("y"))).alias(
            "lo"
        ),
        F.max(
            F.when(F.col("rn") == F.col("n") - F.col("g"), F.col("y"))
        ).alias("hi"),
        F.avg(
            F.when(
                (F.col("rn") > F.col("g"))
                & (F.col("rn") <= F.col("n") - F.col("g")),
                F.col("y"),
            )
        ).alias("tmean"),
    )
    wy = F.least(F.greatest(F.col("y"), F.col("lo")), F.col("hi"))
    wstats = (
        marked.join(F.broadcast(bounds.select("grp", "lo", "hi")), "grp")
        .groupBy("grp")
        .agg(
            F.sum(wy).alias("sw"),
            F.sum(wy * wy).alias("sww"),
        )
        .join(F.broadcast(bounds.select("grp", "n", "g", "tmean")), "grp")
    )
    dj = (
        (F.col("sww") - F.col("sw") * F.col("sw") / F.col("n"))
        / (F.col("n") - 1)
        * (F.col("n") - 1)
        / (
            (F.col("n") - 2.0 * F.col("g"))
            * (F.col("n") - 2.0 * F.col("g") - 1)
        )
    )
    d = wstats.select(
        "grp",
        "n",
        "tmean",
        (F.col("n") - 2 * F.col("g")).alias("h"),
        dj.alias("dj"),
    )
    wide = d.agg(
        F.max(F.when(F.col("grp") == "BUILDING", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "MACHINERY", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "BUILDING", F.col("h"))).alias("h1"),
        F.max(F.when(F.col("grp") == "MACHINERY", F.col("h"))).alias("h2"),
        F.max(F.when(F.col("grp") == "BUILDING", F.col("tmean"))).alias(
            "t1"
        ),
        F.max(F.when(F.col("grp") == "MACHINERY", F.col("tmean"))).alias(
            "t2"
        ),
        F.max(F.when(F.col("grp") == "BUILDING", F.col("dj"))).alias("d1"),
        F.max(F.when(F.col("grp") == "MACHINERY", F.col("dj"))).alias(
            "d2"
        ),
    )
    return wide.select(
        F.col("n1").cast("long").alias("n_building"),
        F.col("n2").cast("long").alias("n_machinery"),
        F.col("h1").cast("long").alias("h_building"),
        F.col("h2").cast("long").alias("h_machinery"),
        F.round("t1", 4).cast("float").alias("trimmed_mean_building"),
        F.round("t2", 4).cast("float").alias("trimmed_mean_machinery"),
        F.round(
            (F.col("t1") - F.col("t2")) / F.sqrt(F.col("d1") + F.col("d2")),
            6,
        ).cast("float").alias("yuen_t"),
        F.round(
            (F.col("d1") + F.col("d2"))
            * (F.col("d1") + F.col("d2"))
            / (
                F.col("d1") * F.col("d1") / (F.col("h1") - 1)
                + F.col("d2") * F.col("d2") / (F.col("h2") - 1)
            ),
            4,
        ).cast("float").alias("df"),
    )


# ---------------------------------------------------------------------------
# Empirical upper-tail dependence between quantity and revenue
# ---------------------------------------------------------------------------

_TAIL_QS = (90, 95, 99)  # integer percents: tail size is exact integer math


@register(
    "tail_dependence_lambda",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey AS k,
               SUM(o_totalprice) AS x,
               COUNT(*)::BIGINT AS y
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT ROW_NUMBER() OVER (ORDER BY x DESC, k) AS rx,
               ROW_NUMBER() OVER (ORDER BY y DESC, k) AS ry,
               COUNT(*) OVER () AS n
        FROM base
    ),
    qs AS (SELECT UNNEST([{", ".join(str(q) for q in _TAIL_QS)}]) AS p),
    lam AS (
        SELECT q.p,
               MAX(((100 - q.p) * r.n + 99) // 100)::BIGINT AS m,
               SUM(CASE WHEN r.rx <= ((100 - q.p) * r.n + 99) // 100
                         AND r.ry <= ((100 - q.p) * r.n + 99) // 100
                        THEN 1 ELSE 0 END)::BIGINT AS joint
        FROM ranked r CROSS JOIN qs q
        GROUP BY q.p
    )
    SELECT CAST(p AS DOUBLE) / 100.0 AS quantile, m AS tail_size,
           joint AS joint_exceed,
           CAST(joint AS DOUBLE) / m AS lambda_u
    FROM lam
    """,
    tags=("tail-dependence", "copula", "extreme-values", "dependence",
          "statistics"),
)
def tail_dependence_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence λ_U between customer total
    spend and customer order count at three tail levels — the EXTREME-co-movement
    measure the correlation family can't see: Pearson/Spearman/
    Kendall (`corr_matrix_lineitem`, `spearman_corr_qty_price`,
    `kendall_tau_concordance`) average over the whole distribution;
    λ_U(q) = P(Y in its top (1−q) tail | X in its top (1−q) tail)
    asks whether the BIGGEST spenders are also the most FREQUENT
    buyers — the question risk and whale-triage actually need.
    Tail membership is rank-based (top ⌈(1−q)·n⌉ rows under a
    total order keyed by the unique customer id), so no float
    quantile interpolation exists to drift cross-engine; the unit
    is the customer because it carries a UNIQUE join key (the
    synthetic lineitem has duplicate (orderkey, linenumber) pairs —
    measured, not assumed).

    Scale shape: both global ranks come from the distributed-prefix
    machinery (`operators/prefix.ranked_cumsum` — range partition +
    broadcast offsets, never a single-partition window), joined back
    on the unique line key; λ is one fold per tail level over the
    broadcast 3-row quantile spine."""
    from axolotls_spark.operators.prefix import ranked_cumsum

    o = load_table(spark, sf_dir, "orders")
    # base feeds BOTH rank passes; ranked feeds the count and the
    # lambda fold — persist both so the per-customer
    # aggregate and the rank join each run once, not per consumer.
    # (r8: eager counts were tried and REVERTED — jobs 27->30, tasks
    # 585->619 with no rebuild eliminated; AQE's TableCacheQueryStage
    # already serializes these cache builds, so the counts were pure
    # overhead here.)
    base = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.sum("o_totalprice").alias("x"),
            F.count(F.lit(1)).cast("long").alias("y"),
        )
        .withColumn("one", F.lit(1.0))
        .persist()
    )
    rx = ranked_cumsum(
        base, [F.desc("x"), F.asc("k")], "one", rank_name="rx",
        cum_name="__c1",
    ).select("k", "rx")
    ry = ranked_cumsum(
        base, [F.desc("y"), F.asc("k")], "one", rank_name="ry",
        cum_name="__c2",
    ).select("k", "ry")
    ranked = rx.join(ry, "k").persist()
    n = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    qs = spark.createDataFrame([(q,) for q in _TAIL_QS], ["p"])
    # ceil((100-p)/100 * n) in pure INTEGER arithmetic: a float
    # (1-q)*n sits exactly on an integer at round percents, and
    # double-vs-decimal ceil then disagrees across engines by 1.
    m = F.floor(
        ((100 - F.col("p")) * F.col("n") + 99) / 100
    ).cast("long")
    lam = (
        ranked.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(qs))
        .groupBy("p")
        .agg(
            F.max(m).alias("m"),
            F.sum(
                F.when((F.col("rx") <= m) & (F.col("ry") <= m), 1)
                .otherwise(0)
            ).cast("long").alias("joint"),
        )
    )
    return lam.select(
        (F.col("p").cast("double") / 100.0).alias("quantile"),
        F.col("m").alias("tail_size"),
        F.col("joint").alias("joint_exceed"),
        (F.col("joint").cast("double") / F.col("m")).alias("lambda_u"),
    )


# ---------------------------------------------------------------------------
# Extreme-value theory: Hill estimator of the spend tail index
# ---------------------------------------------------------------------------

_HILL_KS = (50, 100)


@register(
    "evt_hill_tail_index",
    oracle=f"""
    WITH spend AS (
        SELECT SUM(o_totalprice) AS x FROM orders GROUP BY o_custkey
    ),
    topk AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC) AS rn
        FROM spend ORDER BY x DESC LIMIT {max(_HILL_KS) + 1}
    ),
    ks AS (SELECT UNNEST([{", ".join(str(k) for k in _HILL_KS)}]) AS k),
    hill AS (
        SELECT ks.k,
               MAX(CASE WHEN t.rn = ks.k + 1 THEN t.x END) AS xmin,
               AVG(CASE WHEN t.rn <= ks.k THEN LN(t.x) END) AS mlog
        FROM topk t CROSS JOIN ks
        GROUP BY ks.k
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(ROUND(xmin, 2) AS REAL) AS x_kplus1,
           CAST(ROUND(1.0 / (mlog - LN(xmin)), 6) AS REAL) AS hill_alpha,
           CAST(ROUND(POWER(2.0, -1.0 / (mlog - LN(xmin))), 6) AS REAL)
               AS p_double_given_exceed
    FROM hill
    """,
    tags=("extreme-value", "hill-estimator", "tail-index", "pareto",
          "statistics"),
)
def evt_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index of customer spend —
    the extreme-value-theory companion to `tail_dependence_lambda`
    (that measures tail CO-movement; this measures tail HEAVINESS):
    α̂ = 1 / (mean(ln x₍ᵢ₎) − ln x₍ₖ₊₁₎) over the top-k order
    statistics, reported at k = 50 and 100 so the stability of the
    estimate across k (the Hill-plot question) is visible in the
    result itself.  The Pareto consequence rides along: given a
    spend exceeds the threshold, P(it exceeds DOUBLE) = 2^(−α̂) —
    the number a whale-risk model actually consumes.
    `pareto_brand_revenue` is the 80/20 concentration readout; this
    estimates the exponent generating it.

    Scale shape: one per-customer aggregate; the top-(k+1) relation
    comes from orderBy().limit() — TakeOrderedAndProject, each
    partition forwards k+1 rows, never a global rank window — and
    everything after runs on ≤101 bounded rows."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("x")
    )
    kmax = max(_HILL_KS)
    topk = spend.select("x").orderBy(F.col("x").desc()).limit(kmax + 1)
    w = Window.orderBy(F.col("x").desc())
    topk = topk.withColumn("rn", F.row_number().over(w))
    ks = spark.createDataFrame([(k,) for k in _HILL_KS], ["k"])
    hill = (
        topk.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("k") + 1, F.col("x"))
            ).alias("xmin"),
            F.avg(
                F.when(F.col("rn") <= F.col("k"), F.log(F.col("x")))
            ).alias("mlog"),
        )
    )
    alpha = 1.0 / (F.col("mlog") - F.log(F.col("xmin")))
    return hill.select(
        F.col("k").cast("long").alias("k"),
        F.round("xmin", 2).cast("float").alias("x_kplus1"),
        F.round(alpha, 6).cast("float").alias("hill_alpha"),
        F.round(F.pow(F.lit(2.0), -alpha), 6)
        .cast("float")
        .alias("p_double_given_exceed"),
    )


# ---------------------------------------------------------------------------
# Neyman allocation: optimal stratified-sampling design
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


@register(
    "neyman_allocation",
    oracle=f"""
    WITH joined AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
        SELECT seg, COUNT(*)::DOUBLE AS n, SUM(y) AS s, SUM(y*y) AS ss
        FROM joined GROUP BY seg
    ),
    sd AS (
        SELECT seg, n, SQRT((ss - s*s/n) / (n - 1)) AS sigma FROM g
    ),
    tot AS (
        SELECT SUM(n) AS nn, SUM(n * sigma) AS snsig,
               SUM(n * sigma * sigma) AS snsig2
        FROM sd
    )
    SELECT seg,
           CAST(n AS BIGINT) AS stratum_size,
           CAST(ROUND(sigma, 4) AS REAL) AS stratum_sd,
           CAST(ROUND({_NEYMAN_BUDGET} * n * sigma / tot.snsig, 2)
                AS REAL) AS n_neyman,
           CAST(ROUND({_NEYMAN_BUDGET} * n / tot.nn, 2) AS REAL)
               AS n_proportional,
           CAST(ROUND((tot.snsig * tot.snsig / tot.nn / tot.nn)
                      / (tot.snsig2 / tot.nn), 6) AS REAL)
               AS neyman_vs_prop_var_ratio
    FROM sd CROSS JOIN tot
    """,
    tags=("neyman-allocation", "stratified-sampling", "survey-design",
          "variance-reduction", "design-table"),
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sampling allocation across market
    segments for a fixed interview budget — the DESIGN that should
    precede `sample_stratified_by_lang`'s execution and
    `stratified_ate_balance`'s analysis: for estimating mean order
    value with n=1000 samples, draw n_h ∝ N_h·σ_h from
    each stratum (big AND volatile strata earn more samples).
    Proportional allocation rides along, plus the variance ratio
    Var_neyman/Var_prop = (ΣW_hσ_h)²/(ΣW_hσ_h²) — how much precision
    the optimal design buys; 1.0 means the strata have equal σ and
    proportional was already optimal.  The design-table sibling of
    `lsh_band_design` and `power_analysis_mde`.

    Scale shape: ONE corpus pass to 5 per-stratum moment rows;
    every emitted number is algebra on that bounded relation."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias(
                "ss"
            ),
        )
    )
    sd = g.select(
        "seg",
        "n",
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sigma"),
    )
    tot = sd.agg(
        F.sum("n").alias("nn"),
        F.sum(F.col("n") * F.col("sigma")).alias("snsig"),
        F.sum(F.col("n") * F.col("sigma") * F.col("sigma")).alias(
            "snsig2"
        ),
    )
    return sd.crossJoin(F.broadcast(tot)).select(
        "seg",
        F.col("n").cast("long").alias("stratum_size"),
        F.round("sigma", 4).cast("float").alias("stratum_sd"),
        F.round(
            _NEYMAN_BUDGET * F.col("n") * F.col("sigma") / F.col("snsig"),
            2,
        ).cast("float").alias("n_neyman"),
        F.round(_NEYMAN_BUDGET * F.col("n") / F.col("nn"), 2)
        .cast("float")
        .alias("n_proportional"),
        F.round(
            (F.col("snsig") * F.col("snsig") / F.col("nn") / F.col("nn"))
            / (F.col("snsig2") / F.col("nn")),
            6,
        ).cast("float").alias("neyman_vs_prop_var_ratio"),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test on log-spend
# ---------------------------------------------------------------------------

_JB_CRIT_95 = 5.991464547107979  # chi-square(2) 95th percentile


@register(
    "jarque_bera_normality",
    oracle=f"""
    WITH spend AS (
        SELECT LN(SUM(o_totalprice)) AS y FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT COUNT(*)::DOUBLE AS n, AVG(y) AS mu,
               SUM(y) AS s1, SUM(y*y) AS s2,
               SUM(y*y*y) AS s3, SUM(y*y*y*y) AS s4
        FROM spend
    ),
    c AS (
        SELECT n,
               s2/n - mu*mu AS m2,
               s3/n - 3*mu*s2/n + 2*mu*mu*mu AS m3,
               s4/n - 4*mu*s3/n + 6*mu*mu*s2/n - 3*mu*mu*mu*mu AS m4
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(ROUND(m3 / POWER(m2, 1.5), 6) AS REAL) AS skewness,
           CAST(ROUND(m4 / (m2 * m2) - 3.0, 6) AS REAL) AS excess_kurtosis,
           CAST(ROUND(n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                                 + POWER(m4 / (m2*m2) - 3.0, 2) / 4.0),
                      4) AS REAL) AS jb_stat,
           CASE WHEN n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                                + POWER(m4 / (m2*m2) - 3.0, 2) / 4.0)
                     > {_JB_CRIT_95}
                THEN 1 ELSE 0 END AS reject_normal_95
    FROM c
    """,
    tags=("jarque-bera", "normality-test", "skewness", "kurtosis",
          "statistics"),
)
def jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test of log customer spend — the
    missing DISTRIBUTIONAL-shape test (Benford checks digit law, KS
    compares two samples; nothing yet asks "is this column normal
    enough for the Gaussian machinery downstream?").  JB =
    n/6·(S² + K²/4) from the third and fourth central moments,
    computed in ONE pass via raw power sums; rejecting at the
    χ²(2) 95% critical value says the lognormal-spend assumption
    baked into `ab_test_welch`-style mean tests deserves the robust
    alternatives (`yuen_trimmed_ttest`, `mann_whitney_u`).

    Scale shape: one per-customer aggregate, one 6-cell moment
    fold, scalar algebra — map-side combinable throughout."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.log(F.sum("o_totalprice")).alias("y")
    )
    m = spend.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("mu"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
        F.sum(F.col("y") * F.col("y") * F.col("y")).alias("s3"),
        F.sum(F.col("y") * F.col("y") * F.col("y") * F.col("y")).alias(
            "s4"
        ),
    )
    m2 = F.col("s2") / F.col("n") - F.col("mu") * F.col("mu")
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * F.col("mu") * F.col("s2") / F.col("n")
        + 2 * F.col("mu") * F.col("mu") * F.col("mu")
    )
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * F.col("mu") * F.col("s3") / F.col("n")
        + 6 * F.col("mu") * F.col("mu") * F.col("s2") / F.col("n")
        - 3 * F.col("mu") * F.col("mu") * F.col("mu") * F.col("mu")
    )
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / (m2 * m2) - 3.0
    jb = F.col("n") / 6.0 * (skew * skew + kurt * kurt / 4.0)
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(skew, 6).cast("float").alias("skewness"),
        F.round(kurt, 6).cast("float").alias("excess_kurtosis"),
        F.round(jb, 4).cast("float").alias("jb_stat"),
        F.when(jb > _JB_CRIT_95, 1).otherwise(0).alias(
            "reject_normal_95"
        ),
    )


# ---------------------------------------------------------------------------
# Sen's slope: robust trend magnitude over monthly revenue
# ---------------------------------------------------------------------------


@register(
    "sen_slope_trend",
    oracle="""
    WITH monthly AS (
        SELECT DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS m,
               SUM(o_totalprice) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY m) AS t FROM monthly
    ),
    slopes AS (
        SELECT (b.y - a.y) / (b.t - a.t) AS sl
        FROM idx a JOIN idx b ON b.t > a.t
    ),
    ranked AS (
        SELECT sl, ROW_NUMBER() OVER (ORDER BY sl) AS r,
               COUNT(*) OVER () AS np
        FROM slopes
    )
    SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
           CAST(ROUND(AVG(CASE WHEN r IN ((np + 1) // 2, (np + 2) // 2)
                           THEN sl END), 4) AS REAL) AS sen_slope
    FROM ranked
    """,
    tags=("sen-slope", "theil-sen", "robust-trend", "timeseries",
          "pairwise-median"),
)
def sen_slope_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's (Theil–Sen) slope of monthly revenue — the robust trend
    MAGNITUDE that completes `trend_mann_kendall`'s direction test:
    the median of all pairwise slopes (y_j−y_i)/(j−i), immune to the
    outlier months that pull an OLS line (`forecast_linear_28d`)
    around.  Exact median via the two middle order statistics of the
    pair relation ((n+1)//2 and (n+2)//2 in integer arithmetic — one
    expression handles both parities).

    Scale shape: the corpus collapses to the calendar-bounded
    monthly relation (84 rows); the pairwise-slope join and its
    ranking run on that bounded ≤months² relation (allowlisted
    bounded window, same class as the month-spine queries)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.trunc("o_orderdate", "month").alias("m")
    ).agg(F.sum("o_totalprice").alias("y"))
    w = Window.orderBy("m")
    idx = monthly.select("y", F.row_number().over(w).alias("t"))
    a = idx.alias("a")
    b = idx.alias("b")
    slopes = a.join(b, F.col("b.t") > F.col("a.t")).select(
        (
            (F.col("b.y") - F.col("a.y"))
            / (F.col("b.t") - F.col("a.t"))
        ).alias("sl")
    )
    wr = Window.orderBy("sl")
    ranked = slopes.select(
        "sl",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"),
    )
    mid = F.when(
        (F.col("r") == F.floor((F.col("np") + 1) / 2))
        | (F.col("r") == F.floor((F.col("np") + 2) / 2)),
        F.col("sl"),
    )
    return ranked.agg(
        F.max("np").cast("long").alias("n_pairs"),
        F.round(F.avg(mid), 4).cast("float").alias("sen_slope"),
    )


# ---------------------------------------------------------------------------
# QQ plot correlation (PPCC) against normal quantiles — Acklam probit
# ---------------------------------------------------------------------------

# Acklam's rational approximation to the inverse normal CDF
# (P. J. Acklam, 2003; relative error < 1.15e-9 everywhere).  The
# SAME generated expression text runs in Spark (F.expr) and DuckDB,
# so both engines evaluate the identical tree.
_ACKLAM_A = (-3.969683028665376e+01, 2.209460984245205e+02,
             -2.759285104469687e+02, 1.383577518672690e+02,
             -3.066479806614716e+01, 2.506628277459239e+00)
_ACKLAM_B = (-5.447609879822406e+01, 1.615858368580409e+02,
             -1.556989798598866e+02, 6.680131188771972e+01,
             -1.328068155288572e+01)
_ACKLAM_C = (-7.784894002430293e-03, -3.223964580411365e-01,
             -2.400758277161838e+00, -2.549732539343734e+00,
             4.374664141464968e+00, 2.938163982698783e+00)
_ACKLAM_D = (7.784695709041462e-03, 3.224671290700398e-01,
             2.445134137142996e+00, 3.754408661907416e+00)
_ACKLAM_PLOW = 0.02425


def _horner(coeffs, var: str) -> str:
    expr = repr(coeffs[0])
    for c in coeffs[1:]:
        expr = f"({expr} * {var} + {repr(c)})"
    return expr


def probit_hv_sql(p: str) -> str:
    """Helper variable for the three Acklam regions."""
    return (
        f"CASE WHEN {p} < {_ACKLAM_PLOW} THEN SQRT(-2.0 * LN({p})) "
        f"WHEN {p} > {1.0 - _ACKLAM_PLOW} "
        f"THEN SQRT(-2.0 * LN(1.0 - ({p}))) "
        f"ELSE ({p}) - 0.5 END"
    )


def probit_sql(p: str, hv: str) -> str:
    """Inverse normal CDF of column ``p`` given helper ``hv``."""
    central = (
        f"({_horner(_ACKLAM_A, f'({hv} * {hv})')} * {hv}"
        f" / ({_horner(_ACKLAM_B, f'({hv} * {hv})')} * ({hv} * {hv})"
        f" + 1.0))"
    )
    tail = (
        f"({_horner(_ACKLAM_C, hv)}"
        f" / ({_horner(_ACKLAM_D, hv)} * {hv} + 1.0))"
    )
    return (
        f"CASE WHEN {p} < {_ACKLAM_PLOW} THEN {tail} "
        f"WHEN {p} > {1.0 - _ACKLAM_PLOW} THEN -{tail} "
        f"ELSE {central} END"
    )


@register(
    "qq_normality_ppcc",
    oracle=f"""
    WITH spend AS (
        SELECT LN(SUM(o_totalprice)) AS y, o_custkey AS k
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y, k) AS i,
               COUNT(*) OVER () AS n
        FROM spend
    ),
    pp AS (
        SELECT y, (i - 0.375) / (n + 0.25) AS p FROM ranked
    ),
    hv AS (SELECT y, p, {probit_hv_sql('p')} AS h FROM pp),
    qq AS (SELECT y, {probit_sql('p', 'h')} AS q FROM hv),
    m AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(y) AS sy, SUM(q) AS sq,
               SUM(y*q) AS syq, SUM(y*y) AS syy, SUM(q*q) AS sqq
        FROM qq
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(ROUND((syq - sy*sq/n)
                / SQRT((syy - sy*sy/n) * (sqq - sq*sq/n)), 6) AS REAL)
               AS ppcc_r,
           CAST(ROUND(POWER((syq - sy*sq/n)
                / SQRT((syy - sy*sy/n) * (sqq - sq*sq/n)), 2), 6)
               AS REAL) AS ppcc_r2
    FROM m
    """,
    tags=("qq-plot", "ppcc", "normality", "probit", "acklam",
          "statistics"),
)
def qq_normality_ppcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-plot correlation coefficient (PPCC) of log
    customer spend against normal quantiles — the QQ-plot reduced to
    one number: rank each value, map its Blom plotting position
    (i−0.375)/(n+0.25) through the inverse normal CDF (Acklam's
    rational approximation, the portable probit both engines
    evaluate from the IDENTICAL generated expression), and correlate
    order statistics with theoretical quantiles.  r near 1 = the
    QQ plot is a straight line.  The moment-based cousin is
    `jarque_bera_normality`; PPCC sees tail curvature JB's four
    moments smear together, and the probit macro it introduces is
    reusable infrastructure (BCa intervals, probit regression).

    Scale shape: the global rank comes from the distributed-prefix
    machinery (never a single-partition window); the probit is
    row-local arithmetic; the correlation is ONE 6-cell moment
    fold."""
    from axolotls_spark.operators.prefix import ranked_cumsum

    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.groupBy("o_custkey")
        .agg(F.log(F.sum("o_totalprice")).alias("y"))
        .select(F.col("o_custkey").alias("k"), "y")
        .withColumn("one", F.lit(1.0))
    )
    ranked = ranked_cumsum(
        spend, [F.asc("y"), F.asc("k")], "one", rank_name="i",
        cum_name="__c",
    )
    n = ranked.agg(F.count(F.lit(1)).cast("double").alias("n"))
    pp = ranked.crossJoin(F.broadcast(n)).select(
        "y", ((F.col("i") - 0.375) / (F.col("n") + 0.25)).alias("p")
    )
    qq = pp.withColumn("h", F.expr(probit_hv_sql("p"))).select(
        "y", F.expr(probit_sql("p", "h")).alias("q")
    )
    m = qq.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("sy"),
        F.sum("q").alias("sq"),
        F.sum(F.col("y") * F.col("q")).alias("syq"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    r = (
        F.col("syq") - F.col("sy") * F.col("sq") / F.col("n")
    ) / F.sqrt(
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        * (F.col("sqq") - F.col("sq") * F.col("sq") / F.col("n"))
    )
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(r, 6).cast("float").alias("ppcc_r"),
        F.round(r * r, 6).cast("float").alias("ppcc_r2"),
    )


# ---------------------------------------------------------------------------
# Distribution-free median confidence interval from order statistics
# ---------------------------------------------------------------------------

_MCI_Z = 1.959963984540054


@register(
    "median_ci_orderstat",
    oracle=f"""
    WITH base AS (
        SELECT o_totalprice AS y, o_orderkey AS k FROM orders
    ),
    ranked AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y, k) AS r,
               COUNT(*) OVER () AS n
        FROM base
    ),
    b AS (
        SELECT MAX(n) AS n,
               CAST(FLOOR((MAX(n) - {_MCI_Z} * SQRT(MAX(n))) / 2.0)
                    AS BIGINT) AS l
        FROM ranked
    )
    SELECT b.n AS n_orders,
           CAST(ROUND(AVG(CASE WHEN r.r IN ((b.n + 1) // 2,
                                            (b.n + 2) // 2)
                           THEN r.y END), 4) AS REAL) AS median,
           CAST(ROUND(MAX(CASE WHEN r.r = b.l THEN r.y END), 4)
                AS REAL) AS ci_lo,
           CAST(ROUND(MAX(CASE WHEN r.r = b.n - b.l + 1 THEN r.y END), 4)
                AS REAL) AS ci_hi,
           b.l AS lo_rank
    FROM ranked r CROSS JOIN b
    GROUP BY b.n, b.l
    """,
    tags=("median-ci", "order-statistics", "distribution-free",
          "nonparametric", "statistics"),
)
def median_ci_orderstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median order
    value from ORDER STATISTICS — no bootstrap, no normality: since
    #(values below the true median) ~ Binomial(n, ½), the interval
    [y₍ₗ₎, y₍ₙ₋ₗ₊₁₎] with l = ⌊(n − z√n)/2⌋ covers the median at
    ≥95% for ANY continuous distribution — the guarantee
    `bootstrap_ci_poisson` only approximates and a t-interval
    simply does not have for skewed revenue.  The exact median
    (two-middle-ranks form) rides along.

    Scale shape: the global rank comes from the distributed-prefix
    machinery (range partition + broadcast offsets); the three
    selections are integer-rank lookups folded in ONE aggregate —
    no sort of the full relation ever lands on one task."""
    from axolotls_spark.operators.prefix import ranked_cumsum

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_totalprice").alias("y"),
        F.col("o_orderkey").alias("k"),
    ).withColumn("one", F.lit(1.0))
    ranked = ranked_cumsum(
        base, [F.asc("y"), F.asc("k")], "one", rank_name="r",
        cum_name="__c",
    ).select("y", "r")
    nrel = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    b = nrel.select(
        "n",
        F.floor(
            (F.col("n") - _MCI_Z * F.sqrt(F.col("n"))) / 2.0
        ).cast("long").alias("l"),
    )
    j = ranked.crossJoin(F.broadcast(b))
    return j.groupBy("n", "l").agg(
        F.round(
            F.avg(
                F.when(
                    (F.col("r") == F.floor((F.col("n") + 1) / 2))
                    | (F.col("r") == F.floor((F.col("n") + 2) / 2)),
                    F.col("y"),
                )
            ),
            4,
        ).cast("float").alias("median"),
        F.round(
            F.max(F.when(F.col("r") == F.col("l"), F.col("y"))), 4
        ).cast("float").alias("ci_lo"),
        F.round(
            F.max(
                F.when(
                    F.col("r") == F.col("n") - F.col("l") + 1, F.col("y")
                )
            ),
            4,
        ).cast("float").alias("ci_hi"),
    ).select(
        F.col("n").alias("n_orders"),
        "median",
        "ci_lo",
        "ci_hi",
        F.col("l").alias("lo_rank"),
    )


# ---------------------------------------------------------------------------
# BCa bootstrap interval: bias-corrected and accelerated
# ---------------------------------------------------------------------------


def phi_sql(z: str) -> str:
    """Standard normal CDF via the Abramowitz–Stegun 26.2.17
    polynomial (|err| < 7.5e-8) — the forward companion of
    ``probit_sql``; identical text evaluated by both engines."""
    k = f"(1.0 / (1.0 + 0.2316419 * ABS({z})))"
    poly = (
        f"(0.319381530 * {k} - 0.356563782 * POWER({k}, 2)"
        f" + 1.781477937 * POWER({k}, 3)"
        f" - 1.821255978 * POWER({k}, 4)"
        f" + 1.330274429 * POWER({k}, 5))"
    )
    tail = f"(EXP(-0.5 * ({z}) * ({z})) / 2.5066282746310002 * {poly})"
    return f"CASE WHEN ({z}) >= 0 THEN 1.0 - {tail} ELSE {tail} END"


_BCA_Z = 1.959963984540054


def _bca_oracle() -> str:
    zl = f"(z0 + (z0 - {_BCA_Z}) / (1.0 - a * (z0 - {_BCA_Z})))"
    zh = f"(z0 + (z0 + {_BCA_Z}) / (1.0 - a * (z0 + {_BCA_Z})))"
    return f"""
    WITH o AS (
        SELECT o_orderkey::VARCHAR AS k, o_totalprice AS v,
               o_custkey AS ck
        FROM orders
    ),
    ex AS (
        SELECT k, v, unnest(range(0, {_BOOT_B}))::VARCHAR AS b FROM o
    ),
    u AS (SELECT b, v, {_BOOT_U} AS u FROM ex),
    w AS (SELECT b, v, {_BOOT_W_SQL} AS wt FROM u),
    rm AS (SELECT b, SUM(wt * v) / SUM(wt) AS m FROM w GROUP BY b),
    fs AS (SELECT COUNT(*)::DOUBLE AS n, AVG(v) AS theta,
                  SUM(v) AS st FROM o),
    gj AS (
        SELECT c.c_nationkey AS g, COUNT(*)::DOUBLE AS ng,
               SUM(o.v) AS sg
        FROM o JOIN customer c ON o.ck = c.c_custkey
        GROUP BY c.c_nationkey
    ),
    loo AS (
        SELECT (fs.st - gj.sg) / (fs.n - gj.ng) AS ti
        FROM gj CROSS JOIN fs
    ),
    jm AS (SELECT AVG(ti) AS tbar FROM loo),
    cm AS (
        SELECT SUM((jm.tbar - ti) * (jm.tbar - ti)) AS c2,
               SUM((jm.tbar - ti) * (jm.tbar - ti) * (jm.tbar - ti))
                   AS c3
        FROM loo CROSS JOIN jm
    ),
    acc AS (SELECT c3 / (6.0 * POWER(c2, 1.5)) AS a FROM cm),
    zz AS (
        SELECT GREATEST(LEAST(
                   (SELECT SUM(CASE WHEN m < fs.theta THEN 1 ELSE 0 END)
                    FROM rm CROSS JOIN fs)::DOUBLE / {_BOOT_B},
                   1.0 - 1.0 / (2.0 * {_BOOT_B})),
                   1.0 / (2.0 * {_BOOT_B})) AS frac
    ),
    z0c AS (
        SELECT frac, {probit_hv_sql('frac')} AS h FROM zz
    ),
    z0v AS (SELECT {probit_sql('frac', 'h')} AS z0 FROM z0c),
    al AS (
        SELECT z0, a,
               {phi_sql(zl)} AS alo,
               {phi_sql(zh)} AS ahi
        FROM z0v CROSS JOIN acc
    ),
    rks AS (
        SELECT z0, a, alo, ahi,
               GREATEST(LEAST(CAST(CEIL(ROUND({_BOOT_B} * alo, 9))
                                   AS BIGINT), {_BOOT_B}), 1) AS rlo,
               GREATEST(LEAST(CAST(CEIL(ROUND({_BOOT_B} * ahi, 9))
                                   AS BIGINT), {_BOOT_B}), 1) AS rhi
        FROM al
    ),
    rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM rm)
    SELECT CAST(fs.n AS BIGINT) AS n_orders,
           CAST(ROUND(fs.theta, 4) AS REAL) AS point_mean,
           CAST(ROUND(rks.z0, 6) AS REAL) AS bias_z0,
           CAST(ROUND(rks.a, 6) AS REAL) AS accel_a,
           rks.rlo AS rank_lo, rks.rhi AS rank_hi,
           CAST(ROUND((SELECT m FROM rk WHERE r = rks.rlo), 4) AS REAL)
               AS bca_lo,
           CAST(ROUND((SELECT m FROM rk WHERE r = rks.rhi), 4) AS REAL)
               AS bca_hi
    FROM rks CROSS JOIN fs
    """


@register(
    "bca_bootstrap_ci",
    oracle=_bca_oracle(),
    tags=("bootstrap", "bca", "bias-corrected", "jackknife",
          "confidence-interval", "statistics"),
)
def bca_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCa (bias-corrected & accelerated) bootstrap interval for mean
    order value — the inference family's capstone, composed ENTIRELY
    of parts this repo already certifies: the Poisson-bootstrap
    replicate means (`bootstrap_ci_poisson`'s md5 ladder), the
    grouped-jackknife skewness for the acceleration constant
    (`jackknife_ratio_variance`'s total−group algebra over nations),
    Acklam's probit for the bias term z₀ = Φ⁻¹(frac replicates below
    θ̂), and the A&S normal CDF for the adjusted percentile levels
    Φ(z₀ + (z₀±z)/(1−a(z₀±z))).  Efron's correction matters exactly
    when the percentile interval is most trusted and least deserved:
    skewed statistics — which revenue means are.

    Engine determinism: replicate ranks come from CEIL(ROUND(B·α, 9))
    so a last-ulp α difference cannot move an order-statistic index.

    Scale shape: the ×B explode and ONE grouped aggregate are the
    only corpus-scaled work (identical to the percentile bootstrap);
    everything after — jackknife, probit, CDF, rank selection — runs
    on ≤32-row bounded relations."""
    # Same single-row-group scan-parallelism fix as
    # bootstrap_ci_poisson: the ×B explode + md5 ladder otherwise
    # runs on the one scan task.
    o = spread_for_cpu(
        load_table(spark, sf_dir, "orders"), "o_orderkey"
    ).select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.col("o_custkey").alias("ck"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    ex = o.select(
        "k",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("bi"),
    ).select("k", "v", F.col("bi").cast("string").alias("b"))
    u = ex.select(
        "b",
        "v",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("k"), F.lit(":"), F.col("b"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(4503599627370496.0)
        ).alias("u"),
    )
    wt = F.lit(7)
    for i in range(len(_POIS_CDF) - 1, -1, -1):
        wt = F.when(F.col("u") < F.lit(_POIS_CDF[i]), i).otherwise(wt)
    rm = (
        u.select("b", "v", wt.alias("wt"))
        .groupBy("b")
        .agg((F.sum(F.col("wt") * F.col("v")) / F.sum("wt")).alias("m"))
        .repartition(1)
    )
    fs = o.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("v").alias("theta"),
        F.sum("v").alias("st"),
    )
    gj = (
        o.join(F.broadcast(c), o.ck == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("double").alias("ng"),
            F.sum("v").alias("sg"),
        )
    )
    loo = gj.crossJoin(F.broadcast(fs)).select(
        ((F.col("st") - F.col("sg")) / (F.col("n") - F.col("ng"))).alias(
            "ti"
        )
    )
    # Two-pass CENTERED moments for the acceleration.  The raw-power-
    # sum expansion (-s3 + 3 tbar s2 - 2 k tbar^3) cancels ~7 digits
    # at sf0.1 (terms ~1e17 collapsing to ~1e10), amplifying the two
    # engines' accumulation-order ulps to ~1e-6 — exactly ROUND(a, 6)'s
    # boundary (observed flip: -0.015323 vs -0.015322).  Centering
    # first removes the cancellation; both engines run the same
    # centered text.
    jt = loo.agg(F.avg("ti").alias("tbar"))
    d = F.col("tbar") - F.col("ti")
    cm = loo.crossJoin(F.broadcast(jt)).agg(
        F.sum(d * d).alias("c2"),
        F.sum(d * d * d).alias("c3"),
    )
    acc = cm.select(
        (F.col("c3") / (6.0 * F.pow(F.col("c2"), 1.5))).alias("a")
    )
    below = rm.crossJoin(F.broadcast(fs)).agg(
        F.sum(F.when(F.col("m") < F.col("theta"), 1).otherwise(0))
        .cast("double")
        .alias("cnt")
    )
    frac = F.greatest(
        F.least(
            F.col("cnt") / _BOOT_B, F.lit(1.0 - 1.0 / (2.0 * _BOOT_B))
        ),
        F.lit(1.0 / (2.0 * _BOOT_B)),
    )
    z0c = below.select(frac.alias("frac")).withColumn(
        "h", F.expr(probit_hv_sql("frac"))
    )
    z0v = z0c.select(F.expr(probit_sql("frac", "h")).alias("z0"))
    zl = f"(z0 + (z0 - {_BCA_Z}) / (1.0 - a * (z0 - {_BCA_Z})))"
    zh = f"(z0 + (z0 + {_BCA_Z}) / (1.0 - a * (z0 + {_BCA_Z})))"
    al = z0v.crossJoin(F.broadcast(acc)).select(
        "z0",
        "a",
        F.expr(phi_sql(zl)).alias("alo"),
        F.expr(phi_sql(zh)).alias("ahi"),
    )
    rks = al.select(
        "z0",
        "a",
        F.greatest(
            F.least(
                F.ceil(F.round(_BOOT_B * F.col("alo"), 9)).cast("long"),
                F.lit(_BOOT_B),
            ),
            F.lit(1),
        ).alias("rlo"),
        F.greatest(
            F.least(
                F.ceil(F.round(_BOOT_B * F.col("ahi"), 9)).cast("long"),
                F.lit(_BOOT_B),
            ),
            F.lit(1),
        ).alias("rhi"),
    )
    rk = rm.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("r")
    )
    out = (
        rks.crossJoin(F.broadcast(fs))
        .join(
            F.broadcast(rk.select(F.col("r").alias("rlo"),
                                  F.col("m").alias("mlo"))),
            "rlo",
        )
        .join(
            F.broadcast(rk.select(F.col("r").alias("rhi"),
                                  F.col("m").alias("mhi"))),
            "rhi",
        )
    )
    return out.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round("theta", 4).cast("float").alias("point_mean"),
        F.round("z0", 6).cast("float").alias("bias_z0"),
        F.round("a", 6).cast("float").alias("accel_a"),
        F.col("rlo").alias("rank_lo"),
        F.col("rhi").alias("rank_hi"),
        F.round("mlo", 4).cast("float").alias("bca_lo"),
        F.round("mhi", 4).cast("float").alias("bca_hi"),
    )


# ---------------------------------------------------------------------------
# Qini curve under a sham (A/A) treatment — uplift-pipeline calibration
# ---------------------------------------------------------------------------

_QINI_SEED = "qini-aa-r6"


@register(
    "qini_aa_calibration",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey AS k,
               SUM(o_totalprice) AS spend,
               MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS y
        FROM orders GROUP BY o_custkey
    ),
    assigned AS (
        SELECT k, spend, y,
               CASE WHEN ('0x' || substr(md5('{_QINI_SEED}|'
                          || CAST(k AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
                    THEN 1 ELSE 0 END AS t,
               ROW_NUMBER() OVER (ORDER BY spend DESC, k) AS rn,
               COUNT(*) OVER () AS n
        FROM cust
    ),
    dec AS (
        SELECT ((rn - 1) * 10 // n)::BIGINT AS decile,
               SUM(t)::BIGINT AS nt,
               SUM(1 - t)::BIGINT AS nc,
               SUM(t * y)::BIGINT AS rt,
               SUM((1 - t) * y)::BIGINT AS rc
        FROM assigned GROUP BY 1
    ),
    cum AS (
        SELECT decile, nt, nc, rt, rc,
               SUM(rt) OVER w AS crt, SUM(rc) OVER w AS crc,
               SUM(nt) OVER w AS cnt_, SUM(nc) OVER w AS cnc
        FROM dec WINDOW w AS (ORDER BY decile)
    )
    SELECT decile, nt, nc, rt, rc,
           CAST(ROUND(crt - crc * (CAST(cnt_ AS DOUBLE) / cnc), 4) + 0.0
                AS REAL) AS qini,
           CAST(ROUND(CAST(rt AS DOUBLE) / nt
                      - CAST(rc AS DOUBLE) / nc, 6) + 0.0 AS REAL)
               AS decile_uplift
    FROM cum
    """,
    tags=("qini", "uplift", "aa-test", "null-calibration",
          "experiment", "marketing"),
)
def qini_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve under a SHAM (A/A) treatment — the null-calibration
    run every uplift pipeline owes itself before believing a real
    one: customers are 'treated' by a deterministic md5 coin, ranked
    by spend as the targeting score, and the Qini statistic
    cum(R_t) − cum(R_c)·(cum(N_t)/cum(N_c)) is computed per decile.
    Because treatment is independent of everything, the TRUE curve
    is zero — the emitted per-decile qini values ARE the null noise
    band an analyst should expect from a real campaign readout of
    this size (`lift_gain_deciles` grades a ranking against known
    labels; this grades an uplift measurement against a known
    nothing).

    Scale shape: one per-customer aggregate; the global score rank
    reuses the integer-decile assignment (prefix machinery on the
    Spark side); deciles and cumulative sums run on the bounded
    10-row relation (allowlisted bounded window class)."""
    from axolotls_spark.operators.dedup import token_hash
    from axolotls_spark.operators.prefix import ranked_cumsum

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum("o_totalprice").alias("spend"),
        F.max(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("y"),
    )
    t = F.when(
        token_hash(
            F.concat(F.lit(_QINI_SEED + "|"), F.col("k").cast("string"))
        )
        % 2
        == 0,
        1,
    ).otherwise(0)
    assigned = ranked_cumsum(
        cust.withColumn("t", t).withColumn("one", F.lit(1.0)),
        [F.desc("spend"), F.asc("k")],
        "one",
        rank_name="rn",
        cum_name="__c",
    )
    n = assigned.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dec = (
        assigned.crossJoin(F.broadcast(n))
        .groupBy(
            F.floor((F.col("rn") - 1) * 10 / F.col("n"))
            .cast("long")
            .alias("decile")
        )
        .agg(
            F.sum("t").cast("long").alias("nt"),
            F.sum(1 - F.col("t")).cast("long").alias("nc"),
            F.sum(F.col("t") * F.col("y")).cast("long").alias("rt"),
            F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("rc"),
        )
    )
    wc = Window.orderBy("decile")
    return dec.select(
        "decile",
        "nt",
        "nc",
        "rt",
        "rc",
        (F.round(
            F.sum("rt").over(wc)
            - F.sum("rc").over(wc)
            * (
                F.sum("nt").over(wc).cast("double")
                / F.sum("nc").over(wc)
            ),
            4,
        # round can yield -0.0 in one engine and 0.0 in the other
        # (repr-compared by the parity hash): normalize with + 0.0,
        # the pca_project_embeddings convention.
        ) + F.lit(0.0)).cast("float").alias("qini"),
        (F.round(
            F.col("rt").cast("double") / F.col("nt")
            - F.col("rc").cast("double") / F.col("nc"),
            6,
        ) + F.lit(0.0)).cast("float").alias("decile_uplift"),
    )


# --------------------------------------------------------------------------
# Link prediction on the part co-purchase graph (Adamic–Adar family)


#: Only heavyweight line items (quantity >= 40, the top ~22% of the
#: uniform 1..50 quantity distribution) define co-purchase edges.
#: The filter is what keeps the graph SPARSE at every scale: measured
#: max degree is 15/21/23 at sf0.001/0.01/0.1 (nodes 190/1.9k/19.6k),
#: so the common-neighbor join below stays linear in |E|, never
#: quadratic in |V|.
_LINKPRED_MIN_QTY = 40

_LINKPRED_EDGES_SQL = f"""
    li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_quantity >= {_LINKPRED_MIN_QTY}
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    deg AS (SELECT u, COUNT(*)::BIGINT AS d FROM und GROUP BY u)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase edge relation (u < v) on the part graph —
    the Spark mirror of ``_LINKPRED_EDGES_SQL``'s ``edges`` CTE,
    shared by `link_prediction_copurchase` and
    `clustering_coefficient_nodes`.

    The edge relation feeds degree, wedge/two-hop candidates, and the
    closure joins in both consumers; it is not cached, because
    they re-read its one distinct exchange (a cached copy cost 15
    jobs and 357 tasks against 7 and 8 uncached, measured at
    sf0.01).  Edge generation fans out per ORDER via
    per-basket combination expansion over ONE l_orderkey exchange
    (basket-bounded: <= 7 lineitems per order in TPC-H, so
    pairs-per-order is a constant) — the old lineitem self-join
    exchanged and sorted the filtered scan twice for the identical
    pair set (r8 §2.4)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _LINKPRED_MIN_QTY)
        .select("l_orderkey", "l_partkey")
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    combos = ordered_pairs("ps", "u", "v")
    return (
        baskets.select(F.explode(combos).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .distinct()
    )


@register(
    "link_prediction_copurchase",
    oracle=f"""
    WITH {_LINKPRED_EDGES_SQL},
    cand AS (
        SELECT x.v AS a, y.v AS b, x.u AS z
        FROM und x JOIN und y ON x.u = y.u AND x.v < y.v
    ),
    nonadj AS (
        SELECT c.a, c.b, c.z FROM cand c
        LEFT JOIN edges e ON c.a = e.u AND c.b = e.v
        WHERE e.u IS NULL
    ),
    scored AS (
        SELECT n.a, n.b,
               COUNT(*)::BIGINT AS common_neighbors,
               SUM(1.0 / ln(dz.d)) AS aa
        FROM nonadj n JOIN deg dz ON n.z = dz.u
        GROUP BY n.a, n.b
    )
    SELECT s.a AS part_a, s.b AS part_b,
           s.common_neighbors,
           (da.d * db.d)::BIGINT AS preferential_attachment,
           CAST(s.aa AS REAL) AS adamic_adar,
           CAST(s.common_neighbors::DOUBLE
                / (da.d + db.d - s.common_neighbors) AS REAL) AS jaccard
    FROM scored s
    JOIN deg da ON s.a = da.u
    JOIN deg db ON s.b = db.u
    ORDER BY s.common_neighbors DESC, preferential_attachment DESC,
             s.a, s.b
    LIMIT 20
    """,
    tags=("graph", "link-prediction", "adamic-adar", "two-hop",
          "anti-join"),
)
def link_prediction_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted co-purchase links on the part graph — the
    three classical neighborhood link-prediction scores
    (common neighbors, Adamic–Adar ``sum 1/ln(deg(z))``, Jaccard)
    plus preferential attachment, over part pairs at distance
    exactly 2 (share a neighbor, not yet adjacent). The
    item-complements primitive behind "frequently bought together"
    candidate generation, and the graph sibling of
    `similar_label_pairs` / `basket_brand_affinity`.

    Scale shape — never all-pairs, in three enforced steps: (1) edge
    generation fans out per ORDER (basket-bounded: <= 7 lineitems per
    order in TPC-H, so pairs-per-order is a constant); (2) candidate
    generation is an equi-join of the adjacency list with itself
    keyed on the shared endpoint z — work is sum_z deg(z)^2, which
    the quantity filter keeps linear in |E| (measured two-hop size
    85k at sf0.01 -> 900k at sf0.1, i.e. ~linear, max degree 23);
    (3) existing edges leave via a LEFT ANTI join before any scoring.
    ln(deg(z)) is safe with no guard: z is a common neighbor of two
    distinct nodes, so deg(z) >= 2 structurally.

    Determinism: top-20 cutoff is ordered entirely by INTEGER keys
    (cn DESC, pa DESC, a, b) — unique per pair, so the boundary can
    never tie; the float AA/Jaccard scores ride along as float32
    (stable_f32 convention, accumulation-order safe).
    """
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # ONE adjacency-list aggregate serves both the degree relation
    # (list size — referenced 3x: z-weight join, da join, db join)
    # and the two-hop candidates (per-node combination expansion over
    # the same exchange — the old adjacency self-join exchanged and
    # sorted the doubled edge stream twice, r8 §2.4).
    nbrs = und.groupBy("u").agg(
        F.array_sort(F.collect_list("v")).alias("ns")
    )
    deg = nbrs.select("u", F.size("ns").cast("long").alias("d"))
    ccombos = ordered_pairs("ns", "a", "b")
    cand = nbrs.select(
        F.col("u").alias("z"), F.explode(ccombos).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "z")
    nonadj = cand.join(
        edges,
        (cand["a"] == edges["u"]) & (cand["b"] == edges["v"]),
        "left_anti",
    )
    scored = (
        nonadj.join(
            deg.select(F.col("u").alias("z"), F.col("d").alias("dz")), "z"
        )
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(1.0 / F.log(F.col("dz"))).alias("aa"),
        )
    )
    out = (
        scored.join(
            deg.select(F.col("u").alias("a"), F.col("d").alias("da")), "a"
        )
        .join(
            deg.select(F.col("u").alias("b"), F.col("d").alias("db")), "b"
        )
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "common_neighbors",
            (F.col("da") * F.col("db"))
            .cast("long")
            .alias("preferential_attachment"),
            F.col("aa").cast("float").alias("adamic_adar"),
            (
                F.col("common_neighbors").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_neighbors"))
            )
            .cast("float")
            .alias("jaccard"),
        )
    )
    return out.orderBy(
        F.desc("common_neighbors"),
        F.desc("preferential_attachment"),
        "part_a",
        "part_b",
    ).limit(20)


# --------------------------------------------------------------------------
# O'Brien–Fleming-style group-sequential monitoring boundaries


_OBF_Z975 = 1.959963984540054  # z_{alpha/2} for two-sided alpha = 0.05

#: Lan–DeMets O'Brien–Fleming-like alpha-spending function
#: alpha*(t) = 2 * (1 - Phi(z_{a/2} / sqrt(t))) — shared TEXT between
#: engines via phi_sql, like every probit consumer in this module.
_OBF_SPEND = f"2.0 * (1.0 - {phi_sql(f'({_OBF_Z975} / SQRT(t))')})"

#: Per-look boundary from the spending INCREMENT: the increment is
#: always in Acklam's upper-tail region (max single increment of this
#: spending function is ~0.012 << 2*0.02425), so the helper variable
#: is derived from the increment DIRECTLY — sqrt(-2 ln(inc/2)) — and
#: never through 1 - p, which rounds to exactly 1.0 in double when an
#: early look's increment underflows 1e-17 (LN(0) = -inf poison).
_OBF_HV = "SQRT(-2.0 * LN(GREATEST(inc, 1e-300) / 2.0))"


@register(
    "obrien_fleming_looks",
    oracle=f"""
    WITH assigned AS (
        SELECT CAST(ts AS DATE) AS day,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
                         ::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    daily AS (
        SELECT day, arm, COUNT(*)::BIGINT AS n, SUM(value) AS s,
               SUM(value * value) AS s2
        FROM assigned GROUP BY 1, 2
    ),
    cum AS (
        SELECT day, arm,
               SUM(n) OVER w AS n, SUM(s) OVER w AS s,
               SUM(s2) OVER w AS s2
        FROM daily
        WINDOW w AS (PARTITION BY arm ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (SELECT SUM(n)::BIGINT AS ntot FROM daily),
    looks AS (
        SELECT a.day,
               a.n::BIGINT AS n_a, b.n::BIGINT AS n_b,
               (b.s / b.n - a.s / a.n)
               / SQRT(((a.s2 - a.s * a.s / a.n) / (a.n - 1)) / a.n
                      + ((b.s2 - b.s * b.s / b.n) / (b.n - 1)) / b.n)
                   AS z,
               (a.n + b.n)::DOUBLE / ntot AS t
        FROM cum a JOIN cum b ON a.day = b.day
                   AND a.arm = 'A' AND b.arm = 'B'
        CROSS JOIN tot
    ),
    spent AS (
        SELECT day, n_a, n_b, z, t, {_OBF_SPEND} AS sp FROM looks
    ),
    incs AS (
        SELECT day, n_a, n_b, z, t, sp,
               sp - COALESCE(LAG(sp) OVER (ORDER BY day), 0.0) AS inc
        FROM spent
    ),
    hv AS (SELECT *, {_OBF_HV} AS h, 1.0 - inc / 2.0 AS p FROM incs),
    bounds AS (
        SELECT day, n_a, n_b, z, t, sp, {probit_sql("p", "h")} AS zb
        FROM hv
    )
    SELECT day, n_a, n_b,
           CAST(z AS REAL) AS z_obs,
           CAST(t AS REAL) AS info_frac,
           CAST(sp AS REAL) AS alpha_spent,
           CAST(zb AS REAL) AS z_boundary,
           CAST(ABS(z) > zb AS INT) AS crossed
    FROM bounds
    ORDER BY day
    """,
    tags=("experiment", "group-sequential", "obrien-fleming",
          "alpha-spending", "monitoring"),
)
def obrien_fleming_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily group-sequential monitoring table for the hash-split
    purchase experiment: per look (day), the cumulative Welch z, the
    information fraction, the cumulative O'Brien–Fleming-like alpha
    spend 2(1 - Phi(z_{a/2}/sqrt(t))) (Lan–DeMets), and the per-look
    boundary from the first-order spending approximation — the
    nominal level of look k is the spending INCREMENT, so
    z_boundary = Phi^{-1}(1 - (a*(t_k) - a*(t_{k-1}))/2).  Exact
    boundaries need the multivariate-normal recursion; the
    increment approximation is the standard quick audit and is
    CONSERVATIVE early (boundaries ~8 at day 1, falling toward ~2.3),
    which is exactly the OBF shape: nearly impossible to stop early,
    cheap to stop late.  `msprt_always_valid` is the always-valid
    mixture sibling; this is the scheduled-looks classic.

    Cross-engine discipline: Phi and Phi^{-1} are the shared
    phi_sql/probit_sql TEXT (Acklam + Abramowitz–Stegun), and the
    probit helper is derived from the increment directly — never via
    1 - inc/2, which rounds to 1.0 in double for early looks whose
    spending increment underflows (LN(0) poison).  The crossed flag
    compares |z| ~ 1 against boundaries >= 2.2 (A/A split by
    construction), a margin ~10^6 ulps wide.

    Scale shape: ONE corpus aggregate (day x arm); every window and
    join after runs on the ~30-row look relation."""
    from axolotls_spark.operators.dedup import token_hash

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    assigned = e.select(
        F.to_date("ts").alias("day"),
        F.when(token_hash(F.col("user_id").cast("string")) % 2 == 0, "A")
        .otherwise("B")
        .alias("arm"),
        "value",
    )
    daily = assigned.groupBy("day", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    wcum = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "day",
        "arm",
        F.sum("n").over(wcum).alias("n"),
        F.sum("s").over(wcum).alias("s"),
        F.sum("s2").over(wcum).alias("s2"),
    )
    a = cum.filter(F.col("arm") == "A").select(
        "day",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("s2").alias("s2_a"),
    )
    b = cum.filter(F.col("arm") == "B").select(
        "day",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("s2").alias("s2_b"),
    )
    tot = daily.agg(F.sum("n").cast("long").alias("ntot"))
    va = (
        (F.col("s2_a") - F.col("s_a") * F.col("s_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
    ) / F.col("n_a")
    vb = (
        (F.col("s2_b") - F.col("s_b") * F.col("s_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
    ) / F.col("n_b")
    looks = (
        a.join(b, "day")
        .crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_a",
            "n_b",
            (
                (F.col("s_b") / F.col("n_b") - F.col("s_a") / F.col("n_a"))
                / F.sqrt(va + vb)
            ).alias("z"),
            (
                (F.col("n_a") + F.col("n_b")).cast("double")
                / F.col("ntot")
            ).alias("t"),
        )
    )
    spent = looks.withColumn("sp", F.expr(_OBF_SPEND))
    winc = Window.orderBy("day")
    incs = spent.withColumn(
        "inc",
        F.col("sp") - F.coalesce(F.lag("sp").over(winc), F.lit(0.0)),
    )
    hv = incs.withColumn("h", F.expr(_OBF_HV)).withColumn(
        "p", 1.0 - F.col("inc") / 2.0
    )
    bounds = hv.withColumn("zb", F.expr(probit_sql("p", "h")))
    return bounds.select(
        "day",
        "n_a",
        "n_b",
        F.col("z").cast("float").alias("z_obs"),
        F.col("t").cast("float").alias("info_frac"),
        F.col("sp").cast("float").alias("alpha_spent"),
        F.col("zb").cast("float").alias("z_boundary"),
        (F.abs(F.col("z")) > F.col("zb")).cast("int").alias("crossed"),
    ).orderBy("day")


@register(
    "clustering_coefficient_nodes",
    oracle=f"""
    WITH {_LINKPRED_EDGES_SQL},
    wedges AS (
        SELECT x.u AS z, x.v AS a, y.v AS b
        FROM und x JOIN und y ON x.u = y.u AND x.v < y.v
    ),
    tri AS (
        SELECT w.z, COUNT(*)::BIGINT AS triangles
        FROM wedges w JOIN edges e ON w.a = e.u AND w.b = e.v
        GROUP BY w.z
    )
    SELECT d.u AS part, d.d AS degree,
           COALESCE(t.triangles, 0)::BIGINT AS triangles,
           CAST(2.0 * COALESCE(t.triangles, 0)
                / (d.d * (d.d - 1)) AS REAL) AS clustering_coef
    FROM deg d LEFT JOIN tri t ON d.u = t.z
    WHERE d.d >= 2
    ORDER BY triangles DESC, degree DESC, part
    LIMIT 20
    """,
    tags=("graph", "clustering-coefficient", "triangles", "two-hop"),
)
def clustering_coefficient_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the part co-purchase
    graph — triangles(z) / (deg(z) choose 2), the neighborhood-
    closure score that separates parts bought in cohesive bundles
    (kits: coefficient near 1) from hub parts bridging unrelated
    baskets (near 0) — `graph_triangle_count`'s global census turned
    into the per-node ranking a recommender's bundling logic consumes,
    on the same edge relation as `link_prediction_copurchase`.

    Scale shape: triangles close WEDGES — per-node neighbor-list
    combination expansion over ONE shared-endpoint exchange (sum_z
    deg(z)^2 work, degree-bounded by the quantity filter, max deg 23
    measured; the old adjacency self-join exchanged and sorted the
    undirected edge stream twice for the same wedge set — r8 §2.4)
    joined against the edge relation; never an all-pairs or 3-way
    corpus join.  The degree rides the SAME aggregate (list size), so
    the separate degree pass disappears.  Top-20 cutoff ordered
    purely by integers (triangles DESC, degree DESC, part), so the
    boundary cannot tie; the float coefficient rides along as
    float32."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # Neighbor lists are distinct by construction (edges is distinct
    # with u < v, so the two union branches cannot collide).
    nbrs = und.groupBy("u").agg(
        F.array_sort(F.collect_list("v")).alias("ns")
    )
    deg = nbrs.select("u", F.size("ns").cast("long").alias("d"))
    wcombos = ordered_pairs("ns", "a", "b")
    wedges = nbrs.select(
        F.col("u").alias("z"), F.explode(wcombos).alias("p")
    ).select("z", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    tri = (
        wedges.join(
            edges,
            (wedges["a"] == edges["u"]) & (wedges["b"] == edges["v"]),
        )
        .groupBy("z")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    out = (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg["u"] == tri["z"], "left")
        .select(
            deg["u"].alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0))
            .cast("long")
            .alias("triangles"),
            (
                2.0
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1))
            )
            .cast("float")
            .alias("clustering_coef"),
        )
    )
    return out.orderBy(
        F.desc("triangles"), F.desc("degree"), "part"
    ).limit(20)


# --------------------------------------------------------------------------
# Bloom-filter design calculator (m, k selection before the build)


#: Candidate bits-per-key budgets and hash counts for the design
#: table.  FPR depends only on (k, bits-per-key) — the key count
#: cancels — so the S-curve below is scale-invariant by construction;
#: the data-dependent columns (total bits, expected false positives)
#: re-attach the budget to THIS table's measured cardinalities.
_BLOOM_BPK = (4, 8, 12, 16, 20)
_BLOOM_MAX_K = 8


@register(
    "bloom_filter_design",
    oracle=f"""
    WITH stats AS (
        SELECT COUNT(DISTINCT l_partkey)::BIGINT AS n_keys,
               COUNT(*)::BIGINT AS n_probes
        FROM lineitem
    ),
    grid AS (
        SELECT bpk.bpk, k.k
        FROM (SELECT UNNEST({list(_BLOOM_BPK)}) AS bpk) bpk
        CROSS JOIN (
            SELECT UNNEST(range(1, {_BLOOM_MAX_K + 1})) AS k
        ) k
    ),
    scored AS (
        SELECT bpk, k, n_keys, n_probes,
               POW(1.0 - EXP(-CAST(k AS DOUBLE) / bpk), k) AS fpr,
               CAST(ROUND(bpk * LN(2.0)) AS INT) AS k_opt
        FROM grid CROSS JOIN stats
    )
    SELECT CAST(bpk AS INT) AS bits_per_key, CAST(k AS INT) AS k,
           (bpk * n_keys)::BIGINT AS filter_bits,
           CAST(fpr AS REAL) AS fpr,
           CAST(fpr * n_probes AS REAL) AS expected_false_positives,
           k_opt,
           CAST(k = k_opt AS INT) AS is_optimal_k,
           CAST(fpr <= 0.01 AS INT) AS meets_1pct
    FROM scored
    ORDER BY bits_per_key, k
    """,
    tags=("bloom-filter", "index-design", "join-governance", "s-curve",
          "calculator"),
)
def bloom_filter_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter (m, k) design table for the l_partkey prejoin
    filter that `bloom_prejoin_filter` then exercises — FPR
    (1 - e^(-k/bpk))^k per (bits-per-key, hash-count) cell, the
    closed-form optimal k = round(bpk*ln 2) (out of the practical
    1..8 range for generous budgets, which the table SHOWS), the
    filter's absolute bit cost against the table's measured distinct
    keys, and the expected false-positive volume against the measured
    probe count.  The `lsh_band_design` pattern applied to the other
    big-join governance index: at 100 TB the wrong bits-per-key
    either floods the probe side with false positives or wastes
    executor memory broadcast-wide; this is the design artifact that
    decision should cite.

    Scale shape: ONE exact-distinct aggregate over the corpus (the
    only data-touching work, and the statistic a real build needs
    anyway); the 40-cell grid is a broadcast spine.  The spec flags
    have measured margins >= 1e-4 from their thresholds at every
    cell, far beyond cross-engine libm ulps."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("n_keys"),
        F.count(F.lit(1)).cast("long").alias("n_probes"),
    )
    bpk = spark.createDataFrame(
        [(b,) for b in _BLOOM_BPK], "bpk int"
    )
    ks = spark.range(1, _BLOOM_MAX_K + 1).select(
        F.col("id").cast("int").alias("k")
    )
    grid = bpk.crossJoin(F.broadcast(ks)).crossJoin(F.broadcast(stats))
    fpr = F.pow(
        1.0 - F.exp(-F.col("k").cast("double") / F.col("bpk")), F.col("k")
    )
    k_opt = F.round(F.col("bpk") * math.log(2.0)).cast("int")
    return grid.select(
        F.col("bpk").alias("bits_per_key"),
        "k",
        (F.col("bpk") * F.col("n_keys")).cast("long").alias("filter_bits"),
        fpr.cast("float").alias("fpr"),
        (fpr * F.col("n_probes"))
        .cast("float")
        .alias("expected_false_positives"),
        k_opt.alias("k_opt"),
        (F.col("k") == k_opt).cast("int").alias("is_optimal_k"),
        (fpr <= 0.01).cast("int").alias("meets_1pct"),
    ).orderBy("bits_per_key", "k")
