"""Language-model curation operators: corpus LM scoring, tokenizer
vocabulary design, and relational classifier training.

The reference (`/root/reference/axolotls` — element-wise torch
kernels over four column classes, SURVEY §2A) has no text surface;
these extend §2B's LLM-pipeline mandate with the model-side
primitives a training-data curation stack runs:

- ``bigram_interp_logprob``  — per-document average log-probability
  under an interpolated bigram language model estimated from the
  corpus itself (the KenLM-style fluency score CCNet buckets on).
- ``vocab_coverage_curve``   — corpus token coverage at candidate
  vocabulary sizes (the tokenizer-design OOV curve).
- ``nucleus_vocab_size``     — smallest vocabulary covering 90% of
  corpus token mass (top-p over the global token distribution).
- ``logreg_quality_classifier`` — logistic regression trained *in
  the engine* by two unrolled IRLS (Newton) steps — the
  quality-classifier stage of GPT-3/LLaMA-style curation, with every
  step a single algebraic aggregate and an exact shared-algebra
  DuckDB oracle (the Cramer solve reuses ols_normal_equations'
  scalar text, since each IRLS step IS a weighted least squares).

All pure Column-expression PySpark; all oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.cacheutil import materialize
from axolotls_spark.io.sources import load_table, spread_for_cpu
from axolotls_spark.operators.dedup import tokens_col
from axolotls_spark.operators.prefix import ranked_cumsum
from axolotls_spark.queries_analytics import _OLS_B0, _OLS_B1, _OLS_B2
from axolotls_spark.registry import register, stable_f32

_SQL_TOKENS = r"string_split_regex(trim(text), '\s+')"

# ---------------------------------------------------------------------------
# Interpolated bigram LM scoring
# ---------------------------------------------------------------------------

_LM_L = 0.75  # bigram weight; (1 - _LM_L) backs off to the unigram


@register(
    "bigram_interp_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    uni AS (
        SELECT term, COUNT(*)::DOUBLE AS cu
        FROM (SELECT unnest(t) AS term FROM toks) GROUP BY 1
    ),
    tot AS (SELECT SUM(cu) AS tt FROM uni),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks CROSS JOIN UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
    ),
    bgc AS (SELECT w1, w2, COUNT(*)::DOUBLE AS cb FROM bg GROUP BY 1, 2)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(AVG(LN({_LM_L} * bgc.cb / u1.cu
                       + {1.0 - _LM_L} * u2.cu / tot.tt)) AS REAL)
               AS avg_logprob
    FROM bg
    JOIN bgc USING (w1, w2)
    JOIN uni u1 ON bg.w1 = u1.term
    JOIN uni u2 ON bg.w2 = u2.term
    CROSS JOIN tot
    GROUP BY 1
    """,
    tags=("language-model", "bigram", "perplexity", "curation", "text"),
)
def bigram_interp_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document's fluency under an interpolated bigram LM
    estimated from the corpus: avg over the doc's bigrams of
    ln(0.75·P(w₂|w₁) + 0.25·P(w₂)) — the relational skeleton of the
    KenLM scoring pass CCNet-style pipelines bucket documents by
    (ccnet_perplexity_buckets consumes exactly this kind of score).

    Scale shape: unigram counts are Zipf-small and broadcast to both
    probe sides; the one genuinely wide edge is the doc-bigram →
    bigram-count attachment, computed as a COUNT WINDOW over the
    single (w1, w2) exchange the probe already pays — not as a
    separate groupBy + equi-join, which exchanged the bigram stream
    twice and sort-merged it against its own aggregate (r8 §2.4: two
    operations keyed the same way share one exchange). Scoring the
    training corpus on itself means every probed bigram exists, so
    no smoothing floor is needed; held-out scoring adds a COALESCE
    to the backoff term.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    # Tokenization feeds both consumers (unigram counts, bigram
    # stream).  uni is read by tot and both probe sides; it is not
    # cached, because they re-read its one aggregate exchange.
    toks = materialize(
        docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    )
    uni = (
        toks.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("cu"))
    )
    tot = uni.agg(F.sum("cu").alias("tt"))
    bg = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1),"
                   " i -> struct(t[i - 1] AS w1, t[i] AS w2))")
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    u1 = uni.select(F.col("term").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("cu").alias("cu2"))
    wb = Window.partitionBy("w1", "w2")
    scored = (
        bg.withColumn("cb", F.count(F.lit(1)).over(wb).cast("double"))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(
                F.log(
                    F.lit(_LM_L) * F.col("cb") / F.col("cu1")
                    + F.lit(1.0 - _LM_L) * F.col("cu2") / F.col("tt")
                )
            ).alias("avg_logprob"),
        )
    )
    return stable_f32(scored, "avg_logprob")


# ---------------------------------------------------------------------------
# Tokenizer vocabulary design: coverage curve + nucleus size
# ---------------------------------------------------------------------------

_VOCAB_KS = (100, 1000, 10000)


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH freq AS (
        SELECT term, COUNT(*) AS cnt
        FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
        GROUP BY 1
    ),
    ranked AS (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rn
        FROM freq
    ),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM freq),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _VOCAB_KS)}]) AS vocab_size)
    SELECT CAST(ks.vocab_size AS BIGINT) AS vocab_size,
           CAST(COALESCE(SUM(CASE WHEN rn <= ks.vocab_size THEN cnt END), 0)
                AS BIGINT) AS tokens_covered,
           CAST(CAST(COALESCE(SUM(CASE WHEN rn <= ks.vocab_size THEN cnt END),
                              0) AS DOUBLE) / MIN(tot.t) AS REAL) AS coverage
    FROM ks CROSS JOIN ranked CROSS JOIN tot
    GROUP BY 1
    """,
    tags=("tokenizer", "vocabulary", "coverage", "zipf", "curation"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of the corpus token stream does a top-k
    vocabulary cover, for k ∈ {100, 1k, 10k}? — the OOV/coverage
    curve that sizes a tokenizer's vocabulary before training it.

    Scale shape: the corpus collapses to the Zipf-small term
    frequency table in one map-side-combined aggregate; the global
    rank and the 3×|vocab| candidate cross-join act on that small
    relation only (the unpartitioned row_number is over the vocab,
    never the corpus). Coverage ratios are exact-integer divisions,
    so the float32 emit is bit-stable across engines.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    # freq feeds both the ranking and the total — persist the
    # Zipf-small relation so the corpus is tokenized exactly once.
    freq = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    # Only the top-max(ks) terms can ever contribute to a coverage
    # bucket, so truncate FIRST with orderBy+limit
    # (TakeOrderedAndProject — distributed per-partition top-k) and
    # rank the bounded k-row result; the unpartitioned row_number
    # never sees the full, corpus-growing vocabulary.
    top = freq.orderBy(F.desc("cnt"), "term").limit(max(_VOCAB_KS))
    ranked = top.select(
        "cnt",
        F.row_number().over(Window.orderBy(F.desc("cnt"), "term")).alias("rn"),
    )
    tot = freq.agg(F.sum("cnt").cast("double").alias("t"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _VOCAB_KS])).alias("vocab_size")
    )
    covered = F.sum(F.when(F.col("rn") <= F.col("vocab_size"), F.col("cnt")))
    return (
        ranked.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("vocab_size").cast("long").alias("vocab_size"))
        .agg(
            F.coalesce(covered, F.lit(0)).cast("long").alias("tokens_covered"),
            (F.coalesce(covered, F.lit(0)).cast("double") / F.min("t"))
            .cast("float")
            .alias("coverage"),
        )
    )


@register(
    "nucleus_vocab_size",
    oracle=f"""
    WITH freq AS (
        SELECT term, COUNT(*) AS cnt
        FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
        GROUP BY 1
    ),
    ranked AS (
        SELECT cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rn,
               SUM(cnt) OVER (ORDER BY cnt DESC, term
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM freq
    ),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM freq)
    SELECT CAST(MIN(CASE WHEN CAST(cum AS DOUBLE) >= 0.9 * tot.t
                         THEN rn END) AS BIGINT) AS nucleus_vocab_size,
           CAST(COUNT(*) AS BIGINT) AS total_vocab
    FROM ranked CROSS JOIN tot
    """,
    tags=("tokenizer", "vocabulary", "nucleus", "top-p", "curation"),
)
def nucleus_vocab_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p over the global token distribution: the smallest
    frequency-ranked vocabulary whose cumulative count reaches 90% of
    corpus token mass (plus the total distinct-token count for
    context) — the single number the coverage curve is usually read
    for.

    Scale shape: identical to vocab_coverage_curve — corpus → term
    frequencies in one aggregate, then rank/cumsum over the
    Zipf-small vocab; the cumulative comparison is exact integer
    arithmetic on both engines.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    freq = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()  # read by both the rank/cumsum branch and the total
    )
    # (r8: an eager count was tried and REVERTED — jobs 16->18, tasks
    # 291->324, nothing eliminated; the prefix scaffold's broadcast-
    # offsets job already materializes the cache first.)
    # Global rank + running sum over the full (corpus-growing) vocab —
    # the one cumulative query a top-k limit can't truncate. Computed
    # via the two-level distributed prefix sum (operators/prefix.py):
    # range-partition on the order, per-partition offsets broadcast
    # back, windows run partitioned; no unpartitioned window ever sees
    # the vocabulary.
    ranked = ranked_cumsum(
        freq,
        [F.desc("cnt"), F.asc("term")],
        "cnt",
        rank_name="rn",
        cum_name="cum",
    ).select("rn", "cum")
    tot = freq.agg(F.sum("cnt").cast("double").alias("t"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(
                    F.col("cum").cast("double") >= F.lit(0.9) * F.col("t"),
                    F.col("rn"),
                )
            )
            .cast("long")
            .alias("nucleus_vocab_size"),
            F.count(F.lit(1)).cast("long").alias("total_vocab"),
        )
    )


# ---------------------------------------------------------------------------
# Unseen-vocabulary estimation: Good–Turing mass + Chao1 richness
# ---------------------------------------------------------------------------


@register(
    "vocab_unseen_mass",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    tc AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
    ff AS (SELECT c, COUNT(*) AS f FROM tc GROUP BY 1),
    agg AS (
        SELECT SUM(c * f)::DOUBLE AS n_tokens,
               SUM(f)::DOUBLE AS vocab,
               COALESCE(SUM(CASE WHEN c = 1 THEN f END), 0)::DOUBLE AS f1,
               COALESCE(SUM(CASE WHEN c = 2 THEN f END), 0)::DOUBLE AS f2
        FROM ff
    )
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(f1 AS BIGINT) AS hapax_terms,
           CAST(f2 AS BIGINT) AS dis_terms,
           CAST(f1 / n_tokens AS REAL) AS gt_unseen_mass,
           CAST(vocab + f1 * (f1 - 1) / (2 * (f2 + 1)) AS REAL)
               AS chao1_richness
    FROM agg
    """,
    tags=("good-turing", "chao1", "vocabulary", "richness", "curation"),
)
def vocab_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much vocabulary has the corpus NOT shown yet? Good–Turing
    unseen-probability mass (f₁/N — the chance the next token is a
    new type) and the bias-corrected Chao1 richness estimate
    (V + f₁(f₁−1)/(2(f₂+1)) — a lower bound on the true vocabulary
    size), both driven by the hapax/dis legomena counts. The
    collection-strategy complement to vocab_coverage_curve: coverage
    sizes the tokenizer for the data you HAVE; unseen mass says
    whether crawling more of the same source still buys new
    vocabulary.

    Scale shape: corpus → term counts (one map-side-combined
    aggregate, Zipf-small) → frequency-of-frequencies (bounded by
    the distinct count values, far smaller still) → one scalar row.
    Every reduction is algebraic; nothing wider than the term-count
    shuffle ever exists.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    tc = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ff = tc.groupBy("c").agg(F.count(F.lit(1)).alias("f"))
    agg = ff.agg(
        F.sum(F.col("c") * F.col("f")).cast("double").alias("n_tokens"),
        F.sum("f").cast("double").alias("vocab"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 1, F.col("f"))), F.lit(0)
        ).cast("double").alias("f1"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 2, F.col("f"))), F.lit(0)
        ).cast("double").alias("f2"),
    )
    return agg.select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("f1").cast("long").alias("hapax_terms"),
        F.col("f2").cast("long").alias("dis_terms"),
        (F.col("f1") / F.col("n_tokens")).cast("float").alias(
            "gt_unseen_mass"
        ),
        (
            F.col("vocab")
            + F.col("f1") * (F.col("f1") - 1) / (2 * (F.col("f2") + 1))
        )
        .cast("float")
        .alias("chao1_richness"),
    )


# ---------------------------------------------------------------------------
# Relational logistic regression (IRLS) — the quality classifier
# ---------------------------------------------------------------------------

# Each IRLS step is a weighted least squares over working response z
# with weights w = p(1-p): solve (XᵀWX)β = XᵀWz. The Cramer solve is
# ols_normal_equations' scalar algebra verbatim (its "n" is Σw here).
# These texts run on columns (y, x1, x2, b0, b1, b2) of the features
# cross-joined with the current 1-row beta — identically as Spark
# F.expr and inside the DuckDB oracle.
_ETA = "(b0 + b1*x1 + b2*x2)"
_P = f"(1.0 / (1.0 + EXP(-{_ETA})))"
_W = f"GREATEST({_P} * (1.0 - {_P}), 1e-9)"
_Z = f"({_ETA} + (y - {_P}) / ({_W}))"

_IRLS_MOMENTS = {
    "n": f"SUM({_W})",
    "s1": f"SUM(({_W}) * x1)",
    "s2": f"SUM(({_W}) * x2)",
    "s11": f"SUM(({_W}) * x1 * x1)",
    "s12": f"SUM(({_W}) * x1 * x2)",
    "s22": f"SUM(({_W}) * x2 * x2)",
    "sy": f"SUM(({_W}) * ({_Z}))",
    "s1y": f"SUM(({_W}) * x1 * ({_Z}))",
    "s2y": f"SUM(({_W}) * x2 * ({_Z}))",
}
_IRLS_MOMENT_SQL = ", ".join(f"{e} AS {k}" for k, e in _IRLS_MOMENTS.items())
_IRLS_ACC = f"AVG(CASE WHEN ({_P} > 0.5) = (y > 0.5) THEN 1.0 ELSE 0.0 END)"

_FEATS_SQL = f"""
        SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               LN(n_chars + 1.0) AS x1,
               CAST(n_chars AS DOUBLE)
                   / GREATEST(len({_SQL_TOKENS}), 1) AS x2
        FROM documents
"""


def _logreg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(y, x1, x2) classifier features, persisted — every IRLS pass,
    scoring pass and count reads the cache; the corpus is scanned and
    featurized once."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.log(F.col("n_chars") + F.lit(1.0)).alias("x1"),
        (
            F.col("n_chars").cast("double")
            / F.greatest(F.size(tokens_col(F.col("text"))), F.lit(1))
        ).alias("x2"),
    ).persist()


def _irls_beta(spark: SparkSession, feats: DataFrame, iters: int = 2) -> DataFrame:
    """Unrolled IRLS: each step one moment aggregate + a Cramer solve
    on the resulting single row. Returns the 1-row (b0, b1, b2),
    persisted: every consumer references beta under
    several broadcasts (scoring pass, accuracy pass, report row), and
    without the persist each reference re-executes the full
    iters-pass corpus aggregation chain."""
    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"), F.lit(0.0).alias("b2")
    )
    for _ in range(iters):
        m = feats.crossJoin(F.broadcast(beta)).agg(
            *[F.expr(e).alias(k) for k, e in _IRLS_MOMENTS.items()]
        )
        beta = m.select(
            F.expr(_OLS_B0).alias("b0"),
            F.expr(_OLS_B1).alias("b1"),
            F.expr(_OLS_B2).alias("b2"),
        )
    return beta.persist()


@register(
    "logreg_quality_classifier",
    oracle=f"""
    WITH feats AS ({_FEATS_SQL}),
    seed AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN seed),
    beta1 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m1),
    m2 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN beta1),
    beta2 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m2),
    acc AS (SELECT {_IRLS_ACC} AS train_acc
            FROM feats CROSS JOIN beta2),
    cnt AS (SELECT COUNT(*) AS n_docs FROM feats)
    SELECT CAST(cnt.n_docs AS BIGINT) AS n_docs,
           CAST(b0 AS REAL) AS b0,
           CAST(b1 AS REAL) AS b1,
           CAST(b2 AS REAL) AS b2,
           CAST(train_acc AS REAL) AS train_acc
    FROM beta2 CROSS JOIN acc CROSS JOIN cnt
    """,
    tags=("logreg", "irls", "classifier", "curation", "shared-algebra",
          "iterative"),
)
def logreg_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a logistic-regression document classifier INSIDE the
    engine — two unrolled IRLS (Newton) steps fitting
    P(lang=en | ln chars, avg token length) — the relational skeleton
    of the quality-classifier filtering stage in GPT-3/LLaMA-style
    curation (features and label are stand-ins; the machinery is the
    product).

    Scale shape: the feature relation is computed once and persisted;
    each IRLS step is then ONE algebraic aggregate (9 weighted moment
    sums, map-side combinable) followed by a closed-form 3×3 Cramer
    solve on a single row — exactly ols_normal_equations' shape, run
    twice with reweighting. No driver loop state, no collect();
    adding features grows the moment count quadratically but the pass
    count not at all. The float32 emit absorbs the cross-engine
    last-ulp of EXP inside the weights.
    """
    feats = _logreg_features(spark, sf_dir)
    beta = _irls_beta(spark, feats, iters=2)
    acc = feats.crossJoin(F.broadcast(beta)).agg(
        F.expr(_IRLS_ACC).alias("train_acc")
    )
    cnt = feats.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        beta.crossJoin(F.broadcast(acc))
        .crossJoin(F.broadcast(cnt))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("b0").cast("float").alias("b0"),
            F.col("b1").cast("float").alias("b1"),
            F.col("b2").cast("float").alias("b2"),
            F.col("train_acc").cast("float").alias("train_acc"),
        )
    )


# ---------------------------------------------------------------------------
# Classifier calibration — reliability diagram bins
# ---------------------------------------------------------------------------

_CAL_P = _P.replace("b0", "beta2.b0").replace("b1", "beta2.b1").replace(
    "b2", "beta2.b2"
)


@register(
    "logreg_calibration_bins",
    oracle=f"""
    WITH feats AS ({_FEATS_SQL}),
    seed AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN seed),
    beta1 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m1),
    m2 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN beta1),
    beta2 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m2),
    scored AS (
        SELECT y, {_CAL_P} AS p FROM feats CROSS JOIN beta2
    )
    SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(AVG(p) AS REAL) AS avg_pred,
           CAST(AVG(y) AS REAL) AS frac_positive
    FROM scored
    GROUP BY 1
    """,
    tags=("logreg", "calibration", "reliability", "ml-eval",
          "shared-algebra"),
)
def logreg_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the IRLS classifier: fixed-width
    deciles of predicted probability vs the observed positive rate in
    each bin — the calibration check that decides whether a quality
    classifier's scores can be thresholded directly or need Platt/
    isotonic recalibration. Fixed 0.1-wide bins, not ntile: quantile
    bins put boundary documents on engine-dependent sides.

    Scale shape: shares _logreg_features/_irls_beta with the
    classifier query — the persisted feature relation feeds both
    IRLS aggregates and the scoring pass; binning is one more
    map-side expression + a ≤10-row aggregate.
    """
    feats = _logreg_features(spark, sf_dir)
    beta = _irls_beta(spark, feats, iters=2)
    scored = feats.crossJoin(F.broadcast(beta)).select(
        "y", F.expr(_P).alias("p")
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.avg("p").cast("float").alias("avg_pred"),
            F.avg("y").cast("float").alias("frac_positive"),
        )
    )


@register(
    "brier_decomposition",
    oracle=f"""
    WITH feats AS ({_FEATS_SQL}),
    seed AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN seed),
    beta1 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m1),
    m2 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN beta1),
    beta2 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m2),
    scored AS (
        SELECT y, {_CAL_P} AS p,
               LEAST(CAST(FLOOR({_CAL_P} * 10) AS BIGINT), 9) AS bin
        FROM feats CROSS JOIN beta2
    ),
    bins AS (
        SELECT bin, COUNT(*) AS n_k, AVG(p) AS p_k, AVG(y) AS o_k
        FROM scored GROUP BY bin
    ),
    overall AS (
        SELECT COUNT(*) AS n, AVG(y) AS obar,
               AVG((p - y) * (p - y)) AS brier
        FROM scored
    )
    SELECT ROUND(o.brier, 6) AS brier,
           ROUND(SUM(b.n_k * (b.p_k - b.o_k) * (b.p_k - b.o_k)) / o.n, 6)
               AS reliability,
           ROUND(SUM(b.n_k * (b.o_k - o.obar) * (b.o_k - o.obar)) / o.n, 6)
               AS resolution,
           ROUND(o.obar * (1.0 - o.obar), 6) AS uncertainty,
           ROUND(o.brier
                 - (SUM(b.n_k * (b.p_k - b.o_k) * (b.p_k - b.o_k)) / o.n
                    - SUM(b.n_k * (b.o_k - o.obar) * (b.o_k - o.obar)) / o.n
                    + o.obar * (1.0 - o.obar)), 6) + 0.0 AS decomp_gap
    FROM bins b CROSS JOIN overall o
    GROUP BY o.brier, o.obar, o.n
    """,
    tags=("logreg", "calibration", "brier", "ml-eval", "shared-algebra"),
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the classifier's Brier score over the
    decile reliability bins: brier, reliability (miscalibration),
    resolution (discrimination), uncertainty (label base rate), and
    the binning residual ``decomp_gap`` (the decomposition is exact
    only when p is constant within a bin, so the gap is reported
    instead of assumed zero).  One extra ≤10-row aggregate + one
    1-row aggregate over the same persisted scored relation the
    calibration query uses — no additional corpus pass at 100 TB.
    """
    feats = _logreg_features(spark, sf_dir)
    beta = _irls_beta(spark, feats, iters=2)
    scored = feats.crossJoin(F.broadcast(beta)).select(
        "y",
        F.expr(_P).alias("p"),
        F.least(F.floor(F.expr(_P) * 10), F.lit(9)).cast("long").alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_k"),
        F.avg("p").alias("p_k"),
        F.avg("y").alias("o_k"),
    )
    overall = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("obar"),
        F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
            "brier"
        ),
    )
    rel = F.sum(
        F.col("n_k") * (F.col("p_k") - F.col("o_k")) * (F.col("p_k") - F.col("o_k"))
    ) / F.first("n")
    res = F.sum(
        F.col("n_k") * (F.col("o_k") - F.col("obar")) * (F.col("o_k") - F.col("obar"))
    ) / F.first("n")
    unc = F.first("obar") * (F.lit(1.0) - F.first("obar"))
    return (
        bins.crossJoin(F.broadcast(overall))
        .agg(
            F.round(F.first("brier"), 6).alias("brier"),
            F.round(rel, 6).alias("reliability"),
            F.round(res, 6).alias("resolution"),
            F.round(unc, 6).alias("uncertainty"),
            # + 0.0 folds -0.0 to 0.0: the gap is a difference of
            # near-equal FP aggregates whose sign can differ between
            # engines, and repr(-0.0) != repr(0.0) in the parity hash.
            (F.round(F.first("brier") - (rel - res + unc), 6) + F.lit(0.0)).alias("decomp_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Classifier ranking quality — binned ROC: AUC, Gini, KS
# ---------------------------------------------------------------------------


@register(
    "logreg_auc_roc",
    oracle=f"""
    WITH feats AS ({_FEATS_SQL}),
    seed AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN seed),
    beta1 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m1),
    m2 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN beta1),
    beta2 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m2),
    scored AS (
        SELECT y, {_CAL_P} AS p FROM feats CROSS JOIN beta2
    ),
    b AS (
        SELECT LEAST(CAST(FLOOR(p * 64) AS BIGINT), 63) AS bin,
               SUM(y) AS npos, COUNT(*) - SUM(y) AS nneg
        FROM scored GROUP BY 1
    ),
    t AS (SELECT SUM(npos)::DOUBLE AS tp, SUM(nneg)::DOUBLE AS tn FROM b),
    c AS (
        SELECT bin,
               SUM(npos) OVER (ORDER BY bin DESC) / t.tp AS tpr,
               SUM(nneg) OVER (ORDER BY bin DESC) / t.tn AS fpr
        FROM b CROSS JOIN t
    ),
    r AS (
        SELECT tpr, fpr,
               COALESCE(LAG(tpr) OVER (ORDER BY bin DESC), 0.0) AS ptpr,
               COALESCE(LAG(fpr) OVER (ORDER BY bin DESC), 0.0) AS pfpr
        FROM c
    ),
    a AS (
        SELECT SUM((fpr - pfpr) * (tpr + ptpr) / 2) AS auc,
               MAX(ABS(tpr - fpr)) AS ks
        FROM r
    )
    SELECT CAST(t.tp AS BIGINT) AS n_pos, CAST(t.tn AS BIGINT) AS n_neg,
           CAST(a.auc AS REAL) AS auc,
           CAST(2 * a.auc - 1 AS REAL) AS gini,
           CAST(a.ks AS REAL) AS ks
    FROM a CROSS JOIN t
    """,
    tags=("logreg", "auc", "roc", "ks", "ml-eval", "shared-algebra"),
)
def logreg_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking quality of the IRLS classifier: AUC, Gini and the
    Kolmogorov–Smirnov statistic from a 64-bin ROC curve — the
    complement of logreg_calibration_bins (calibration says whether
    scores mean what they claim; AUC/KS say whether they ORDER
    documents correctly, which is what a keep/drop threshold uses).
    Scores falling in one bin are treated as tied (trapezoid over the
    binned ROC) — deterministic on every engine, unlike exact-rank
    AUC whose tie handling is sort-order-dependent.

    Scale shape: the ROC is computed from per-BIN pos/neg counts —
    one map-side-combinable aggregate over the scored corpus into a
    fixed 64-row relation; the cumulative TPR/FPR walk, trapezoid sum
    and KS max all run on those 64 rows (the global window is
    bin-bounded, never corpus-sized). This is the histogram-AUC
    production systems use at scale: exact global ranking would be a
    full sort; binning makes the ranking metric a histogram merge.
    """
    feats = _logreg_features(spark, sf_dir)
    beta = _irls_beta(spark, feats, iters=2)
    scored = feats.crossJoin(F.broadcast(beta)).select(
        "y", F.expr(_P).alias("p")
    )
    # Persisted: t, the ROC walk and the report row all
    # reference this 64-row histogram — the corpus scoring aggregate
    # must run once, not per reference (same fix as delong_auc_ci).
    b = (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 64), F.lit(63))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.sum("y").alias("npos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("nneg"),
        )
        .persist()
    )
    t = b.agg(
        F.sum("npos").cast("double").alias("tp"),
        F.sum("nneg").cast("double").alias("tn"),
    )
    w = Window.orderBy(F.col("bin").desc())
    c = (
        b.crossJoin(F.broadcast(t))
        .select(
            "bin",
            (F.sum("npos").over(w) / F.col("tp")).alias("tpr"),
            (F.sum("nneg").over(w) / F.col("tn")).alias("fpr"),
        )
    )
    r = c.select(
        "tpr",
        "fpr",
        F.coalesce(F.lag("tpr").over(w), F.lit(0.0)).alias("ptpr"),
        F.coalesce(F.lag("fpr").over(w), F.lit(0.0)).alias("pfpr"),
    )
    a = r.agg(
        F.sum(
            (F.col("fpr") - F.col("pfpr"))
            * (F.col("tpr") + F.col("ptpr"))
            / 2
        ).alias("auc"),
        F.max(F.abs(F.col("tpr") - F.col("fpr"))).alias("ks"),
    )
    return a.crossJoin(F.broadcast(t)).select(
        F.col("tp").cast("long").alias("n_pos"),
        F.col("tn").cast("long").alias("n_neg"),
        F.col("auc").cast("float").alias("auc"),
        (2 * F.col("auc") - 1).cast("float").alias("gini"),
        F.col("ks").cast("float").alias("ks"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much of a document is unique to it?
# ---------------------------------------------------------------------------


@register(
    "ngram_novelty_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    db AS (
        SELECT DISTINCT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks CROSS JOIN UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
    ),
    bdf AS (SELECT w1, w2, COUNT(*) AS ndocs FROM db GROUP BY 1, 2)
    SELECT db.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
           CAST(SUM(CASE WHEN bdf.ndocs = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST(CAST(SUM(CASE WHEN bdf.ndocs = 1 THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*) AS REAL) AS novel_frac
    FROM db JOIN bdf USING (w1, w2)
    GROUP BY 1
    """,
    tags=("novelty", "ngram", "memorization", "curation", "text"),
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram novelty: the fraction of a document's
    distinct bigrams that appear in NO other document — high novelty
    marks original content worth keeping; low novelty marks
    boilerplate/template text (the cheap relational cousin of the
    memorization screens run before training).

    Scale shape: one tokenize pass builds the distinct (doc, bigram)
    relation, which feeds both the document-frequency aggregate and the
    probe side from its one distinct exchange (uncached: a lazy persist
    here raced its two consumers' cache builds and varied the job
    count); the probe is an equi-join on the bigram key. Novelty
    fractions are exact integer ratios — the float32 emit is
    bit-stable.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    db = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, size(t) - 1),"
                       " i -> struct(t[i - 1] AS w1, t[i] AS w2))")
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .distinct()
    )
    bdf = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("ndocs"))
    novel = F.sum(F.when(F.col("ndocs") == 1, 1).otherwise(0))
    return (
        db.join(bdf, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
            novel.cast("long").alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1)))
            .cast("float")
            .alias("novel_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit
# ---------------------------------------------------------------------------

#: Vocabulary cut for the Zipf fit (TakeOrderedAndProject, never a
#: global window over the unbounded term domain).
_ZIPF_TOP_TERMS = 1000


@register(
    "zipf_slope",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS f FROM toks GROUP BY term),
    top AS (
        SELECT term, f FROM freq
        ORDER BY f DESC, term LIMIT {_ZIPF_TOP_TERMS}
    ),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS r
        FROM top
    ),
    xy AS (SELECT LN(r) AS x, LN(f) AS y FROM ranked)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / NULLIF(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x), 0), 6)
               AS slope,
           ROUND((SUM(y) - SUM(x) * (COUNT(*) * SUM(x * y)
                  - SUM(x) * SUM(y))
                  / NULLIF(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x), 0))
                 / COUNT(*), 6) AS intercept
    FROM xy
    """,
    tags=("linguistics", "zipf", "vocabulary", "ols", "topk"),
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) vs ln(rank) for the top-1000 terms — natural text
    sits near slope -1; a synthetic or templated corpus (like this
    one) deviates, which is exactly what the diagnostic detects in a
    curation pipeline (vocabulary health check before tokenizer
    training).

    Scale shape: one term-count aggregate, then the vocabulary cut
    is orderBy+limit (TakeOrderedAndProject — the term domain grows
    with the corpus, so a global ranking window is banned); ranks
    are assigned by a window over the capped 1000-row relation and
    the fit is ONE closed-form aggregate."""
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        F.explode(tokens_col(F.col("text"))).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").alias("f"))
    top = freq.orderBy(F.col("f").desc(), "term").limit(_ZIPF_TOP_TERMS)
    ranked = top.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("f").desc(), "term")),
    )
    xy = ranked.select(
        F.log("r").alias("x"), F.log("f").alias("y")
    )
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return xy.agg(
        n.alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - sx * slope) / n, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram scoring
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount


@register(
    "kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks CROSS JOIN UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
    ),
    bgc AS (SELECT w1, w2, COUNT(*)::DOUBLE AS cb FROM bg GROUP BY 1, 2),
    fw AS (
        SELECT w1, SUM(cb) AS cw1, COUNT(*)::DOUBLE AS n1p_fw
        FROM bgc GROUP BY 1
    ),
    bw AS (SELECT w2, COUNT(*)::DOUBLE AS n1p_bw FROM bgc GROUP BY 1),
    ty AS (SELECT COUNT(*)::DOUBLE AS tt FROM bgc)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(AVG(LN((bgc.cb - {_KN_D}) / fw.cw1
                       + {_KN_D} * fw.n1p_fw / fw.cw1
                         * (bw.n1p_bw / ty.tt))) AS REAL)
               AS kn_logprob
    FROM bg
    JOIN bgc USING (w1, w2)
    JOIN fw USING (w1)
    JOIN bw USING (w2)
    CROSS JOIN ty
    GROUP BY 1
    """,
    tags=("language-model", "kneser-ney", "smoothing", "bigram",
          "curation", "text"),
)
def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram scoring — the smoothing that
    actually ships in KenLM, vs bigram_interp_logprob's simple
    unigram interpolation: the discount D=0.75 is moved from every
    seen bigram onto the CONTINUATION probability N₁₊(·,w₂)/N₁₊(··)
    ('how many contexts does w₂ complete' — so "Francisco" scores
    low after anything but "San" even though it's frequent).  All
    four statistics (bigram counts, left-context totals and fan-out,
    right fan-in, type total) are aggregates of the bigram-TYPE
    relation, which is Zipf-small.

    Scale shape: mirror of bigram_interp_logprob, except that the
    tokenize pass is not cached (a cached one cost 17 jobs and 184
    tasks against 13 and 25 uncached at sf0.01); the doc-bigram →
    bigram-count attachment is a COUNT WINDOW over the single
    (w1, w2) exchange (not a groupBy + self-equi-join — r8 §2.4);
    the fan-out/fan-in relations ride the same bgc aggregate and
    broadcast onto the probe.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    bg = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # Zipf-small bigram-TYPE relation: feeds the fw/bw/ty statistics
    # (the probe no longer joins it — cb rides the count window).
    bgc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("cb")
    )
    fw = bgc.groupBy("w1").agg(
        F.sum("cb").alias("cw1"),
        F.count(F.lit(1)).cast("double").alias("n1p_fw"),
    )
    bw = bgc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("double").alias("n1p_bw")
    )
    ty = bgc.agg(F.count(F.lit(1)).cast("double").alias("tt"))
    p_kn = (
        (F.col("cb") - _KN_D) / F.col("cw1")
        + _KN_D
        * F.col("n1p_fw")
        / F.col("cw1")
        * (F.col("n1p_bw") / F.col("tt"))
    )
    wb = Window.partitionBy("w1", "w2")
    return (
        bg.withColumn("cb", F.count(F.lit(1)).over(wb).cast("double"))
        .join(F.broadcast(fw), "w1")
        .join(F.broadcast(bw), "w2")
        .crossJoin(F.broadcast(ty))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log(p_kn)).cast("float").alias("kn_logprob"),
        )
    )


@register(
    "isotonic_calibration_bins",
    oracle=f"""
    WITH feats AS ({_FEATS_SQL}),
    seed AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN seed),
    beta1 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m1),
    m2 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN beta1),
    beta2 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m2),
    scored AS (
        SELECT y, LEAST(CAST(FLOOR({_CAL_P} * 10) AS BIGINT), 9) AS bin
        FROM feats CROSS JOIN beta2
    ),
    bins AS (
        SELECT bin, COUNT(*)::DOUBLE AS n_k, AVG(y) AS o_k
        FROM scored GROUP BY bin
    ),
    pairs AS (
        SELECT a.bin AS i, b.bin AS j,
               SUM(m.n_k * m.o_k) / SUM(m.n_k) AS av
        FROM bins a
        JOIN bins b ON b.bin >= a.bin
        JOIN bins m ON m.bin BETWEEN a.bin AND b.bin
        GROUP BY a.bin, b.bin
    ),
    iso AS (
        SELECT k, MAX(mn) AS iso_fit FROM (
            SELECT kb.bin AS k, p.i, MIN(p.av) AS mn
            FROM bins kb
            JOIN pairs p ON p.i <= kb.bin AND p.j >= kb.bin
            GROUP BY kb.bin, p.i
        ) GROUP BY k
    )
    SELECT b.bin,
           CAST(b.n_k AS BIGINT) AS n_docs,
           CAST(b.o_k AS REAL) AS frac_positive,
           CAST(i.iso_fit AS REAL) AS iso_fit
    FROM bins b JOIN iso i ON i.k = b.bin
    """,
    tags=("logreg", "calibration", "isotonic", "pava", "ml-eval",
          "shared-algebra"),
)
def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) recalibration of the classifier's reliability
    curve — the exact weighted isotonic fit via the minimax identity
    iso(k) = max_{{i<=k}} min_{{j>=k}} weighted-avg(o over bins i..j),
    which equals the pool-adjacent-violators solution in CLOSED FORM,
    so the inherently sequential PAVA sweep never runs: everything is
    joins and aggregates over the <=10-row bin relation (pairs <=55
    rows, minimax <=550) — trivially parallel and exactly replayable
    in SQL.  This is the recalibration step logreg_calibration_bins'
    docstring points at when a quality classifier's scores are
    miscalibrated but rank correctly."""
    feats = _logreg_features(spark, sf_dir)
    beta = _irls_beta(spark, feats, iters=2)
    scored = feats.crossJoin(F.broadcast(beta)).select(
        "y",
        F.least(F.floor(F.expr(_P) * 10), F.lit(9)).cast("long").alias("bin"),
    )
    # Persisted: referenced by the i/j spines, the
    # pooled-average join, the k spine and the report join — five
    # references that each re-ran the corpus scoring aggregate.
    bins = (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_k"),
            F.avg("y").alias("o_k"),
        )
        .persist()
    )
    a = bins.select(F.col("bin").alias("i"))
    b = bins.select(F.col("bin").alias("j"))
    m = bins.select(F.col("bin").alias("mb"), "n_k", "o_k")
    pairs = (
        a.join(b, F.col("j") >= F.col("i"))
        .join(m, (F.col("mb") >= F.col("i")) & (F.col("mb") <= F.col("j")))
        .groupBy("i", "j")
        .agg(
            (F.sum(F.col("n_k") * F.col("o_k")) / F.sum("n_k")).alias("av")
        )
    )
    kspine = bins.select(F.col("bin").alias("k"))
    iso = (
        kspine.join(
            pairs, (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k"))
        )
        .groupBy("k", "i")
        .agg(F.min("av").alias("mn"))
        .groupBy("k")
        .agg(F.max("mn").alias("iso_fit"))
    )
    return bins.join(iso, bins.bin == iso.k).select(
        "bin",
        F.col("n_k").cast("long").alias("n_docs"),
        F.col("o_k").cast("float").alias("frac_positive"),
        F.col("iso_fit").cast("float").alias("iso_fit"),
    )


# ---------------------------------------------------------------------------
# DeLong AUC standard error from the binned score histogram
# ---------------------------------------------------------------------------


@register(
    "delong_auc_ci",
    oracle=f"""
    WITH feats AS ({_FEATS_SQL}),
    seed AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN seed),
    beta1 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m1),
    m2 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN beta1),
    beta2 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m2),
    scored AS (
        SELECT y, {_CAL_P} AS p FROM feats CROSS JOIN beta2
    ),
    b AS (
        SELECT LEAST(CAST(FLOOR(p * 64) AS BIGINT), 63) AS bin,
               SUM(y)::BIGINT AS npos,
               (COUNT(*) - SUM(y))::BIGINT AS nneg
        FROM scored GROUP BY 1
    ),
    t AS (SELECT SUM(npos)::DOUBLE AS m, SUM(nneg)::DOUBLE AS n FROM b),
    c AS (
        SELECT bin, npos, nneg,
               COALESCE(SUM(npos) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cpos,
               COALESCE(SUM(nneg) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cneg
        FROM b
    ),
    v AS (
        SELECT npos, nneg,
               (cneg + 0.5 * nneg) / t.n AS v10,
               (t.m - cpos - 0.5 * npos) / t.m AS v01
        FROM c CROSS JOIN t
    ),
    a AS (SELECT SUM(npos * v10) / t.m AS auc FROM v CROSS JOIN t GROUP BY t.m),
    s AS (
        SELECT SUM(npos * (v10 - a.auc) * (v10 - a.auc)) / (t.m - 1) AS s10,
               SUM(nneg * (v01 - a.auc) * (v01 - a.auc)) / (t.n - 1) AS s01
        FROM v CROSS JOIN a CROSS JOIN t GROUP BY t.m, t.n
    )
    SELECT CAST(t.m AS BIGINT) AS n_pos, CAST(t.n AS BIGINT) AS n_neg,
           CAST(a.auc AS REAL) AS auc,
           CAST(SQRT(s.s10 / t.m + s.s01 / t.n) AS REAL) AS se,
           CAST(a.auc - 1.959963984540054
                        * SQRT(s.s10 / t.m + s.s01 / t.n) AS REAL) AS ci_lo,
           CAST(a.auc + 1.959963984540054
                        * SQRT(s.s10 / t.m + s.s01 / t.n) AS REAL) AS ci_hi
    FROM a CROSS JOIN s CROSS JOIN t
    """,
    tags=("delong", "auc", "confidence-interval", "ml-eval",
          "shared-algebra"),
)
def delong_auc_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong standard error and 95% CI for the SAME classifier AUC
    that ``logreg_auc_roc`` reports — the uncertainty that decides
    whether "model B's AUC is 0.003 higher" is signal or noise
    (DeLong, DeLong & Clarke-Pearson 1988).  A point AUC without its
    SE is not a model-comparison tool.

    The estimator needs per-observation PLACEMENTS (for each
    positive, the fraction of negatives ranked below it; vice versa
    for negatives).  Computed naively that is a per-row rank — a
    corpus sort.  On the 64-bin score histogram the placements are
    CONSTANT within a bin (v10_b = (cneg_b + nneg_b/2)/n), so both
    the AUC (the npos-weighted placement mean — identical to the
    trapezoid over the binned ROC) and the two placement variances
    S10/S01 are aggregates over the SAME fixed 64-row relation
    logreg_auc_roc already builds: one map-side-combinable corpus
    aggregate, then arithmetic on 64 rows.  Tie handling (0.5 per
    tied pair) is exact by construction — bins ARE the tie groups.

    Scale shape: identical to logreg_auc_roc — the corpus is touched
    once to fill the histogram; every statistic including the
    variance of 600k placements is recovered from 64 (bin, npos,
    nneg) triples, which is what makes a bootstrap-free AUC CI
    feasible at 100 TB (DeLong replaces 1000 bootstrap rescans with
    closed-form placement algebra)."""
    feats = _logreg_features(spark, sf_dir)
    beta = _irls_beta(spark, feats, iters=2)
    scored = feats.crossJoin(F.broadcast(beta)).select(
        "y", F.expr(_P).alias("p")
    )
    # Persisted: the placement algebra below references
    # this 64-row histogram ~10 times through the broadcast chain
    # (t, c, v, a, s, report row) — without the persist each reference
    # re-ran the corpus scoring aggregate (measured: 102 jobs for one
    # query; the histogram is the last corpus-touching relation).
    b = (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 64), F.lit(63))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.sum("y").cast("long").alias("npos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("nneg"),
        )
        .persist()
    )
    t = b.agg(
        F.sum("npos").cast("double").alias("m"),
        F.sum("nneg").cast("double").alias("n"),
    )
    wprev = (
        Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = b.select(
        "bin",
        "npos",
        "nneg",
        F.coalesce(F.sum("npos").over(wprev), F.lit(0)).alias("cpos"),
        F.coalesce(F.sum("nneg").over(wprev), F.lit(0)).alias("cneg"),
    )
    # Also persisted: both the AUC aggregate and the S10/S01 variance
    # aggregate consume the 64-row placement relation.
    v = (
        c.crossJoin(F.broadcast(t))
        .select(
            "npos",
            "nneg",
            ((F.col("cneg") + 0.5 * F.col("nneg")) / F.col("n")).alias(
                "v10"
            ),
            (
                (F.col("m") - F.col("cpos") - 0.5 * F.col("npos"))
                / F.col("m")
            ).alias("v01"),
        )
        .persist()
    )
    a = v.crossJoin(F.broadcast(t)).groupBy("m").agg(
        (F.sum(F.col("npos") * F.col("v10")) / F.col("m")).alias("auc")
    ).select("auc")
    s = (
        v.crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(t))
        .groupBy("m", "n")
        .agg(
            (
                F.sum(
                    F.col("npos")
                    * (F.col("v10") - F.col("auc"))
                    * (F.col("v10") - F.col("auc"))
                )
                / (F.col("m") - 1)
            ).alias("s10"),
            (
                F.sum(
                    F.col("nneg")
                    * (F.col("v01") - F.col("auc"))
                    * (F.col("v01") - F.col("auc"))
                )
                / (F.col("n") - 1)
            ).alias("s01"),
        )
        .select("s10", "s01")
    )
    z = 1.959963984540054
    se = F.sqrt(F.col("s10") / F.col("m") + F.col("s01") / F.col("n"))
    return (
        a.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(t))
        .select(
            F.col("m").cast("long").alias("n_pos"),
            F.col("n").cast("long").alias("n_neg"),
            F.col("auc").cast("float").alias("auc"),
            se.cast("float").alias("se"),
            (F.col("auc") - z * se).cast("float").alias("ci_lo"),
            (F.col("auc") + z * se).cast("float").alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps' law fit (vocabulary growth exponent) at doc-count checkpoints
# ---------------------------------------------------------------------------

_HEAPS_K = 32  # corpus-prefix checkpoints

_SQL_TRIGRAMS = (
    "list_transform(range(1, greatest(len({t}) - 1, 1)),"
    " i -> array_to_string({t}[i:i+2], ' '))"
)
_SQL_TRIGRAMS_TEXT = _SQL_TRIGRAMS.format(
    t=r"string_split_regex(trim(text), '\s+')"
)


@register(
    "heaps_law_fit",
    oracle=f"""
    WITH tri AS (
        SELECT doc_id,
               unnest({_SQL_TRIGRAMS_TEXT}) AS g
        FROM documents
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*)::BIGINT AS c FROM tri GROUP BY doc_id
    ),
    fd AS (SELECT g, MIN(doc_id) AS fdoc FROM tri GROUP BY g),
    nn AS (SELECT MAX(doc_id) + 1 AS n FROM per_doc),
    cuts AS (
        SELECT k, CAST(FLOOR(n * k / {_HEAPS_K}.0) AS BIGINT) AS cut
        FROM (SELECT UNNEST(generate_series(1, {_HEAPS_K})) AS k
              FROM nn), nn
    ),
    nk AS (
        SELECT c2.k, SUM(p.c)::BIGINT AS n_tokens
        FROM per_doc p JOIN cuts c2 ON p.doc_id < c2.cut
        GROUP BY c2.k
    ),
    vk AS (
        SELECT c2.k, COUNT(*)::BIGINT AS v_types
        FROM fd JOIN cuts c2 ON fd.fdoc < c2.cut
        GROUP BY c2.k
    ),
    pts AS (
        SELECT ln(CAST(nk.n_tokens AS DOUBLE)) AS x,
               ln(CAST(vk.v_types AS DOUBLE)) AS y
        FROM nk JOIN vk ON nk.k = vk.k
    ),
    m AS (
        SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST((n*sxy - sx*sy) / (n*sxx - sx*sx) AS REAL) AS beta,
           CAST((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n
                AS REAL) AS ln_k,
           CAST((n*sxy - sx*sy) * (n*sxy - sx*sy)
                / ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS REAL) AS r2
    FROM m
    """,
    tags=("heaps-law", "vocabulary-growth", "corpus-statistics",
          "text-analysis", "power-law"),
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit V(N) = K·N^β — the vocabulary-growth exponent
    that predicts how a tokenizer's open-vocabulary burden scales
    with corpus size (the prefix-growth sibling of ``zipf_slope``,
    which fits the static rank-frequency law).  Types here are token
    TRIGRAMS (this synthetic corpus has a ~30-word closed vocabulary,
    so unigram V saturates instantly and the unigram fit would be
    0/0-degenerate; trigram space is large enough to still be
    filling — on natural text you would pass unigrams).

    Distributed prefix trick: V at a corpus-prefix checkpoint needs
    NO re-scan per checkpoint — each type contributes to every
    prefix after its FIRST document, so one MIN(doc_id) aggregate
    per type plus a 32-row broadcast checkpoint relation gives all
    32 (N_k, V_k) points; the log-log OLS then runs on 32 rows.
    Work is Σ tokens + |types|, independent of checkpoint count's
    naive |checkpoints|·corpus cost.

    Scale shape: two grouped aggregates (per-doc token counts,
    per-type first-doc), two broadcast-checkpoint conditional
    aggregates, one 6-cell moment aggregate."""
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    # Per-doc trigram COUNT is just size(toks) - 2 — a map-only
    # projection; the old groupBy over the exploded trigram stream
    # re-ran the whole tokenize+explode pass a second time just to
    # count rows per doc (r8 §2.3: don't shuffle what a projection
    # already knows).  Duplicates are kept in the count (c counts ALL
    # trigram instances), so the arithmetic is unchanged.
    per_doc = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.when(F.size("toks") >= 3, F.size("toks") - 2)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("c"),
    ).filter(F.col("c") > 0)
    tri = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN"
                " transform(sequence(1, size(toks) - 2),"
                "  i -> concat_ws(' ', element_at(toks, i),"
                "   element_at(toks, i + 1), element_at(toks, i + 2)))"
                " ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("g"),
    )
    fd = tri.groupBy("g").agg(F.min("doc_id").alias("fdoc"))
    nn = per_doc.agg((F.max("doc_id") + 1).alias("n"))
    cuts = nn.select(
        F.explode(F.sequence(F.lit(1), F.lit(_HEAPS_K))).alias("k"),
        "n",
    ).select(
        "k",
        F.floor(F.col("n") * F.col("k") / float(_HEAPS_K))
        .cast("long")
        .alias("cut"),
    )
    nk = (
        per_doc.crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") < F.col("cut"))
        .groupBy("k")
        .agg(F.sum("c").cast("long").alias("n_tokens"))
    )
    vk = (
        fd.crossJoin(F.broadcast(cuts))
        .filter(F.col("fdoc") < F.col("cut"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("v_types"))
    )
    pts = nk.join(vk, "k").select(
        F.log(F.col("n_tokens").cast("double")).alias("x"),
        F.log(F.col("v_types").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    b_den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        F.col("n").cast("long").alias("n_points"),
        (b_num / b_den).cast("float").alias("beta"),
        ((F.col("sy") - b_num / b_den * F.col("sx")) / F.col("n"))
        .cast("float")
        .alias("ln_k"),
        (
            b_num
            * b_num
            / (b_den * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
        )
        .cast("float")
        .alias("r2"),
    )


# ---------------------------------------------------------------------------
# Expected calibration error (ECE / MCE) of the quality classifier
# ---------------------------------------------------------------------------


@register(
    "expected_calibration_error",
    oracle=f"""
    WITH feats AS ({_FEATS_SQL}),
    seed AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN seed),
    beta1 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2
              FROM m1),
    m2 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN beta1),
    beta2 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2
              FROM m2),
    scored AS (
        SELECT y, {_CAL_P} AS p,
               LEAST(CAST(FLOOR({_CAL_P} * 10) AS BIGINT), 9) AS bin
        FROM feats CROSS JOIN beta2
    ),
    bins AS (
        SELECT bin, COUNT(*)::DOUBLE AS n_k, AVG(p) AS p_k, AVG(y) AS o_k
        FROM scored GROUP BY bin
    ),
    tot AS (SELECT SUM(n_k) AS n FROM bins)
    SELECT CAST(tot.n AS BIGINT) AS n_docs,
           (SELECT COUNT(*)::BIGINT FROM bins) AS n_bins,
           CAST(SUM((n_k / tot.n) * ABS(o_k - p_k)) AS REAL) AS ece,
           CAST(MAX(ABS(o_k - p_k)) AS REAL) AS mce
    FROM bins CROSS JOIN tot
    GROUP BY tot.n
    """,
    tags=("calibration", "ece", "ml-eval", "reliability",
          "shared-algebra"),
)
def expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected calibration error (and max calibration error) of the
    IRLS quality classifier — the ONE-NUMBER summary of the
    reliability diagram ``logreg_calibration_bins`` draws:
    ECE = Σ_k (n_k/N)·|observed_k − predicted_k| over the same
    fixed-width deciles, MCE the worst bin.  This is the metric
    model cards report and the acceptance gate before a classifier's
    scores are used as probabilities (e.g., as sampling weights in
    ``dsir_importance_weights``-style pipelines).

    Scale shape: identical to the reliability diagram — shared
    persisted feature relation, two IRLS moment aggregates, one
    scoring pass, a ≤10-row bin aggregate, then scalar algebra on
    it.  Fixed-width bins, not ntile, for engine-stable binning."""
    feats = _logreg_features(spark, sf_dir)
    beta = _irls_beta(spark, feats, iters=2)
    scored = feats.crossJoin(F.broadcast(beta)).select(
        "y",
        F.expr(_P).alias("p"),
    ).select(
        "y",
        "p",
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("long")
        .alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n_k"),
        F.avg("p").alias("p_k"),
        F.avg("y").alias("o_k"),
    )
    tot = bins.agg(F.sum("n_k").alias("n"))
    return bins.crossJoin(F.broadcast(tot)).agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(
            (F.col("n_k") / F.col("n")) * F.abs(F.col("o_k") - F.col("p_k"))
        )
        .cast("float")
        .alias("ece"),
        F.max(F.abs(F.col("o_k") - F.col("p_k"))).cast("float").alias("mce"),
    )


# ---------------------------------------------------------------------------
# Spiegelhalter's calibration z-test on the IRLS classifier scores
# ---------------------------------------------------------------------------


@register(
    "spiegelhalter_calibration_z",
    oracle=f"""
    WITH feats AS ({_FEATS_SQL}),
    seed AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN seed),
    beta1 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m1),
    m2 AS (SELECT {_IRLS_MOMENT_SQL} FROM feats CROSS JOIN beta1),
    beta2 AS (SELECT {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m2),
    scored AS (
        SELECT y, {_CAL_P} AS p FROM feats CROSS JOIN beta2
    ),
    m AS (
        SELECT COUNT(*)::DOUBLE AS n,
               SUM((y - p) * (1.0 - 2.0 * p)) AS num,
               SUM((1.0 - 2.0 * p) * (1.0 - 2.0 * p) * p * (1.0 - p))
                   AS den,
               SUM((y - p) * (y - p)) / COUNT(*) AS brier
        FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(ROUND(brier, 6) AS REAL) AS brier,
           CAST(ROUND(num / SQRT(den), 4) AS REAL) AS spiegelhalter_z,
           CASE WHEN ABS(num / SQRT(den)) > 1.959963984540054
                THEN 1 ELSE 0 END AS miscalibrated_95
    FROM m
    """,
    tags=("calibration", "spiegelhalter", "z-test", "ml-eval",
          "shared-algebra"),
)
def spiegelhalter_calibration_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter's z-test of calibration for the IRLS quality
    classifier — the SIGNIFICANCE member of the calibration family:
    the reliability bins show WHERE miscalibration lives, ECE and the
    Brier decomposition quantify HOW MUCH, this answers "is it more
    than chance?"  Under perfect calibration E[(y−p)(1−2p)] = 0 with
    variance Σ(1−2p)²p(1−p), so Z = Σ(y−p)(1−2p)/√Σ(1−2p)²p(1−p) is
    asymptotically standard normal — and unlike a binned test it
    needs NO bin choice, the usual researcher degree of freedom.

    Scale shape: shares the persisted feature relation and the
    two-step closed-form IRLS with the classifier queries; the test
    itself is ONE extra 3-cell moment fold over the scored rows."""
    feats = _logreg_features(spark, sf_dir)
    beta = _irls_beta(spark, feats, iters=2)
    scored = feats.crossJoin(F.broadcast(beta)).select(
        "y", F.expr(_P).alias("p")
    )
    m = scored.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(
            (F.col("y") - F.col("p")) * (1.0 - 2.0 * F.col("p"))
        ).alias("num"),
        F.sum(
            (1.0 - 2.0 * F.col("p"))
            * (1.0 - 2.0 * F.col("p"))
            * F.col("p")
            * (1.0 - F.col("p"))
        ).alias("den"),
        (
            F.sum(
                (F.col("y") - F.col("p")) * (F.col("y") - F.col("p"))
            )
            / F.count(F.lit(1))
        ).alias("brier"),
    )
    z = F.col("num") / F.sqrt(F.col("den"))
    return m.select(
        F.col("n").cast("long").alias("n_docs"),
        F.round("brier", 6).cast("float").alias("brier"),
        F.round(z, 4).cast("float").alias("spiegelhalter_z"),
        F.when(F.abs(z) > 1.959963984540054, 1)
        .otherwise(0)
        .alias("miscalibrated_95"),
    )
