"""UDF-surface queries: vectorized pandas_udf and mapInArrow stages
whose Python arithmetic is restated in oracle SQL — certifying the
Arrow exchange path end-to-end, not just the math.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axolotls_spark import interop as I
from axolotls_spark.io.sources import load_table
from axolotls_spark.registry import register


@register(
    "udf_pandas_logit",
    oracle="""
    WITH p AS (
        SELECT l_orderkey, l_linenumber,
               1.0 / (l_quantity + 3.0) AS prob
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           CAST(ln(LEAST(GREATEST(prob, 1e-6), 1 - 1e-6)
              / (1 - LEAST(GREATEST(prob, 1e-6), 1 - 1e-6))) AS REAL)
               AS logit_p
    FROM p
    """,
    tags=("udf", "pandas-udf", "vectorized", "arrow", "ref-parity"),
)
def udf_pandas_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference demo's ``(1/(x+3)).logit()`` feature
    (``demo/criteo.py:51``) as a vectorized pandas UDF — numpy kernel
    over Arrow batches, checked against the SQL restatement."""
    li = load_table(spark, sf_dir, "lineitem")
    prob = F.lit(1.0) / (F.col("l_quantity") + F.lit(3.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        I.logit_kernel(prob).cast("float").alias("logit_p"),
    )


@register(
    "udf_grouped_minmax",
    oracle="""
    WITH n AS (
        SELECT vec_id, label,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    )
    SELECT vec_id, label,
           (nrm - MIN(nrm) OVER (PARTITION BY label))
           / NULLIF(MAX(nrm) OVER (PARTITION BY label)
                    - MIN(nrm) OVER (PARTITION BY label), 0) AS norm_mm
    FROM n
    """,
    tags=("udf", "applyInPandas", "grouped-map", "arrow"),
)
def udf_grouped_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas (applyInPandas): per-label min-max scaling
    of embedding norms. The norm is JVM-side; only the per-group
    normalization runs in Python — the split a real pipeline uses
    (cheap math in codegen, statistical kernel in pandas). Min-max
    rather than z-score because min/max are accumulation-order-exact
    in IEEE doubles, so the oracle matches bit-for-bit (mean/stddev
    accumulate differently per engine)."""
    from axolotls_spark.functions.arrays import norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", norm(F.col("embedding")).alias("nrm")
    )

    def minmax(pdf):
        s = pdf["nrm"]
        rng = s.max() - s.min()
        pdf = pdf.assign(norm_mm=(s - s.min()) / rng if rng else None)
        return pdf[["vec_id", "label", "norm_mm"]]

    return emb.groupBy("label").applyInPandas(
        minmax, "vec_id long, label int, norm_mm double"
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT event_id, value * 2.5 AS value
    FROM events
    WHERE value IS NOT NULL
    """,
    tags=("udf", "mapInArrow", "arrow", "batch"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw RecordBatch transform via mapInArrow (zero pandas) —
    the distributed analogue of the reference's zero-copy Arrow
    export (``numeric_column.py:138-159``)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "value").filter(
        F.col("value").isNotNull()
    )
    return I.arrow_scale_batches(e, "value", 2.5)


@register(
    "udtf_bigrams",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents WHERE doc_id < 30
    )
    SELECT doc_id, i::INT AS pos, array_to_string(t[i+1:i+2], ' ') AS ngram
    FROM toks, UNNEST(range(0, greatest(len(t) - 1, 0))) AS u(i)
    """,
    tags=("udtf", "lateral-join", "python-udf", "text-analysis"),
)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) exercised through a SQL LATERAL
    join — one input row expands to (pos, bigram) rows. This is the
    API-surface certification: row-at-a-time Python is the SLOW path
    (the production bigram op is the JVM-side shingles_col explode,
    certified by minhash_* queries); a UDTF earns its cost only for
    logic Spark expressions cannot express."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, ngram: string")
    class Bigrams:
        def eval(self, text: str):
            toks = text.strip().split()
            for i in range(len(toks) - 1):
                yield i, f"{toks[i]} {toks[i + 1]}"

    spark.udtf.register("bigrams", Bigrams)
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.ngram
        FROM {documents} d, LATERAL bigrams(d.text) b
        WHERE d.doc_id < 30
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@register(
    "udaf_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(l_extendedprice * l_quantity) / SUM(l_quantity) AS REAL)
               AS w_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("udaf", "pandas-grouped-agg", "vectorized"),
)
def udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a GROUPED_AGG pandas UDF — the UDAF
    registration surface (quantity-weighted mean price per return
    flag). Arrow ships each group's columns to Python ONCE as
    vectors; numpy reduces them — the same torch-kernel-over-Arrow
    shape as the reference's ops, applied to aggregation.

    Scale note: a Python UDAF forgoes partial aggregation (all rows
    of a group move to one executor), so it's only for aggregates
    Catalyst can't express; this weighted mean IS expressible
    natively (sum(x*w)/sum(w) — the oracle) and the native form is
    what production uses; the UDAF certifies the extension point.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").cast("float").alias("w_avg_price")
    )


@register(
    "sql_udf_revenue_bands",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM(l_extendedprice * (1 - l_discount)) AS revenue,
           CAST(SUM(CASE WHEN l_extendedprice * (1 - l_discount) > 30000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("sql-udf", "create-function", "sql-surface", "agg"),
)
def sql_udf_revenue_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (CREATE TEMPORARY FUNCTION ...
    RETURN expr, Spark 4): the engine's user extension point that
    needs NO Python at execution time — the body inlines into the
    Catalyst plan, so a 'UDF' runs at whole-stage-codegen speed.
    Contrast with udaf_weighted_avg (Python, Arrow hop): SQL UDFs
    are what a shared analytics platform hands analysts at 100 TB.
    The oracle inlines the same expressions."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_rev(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION is_high(r DOUBLE) "
        "RETURNS INT RETURN CASE WHEN r > 30000 THEN 1 ELSE 0 END"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(net_rev(l_extendedprice, l_discount)) AS revenue,
               CAST(SUM(is_high(net_rev(l_extendedprice, l_discount)))
                    AS BIGINT) AS n_high
        FROM {lineitem}
        GROUP BY l_returnflag
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "udtf_polymorphic_ngrams",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE doc_id % 25 = 0
    )
    SELECT doc_id, (i - 1)::INT AS pos,
           array_to_string(toks[i:i+2], ' ') AS gram
    FROM t, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS u(i)
    """,
    tags=("udtf", "polymorphic", "analyze", "text"),
)
def udtf_polymorphic_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze()``): the output
    schema is computed at ANALYSIS time from the call's literal
    arguments — here the n-gram order — so one UDTF serves any n
    with a precise schema, the table-function analogue of a
    generic operator. n=3 is checked against the oracle's trigrams.

    Scale note: the UDTF runs Arrow-batched per partition (map-side,
    no shuffle); the analysis-time schema means Catalyst can prune
    and reason about its columns like any native Generate."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import IntegerType, StringType, StructType

    class NGrams:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = (
                StructType()
                .add("pos", IntegerType())
                .add("gram", StringType())
            )
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            toks = text.strip().split()
            for i in range(max(len(toks) - n + 1, 0)):
                yield i, " ".join(toks[i : i + n])

    spark.udtf.register("poly_ngrams", udtf(NGrams))
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 25 == 0
    )
    return spark.sql(
        "SELECT d.doc_id, g.pos, g.gram "
        "FROM {docs} d, LATERAL poly_ngrams(d.text, 3) g",
        docs=docs,
    )


_DIGSUM_SQL = " + ".join(
    f"(CAST(FLOOR(o_orderkey / {10 ** i}.0) AS BIGINT) % 10)" for i in range(10)
)


@register(
    "udf_arrow_scalar",
    oracle=f"""
    SELECT o_orderkey, {_DIGSUM_SQL} AS digit_sum
    FROM orders
    """,
    tags=("udf", "arrow-optimized", "scalar", "spark4"),
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's Arrow-optimized scalar Python UDF (``useArrow=True``
    — Arrow batch transfer instead of pickled rows, without the
    pandas_udf signature change): a digit-sum kernel whose exact
    integer arithmetic is restated in the oracle as an explicit
    base-10 expansion, certifying the Arrow-UDF exchange path
    value-for-value.

    Scale shape: map-only — the UDF rides the scan with zero
    shuffles. Arrow batching makes the Python hop a columnar batch
    copy; for pure arithmetic like this the production spelling is
    the built-in expression (see oracle), which is the repo-wide
    rule — this query exists to certify the escape hatch, not to
    recommend it.
    """

    @F.udf(returnType="long", useArrow=True)
    def digit_sum(key: int) -> int:
        return sum(int(c) for c in str(key))

    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", digit_sum("o_orderkey").alias("digit_sum"))
