"""Unit tests for the scalar/struct/array function layer against the
reference's documented semantics (with the SQL-domain divergences
SURVEY.md §7 calls out)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from axolotls_spark.functions import (
    cosine,
    dot,
    fill_null,
    fill_null_frame,
    logit,
    map_numeric_fields,
    norm,
    safe_div,
    safe_log,
)
from axolotls_spark.functions.arrays import let


def test_fill_null(spark):
    # reference numeric_column.py:56-63 — criteo demo fill_null(0)
    df = spark.createDataFrame([(1382,), (2,), (None,), (3,)], "x: long")
    out = [r.y for r in df.select(fill_null(F.col("x"), 0).alias("y")).collect()]
    assert out == [1382, 2, 0, 3]


def test_safe_div_null_on_zero(spark):
    df = spark.createDataFrame([(1.0, 2.0), (1.0, 0.0), (0.0, 0.0)], "a: double, b: double")
    out = [r.q for r in df.select(safe_div(F.col("a"), F.col("b")).alias("q")).collect()]
    assert out[0] == 0.5 and out[1] is None and out[2] is None


def test_safe_log_domain(spark):
    df = spark.createDataFrame([(math.e,), (0.0,), (-1.0,)], "x: double")
    out = [r.y for r in df.select(safe_log(F.col("x")).alias("y")).collect()]
    assert out[0] == pytest.approx(1.0) and out[1] is None and out[2] is None


def test_logit_matches_torch_formula(spark):
    # torch.logit(0.25) == log(0.25/0.75); eps clamps into [eps, 1-eps]
    df = spark.createDataFrame([(0.25,), (1.5,)], "p: double")
    out = df.select(
        logit(F.col("p")).alias("plain"), logit(F.col("p"), eps=0.01).alias("clamped")
    ).collect()
    assert out[0].plain == pytest.approx(math.log(1 / 3))
    assert out[0].clamped == pytest.approx(math.log(1 / 3))
    assert out[1].plain is None  # torch: nan; SQL domain: NULL
    assert out[1].clamped == pytest.approx(math.log(0.99 / 0.01))


def test_struct_broadcast_recursive(spark):
    # reference struct_column.py:88-105 + demo/criteo.py:24-39
    df = spark.createDataFrame(
        [(1, 10.0, "keep"), (2, 20.0, "keep")], "a: long, b: double, s: string"
    ).select("a", "b", "s", F.struct("a", "b").alias("grp"))
    out = map_numeric_fields(df, lambda c: c + F.lit(3)).collect()
    assert out[0].a == 4 and out[0].b == 13.0 and out[0].s == "keep"
    assert out[0].grp.a == 4 and out[0].grp.b == 13.0


def test_fill_null_frame_nested(spark):
    df = spark.createDataFrame([(None, 5)], "x: long, y: long").select(
        "x", F.struct("x", "y").alias("grp")
    )
    out = fill_null_frame(df, 0).collect()[0]
    assert out.x == 0 and out.grp.x == 0 and out.grp.y == 5


def test_array_math(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 0.0, 0.0])], "a: array<double>, b: array<double>")
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("na"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert row.d == pytest.approx(2.0)
    assert row.na == pytest.approx(3.0)
    assert row.c == pytest.approx(2.0 / (3.0 * 2.0))


def test_cosine_zero_norm_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "a: array<double>, b: array<double>")
    assert df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c is None


def test_let_computes_its_value_once(spark):
    """Every read of a ``let`` variable sees one value: a random draw
    read inline in a lambda is drawn again for each element."""
    eight = F.array_repeat(F.lit(1), 8)
    row = spark.range(1).select(
        let(F.rand(), lambda r: F.transform(eight, lambda _: r)).alias("bound"),
        F.transform(eight, lambda _: F.rand()).alias("inline"),
    ).collect()[0]
    assert len(set(row.bound)) == 1
    assert len(set(row.inline)) == 8


def test_approx_sketches_close_to_exact(spark, sf_dir):
    """The promoted bound-oracle query certifies itself: the exact
    columns must equal an independent exact computation and every
    sketch-within-bound flag must be 1."""
    from pyspark.sql import functions as F

    from axolotls_spark.io.sources import load_table
    from axolotls_spark.queries import REGISTRY

    got = {
        r.l_returnflag: r
        for r in REGISTRY["agg_approx_sketches"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for flag, e in exact.items():
        a = got[flag]
        assert a.exact_orders == e.n_orders
        assert a.exact_p50_price == e.p50
        assert a.approx_orders_ok == 1
        assert a.approx_p50_ok == 1


def test_observe_metrics_single_pass(spark):
    """Observation API: pipeline health metrics (row counts, null
    counts, domain violations) collected DURING a job — no second
    scan, no extra action. The governance hook a 100 TB curation run
    attaches to every stage boundary."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from axolotls_spark.io.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    obs = Observation("ingest_health")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("int")).alias("n_null_text"),
        F.sum((F.col("n_chars") <= 0).cast("int")).alias("n_empty"),
    )
    # One action drives both the query and the metrics.
    n_en = observed.filter(F.col("lang") == "en").count()
    got = obs.get
    assert got["n_rows"] == docs.count()
    assert got["n_null_text"] == 0
    assert got["n_empty"] == 0
    assert 0 < n_en < got["n_rows"]


def test_sketch_rollup_accuracy(spark):
    """Merged daily sketches must track exact monthly values: HLL
    distinct within 5%, KLL median within the interquartile spread."""
    from pyspark.sql import functions as F

    from axolotls_spark.io.sources import load_table
    from axolotls_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r.month: r
        for r in REGISTRY["sketch_mergeable_rollup"].fn(spark, sf).collect()
    }
    e = load_table(spark, sf, "events")
    exact = {
        r.month: r
        for r in e.groupBy(
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.median("value").alias("med"),
        )
        .collect()
    }
    assert set(got) == set(exact) and len(got) >= 1
    for m, r in got.items():
        ex = exact[m]
        assert r.exact_users == ex.users
        assert r.users_ok == 1
        assert r.median_ok == 1
        assert r.n_events > 0 and r.n_days >= 1
