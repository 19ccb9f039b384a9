"""Differential tests: every registered query vs its DuckDB oracle.

Mirrors the driver's correctness gate (row count + schema +
order-insensitive value compare with float rounding) at sf0.001 so
regressions surface locally before the per-round verify.

Execution shape (r9): the 437 comparisons are precomputed ONCE by a
session-scoped fixture running them through a small thread pool —
Spark's scheduler runs concurrent jobs in one application happily
(guide §2.6), and per-query wall here is dominated by fixed
plan/submit latency, not compute, so overlapping them cuts the
suite's dominant cost ~4x (the round-8 driver verify TIMED OUT on the
serial suite).  Each worker uses its own DuckDB cursor (cursors share
the parent connection's catalog and are the documented concurrency
unit).  Per-query assertions stay parametrized so a failure is still
attributed to its query.  Persisted relations are NOT released per
query — at sf0.001 they are kilobytes — but once at the end.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from axolotls_spark import cacheutil
from axolotls_spark.queries import REGISTRY
from tools.parity import compare

ALL = sorted(REGISTRY)

_N_WORKERS = 8


@pytest.fixture(scope="session")
def parity_results(spark, duck, sf_dir):
    def one(name: str):
        cur = None
        try:
            cur = duck.cursor()
            return name, compare(name, spark, cur, sf_dir)
        except Exception as e:  # noqa: BLE001 — surfaced per-query below
            return name, (False, f"EXCEPTION: {type(e).__name__}: {e}")
        finally:
            if cur is not None:
                cur.close()

    try:
        with ThreadPoolExecutor(max_workers=_N_WORKERS) as pool:
            results = dict(pool.map(one, ALL))
    finally:
        cacheutil.release_caches()
    return results


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(name, parity_results):
    ok, msg = parity_results[name]
    assert ok, f"{name}: {msg}"


#: Queries that persist relations their lazy results re-read: in the
#: query body, on the dedup path and in the k-means loop.
_PERSISTING = ("cusum_changepoint", "minhash_jaccard_estimate", "kmeans_clusters")


def test_release_caches_frees_every_persist(spark, sf_dir):
    """``release_caches()`` alone leaves the session cache empty, so no
    owner needs a second release step."""
    for name in _PERSISTING:
        REGISTRY[name].fn(spark, sf_dir).collect()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    cacheutil.release_caches()
    assert cache.isEmpty()


#: Queries that materialize a relation outside a convergence round: a
#: bounded test family, an ALS ratings relation and a Markov chain.
_MATERIALIZING = (
    "holm_stepdown_nation_tests",
    "als_rank1_factors",
    "markov_attribution_removal",
)


def test_release_caches_frees_non_loop_materializations(spark, sf_dir):
    """A materialization outside a convergence round is a persist, so
    ``release_caches()`` frees its blocks; an eager ``localCheckpoint``
    would keep them until its RDD is garbage-collected."""
    jsc = spark.sparkContext._jsc.sc()
    cacheutil.release_caches()
    before = jsc.getPersistentRDDs().size()
    for name in _MATERIALIZING:
        REGISTRY[name].fn(spark, sf_dir).collect()
    cacheutil.release_caches()
    assert jsc.getPersistentRDDs().size() <= before


def test_every_query_declares_tags():
    for name, spec in REGISTRY.items():
        assert spec.tags, f"{name} has no tags"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


#: Queries that bind their input tables into ``spark.sql`` text.  They
#: pass each DataFrame as a parameter (``{t}``), which gets a unique
#: view name per call; a fixed session-wide temp-view name would let
#: one query resolve another's table while the parity pool runs 8-way.
_SQL_BOUND = (
    "agg_listagg_group_all",
    "grouping_sets_sales",
    "grouping_sets_sql",
    "lateral_topk_per_nation",
    "recursive_month_spine",
    "rollup_time_hierarchy",
    "sql_pipe_revenue",
    "sql_udf_revenue_bands",
    "udtf_bigrams",
    "udtf_polymorphic_ngrams",
)


def test_sql_bound_queries_concurrent_matches_serial(spark, duck, sf_dir):
    def one(name: str):
        cur = duck.cursor()
        try:
            return compare(name, spark, cur, sf_dir)
        finally:
            cur.close()

    serial = [one(n) for n in _SQL_BOUND]
    with ThreadPoolExecutor(max_workers=_N_WORKERS) as pool:
        concurrent = list(pool.map(one, _SQL_BOUND))
    assert concurrent == serial
    assert all(ok for ok, _ in serial), dict(zip(_SQL_BOUND, serial))
