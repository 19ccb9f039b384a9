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
attributed to its query.  Operator-owned persists are NOT released
per query — at sf0.001 the tracked caches are kilobytes — but once at
the end, preserving the caller-owned-cache contract for the rest of
the session.
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
        spark.catalog.clearCache()
    return results


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(name, parity_results):
    ok, msg = parity_results[name]
    assert ok, f"{name}: {msg}"


def test_every_query_declares_tags():
    for name, spec in REGISTRY.items():
        assert spec.tags, f"{name} has no tags"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())
