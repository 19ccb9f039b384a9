"""Pin the job count of every perfbench ``queries`` op.

Each query is built and written to the ``noop`` sink twice at sf0.001,
and the jobs of each run are the ones that carry its own SparkContext
job tag (``measure.tagged_jobs``), so build-time jobs count too.  Both
runs must read the committed count.  A change that moves a count
updates ``JOBS`` and reports its A/B (``tools/measure.py``)."""

from __future__ import annotations

import uuid

import pytest

from axolotls_spark import cacheutil
from axolotls_spark.queries import REGISTRY
from perfbench.workloads import QUERIES
from tools import measure

#: Jobs of one build plus ``noop`` write at sf0.001 (the test session's
#: ``sf_dir``).
JOBS = {
    "q1_pricing_summary": 2,
    "cdc_apply_latest": 2,
    "minhash_near_dup_pairs": 4,
    "cosine_topk": 4,
    "nucleus_vocab_size": 5,
    "token_stats_bpe": 2,
    "multimodal_decode": 1,
    "kmeans_clusters": 10,
    "pagerank_trade_graph": 7,
    "pca_project_embeddings": 5,
    "er_best_match": 6,
    "fuzzy_join_doc_titles": 3,
}


def _jobs(spark, sf_dir: str, name: str) -> int:
    sc = spark.sparkContext
    tag = f"job-count-{name}-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.removeJobTag(tag)
    cacheutil.release_caches()
    return len(measure.tagged_jobs(spark, tag))


def test_map_covers_the_perfbench_queries():
    assert set(JOBS) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(JOBS))
def test_job_count(spark, sf_dir, name):
    runs = [_jobs(spark, sf_dir, name) for _ in range(2)]
    assert runs == [JOBS[name]] * 2
