"""Checks of the shared measurement loop (tools/measure.py): the stage
rollup over a canned REST ``stages`` list, conf-arm parsing, the
core-count default, and that every profiling CLI still imports the way
it does when run as a script, all JVM-free; that a profiled run
counts its jobs by its own job tag; and that every run starts on an
empty cache."""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from tools import measure

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _stage(sid, tasks, done, cpu_ms, run_ms, spill=0, name="stage",
           status="COMPLETE"):
    return {"stageId": sid, "status": status,
            "numTasks": tasks, "numCompleteTasks": done,
            "executorCpuTime": cpu_ms * 1_000_000, "executorRunTime": run_ms,
            "shuffleReadBytes": 1_000_000, "shuffleWriteBytes": 500_000,
            "diskBytesSpilled": spill, "name": name}


STAGES = [
    _stage(0, 4, 4, 1500, 2000, spill=3_000_000),
    _stage(1, 200, 8, 500, 9000, spill=1_000_000, name="x" * 80),
    _stage(2, 6, 0, 0, 0, status="SKIPPED"),  # no completed task
    _stage(3, 1, 1, 100, 50),
    # Completion event not yet processed: still counts.
    _stage(4, 2, 2, 400, 10, status="ACTIVE"),
    _stage(9, 7, 7, 9999, 9999),  # another query's stage
]


def test_rollup_counts_like_jobcount():
    # Stage 1 is listed by two jobs (a reused shuffle map stage), and
    # job 12 lists a stage the scrape does not hold (skipped).
    r = measure.rollup({10: [0, 1], 11: [1, 2, 3], 12: [7, 4]}, STAGES)
    assert r["jobs"] == 3
    # Per (job, stage) with completed tasks: 0, 1, 1, 3, 4.
    assert r["stages"] == 5
    # Tasks from numTasks, not from completed tasks.
    assert r["tasks"] == 4 + 200 + 200 + 1 + 2
    # cpu/run/shuffle from each of stages 0, 1, 3 and 4 once.
    assert r["cpu_s"] == 2.5
    assert r["run_s"] == 11.06
    assert r["shuffle_mb"] == 6.0
    assert r["spill_mb"] == 4.0


def test_rollup_ranks_hot_stages_by_run_time():
    r = measure.rollup({1: [2, 3, 4, 0, 1]}, STAGES)
    assert [h["stage"] for h in r["hot"]] == [1, 0, 3]
    assert [h["stage"] for h in measure.rollup({1: [2, 3]}, STAGES)["hot"]] == [3]
    assert r["hot"][0] == {"stage": 1, "run_ms": 9000, "cpu_ms": 500,
                           "tasks": 8, "name": "x" * 50}
    assert measure.rollup({}, STAGES) == {
        "jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
        "shuffle_mb": 0.0, "spill_mb": 0.0, "hot": []}


def test_parse_arm():
    assert measure.parse_arm("") == {}
    assert measure.parse_arm(
        "spark.sql.extensions=a.B,c.D,spark.sql.shuffle.partitions=8"
    ) == {"spark.sql.extensions": "a.B,c.D",
          "spark.sql.shuffle.partitions": "8"}
    with pytest.raises(argparse.ArgumentTypeError, match="'spark.b'"):
        measure.parse_arm("spark.a=1,spark.b")


def test_cores_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert measure.cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert measure.cores() == 7


@pytest.mark.parametrize("tool", [
    "measure", "perfgate", "scaling", "stress", "hashbench", "parity",
    "plan_report", "streamscale", "synth_scale",
])
def test_tool_imports_as_script(tool):
    """A fresh interpreter with tools/ first on sys.path, as when the
    tool runs as a script, so a module there that shadows the stdlib
    (a tools/profile.py hides the ``profile`` that pyspark.profiler
    imports through cProfile) breaks this import, and so does a tool
    that imports a name the package no longer has."""
    code = ("import importlib.util, sys; sys.path.insert(0, sys.argv[1]); "
            "spec = importlib.util.spec_from_file_location('t', sys.argv[2]); "
            "spec.loader.exec_module(importlib.util.module_from_spec(spec))")
    r = subprocess.run(
        [sys.executable, "-c", code, TOOLS, os.path.join(TOOLS, f"{tool}.py")],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr


def test_best_of_counts_stream_jobs_by_tag(spark, sf_dir, monkeypatch):
    """A stream's micro-batch jobs run under the stream's own job group,
    inside ``fn()``; the run's job tag still sees them, as build jobs.
    The test session has no UI, so the stage scrape is stubbed out:
    only job counts are checked."""
    monkeypatch.setattr(measure, "scrape", lambda spark: [])
    (rec,) = measure.best_of(spark, "streaming_hourly_counts", sf_dir, 1,
                             profile=True)
    assert rec["build_jobs"] >= 1
    assert rec["jobs"] > rec["build_jobs"]


def test_best_of_releases_caches_after_every_run(spark, monkeypatch):
    """No repeat sees a relation an earlier repeat persisted, so a
    min-of-N wall never times a cache hit."""
    empty = []

    def fn(spark, sf_dir):
        empty.append(
            spark._jsparkSession.sharedState().cacheManager().isEmpty())
        return spark.range(10).persist()

    monkeypatch.setitem(measure.REGISTRY, "persists", SimpleNamespace(fn=fn))
    spark.catalog.clearCache()
    measure.best_of(spark, "persists", "", 2)
    assert empty == [True, True]
