"""The one measurement loop behind every timing tool, and the per-query
profiler CLI.

``bench.py``, ``tools/perfgate.py`` and ``tools/scaling.py`` time
through :func:`time_queries`; ``tools/stress.py`` shares the session
and stage scrape.  The loop:

- warm-up: q1 through the noop sink primes the JVM and parquet footers;
- a run is the query's build plus a noop-sink write, which materializes
  every row executor-side without shipping it to the driver;
- min-of-N: this VM throttles under sustained load (identical runs vary
  0.5 s -> 7 s), so the minimum is the least-noisy estimate of a plan's
  cost;
- a query's own repeats keep their caches, so repeat 2+ measure the warm
  steady state, but all caches are released between queries, so no
  number depends on what ran before it (the r4 judge measured a uniform
  1.30x accumulation drift without this).

The CLI (``python tools/measure.py --help``) prints one JSON line per
(query, arm): the min-of-N wall ``s`` plus the :func:`rollup` of the
first repeat, which runs right after a cache release, and that repeat's
``build_jobs`` (jobs started while ``fn()`` builds the plan).  Job, stage and
task counts are deterministic where wall time is throttle-noisy, so
plan-shape A/Bs compare those.  Arms are ``spark.k=v`` conf lists,
interleaved per repeat inside ONE session: every arm sees the same
thermal trajectory, so a difference is the conf's alone (AQE and most
SQL confs are read at execution time).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import sys
import time
import urllib.request
import uuid
from collections.abc import Sequence

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from axolotls_spark import cacheutil  # noqa: E402
from axolotls_spark.io.sources import DEFAULT_SF_DIR  # noqa: E402
from axolotls_spark.plans.audit import explain_formatted  # noqa: E402
from axolotls_spark.queries import REGISTRY  # noqa: E402
from axolotls_spark.session import get_spark  # noqa: E402

#: An arm splits only at a comma that starts the next ``spark.`` key, so
#: a comma inside a value (``spark.sql.extensions=a,b``) stays in it.
_ARM_SEP = re.compile(r",(?=spark\.)")


def cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else every CPU this process may run on.
    Timings from different core counts do not compare, so every record
    the tools write carries this number."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def session(tool: str, n_cores: int | str | None = None,
            extra_conf: dict[str, str] | None = None):
    spark = get_spark(f"axolotls-spark-{tool}",
                      master=f"local[{n_cores or cores()}]",
                      extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextlib.contextmanager
def applied(spark, arm: dict[str, str]):
    """Set an arm's conf overrides for the block, then restore them."""
    old = {k: spark.conf.get(k, None) for k in arm}
    for k, v in arm.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def tagged_jobs(spark, tag: str) -> list[int]:
    """Ids of the jobs that carry the SparkContext job tag ``tag``.

    A job tag is a thread-local property that every job the thread
    submits carries, and the threads it starts inherit it, so a
    stream's micro-batch jobs, which run under the stream's own job
    group, are counted too.  The tracker reads the listener bus's
    store: it is drained first, or a job that has already run may not
    be listed yet."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return list(jsc.statusTracker().getJobIdsForTag(tag))


def best_of(spark, name: str, sf_dir: str, repeats: int,
            arms: Sequence[dict[str, str]] = ({},),
            profile: bool = False) -> list[dict]:
    """One record per arm: min-of-``repeats`` wall seconds ``s`` and,
    with ``profile``, the :func:`rollup` of the first repeat plus
    ``build_jobs``, the jobs its ``fn()`` ran before the action.  The
    profiled run's jobs are the ones that carry its own job tag.  With
    several arms, caches are released after every run, so no arm reuses
    another arm's persists."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    recs = [{"s": float("inf")} for _ in arms]
    try:
        for r in range(repeats):
            for rec, arm in zip(recs, arms):
                first = profile and r == 0
                tag = f"measure-{name}-{uuid.uuid4().hex}"
                sc.addJobTag(tag)
                try:
                    with applied(spark, arm):
                        t0 = time.perf_counter()
                        df = REGISTRY[name].fn(spark, sf_dir)
                        built = tagged_jobs(spark, tag) if first else []
                        df.write.format("noop").mode("overwrite").save()
                        rec["s"] = min(rec["s"],
                                       round(time.perf_counter() - t0, 4))
                finally:
                    sc.removeJobTag(tag)
                if first:
                    infos = {j: tracker.getJobInfo(j)
                             for j in tagged_jobs(spark, tag)}
                    rec.update(rollup({j: list(i.stageIds) if i else []
                                       for j, i in infos.items()}, scrape(spark)))
                    rec["build_jobs"] = len(built)
                if len(arms) > 1:
                    cacheutil.release_caches()
    finally:
        cacheutil.release_caches()
    return recs


def time_queries(spark, names: list[str], sf_dir: str,
                 repeats: int) -> dict[str, float]:
    """Warm up, then min-of-N seconds per query; names the registry lacks
    are skipped."""
    best_of(spark, "q1_pricing_summary", sf_dir, 1)  # the warm-up
    out: dict[str, float] = {}
    for name in names:
        if name in REGISTRY:
            out[name] = best_of(spark, name, sf_dir, repeats)[0]["s"]
            print(f"{out[name]:8.3f}  {name}", file=sys.stderr, flush=True)
    return out


def scrape(spark) -> list[dict]:
    """Every stage from the UI REST API: the only stable Python-side
    surface for executor task metrics in local mode.  The listener bus
    feeds its store asynchronously, so it is drained first: otherwise a
    stage whose completion event is still queued reads as ACTIVE with
    stale counts.  :func:`rollup` alone decides which stages count."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def rollup(job_stages: dict[int, list[int]], stages: list[dict]) -> dict:
    """Totals over the stages of ``job_stages`` (job id -> stage ids) in
    a :func:`scrape` list.

    A stage counts once per job that lists it, and only if it completed
    tasks, whatever its status (a skipped stage has none); its tasks are
    ``numTasks``.  cpu, run, shuffle and spill come from each counted
    stage once.  On-CPU time is far less sensitive to the burst-credit
    throttle than wall time, so it breaks count ties.

    ``hot`` is the top-3 counted stages by executor run time, with
    completed task counts: seconds of run time on 1-2 tasks is the r9
    pattern of byte-tiny inputs that AQE coalesces ahead of CPU-dense
    work.
    """
    by_id = {s["stageId"]: s for s in stages}
    listed = [sid for ids in job_stages.values() for sid in ids]
    counted = [by_id[sid] for sid in listed
               if by_id.get(sid, {}).get("numCompleteTasks", 0) > 0]
    own = list({s["stageId"]: s for s in counted}.values())

    def total(*keys: str) -> float:
        return sum(s.get(k, 0) for s in own for k in keys)

    hot = sorted(own, key=lambda s: -s.get("executorRunTime", 0))[:3]
    return {
        "jobs": len(job_stages),
        "stages": len(counted),
        "tasks": sum(s.get("numTasks", 0) for s in counted),
        "cpu_s": round(total("executorCpuTime") / 1e9, 2),
        "run_s": round(total("executorRunTime") / 1e3, 2),
        "shuffle_mb": round(
            total("shuffleReadBytes", "shuffleWriteBytes") / 1e6, 1),
        "spill_mb": round(total("diskBytesSpilled") / 1e6, 1),
        "hot": [{"stage": s["stageId"],
                 "run_ms": s.get("executorRunTime", 0),
                 "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6),
                 "tasks": s.get("numCompleteTasks", 0),
                 "name": s.get("name", "")[:50]} for s in hot],
    }


def parse_arm(spec: str) -> dict[str, str]:
    """``spark.k=v[,spark.k=v...]`` -> conf overrides; ``""`` is none."""
    arm: dict[str, str] = {}
    for token in _ARM_SEP.split(spec) if spec else ():
        key, eq, value = token.partition("=")
        if not eq:
            raise argparse.ArgumentTypeError(
                f"arm token {token!r} is not key=value")
        arm[key] = value
    return arm


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Per-query min-of-N wall time and stage rollup.")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--arm", type=parse_arm, action="append",
                    help="comma-separated spark.k=v conf overrides for one "
                         "arm; repeat for A/B/N (default: one unchanged arm)")
    ap.add_argument("--plan", metavar="DIR",
                    help="write each formatted physical plan to "
                         "DIR/<query>_<arm>.txt")
    args = ap.parse_args()
    arms = args.arm or [{}]

    spark = session("measure")
    best_of(spark, "q1_pricing_summary", args.sf, 1)  # the warm-up
    for name in args.queries:
        recs = best_of(spark, name, args.sf, args.repeats, arms, profile=True)
        for i, (arm, rec) in enumerate(zip(arms, recs)):
            print(json.dumps({"query": name, "arm": i, "conf": arm,
                              "cores": cores(), "sf_dir": args.sf, **rec}),
                  flush=True)
            if args.plan:
                os.makedirs(args.plan, exist_ok=True)
                with applied(spark, arm):
                    text = explain_formatted(REGISTRY[name].fn(spark, args.sf))
                cacheutil.release_caches()
                with open(os.path.join(args.plan, f"{name}_{i}.txt"), "w") as f:
                    f.write(text)


if __name__ == "__main__":
    main()
