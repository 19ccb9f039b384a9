"""Tracing for the benchmark's traced run, attached from outside the program.

``Tracer.install`` wraps every public function of each layer module and
rebinds the wrapper under every name it is bound to in the loaded
``axolotls_spark`` modules, so ``from axolotls_spark.io.sources import
load_table`` call sites are traced too.  A wrapper records a span (name,
start, end, parent) in memory; nothing is written until the run ends.

Spark jobs are attributed after each traced pass from the UI's REST API:
a job belongs to the op whose tag it carries (``SparkSession.addTag``),
or else to the op whose interval holds its submission time, and within
the op to the innermost span open at its submission time.
"""

from __future__ import annotations

import calendar
import functools
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

# Operator modules whose counters the benchmark reports; every module of
# ``axolotls_spark.operators`` is traced so that self times add up.
OPERATORS = (
    "dedup", "similarity", "clustering", "graph", "prefix",
    "text_analysis", "entity", "fuzzy", "pca",
)
SINKS = (
    "write_parquet", "upsert_partitions", "merge_upsert",
    "write_sorted_layout", "replace_bucketed_table", "write_bucketed",
    "compact_small_files", "write_audit_publish",
)
TAG = "perfbench-op-"


def layer_modules() -> dict[str, str]:
    """Layer name -> module name, for every traced layer."""
    import axolotls_spark.operators as ops_pkg

    layers = {
        "session": "axolotls_spark.session",
        "io.sources": "axolotls_spark.io.sources",
        "io.sinks": "axolotls_spark.io.sinks",
        "streaming.jobs": "axolotls_spark.streaming.jobs",
        "multimodal.ops": "axolotls_spark.multimodal.ops",
        "cacheutil": "axolotls_spark.cacheutil",
    }
    for m in pkgutil.iter_modules(ops_pkg.__path__):
        layers[f"operators.{m.name}"] = f"axolotls_spark.operators.{m.name}"
    return layers


def layer_of(span_name: str) -> str:
    return span_name.rsplit(".", 1)[0]


class Tracer:
    """Spans and per-op records of the traced passes of one run."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[tuple] = []  # (id, parent, name, t0, t1, op)
        self.ops: list[dict] = []
        self._ids = iter(range(1, sys.maxsize))
        self._local = threading.local()
        self._main: list[int] = []
        self._patches: list[tuple] = []
        self._op = -1  # index of the op in progress, -1 between ops

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # A callback thread (foreachBatch) nests under the main thread's
        # innermost open span.
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append((sid, parent, name, t0, time.time(), self._op))

    @contextmanager
    def op(self, name: str):
        """Root span of one op; tags the op's Spark jobs."""
        if not self.enabled:
            yield
            return
        tag = f"{TAG}{len(self.ops)}"
        self.spark.addTag(tag)
        self._op = len(self.ops)
        t0 = time.time()
        try:
            with self.span("op"):
                yield
        finally:
            self._op = -1
            self.spark.removeTag(tag)
            self.ops.append({"name": name, "tag": tag, "t0": t0, "t1": time.time()})

    # -- install / uninstall -----------------------------------------------
    def _wrap(self, name: str, fn):
        span = self.span

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        wrappers: dict[int, tuple] = {}
        for layer, modname in layer_modules().items():
            mod = importlib.import_module(modname)
            for attr, fn in vars(mod).items():
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                    or hasattr(fn, "evalType")  # pandas/Python UDF objects
                ):
                    continue
                wrappers[id(fn)] = (fn, self._wrap(f"{layer}.{attr}", fn))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("axolotls_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patches.append((mod, attr, val))
        self.enabled = True

    def uninstall(self) -> None:
        for mod, attr, val in self._patches:
            setattr(mod, attr, val)
        self._patches.clear()
        self.enabled = False

    # -- per-op extras -------------------------------------------------------
    def after_op(self, df, target: str | None, source_bytes: int) -> None:
        """Record the op's Catalyst phases, cached bytes and written bytes.
        Runs after the op's latency is taken, before caches are released."""
        rec = self.ops[-1]
        if df is not None:
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # the sink ran its own copy; plan this one
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                o = phases.get(ph)
                rec[ph] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        rec["storage_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        if target is not None:
            files, size = 0, 0
            for d, _, names in os.walk(target):
                for n in names:
                    if not n.startswith((".", "_")):
                        files += 1
                        size += os.path.getsize(os.path.join(d, n))
            rec.update(files=files, bytes=size, source_bytes=source_bytes)

    # -- job attribution -----------------------------------------------------
    def pass_metrics(self, first_op: int, first_span: int, cores: int) -> dict[str, float]:
        """Per-layer totals of the traced pass made of ops[first_op:] and
        spans[first_span:]."""
        ops = self.ops[first_op:]
        spans = self.spans[first_span:]
        by_id = {s[0]: s for s in spans}
        child_time: dict[int, float] = {}
        for s in spans:
            if s[1] in by_id:
                child_time[s[1]] = child_time.get(s[1], 0.0) + s[4] - s[3]
        self_time = {s[0]: s[4] - s[3] - child_time.get(s[0], 0.0) for s in spans}
        depth: dict[int, int] = {}
        for s in sorted(spans, key=lambda s: s[0]):
            depth[s[0]] = depth.get(s[1], -1) + 1

        jobs = [j for j in rest(self.spark, "jobs") if "submissionTime" in j]
        stages = {
            s["stageId"]: s for s in rest(self.spark, "stages?status=complete")
        }
        tag_to_op = {o["tag"]: first_op + i for i, o in enumerate(ops)}
        job_span: dict[int, int] = {}  # jobId -> innermost span id
        pass_jobs = []
        for j in jobs:
            tags = [_op_tag(t) for t in j.get("jobTags", [])]
            op = next((tag_to_op[t] for t in tags if t in tag_to_op), None)
            sub = epoch(j["submissionTime"])
            if op is None:
                op = next(
                    (first_op + i for i, o in enumerate(ops)
                     if o["t0"] - 1e-3 <= sub <= o["t1"]),
                    None,
                )
            if op is None:
                continue
            pass_jobs.append(j)
            inside = [
                s for s in spans
                if s[5] == op and s[3] - 1e-3 <= sub <= s[4]
            ]
            if inside:
                job_span[j["jobId"]] = max(inside, key=lambda s: depth[s[0]])[0]

        m: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            m[key] = m.get(key, 0.0) + v

        for s in spans:
            name = s[2]
            add(f"{name}.calls", 1)
            add(f"{name}.s", self_time[s[0]])
            add(f"{layer_of(name)}.calls", 1)
            add(f"{layer_of(name)}.s", self_time[s[0]])
        for j in pass_jobs:
            sid = job_span.get(j["jobId"])
            name = by_id[sid][2] if sid is not None else "op"
            add(f"{name}.jobs", 1)
            add(f"{layer_of(name)}.jobs", 1)

        build_ids = {s[0] for s in spans if s[2] == "registry.build"}

        def under_build(sid):
            while sid is not None:
                if sid in build_ids:
                    return True
                sid = by_id[sid][1] if sid in by_id else None
            return False

        out: dict[str, float] = {}
        out["io.sources.load_table.calls"] = m.get("io.sources.load_table.calls", 0)
        out["io.sources.load_table.s"] = m.get("io.sources.load_table.s", 0)
        out["io.sources.load_table.jobs"] = m.get("io.sources.load_table.jobs", 0)
        out["io.sources.spread_for_cpu.calls"] = m.get(
            "io.sources.spread_for_cpu.calls", 0)
        out["io.sources.spread_for_cpu.s"] = m.get("io.sources.spread_for_cpu.s", 0)
        out["registry.build_s"] = m.get("registry.build.s", 0)
        out["registry.build_jobs"] = sum(
            1 for j in pass_jobs if under_build(job_span.get(j["jobId"]))
        )
        for mod in OPERATORS:
            for k in ("calls", "s", "jobs"):
                out[f"operators.{mod}.{k}"] = m.get(f"operators.{mod}.{k}", 0)
        out["multimodal.ops.s"] = m.get("multimodal.ops.s", 0)
        out["cacheutil.tracked"] = m.get("cacheutil.track.calls", 0)
        release = [s for s in spans if s[2] == "cacheutil.release"]
        out["cacheutil.release_s"] = sum(s[4] - s[3] for s in release)
        out["spark.storage_mb"] = max((o.get("storage_mb", 0) for o in ops), default=0)
        for ph in ("analysis", "optimization", "planning"):
            out[f"spark.plan.{ph}_s"] = sum(o.get(ph, 0.0) for o in ops)

        seen: set[int] = set()
        st = {"cpu": 0.0, "run": 0.0, "gc": 0.0, "in": 0.0, "sr": 0.0,
              "sw": 0.0, "spill": 0.0, "stages": 0, "tasks": 0}
        intervals = []
        for j in pass_jobs:
            if "completionTime" in j:
                intervals.append(
                    (epoch(j["submissionTime"]), epoch(j["completionTime"]))
                )
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if s is None or sid in seen:
                    continue
                seen.add(sid)
                st["stages"] += 1
                st["tasks"] += s.get("numCompleteTasks", 0)
                st["cpu"] += s.get("executorCpuTime", 0) / 1e9
                st["run"] += s.get("executorRunTime", 0) / 1e3
                st["gc"] += s.get("jvmGcTime", 0) / 1e3
                st["in"] += s.get("inputBytes", 0) / 1e6
                st["sr"] += s.get("shuffleReadBytes", 0) / 1e6
                st["sw"] += s.get("shuffleWriteBytes", 0) / 1e6
                st["spill"] += s.get("diskBytesSpilled", 0) / 1e6
        exec_s = _union(intervals)
        n_jobs = len(pass_jobs)
        out["spark.exec.s"] = exec_s
        out["spark.jobs"] = n_jobs
        out["spark.stages"] = st["stages"]
        out["spark.tasks"] = st["tasks"]
        out["spark.tasks_per_job"] = st["tasks"] / n_jobs if n_jobs else 0.0
        out["spark.cpu_s"] = st["cpu"]
        out["spark.run_s"] = st["run"]
        out["spark.gc_s"] = st["gc"]
        out["spark.core_busy"] = st["cpu"] / (exec_s * cores) if exec_s else 0.0
        out["spark.input_mb"] = st["in"]
        out["spark.shuffle_read_mb"] = st["sr"]
        out["spark.shuffle_write_mb"] = st["sw"]
        out["spark.spill_mb"] = st["spill"]

        for fn in SINKS:
            out[f"io.sinks.{fn}.s"] = m.get(f"io.sinks.{fn}.s", 0)
            out[f"io.sinks.{fn}.jobs"] = m.get(f"io.sinks.{fn}.jobs", 0)
        files = sum(o.get("files", 0) for o in ops)
        written = sum(o.get("bytes", 0) for o in ops)
        read = sum(o.get("source_bytes", 0) for o in ops)
        out["io.sinks.files_written"] = files
        out["io.sinks.bytes_written"] = written
        out["io.sinks.stored_bytes_ratio"] = written / read if read else 0.0
        name = "streaming.jobs.run_foreach_batch_upsert"
        out[f"{name}.s"] = m.get(f"{name}.s", 0)
        stream_ids = {s[0] for s in spans if s[2] == name}
        out["streaming.batches"] = sum(
            1 for s in spans
            if s[2] == "io.sinks.upsert_partitions" and s[1] in stream_ids
        )
        # Per op: latency minus the self times of every span inside it.
        residuals = []
        for i, o in enumerate(ops):
            inner = sum(
                self_time[s[0]] for s in spans
                if s[5] == first_op + i and s[2] != "op"
            )
            o["residual_s"] = o["latency_s"] - inner
            o["self_s"] = {}
            for s in spans:
                if s[5] == first_op + i:
                    lay = layer_of(s[2]) if s[2] != "op" else "op"
                    o["self_s"][lay] = o["self_s"].get(lay, 0.0) + self_time[s[0]]
            residuals.append(o["residual_s"])
        out["trace.residual_s"] = sum(residuals)
        return out

    def dump(self, path: str) -> None:
        """Write every span and op record, one JSON object a line."""
        with open(path, "w") as f:
            for o in self.ops:
                f.write(json.dumps({"op": o}) + "\n")
            for sid, parent, name, t0, t1, op in self.spans:
                f.write(json.dumps({"span": [sid, parent, name, t0, t1, op]}) + "\n")


def rest(spark, what: str) -> list[dict]:
    """GET ``/api/v1/applications/<app>/<what>`` from the session's UI."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{what}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def jobs_submitted(spark, t0: float, t1: float) -> int:
    """Spark jobs submitted between epoch seconds ``t0`` and ``t1``."""
    return sum(
        1 for j in rest(spark, "jobs")
        if "submissionTime" in j and t0 - 1e-3 <= epoch(j["submissionTime"]) <= t1
    )


def _op_tag(tag: str) -> str:
    """SparkSession tags reach jobs as ``spark-session-<id>-thread-<id>-<tag>``."""
    i = tag.find(TAG)
    return tag[i:] if i >= 0 else tag


def epoch(ts: str) -> float:
    """REST timestamp ``2026-01-01T00:00:00.123GMT`` -> epoch seconds."""
    base, ms = ts[:19], ts[20:23]
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1e3


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def median_metrics(passes: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}
