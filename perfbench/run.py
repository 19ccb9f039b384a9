"""Closed-loop benchmark of axolotls_spark.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

One client runs the workload's ops one after another on
``local[<nproc>]`` over the fixed tables in ``perfbench/data`` (the
sf0.01 star schema plus ``events``, ``documents`` and ``embeddings``).
A run:

1. starts a session with the program's own configuration
   (``session.get_spark``) and warms up with one untimed pass, in which
   query ops collect their results instead of writing them to the
   ``noop`` sink.  Set-up is everything from process start to here;
2. times whole passes (``--seconds`` / the workload's nominal pass
   time, at least one), releasing caches after every op;
3. checks every op's output: the collected query results against the
   DuckDB oracle, or read-back invariants of the last ``ingest_write``
   pass.

With ``--trace 0`` the result holds ``setup_s``, the CPU seconds of
set-up (this process, the Spark JVM and its Python workers), and
``pass_jobs``, the Spark jobs a timed pass runs; with ``--trace 1``
every second timed pass is traced, and the result holds the per-layer
metrics of the traced passes (see README.md).  The last line of stdout is the result; the line
before it is a record with the run's environment, wall times, per-op
figures and failures.  Records and span files are kept in
``.perfbench/``.
"""

import time

START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import workloads  # noqa: E402
from tracing import Tracer, jobs_submitted, median_metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
OUT = os.path.join(ROOT, ".perfbench")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str, cores: int) -> dict[str, str]:
    """Point every temporary location of Python, the JVM and Spark into
    ``run_dir``; return the Spark conf that goes with it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # spark-submit's launcher JVM, which builds the Spark JVM's command line.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import axolotls_spark for UDF ops.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # No hsperfdata files outside the run directory.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "10000",
    }


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the Spark JVM and the
    JVM's descendants (the Python worker daemon and its workers), each
    with its reaped children.

    On a virtual machine whose host takes time from its vCPUs (steal
    time), wall times stretch by up to half from run to run; the CPU
    time the processes spend on the work is not stretched."""
    total, todo = time.process_time(), [jvm_pid]
    while todo:
        pid = todo.pop()
        try:  # a worker may end while we read it
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in stat[11:15]) / CLK_TCK  # u/s + cu/cs
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            pass
    return total


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, by nearest rank."""
    xs = sorted(samples)
    if len(xs) < 11:
        return 100.0, xs[-1]
    k = len(xs) - 11
    return 100.0 * (k + 1) / len(xs), xs[k]


class Bench:
    def __init__(self, args, spark, tracer, out_dir: str, cores: int):
        self.args, self.spark, self.tracer = args, spark, tracer
        self.cores = cores
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.rng = random.Random(args.seed)
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0
        self.results: dict = {}  # query -> Arrow result of the warm-up pass
        if args.workload == "queries":
            self.names = workloads.QUERIES
            self.ops = workloads.query_ops(
                self.names, spark, DATA, tracer.span, self.results
            )
            self.ingest = None
        else:
            self.ingest = workloads.Ingest(spark, DATA, out_dir, args.seed)
            self.ops = self.ingest.ops(tracer.span)
        self.source_bytes = {
            t: os.path.getsize(os.path.join(DATA, f"{t}.parquet"))
            for op in self.ops for t in op.sources
        }

    def release(self) -> None:
        from axolotls_spark import cacheutil

        with self.tracer.span("cacheutil.release"):
            cacheutil.release_caches()
            self.spark.catalog.clearCache()

    def order(self) -> list:
        # ingest_write's steps depend on each other; queries are shuffled.
        if self.ingest is not None:
            return list(self.ops)
        return self.rng.sample(self.ops, len(self.ops))

    def run_pass(
        self, collect: bool = False
    ) -> tuple[float, int, list[tuple[str, float]]]:
        """One pass; returns its wall time, Spark jobs and
        (op, latency) of the ops that succeeded.  A failing op is recorded
        and the pass goes on.  With ``collect`` query ops keep their
        results for the output check."""
        lat = []
        t_epoch = time.time()
        t_pass = time.perf_counter()
        for op in self.order():
            self.attempted += 1
            df, ok = None, False
            t = time.perf_counter()
            try:
                with self.tracer.op(op.name):
                    df = (op.collect if collect and op.collect else op.run)()
                ok = True
            except Exception as e:  # noqa: BLE001 - count it, keep the loop going
                traceback.print_exc(file=sys.stderr)
                self.failures.append((op.name, f"{type(e).__name__}: {e}"))
            dt = time.perf_counter() - t
            if self.tracer.enabled:
                self.tracer.ops[-1]["latency_s"] = dt
                self.tracer.ops[-1]["ok"] = ok
                src = sum(self.source_bytes[s] for s in op.sources)
                self.tracer.after_op(df, op.target, src)
            if ok:
                lat.append((op.name, dt))
            self.release()
        wall = time.perf_counter() - t_pass
        jobs = jobs_submitted(self.spark, t_epoch, time.time())
        return wall, jobs, lat

    def check(self) -> None:
        """Check the outputs of every op, after the timed passes: the
        warm-up pass's query results against the DuckDB oracle, or the
        read-back invariants of the last ingest_write pass."""
        if self.ingest is None:
            checks = workloads.check_queries(self.names, DATA, self.results)
        else:
            checks = self.ingest.check()
        for name, ok, msg in checks:
            print(f"[{'PASS' if ok else 'FAIL'}] {name}: {msg}", file=sys.stderr)
            if not ok:
                self.failures.append((name, msg))

    def run(self) -> dict:
        args = self.args
        # One untimed warm-up pass.  The JVM keeps compiling for more
        # passes than a run can afford, so every run warms up by the same
        # amount of work and times the passes that follow.
        warm = self.run_pass(collect=True)[0]
        setup_wall = time.perf_counter() - START
        setup_cpu = cpu_s(self.jvm_pid)

        n = max(1, round(args.seconds / workloads.NOMINAL_PASS_S[args.workload]))
        if args.trace:  # a traced pass between two untraced ones at least
            n = max(3, n)
        passes, jobs, traced, lat, layer = [], [], [], [], []
        for i in range(n):
            trace_this = bool(args.trace) and i % 2 == 1
            if trace_this:
                self.tracer.install()
            first, first_span = len(self.tracer.ops), len(self.tracer.spans)
            try:
                wall, n_jobs, op_lat = self.run_pass()
            finally:
                self.tracer.uninstall()
            if trace_this:
                traced.append(wall)
                layer.append(self.tracer.pass_metrics(first, first_span, self.cores))
            else:
                passes.append(wall)
                jobs.append(n_jobs)
                lat.extend(op_lat)
        self.check()
        samples = [d for _, d in lat]
        pct, tail_s = tail(samples) if samples else (0.0, 0.0)
        per_op: dict[str, list[float]] = {}
        for name, d in lat:
            per_op.setdefault(name, []).append(d)
        return {
            "setup_s": setup_cpu,
            "setup_wall_s": setup_wall,
            "warmup_pass_s": warm,
            "pass_s": statistics.median(passes),
            "pass_jobs": statistics.median(jobs),
            "passes_s": passes,
            "passes_jobs": jobs,
            "op_p50_s": statistics.median(samples) if samples else 0.0,
            "op_tail_s": tail_s,
            "op_tail_percentile": pct,
            "op_samples": len(samples),
            "op_latency_s": per_op,
            "traced_pass_s": traced,
            "layers": layer,
        }


def main() -> int:
    args = parse_args()
    # Let SIGTERM unwind through the finally blocks that stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "axolotls_spark", "__init__.py")):
        print(f"perfbench: no axolotls_spark package in {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    os.makedirs(OUT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    conf = isolate(run_dir, cores)
    sys.path.insert(0, ROOT)

    import pyspark

    from axolotls_spark.session import get_spark

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark)
        bench = Bench(args, spark, tracer, os.path.join(run_dir, "out"), cores)
        res = bench.run()
        peak_rss_mb = jvm_peak_rss_mb(bench.jvm_pid)
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(run_dir, ignore_errors=True)

    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    failed = len(bench.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "nproc": cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "failed_frac": failed / bench.attempted,
        "failures": bench.failures,
        "peak_rss_mb": peak_rss_mb,
        **{k: v for k, v in res.items() if k != "layers"},
    }
    if args.trace:
        layer = median_metrics(res["layers"])
        layer["session.get_spark_s"] = get_spark_s
        # Pass times still fall from pass to pass, so each traced pass
        # sits between two untraced ones and is set against their median.
        layer["trace.overhead_frac"] = (
            statistics.median(res["traced_pass_s"]) / res["pass_s"] - 1
        )
        record["layer_metrics"] = layer
        # BENCHMARK.json lists the figures a kept op can move; the record
        # keeps the rest (counters that read 0 on both workloads).
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        metrics = {
            m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
            for m in per_layer
        }
        tracer.dump(os.path.join(OUT, f"{stamp}.spans.jsonl"))
        record["ops"] = tracer.ops
    else:
        metrics = {
            "setup_s": {"value": record["setup_s"], "unit": "s"},
            "pass_jobs": {"value": record["pass_jobs"], "unit": "count"},
        }
    record["metrics"] = metrics
    with open(os.path.join(OUT, f"{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k != "ops"}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
