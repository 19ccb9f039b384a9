"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as ``perfbench/run.py`` writes them to
``.perfbench/`` (``<workload>-seed<n>-trace<t>-<pid>.json``; span files
are ignored).  For every workload and end-to-end metric of
BENCHMARK.json it prints both medians and quartile spreads and flags a
new median worse than the base by more than the metric's bound; the
recorded, ungated figures (pass wall and CPU time, op latency, peak
RSS) follow without a verdict.  Runs
made on different core counts are not compared: the script exits with
code 2 when the records disagree on ``nproc``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDED = (("setup_wall_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
            ("peak_rss_mb", "MB"))


def load(directory: str) -> list[dict]:
    paths = glob.glob(os.path.join(directory, "*-trace0-*.json"))
    return [json.load(open(p)) for p in sorted(paths)]


def summary(values: list[float]) -> tuple[float, float]:
    """(median, quartile spread as a share of the median)."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load(d) for d in argv)
    cores = {r["nproc"] for r in base + new}
    if len(cores) != 1:
        print(f"refusing to compare runs made on {sorted(cores)} cores",
              file=sys.stderr)
        return 2
    n_cores = cores.pop()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    worse = 0
    for wl in bench["workloads"]:
        a = [r for r in base if r["workload"] == wl["name"]]
        b = [r for r in new if r["workload"] == wl["name"]]
        if not a or not b:
            continue
        print(f"{wl['name']} ({len(a)} vs {len(b)} runs, {n_cores} cores)")
        for m in bench["end_to_end"]:
            ma, sa = summary([r["metrics"][m["name"]]["value"] for r in a])
            mb, sb = summary([r["metrics"][m["name"]]["value"] for r in b])
            change = (mb - ma) / ma if ma else 0.0
            if m["better"] == "higher":
                change = -change
            flag = "WORSE" if change > m["bound"] else ""
            worse += bool(flag)
            print(f"  {m['name']:<12} {ma:10.4f} (±{sa:.1%}) -> {mb:10.4f}"
                  f" (±{sb:.1%}) {m['unit']:<5} {change:+.1%} {flag}")
        for k, unit in RECORDED:
            ma, sa = summary([r[k] for r in a])
            mb, sb = summary([r[k] for r in b])
            print(f"  {k:<12} {ma:10.4f} (±{sa:.1%}) -> {mb:10.4f}"
                  f" (±{sb:.1%}) {unit:<5} {(mb - ma) / ma:+.1%} (not gated)")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
