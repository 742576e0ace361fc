"""Steadiness report: run the benchmark on several seeds per workload and
summarize every end-to-end metric.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out report.json]

Runs ``perfbench/run.py`` once per (workload, seed), one run at a time,
with the ``run_seconds`` of BENCHMARK.json.  Prints, per workload and
metric, the unit, sample count, median, quartiles and the quartile
spread as a share of the median next to the metric's bound, plus the
error rate (failed ops over attempted ops) and each run's
``host.cpu_control_s``.  ``--out`` also writes all of it as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return {"seed": seed, **json.loads(lines[-2]), "result": json.loads(lines[-1])}


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--out", default=None)
    args = p.parse_args(argv)
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            r = run_once(wl, seed, bench["run_seconds"])
            runs.append(r)
            vals = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
            print(f"{wl} seed={seed} cpu_control_s={r['report']['host.cpu_control_s']:.4f} "
                  f"steal_s={r['report']['host.steal_s']:.2f} "
                  f"{json.dumps(vals)}", flush=True)
        attempted = sum(r["result"]["attempted"] for r in runs)
        failed = sum(r["result"]["failed"] for r in runs)
        summary = {}
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            summary[m["name"]] = {"unit": m["unit"], "bound": m.get("bound"), **summarize(vals)}
        report["workloads"][wl] = {
            "error_rate": failed / attempted, "attempted": attempted,
            "runs": [{"seed": r["seed"], "host.cpu_control_s": r["report"]["host.cpu_control_s"],
                      "host.steal_s": r["report"]["host.steal_s"],
                      "op_walls_s": r["report"]["op_walls_s"], "op_cpu_s": r["report"]["op_cpu_s"],
                      "peak_tree_rss_mb": r["report"]["peak_tree_rss_mb"],
                      "live_heap_mb": r["report"]["live_heap_mb"],
                      "metrics": {k: v["value"] for k, v in r["result"]["metrics"].items()}}
                     for r in runs],
            "metrics": summary,
        }
    print(f"\n{'workload':22} {'metric':42} {'unit':6} {'n':>3} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>7} {'bound':>6}")
    for wl, w in report["workloads"].items():
        for name, s in w["metrics"].items():
            bound = "" if s["bound"] is None else f"{s['bound']:.2f}"
            print(f"{wl:22} {name:42} {s['unit']:6} {s['n']:3d} {s['median']:12.4f} "
                  f"{s['q1']:12.4f} {s['q3']:12.4f} {s['spread']:7.4f} {bound:>6}")
        print(f"{wl:22} {'error_rate (failed / attempted ops)':42} {'ratio':6} {w['attempted']:3d} "
              f"{w['error_rate']:12.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
