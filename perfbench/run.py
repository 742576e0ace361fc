"""Job benchmark: join + tiling jobs at local[nproc], one client in a closed loop.

    python3 perfbench/run.py --workload join_tiles_skewed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed`` (not timed), starts one Spark session the way the jobs do,
runs one untimed warm-up op, then runs ops back to back until
``--seconds`` have passed (at least ``MIN_OPS``).  Every op's output is
checked.  With ``--trace 1`` one more op runs traced, layer by layer.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones).  The line before it is a run report with the raw
samples and ``host.cpu_control_s``.

Everything the run writes lives under ``.perfbench_work/`` (removed at
exit) and, for traced runs, ``.perfbench_traces/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_OPS = 2
HEAP_MB = 3072
YOUNG = "1g"
SHUFFLE_PARTITIONS = 4
# the engine the benchmark drives; without it there is nothing to measure
REQUIRED = ("jobs/_common.py", "rtree_cpp_spark/plans/manifest.py", "oracle/brute.py")


def since_process_start() -> float:
    """Seconds since this process was created (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def session_env(work: str) -> None:
    """Session settings passed the way spark-submit passes them; the
    choice of each is explained in perfbench/README.md."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = (f"-XX:+UseParallelGC -Xms{HEAP_MB}m -Xmn{YOUNG} -XX:-UseAdaptiveSizePolicy "
                 f"-XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    confs = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    args = ["--driver-memory", f"{HEAP_MB}m"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    # Python workers import the engine's Arrow kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()
    except Exception:  # a call cut off mid-answer (SIGTERM) leaves py4j unusable
        if proc is not None:
            proc.kill()
        raise
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)


class Bench:
    """One Spark session of a run and the ops run in it."""

    def __init__(self, args, wl, defaults, inputs: dict, work: str) -> None:
        from jobs._common import build_session
        from rtree_cpp_spark.functions.cells import Grid

        from perfbench.checks import Checker
        from perfbench.observe import StatusStore, jvm_pid
        from perfbench.workloads import K

        self.wl, self.inputs, self.work = wl, inputs, work
        self.coarse_level = defaults.coarse_level
        self.grid = Grid(defaults.grid_level, defaults.extent)
        nproc = len(os.sched_getaffinity(0))
        self.spark = build_session(
            f"perfbench-{wl.name}",
            argparse.Namespace(master=f"local[{nproc}]", shuffle_partitions=SHUFFLE_PARTITIONS),
        )
        self.store = StatusStore(self.spark)
        self.pid = jvm_pid(self.spark)
        self.checker = Checker(wl, inputs["rects"], args.seed, defaults.grid_level,
                               defaults.extent, K)
        self.ops = 0
        self.check_s = 0.0  # time spent checking outputs, kept out of setup_s
        self.live_heap_mb: list[float] = []  # after each finished op
        self.failures: list[str] = []

    def op(self, tracer=None):
        """Run one op; returns (wall_s, cpu_s, path, step results) or None
        when it failed.  Output checks run after the timing."""
        from perfbench.observe import Span, tree_cpu_s
        from perfbench.workloads import Path

        idx = self.ops
        self.ops += 1
        out = os.path.join(self.work, "out", f"op-{idx}")
        path = Path(self.spark, self.grid, self.coarse_level, self.inputs["paths"], out,
                    f"op{idx}", tracer, idx)
        last = self.store.last_id()
        try:
            cpu0 = tree_cpu_s(self.pid)
            t0, e0 = time.perf_counter(), time.time()
            results = []
            for step in self.wl.steps:
                s0 = time.time()
                res = getattr(path, step)(self.wl)
                results.append((step, s0, time.time(), res))
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(self.pid) - cpu0
            if tracer is not None:
                tracer.spans.append(Span("op", e0, e0 + wall, None, idx))
            c0 = time.perf_counter()
            errors = self.check(idx, last, results)
            self.check_s += time.perf_counter() - c0
        except Exception:  # an op that raises is a failed op, not a failed run
            errors = [traceback.format_exc()]
        if errors:
            self.failures.append(f"op {idx}: " + "; ".join(errors))
            print(self.failures[-1], file=sys.stderr)
            shutil.rmtree(out, ignore_errors=True)
            return None
        return wall, cpu, path, results

    def check(self, idx: int, last: int, results) -> list[str]:
        self.store.drain()
        execs = self.store.since(last)
        errors = []
        for step, s0, s1, res in results:
            plans = "\n".join(e.plan for e in execs if s0 - 0.001 <= e.submitted <= s1 + 0.001)
            errors += self.checker.check(step, res, f"op{idx}", plans, idx)
        return errors

    def done(self, path) -> None:
        """Between ops, untimed: remove the op's output, then collect the
        heap fully and record what stays live (the engine's leaked cached
        state included)."""
        from perfbench.observe import live_heap_mb

        shutil.rmtree(path.out_root, ignore_errors=True)
        self.live_heap_mb.append(live_heap_mb(self.spark))


def run(args) -> dict:
    from jobs._common import base_parser

    from perfbench.gen import write_inputs
    from perfbench.observe import RssSampler, cpu_control_s, gc_seconds, host_steal_s
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    defaults = base_parser("").parse_args(["--output", "-", "--manifest", "-"])
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = sampler = None
    try:
        g0 = time.perf_counter()
        cell = defaults.extent / (1 << defaults.grid_level)
        inputs = write_inputs(wl.tables, args.seed, cell, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - g0
        control = [cpu_control_s()]
        session_env(work)
        bench = Bench(args, wl, defaults, inputs, work)
        sampler = RssSampler(bench.pid)
        warm = bench.op()
        setup_s = since_process_start() - gen_s - control[0] - bench.check_s
        if warm:
            bench.done(warm[2])
        walls, cpus = [], []
        steal0 = host_steal_s()
        t0 = time.perf_counter()
        # a run whose ops keep failing is already incorrect: stop it early
        while ((time.perf_counter() - t0 < args.seconds or len(walls) < MIN_OPS)
               and len(bench.failures) <= MIN_OPS):
            r = bench.op()
            if r:
                walls.append(r[0])
                cpus.append(r[1])
                bench.done(r[2])
        steal_s = host_steal_s() - steal0
        control.append(cpu_control_s())
        # the pre-touched heap is always resident: count in its place the
        # heap that stays live between ops
        peak_tree_mb = sampler.stop()
        peak_rss = peak_tree_mb - HEAP_MB + max(bench.live_heap_mb, default=0.0)
        report = {
            "workload": wl.name, "seed": args.seed, "gen_s": gen_s, "setup_s": setup_s,
            "op_walls_s": walls, "op_cpu_s": cpus, "peak_rss_mb": peak_rss,
            "peak_tree_rss_mb": peak_tree_mb, "live_heap_mb": bench.live_heap_mb,
            "host.cpu_control_s": statistics.median(control), "host.steal_s": steal_s,
            "failures": bench.failures,
        }
        job_s = statistics.median(walls) if walls else 0.0
        metrics = {
            "job_s_p50": (job_s, "s"),
            "cpu_s_p50": (statistics.median(cpus) if cpus else 0.0, "s"),
            "peak_rss_mb": (peak_rss, "MB"),
            "setup_s": (setup_s, "s"),
        }
        if args.trace:
            from perfbench.layers import traced_op

            metrics, trace = traced_op(bench, job_s, report["host.cpu_control_s"])
            trace_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json"), "w") as f:
                json.dump(trace, f)
        report.update(gc_s=gc_seconds(bench.spark), check_s=bench.check_s,
                      run_s=since_process_start())
        return {
            "report": report,
            "result": {
                "correct": not bench.failures,
                "attempted": bench.ops,
                "failed": len(bench.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }
    finally:
        try:
            if sampler is not None:
                sampler.stop()
            if bench is not None:
                stop_session(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"not a checkout of the engine: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # on SIGTERM, unwind through run()'s cleanup: stop the JVM, remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = run(args)
    print(json.dumps({"report": out["report"]}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
