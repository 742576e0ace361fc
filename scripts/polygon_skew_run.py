#!/usr/bin/env python
"""Skewed polygon-join scale study: the plain cell join against the
join's skew path (hot cells subdivide ``cover.FINE_LEVELS`` finer and
salt inside).

Input: corner-cut octagons derived from clustered lattice rects
(CLUSTER_FRAC packed into 3 hot spots of diameter CLUSTER_DIAM — the
dense-urban-tile skew of the north_star).  The study answers, with
measurements instead of guesses:

1. does the hot-cell straggler actually bind at this config?
   ``plain`` is run with AQE skew-join ON and OFF;
2. does the skew path beat it?  ``skew`` under both AQE settings.
   Subdivision makes the raw equi-join pair count itself SHRINK —
   counted and published alongside the walls (``raw_candidates``); the
   exactly-once bbox survivors are the same for both, so the SAT kernel
   work is constant and the delta isolates the join stage.

All variants' OUTPUTS are verified identical (counts + anti-joins)
before any wall is published.  Timing protocol per BENCH/BASELINE.md:
single-thread numpy CPU controls bracket every timed pass; best-of-N
walls with per-pass detail in the artifact.

Prints one JSON line -> BENCH/polygon_skew.json (+ curated table in
BENCH/BASELINE.md).  Env: POLY_SKEW_A (default 600000), POLY_SKEW_B
(300000), CLUSTER_FRAC (0.25), CLUSTER_DIAM (32.0), POLY_HOT_THRESHOLD
(5000), POLY_SKEW_PASSES (3), SPARK_GRAFT_CPUS (os.cpu_count()),
SPARK_GRAFT_DRIVER_MEM (8g).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession  # noqa: E402

from rtree_cpp_spark.functions.cells import Grid  # noqa: E402
from rtree_cpp_spark.operators.cover import (  # noqa: E402
    FINE_LEVELS,
    cell_candidates,
    hot_census,
    side_cover,
)
from rtree_cpp_spark.operators.pip_join import octagons_from_rects, polygon_join  # noqa: E402

from adaptive_scale_run import synth_rects_clustered  # noqa: E402

GRID = Grid(6)


def cpu_control() -> float:
    """Single-thread numpy burn (same workload as bench.py:48) — VM
    throttle detector bracketing every timed pass."""
    import numpy as np

    a = np.arange(1_000_000, dtype=np.float64) * 1e-6
    for _ in range(5):
        a = np.sqrt(a * a + 1.0) - 1.0
    t0 = time.perf_counter()
    for _ in range(60):
        a = np.sqrt(a * a + 1.0) - 1.0
    assert a is not None
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    n_a = int(os.environ.get("POLY_SKEW_A", "600000"))
    n_b = int(os.environ.get("POLY_SKEW_B", "300000"))
    cluster_frac = float(os.environ.get("CLUSTER_FRAC", "0.25"))
    cluster_diam = float(os.environ.get("CLUSTER_DIAM", "32.0"))
    hot_threshold = int(os.environ.get("POLY_HOT_THRESHOLD", "5000"))
    n_passes = max(2, int(os.environ.get("POLY_SKEW_PASSES", "3")))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("polygon-skew-run")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # wider rects than adaptive_scale_run.py (octagons need area to intersect)
    a = synth_rects_clustered(
        spark, n_a, "pa", 23, cluster_frac, cluster_diam, max_dim=2.0
    ).localCheckpoint()
    b = synth_rects_clustered(
        spark, n_b, "pb", 71, cluster_frac, cluster_diam, max_dim=2.0
    ).localCheckpoint()
    oa, ob = octagons_from_rects(a), octagons_from_rects(b)

    def set_skew_aqe(on: bool):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true" if on else "false")

    def plain():
        return polygon_join(oa, ob, GRID)

    def skew():
        return polygon_join(oa, ob, GRID, hot_threshold=hot_threshold)

    variants = {  # name: (make, aqe_skew_on)
        "plain_aqe": (plain, True),
        "plain_noaqe": (plain, False),
        "skew_aqe": (skew, True),
        "skew_noaqe": (skew, False),
    }

    walls: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    counts: dict[str, int] = {}
    controls: list[float] = [cpu_control()]
    for name, (make, aqe_on) in variants.items():
        set_skew_aqe(aqe_on)
        make().count()  # warm
        ws = []
        for _ in range(n_passes):
            t0 = time.perf_counter()
            counts[name] = make().count()
            ws.append(round(time.perf_counter() - t0, 2))
            controls.append(cpu_control())
        passes[name] = ws
        walls[name] = min(ws)
    set_skew_aqe(True)

    # --- candidate-count probes (the structural story, untimed) ---
    pa, pb = side_cover(oa, GRID, "a_"), side_cover(ob, GRID, "b_")
    raw_plain = cell_candidates(pa, pb, GRID, None)[0].count()
    census = hot_census(oa, GRID, hot_threshold)
    n_hot = 0 if census is None else census.count()
    raw_skew = cell_candidates(pa, pb, GRID, census)[0].count()

    # --- identity gate: every variant returns the plain rows ---
    base = variants["plain_aqe"][0]().localCheckpoint()
    diffs = {
        name: variants[name][0]()
        .join(base, ["a_doc_id", "b_doc_id"], "left_anti")
        .count()
        for name in variants
        if name != "plain_aqe"
    }
    if any(diffs.values()) or len(set(counts.values())) != 1:
        print(json.dumps({"error": "identity gate FAILED", "diffs": diffs, "counts": counts}))
        sys.exit(1)

    out = {
        "n_a": n_a, "n_b": n_b, "cpus": cpus,
        "cluster_frac": cluster_frac, "cluster_diam": cluster_diam,
        "hot_threshold": hot_threshold, "n_salt": 16, "fine_levels": FINE_LEVELS,
        "walls_sec": walls, "walls_all_passes": passes,
        "cpu_controls_sec": controls,
        "output_rows": counts["plain_aqe"],
        "hot_cells": n_hot,
        "raw_candidates": {"plain": raw_plain, "skew": raw_skew},
        "candidate_reduction_x": round(raw_plain / max(raw_skew, 1), 2),
        "skew_speedup_x": round(walls["plain_aqe"] / walls["skew_aqe"], 2),
        "skew_speedup_noaqe_x": round(walls["plain_noaqe"] / walls["skew_noaqe"], 2),
        "identity": "ok",
    }
    line = json.dumps(out)
    with open(Path(__file__).resolve().parent.parent / "BENCH" / "polygon_skew.json", "w") as f:
        f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
