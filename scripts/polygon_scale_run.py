#!/usr/bin/env python
"""Polygon-family scale evidence.

Measures the two polygon joins at ~10^6-row inputs against their
rect-based baselines on the SAME data, so the marginal cost of the
exact polygon refine (the separating-axis test / all-edges
cross-product test, each an Arrow kernel) is isolated from the shared
candidate-generation plan (cover explode -> cell equi-join -> bbox
prefilter):

- ``rect_join``     — spatial_join (closed rect-rect), the baseline;
- ``octagon_join``  — polygon_join on corner-cut octagons derived from
                      the same rects (SAT kernel, 8x8 cross products);
- ``rect_pip``      — pip_join of N points vs the rect corpus;
- ``polygon_pip``   — polygon_pip_join of the same points vs the
                      octagons (PIP kernel, 8 cross products).

Correctness gates ride along (octagons are inscribed in their rects):
octagon pairs must be a SUBSET of rect pairs, polygon PIP hits a SUBSET
of rect PIP hits — verified with anti-joins that must return 0 rows;
walls are only published for gated outputs.  ``POLY_SCALE_OPS=a,b``
runs only the named ops and prints their walls, with no gates and no
artifact.

Prints one JSON line; curated results live in BENCH/BASELINE.md.
Env: POLY_SCALE_A (default 1000000), POLY_SCALE_B (default 500000),
     POLY_SCALE_PTS (default 1000000), SPARK_GRAFT_CPUS (default
     os.cpu_count(), this machine's core count), SPARK_GRAFT_DRIVER_MEM
     (default 8g).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from rtree_cpp_spark.functions.cells import Grid  # noqa: E402
from rtree_cpp_spark.operators.pip_join import (  # noqa: E402
    octagons_from_rects,
    pip_join,
    polygon_join,
    polygon_pip_join,
)
from rtree_cpp_spark.operators.spatial_join import spatial_join  # noqa: E402

GRID = Grid(6)  # the gate grid: 64x64 cells of 16.0 over [0,1024)^2


def synth_rects(spark: SparkSession, n: int, prefix: str, spread: int):
    """Deterministic rects on the 0.25 lattice (same conventions as
    scripts/knn_scale_run.py — parallelism-independent)."""
    h = F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(spread)), 4080 * 4)
    hy = F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(spread + 1)), 4080 * 4)
    w = (F.pmod(F.col("id"), 16) + 1).cast("double") * 0.25
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id")).alias("doc_id"),
        (h.cast("double") * 0.0625).alias("min_x"),
        (hy.cast("double") * 0.0625).alias("min_y"),
        (h.cast("double") * 0.0625 + w).alias("max_x"),
        (hy.cast("double") * 0.0625 + w).alias("max_y"),
    )


def synth_points(spark: SparkSession, n: int):
    hx = F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(5)), 8192)
    hy = F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(6)), 8192)
    return spark.range(n).select(
        F.concat(F.lit("pt"), F.col("id")).alias("point_id"),
        (hx.cast("double") * 0.125).alias("x"),
        (hy.cast("double") * 0.125).alias("y"),
    )


def timed_count(df) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return round(time.perf_counter() - t0, 2), n


def main() -> None:
    n_a = int(os.environ.get("POLY_SCALE_A", "1000000"))
    n_b = int(os.environ.get("POLY_SCALE_B", "500000"))
    n_pts = int(os.environ.get("POLY_SCALE_PTS", "1000000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("polygon-scale-run")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    a = synth_rects(spark, n_a, "pa", 23).localCheckpoint()
    b = synth_rects(spark, n_b, "pb", 71).localCheckpoint()
    pts = synth_points(spark, n_pts).localCheckpoint()
    oa, ob = octagons_from_rects(a), octagons_from_rects(b)

    walls: dict[str, float] = {}
    counts: dict[str, int] = {}
    # warm + timed (min of 2) per op, rect baseline first
    ops = {
        "rect_join": lambda: spatial_join(a, b, GRID),
        "octagon_join": lambda: polygon_join(oa, ob, GRID),
        "rect_pip": lambda: pip_join(pts, a, GRID, "closed"),
        "polygon_pip": lambda: polygon_pip_join(pts, oa, GRID),
    }
    only = os.environ.get("POLY_SCALE_OPS")
    if only:
        ops = {k: v for k, v in ops.items() if k in only.split(",")}
    for name, make in ops.items():
        make().count()  # warm
        best = float("inf")
        for _ in range(2):
            w, n = timed_count(make())
            best = min(best, w)
            counts[name] = n
        walls[name] = best

    if only:
        # subset probe (e.g. a parallelism-scaling datapoint): publish
        # walls only, skip the gates and the JSON artifact
        print(json.dumps({"n_a": n_a, "n_b": n_b, "n_pts": n_pts,
                          "cpus": cpus, "walls_sec": walls,
                          "output_rows": counts, "subset": only}))
        spark.stop()
        return

    # correctness gates: inscribed-subset invariants must hold exactly
    extra_join = (
        polygon_join(oa, ob, GRID)
        .join(spatial_join(a, b, GRID), ["a_doc_id", "b_doc_id"], "left_anti")
        .count()
    )
    extra_pip = (
        polygon_pip_join(pts, oa, GRID)
        .join(pip_join(pts, a, GRID, "closed"), ["point_id", "doc_id"], "left_anti")
        .count()
    )
    if extra_join or extra_pip:
        print(json.dumps({"error": "gate FAILED",
                          "extra_join": extra_join, "extra_pip": extra_pip}))
        sys.exit(1)

    out = {
        "n_a": n_a, "n_b": n_b, "n_pts": n_pts, "cpus": cpus,
        "walls_sec": walls, "output_rows": counts,
        "sat_overhead_vs_rect_join": round(walls["octagon_join"] / walls["rect_join"], 2),
        "pip_overhead_vs_rect": round(walls["polygon_pip"] / walls["rect_pip"], 2),
        "subset_gates": "ok",
    }
    line = json.dumps(out)
    with open(Path(__file__).resolve().parent.parent / "BENCH" / "polygon_scale.json", "w") as f:
        f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
