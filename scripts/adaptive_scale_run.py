#!/usr/bin/env python
"""Skewed-data scale evidence for the join's skew path: the plain cell
join (AQE skew-join only) against ``spatial_join(hot_threshold=...)``,
where hot cells subdivide ``cover.FINE_LEVELS`` finer and salt inside.

Subdivision makes candidates meet at a finer resolution, so pairs that
never share a fine cell are never generated; salting alone would only
re-shard the hot cells' nA x nB cross-product.  This run measures, on
clustered data:

- candidate pairs BEFORE the exact refine, plain cell key vs the skew
  path's (fine key, salt) — salting does not change the count;
- end-to-end walls of the two on the same input;
- identity: both outputs are verified equal (counts + anti-join)
  before any wall is published.

Input: deterministic lattice rects, ``CLUSTER_FRAC`` of them packed
into 3 hot spots of diameter ``CLUSTER_DIAM`` (dense-urban-tile skew,
north_star), the rest uniform over [0,1024)^2 — Spark-native exprs of
the row id, identical at any parallelism.

Prints one JSON line and writes it to BENCH/adaptive_scale.json.  Env:
ADAPT_SCALE_A (default 1000000), ADAPT_SCALE_B (500000), CLUSTER_FRAC
(0.2), CLUSTER_DIAM (24.0), ADAPT_HOT_THRESHOLD (5000),
SPARK_GRAFT_CPUS (os.cpu_count()), SPARK_GRAFT_DRIVER_MEM (8g).
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
from rtree_cpp_spark.operators.cover import (  # noqa: E402
    FINE_LEVELS,
    cell_candidates,
    hot_census,
    side_cover,
)
from rtree_cpp_spark.operators.spatial_join import spatial_join  # noqa: E402

GRID = Grid(6)  # 64x64 cells of 16.0 over [0,1024)^2 (gate grid)
CLUSTERS = ((200.0, 200.0), (600.0, 500.0), (850.0, 850.0))


def synth_rects_clustered(
    spark: SparkSession, n: int, prefix: str, seed: int,
    cluster_frac: float, cluster_diam: float, max_dim: float = 1.0,
):
    """Lattice rects, ``cluster_frac`` packed into 3 hot spots."""
    def u(s):  # uniform [0,1) from the row id, lattice-safe
        return F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(s)), 1_000_000) / 1e6

    ux = F.floor(u(seed + 2) * 4000) * F.lit(0.25)
    uy = F.floor(u(seed + 3) * 4000) * F.lit(0.25)
    ci = F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(seed + 4)), 3)
    ccx = (
        F.when(ci == 0, CLUSTERS[0][0]).when(ci == 1, CLUSTERS[1][0]).otherwise(CLUSTERS[2][0])
    )
    ccy = (
        F.when(ci == 0, CLUSTERS[0][1]).when(ci == 1, CLUSTERS[1][1]).otherwise(CLUSTERS[2][1])
    )
    off_x = F.floor((u(seed + 5) - 0.5) * cluster_diam * 4) * F.lit(0.25)
    off_y = F.floor((u(seed + 6) - 0.5) * cluster_diam * 4) * F.lit(0.25)
    is_cl = u(seed + 1) < F.lit(cluster_frac)
    x = F.when(is_cl, ccx + off_x).otherwise(ux)
    y = F.when(is_cl, ccy + off_y).otherwise(uy)
    w = (F.pmod(F.col("id"), int(max_dim * 4)) + 1).cast("double") * 0.25
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id")).alias("doc_id"),
        x.alias("min_x"), y.alias("min_y"),
        (x + w).alias("max_x"), (y + w).alias("max_y"),
    )


def timed_count(df) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return round(time.perf_counter() - t0, 2), n


def main() -> None:
    n_a = int(os.environ.get("ADAPT_SCALE_A", "1000000"))
    n_b = int(os.environ.get("ADAPT_SCALE_B", "500000"))
    cluster_frac = float(os.environ.get("CLUSTER_FRAC", "0.2"))
    cluster_diam = float(os.environ.get("CLUSTER_DIAM", "24.0"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    hot_threshold = int(os.environ.get("ADAPT_HOT_THRESHOLD", "5000"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("adaptive-scale-run")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    a = synth_rects_clustered(spark, n_a, "aa", 23, cluster_frac, cluster_diam).localCheckpoint()
    b = synth_rects_clustered(spark, n_b, "bb", 71, cluster_frac, cluster_diam).localCheckpoint()

    # candidate pairs pre-refine: the structural quantity subdivision
    # shrinks and salting cannot (salting re-keys the SAME pairs)
    a_cov, b_cov = side_cover(a, GRID, "a_"), side_cover(b, GRID, "b_")
    plain_cand = cell_candidates(a_cov, b_cov, GRID, None)[0].count()
    census = hot_census(a, GRID, hot_threshold)
    skew_cand = cell_candidates(a_cov, b_cov, GRID, census)[0].count()

    ops = {
        "plain": lambda: spatial_join(a, b, GRID),
        "skew": lambda: spatial_join(a, b, GRID, hot_threshold=hot_threshold),
    }
    walls: dict[str, float] = {}
    counts: dict[str, int] = {}
    for name, make in ops.items():
        make().count()  # warm
        best = float("inf")
        for _ in range(2):
            w, n = timed_count(make())
            best = min(best, w)
            counts[name] = n
        walls[name] = best

    # identity gate: both emit the same pair set
    base = ops["plain"]().localCheckpoint()
    diff = ops["skew"]().join(base, ["a_doc_id", "b_doc_id"], "left_anti").count()
    if diff or counts["plain"] != counts["skew"]:
        print(json.dumps({"error": "identity gate FAILED", "diff": diff, "counts": counts}))
        sys.exit(1)

    out = {
        "n_a": n_a, "n_b": n_b, "cpus": cpus,
        "cluster_frac": cluster_frac, "cluster_diam": cluster_diam,
        "hot_threshold": hot_threshold, "fine_levels": FINE_LEVELS, "n_salt": 16,
        "hot_cells": 0 if census is None else census.count(),
        "candidate_pairs_plain": plain_cand,
        "candidate_pairs_skew": skew_cand,
        "candidate_reduction_x": round(plain_cand / max(skew_cand, 1), 2),
        "walls_sec": walls, "output_rows": counts["plain"],
        "identity": "ok",
    }
    line = json.dumps(out)
    with open(Path(__file__).resolve().parent.parent / "BENCH" / "adaptive_scale.json", "w") as f:
        f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
