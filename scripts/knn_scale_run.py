#!/usr/bin/env python
"""kNN-join scale evidence: the wall of one kNN join (|A| = 100k query
rects, |B| = 1M data rects, k = 5) through ``operators.knn.knn_join``,
with a result checksum.

Inputs are deterministic functions of the row index on the 0.25
lattice over [0,1024)^2 (parallelism-independent; same conventions as
the gate's rect sources), so the row count and checksum are comparable
across runs and code changes.

Prints one JSON line and writes it to BENCH/knn_scale.json; curated
results live in BENCH/BASELINE.md.
Env: KNN_SCALE_A (default 100000), KNN_SCALE_B (default 1000000),
     SPARK_GRAFT_CPUS (default os.cpu_count()), SPARK_GRAFT_DRIVER_MEM
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
from rtree_cpp_spark.operators.knn import knn_join  # noqa: E402

GRID = Grid(6)  # 64x64 cells of 16.0 over [0,1024)^2 — the gate grid


def synth_rects(spark: SparkSession, n: int, prefix: str, spread: int):
    """Deterministic rects: min corner on the 0.25 lattice from hashed
    row index, width/height 0.25..4.0.  ``spread`` decorrelates the A
    and B point patterns."""
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


def checksum(df) -> tuple[int, int]:
    """(row_count, order-independent value checksum) over ALL output
    columns — sq_dist included: the float64 arithmetic is fixed, so
    even the doubles must agree bit-for-bit across runs."""
    joined = F.concat_ws(
        "|",
        F.col("query_id"),
        F.col("doc_id"),
        F.col("sq_dist").cast("string"),  # same engine both sides: the
        # string form is a faithful witness of the double bits here
        F.col("rank").cast("string"),
    )
    h = F.conv(F.substring(F.md5(F.encode(joined, "utf-8")), 1, 15), 16, 10).cast("long")
    row = df.select(h.alias("h")).agg(
        F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x")
    ).collect()[0]
    return int(row["n"]), int(row["x"]) if row["x"] is not None else 0


def main() -> None:
    n_a = int(os.environ.get("KNN_SCALE_A", "100000"))
    n_b = int(os.environ.get("KNN_SCALE_B", "1000000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("knn-scale-run")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # materialize inputs once so the wall times the JOIN, not the gen
    a = synth_rects(spark, n_a, "qa", 11).localCheckpoint()
    b = synth_rects(spark, n_b, "db", 97).localCheckpoint()

    t0 = time.perf_counter()
    rows, check = checksum(knn_join(a, b, GRID, k=5))
    wall = round(time.perf_counter() - t0, 2)
    out = {"n_a": n_a, "n_b": n_b, "k": 5, "cpus": cpus, "rows": rows,
           "wall_sec": wall, "checksum": check}
    print(json.dumps(out), flush=True)
    outp = Path(__file__).resolve().parent.parent / "BENCH" / "knn_scale.json"
    outp.write_text(json.dumps(out) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
