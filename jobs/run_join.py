"""Spatial (intersection) join job — reference `-j a.txt b.txt`
(src/Main.cpp:161-163, 227-238) as a cluster job.

    spark-submit --py-files engine.zip jobs/run_join.py \
        --input-a <docs_a> --input-b <docs_b> \
        --output /data/out/pairs --manifest /data/out/manifest \
        [--hot-threshold 100000] [--n-salt 16] [--geometry rect|octagon]

Output: (a_doc_id, b_doc_id) partitioned by the reference-point coarse
cell (`part`) with per-partition lineage rows in the manifest; re-running
with the same --run-id skips completed partitions.

Grid cells whose A-side cover count exceeds --hot-threshold take the
join's one skew path: they subdivide two levels finer, and inside them
A rows hash into --n-salt buckets while B rows fan out over all of them.
Output rows are the same as the plain join's.

``--geometry octagon`` runs the convex-polygon SAT join (Arrow-kernel
refine + the same skew path) on corner-cut octagons derived from the
doc rects, with the same reference-cell output partitioning.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jobs._common import base_parser, build_session, coarse_cell_col, finish, load_rects
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.spatial_join import spatial_join_salted


def main() -> None:
    p = base_parser("distributed spatial intersection join (A x B)")
    p.add_argument("--input-a", required=True)
    p.add_argument("--input-b", required=True)
    p.add_argument("--hot-threshold", type=int, default=100_000)
    p.add_argument("--n-salt", type=int, default=16)
    p.add_argument("--geometry", choices=["rect", "octagon"], default="rect")
    args = p.parse_args()

    spark = build_session("rtree-spark-join", args)
    grid = Grid(args.grid_level, args.extent)
    a = load_rects(spark, args.input_a, args.format)
    b = load_rects(spark, args.input_b, args.format)
    if args.geometry == "octagon":
        from rtree_cpp_spark.operators.pip_join import (
            octagons_from_rects, polygon_join,
        )

        pairs = polygon_join(
            octagons_from_rects(a), octagons_from_rects(b), grid,
            hot_threshold=args.hot_threshold,
            n_salt=args.n_salt, keep_cell=True,
        )
    else:
        pairs = spatial_join_salted(
            a, b, grid, hot_threshold=args.hot_threshold,
            n_salt=args.n_salt, keep_cell=True,
        )
    out = pairs.withColumn(
        "part", coarse_cell_col(grid, args.coarse_level, F.col("cell"))
    ).drop("cell")
    finish(out, args, stage=f"spatial_join_{args.geometry}")
    spark.stop()


if __name__ == "__main__":
    main()
