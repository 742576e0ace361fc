"""Point-in-polygon join job (north_star operator; reference semantics
Rectangle.cpp:29-33) as a cluster job.

    spark-submit --py-files engine.zip jobs/run_pip.py \
        --input <docs> --points <points_parquet> \
        [--boundary closed|open|polygon] \
        --output /data/out/pip --manifest /data/out/manifest

Points table: (point_id, x, y).  Output: (point_id, doc_id) partitioned
by the point's coarse cell.  ``--boundary polygon`` runs the TRUE
convex-polygon PIP against corner-cut octagons derived from the doc
rects (operators/pip_join.polygon_pip_join), refined in its Arrow
kernel.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jobs._common import base_parser, build_session, coarse_cell_col, finish, load_rects
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.pip_join import pip_join


def main() -> None:
    p = base_parser("point-in-polygon (point-in-rect) join")
    p.add_argument("--input", required=True)
    p.add_argument("--points", required=True)
    p.add_argument(
        "--boundary", choices=["closed", "open", "polygon"], default="closed"
    )
    args = p.parse_args()

    spark = build_session("rtree-spark-pip", args)
    grid = Grid(args.grid_level, args.extent)
    rects = load_rects(spark, args.input, args.format)
    points = spark.read.parquet(args.points)
    if args.boundary == "polygon":
        from rtree_cpp_spark.operators.pip_join import (
            octagons_from_rects, polygon_pip_join,
        )

        hits = polygon_pip_join(points, octagons_from_rects(rects), grid)
    else:
        hits = pip_join(points, rects, grid, args.boundary)
    pcell = points.select(
        "point_id", grid.cell_of_point_col(F.col("x"), F.col("y")).alias("pcell")
    )
    out = hits.join(F.broadcast(pcell), "point_id").withColumn(
        "part", coarse_cell_col(grid, args.coarse_level, F.col("pcell"))
    ).drop("pcell")
    finish(out, args, stage=f"pip_{args.boundary}")
    spark.stop()


if __name__ == "__main__":
    main()
