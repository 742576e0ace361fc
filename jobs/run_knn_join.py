"""kNN JOIN job — for each A doc, its k nearest B docs by squared
centroid→rect distance (reference centroid rule, src/Main.cpp:126-129,
composed with the K1 kernel, RTreeBulkLoad.cpp:238-302).

    spark-submit --py-files engine.zip jobs/run_knn_join.py \
        --input-a <docs_a> --input-b <docs_b> --k 5 \
        --output /data/out/knn_join --manifest /data/out/manifest

A is the query side and is never collected to the driver: its open
queries stay a DataFrame through the shared disk-doubling rounds of
``operators.knn.knn``.

Output: (query_id=a_doc_id, doc_id=b_doc_id, sq_dist, rank),
partitioned by the A centroid's coarse cell.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jobs._common import base_parser, build_session, coarse_cell_col, finish, load_rects
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.knn import knn_join


def main() -> None:
    p = base_parser("kNN join (A centroids vs B rects)")
    p.add_argument("--input-a", required=True, help="query-side rect table")
    p.add_argument("--input-b", required=True, help="data-side rect table")
    p.add_argument("--k", type=int, default=5)
    args = p.parse_args()
    if args.k <= 0:
        p.error("k must be > 0")  # mirrors src/Main.cpp:212-215

    spark = build_session("rtree-spark-knn-join", args)
    grid = Grid(args.grid_level, args.extent)
    a = load_rects(spark, args.input_a, args.format)
    b = load_rects(spark, args.input_b, args.format)
    result = knn_join(a, b, grid, k=args.k)
    qcell = a.select(
        F.col("doc_id").alias("query_id"),
        grid.cell_of_point_col(
            (F.col("min_x") + F.col("max_x")) / F.lit(2.0),
            (F.col("min_y") + F.col("max_y")) / F.lit(2.0),
        ).alias("qcell"),
    )
    # NO broadcast hint: qcell is O(|A|) — at the target scale it is
    # a fact table, not a dim; AQE may still broadcast it when A is
    # actually small
    out = result.join(qcell, "query_id").withColumn(
        "part", coarse_cell_col(grid, args.coarse_level, F.col("qcell"))
    ).drop("qcell")
    finish(out, args, stage="knn_join")
    spark.stop()


if __name__ == "__main__":
    main()
