"""Exact k-nearest-neighbors — reference K1, best-first search at
src/rtree/builders/RTreeBulkLoad.cpp:238-302.

Distributed re-expression (SURVEY.md K1): **cell-disk doubling over a
query frontier**.  The open queries are a DataFrame, never collected to
the driver, and all of them advance together; the driver loop iterates
over *rounds* (O(log grid)), never over queries or data rows:

    round(ρ): every open query explodes to its Chebyshev-disk cells
              (radius ρ, JVM `sequence` explode) → join against the
              cover-exploded data → dedup → exact squared distance
              (double) → rank (sq_dist, doc_id) → stop rule as columns.
    stop(q):  k candidates found AND k-th sq_dist <= d_out², where d_out
              is the exact distance from the query point to the boundary
              of the gathered square (sides at the domain edge count as
              +inf — nothing lives beyond).  Any rect outside the square
              is farther than d_out, so the top-k is provably exact.  A
              query whose square covers the whole domain stops too.

Ties at the k-th distance break deterministically by ``doc_id`` —
documented deviation from the reference's heap-order ties (and its
early-termination bound bug, RTreeBulkLoad.cpp:284-295, SURVEY.md K2).
Distances are computed in float64 (more precise than the reference's
float32; on the float32-exact fixture lattice the two agree).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.functions.geometry import sq_dist_col
from rtree_cpp_spark.operators.cover import disk_cells, with_cover_cells

KNN_COLS = ["query_id", "doc_id", "sq_dist", "rank"]


def _topk_kernel(pdf):
    """Per-query distance-bounded top-k selection (applyInPandas kernel,
    north_star: "distance-bounded priority queue in applyInPandas").

    Vectorized equivalent of the reference's size-k max-heap
    (RTreeBulkLoad.cpp:278-295) with the documented deterministic
    tie-break (sq_dist, doc_id) — a lexicographic partial sort keeps
    exactly the k best candidates and discards the rest, bounding
    per-query memory to the candidate set of the gathered disk.  The
    query's own columns ride through for the stop rule."""
    order = np.lexsort((pdf["doc_id"].to_numpy(), pdf["sq_dist"].to_numpy()))
    top = pdf.iloc[order[: int(pdf["k"].iat[0])]]
    return top.assign(rank=np.arange(1, len(top) + 1, dtype=np.int32))


def _rank(scored: DataFrame, ranker: str) -> DataFrame:
    """Top k rows per query by (sq_dist, doc_id), numbered 1..k."""
    if ranker == "window":
        w = Window.partitionBy("query_id").orderBy("sq_dist", "doc_id")
        return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= F.col("k"))
    schema = StructType(scored.schema.fields + [StructField("rank", IntegerType())])
    return scored.groupBy("query_id").applyInPandas(_topk_kernel, schema)


def _stop_rule(grid: Grid) -> tuple[Column, Column]:
    """The one stop rule, as columns: ``(full, done)``.

    ``full`` (the gathered square covers the domain) reads only the
    query columns; ``done`` also reads the query's ranked rows — their
    count and k-th distance, over a window on ``query_id``."""
    n, s = grid.n, grid.cell_size
    rho, qcx, qcy, x, y = (F.col(c) for c in ("rho", "qcx", "qcy", "x", "y"))
    full = (qcx - rho <= 0) & (qcx + rho >= n - 1) & (qcy - rho <= 0) & (qcy + rho >= n - 1)
    inf = F.lit(float("inf"))
    d_out = F.least(
        F.when(qcx - rho > 0, x - (qcx - rho).cast("double") * s).otherwise(inf),
        F.when(qcx + rho < n - 1, (qcx + rho + 1).cast("double") * s - x).otherwise(inf),
        F.when(qcy - rho > 0, y - (qcy - rho).cast("double") * s).otherwise(inf),
        F.when(qcy + rho < n - 1, (qcy + rho + 1).cast("double") * s - y).otherwise(inf),
    )
    per_query = Window.partitionBy("query_id")
    found = F.count("*").over(per_query) >= F.col("k")
    return full, full | (found & (F.max("sq_dist").over(per_query) <= d_out * d_out))


def knn(
    data_rects: DataFrame,
    queries: DataFrame,
    grid: Grid,
    ranker: str = "window",
) -> DataFrame:
    """data_rects(doc_id, min_x..max_y) x queries(query_id, x, y, k)
    → (query_id, doc_id, sq_dist, rank), exact, rank 1..k ascending.

    Neither side is collected: the open queries stay a DataFrame (the
    frontier).  Each round's ranked rows are materialized once
    (``localCheckpoint``); a finished query's rows are a filter of that
    checkpoint, and the next frontier is the open queries that are not
    finished and not yet domain-wide, at twice the radius.

    ``ranker`` picks the per-query top-k strategy — identical results:
    - ``'window'``: JVM ``row_number`` over (sq_dist, doc_id) — whole
      pipeline stays in codegen;
    - ``'kernel'``: ``applyInPandas`` bounded priority-queue kernel
      (north_star's stated shape) — one Arrow batch per query group.
    """
    if ranker not in ("window", "kernel"):
        raise ValueError(f"ranker must be 'window' or 'kernel', got {ranker!r}")
    full, done = _stop_rule(grid)
    d = with_cover_cells(data_rects, grid).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        frontier = (
            queries.select(
                "query_id",
                F.col("x").cast("double").alias("x"),
                F.col("y").cast("double").alias("y"),
                "k",
            )
            .withColumn("qcx", grid.cx_col(F.col("x")))
            .withColumn("qcy", grid.cx_col(F.col("y")))
            .withColumn("rho", F.lit(1))
            .localCheckpoint()
        )
        rect = [F.col(c).cast("double") for c in ("min_x", "min_y", "max_x", "max_y")]
        parts: list[DataFrame] = []
        while True:
            # one exchange on query_id serves the dedup and the rank
            scored = (
                d.join(disk_cells(frontier, grid), "cell")
                .repartition("query_id")
                .dropDuplicates(["query_id", "doc_id"])
                .select(
                    *frontier.columns, "doc_id", sq_dist_col(F.col("x"), F.col("y"), *rect).alias("sq_dist")
                )
            )
            ranked = _rank(scored, ranker).select(*KNN_COLS, done.alias("_done")).localCheckpoint()
            finished = ranked.where(F.col("_done"))
            parts.append(finished.select(*KNN_COLS))
            # a finished query has at least one ranked row: rank 1 is its id once
            done_ids = finished.where(F.col("rank") == 1).select("query_id")
            frontier = (
                frontier.join(done_ids, "query_id", "left_anti")
                .where(~full)
                .withColumn("rho", F.col("rho") * 2)
                .localCheckpoint()
            )
            if frontier.isEmpty():
                return reduce(DataFrame.unionByName, parts)
    finally:
        d.unpersist(blocking=False)


def knn_join(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    k: int,
    ranker: str = "window",
) -> DataFrame:
    """kNN JOIN: for each A doc, its k nearest B docs by squared
    centroid→rect distance → (query_id=a_doc_id, doc_id=b_doc_id,
    sq_dist, rank).

    Composes the reference's centroid rule (a query rect collapses to
    its center, src/Main.cpp:126-129) with :func:`knn` — A plays the
    query file, B the dataset; A is never collected."""
    centroids = a_rects.select(
        F.col("doc_id").alias("query_id"),
        ((F.col("min_x") + F.col("max_x")) / F.lit(2.0)).alias("x"),
        ((F.col("min_y") + F.col("max_y")) / F.lit(2.0)).alias("y"),
        F.lit(k).alias("k"),
    )
    return knn(b_rects, centroids, grid, ranker)


# the name the job benchmark imports
knn_join_frontier = knn_join


def idw_interpolate(
    data_rects: DataFrame,
    queries: DataFrame,
    values: DataFrame,
    grid: Grid,
    k: int = 8,
) -> DataFrame:
    """Inverse-distance-weighted interpolation at query points — the
    spatial-analytics composition on top of exact kNN: estimate a field
    value at each query point from its k nearest docs' values.

        idw(q) = sum_i v_i / (1 + d2_i)  /  sum_i 1 / (1 + d2_i)

    over the k nearest (reference squared-distance P4, no sqrt; the +1
    regularizer keeps exact hits finite).  Both folds run in RANK order
    (array_sort on (rank, ...) then a left fold), so the double result
    is bit-identical to the oracle's ORDER BY rnk list_reduce — FP
    addition order is pinned, not left to partitioning.

    ``values`` is (doc_id, value).  Scale shape: one kNN (disk-doubling
    rounds) + one broadcastable value join + one groupBy(query_id) whose
    input is <= k rows per query."""
    qk = queries.select("query_id", "x", "y").withColumn("k", F.lit(k))
    nn = knn(data_rects, qk, grid)
    withv = nn.join(values, "doc_id").select(
        "query_id",
        F.struct(
            F.col("rank").alias("rank"),
            F.col("sq_dist").cast("double").alias("sq_dist"),
            F.col("value").cast("double").alias("value"),
        ).alias("s"),
    )
    folded = withv.groupBy("query_id").agg(
        F.array_sort(F.collect_list("s")).alias("arr"),
        F.count("*").alias("n_neighbors"),
    )
    num = F.aggregate(
        "arr", F.lit(0.0), lambda acc, s: acc + s["value"] / (F.lit(1.0) + s["sq_dist"])
    )
    den = F.aggregate(
        "arr", F.lit(0.0), lambda acc, s: acc + F.lit(1.0) / (F.lit(1.0) + s["sq_dist"])
    )
    return folded.select(
        "query_id", (num / den).alias("idw_value"), F.col("n_neighbors").cast("int").alias("n_neighbors")
    )
