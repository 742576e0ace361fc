"""Batched range queries (reference R1/R2, RTreeBulkLoad.cpp:139-210).

The reference answers one query at a time by DFS with MBR pruning.  The
distributed re-expression answers the WHOLE query batch in one plan, as
a rect join of the queries (side A) against the data (side B) on the
chain ``spatial_join`` owns:

    queries --side_cover--> (query_id, cell)   [tiny: broadcast]
    data    --side_cover--> (doc_id,  cell)
    cell_candidates (plain cell equi-join) -> exact closed-bound predicate
                                           -> reference-point dedup

One broadcast hash join for the whole batch; the data side is never
shuffled.  With a cell-partitioned layout, Catalyst prunes untouched
cell partitions (the distributed analog of MBR pruning, SURVEY.md O2).
The reference's R2 "query contains node MBR → emit whole subtree" fast
path is not needed: the cover replaces the subtree walk, and the exact
predicate is 4 comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.functions.geometry import contains_col, intersects_col
from rtree_cpp_spark.operators.cover import cell_candidates, side_cover
from rtree_cpp_spark.operators.spatial_join import _refine


def _query_join(data_rects: DataFrame, queries: DataFrame, grid: Grid, predicate) -> DataFrame:
    """(query_id, doc_id) for every pair where ``predicate(query, doc)``
    holds, each pair once."""
    q = F.broadcast(side_cover(queries.withColumnRenamed("query_id", "doc_id"), grid, "a_"))
    joined, keep = cell_candidates(q, side_cover(data_rects, grid, "b_"), grid, None)
    return _refine(joined, keep, grid, predicate=predicate).select(
        F.col("a_doc_id").alias("query_id"), F.col("b_doc_id").alias("doc_id")
    )


def range_query(data_rects: DataFrame, queries: DataFrame, grid: Grid) -> DataFrame:
    """data_rects(doc_id, min_x..max_y) x queries(query_id, min_x..max_y)
    → (query_id, doc_id), closed-interval semantics, each pair once."""
    return _query_join(data_rects, queries, grid, intersects_col)


def contains_query(data_rects: DataFrame, queries: DataFrame, grid: Grid) -> DataFrame:
    """Containment query: (query_id, doc_id) for docs FULLY INSIDE the
    query rect — reference P3 (`contains`, Rectangle.h:74-77) promoted
    from a pruning helper to a first-class plan.  Closed containment:
    docs equal to the query match.

    The reference-point dedup is valid unchanged because a contained
    doc's reference point is its own min corner (max(q_min, d_min) =
    d_min), whose cell is in both covers."""
    return _query_join(data_rects, queries, grid, contains_col)


def range_query_layout(
    spark, layout_path: str, queries: DataFrame, grid: Grid
) -> DataFrame:
    """Range query over a WRITTEN layout with partition pruning: coarse
    hive partitions whose per-partition MBR (the node-MBR analog,
    ``plans.layout.stats_path``) is disjoint from every query are never
    read — Catalyst turns the ``isin`` into PartitionFilters, so the
    pruned dirs cost zero I/O.  This is the reference's root-level MBR
    pruning (RTreeBulkLoad.cpp:154-156) at the storage layer.

    Pruning on the MBR (not the coarse cell box) is what makes it sound:
    docs are placed by centroid and can overhang their partition, exactly
    as R-tree node MBRs overhang their STR slab.  Pruning is EXCLUSION-
    based: only partitions a stats row proves disjoint are dropped, so
    missing stats (legacy layout, crash window) degrade to extra I/O,
    never to missing results.  Queries are tiny by contract (S2,
    broadcast side) — the prune set is computed driver-side from the
    O(coarse cells) stats table."""
    from rtree_cpp_spark.plans.layout import excluded_partitions_for_queries, read_layout

    excluded = excluded_partitions_for_queries(spark, layout_path, queries.toPandas())
    data = read_layout(spark, layout_path)
    if excluded:
        data = data.where(~F.col("coarse_cell").isin(excluded))
    return range_query(
        data.select("doc_id", "min_x", "min_y", "max_x", "max_y"), queries, grid
    )


def range_count(data_rects: DataFrame, queries: DataFrame, grid: Grid) -> DataFrame:
    """Per-query hit count — the reference's only (commented-out) range
    output was the count (RTreeBulkLoad.cpp:202-209)."""
    hits = range_query(data_rects, queries, grid)
    return (
        queries.select("query_id")
        .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hits")), "query_id", "left")
        .select("query_id", F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"))
    )


def anti_range_query(data_rects: DataFrame, queries: DataFrame) -> DataFrame:
    """(doc_id): documents whose rectangle intersects NONE of the query
    rectangles — the complement of ``range_query`` over the same
    batched-query contract (coverage-gap audits, out-of-scope
    carve-outs for region-restricted corpora).

    Plan: ONE BroadcastNestedLoopJoin(left_anti) against the tiny query
    batch — |Q| closed-interval predicate evaluations per doc, all in
    codegen, zero shuffle.  The positive query uses the cell cover to
    SKIP non-matching docs; the anti query must consider every doc by
    definition, so the full scan is irreducible and the broadcast NLJ
    is the optimal plan, not a fallback."""
    cond = (
        (queries["max_x"] >= data_rects["min_x"])
        & (queries["min_x"] <= data_rects["max_x"])
        & (queries["max_y"] >= data_rects["min_y"])
        & (queries["min_y"] <= data_rects["max_y"])
    )
    return data_rects.join(F.broadcast(queries), cond, "left_anti").select("doc_id")
