"""Distributed spatial (intersection) join — reference J1,
dual-tree DFS at src/rtree/builders/RTreeBulkLoad.cpp:304-379.

Plan:  both sides cover-exploded to cells → equi-join on ``cell``
(sort-merge at scale, AQE skew-split as backstop) → exact closed-bound
predicate → reference-point dedup.  Hot cells ("dense urban tiles",
north_star) optionally get the one explicit skew defense — subdivision,
then salting inside the subdivided cells — from the shared candidate
generator (``operators.cover.cell_candidates``), for cells whose
candidate count exceeds a threshold, discovered by a cheap
pre-aggregation.

Exactly-once pairs: a pair intersecting in several shared cells is kept
only in the cell of its reference point — no ``distinct`` shuffle
(SURVEY.md J1).  Output is directed A→B like the reference's multimap.
``operators.range_query`` runs range and containment queries on the
same chain, with only ``_refine``'s predicate differing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.functions.geometry import intersects_col
from rtree_cpp_spark.operators.cover import (
    cell_candidates,
    disk_cells,
    hot_census,
    ref_point_cell_col,
    side_cover,
)


def _refine(
    joined: DataFrame, keep: Column, grid: Grid, keep_cell: bool = False,
    predicate=intersects_col,
) -> DataFrame:
    """Exact closed-bound ``predicate`` (A, B) — ``intersects_col``, or
    ``contains_col`` for containment — plus the generator's exactly-once
    ``keep``; ``keep_cell`` adds the COARSE reference-point cell."""
    bounds = ("min_x", "min_y", "max_x", "max_y")
    hit = predicate(*(F.col(f"a_{c}") for c in bounds), *(F.col(f"b_{c}") for c in bounds))
    cell = ref_point_cell_col(
        grid, F.col("a_min_x"), F.col("a_min_y"), F.col("b_min_x"), F.col("b_min_y")
    ).alias("cell")
    if "cell" in joined.columns:
        cell = F.col("cell")  # the plain path's key: keep pins it to the reference cell
    return joined.where(keep & hit).select("a_doc_id", "b_doc_id", *([cell] if keep_cell else []))


def spatial_join(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    keep_cell: bool = False,
    hot_threshold: int | None = None,
    n_salt: int = 16,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """Rect × rect intersection join → directed (a_doc_id, b_doc_id).

    ``keep_cell=True`` keeps the COARSE reference-point cell on each
    pair — the per-cell lineage key jobs partition their output by.

    ``hot_threshold=None`` (default): plain cell equi-join, AQE
    skew-join is the only skew defense.  Otherwise cells whose A-side
    cover count exceeds it (census over a seeded ``sample_fraction``)
    subdivide, which shrinks their candidate cross-product, and salt
    ``n_salt`` ways inside (measured: scripts/adaptive_scale_run.py).
    That only changes which candidates meet where, so output rows are
    identical to the plain join (asserted by tests/test_spatial_ops.py
    on skewed and coincident fixtures).  An empty census takes the
    plain path."""
    census = hot_census(a_rects, grid, hot_threshold, sample_fraction)
    # no fan_out here: every rect-join shape shuffles on its key, which
    # re-parallelizes the heavy side regardless of scan splits; a
    # pre-explode repartition measured as pure overhead (~0.4s at sf0.1).
    # fan_out belongs on broadcast/no-shuffle kernel pipelines (pip_join).
    joined, keep = cell_candidates(
        side_cover(a_rects, grid, "a_"), side_cover(b_rects, grid, "b_"),
        grid, census, n_salt,
    )
    return _refine(joined, keep, grid, keep_cell)


# the job-facing name: every caller passes hot_threshold explicitly
spatial_join_salted = spatial_join


def spatial_join_bucketed(
    spark, table_a: str, table_b: str, grid: Grid, keep_cell: bool = False
) -> DataFrame:
    """Spatial join over two cover-bucketed tables written by
    ``plans.layout.write_bucketed_cover`` (prefixes "a_"/"b_"): the cell
    sort-merge join runs with NO exchange on either side — the cover
    explode and the shuffle were paid once at write time.  Output rows
    are identical to :func:`spatial_join` on the same inputs (same
    refine predicate + reference-point dedup); asserted by
    tests/test_streaming_and_layout.py on plan ("no Exchange") and
    values.  This is the repeated-join fast path a persistent index
    earns (the reference keeps its R-tree in memory between queries;
    Spark keeps the bucketed layout on disk)."""
    joined, keep = cell_candidates(spark.table(table_a), spark.table(table_b), grid, None)
    return _refine(joined, keep, grid, keep_cell)


def distance_join(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    max_dist: float,
) -> DataFrame:
    """DISTANCE join: (a_doc_id, b_doc_id, sq_dist) for pairs whose
    centroids lie within ``max_dist`` (Euclidean; emitted distance is
    squared, like every reference distance — Rectangle.h:92-112, no
    sqrt).  The range-join analog the reference lacks, built from the
    same cell machinery: A centroids explode to the Chebyshev disk of
    radius ceil(max_dist/cell_size) around their cell (``cover.disk_cells``,
    the kNN gather's explode), B centroids sit in their single primary
    cell, candidates meet by cell equi-join and refine exactly.  Each true pair meets in EXACTLY one cell (B's
    primary), so there is no dedup pass at all (the pip_join property).

    Scale: disk explode multiplies A by (2r+1)^2 where r = ceil(d/s) —
    choose the grid so max_dist ≈ one cell (r=1 → 9x) and the join
    shuffles only (doc_id, cx, cy); AQE skew-join backstops hot disks."""
    import math

    r = max(1, math.ceil(max_dist / grid.cell_size))
    cx = (F.col("min_x") + F.col("max_x")) / 2.0
    cy = (F.col("min_y") + F.col("max_y")) / 2.0
    a = disk_cells(
        a_rects.select(
            F.col("doc_id").alias("a_doc_id"), cx.alias("ax"), cy.alias("ay"),
            grid.cx_col(cx).alias("qcx"), grid.cx_col(cy).alias("qcy"), F.lit(r).alias("rho"),
        ),
        grid,
    ).select("a_doc_id", "ax", "ay", "cell")
    b = b_rects.select(
        F.col("doc_id").alias("b_doc_id"), cx.alias("bx"), cy.alias("by"),
        grid.cell_of_point_col(cx, cy).alias("cell"),
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    sq = dx * dx + dy * dy
    return (
        a.join(b, "cell")
        .withColumn("sq_dist", sq)
        .where(F.col("sq_dist") <= F.lit(float(max_dist) * float(max_dist)))
        .select("a_doc_id", "b_doc_id", "sq_dist")
    )
