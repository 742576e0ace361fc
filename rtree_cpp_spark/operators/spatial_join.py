"""Distributed spatial (intersection) join — reference J1,
dual-tree DFS at src/rtree/builders/RTreeBulkLoad.cpp:304-379.

Plan:  both sides cover-exploded to cells → equi-join on ``cell``
(sort-merge at scale, AQE skew-split as backstop) → exact closed-bound
predicate → reference-point dedup.  Hot cells ("dense urban tiles",
north_star) optionally get an explicit skew defense — salting or
mixed-resolution subdivision — from the shared candidate generator
(``operators.cover.cell_candidates``), for cells whose candidate count
exceeds a threshold, discovered by a cheap pre-aggregation.

Exactly-once pairs: a pair intersecting in several shared cells is kept
only in the cell of its reference point — no ``distinct`` shuffle
(SURVEY.md J1).  Output is directed A→B like the reference's multimap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.functions.geometry import contains_col, intersects_col
from rtree_cpp_spark.operators.cover import (
    cell_candidates,
    hot_census,
    ref_point_cell_col,
    side_cover,
)


def _refine(joined: DataFrame, grid: Grid, keep_cell: bool = False) -> DataFrame:
    # Containment fast-path (reference R2 analog, RTreeBulkLoad.cpp:
    # 158-164): if either rect contains the shared cell's closed box, the
    # other rect — which touches that box by cover construction — must
    # intersect it; the exact predicate short-circuits.  Correctness-
    # neutral (same caveat as range_query: geometry must intersect the
    # grid domain, the Grid clamping contract).
    box = grid.cell_box_cols(F.col("cell"))
    a_covers_cell = contains_col(
        F.col("a_min_x"), F.col("a_min_y"), F.col("a_max_x"), F.col("a_max_y"), *box
    )
    hit = intersects_col(
        F.col("a_min_x"), F.col("a_min_y"), F.col("a_max_x"), F.col("a_max_y"),
        F.col("b_min_x"), F.col("b_min_y"), F.col("b_max_x"), F.col("b_max_y"),
    )
    ref_cell = ref_point_cell_col(
        grid, F.col("a_min_x"), F.col("a_min_y"), F.col("b_min_x"), F.col("b_min_y")
    )
    out_cols = ["a_doc_id", "b_doc_id"] + (["cell"] if keep_cell else [])
    return joined.where((F.col("cell") == ref_cell) & (a_covers_cell | hit)).select(*out_cols)


def spatial_join(
    a_rects: DataFrame,
    b_rects: DataFrame,
    grid: Grid,
    keep_cell: bool = False,
    hot_threshold: int | None = None,
    n_salt: int = 16,
    levels_finer: int | None = None,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """Rect × rect intersection join → directed (a_doc_id, b_doc_id).

    ``keep_cell=True`` keeps the COARSE reference-point cell on each
    pair — the per-cell lineage key jobs partition their output by.

    ``hot_threshold=None`` (default): plain cell equi-join, AQE
    skew-join is the only skew defense.  Otherwise cells whose A-side
    cover count exceeds it (census over a seeded ``sample_fraction``)
    get the skew defense ``levels_finer`` picks — ``None``: salting
    ``n_salt`` ways; ``k``: subdivision ``k`` levels finer, which
    shrinks the candidate cross-product instead of re-sharding it
    (measured: scripts/adaptive_scale_run.py, BENCH/adaptive_scale.json).
    Both only change which candidates meet where, so output rows are
    identical to the plain join (asserted by tests/test_spatial_ops.py
    on a skewed fixture).  With an empty census both take the plain
    path."""
    if levels_finer is not None and hot_threshold is None:
        raise ValueError("levels_finer requires hot_threshold (the hot-cell census)")
    census = hot_census(a_rects, grid, hot_threshold, sample_fraction)
    # no fan_out here: every rect-join shape shuffles on its key, which
    # re-parallelizes the heavy side regardless of scan splits; a
    # pre-explode repartition measured as pure overhead (~0.4s at sf0.1).
    # fan_out belongs on broadcast/no-shuffle kernel pipelines (pip_join).
    joined, keep = cell_candidates(
        side_cover(a_rects, grid, "a_"), side_cover(b_rects, grid, "b_"),
        grid, census, n_salt, levels_finer,
    )
    if "cell" in joined.columns:  # coarse key: keep is _refine's own rule
        return _refine(joined, grid, keep_cell)
    # mixed-resolution key: no coarse cell box for the containment shortcut
    hit = intersects_col(
        F.col("a_min_x"), F.col("a_min_y"), F.col("a_max_x"), F.col("a_max_y"),
        F.col("b_min_x"), F.col("b_min_y"), F.col("b_max_x"), F.col("b_max_y"),
    )
    ref_cell = ref_point_cell_col(
        grid, F.col("a_min_x"), F.col("a_min_y"), F.col("b_min_x"), F.col("b_min_y")
    )
    out_cols = ["a_doc_id", "b_doc_id"] + ([ref_cell.alias("cell")] if keep_cell else [])
    return joined.where(keep & hit).select(*out_cols)


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
    return _refine(spark.table(table_a).join(spark.table(table_b), "cell"), grid, keep_cell)


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
    radius ceil(max_dist/cell_size) around their cell, B centroids sit
    in their single primary cell, candidates meet by cell equi-join and
    refine exactly.  Each true pair meets in EXACTLY one cell (B's
    primary), so there is no dedup pass at all (the pip_join property).

    Scale: disk explode multiplies A by (2r+1)^2 where r = ceil(d/s) —
    choose the grid so max_dist ≈ one cell (r=1 → 9x) and the join
    shuffles only (doc_id, cx, cy); AQE skew-join backstops hot disks."""
    import math

    r = max(1, math.ceil(max_dist / grid.cell_size))
    n = grid.n
    a_cx, a_cy = (
        (F.col("min_x") + F.col("max_x")) / 2.0,
        (F.col("min_y") + F.col("max_y")) / 2.0,
    )
    a = a_rects.select(
        F.col("doc_id").alias("a_doc_id"),
        a_cx.alias("ax"), a_cy.alias("ay"),
        grid.cx_col(a_cx).alias("_qcx"), grid.cx_col(a_cy).alias("_qcy"),
    )
    gx0 = F.greatest(F.lit(0), F.col("_qcx") - F.lit(r))
    gx1 = F.least(F.lit(n - 1), F.col("_qcx") + F.lit(r))
    gy0 = F.greatest(F.lit(0), F.col("_qcy") - F.lit(r))
    gy1 = F.least(F.lit(n - 1), F.col("_qcy") + F.lit(r))
    a = (
        a.withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn("cell", F.col("_gx") * F.lit(n) + F.col("_gy"))
        .select("a_doc_id", "ax", "ay", "cell")
    )
    b_cx, b_cy = (
        (F.col("min_x") + F.col("max_x")) / 2.0,
        (F.col("min_y") + F.col("max_y")) / 2.0,
    )
    b = b_rects.select(
        F.col("doc_id").alias("b_doc_id"),
        b_cx.alias("bx"), b_cy.alias("by"),
        grid.cell_of_point_col(b_cx, b_cy).alias("cell"),
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
