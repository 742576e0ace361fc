"""Raster↔vector tile assignment (SURVEY.md section 2.7).

The reference's STR build assigns every rect to exactly one leaf
(RTreeBulkLoad.cpp:42-58); ``Node.ids`` *is* the tile→members list
(Node.cpp:30-38).  Here:

- **primary tiles**: each doc in exactly one cell — the cell of its rect
  centroid (the centroid rule reused from kNN queries, Main.cpp:126-129).
- **cover tiles**: the multi-cell raster overlay — one row per
  (cell, doc) the rect touches.

Both are pure Column expressions (whole-stage codegen, no shuffle at
all for primary tiles — it's a projection).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.cover import with_cover_cells


def primary_cell_col(grid: Grid) -> Column:
    """The primary-tile rule: the cell of the rect's centroid, taken in
    double over the ``min_x..max_y`` columns (Main.cpp:126-129)."""
    min_x, min_y, max_x, max_y = (
        F.col(c).cast("double") for c in ("min_x", "min_y", "max_x", "max_y")
    )
    return grid.cell_of_point_col((min_x + max_x) / 2.0, (min_y + max_y) / 2.0)


def primary_tiles(data_rects: DataFrame, grid: Grid) -> DataFrame:
    """(cell, doc_id): exactly one row per doc — a partition of the table."""
    return data_rects.select(primary_cell_col(grid).alias("cell"), "doc_id")


def cover_tiles(data_rects: DataFrame, grid: Grid) -> DataFrame:
    """(cell, doc_id): one row per covered cell (raster↔vector overlay)."""
    return with_cover_cells(data_rects.select("doc_id", "min_x", "min_y", "max_x", "max_y"), grid).select(
        "cell", "doc_id"
    )


def tile_stats(data_rects: DataFrame, grid: Grid) -> DataFrame:
    """Per-cell MBR + occupancy — the distributed analog of node-MBR
    maintenance (reference Node.cpp:20-38; SURVEY.md B5).  Feeds both
    pruning stats and the adaptive-resolution heuristic."""
    return (
        with_cover_cells(data_rects, grid)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("min_x").alias("mbr_min_x"),
            F.min("min_y").alias("mbr_min_y"),
            F.max("max_x").alias("mbr_max_x"),
            F.max("max_y").alias("mbr_max_y"),
        )
    )


def tile_pyramid(data_rects: DataFrame, grid: Grid) -> DataFrame:
    """(level, cell, n_docs): multi-resolution rollup of the PRIMARY tile
    assignment — occupancy at every level from ``grid.level`` down to 0,
    each doc counted exactly once per level (primary cell is a partition
    of the corpus, SURVEY.md section 2.7).

    Scale shape: ONE O(docs) shuffle (the base groupBy(cell) with
    map-side partials), then the parent-chain explode runs on the
    O(cells) per-cell aggregate — upper levels cost nothing at corpus
    scale.  Parent cells are pure integer prefix arithmetic (the
    reference's upper-level STR build, RTreeBulkLoad.cpp:62-97, with no
    materialized nodes — SURVEY.md B3)."""
    base = (
        primary_tiles(data_rects, grid)
        .groupBy("cell")
        .agg(F.count("*").alias("n_docs"))
    )
    return _pyramid_rollup(base, grid, "n_docs")


def _pyramid_rollup(per_cell: DataFrame, grid: Grid, value_col: str) -> DataFrame:
    """Roll an O(cells) per-cell integer aggregate up the level chain:
    (level, cell, value) for every level from ``grid.level`` to 0.
    Parent cells are :meth:`Grid.parent_col` — exact integer prefix
    arithmetic at any grid size (reference upper-level STR build,
    RTreeBulkLoad.cpp:62-97)."""
    chain = F.array(
        *[
            F.struct(
                F.lit(lvl).alias("level"),
                grid.parent_col(F.col("cell"), grid.level - lvl).alias("pcell"),
            )
            for lvl in range(grid.level, -1, -1)
        ]
    )
    return (
        per_cell.select(F.explode(chain).alias("lc"), value_col)
        .groupBy(F.col("lc.level").alias("level"), F.col("lc.pcell").alias("cell"))
        .agg(F.sum(value_col).alias(value_col))
    )


def rasterize_pyramid(data_rects: DataFrame, grid: Grid, scale: int = 1_000_000) -> DataFrame:
    """Multi-resolution raster pyramid: the burn-in band at every level
    from ``grid.level`` to 0 — (level, cell, coverage_units).

    Because :func:`rasterize` emits INTEGER fixed-point units, the
    rollup is exact at every level (a parent's units are exactly the sum
    of its children's — no re-clipping, no float drift), so upper levels
    cost one O(cells) pass, never a second look at the docs.  This is
    the tile-server zoom stack: one O(docs) shuffle total."""
    return _pyramid_rollup(rasterize(data_rects, grid, scale), grid, "coverage_units")


def hot_cells(data_rects: DataFrame, grid: Grid, k: int = 20) -> DataFrame:
    """(cell, n_docs, smoothed, rank): the k hottest cells by 3×3
    neighborhood-smoothed cover occupancy — the heatmap/hotspot query a
    tile service runs (and the observable the salting census watches).

    Scale shape: ONE O(docs) shuffle (base cover groupBy); the 9-way
    neighbor spread and the smoothing aggregate run on the O(cells)
    per-cell table; top-k is a window over O(cells).  Border cells clip
    their neighborhood (no wraparound).  An empty cell with hot
    neighbors still ranks (n_docs = 0)."""
    base = (
        cover_tiles(data_rects, grid)
        .groupBy("cell")
        .agg(F.count("*").alias("n_docs"))
    )
    n = grid.n
    cx, cy = grid.xy_cols(F.col("cell"))
    spread = F.array(
        *[
            F.when(
                (cx + dx >= 0) & (cx + dx < n) & (cy + dy >= 0) & (cy + dy < n),
                grid.cell_col(cx + dx, cy + dy),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    smoothed = (
        base.select(F.explode(spread).alias("cell"), "n_docs")
        .where(F.col("cell").isNotNull())
        .groupBy("cell")
        .agg(F.sum("n_docs").alias("smoothed"))
    )
    # Global top-k via orderBy+limit -> TakeOrderedAndProject: each
    # partition keeps k rows, the driver merges — no single-partition
    # sort of the whole cell table (a global row_number window would
    # funnel O(cells) rows through one task at planetary resolutions).
    # The rank window then runs over the k survivors only.
    top = (
        smoothed.join(base, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            "smoothed",
        )
        .orderBy(F.col("smoothed").desc(), F.col("cell"))
        .limit(k)
    )
    w = Window.orderBy(F.col("smoothed").desc(), F.col("cell"))
    return top.withColumn("rank", F.row_number().over(w))


def tile_topk(
    data_rects: DataFrame, values: DataFrame, grid: Grid, k: int = 3
) -> DataFrame:
    """Per-tile top-k ranking — the "top-k docs per tile" query a tile
    service serves (k POIs per map tile): (cell, doc_id) of the k
    highest-valued docs in each PRIMARY tile, ties broken by doc_id.

    Scale shape: ONE shuffle (the per-cell window); Spark's
    WindowGroupLimit pushes the k-filter below the sort so each
    partition keeps at most k rows per cell before the exchange —
    O(k x cells) survives, not O(docs).  ``values`` is (doc_id, value),
    broadcast when small."""
    w = Window.partitionBy("cell").orderBy(F.col("value").desc(), F.col("doc_id"))
    return (
        primary_tiles(data_rects, grid)
        .join(values, "doc_id")
        .withColumn("_rnk", F.row_number().over(w))
        .where(F.col("_rnk") <= k)
        .select("cell", "doc_id")
    )


def rasterize(data_rects: DataFrame, grid: Grid, scale: int = 1_000_000) -> DataFrame:
    """Vector→raster BURN-IN: per-cell total coverage of the vector
    layer — the inverse direction of :func:`zonal_stats`, completing the
    north_star's "raster↔vector tile assignment" both ways.  Each rect
    contributes its clipped-overlap fraction of every cell it touches;
    the raster band is the per-cell sum.

    (cell, n_docs, coverage_units) where ``coverage_units`` is the
    fixed-point sum of ``floor(frac * scale)`` per (doc, cell):
    integer-exact, so the aggregate is ORDER-INDEPENDENT (a plain double
    sum would hash-differently between engines/partitionings).  The
    per-term floor() of an identical IEEE expression is bit-identical in
    Spark and DuckDB, so the oracle matches exactly.

    Scale shape: cover explode (narrow, codegen) → ONE groupBy(cell)
    with map-side partials on O(covered-cells) rows; output is O(cells).
    Zero Python, zero joins."""
    s = F.lit(grid.cell_size)
    x0, y0, x1, y1 = grid.cell_box_cols(F.col("cell"))
    # GREATEST(..., 0): boundary-touch cover cells (closed-interval
    # semantics) and grid-clamped border cells contribute zero area
    ox = F.greatest(F.least(F.col("max_x"), x1) - F.greatest(F.col("min_x"), x0), F.lit(0.0))
    oy = F.greatest(F.least(F.col("max_y"), y1) - F.greatest(F.col("min_y"), y0), F.lit(0.0))
    units = F.floor(((ox / s) * (oy / s)) * F.lit(float(scale))).cast("long")
    return (
        with_cover_cells(data_rects, grid)
        .select("cell", units.alias("_u"))
        .groupBy("cell")
        .agg(F.sum("_u").alias("coverage_units"))
    )


def zonal_stats(data_rects: DataFrame, raster: DataFrame, grid: Grid) -> DataFrame:
    """Raster→vector ZONAL STATISTICS: per-doc aggregates of the raster
    cells its rect covers — the overlay direction `cover_tiles` only
    enumerates.  ``raster`` is a (cell, value) table (a band of a tiled
    raster at this grid's resolution).

    (doc_id, n_cells, sum_value, min_value, max_value)

    Scale shape: cover explode (narrow) → equi-join on ``cell`` (the
    raster side is O(cells), usually broadcastable; a 2^30-cell band at
    planetary resolution shuffles instead) → groupBy(doc_id) with
    map-side partials.  Zero Python."""
    return (
        cover_tiles(data_rects, grid)
        .join(raster, "cell")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
