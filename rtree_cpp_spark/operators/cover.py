"""Cell-cover explosion — the engine's candidate generator.

Replaces the reference's tree traversal (node MBR pruning,
src/rtree/builders/RTreeBulkLoad.cpp:154-156 and :313-319): instead of
walking nodes, every rect is exploded to the grid cells it covers and
candidates meet by cell equi-join.  Pure JVM Column expressions
(``explode(sequence(...))``) — stays inside whole-stage codegen, no
Python in the hot path.

The rect and polygon intersection joins share one candidate path:
:func:`side_cover` explodes each side, :func:`hot_census` finds the
cells dense enough to need a skew defense, and :func:`cell_candidates`
meets the two sides by cell — plainly, or with hot cells subdivided and
salted — and hands back the exactly-once rule the caller's refine must
apply.  :func:`disk_cells` is the point-side explode of the kNN gather
and the distance join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid

FINE_LEVELS = 2  # hot coarse cells subdivide into 4^2 = 16 children


def _explode_cells(
    df: DataFrame, grid: Grid, gx0: Column, gx1: Column, gy0: Column, gy1: Column
) -> DataFrame:
    """One row per cell of the inclusive index box [gx0, gx1] x [gy0, gy1]
    of ``grid`` (column ``cell``)."""
    return (
        df.withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn("cell", grid.cell_col(F.col("_gx"), F.col("_gy")))
        .drop("_gx", "_gy")
    )


def with_cover_cells(df: DataFrame, grid: Grid, prefix: str = "") -> DataFrame:
    """Explode each rect row to one row per covered cell (column ``cell``).

    Cover ranges are inclusive ``[floor(min/s), floor(max/s)]`` so rects
    touching a cell boundary still share a candidate cell with neighbors
    they touch (closed-interval intersection, RTreeBulkLoad.h:159-163).
    """
    p = prefix
    return _explode_cells(
        df, grid,
        grid.cx_col(F.col(f"{p}min_x")), grid.cx_col(F.col(f"{p}max_x")),
        grid.cx_col(F.col(f"{p}min_y")), grid.cx_col(F.col(f"{p}max_y")),
    )


def disk_cells(df: DataFrame, grid: Grid) -> DataFrame:
    """Explode each row to its Chebyshev disk: the cells within ``rho``
    of cell (``qcx``, ``qcy``), clipped to the grid (column ``cell``)."""
    n = grid.n
    qcx, qcy, rho = F.col("qcx"), F.col("qcy"), F.col("rho")
    return _explode_cells(
        df, grid,
        F.greatest(F.lit(0), qcx - rho), F.least(F.lit(n - 1), qcx + rho),
        F.greatest(F.lit(0), qcy - rho), F.least(F.lit(n - 1), qcy + rho),
    )


def side_cover(rects: DataFrame, grid: Grid, prefix: str) -> DataFrame:
    """One join side: ``doc_id`` and the bbox renamed under ``prefix``
    (``a_``/``b_``), exploded to one row per covered cell.  Slim by
    design — polygon rings are re-attached by id after the cell join."""
    return with_cover_cells(
        rects.select(
            F.col("doc_id").alias(f"{prefix}doc_id"),
            *(F.col(c).alias(f"{prefix}{c}") for c in ("min_x", "min_y", "max_x", "max_y")),
        ),
        grid,
        prefix=prefix,
    )


def ref_point_cell_col(
    grid: Grid,
    a_min_x: Column, a_min_y: Column,
    b_min_x: Column, b_min_y: Column,
) -> Column:
    """Cell of the *reference point* of an intersecting pair:
    ``(max(a.min_x, b.min_x), max(a.min_y, b.min_y))`` — the lower-left
    corner of the intersection region.  Keeping a candidate pair only in
    this cell makes every true pair survive **exactly once** without a
    ``distinct`` shuffle (SURVEY.md J1: "reference-point dedup")."""
    return grid.cell_of_point_col(F.greatest(a_min_x, b_min_x), F.greatest(a_min_y, b_min_y))


def hot_census(
    a_rects: DataFrame, grid: Grid, hot_threshold: int | None, sample_fraction: float = 1.0
) -> DataFrame | None:
    """Cells whose A-side cover count exceeds ``hot_threshold``
    (columns ``cell, _n``), persisted; ``None`` when there are none or
    no threshold is set.

    ``sample_fraction < 1`` counts a seeded sample of A with the
    threshold scaled by the fraction instead of a second full
    cover-explode — sampling error only shifts which cells get the skew
    defense, never which pairs come out.  Persisted because the hot set
    feeds BOTH sides' broadcast rekeys and Spark does not reuse the
    exchange across them (measured: the census explode+agg executed
    twice, ~33% of the salted wall at sf0.1).  Tiny by construction, so
    never unpersisted.  The emptiness probe is a bounded planning action
    on that O(hot cells) result (same class as the layout medians)."""
    if hot_threshold is None:
        return None
    src = a_rects if sample_fraction >= 1.0 else a_rects.sample(fraction=sample_fraction, seed=42)
    census = (
        side_cover(src, grid, "a_")
        .groupBy("cell")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > hot_threshold * sample_fraction)
    ).persist()
    return None if census.isEmpty() else census


def cell_candidates(
    a: DataFrame,
    b: DataFrame,
    grid: Grid,
    census: DataFrame | None,
    n_salt: int = 16,
) -> tuple[DataFrame, Column]:
    """Meet two :func:`side_cover` sides by cell → ``(candidates, keep)``.

    ``keep`` is the exactly-once rule the refine must apply: the pair's
    key is the cell of its reference point.  Two shapes:

    - ``census is None``: the plain ``cell`` equi-join (AQE skew-join is
      the only skew defense) — no broadcast, no salt, no rekey;
    - otherwise the one skew path.  Hot coarse cells subdivide
      ``FINE_LEVELS`` finer (:func:`adaptive_rekey`), so pairs that never
      share a fine cell are never generated: the hot cross-product
      SHRINKS, as STR packing's leaf extent adapts to density
      (RTreeBulkLoad.cpp:29-60).  Inside hot cells A rows then hash into
      ``n_salt`` buckets and B rows fan out over all of them (cold rows:
      salt 0), so what subdivision cannot split — coincident rects —
      still spreads over ``n_salt`` tasks, for B's hot rows x ``n_salt``.
      Join key ``(key, salt)``; ``keep`` is :func:`adaptive_keep_col`.
    """
    if census is None:
        keep = F.col("cell") == ref_point_cell_col(
            grid, F.col("a_min_x"), F.col("a_min_y"), F.col("b_min_x"), F.col("b_min_y")
        )
        return a.join(b, "cell"), keep
    hot = census.select("cell", F.lit(True).alias("_hot"))
    a_salt = F.array(F.pmod(F.xxhash64("a_doc_id"), F.lit(n_salt)).cast("int"))
    b_salt = F.sequence(F.lit(0), F.lit(n_salt - 1))
    joined = adaptive_rekey(a, "a_", grid, hot, a_salt).join(
        adaptive_rekey(b, "b_", grid, hot, b_salt), ["key", "salt"]
    )
    rx = F.greatest(F.col("a_min_x"), F.col("b_min_x"))
    ry = F.greatest(F.col("a_min_y"), F.col("b_min_y"))
    return joined, adaptive_keep_col(grid, rx, ry)


def adaptive_rekey(df: DataFrame, p: str, grid: Grid, hot: DataFrame, salts: Column) -> DataFrame:
    """Mixed-resolution rekey: rows whose coarse ``cell`` is in the
    broadcast ``hot`` set (columns ``cell, _hot=true``) REPLACE it with
    the fine cells of their bbox cover CLIPPED to that coarse cell's
    children (cell-prefix arithmetic: children of (cx, cy) at +k levels
    are [cx<<k, (cx<<k)+2^k-1] x same for y) and explode over the array
    ``salts``; every other row keeps the coarse key and salt 0.  Fine
    keys live at ``n^2 + fine_cell`` so the two key spaces never
    collide.  ``p`` is the bbox column prefix (``a_``/``b_``)."""
    fine = Grid(grid.level + FINE_LEVELS, grid.extent)
    m = 1 << FINE_LEVELS  # fine cells per coarse cell per axis
    offset = grid.n * grid.n  # fine keys start above every coarse id
    ccx, ccy = grid.xy_cols(F.col("cell"))
    fx0, fx1 = fine.cx_col(F.col(f"{p}min_x")), fine.cx_col(F.col(f"{p}max_x"))
    fy0, fy1 = fine.cx_col(F.col(f"{p}min_y")), fine.cx_col(F.col(f"{p}max_y"))
    # fine cover clipped to this coarse cell's children — non-empty
    # by cover construction (the rect covers the coarse cell, and
    # clamping is applied identically at both levels)
    lo_x = F.greatest(fx0, ccx * m)
    hi_x = F.least(fx1, ccx * m + F.lit(m - 1))
    lo_y = F.greatest(fy0, ccy * m)
    hi_y = F.least(fy1, ccy * m + F.lit(m - 1))
    hot_flag = F.coalesce(F.col("_hot"), F.lit(False))
    one = F.array(F.lit(-1).cast("long"))
    return (
        df.join(F.broadcast(hot), "cell", "left")
        .withColumn("_fx", F.explode(F.when(hot_flag, F.sequence(lo_x, hi_x)).otherwise(one)))
        .withColumn("_fy", F.explode(F.when(hot_flag, F.sequence(lo_y, hi_y)).otherwise(one)))
        .withColumn(
            "key",
            F.when(
                hot_flag, F.lit(offset) + fine.cell_col(F.col("_fx"), F.col("_fy"))
            ).otherwise(F.col("cell")),
        )
        .withColumn("salt", F.explode(F.when(hot_flag, salts).otherwise(F.array(F.lit(0)))))
        .drop("cell", "_hot", "_fx", "_fy")
    )


def adaptive_keep_col(grid: Grid, rx: Column, ry: Column) -> Column:
    """Exactly-once rule for mixed-resolution candidates: a pair
    survives iff its key is the cell of its reference point (rx, ry)
    evaluated AT THE ROW'S OWN RESOLUTION.  A true pair's reference
    cell is hot or not — exactly one branch can ever match, so no pair
    is emitted twice across resolutions."""
    fine = Grid(grid.level + FINE_LEVELS, grid.extent)
    offset = grid.n * grid.n
    return F.when(
        F.col("key") >= offset,
        F.col("key") == F.lit(offset) + fine.cell_of_point_col(rx, ry),
    ).otherwise(F.col("key") == grid.cell_of_point_col(rx, ry))
