"""Table layout = the index (reference STR bulk load, SURVEY.md B1-B4).

The reference builds a pointer tree (RTreeBulkLoad.cpp:7-27); the Spark
analog is *data layout*: add the cell key of the caller's grid (jobs
take the resolution from ``--grid-level``; ``occupancy_stats`` reports
the per-level occupancy to choose it from), `repartitionByRange` on it,
sort within partitions by (cell, min_x) — preserving the reference's
within-node minX order (Node.cpp:39-51) — and write a cell-keyed
parquet/Iceberg table.  Queries then get partition pruning on `cell`
for free (the distributed analog of MBR pruning, SURVEY.md O2).  The
layout is written whole; there is no in-place upsert or delete (the
reference's dynamic path, Node.cpp:53-111, is dead code too).

Storage contract: parquet IS the contract (docs/STORAGE.md — single
authoritative statement, incl. the 1:1 Iceberg mapping when a catalog
exists).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.tiles import primary_cell_col


def occupancy_stats(
    rects: DataFrame, levels: list[int] | None = None, extent: float = 1024.0
) -> DataFrame:
    """(level, n_cells, max_occ, median_occ): exact per-level occupancy of
    the centroid tile assignment — the observable a grid level is
    chosen from (SURVEY.md section 4.1; capacity 64, src/Main.cpp:192).
    Exact ``percentile(0.5)`` (not approx) so the SQL oracle matches."""
    levels = levels or [4, 5, 6]
    cells = rects.select(*[primary_cell_col(Grid(lvl, extent)).alias(f"c{lvl}") for lvl in levels])
    per_level = [
        cells.groupBy(F.col(f"c{lvl}").alias("cell"))
        .agg(F.count("*").alias("n"))
        .agg(
            F.lit(lvl).alias("level"),
            F.count("*").alias("n_cells"),
            F.max("n").alias("max_occ"),
            F.expr("percentile(n, 0.5D)").alias("median_occ"),
        )
        for lvl in levels
    ]
    out = per_level[0]
    for df in per_level[1:]:
        out = out.unionByName(df)
    return out


def _with_layout_cols(rects: DataFrame, grid: Grid, coarse_levels_up: int) -> DataFrame:
    """rects + (cell, coarse_cell, _z): the layout's derived key columns.
    A grid coarser than ``coarse_levels_up`` levels has one coarse cell."""
    up = min(coarse_levels_up, grid.level)
    return (
        rects.withColumn("cell", primary_cell_col(grid))
        .withColumn("_z", grid.morton_col(F.col("cell")))
        .withColumn("coarse_cell", grid.parent_col(F.col("cell"), up))
    )


def stats_path(path: str) -> str:
    """Sidecar location of the per-coarse-partition MBR stats table."""
    return f"{path}__cellstats"


def _partition_stats(df: DataFrame) -> DataFrame:
    """(coarse_cell, n_docs, mbr_min_x..mbr_max_y): the node-MBR analog
    (reference Node.cpp:20-38) per hive partition.  A partition's MBR can
    overhang its coarse cell's box — docs are placed by CENTROID — which
    is exactly why queries must prune on the MBR, not the cell bounds
    (same as R-tree node MBRs overhanging their STR slab)."""
    return df.groupBy("coarse_cell").agg(
        F.count("*").alias("n_docs"),
        F.min("min_x").alias("mbr_min_x"),
        F.min("min_y").alias("mbr_min_y"),
        F.max("max_x").alias("mbr_max_x"),
        F.max("max_y").alias("mbr_max_y"),
    )


def write_layout(
    rects: DataFrame,
    path: str,
    grid: Grid,
    num_partitions: int | None = None,
    coarse_levels_up: int = 3,
) -> None:
    """Write the cell-keyed table: z-ordered range partitioning (spatial
    locality across files) + hive partition dirs on a coarse parent cell
    (partition pruning for queries touching few regions), plus the MBR
    stats sidecar (`stats_path`) that makes the pruning sound."""
    df = _with_layout_cols(rects, grid, coarse_levels_up)
    spark = rects.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    (
        df.repartitionByRange(parts, "_z")
        .sortWithinPartitions("_z", "min_x")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("coarse_cell")
        .parquet(path)
    )
    # stats from the WRITTEN table (a 5-column scan of the output), not a
    # second execution of the full source plan + derivation
    (
        _partition_stats(read_layout(spark, path))
        .write.mode("overwrite")
        .partitionBy("coarse_cell")
        .parquet(stats_path(path))
    )


def read_layout(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_partition_stats(spark, path: str) -> DataFrame:
    return spark.read.parquet(stats_path(path))


def excluded_partitions_for_queries(spark, path: str, queries_pdf) -> list[int]:
    """Coarse partitions PROVABLY disjoint from every query rect (closed
    bounds, reference predicate P1) — the distributed analog of the
    R-tree's root-level MBR-disjoint pruning (RTreeBulkLoad.cpp:154-156).

    EXCLUSION semantics by design: a partition is dropped only if a
    stats row proves it can't match, so a missing sidecar, a missing
    per-partition stats row (e.g. the crash window between a data
    rewrite and its stats rewrite), or a legacy layout written before
    the sidecar existed all degrade to "read it" — never to silently
    dropped results.  The stats table is O(coarse cells) (<= 4096 by
    contract), so the intersection runs driver-side in numpy."""
    from pyspark.errors import AnalysisException

    try:
        st = read_partition_stats(spark, path).toPandas()
    except AnalysisException:  # missing sidecar (legacy layout): prune nothing
        return []
    if not len(st) or not len(queries_pdf):
        return []
    qx0 = np.asarray(queries_pdf["min_x"], dtype=np.float64)
    qy0 = np.asarray(queries_pdf["min_y"], dtype=np.float64)
    qx1 = np.asarray(queries_pdf["max_x"], dtype=np.float64)
    qy1 = np.asarray(queries_pdf["max_y"], dtype=np.float64)
    hit = (
        (st["mbr_max_x"].to_numpy()[:, None] >= qx0[None, :])
        & (st["mbr_min_x"].to_numpy()[:, None] <= qx1[None, :])
        & (st["mbr_max_y"].to_numpy()[:, None] >= qy0[None, :])
        & (st["mbr_min_y"].to_numpy()[:, None] <= qy1[None, :])
    ).any(axis=1)
    return sorted(int(c) for c in st["coarse_cell"].to_numpy()[~hit])


def _fs(spark):
    hadoop = spark._jvm.org.apache.hadoop.fs
    return hadoop, hadoop.FileSystem.get(spark._jsc.hadoopConfiguration())


def write_bucketed_cover(
    rects: DataFrame,
    table_name: str,
    grid: Grid,
    n_buckets: int = 16,
    prefix: str = "",
) -> None:
    """Write the COVER-exploded side of a spatial join as a cell-bucketed
    table: one row per (cell, doc) the rect touches, bucketed+sorted on
    ``cell`` with the join-side column names already applied (``prefix``
    = "a_"/"b_").  Two tables written this way feed
    ``operators.spatial_join.spatial_join_bucketed`` — the cell
    sort-merge join runs with ZERO exchange on either side, the explode
    and the shuffle paid once at write time and amortized over every
    subsequent join (SURVEY.md §4.2; the persistent-index analog of the
    reference's saved R-tree)."""
    from rtree_cpp_spark.operators.cover import side_cover

    spark = rects.sparkSession
    # A killed session can leave the managed-table directory on disk
    # while the fresh in-memory catalog has no such table — CREATE then
    # fails with LOCATION_ALREADY_EXISTS.  Drop stale state on both
    # sides (catalog entry AND orphaned warehouse dir) before writing.
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    hadoop, fs = _fs(spark)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs.delete(hadoop.Path(f"{warehouse}/{table_name.lower()}"), True)

    (
        side_cover(rects, grid, prefix)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .saveAsTable(table_name)
    )
    # same-session re-writes: drop the cached file listing so readers
    # resolved after this call never see the replaced files
    spark.catalog.refreshTable(table_name)
