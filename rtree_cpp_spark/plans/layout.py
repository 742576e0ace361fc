"""Table layout = the index (reference STR bulk load, SURVEY.md B1-B4).

The reference builds a pointer tree (RTreeBulkLoad.cpp:7-27); the Spark
analog is *data layout*: pick a cell resolution by the STR density
heuristic (capacity 64, src/Main.cpp:192; slab math RTreeBulkLoad.cpp:
38-40), add the cell key, `repartitionByRange` on it, sort within
partitions by (cell, min_x) — preserving the reference's within-node
minX order (Node.cpp:39-51) — and write a cell-keyed parquet/Iceberg
table.  Queries then get partition pruning on `cell` for free (the
distributed analog of MBR pruning, SURVEY.md O2).

Storage contract: parquet IS the contract (docs/STORAGE.md — single
authoritative statement, incl. the 1:1 Iceberg mapping when a catalog
exists).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid, pick_resolution
from rtree_cpp_spark.operators.tiles import primary_cell_col
from rtree_cpp_spark.plans.manifest import dynamic_overwrite

TARGET_OCCUPANCY = 64.0  # reference node capacity, src/Main.cpp:192


def median_occupancy_by_level(
    rects: DataFrame, levels: list[int], sample_fraction: float = 1.0, extent: float = 1024.0
) -> dict[int, float]:
    """One sampled pass per candidate level: median docs-per-cell at the
    centroid assignment (SURVEY.md section 4.1)."""
    df = rects if sample_fraction >= 1.0 else rects.sample(fraction=sample_fraction, seed=42)
    cells = df.select(*[primary_cell_col(Grid(lvl, extent)).alias(f"c{lvl}") for lvl in levels])
    out: dict[int, float] = {}
    for lvl in levels:
        counts = cells.groupBy(f"c{lvl}").count()
        med = counts.agg(F.expr("percentile_approx(count, 0.5)").alias("m")).collect()[0]["m"]
        out[lvl] = float(med) / max(sample_fraction, 1e-12)
    return out


def occupancy_stats(
    rects: DataFrame, levels: list[int] | None = None, extent: float = 1024.0
) -> DataFrame:
    """(level, n_cells, max_occ, median_occ): exact per-level occupancy of
    the centroid tile assignment — the observable the STR density
    heuristic (SURVEY.md section 4.1) chooses the resolution from.
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


def choose_grid(
    rects: DataFrame,
    levels: list[int] | None = None,
    target: float = TARGET_OCCUPANCY,
    sample_fraction: float = 1.0,
    extent: float = 1024.0,
) -> Grid:
    levels = levels or [2, 3, 4, 5, 6, 7, 8]
    occ = median_occupancy_by_level(rects, levels, sample_fraction, extent)
    return Grid(pick_resolution(occ, target), extent)


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


# ---------------------------------------------------------------------------
# Incremental maintenance — the distributed analog of the reference's
# (dead-code) dynamic path: Node::deleteEntry / recalculateMBR
# (Node.cpp:53-111, never called from Main.cpp).  Here the "node" is a
# coarse-cell hive partition: updates/deletes rewrite ONLY the affected
# partitions via STAGE-AND-SWAP (write to a sibling staging dir, then
# per-dir delete+rename; heal_layout completes an interrupted swap), so
# no crash point can lose a partition.  Per-cell MBR stats are derived
# columns, so the recalculateMBR analog is free on next read.  With an
# Iceberg catalog the same operations become transactional
# rewrite-files commits (docs/STORAGE.md spells out the contract).
# ---------------------------------------------------------------------------


def _affected_partitions(df: DataFrame) -> list[int]:
    """Coarse cells touched by a change set — driver-resident by design
    (bounded by the coarse grid, <= 4^(level - coarse_levels_up))."""
    return [r[0] for r in df.select("coarse_cell").distinct().collect()]


def _fs(spark):
    hadoop = spark._jvm.org.apache.hadoop.fs
    return hadoop, hadoop.FileSystem.get(spark._jsc.hadoopConfiguration())


def _swap_staging(path: str) -> str:
    return f"{path}__swap"


def _rename_or_raise(fs, hadoop, src: str, dst: str) -> None:
    """Hadoop rename signals failure via its boolean return — surface it
    instead of silently dropping a partition."""
    if not fs.rename(hadoop.Path(src), hadoop.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def _marker_path(staging: str) -> str:
    """The swap's COMMIT POINT: a single file in the staging dir listing
    the partitions the change set EMPTIED (present in the live table,
    absent from the staged output).  Until it lands (tmp write + atomic
    rename) no live dir has been touched, so a crash leaves the original
    table intact and heal_layout drops the staging as a dead partial.
    After it lands, heal_layout can finish the swap from any crash point
    — including deleting emptied partitions' live dirs, which the staged
    dir listing alone cannot represent (zero rows → no dir)."""
    return f"{staging}/_EMPTIED"


def _write_emptied_marker(fs, hadoop, staging: str, emptied: list[int]) -> None:
    tmp = f"{staging}/_EMPTIED.tmp"
    out = fs.create(hadoop.Path(tmp), True)
    out.write(",".join(str(p) for p in sorted(emptied)).encode("ascii"))
    out.close()
    _rename_or_raise(fs, hadoop, tmp, _marker_path(staging))


def _read_emptied_marker(spark, fs, hadoop, staging: str) -> list[int]:
    jvm = spark._jvm
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(hadoop.Path(_marker_path(staging))), "US-ASCII")
    )
    line = reader.readLine()
    reader.close()
    return [int(x) for x in line.split(",")] if line else []


def heal_layout(spark, path: str) -> list[int]:
    """Complete an interrupted partition (or retile) swap.

    A partition swap is COMMITTED once the staging dir holds both the
    write's ``_SUCCESS`` and the ``_EMPTIED`` marker (written after it,
    atomically — live dirs are only touched after both exist).  A
    committed staging is AUTHORITATIVE: every staged partition dir
    replaces its live counterpart (the live dir may be a torn partial
    from a crash mid recursive delete — the staged copy is the only
    provably complete one), every partition listed in ``_EMPTIED`` has
    its live dir removed (the change set deleted all its rows), and each
    healed partition's stats row is dropped first so a stale MBR can
    never prune against swapped-in data.  Without both files, staging is
    a dead partial write and is dropped — the live table was never
    touched, so the op simply didn't happen.

    A ``__retiling`` rewrite is committed by its data ``_SUCCESS`` and
    replaces the whole table; the live stats sidecar describes the OLD
    grid, so it is deleted unconditionally before the new data lands
    (exclusion-based pruning makes "no sidecar" safe; a stale one is
    not) and the STAGED sidecar — when committed — is installed, never
    out-prioritized by a leftover live one.

    Called automatically at the start of upsert/delete/retile;
    idempotent (completing the staged rewrite IS the op the crash
    interrupted).  Single writer per table assumed (concurrent
    maintenance needs a catalog — Iceberg's optimistic commit — not
    plain parquet).  Returns healed cells.

    PROTOCOL-VERSION NOTE: the ``_EMPTIED`` marker is part of the swap
    commit point.  A ``_SUCCESS``-only staging dir written by a
    pre-marker build of this module CANNOT be healed by this code: the
    emptied-partition set is unrecoverable without the marker, and
    swapping in only the staged dirs would resurrect rows the change
    deleted.  Tables carrying an in-flight swap from a pre-marker build
    must be healed by that build before upgrading (complete or abandon
    the swap, leaving no ``{path}__swap_staging`` dir).  This code
    treats such a staging as a dead partial and drops it — safe for
    every state the CURRENT writer can produce (it never touches live
    dirs before writing the marker)."""
    hadoop, fs = _fs(spark)
    # interrupted RETILE swap: the committed rewrite wins over whatever
    # remains of the (possibly partially deleted) table
    retiling = f"{path}__retiling"
    if fs.exists(hadoop.Path(f"{retiling}/_SUCCESS")):
        # the live sidecar is in the old grid's cell space — paired with
        # new-grid data it would prune wrongly; drop it BEFORE the data
        # swap so no crash interleaving can leave the stale pairing
        fs.delete(hadoop.Path(stats_path(path)), True)
        fs.delete(hadoop.Path(path), True)
        _rename_or_raise(fs, hadoop, retiling, path)
    elif fs.exists(hadoop.Path(retiling)):
        fs.delete(hadoop.Path(retiling), True)  # dead partial rewrite
    staged_stats = stats_path(retiling)
    if fs.exists(hadoop.Path(staged_stats)):
        # data rename done (above or by the crashed writer): the staged
        # sidecar is authoritative — never keep a pre-existing live one
        # over it (it can only be a stale old-grid leftover here)
        fs.delete(hadoop.Path(stats_path(path)), True)
        if fs.exists(hadoop.Path(f"{staged_stats}/_SUCCESS")):
            _rename_or_raise(fs, hadoop, staged_stats, stats_path(path))
        else:
            fs.delete(hadoop.Path(staged_stats), True)  # torn sidecar write
    staging = _swap_staging(path)
    if not fs.exists(hadoop.Path(staging)):
        return []
    healed: list[int] = []
    committed = fs.exists(hadoop.Path(f"{staging}/_SUCCESS")) and fs.exists(
        hadoop.Path(_marker_path(staging))
    )
    if committed:
        emptied = _read_emptied_marker(spark, fs, hadoop, staging)
        for st in fs.listStatus(hadoop.Path(staging)):
            name = st.getPath().getName()
            if name.startswith("coarse_cell="):
                # per-partition order: stats row out FIRST, then swap — a
                # swapped-in partition must never sit next to a stale MBR
                # row (an upserted doc outside the old MBR would be
                # pruned away); missing stats just read the partition
                fs.delete(hadoop.Path(f"{stats_path(path)}/{name}"), True)
                fs.delete(hadoop.Path(f"{path}/{name}"), True)
                _rename_or_raise(fs, hadoop, str(st.getPath().toUri().getPath()), f"{path}/{name}")
                healed.append(int(name.split("=", 1)[1]))
        for p in emptied:
            # staged output has no dir for an emptied partition; without
            # the marker its live dir would survive the crash and the
            # deleted rows would resurrect
            fs.delete(hadoop.Path(f"{stats_path(path)}/coarse_cell={p}"), True)
            fs.delete(hadoop.Path(f"{path}/coarse_cell={p}"), True)
            healed.append(p)
    fs.delete(hadoop.Path(staging), True)
    return sorted(healed)


def _rewrite_partitions(spark, merged: DataFrame, path: str, touched: list[int]) -> list[int]:
    """Stage-and-swap partition rewrite: the merged rows are written to a
    STAGING dir first (originals untouched — the module's own rule that
    read+overwrite of one path is unsafe applies to partitions too),
    then each touched dir is swapped in by delete+rename.  With
    ``heal_layout``, every crash point either leaves the original table
    intact (before the swap) or is completable (during it) — never a
    lost partition; the closest plain parquet gets to an Iceberg
    rewrite-files commit.  Touched partitions absent from the staged
    output were emptied by the change and are reported back.

    Stats rows for touched partitions drop before the swap and rebuild
    after — exclusion-based pruning keeps every intermediate state safe
    (missing stats rows read the partition; stale ones never survive)."""
    hadoop, fs = _fs(spark)
    staging = _swap_staging(path)
    fs.delete(hadoop.Path(staging), True)
    # materialize ONCE: the staged write and the stats pass share it, and
    # nothing re-reads table files mid-swap
    merged = merged.localCheckpoint()
    (
        merged.sortWithinPartitions("_z", "min_x")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("coarse_cell")
        .parquet(staging)
    )
    # commit point: record which touched partitions the change EMPTIED
    # (no staged dir to witness them), then — and only then — start
    # mutating the live table.  heal_layout can finish everything below
    # from any crash point; before the marker it drops staging untouched.
    emptied = [
        p for p in touched if not fs.exists(hadoop.Path(f"{staging}/coarse_cell={p}"))
    ]
    _write_emptied_marker(fs, hadoop, staging, emptied)
    for p in touched:
        fs.delete(hadoop.Path(f"{stats_path(path)}/coarse_cell={p}"), True)
    for p in touched:
        fs.delete(hadoop.Path(f"{path}/coarse_cell={p}"), True)
        src = f"{staging}/coarse_cell={p}"
        if fs.exists(hadoop.Path(src)):
            _rename_or_raise(fs, hadoop, src, f"{path}/coarse_cell={p}")
    fs.delete(hadoop.Path(staging), True)
    with dynamic_overwrite(spark):
        (
            _partition_stats(merged)
            .write.mode("overwrite")
            .partitionBy("coarse_cell")
            .parquet(stats_path(path))
        )
    return sorted(emptied)


def upsert_layout(
    spark,
    new_rects: DataFrame,
    path: str,
    grid: Grid,
    coarse_levels_up: int = 3,
) -> dict:
    """Merge new/changed docs (keyed by ``doc_id``) into the layout.

    Rows with a doc_id already present are REPLACED (new geometry wins);
    unknown doc_ids are inserted.  Only the coarse-cell partitions the
    new docs land in are rewritten.  A doc whose geometry moved ACROSS
    coarse cells must be deleted from its old partition first
    (``delete_from_layout`` with the old rows — the reference's
    deleteEntry likewise takes the old entry, Node.cpp:53)."""
    heal_layout(spark, path)
    new_df = _with_layout_cols(new_rects, grid, coarse_levels_up)
    affected = _affected_partitions(new_df)
    cols = ["doc_id", "min_x", "min_y", "max_x", "max_y", "cell", "_z", "coarse_cell"]
    existing = read_layout(spark, path).where(F.col("coarse_cell").isin(affected))
    existing = existing.withColumn("_z", grid.morton_col(F.col("cell")))
    keep = existing.join(new_df.select("doc_id").distinct(), "doc_id", "left_anti")
    merged = keep.select(*cols).unionByName(new_df.select(*cols))
    _rewrite_partitions(spark, merged, path, affected)
    return {"affected_partitions": sorted(affected)}


def delete_from_layout(
    spark,
    old_rects: DataFrame,
    path: str,
    grid: Grid,
    coarse_levels_up: int = 3,
) -> dict:
    """Remove docs from the layout — deleteEntry's analog (Node.cpp:53-77).

    Takes the docs' OLD rows (doc_id + geometry) so the affected coarse
    partitions are computable without scanning the table, exactly as the
    reference's deleteEntry receives the entry being removed.  Emptied
    partitions have their directories dropped (an Iceberg delete commit
    does this transactionally)."""
    heal_layout(spark, path)
    old_df = _with_layout_cols(old_rects, grid, coarse_levels_up)
    affected = _affected_partitions(old_df)
    cols = ["doc_id", "min_x", "min_y", "max_x", "max_y", "cell", "_z", "coarse_cell"]
    existing = read_layout(spark, path).where(F.col("coarse_cell").isin(affected))
    existing = existing.withColumn("_z", grid.morton_col(F.col("cell")))
    keep = existing.join(old_df.select("doc_id").distinct(), "doc_id", "left_anti").select(*cols)
    # emptied partitions fall out of the staged write (no second
    # anti-join pass to pre-compute them)
    emptied = _rewrite_partitions(spark, keep, path, affected)
    return {"affected_partitions": sorted(affected), "emptied_partitions": emptied}


def maybe_retile(
    spark,
    path: str,
    grid: Grid,
    target: float = TARGET_OCCUPANCY,
    band: float = 4.0,
    levels: list[int] | None = None,
    sample_fraction: float = 1.0,
    coarse_levels_up: int = 3,
) -> Grid:
    """Density-drift re-tiling — the STR rebuild analog.

    After enough upserts/deletes the chosen resolution drifts away from
    the reference's target occupancy (capacity 64, src/Main.cpp:192).
    If the current median occupancy leaves [target/band, target*band],
    re-pick the resolution with the same density heuristic and rewrite
    the layout through a staging dir + atomic-ish swap (read and
    overwrite of the same path in one job is unsafe in Spark).  Returns
    the grid now in effect; callers persist it in the run manifest."""
    heal_layout(spark, path)  # a prior crashed retile/swap must complete
    # before this run reads the table (a torn table would be re-tiled as
    # if it were the whole dataset — silent row loss)
    rects = read_layout(spark, path).select("doc_id", "min_x", "min_y", "max_x", "max_y")
    occ = median_occupancy_by_level(
        rects, [grid.level], sample_fraction=sample_fraction, extent=grid.extent
    )[grid.level]
    if target / band <= occ <= target * band:
        return grid
    new_grid = choose_grid(
        rects, levels=levels, target=target,
        sample_fraction=sample_fraction, extent=grid.extent,
    )
    if new_grid.level == grid.level:
        return grid
    staging = f"{path}__retiling"
    write_layout(rects, staging, new_grid, coarse_levels_up=coarse_levels_up)
    hadoop, fs = _fs(spark)
    # Swap order matters: drop the OLD sidecar first (its coarse-cell ids
    # are in the old grid's space — against the new data they would prune
    # wrongly; with exclusion-based pruning, "no sidecar" just reads
    # everything), then swap the data, then install the new sidecar.
    fs.delete(hadoop.Path(stats_path(path)), True)
    fs.delete(hadoop.Path(path), True)
    _rename_or_raise(fs, hadoop, staging, path)
    _rename_or_raise(fs, hadoop, stats_path(staging), stats_path(path))
    return new_grid


def write_bucketed(
    rects: DataFrame,
    table_name: str,
    grid: Grid,
    n_buckets: int = 16,
) -> None:
    """Write a cell-BUCKETED table (Hive bucketing on ``cell``): two
    tables bucketed the same way join WITHOUT any exchange — the
    shuffle the cell equi-join would otherwise pay happens once at
    write time and is amortized over every subsequent join/query
    (SURVEY.md §4.2 "bucketing for co-located joins"; the closest Spark
    analog of the reference's persistent R-tree).  Requires a warehouse
    (saveAsTable); asserted shuffle-free by tests via plan inspection."""
    (
        rects.withColumn("cell", primary_cell_col(grid))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "cell")
        .sortBy("cell", "min_x")
        .saveAsTable(table_name)
    )


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
