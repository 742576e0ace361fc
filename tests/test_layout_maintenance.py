"""The written layout's MBR-stats sidecar and the partition pruning it
drives (reference root-level MBR pruning, RTreeBulkLoad.cpp:154-156)."""

import os

import pandas as pd
import pytest

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.plans import layout

GRID = Grid(6)


@pytest.fixture()
def table(spark, rects_a_pdf, tmp_path):
    path = str(tmp_path / "tbl")
    layout.write_layout(spark.createDataFrame(rects_a_pdf), path, GRID)
    return path


def test_pruned_range_query_matches_and_prunes(spark, rects_a_pdf, table):
    """MBR-stats partition pruning (reference root-level MBR pruning,
    RTreeBulkLoad.cpp:154-156): same rows as the unpruned query, fewer
    partitions read, and the isin reaches the scan as PartitionFilters."""
    import io
    from contextlib import redirect_stdout

    from rtree_cpp_spark.operators.range_query import range_query, range_query_layout

    queries = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": ["q0", "q1"],
                "min_x": [1.0, 200.0],
                "min_y": [1.0, 150.0],
                "max_x": [60.0, 260.0],
                "max_y": [60.0, 210.0],
            }
        )
    )
    got = range_query_layout(spark, table, queries, GRID)
    exp = range_query(
        spark.createDataFrame(rects_a_pdf), queries, GRID
    )
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, exp.collect()))
    assert g == e and len(g) > 0
    # real pruning happened (exclusion-based: some partitions proven disjoint)
    excluded = layout.excluded_partitions_for_queries(spark, table, queries.toPandas())
    total = layout.read_partition_stats(spark, table).count()
    assert 0 < len(excluded) < total
    # missing sidecar degrades to "prune nothing", never to dropped rows
    assert layout.excluded_partitions_for_queries(spark, table + "_nope", queries.toPandas()) == []
    # and it reached the scan as a partition filter (zero I/O for pruned dirs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain(True)
    assert "PartitionFilters" in buf.getvalue()
    assert "coarse_cell" in buf.getvalue().split("PartitionFilters", 1)[1][:400]


def test_legacy_layout_partial_sidecar_never_drops_rows(spark, rects_a_pdf, table):
    """A PARTIAL sidecar — some partitions without a stats row, as in a
    layout written before the sidecar existed or a crash between the
    data and stats writes (simulated by deleting every other stats
    partition) — exclusion-based pruning must still return every
    matching row."""
    import shutil

    from rtree_cpp_spark.operators.range_query import range_query, range_query_layout

    stats = layout.stats_path(table)
    parts = sorted(d for d in os.listdir(stats) if d.startswith("coarse_cell="))
    for d in parts[::2]:
        shutil.rmtree(os.path.join(stats, d))
    st = layout.read_partition_stats(spark, table).toPandas()
    data_parts = layout.read_layout(spark, table).select("coarse_cell").distinct().count()
    assert 0 < len(st) < data_parts  # sidecar really is partial
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": ["all"], "min_x": [0.0], "min_y": [0.0],
             "max_x": [1024.0], "max_y": [1024.0]}
        )
    )
    got = sorted(r.doc_id for r in range_query_layout(spark, table, queries, GRID).collect())
    exp = sorted(r.doc_id for r in range_query(
        layout.read_layout(spark, table).select("doc_id", "min_x", "min_y", "max_x", "max_y"),
        queries, GRID).collect())
    assert got == exp and len(got) > 0
