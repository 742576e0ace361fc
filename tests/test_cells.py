import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import MAX_LEVEL, Grid

G = Grid(6)  # 64x64 over [0,1024): cell size 16


def test_cell_of_point_basics():
    assert G.cell_of_point(0.0, 0.0) == 0
    assert G.cell_of_point(15.99, 15.99) == 0
    assert G.cell_of_point(16.0, 0.0) == 1 << 6
    assert G.cell_of_point(0.0, 16.0) == 1
    # clamped outside domain
    assert G.cell_of_point(5000.0, -3.0) == (63 << 6) | 0


def test_cover_touching_boundary_includes_next_cell():
    # rect ending exactly on a cell boundary covers the next cell too,
    # so closed-interval touching pairs share a candidate cell
    cells = G.cover_cells_one(0.0, 0.0, 16.0, 8.0)
    assert set(cells.tolist()) == {0, 1 << 6}


def test_cover_batch_matches_one():
    rng = np.random.default_rng(0)
    mins = rng.uniform(0, 1000, size=(50, 2))
    w = rng.uniform(0, 40, size=(50, 2))
    maxs = mins + w
    row_idx, cells = G.cover_cells_batch(mins[:, 0], mins[:, 1], maxs[:, 0], maxs[:, 1])
    for i in range(50):
        expect = set(G.cover_cells_one(mins[i, 0], mins[i, 1], maxs[i, 0], maxs[i, 1]).tolist())
        got = set(cells[row_idx == i].tolist())
        assert got == expect


def test_ring_and_disk():
    disk = G.disk_cells(10, 10, 2)
    assert len(disk) == 25
    ring = G.ring_cells(10, 10, 2)
    assert len(ring) == 16
    assert set(ring.tolist()) <= set(disk.tolist())
    # clamped at the edge
    assert len(G.disk_cells(0, 0, 1)) == 4


def test_parent_and_bounds():
    cell = G.encode(13, 42)
    assert G.parent(cell) == (6 << 5) | 21  # (cx>>1, cy>>1) encoded at level 5
    x0, y0, x1, y1 = G.cell_bounds(cell)
    assert (x0, y0, x1, y1) == (13 * 16.0, 42 * 16.0, 14 * 16.0, 43 * 16.0)


def test_morton_locality():
    # morton of adjacent cells differs in low bits only (sanity)
    m1 = G.morton(G.encode(3, 3))
    m2 = G.morton(G.encode(3, 4))
    assert m1 != m2


@settings(max_examples=200, deadline=None)
@given(
    x=st.floats(min_value=0, max_value=1023.75),
    y=st.floats(min_value=0, max_value=1023.75),
    lvl=st.integers(min_value=1, max_value=10),
)
def test_point_cell_within_cover_property(x, y, lvl):
    g = Grid(lvl)
    cell = int(g.cell_of_point(x, y))
    cover = g.cover_cells_one(x, y, x, y)
    assert cell in set(cover.tolist())
    x0, y0, x1, y1 = g.cell_bounds(cell)
    assert x0 <= x <= x1 and y0 <= y <= y1


def test_sql_twin_matches_numpy(spark):
    import pandas as pd

    pts = pd.DataFrame({"x": [0.0, 15.99, 16.0, 1023.75, 512.5], "y": [0.0, 3.0, 16.0, 1023.75, 0.25]})
    expected = G.cell_of_point(pts["x"].to_numpy(), pts["y"].to_numpy())
    df = spark.createDataFrame(pts)
    got_col = df.select(G.cell_of_point_col(df["x"], df["y"]).alias("c")).toPandas()["c"].to_numpy()
    got_sql = (
        df.selectExpr(G.cell_of_point_sql("x", "y") + " as c").toPandas()["c"].to_numpy()
    )
    np.testing.assert_array_equal(got_col, expected)
    np.testing.assert_array_equal(got_sql, expected)
    # and DuckDB evaluates the same SQL string identically
    import duckdb

    got_duck = (
        duckdb.connect()
        .execute(f"select {G.cell_of_point_sql('x', 'y')} as c from pts")
        .fetchdf()["c"]
        .to_numpy()
    )
    np.testing.assert_array_equal(got_duck, expected)


@st.composite
def _codec_case(draw):
    """A level in [0, MAX_LEVEL], grid coordinates biased to the grid
    edges, and rects whose centroids straddle the domain border."""
    lvl = draw(st.integers(min_value=0, max_value=MAX_LEVEL))
    n = 1 << lvl
    coord = st.one_of(st.sampled_from([0, n // 2, n - 1]), st.integers(min_value=0, max_value=n - 1))
    xy = draw(st.lists(st.tuples(coord, coord), min_size=1, max_size=8))
    edge = st.floats(min_value=-16.0, max_value=1040.0)
    side = st.floats(min_value=0.0, max_value=64.0)
    rects = draw(st.lists(st.tuples(edge, edge, side, side), min_size=1, max_size=8))
    return lvl, xy, rects


@settings(max_examples=30, deadline=None)
@given(case=_codec_case())
def test_column_codec_matches_numpy(spark, case):
    """Every Column twin of Grid equals its numpy method, which is the
    reference: decode, encode, parent at every height, Morton key, cell
    box, and the primary (centroid) cell."""
    from rtree_cpp_spark.operators.tiles import primary_cell_col

    lvl, xy, rects = case
    g = Grid(lvl)
    cx = np.array([p[0] for p in xy], dtype=np.int64)
    cy = np.array([p[1] for p in xy], dtype=np.int64)
    cells = g.encode(cx, cy)
    cell = F.col("cell")
    got_cols = [
        *g.xy_cols(cell),
        g.cell_col(F.col("cx"), F.col("cy")),
        g.morton_col(cell),
        *g.cell_box_cols(cell),
        *(g.parent_col(cell, up) for up in range(lvl + 1)),
    ]
    expected = [
        *g.cxcy(cells),
        g.encode(cx, cy),
        g.morton(cells),
        *g.cell_bounds(cells),
        *(g.parent(cells, up) for up in range(lvl + 1)),
    ]
    df = spark.createDataFrame(pd.DataFrame({"cx": cx, "cy": cy, "cell": cells}))
    got = df.select(*(c.alias(f"v{i}") for i, c in enumerate(got_cols))).toPandas()
    for i, want in enumerate(expected):
        np.testing.assert_array_equal(got[f"v{i}"].to_numpy(), want, err_msg=f"column {i}")

    r = pd.DataFrame(rects, columns=["min_x", "min_y", "w", "h"])
    r["max_x"], r["max_y"] = r["min_x"] + r["w"], r["min_y"] + r["h"]
    want = g.cell_of_point(
        (r["min_x"].to_numpy() + r["max_x"].to_numpy()) / 2.0,
        (r["min_y"].to_numpy() + r["max_y"].to_numpy()) / 2.0,
    )
    got = spark.createDataFrame(r).select(primary_cell_col(g).alias("c")).toPandas()["c"]
    np.testing.assert_array_equal(got.to_numpy(), want)


@pytest.mark.parametrize("level", [6, 27, 30])
def test_coarse_cell_col_is_grid_parent(spark, level):
    """The jobs' lineage key is the exact parent cell at every level.
    A decode through a double division rounds ``cx`` up once
    ``2 * level > 53``, e.g. (2^26 + 3, 2^27 - 1) at level 27."""
    from jobs._common import coarse_cell_col

    g = Grid(level)
    n = g.n
    cx = np.array([n - 1, n - 1, 0, n // 2 + 3, n // 2 + 3], dtype=np.int64)
    cy = np.array([n - 1, 0, n - 1, n - 1, 0], dtype=np.int64)
    cells = g.encode(cx, cy)
    df = spark.createDataFrame(pd.DataFrame({"cell": cells}))
    for coarse in (0, 3, level - 1):
        got = df.select(coarse_cell_col(g, coarse, F.col("cell"))).toPandas()["part"]
        np.testing.assert_array_equal(
            got.to_numpy(), g.parent(cells, level - coarse), err_msg=f"coarse level {coarse}"
        )
