"""End-to-end golden tests: engine vs brute-force oracle (SURVEY.md §5)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from oracle import brute
from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.cover import cell_candidates, hot_census, side_cover
from rtree_cpp_spark.operators.knn import knn
from rtree_cpp_spark.operators.pip_join import octagons_from_rects, polygon_join
from rtree_cpp_spark.operators.range_query import range_count, range_query
from rtree_cpp_spark.operators.spatial_join import spatial_join, spatial_join_salted
from rtree_cpp_spark.operators.tiles import cover_tiles, primary_tiles
from rtree_cpp_spark.sources import synth

from conftest import assert_same_rows

GRIDS = [Grid(3), Grid(6)]


@pytest.fixture(scope="module")
def rects_a_df(spark, rects_a_pdf):
    return spark.createDataFrame(rects_a_pdf)


@pytest.fixture(scope="module")
def rects_b_df(spark, rects_b_pdf):
    return spark.createDataFrame(rects_b_pdf)


@pytest.fixture(scope="module")
def range_queries_pdf():
    return synth.synth_range_queries_pdf(30, seed=43)


@pytest.mark.parametrize("grid", GRIDS, ids=lambda g: f"level{g.level}")
def test_range_query_vs_brute(spark, rects_a_df, rects_a_pdf, range_queries_pdf, grid):
    qdf = spark.createDataFrame(range_queries_pdf)
    got = range_query(rects_a_df, qdf, grid)
    exp = brute.range_brute(rects_a_pdf, range_queries_pdf)
    assert_same_rows(got, exp)


def test_range_count(spark, rects_a_df, rects_a_pdf, range_queries_pdf):
    qdf = spark.createDataFrame(range_queries_pdf)
    got = range_count(rects_a_df, qdf, Grid(6)).toPandas().set_index("query_id")["n_hits"]
    exp = (
        brute.range_brute(rects_a_pdf, range_queries_pdf)
        .groupby("query_id")
        .size()
        .reindex(range_queries_pdf["query_id"], fill_value=0)
    )
    assert got.sort_index().tolist() == exp.sort_index().tolist()


@pytest.mark.parametrize("grid", GRIDS, ids=lambda g: f"level{g.level}")
def test_spatial_join_vs_brute(spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf, grid):
    got = spatial_join(rects_a_df, rects_b_df, grid)
    exp = brute.join_brute(rects_a_pdf, rects_b_pdf)
    assert_same_rows(got, exp)
    # exactly-once: no duplicate pairs
    gp = got.toPandas()
    assert not gp.duplicated(["a_doc_id", "b_doc_id"]).any()


def test_salted_join_equals_unsalted(spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf):
    # skewed fixture: 30% of docs are clustered in 3 hot spots, so a low
    # threshold actually triggers salting here
    grid = Grid(6)
    salted = spatial_join_salted(rects_a_df, rects_b_df, grid, hot_threshold=5, n_salt=4)
    exp = brute.join_brute(rects_a_pdf, rects_b_pdf)
    assert_same_rows(salted, exp)


@pytest.mark.parametrize("grid", GRIDS, ids=lambda g: f"level{g.level}")
@pytest.mark.parametrize("n_salt", [1, 2])
def test_adaptive_join_equals_plain(
    spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf, grid, n_salt
):
    # low threshold on the clustered fixture → many coarse cells actually
    # subdivide (and, for n_salt > 1, salt); output must be bit-identical to
    # the brute join anyway
    got = spatial_join(rects_a_df, rects_b_df, grid, hot_threshold=3, n_salt=n_salt)
    exp = brute.join_brute(rects_a_pdf, rects_b_pdf)
    assert_same_rows(got, exp)
    gp = got.toPandas()
    assert not gp.duplicated(["a_doc_id", "b_doc_id"]).any()


def test_adaptive_join_sampled_census_and_keep_cell(
    spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf
):
    grid = Grid(6)
    got = spatial_join(
        rects_a_df, rects_b_df, grid, hot_threshold=4,
        sample_fraction=0.5, keep_cell=True,
    )
    gp = got.toPandas()
    exp = brute.join_brute(rects_a_pdf, rects_b_pdf)
    assert_same_rows(got.drop("cell"), exp)
    # keep_cell returns the COARSE reference cell — same lineage contract
    # as the other variants: recompute it from the pair's rects
    assert_coarse_ref_cells(gp, rects_a_pdf, rects_b_pdf, grid)


def assert_coarse_ref_cells(gp, a_pdf, b_pdf, grid):
    """``cell`` of every output pair is the coarse cell of its reference
    point, recomputed from the pair's rects."""
    a = a_pdf.set_index("doc_id")
    b = b_pdf.set_index("doc_id")
    rx = np.maximum(
        a.loc[gp["a_doc_id"], "min_x"].to_numpy(np.float64),
        b.loc[gp["b_doc_id"], "min_x"].to_numpy(np.float64),
    )
    ry = np.maximum(
        a.loc[gp["a_doc_id"], "min_y"].to_numpy(np.float64),
        b.loc[gp["b_doc_id"], "min_y"].to_numpy(np.float64),
    )
    assert (gp["cell"].to_numpy() == grid.cell_of_point(rx, ry)).all()


def test_job_path_salted_keep_cell(spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf):
    # what jobs/run_join.py runs: census salting with hot cells present
    # and keep_cell=True, for rects and for octagons with the Arrow kernel
    grid = Grid(6)
    assert hot_census(rects_a_df, grid, 5) is not None  # the fixture has hot cells
    rect = spatial_join_salted(
        rects_a_df, rects_b_df, grid, hot_threshold=5, n_salt=4, keep_cell=True
    )
    assert_same_rows(rect.drop("cell"), brute.join_brute(rects_a_pdf, rects_b_pdf))
    assert_coarse_ref_cells(rect.toPandas(), rects_a_pdf, rects_b_pdf, grid)

    oa, ob = octagons_from_rects(rects_a_df), octagons_from_rects(rects_b_df)
    octagon = polygon_join(
        oa, ob, grid, hot_threshold=5, n_salt=4, keep_cell=True
    )
    assert_same_rows(octagon.drop("cell"), polygon_join(oa, ob, grid).toPandas())
    gp = octagon.toPandas()
    assert len(gp) > 0
    assert_coarse_ref_cells(gp, rects_a_pdf, rects_b_pdf, grid)


@pytest.mark.parametrize("geometry", ["rect", "octagon"])
@pytest.mark.parametrize("mode", ["empty_census", "salted", "adaptive"])
def test_candidate_generator_plan_shape(spark, rects_a_df, rects_b_df, geometry, mode):
    # which branch of cell_candidates ran, read off the executed plan
    import re

    grid = Grid(6)
    kw = {
        "empty_census": {"hot_threshold": 10**9},
        # both hot modes run the one skew path: with salt fan-out, and with
        # n_salt=1 (subdivision only, every row salt 0)
        "salted": {"hot_threshold": 5, "n_salt": 4},
        "adaptive": {"hot_threshold": 5, "n_salt": 1},
    }[mode]
    if geometry == "rect":
        df = spatial_join(rects_a_df, rects_b_df, grid, **kw)
    else:
        df = polygon_join(
            octagons_from_rects(rects_a_df), octagons_from_rects(rects_b_df), grid, **kw
        )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    if mode == "empty_census":
        assert "salt#" not in plan and "key#" not in plan
        assert "InMemoryTableScan" not in plan  # the census is never broadcast
    else:  # subdivided and salted: one (key, salt) join over the cached census
        assert re.search(r"Join \[key#\d+L?, salt#\d+\], \[key#\d+L?, salt#\d+\]", plan)
        assert "InMemoryTableScan" in plan


def test_census_empty_fast_path_identity(
    spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf
):
    # hot_threshold far above any cell's count → the census is empty and
    # the join takes the fast path (plain cell join, no broadcast, rekey
    # or salt); outputs must still be identical
    grid = Grid(6)
    exp = brute.join_brute(rects_a_pdf, rects_b_pdf)
    salted = spatial_join_salted(
        rects_a_df, rects_b_df, grid, hot_threshold=10**9, n_salt=4
    )
    assert_same_rows(salted, exp)
    with_cell = spatial_join(
        rects_a_df, rects_b_df, grid, hot_threshold=10**9, keep_cell=True
    )
    assert_same_rows(with_cell.drop("cell"), exp)

    oa = octagons_from_rects(spark.createDataFrame(rects_a_pdf.iloc[:80]))
    ob = octagons_from_rects(spark.createDataFrame(rects_b_pdf.iloc[:80]))
    plain = polygon_join(oa, ob, grid).toPandas()
    assert len(plain) > 0
    for kw in (
        {"hot_threshold": 10**9},
        {"hot_threshold": 10**9, "n_salt": 4},
    ):
        assert_same_rows(polygon_join(oa, ob, grid, **kw), plain)


def test_adaptive_join_reduces_hot_cell_candidates(spark):
    # one dense cluster inside a single coarse cell: subdivision must cut
    # the candidate (pre-refine) pair count, not merely re-shard it
    rng = np.random.default_rng(7)
    grid = Grid(3)  # 8x8 cells of 128 over [0,1024)^2
    n = 400

    def mk(prefix):
        # points-as-tiny-rects clustered inside coarse cell (2, 2)
        x = 256.0 + rng.random(n) * 120.0
        y = 256.0 + rng.random(n) * 120.0
        return pd.DataFrame(
            {
                "doc_id": [f"{prefix}{i}" for i in range(n)],
                "min_x": x, "min_y": y, "max_x": x + 0.5, "max_y": y + 0.5,
            }
        )

    a_pdf, b_pdf = mk("a"), mk("b")
    a_df, b_df = spark.createDataFrame(a_pdf), spark.createDataFrame(b_pdf)
    a_cov, b_cov = side_cover(a_df, grid, "a_"), side_cover(b_df, grid, "b_")
    plain_cand = cell_candidates(a_cov, b_cov, grid, None)[0].count()
    assert plain_cand == n * n  # the whole cluster lands in one coarse cell
    census = hot_census(a_df, grid, hot_threshold=50)
    adaptive_cand = cell_candidates(a_cov, b_cov, grid, census)[0].count()
    # 4^2 = 16-way subdivision of a locally-uniform cluster shrinks the
    # cross-product structurally (loose 4x bound to stay flake-free) —
    # salting alone would keep all n*n candidates and only re-shard them
    assert adaptive_cand < plain_cand / 4
    got = spatial_join(a_df, b_df, grid, hot_threshold=50)
    exp = brute.join_brute(a_pdf, b_pdf)
    assert_same_rows(got, exp)


def test_coincident_rects_salt_inside_hot_cell(spark):
    # the case salting is kept for: identical rects share every fine
    # cell, so subdivision cannot split the hot cell's cross-product and
    # only the salt spreads it
    grid = Grid(3)
    n, n_salt = 60, 8

    def mk(prefix):
        return pd.DataFrame({
            "doc_id": [f"{prefix}{i}" for i in range(n)],
            "min_x": 300.0, "min_y": 300.0, "max_x": 301.0, "max_y": 301.0,
        })

    a_pdf, b_pdf = mk("a"), mk("b")
    a_df, b_df = spark.createDataFrame(a_pdf), spark.createDataFrame(b_pdf)
    got = spatial_join(a_df, b_df, grid, hot_threshold=10, n_salt=n_salt)
    assert_same_rows(got, brute.join_brute(a_pdf, b_pdf))
    assert not got.toPandas().duplicated(["a_doc_id", "b_doc_id"]).any()

    census = hot_census(a_df, grid, hot_threshold=10)
    cand = cell_candidates(
        side_cover(a_df, grid, "a_"), side_cover(b_df, grid, "b_"), grid, census, n_salt
    )[0]
    assert cand.select("salt").distinct().count() == n_salt
    assert cand.count() == n * n  # one fine cell, every pair meets once


@pytest.mark.parametrize("grid", GRIDS, ids=lambda g: f"level{g.level}")
def test_knn_vs_brute(spark, rects_a_df, rects_a_pdf, grid):
    qpdf = synth.synth_knn_queries_pdf(25, seed=44)
    qdf = spark.createDataFrame(qpdf)
    got = knn(rects_a_df, qdf, grid)
    exp = brute.knn_brute(rects_a_pdf, qpdf, dtype=np.float64)
    assert_same_rows(got, exp)


@pytest.mark.parametrize("grid", GRIDS, ids=lambda g: f"level{g.level}")
def test_contains_query_vs_brute(spark, rects_a_df, rects_a_pdf, range_queries_pdf, grid):
    from rtree_cpp_spark.operators.range_query import contains_query

    qdf = spark.createDataFrame(range_queries_pdf)
    got = contains_query(rects_a_df, qdf, grid)
    exp = brute.contains_brute(rects_a_pdf, range_queries_pdf)
    assert_same_rows(got, exp)


def test_out_of_domain_rect_never_matches(spark):
    """Geometry outside the grid extent clamps into edge cells, where it
    meets every rect covering those cells.  A domain-covering A must not
    pair with B rects wholly outside the domain: only the exact
    predicate decides, on every rect-pair path."""
    from rtree_cpp_spark.operators.range_query import contains_query

    grid = Grid(4)  # extent 1024
    a_pdf = pd.DataFrame(
        {"doc_id": ["A"], "min_x": [0.0], "min_y": [0.0], "max_x": [1024.0], "max_y": [1024.0]}
    )
    b_pdf = pd.DataFrame(
        {
            "doc_id": ["far", "neg", "in"],
            "min_x": [2000.0, -30.0, 10.0], "min_y": [2000.0, -30.0, 10.0],
            "max_x": [2001.0, -20.0, 20.0], "max_y": [2001.0, -20.0, 20.0],
        }
    )
    a, b = spark.createDataFrame(a_pdf), spark.createDataFrame(b_pdf)
    exp = brute.join_brute(a_pdf, b_pdf)
    assert exp.values.tolist() == [["A", "in"]]
    assert_same_rows(spatial_join(a, b, grid), exp)
    assert_same_rows(spatial_join(a, b, grid, hot_threshold=0), exp)  # skew path
    q = spark.createDataFrame(a_pdf.rename(columns={"doc_id": "query_id"}))
    exp_q = exp.rename(columns={"a_doc_id": "query_id", "b_doc_id": "doc_id"})
    assert_same_rows(range_query(b, q, grid), exp_q)
    # A contains exactly the B rects it intersects here
    assert_same_rows(contains_query(b, q, grid), exp_q)


def test_knn_join_vs_brute(spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf):
    from rtree_cpp_spark.operators.knn import knn_join

    sub = rects_a_pdf.head(40)
    got = knn_join(spark.createDataFrame(sub), rects_b_df, Grid(6), k=3)
    queries = pd.DataFrame(
        {
            "query_id": sub["doc_id"],
            "x": (sub["min_x"] + sub["max_x"]) / 2.0,
            "y": (sub["min_y"] + sub["max_y"]) / 2.0,
            "k": 3,
        }
    )
    exp = brute.knn_brute(rects_b_pdf, queries, dtype=np.float64)
    assert_same_rows(got, exp)


@pytest.mark.parametrize("max_dist", [4.0, 32.0])
def test_distance_join_vs_brute(spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf, max_dist):
    from rtree_cpp_spark.operators.spatial_join import distance_join

    got = (
        distance_join(rects_a_df, rects_b_df, Grid(6), max_dist)
        .toPandas()
        .sort_values(["a_doc_id", "b_doc_id"])
        .reset_index(drop=True)
    )
    ax = ((rects_a_pdf["min_x"] + rects_a_pdf["max_x"]) / 2.0).to_numpy()
    ay = ((rects_a_pdf["min_y"] + rects_a_pdf["max_y"]) / 2.0).to_numpy()
    bx = ((rects_b_pdf["min_x"] + rects_b_pdf["max_x"]) / 2.0).to_numpy()
    by = ((rects_b_pdf["min_y"] + rects_b_pdf["max_y"]) / 2.0).to_numpy()
    d2 = (ax[:, None] - bx[None, :]) ** 2 + (ay[:, None] - by[None, :]) ** 2
    ai, bi = np.nonzero(d2 <= max_dist * max_dist)
    exp = pd.DataFrame(
        {
            "a_doc_id": rects_a_pdf["doc_id"].to_numpy()[ai],
            "b_doc_id": rects_b_pdf["doc_id"].to_numpy()[bi],
            "sq_dist": d2[ai, bi],
        }
    ).sort_values(["a_doc_id", "b_doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    # exactly-once: no duplicate pairs (each B centroid in one cell)
    assert not got.duplicated(["a_doc_id", "b_doc_id"]).any()


def test_zonal_stats_vs_brute(spark, rects_a_df, rects_a_pdf):
    from rtree_cpp_spark.operators.tiles import zonal_stats

    grid = Grid(6)
    n = grid.n
    raster = spark.range(n * n).select(
        F.col("id").alias("cell"), (F.col("id") % 7).alias("value")
    )
    got = zonal_stats(rects_a_df, raster, grid).toPandas().set_index("doc_id").sort_index()
    rows = {}
    for _, r in rects_a_pdf.iterrows():
        cells = grid.cover_cells_one(r["min_x"], r["min_y"], r["max_x"], r["max_y"])
        vals = cells % 7
        rows[r["doc_id"]] = (len(vals), vals.sum(), vals.min(), vals.max())
    exp = pd.DataFrame.from_dict(
        rows, orient="index", columns=["n_cells", "sum_value", "min_value", "max_value"]
    ).sort_index()
    assert got["n_cells"].tolist() == exp["n_cells"].tolist()
    assert got["sum_value"].tolist() == exp["sum_value"].tolist()
    assert got["min_value"].tolist() == exp["min_value"].tolist()
    assert got["max_value"].tolist() == exp["max_value"].tolist()


def _far_from_data(rects_a_pdf):
    """The data sits in a corner 1/32 of the domain, the queries in the
    opposite corner: many disk-doubling rounds before any candidate."""
    pdf = rects_a_pdf.copy()
    for c in ("min_x", "min_y", "max_x", "max_y"):
        pdf[c] = pdf[c] / 32.0  # exact binary scaling; data now in [0, 33)^2
    qpdf = pd.DataFrame(
        {
            "query_id": [f"F{i}" for i in range(5)],
            "x": [1000.0, 990.0, 1010.0, 960.0, 1023.0],
            "y": [1000.0, 1010.0, 980.0, 1023.0, 940.0],
            "k": [3, 5, 1, 7, 64],
        }
    )
    return Grid(6), pdf, qpdf


def test_knn_many_rounds_far_queries(spark, rects_a_pdf):
    """Far-from-data query points force many disk-doubling rounds.
    Exactness must hold across all rounds — the regression guard for
    the per-round checkpoint design (no round replay)."""
    grid, pdf, qpdf = _far_from_data(rects_a_pdf)
    got = knn(spark.createDataFrame(pdf), spark.createDataFrame(qpdf), grid)
    exp = brute.knn_brute(pdf, qpdf, dtype=np.float64)
    assert_same_rows(got, exp)


def test_knn_round_shape(spark, rects_a_pdf):
    """Each round is one plan and 3 SQL executions (the ranked-rows
    checkpoint, the next-frontier checkpoint and its emptiness check),
    after one checkpoint of the query table; the rows are checked by
    test_knn_many_rounds_far_queries."""
    grid, pdf, qpdf = _far_from_data(rects_a_pdf)
    # round r gathers radius 2**(r-1); no query has a candidate until
    # its disk reaches the data's highest cell, and the first radius
    # that does (64) already covers the whole 64-cell domain, so every
    # query stops in that round
    data_hi = int(grid.cx_of(pdf[["max_x", "max_y"]].to_numpy()).max())
    reach = max(
        max(int(grid.cx_of(x)), int(grid.cx_of(y))) - data_hi for x, y in zip(qpdf["x"], qpdf["y"])
    )
    rounds = 1 + math.ceil(math.log2(reach))
    assert rounds == 7 and 2 ** (rounds - 1) >= grid.n - 1
    data, queries = spark.createDataFrame(pdf), spark.createDataFrame(qpdf)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = int(store.executionsCount())
    knn(data, queries, grid)  # the rounds run inside the call
    bus.waitUntilEmpty()
    # exact, so the count pins the round count as well as the shape
    assert int(store.executionsCount()) - before == 1 + 3 * rounds


def test_knn_k_larger_than_dataset(spark, rects_a_df, rects_a_pdf):
    qpdf = pd.DataFrame({"query_id": ["K0"], "x": [512.0], "y": [512.0], "k": [10_000]})
    got = knn(rects_a_df, spark.createDataFrame(qpdf), Grid(6)).toPandas()
    assert len(got) == len(rects_a_pdf)  # returns every doc, ranked
    assert got["rank"].max() == len(rects_a_pdf)


def test_primary_tiles_vs_brute(spark, rects_a_df, rects_a_pdf):
    grid = Grid(6)
    got = primary_tiles(rects_a_df, grid)
    exp = brute.tiles_brute(rects_a_pdf, grid, dtype=np.float64)
    assert_same_rows(got, exp)
    # partition property: each doc in exactly one tile
    assert got.toPandas()["doc_id"].is_unique


def test_cover_tiles_vs_brute(spark, rects_a_df, rects_a_pdf):
    grid = Grid(6)
    got = cover_tiles(rects_a_df, grid)
    exp = brute.tiles_cover_brute(rects_a_pdf, grid)
    assert_same_rows(got, exp)


def test_rasterize_vs_brute(spark, rects_a_df, rects_a_pdf):
    """Vector→raster burn-in vs a numpy brute force with the identical
    clipped-overlap + fixed-point floor arithmetic."""
    from rtree_cpp_spark.operators.tiles import rasterize

    grid = Grid(6)
    got_df = rasterize(rects_a_df, grid)
    assert "BatchEvalPython" not in got_df._jdf.queryExecution().executedPlan().toString()
    s, n = grid.cell_size, grid.n
    acc: dict[int, int] = {}
    for _, r in rects_a_pdf.iterrows():
        gx0, gx1 = grid.cx_of(np.float64(r["min_x"])), grid.cx_of(np.float64(r["max_x"]))
        gy0, gy1 = grid.cx_of(np.float64(r["min_y"])), grid.cx_of(np.float64(r["max_y"]))
        for gx in range(int(gx0), int(gx1) + 1):
            for gy in range(int(gy0), int(gy1) + 1):
                ox = max(min(np.float64(r["max_x"]), (gx + 1) * s) - max(np.float64(r["min_x"]), gx * s), 0.0)
                oy = max(min(np.float64(r["max_y"]), (gy + 1) * s) - max(np.float64(r["min_y"]), gy * s), 0.0)
                u = int(np.floor(((ox / s) * (oy / s)) * 1e6))
                cell = gx * n + gy
                acc[cell] = acc.get(cell, 0) + u
    exp = pd.DataFrame(
        {"cell": list(acc.keys()), "coverage_units": list(acc.values())}
    )
    assert_same_rows(got_df, exp)
    # sanity: total burned area (in cell units) equals the summed clipped
    # rect areas to within the per-term floor truncation
    total = sum(acc.values())
    assert 0 < total


@pytest.mark.parametrize("grid", GRIDS, ids=lambda g: f"level{g.level}")
def test_knn_kernel_equals_window(spark, rects_a_df, rects_a_pdf, grid):
    qpdf = synth.synth_knn_queries_pdf(8, seed=44)
    qdf = spark.createDataFrame(qpdf)
    got_kernel = knn(rects_a_df, qdf, grid, ranker="kernel")
    exp = brute.knn_brute(rects_a_pdf, qpdf, dtype=np.float64)
    assert_same_rows(got_kernel, exp)
    # the multi-round layout through the kernel ranker too
    far_grid, pdf, fqpdf = _far_from_data(rects_a_pdf)
    got_far = knn(spark.createDataFrame(pdf), spark.createDataFrame(fqpdf), far_grid, ranker="kernel")
    assert_same_rows(got_far, brute.knn_brute(pdf, fqpdf, dtype=np.float64))


@pytest.mark.parametrize("boundary", ["closed", "open"])
def test_pip_join_vs_brute(spark, rects_a_df, rects_a_pdf, boundary):
    from rtree_cpp_spark.operators.pip_join import pip_join

    grid = Grid(5)
    qpdf = synth.synth_knn_queries_pdf(40, seed=45)
    pts = qpdf.rename(columns={"query_id": "point_id"})[["point_id", "x", "y"]]
    got_df = pip_join(spark.createDataFrame(pts), rects_a_df, grid, boundary)
    got = got_df.toPandas()
    x, y = pts["x"].to_numpy()[:, None], pts["y"].to_numpy()[:, None]
    r = {c: rects_a_pdf[c].to_numpy()[None, :] for c in ("min_x", "min_y", "max_x", "max_y")}
    if boundary == "closed":
        hit = (x >= r["min_x"]) & (x <= r["max_x"]) & (y >= r["min_y"]) & (y <= r["max_y"])
    else:  # strict interior, Rectangle.cpp:30
        hit = (x > r["min_x"]) & (x < r["max_x"]) & (y > r["min_y"]) & (y < r["max_y"])
    pi, ri = np.nonzero(hit)
    exp = pd.DataFrame(
        {"point_id": pts["point_id"].to_numpy()[pi], "doc_id": rects_a_pdf["doc_id"].to_numpy()[ri]}
    )
    assert_same_rows(got_df, exp)
    if boundary == "open":
        # the strict set is a subset of the closed set
        closed = pip_join(spark.createDataFrame(pts), rects_a_df, grid, "closed").toPandas()
        m = got.merge(closed, on=["point_id", "doc_id"])
        assert len(m) == len(got)


def test_polygon_pip_join_vs_brute(spark, rects_a_df, rects_a_pdf):
    """True convex-polygon PIP (corner-cut octagons) vs a numpy brute
    force using the identical vertex arithmetic + cross-product rule."""
    from rtree_cpp_spark.operators.pip_join import (
        octagons_from_rects, pip_join, polygon_pip_join,
    )

    grid = Grid(5)
    qpdf = synth.synth_knn_queries_pdf(40, seed=46)
    pts = qpdf.rename(columns={"query_id": "point_id"})[["point_id", "x", "y"]]
    got_df = polygon_pip_join(
        spark.createDataFrame(pts), octagons_from_rects(rects_a_df), grid
    )
    # the refine is the Arrow kernel, never a row-at-a-time Python UDF
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow _pip_kernel(" in plan
    assert "BatchEvalPython" not in plan

    mnx = rects_a_pdf["min_x"].to_numpy(dtype=np.float64)
    mny = rects_a_pdf["min_y"].to_numpy(dtype=np.float64)
    mxx = rects_a_pdf["max_x"].to_numpy(dtype=np.float64)
    mxy = rects_a_pdf["max_y"].to_numpy(dtype=np.float64)
    xlo, xhi = mnx + 0.25 * (mxx - mnx), mxx - 0.25 * (mxx - mnx)
    ylo, yhi = mny + 0.25 * (mxy - mny), mxy - 0.25 * (mxy - mny)
    vx = np.stack([xlo, xhi, mxx, mxx, xhi, xlo, mnx, mnx])  # (8, R) CCW
    vy = np.stack([mny, mny, ylo, yhi, mxy, mxy, yhi, ylo])
    vxj, vyj = np.roll(vx, -1, axis=0), np.roll(vy, -1, axis=0)
    px = pts["x"].to_numpy(dtype=np.float64)[:, None, None]
    py = pts["y"].to_numpy(dtype=np.float64)[:, None, None]
    cross = (vxj - vx)[None] * (py - vy[None]) - (vyj - vy)[None] * (px - vx[None])
    hit = (cross >= 0.0).all(axis=1)  # (P, R)
    pi, ri = np.nonzero(hit)
    exp = pd.DataFrame({
        "point_id": pts["point_id"].to_numpy()[pi],
        "doc_id": rects_a_pdf["doc_id"].to_numpy()[ri],
    })
    assert_same_rows(got_df, exp)
    # the octagon is inscribed in its rect: hits ⊆ closed-rect hits
    got = got_df.toPandas()
    closed = pip_join(spark.createDataFrame(pts), rects_a_df, grid, "closed").toPandas()
    assert len(got.merge(closed, on=["point_id", "doc_id"])) == len(got)


def test_tile_topk_vs_brute(spark, rects_a_df, rects_a_pdf):
    """Per-tile top-k selection vs a pandas brute force (value desc,
    doc_id tiebreak), and the WindowGroupLimit bound: ≤ k rows/cell."""
    from rtree_cpp_spark.operators.tiles import tile_topk

    grid = Grid(6)
    vals = pd.DataFrame({
        "doc_id": rects_a_pdf["doc_id"],
        "value": [(i * 37) % 1000 for i in range(len(rects_a_pdf))],
    })
    got_df = tile_topk(rects_a_df, spark.createDataFrame(vals), grid, k=3)
    got = got_df.toPandas()
    cx = grid.cx_of(
        (rects_a_pdf["min_x"].to_numpy() + rects_a_pdf["max_x"].to_numpy()) / 2.0
    )
    cy = grid.cx_of(
        (rects_a_pdf["min_y"].to_numpy() + rects_a_pdf["max_y"].to_numpy()) / 2.0
    )
    base = pd.DataFrame({"cell": cx * grid.n + cy, "doc_id": rects_a_pdf["doc_id"]})
    merged = base.merge(vals, on="doc_id")
    exp = (
        merged.sort_values(["cell", "value", "doc_id"], ascending=[True, False, True])
        .groupby("cell")
        .head(3)[["cell", "doc_id"]]
    )
    assert_same_rows(got_df, exp)
    assert got.groupby("cell").size().max() <= 3


def test_rasterize_pyramid_exact_rollup(spark, rects_a_df):
    """Parent units are EXACTLY the sum of the children's (integer
    fixed-point makes the rollup lossless), and the base level equals
    the flat rasterize output."""
    from rtree_cpp_spark.operators.tiles import rasterize, rasterize_pyramid

    grid = Grid(6)
    pyr = rasterize_pyramid(rects_a_df, grid).toPandas()
    base = rasterize(rects_a_df, grid).toPandas()
    lvl_base = pyr[pyr["level"] == grid.level][["cell", "coverage_units"]]
    m = lvl_base.merge(base, on="cell", suffixes=("_p", "_b"))
    assert len(m) == len(base) == len(lvl_base)
    assert (m["coverage_units_p"] == m["coverage_units_b"]).all()
    # every level preserves the total exactly
    totals = pyr.groupby("level")["coverage_units"].sum()
    assert totals.nunique() == 1
    # level 0 is a single root cell
    assert len(pyr[pyr["level"] == 0]) == 1


def _octagon_verts_np(pdf):
    """(8, N) CCW octagon vertex arrays with the operator's arithmetic."""
    mnx = pdf["min_x"].to_numpy(dtype=np.float64)
    mny = pdf["min_y"].to_numpy(dtype=np.float64)
    mxx = pdf["max_x"].to_numpy(dtype=np.float64)
    mxy = pdf["max_y"].to_numpy(dtype=np.float64)
    xlo, xhi = mnx + 0.25 * (mxx - mnx), mxx - 0.25 * (mxx - mnx)
    ylo, yhi = mny + 0.25 * (mxy - mny), mxy - 0.25 * (mxy - mny)
    vx = np.stack([xlo, xhi, mxx, mxx, xhi, xlo, mnx, mnx])
    vy = np.stack([mny, mny, ylo, yhi, mxy, mxy, yhi, ylo])
    return vx, vy


def test_polygon_join_vs_brute_sat(spark, rects_a_df, rects_b_df, rects_a_pdf, rects_b_pdf):
    """Octagon × octagon SAT join vs an all-pairs numpy separating-axis
    brute force, plus the inscribed-subset property vs the rect join."""
    from rtree_cpp_spark.operators.pip_join import octagons_from_rects, polygon_join

    grid = Grid(5)
    apdf, bpdf = rects_a_pdf.iloc[:120], rects_b_pdf.iloc[:100]
    a_df = spark.createDataFrame(apdf)
    b_df = spark.createDataFrame(bpdf)
    got_df = polygon_join(
        octagons_from_rects(a_df), octagons_from_rects(b_df), grid
    )
    got = got_df.toPandas()
    # the refine is the Arrow kernel, never a row-at-a-time Python UDF
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow _sat_kernel(" in plan
    assert "BatchEvalPython" not in plan

    avx, avy = _octagon_verts_np(apdf)  # (8, NA)
    bvx, bvy = _octagon_verts_np(bpdf)  # (8, NB)

    def separated(pvx, pvy, qvx, qvy):
        # edge i of P vs all verts of Q: (NA, NB) separated flags
        pvx_j, pvy_j = np.roll(pvx, -1, axis=0), np.roll(pvy, -1, axis=0)
        # cross[i, a, k, b] for edge i of P-poly a against vertex k of Q-poly b
        ex = (pvx_j - pvx)[:, :, None, None]
        ey = (pvy_j - pvy)[:, :, None, None]
        dx = qvx[None, None, :, :] - pvx[:, :, None, None]
        dy = qvy[None, None, :, :] - pvy[:, :, None, None]
        cross = ex * dy - ey * dx
        return (cross < 0).all(axis=2).any(axis=0)  # all verts out, some edge

    sep = separated(avx, avy, bvx, bvy) | separated(bvx, bvy, avx, avy).T
    ai, bi = np.nonzero(~sep)
    exp = pd.DataFrame({
        "a_doc_id": apdf["doc_id"].to_numpy()[ai],
        "b_doc_id": bpdf["doc_id"].to_numpy()[bi],
    })
    assert_same_rows(got_df, exp)
    # inscribed octagons: polygon pairs ⊆ rect-join pairs
    rect_pairs = spatial_join(a_df, b_df, grid).toPandas()
    assert len(got.merge(rect_pairs, on=["a_doc_id", "b_doc_id"])) == len(got)
    # and strictly fewer pairs than the rect join on this data (corner
    # regions lose their touch-only pairs)
    assert len(got) < len(rect_pairs)


def _random_convex_polys(n_polys: int, seed: int, id_prefix: str) -> pd.DataFrame:
    """General convex CCW polygons (3-10 vertices): sorted-angle samples
    of randomly placed/rotated ellipses — in convex position by
    construction, no two alike, NOT octagons (exercises the general
    vertex-count path of the SAT/PIP kernels)."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n_polys):
        n = rng.randint(3, 11)
        th = np.sort(rng.uniform(0, 2 * np.pi, size=n))
        # reject near-duplicate angles (degenerate edges)
        while np.min(np.diff(np.concatenate([th, [th[0] + 2 * np.pi]]))) < 1e-3:
            th = np.sort(rng.uniform(0, 2 * np.pi, size=n))
        cx, cy = rng.uniform(100, 900, size=2)
        rx, ry = rng.uniform(5, 60, size=2)
        rot = rng.uniform(0, np.pi)
        ex, ey = rx * np.cos(th), ry * np.sin(th)
        xs = cx + ex * np.cos(rot) - ey * np.sin(rot)
        ys = cy + ex * np.sin(rot) + ey * np.cos(rot)
        rows.append((f"{id_prefix}{i}", xs.tolist(), ys.tolist()))
    return pd.DataFrame(rows, columns=["doc_id", "xs", "ys"])


def _sat_intersects_np(ax, ay, bx, by) -> bool:
    """Closed-boundary SAT for two CCW convex rings (numpy brute)."""
    def separated(px, py, qx, qy):
        for i in range(len(px)):
            j = (i + 1) % len(px)
            cross = (px[j] - px[i]) * (qy - py[i]) - (py[j] - py[i]) * (qx - px[i])
            if np.all(cross < 0):
                return True
        return False

    return not separated(ax, ay, bx, by) and not separated(bx, by, ax, ay)


def _sat_pairs_np(apdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
    """All-pairs SAT brute: (a_doc_id, b_doc_id) of intersecting rings."""
    rows = [
        (ra.doc_id, rb.doc_id)
        for ra in apdf.itertuples()
        for rb in bpdf.itertuples()
        if _sat_intersects_np(np.asarray(ra.xs), np.asarray(ra.ys),
                              np.asarray(rb.xs), np.asarray(rb.ys))
    ]
    return pd.DataFrame(rows, columns=["a_doc_id", "b_doc_id"])


def _pip_hits_np(gpdf: pd.DataFrame, pts: pd.DataFrame) -> pd.DataFrame:
    """All-pairs PIP brute: (point_id, doc_id) where every edge's cross
    product is >= 0 (inside or on a CCW convex ring)."""
    rows = []
    for rg in gpdf.itertuples():
        gx, gy = np.asarray(rg.xs), np.asarray(rg.ys)
        gxj, gyj = np.roll(gx, -1), np.roll(gy, -1)
        for pid, px, py in zip(pts["point_id"], pts["x"], pts["y"]):
            cross = (gxj - gx) * (py - gy) - (gyj - gy) * (px - gx)
            if np.all(cross >= 0):
                rows.append((pid, rg.doc_id))
    return pd.DataFrame(rows, columns=["point_id", "doc_id"])


def test_polygon_join_general_convex(spark):
    """SAT join on GENERAL random convex polygons (3-10 verts, rotated)
    vs the all-pairs numpy brute — proves the kernel is not
    octagon-specific."""
    from rtree_cpp_spark.operators.pip_join import polygon_join

    apdf = _random_convex_polys(70, seed=7, id_prefix="PA")
    bpdf = _random_convex_polys(60, seed=11, id_prefix="PB")
    grid = Grid(5)
    got_df = polygon_join(
        spark.createDataFrame(apdf), spark.createDataFrame(bpdf), grid
    )
    exp = _sat_pairs_np(apdf, bpdf)
    assert len(exp) > 0
    assert_same_rows(got_df, exp)


def test_polygon_pip_general_convex(spark):
    """General-convex PIP: membership for random points vs the numpy
    cross-product rule, across varying vertex counts."""
    from rtree_cpp_spark.operators.pip_join import polygon_pip_join

    gpdf = _random_convex_polys(80, seed=13, id_prefix="PG")
    rng = np.random.RandomState(17)
    pts = pd.DataFrame({
        "point_id": [f"P{i}" for i in range(300)],
        "x": rng.uniform(50, 950, size=300),
        "y": rng.uniform(50, 950, size=300),
    })
    grid = Grid(5)
    got_df = polygon_pip_join(
        spark.createDataFrame(pts), spark.createDataFrame(gpdf), grid
    )
    exp = _pip_hits_np(gpdf, pts)
    assert len(exp) > 0
    assert_same_rows(got_df, exp)


def test_polygon_kernels_empty_and_disjoint(spark):
    """The Arrow refines survive zero-size Arrow batches: disjoint
    corpora (zero candidates) and an empty point set both return empty
    results without touching the numpy stacking path."""
    from rtree_cpp_spark.operators.pip_join import polygon_join, polygon_pip_join

    apdf = _random_convex_polys(10, seed=41, id_prefix="EA")
    bpdf = _random_convex_polys(10, seed=43, id_prefix="EB")
    # shift B far outside A's extent (and the grid domain clamps covers)
    bpdf["xs"] = bpdf["xs"].map(lambda v: [x + 5000.0 for x in v])
    grid = Grid(5)
    a_df, b_df = spark.createDataFrame(apdf), spark.createDataFrame(bpdf)
    assert polygon_join(a_df, b_df, grid).count() == 0
    empty_pts = spark.createDataFrame(
        pd.DataFrame({"point_id": pd.Series(dtype=str),
                      "x": pd.Series(dtype=float), "y": pd.Series(dtype=float)}),
        schema="point_id string, x double, y double",
    )
    assert polygon_pip_join(empty_pts, a_df, grid).count() == 0


def test_polygon_degenerate_rings_fail_fast(spark):
    """Rings with < 3 vertices (or mismatched xs/ys lengths) raise a
    clear precondition error instead of a cryptic element_at failure
    mid-plan (ADVICE r4).  With ``validate=False`` no in-plan check runs,
    so a bad ring whose bbox meets a point or a good polygon reaches the
    Arrow kernel, whose own arity check (``_check_lens``) must raise."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from rtree_cpp_spark.operators.pip_join import polygon_join, polygon_pip_join

    bad = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["D0"], "xs": [[100.0, 200.0]], "ys": [[100.0, 100.0]]})
    )
    good = spark.createDataFrame(_random_convex_polys(5, seed=3, id_prefix="GG"))
    # a CCW triangle straddling the bad ring's segment
    tri = spark.createDataFrame(pd.DataFrame(
        {"doc_id": ["T0"], "xs": [[120.0, 180.0, 150.0]], "ys": [[80.0, 80.0, 130.0]]}
    ))
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": ["P0"], "x": [150.0], "y": [100.0]})
    )
    grid = Grid(5)
    for broken in (
        lambda: polygon_pip_join(pts, bad, grid).count(),
        lambda: polygon_join(bad, good, grid).count(),
        lambda: polygon_join(good, bad, grid).count(),
    ):
        with pytest.raises((Py4JJavaError, PythonException, Exception)) as ei:
            broken()
        assert "3 vertices" in str(ei.value)
    for broken in (
        lambda: polygon_pip_join(pts, bad, grid, validate=False).count(),
        lambda: polygon_join(tri, bad, grid, validate=False).count(),
        lambda: polygon_join(bad, tri, grid, validate=False).count(),
    ):
        with pytest.raises(PythonException) as ei:
            broken()
        assert "3 vertices" in str(ei.value)


def test_polygon_join_refine_only_kernel(spark):
    """``refine`` names the one SAT refine; any other value is rejected."""
    from rtree_cpp_spark.operators.pip_join import polygon_join

    polys = spark.createDataFrame(_random_convex_polys(3, seed=5, id_prefix="R"))
    with pytest.raises(ValueError, match="refine"):
        polygon_join(polys, polys, Grid(5), refine="expr")


def test_polygon_kernel_accepts_nonstring_ids(spark):
    """Both Arrow kernels derive their output schema from the input
    plan, so integer doc and point ids come back as int64 with the
    brute-force rows (ADVICE r4: a hardcoded string schema would reject
    them)."""
    from rtree_cpp_spark.operators.pip_join import polygon_join, polygon_pip_join

    apdf = _random_convex_polys(30, seed=51, id_prefix="X")
    bpdf = _random_convex_polys(25, seed=53, id_prefix="X")
    apdf["doc_id"] = np.arange(len(apdf), dtype=np.int64)
    bpdf["doc_id"] = np.arange(len(bpdf), dtype=np.int64)
    grid = Grid(5)
    a_df, b_df = spark.createDataFrame(apdf), spark.createDataFrame(bpdf)
    kern = polygon_join(a_df, b_df, grid).toPandas()
    exp = _sat_pairs_np(apdf, bpdf)
    key = ["a_doc_id", "b_doc_id"]
    pd.testing.assert_frame_equal(
        exp.sort_values(key).reset_index(drop=True),
        kern.sort_values(key).reset_index(drop=True),
    )
    assert len(kern) > 0
    rng = np.random.RandomState(57)
    pts = pd.DataFrame({
        "point_id": rng.permutation(np.arange(100, dtype=np.int64)),
        "x": rng.uniform(50, 950, size=100),
        "y": rng.uniform(50, 950, size=100),
    })
    pts_df = spark.createDataFrame(pts)
    pkern = polygon_pip_join(pts_df, a_df, grid).toPandas()
    pexp = _pip_hits_np(apdf, pts)
    pkey = ["point_id", "doc_id"]
    pd.testing.assert_frame_equal(
        pexp.sort_values(pkey).reset_index(drop=True),
        pkern.sort_values(pkey).reset_index(drop=True),
    )
    assert len(pkern) > 0


def test_polygon_join_salted_equals_unsalted(spark):
    """The skew path on the polygon join only changes which candidates
    meet where: identical rows with an aggressive threshold that
    subdivides and salts essentially every populated cell."""
    from rtree_cpp_spark.operators.pip_join import polygon_join

    apdf = _random_convex_polys(60, seed=31, id_prefix="SA")
    bpdf = _random_convex_polys(50, seed=37, id_prefix="SB")
    grid = Grid(5)
    a_df, b_df = spark.createDataFrame(apdf), spark.createDataFrame(bpdf)
    plain = polygon_join(a_df, b_df, grid).toPandas()
    salted = polygon_join(a_df, b_df, grid, hot_threshold=1, n_salt=4).toPandas()
    key = ["a_doc_id", "b_doc_id"]
    pd.testing.assert_frame_equal(
        plain.sort_values(key).reset_index(drop=True),
        salted.sort_values(key).reset_index(drop=True),
    )
    assert len(plain) > 0


def test_polygon_join_adaptive_equals_plain(spark):
    """Mixed-resolution adaptive cells on the polygon join: an
    aggressive threshold subdivides and salts essentially every
    populated cell, yet rows are identical to the plain join at any
    salt fan-out (exactly-once at the row's own resolution), and
    keep_cell returns the same coarse reference cell as the plain
    variant."""
    from rtree_cpp_spark.operators.pip_join import polygon_join

    apdf = _random_convex_polys(60, seed=41, id_prefix="DA")
    bpdf = _random_convex_polys(50, seed=43, id_prefix="DB")
    grid = Grid(5)
    a_df, b_df = spark.createDataFrame(apdf), spark.createDataFrame(bpdf)
    key = ["a_doc_id", "b_doc_id"]
    plain = polygon_join(a_df, b_df, grid, keep_cell=True).toPandas()
    assert len(plain) > 0
    for n_salt in (4, 16):
        adapt = polygon_join(
            a_df, b_df, grid, hot_threshold=1, n_salt=n_salt, keep_cell=True,
        ).toPandas()
        pd.testing.assert_frame_equal(
            plain.sort_values(key).reset_index(drop=True),
            adapt.sort_values(key).reset_index(drop=True),
        )


def test_polygon_refine_mixed_vertex_counts_vs_brute(spark):
    """Both Arrow refines group candidates per vertex count; on general
    convex polygons with mixed counts they return exactly the numpy
    brute-force rows."""
    from rtree_cpp_spark.operators.pip_join import polygon_join, polygon_pip_join

    apdf = _random_convex_polys(50, seed=19, id_prefix="KA")
    bpdf = _random_convex_polys(40, seed=23, id_prefix="KB")
    assert apdf["xs"].map(len).nunique() > 1 and bpdf["xs"].map(len).nunique() > 1
    grid = Grid(5)
    a_df, b_df = spark.createDataFrame(apdf), spark.createDataFrame(bpdf)
    kern = polygon_join(a_df, b_df, grid).toPandas()
    exp = _sat_pairs_np(apdf, bpdf)
    key = ["a_doc_id", "b_doc_id"]
    pd.testing.assert_frame_equal(
        exp.sort_values(key).reset_index(drop=True),
        kern.sort_values(key).reset_index(drop=True),
    )
    rng = np.random.RandomState(29)
    pts = pd.DataFrame({
        "point_id": [f"Q{i}" for i in range(200)],
        "x": rng.uniform(50, 950, size=200),
        "y": rng.uniform(50, 950, size=200),
    })
    kern_p = polygon_pip_join(spark.createDataFrame(pts), a_df, grid).toPandas()
    exp_p = _pip_hits_np(apdf, pts)
    key = ["point_id", "doc_id"]
    pd.testing.assert_frame_equal(
        exp_p.sort_values(key).reset_index(drop=True),
        kern_p.sort_values(key).reset_index(drop=True),
    )
    assert len(kern) > 0 and len(kern_p) > 0


def test_tile_pyramid_rollup(spark, rects_a_df, rects_a_pdf):
    from rtree_cpp_spark.operators.tiles import tile_pyramid

    grid = Grid(6)
    got = tile_pyramid(rects_a_df, grid).toPandas()
    n_docs = len(rects_a_pdf)
    # every level partitions the corpus: counts sum to n_docs per level
    sums = got.groupby("level")["n_docs"].sum()
    assert set(sums.index) == set(range(grid.level + 1))
    assert (sums == n_docs).all()
    # level 0 is the single root cell
    root = got[got["level"] == 0]
    assert len(root) == 1 and root.iloc[0]["cell"] == 0
    # finest level equals the primary-tile occupancy
    base = (
        primary_tiles(rects_a_df, grid)
        .groupBy("cell")
        .count()
        .toPandas()
        .set_index("cell")["count"]
    )
    lvl6 = got[got["level"] == grid.level].set_index("cell")["n_docs"]
    assert lvl6.sort_index().equals(base.sort_index().rename("n_docs"))
    # parent consistency: each level-5 cell aggregates its 4 children
    lvl5 = got[got["level"] == 5].set_index("cell")["n_docs"]
    child = got[got["level"] == 6].copy()
    pcell = (child["cell"] // grid.n // 2) * (grid.n // 2) + (child["cell"] % grid.n) // 2
    rolled = child.groupby(pcell)["n_docs"].sum()
    assert lvl5.sort_index().equals(rolled.sort_index().rename("n_docs"))


def test_idw_interpolate_vs_brute(spark, rects_a_df, rects_a_pdf):
    from rtree_cpp_spark.operators.knn import idw_interpolate

    grid = Grid(6)
    rng = np.random.default_rng(7)
    qpdf = pd.DataFrame(
        {
            "query_id": [f"Q{i}" for i in range(12)],
            "x": np.round(rng.uniform(0, 1024, 12) * 4) / 4,
            "y": np.round(rng.uniform(0, 1024, 12) * 4) / 4,
        }
    )
    vals = pd.DataFrame(
        {
            "doc_id": rects_a_pdf["doc_id"],
            "value": (np.arange(len(rects_a_pdf)) * 37) % 1000,
        }
    )
    k = 5
    got = (
        idw_interpolate(
            rects_a_df, spark.createDataFrame(qpdf), spark.createDataFrame(vals), grid, k=k
        )
        .toPandas()
        .set_index("query_id")
    )
    v_by_doc = dict(zip(vals["doc_id"], vals["value"].astype(float)))
    r = rects_a_pdf
    for _, qr in qpdf.iterrows():
        dx = np.maximum(np.maximum(r["min_x"] - qr.x, qr.x - r["max_x"]), 0.0)
        dy = np.maximum(np.maximum(r["min_y"] - qr.y, qr.y - r["max_y"]), 0.0)
        d2 = (dx * dx + dy * dy).to_numpy(dtype=np.float64)
        order = sorted(range(len(r)), key=lambda i: (d2[i], r["doc_id"].iloc[i]))[:k]
        num = den = 0.0
        for i in order:
            w = 1.0 / (1.0 + d2[i])
            num += v_by_doc[r["doc_id"].iloc[i]] * w
            den += w
        row = got.loc[qr.query_id]
        assert row["n_neighbors"] == k
        assert abs(row["idw_value"] - num / den) < 1e-9


def test_hot_cells_smoothing_vs_brute(spark, rects_a_df, rects_a_pdf):
    from rtree_cpp_spark.operators.tiles import hot_cells

    grid = Grid(6)
    got = hot_cells(rects_a_df, grid, k=15).toPandas()
    # brute: 2-D histogram of cover counts, 3x3 box filter with border clip
    counts = np.zeros((grid.n, grid.n), dtype=np.int64)
    cov = brute.tiles_cover_brute(rects_a_pdf, grid)
    for cell in cov["cell"]:
        counts[cell // grid.n][cell % grid.n] += 1
    sm = np.zeros_like(counts)
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            src = counts[
                max(0, -dx) : grid.n - max(0, dx), max(0, -dy) : grid.n - max(0, dy)
            ]
            sm[max(0, dx) : grid.n + min(0, dx), max(0, dy) : grid.n + min(0, dy)] += src
    order = sorted(
        ((int(sm[x][y]), x * grid.n + y) for x in range(grid.n) for y in range(grid.n) if sm[x][y] > 0),
        key=lambda t: (-t[0], t[1]),
    )[:15]
    assert [(r.smoothed, r.cell) for r in got.itertuples()] == order
    for r in got.itertuples():
        assert r.n_docs == counts[r.cell // grid.n][r.cell % grid.n]


@pytest.mark.parametrize("ranker", ["window", "kernel"])
def test_knn_empty_sides(spark, rects_a_df, ranker):
    # zero queries, or zero data rects: the round loop must terminate
    # (no open query, or every query's disk grows to the whole domain)
    # with no rows and the canonical kNN columns
    grid = Grid(6)
    queries = spark.createDataFrame(synth.synth_knn_queries_pdf(4, seed=44))
    for data, q in ((rects_a_df, queries.limit(0)), (rects_a_df.limit(0), queries)):
        got = knn(data, q, grid, ranker=ranker)
        assert got.count() == 0
        assert got.columns == ["query_id", "doc_id", "sq_dist", "rank"]


def test_anti_range_query_complements_range_query(spark):
    """antijoin(A, Q) is exactly A minus the docs range_query returns."""
    from rtree_cpp_spark.operators.range_query import anti_range_query, range_query
    from rtree_cpp_spark.functions.cells import Grid
    from rtree_cpp_spark.sources import rects

    sf = "/root/testdata/sf0.001"
    a = rects.rects_a(spark, sf)
    q = rects.queries_range(spark, sf)
    hit = {r.doc_id for r in range_query(a, q, Grid(6)).select("doc_id").distinct().collect()}
    anti = {r.doc_id for r in anti_range_query(a, q).collect()}
    all_ids = {r.doc_id for r in a.select("doc_id").collect()}
    assert anti == all_ids - hit
    assert anti and hit  # both sides non-trivial at this SF


def test_anti_range_query_plan_is_broadcast_nlj(spark):
    """The anti join must be a BroadcastNestedLoopJoin LeftAnti (tiny
    query batch broadcast; the data side never shuffles)."""
    import contextlib
    import io

    from rtree_cpp_spark.operators.range_query import anti_range_query
    from rtree_cpp_spark.sources import rects

    sf = "/root/testdata/sf0.001"
    df = anti_range_query(rects.rects_a(spark, sf), rects.queries_range(spark, sf))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan  # data side unshuffled


@pytest.mark.parametrize("name", ["range_query", "contains_query"])
def test_range_and_contains_query_plan_is_broadcast_hash_join(spark, name):
    """Range and containment queries broadcast the query cover and never
    shuffle the data side: one BroadcastHashJoin, no hash exchange."""
    import contextlib
    import io

    from rtree_cpp_spark.operators import range_query as rq
    from rtree_cpp_spark.sources import rects
    from test_entry_contract import SF_DIR  # sf0.001

    df = getattr(rq, name)(rects.rects_a(spark, SF_DIR), rects.queries_range(spark, SF_DIR), Grid(6))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # data side unshuffled
