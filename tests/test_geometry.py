import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from oracle.geometry import contains_np, intersects_np, point_in_rect_np, sq_dist_np
from rtree_cpp_spark.functions import geometry as geo

coord = st.integers(min_value=0, max_value=4095).map(lambda v: v * 0.25)


def brute_intersects(a, b):
    return not (b[2] < a[0] or b[0] > a[2] or b[3] < a[1] or b[1] > a[3])


@settings(max_examples=300, deadline=None)
@given(
    ax0=coord, ay0=coord, aw=coord, ah=coord,
    bx0=coord, by0=coord, bw=coord, bh=coord,
)
def test_intersects_property(ax0, ay0, aw, ah, bx0, by0, bw, bh):
    a = (ax0, ay0, ax0 + aw, ay0 + ah)
    b = (bx0, by0, bx0 + bw, by0 + bh)
    got = intersects_np(*[np.array([v]) for v in a], *[np.array([v]) for v in b])[0]
    assert got == brute_intersects(a, b)


def test_closed_bounds_touching_matches():
    # edge-touching and corner-touching MATCH (RTreeBulkLoad.h:159-163)
    assert intersects_np(0, 0, 10, 10, 10, 0, 20, 10)[()]
    assert intersects_np(0, 0, 10, 10, 10, 10, 20, 20)[()]
    assert not intersects_np(0, 0, 10, 10, 10.25, 0, 20, 10)[()]


def test_contains_closed():
    assert contains_np(0, 0, 10, 10, 0, 0, 10, 10)[()]  # equal rects contain
    assert contains_np(0, 0, 10, 10, 2, 2, 8, 8)[()]
    assert not contains_np(2, 2, 8, 8, 0, 0, 10, 10)[()]


def test_sq_dist_semantics():
    # inside / on boundary -> 0; outside -> squared euclid to nearest edge
    assert sq_dist_np(5, 5, 0, 0, 10, 10)[()] == 0.0
    assert sq_dist_np(10, 10, 0, 0, 10, 10)[()] == 0.0
    assert sq_dist_np(13, 14, 0, 0, 10, 10)[()] == np.float32(3 * 3 + 4 * 4)
    assert sq_dist_np(13, 5, 0, 0, 10, 10)[()] == np.float32(9.0)


def test_point_in_rect_boundary_modes():
    assert point_in_rect_np(0, 0, 0, 0, 10, 10, "closed")[()]
    assert not point_in_rect_np(0, 0, 0, 0, 10, 10, "open")[()]
    assert point_in_rect_np(5, 5, 0, 0, 10, 10, "open")[()]


def test_column_exprs_match_numpy(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(1)
    n = 200
    pdf = pd.DataFrame(
        {
            "ax0": np.floor(rng.uniform(0, 1000, n) * 4) / 4,
            "ay0": np.floor(rng.uniform(0, 1000, n) * 4) / 4,
            "px": np.floor(rng.uniform(0, 1024, n) * 4) / 4,
            "py": np.floor(rng.uniform(0, 1024, n) * 4) / 4,
        }
    )
    pdf["ax1"] = pdf.ax0 + 8.0
    pdf["ay1"] = pdf.ay0 + 4.0
    df = spark.createDataFrame(pdf)
    got = df.select(
        geo.sq_dist_col(F.col("px"), F.col("py"), F.col("ax0"), F.col("ay0"), F.col("ax1"), F.col("ay1")).alias("d")
    ).toPandas()["d"].to_numpy()
    exp = sq_dist_np(pdf.px, pdf.py, pdf.ax0, pdf.ay0, pdf.ax1, pdf.ay1, dtype=np.float64)
    np.testing.assert_allclose(got, exp, rtol=0, atol=0)
