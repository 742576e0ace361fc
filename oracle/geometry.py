"""numpy twins of the engine's geometry predicates
(``rtree_cpp_spark/functions/geometry.py``), parameterized by dtype:
float32 for row-for-row reference parity, float64 to agree with a
double-precision SQL oracle.  Same closed-bound semantics
(SURVEY.md section 2.3)."""

from __future__ import annotations

import numpy as np


def _cast(arrs, dtype):
    return [np.asarray(a, dtype=dtype) for a in arrs]


def intersects_np(a_min_x, a_min_y, a_max_x, a_max_y, b_min_x, b_min_y, b_max_x, b_max_y, dtype=np.float32):
    ax0, ay0, ax1, ay1, bx0, by0, bx1, by1 = _cast(
        [a_min_x, a_min_y, a_max_x, a_max_y, b_min_x, b_min_y, b_max_x, b_max_y], dtype
    )
    return (ax1 >= bx0) & (ax0 <= bx1) & (ay1 >= by0) & (ay0 <= by1)


def contains_np(a_min_x, a_min_y, a_max_x, a_max_y, b_min_x, b_min_y, b_max_x, b_max_y, dtype=np.float32):
    ax0, ay0, ax1, ay1, bx0, by0, bx1, by1 = _cast(
        [a_min_x, a_min_y, a_max_x, a_max_y, b_min_x, b_min_y, b_max_x, b_max_y], dtype
    )
    return (ax1 >= bx1) & (ax0 <= bx0) & (ay1 >= by1) & (ay0 <= by0)


def sq_dist_np(px, py, min_x, min_y, max_x, max_y, dtype=np.float32):
    """Squared point→rect distance in the given dtype — no sqrt, matching
    the reference's float32 squared-distance kNN ordering."""
    px, py, x0, y0, x1, y1 = _cast([px, py, min_x, min_y, max_x, max_y], dtype)
    zero = dtype(0) if not isinstance(dtype, type) else np.asarray(0, dtype=dtype)
    dx = np.maximum(np.maximum(x0 - px, px - x1), zero)
    dy = np.maximum(np.maximum(y0 - py, py - y1), zero)
    return dx * dx + dy * dy


def point_in_rect_np(px, py, min_x, min_y, max_x, max_y, boundary: str = "closed", dtype=np.float32):
    """Point-in-rect.  ``boundary='closed'`` is consistent with the
    reference's hot-path predicates; ``'open'`` reproduces the strict
    interior test of the dead-code ``Rectangle::add``
    (reference Rectangle.cpp:29-33) — both exposed per SURVEY.md P9."""
    px, py, x0, y0, x1, y1 = _cast([px, py, min_x, min_y, max_x, max_y], dtype)
    if boundary == "closed":
        return (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
    if boundary == "open":
        return (px > x0) & (px < x1) & (py > y0) & (py < y1)
    raise ValueError(f"boundary must be 'closed' or 'open', got {boundary!r}")
