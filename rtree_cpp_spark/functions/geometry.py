"""Scalar geometry predicates of the reference that the engine's plans
use, as **Column expression** builders (JVM-side, inside whole-stage
codegen — the hot path for joins/filters).  Their numpy twins, the
tests' references, live in ``oracle/geometry.py``.

Semantics locked to the reference (SURVEY.md section 2.3):

- rect–rect intersection is **closed-interval**: touching edges/corners
  MATCH (reference: src/rtree/builders/RTreeBulkLoad.h:159-163).
- containment is closed: equal rects contain each other
  (src/rtree/structures/Rectangle.h:74-77).
- point↔rect distance is **squared** Euclidean to the nearest edge, 0 if
  the point is inside/on the rect; never sqrt
  (src/rtree/structures/Rectangle.h:92-112).
- kNN query point = rect centroid (src/Main.cpp:126-129).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Column-expression predicates (reference P1, P3, P4)
# ---------------------------------------------------------------------------


def intersects_col(
    a_min_x: Column, a_min_y: Column, a_max_x: Column, a_max_y: Column,
    b_min_x: Column, b_min_y: Column, b_max_x: Column, b_max_y: Column,
) -> Column:
    """Closed-interval MBR intersection (reference RTreeBulkLoad.h:159-163)."""
    return (
        (a_max_x >= b_min_x) & (a_min_x <= b_max_x)
        & (a_max_y >= b_min_y) & (a_min_y <= b_max_y)
    )


def contains_col(
    a_min_x: Column, a_min_y: Column, a_max_x: Column, a_max_y: Column,
    b_min_x: Column, b_min_y: Column, b_max_x: Column, b_max_y: Column,
) -> Column:
    """Closed containment: a contains b (reference Rectangle.h:74-77)."""
    return (
        (a_max_x >= b_max_x) & (a_min_x <= b_min_x)
        & (a_max_y >= b_max_y) & (a_min_y <= b_min_y)
    )


def sq_dist_col(px: Column, py: Column, min_x: Column, min_y: Column, max_x: Column, max_y: Column) -> Column:
    """Squared point→rect distance, 0 inside (reference Rectangle.h:92-112)."""
    dx = F.greatest(min_x - px, px - max_x, F.lit(0.0))
    dy = F.greatest(min_y - py, py - max_y, F.lit(0.0))
    return dx * dx + dy * dy
