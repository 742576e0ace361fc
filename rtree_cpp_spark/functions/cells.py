"""Hierarchical quadkey cell math over a square domain.

This module is the engine's replacement for the reference's pointer-based
R-tree nodes (reference: src/rtree/structures/Node.h:25-59): instead of
materialized tree nodes, every geometry gets a deterministic integer
*cell key* on a 2^r x 2^r grid.  Parent/child relationships are integer
arithmetic (SURVEY.md section 2.2 B3), so no internal nodes exist at all.

Design notes
------------
- Canonical cell id is **row-major**: ``cell = (cx << r) | cy``.  Chosen
  over a Morton code for the id itself because it is expressible in plain
  ANSI SQL (``cx * 2^r + cy``) so the DuckDB correctness oracle can
  reproduce tile assignments exactly.  A Morton (z-order) key is provided
  separately for *layout* (repartitionByRange / sortWithinPartitions)
  where spatial locality matters and SQL parity does not.
- Grid coordinates are clamped to ``[0, 2^r - 1]``.  Geometry slightly
  outside the domain maps to edge cells on *both* sides of any join, so
  candidate generation stays a superset of the true result.
- ``cover`` uses inclusive cell ranges ``[floor(min/s), floor(max/s)]``.
  A rect whose max edge lies exactly on a cell boundary therefore covers
  the next cell too — required so that two rects *touching* at a cell
  boundary (a closed-interval match per the reference predicate,
  src/rtree/builders/RTreeBulkLoad.h:159-163) still share at least one
  candidate cell.

All kernels are vectorized numpy (used inside Arrow/pandas UDFs) with
Column-expression twins for the pure-JVM fast path.  The Column codec
(:meth:`Grid.xy_cols`, :meth:`Grid.cell_col`, :meth:`Grid.parent_col`,
:meth:`Grid.morton_col`, :meth:`Grid.cell_box_cols`) is the one place
plan code learns the cell-id format — the single ``encode/parent/cover/
ring/bounds`` interface SURVEY.md section 7.3 fixes, so an ``h3``/``s2``
backend can slot in here alone.  Each Column twin equals its numpy
method, which is the reference the property tests compare against.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Default domain: the float32-exact fixture lattice (FIXTURES.md).
DEFAULT_EXTENT = 1024.0
MAX_LEVEL = 30  # 2 * 30 + 1 bits < 63


@dataclass(frozen=True)
class Grid:
    """A 2^level x 2^level grid over the square [0, extent)^2."""

    level: int
    extent: float = DEFAULT_EXTENT

    def __post_init__(self) -> None:
        if not (0 <= self.level <= MAX_LEVEL):
            raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {self.level}")

    @property
    def n(self) -> int:
        return 1 << self.level

    @property
    def cell_size(self) -> float:
        return self.extent / self.n

    # ------------------------------------------------------------------
    # numpy kernels (vectorized; accept scalars or arrays)
    # ------------------------------------------------------------------
    def clamp(self, c: np.ndarray) -> np.ndarray:
        return np.clip(c, 0, self.n - 1)

    def cx_of(self, x: np.ndarray) -> np.ndarray:
        return self.clamp(np.floor(np.asarray(x, dtype=np.float64) / self.cell_size).astype(np.int64))

    def cell_of_point(self, x, y) -> np.ndarray:
        """Cell id of the cell containing point (x, y)."""
        return (self.cx_of(x) << self.level) | self.cx_of(y)

    def cxcy(self, cell) -> tuple[np.ndarray, np.ndarray]:
        cell = np.asarray(cell, dtype=np.int64)
        return cell >> self.level, cell & (self.n - 1)

    def encode(self, cx, cy) -> np.ndarray:
        return (np.asarray(cx, dtype=np.int64) << self.level) | np.asarray(cy, dtype=np.int64)

    def cover_ranges(self, min_x, min_y, max_x, max_y):
        """Inclusive (cx0, cy0, cx1, cy1) grid ranges covered by rects."""
        return (
            self.cx_of(min_x),
            self.cx_of(min_y),
            self.cx_of(max_x),
            self.cx_of(max_y),
        )

    def cover_cells_one(self, min_x: float, min_y: float, max_x: float, max_y: float) -> np.ndarray:
        """All cell ids covered by one rect (closed cover, see module doc)."""
        cx0, cy0, cx1, cy1 = self.cover_ranges(min_x, min_y, max_x, max_y)
        cxs = np.arange(int(cx0), int(cx1) + 1, dtype=np.int64)
        cys = np.arange(int(cy0), int(cy1) + 1, dtype=np.int64)
        return (cxs[:, None] << self.level | cys[None, :]).ravel()

    def cover_cells_batch(
        self, min_x: np.ndarray, min_y: np.ndarray, max_x: np.ndarray, max_y: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized multi-rect cover.

        Returns (row_idx, cell) flat arrays: ``cell[i]`` is covered by
        input rect ``row_idx[i]``.  Fully vectorized via repeat/cumsum —
        no per-row Python loop (BASELINE.json input_hint).
        """
        cx0, cy0, cx1, cy1 = self.cover_ranges(min_x, min_y, max_x, max_y)
        w = cx1 - cx0 + 1
        h = cy1 - cy0 + 1
        counts = w * h
        total = int(counts.sum())
        if total == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        row_idx = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
        # position of each output within its rect's cover block
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        pos = np.arange(total, dtype=np.int64) - starts[row_idx]
        local_cx = pos // h[row_idx]
        local_cy = pos % h[row_idx]
        cell = ((cx0[row_idx] + local_cx) << self.level) | (cy0[row_idx] + local_cy)
        return row_idx, cell

    def disk_cells(self, cx: int, cy: int, radius: int) -> np.ndarray:
        """All cells with Chebyshev distance <= radius from (cx, cy), clamped."""
        cxs = np.arange(max(0, cx - radius), min(self.n - 1, cx + radius) + 1, dtype=np.int64)
        cys = np.arange(max(0, cy - radius), min(self.n - 1, cy + radius) + 1, dtype=np.int64)
        return (cxs[:, None] << self.level | cys[None, :]).ravel()

    def ring_cells(self, cx: int, cy: int, radius: int) -> np.ndarray:
        """Cells at exactly Chebyshev distance ``radius`` (the expansion ring)."""
        if radius == 0:
            return np.array([self.encode(cx, cy)], dtype=np.int64)
        disk = self.disk_cells(cx, cy, radius)
        dcx, dcy = self.cxcy(disk)
        cheb = np.maximum(np.abs(dcx - cx), np.abs(dcy - cy))
        return disk[cheb == radius]

    def cell_bounds(self, cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(min_x, min_y, max_x, max_y) of cells (half-open box)."""
        cx, cy = self.cxcy(cell)
        s = self.cell_size
        return cx * s, cy * s, (cx + 1) * s, (cy + 1) * s

    def parent(self, cell, levels_up: int = 1) -> np.ndarray:
        cx, cy = self.cxcy(cell)
        return ((cx >> levels_up) << (self.level - levels_up)) | (cy >> levels_up)

    def morton(self, cell) -> np.ndarray:
        """Z-order key of a cell — used only as a *sort* key for layout."""
        cx, cy = self.cxcy(cell)
        return _interleave_bits(cx, self.level) | (_interleave_bits(cy, self.level) << 1)

    # ------------------------------------------------------------------
    # Column-expression twins (JVM-side, whole-stage-codegen friendly)
    # ------------------------------------------------------------------
    def cx_col(self, x: Column) -> Column:
        c = F.floor(x / F.lit(self.cell_size)).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(self.n - 1), c))

    def cell_of_point_col(self, x: Column, y: Column) -> Column:
        return self.cell_col(self.cx_col(x), self.cx_col(y))

    def xy_cols(self, cell: Column) -> tuple[Column, Column]:
        """Twin of :meth:`cxcy`: exact integer decode at any level."""
        return F.shiftrightunsigned(cell, self.level), cell.bitwiseAND(F.lit(self.n - 1))

    def cell_col(self, cx: Column, cy: Column) -> Column:
        """Twin of :meth:`encode` (``cx * 2^r + cy`` — the SQL form)."""
        return cx * F.lit(self.n) + cy

    def parent_col(self, cell: Column, levels_up: int) -> Column:
        """Twin of :meth:`parent`: the cell's ancestor ``levels_up`` up."""
        if not 0 <= levels_up <= self.level:
            raise ValueError(f"levels_up must be in [0, {self.level}], got {levels_up}")
        cx, cy = self.xy_cols(cell)
        up = Grid(self.level - levels_up, self.extent)
        return up.cell_col(F.shiftrightunsigned(cx, levels_up), F.shiftrightunsigned(cy, levels_up))

    def morton_col(self, cell: Column) -> Column:
        """Twin of :meth:`morton`: unrolled bit interleave, a layout sort key."""
        cx, cy = self.xy_cols(cell)
        z = F.lit(0).cast("long")
        for i in range(self.level):
            z = (
                z.bitwiseOR(F.shiftleft(F.shiftrightunsigned(cx, i).bitwiseAND(F.lit(1)), 2 * i))
                .bitwiseOR(F.shiftleft(F.shiftrightunsigned(cy, i).bitwiseAND(F.lit(1)), 2 * i + 1))
            )
        return z

    def cell_of_point_sql(self, x: str, y: str) -> str:
        """Dialect-neutral SQL for cell_of_point — runs in Spark AND DuckDB."""
        n, s = self.n, self.cell_size
        cx = f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({x}) / CAST({s!r} AS DOUBLE)) AS BIGINT)))"
        cy = f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({y}) / CAST({s!r} AS DOUBLE)) AS BIGINT)))"
        return f"({cx} * {n} + {cy})"

    def cell_box_cols(self, cell: Column) -> tuple[Column, Column, Column, Column]:
        """Twin of :meth:`cell_bounds`: (min_x, min_y, max_x, max_y) of a
        cell's closed box."""
        cx, cy = self.xy_cols(cell)
        s = F.lit(self.cell_size)
        return cx * s, cy * s, (cx + 1) * s, (cy + 1) * s

    def cx_sql(self, x: str) -> str:
        """Dialect-neutral SQL for one clamped grid coordinate."""
        return (
            f"GREATEST(0, LEAST({self.n - 1}, "
            f"CAST(FLOOR(({x}) / CAST({self.cell_size!r} AS DOUBLE)) AS BIGINT)))"
        )


def _interleave_bits(v: np.ndarray, nbits: int) -> np.ndarray:
    """Spread the low ``nbits`` of v so bit i moves to bit 2i (vectorized)."""
    v = np.asarray(v, dtype=np.uint64)
    out = np.zeros_like(v)
    for i in range(nbits):
        out |= ((v >> np.uint64(i)) & np.uint64(1)) << np.uint64(2 * i)
    return out.astype(np.int64)
