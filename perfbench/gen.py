"""Seeded input generator for the benchmark: numpy + pyarrow only.

Writes interleaved-doc parquet tables ``(doc_id, spans)`` whose one
``kind='geo'`` span holds the rect as ``"x1 y1, x2 y2"``.  Nothing here
imports Spark or the engine, so a change to the engine's own synthesizer
cannot change the inputs the engine is measured on.

Coordinates sit on a 0.25 lattice inside [0, 1024): exact in float32 and
float64, so the numpy oracles and Spark's float32 parse agree on every
closed-bound comparison and every octagon vertex.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EXTENT = 1024.0
LATTICE = 0.25
MAX_DIM = 4.0  # largest side of a uniform rect
# Clusters: N_CLUSTERS squares of side CLUSTER_DIAM, shared by every side
# of a workload; a clustered rect has sides of at most CLUSTER_MAX_DIM.
N_CLUSTERS = 4
CLUSTER_DIAM = 12.0
CLUSTER_MAX_DIM = 1.0
FILES_PER_TABLE = 4  # the same scan splits on every host

_SENTENCES = (
    "lorem ipsum dolor sit amet",
    "consectetur adipiscing elit sed do",
    "eiusmod tempor incididunt ut labore",
    "et dolore magna aliqua ut enim",
)


@dataclass(frozen=True)
class Side:
    """Distribution of one doc table: ``n`` rects with sides on the
    lattice; ``cluster_frac`` of them sit in the clusters, the rest are
    uniform."""

    prefix: str
    n: int
    cluster_frac: float = 0.0


@dataclass(frozen=True)
class Tables:
    """The doc tables of a workload: A and B, plus an optional query
    table Q."""

    a: Side
    b: Side
    q: Side | None = None


def _lattice(v: np.ndarray) -> np.ndarray:
    return np.floor(v / LATTICE) * LATTICE


def side_rects(rng: np.random.Generator, side: Side, centers: np.ndarray) -> dict:
    """Float32 rect columns for one side (row order shuffled so clustered
    rows are spread over every file and row group)."""
    n = side.n
    n_cl = int(round(n * side.cluster_frac))
    steps = np.full(n, int(MAX_DIM / LATTICE))
    steps[:n_cl] = int(CLUSTER_MAX_DIM / LATTICE)
    w = (rng.integers(0, steps) + 1) * LATTICE
    h = (rng.integers(0, steps) + 1) * LATTICE
    x = rng.random(n) * EXTENT
    y = rng.random(n) * EXTENT
    if n_cl:
        ci = rng.integers(0, len(centers), n_cl)
        x[:n_cl] = centers[ci, 0] + (rng.random(n_cl) - 0.5) * CLUSTER_DIAM
        y[:n_cl] = centers[ci, 1] + (rng.random(n_cl) - 0.5) * CLUSTER_DIAM
    top = EXTENT - LATTICE
    min_x = np.clip(_lattice(x), 0.0, top - w)
    min_y = np.clip(_lattice(y), 0.0, top - h)
    order = rng.permutation(n)
    cols = {
        "min_x": min_x[order],
        "min_y": min_y[order],
        "max_x": (min_x + w)[order],
        "max_y": (min_y + h)[order],
    }
    return {k: v.astype(np.float32) for k, v in cols.items()}


def generate(tables: Tables, seed: int, cell: float) -> dict:
    """``{key: rects}`` float32 rect columns per side (``a``, ``b`` and
    ``q`` when present); row ``i`` is doc ``f"{prefix}{i:08d}"``.
    ``cell`` is the side of a join-grid cell.  Same seed, same rects.

    Cluster centers are the centers of distinct interior grid cells,
    drawn once per seed; a cluster with its rects fits inside its cell,
    so the number of hot cells does not depend on the seed."""
    if CLUSTER_DIAM + CLUSTER_MAX_DIM >= cell:
        raise ValueError(f"clusters of {CLUSTER_DIAM} do not fit a cell of {cell}")
    rng = np.random.default_rng([seed, 0x5EED])
    per_axis = int(EXTENT / cell)
    # interior cells only: a cluster never touches the domain edge
    cells = rng.choice((per_axis - 2) ** 2, N_CLUSTERS, replace=False)
    cx, cy = 1 + cells // (per_axis - 2), 1 + cells % (per_axis - 2)
    centers = (np.stack([cx, cy], 1) + 0.5) * cell
    return {
        key: side_rects(np.random.default_rng([seed, i]), side, centers)
        for i, (key, side) in enumerate(sides(tables), start=1)
    }


def sides(tables: Tables) -> list[tuple[str, Side]]:
    out = [("a", tables.a), ("b", tables.b)]
    return out + [("q", tables.q)] if tables.q else out


def doc_ids(prefix: str, n: int) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(np.arange(n)), pa.string()), 8, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def docs_table(prefix: str, rects: dict, seed: int) -> pa.Table:
    """Interleaved docs: two spans each (a text span and the geo span),
    the geo span first or second at random — extraction has to find it."""
    n = len(rects["min_x"])
    rng = np.random.default_rng([seed, 3, ord(prefix[0])])
    s = {k: pc.cast(pa.array(v.astype(np.float64)), pa.string()) for k, v in rects.items()}
    geo = pc.binary_join_element_wise(
        pc.binary_join_element_wise(s["min_x"], s["min_y"], " "),
        pc.binary_join_element_wise(s["max_x"], s["max_y"], " "),
        ", ",
    )
    text = pa.array(np.array(_SENTENCES, dtype=object)[rng.integers(0, len(_SENTENCES), n)])
    geo_first = rng.random(n) < 0.5
    gf = pa.array(geo_first)
    kinds = np.empty(2 * n, dtype=object)
    kinds[0::2] = np.where(geo_first, "geo", "text")
    kinds[1::2] = np.where(geo_first, "text", "geo")
    texts = pa.concat_arrays([pc.if_else(gf, geo, text), pc.if_else(gf, text, geo)])
    # interleave [first spans..., second spans...] -> doc-major order
    texts = texts.take(pa.array(np.stack([np.arange(n), np.arange(n) + n], 1).ravel()))
    spans = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            texts,
            pa.array(np.full(2 * n, "", dtype=object), pa.string()),
            pa.array(np.tile(np.array([0, 1], dtype=np.int32), n)),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    lists = pa.ListArray.from_arrays(pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)), spans)
    return pa.Table.from_arrays([doc_ids(prefix, n), lists], names=["doc_id", "spans"])


def write_docs(table: pa.Table, path: str, n_files: int) -> None:
    """Parquet directory of ``n_files`` equal files, so the scan has
    ``n_files`` splits whatever the machine."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def write_inputs(tables: Tables, seed: int, cell: float, root: str) -> dict:
    """Generate and write every doc table of ``tables`` under ``root``;
    returns the rects (for the oracles) and the table paths."""
    rects = generate(tables, seed, cell)
    paths = {}
    for key, side in sides(tables):
        paths[key] = os.path.join(root, f"docs_{key}")
        write_docs(docs_table(side.prefix, rects[key], seed), paths[key], FILES_PER_TABLE)
    return {"rects": rects, "paths": paths}
