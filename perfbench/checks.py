"""Output checks, run after every op and outside its timing.

Each step's output is checked against the generated rects with numpy:
the tile cover count in closed form, rect-join and kNN pairs for a
seeded sample against ``oracle/brute.py``, octagon-join pairs for the
same sample against the separating-axis oracle below.  Every step also
has to write as many rows as its manifest records, and the plans Spark
executed for it have to contain the operator's own node.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

SAMPLE = 64
OCTAGON_CUT = 0.25  # octagons_from_rects default

# Node the step's operator must leave in the executed plans.
PLAN_NODE = {
    "tiles_cover": ("Generate",),
    "join_rect": ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"),
    "join_octagon": ("MapInArrow",),
    "knn_join": ("Window",),
}


def ids(prefix: str, idx: np.ndarray) -> list[str]:
    return [f"{prefix}{i:08d}" for i in idx]


def rect_frame(r: dict, prefix: str, idx: np.ndarray | None = None) -> pd.DataFrame:
    idx = np.arange(len(r["min_x"])) if idx is None else idx
    return pd.DataFrame({"doc_id": ids(prefix, idx), **{k: v[idx] for k, v in r.items()}})


def cell_ranges(r: dict, level: int, extent: float) -> dict:
    """Per rect, the inclusive, clamped cell range on each axis, as the
    cover explode computes it."""
    n, size = 1 << level, extent / (1 << level)
    return {k: np.clip(np.floor(v.astype(np.float64) / size), 0, n - 1).astype(np.int64)
            for k, v in r.items()}


def cover_count(r: dict, level: int, extent: float) -> int:
    """Closed form of the cover explode: per rect, the product of its
    cell ranges on both axes."""
    c = cell_ranges(r, level, extent)
    return int(((c["max_x"] - c["min_x"] + 1) * (c["max_y"] - c["min_y"] + 1)).sum())


def cell_counts(r: dict, level: int, extent: float) -> np.ndarray:
    """Cover rows per grid cell (index ``cx * 2**level + cy``): the
    per-cell counts of the joins' census over these rects."""
    c = cell_ranges(r, level, extent)
    n = 1 << level
    counts = np.zeros(n * n, dtype=np.int64)
    for dx in range(int((c["max_x"] - c["min_x"]).max()) + 1):
        for dy in range(int((c["max_y"] - c["min_y"]).max()) + 1):
            m = (c["min_x"] + dx <= c["max_x"]) & (c["min_y"] + dy <= c["max_y"])
            np.add.at(counts, (c["min_x"][m] + dx) * n + c["min_y"][m] + dy, 1)
    return counts


def octagon(r: dict, idx) -> tuple[np.ndarray, np.ndarray]:
    """(k, 8) CCW vertex arrays, with the engine's vertex arithmetic:
    float32 extents, double cut offsets."""
    x0, y0, x1, y1 = (r[k][idx] for k in ("min_x", "min_y", "max_x", "max_y"))
    w, h = (x1 - x0).astype(np.float64), (y1 - y0).astype(np.float64)
    x0, y0, x1, y1 = (v.astype(np.float64) for v in (x0, y0, x1, y1))
    xl, xh = x0 + OCTAGON_CUT * w, x1 - OCTAGON_CUT * w
    yl, yh = y0 + OCTAGON_CUT * h, y1 - OCTAGON_CUT * h
    xs = np.stack([xl, xh, x1, x1, xh, xl, x0, x0], 1)
    ys = np.stack([y0, y0, yl, yh, y1, y1, yh, yl], 1)
    return xs, ys


def _separated(pxs, pys, qxs, qys) -> np.ndarray:
    """Per row: some edge of P has every Q vertex strictly outside."""
    ex = np.roll(pxs, -1, 1) - pxs
    ey = np.roll(pys, -1, 1) - pys
    cross = ex[:, :, None] * (qys[:, None, :] - pys[:, :, None]) - ey[:, :, None] * (
        qxs[:, None, :] - pxs[:, :, None]
    )
    return (cross < 0.0).all(axis=2).any(axis=1)


def octagon_pairs(a: dict, b: dict, a_idx, a_prefix: str, b_prefix: str) -> set:
    """Intersecting (A, B) octagon pairs for the sampled A rows: bbox
    filter, then the separating-axis test both ways (touching counts)."""
    out = set()
    bxs, bys = octagon(b, np.arange(len(b["min_x"])))
    for i in a_idx:
        m = (
            (b["min_x"] <= a["max_x"][i]) & (b["max_x"] >= a["min_x"][i])
            & (b["min_y"] <= a["max_y"][i]) & (b["max_y"] >= a["min_y"][i])
        )
        j = np.nonzero(m)[0]
        if not len(j):
            continue
        axs, ays = octagon(a, np.full(len(j), i))
        sep = _separated(axs, ays, bxs[j], bys[j]) | _separated(bxs[j], bys[j], axs, ays)
        out.update((f"{a_prefix}{i:08d}", f"{b_prefix}{jj:08d}") for jj in j[~sep])
    return out


def read_rows(path: str, col: str, keys: list[str]) -> pd.DataFrame:
    d = ds.dataset(path, format="parquet", partitioning="hive")
    return d.to_table(filter=ds.field(col).isin(keys)).to_pandas()


def written_rows(path: str) -> tuple[int, int, int]:
    """(rows, files, bytes) of the parquet data files under ``path``."""
    files = glob.glob(os.path.join(path, "part=*", "*.parquet"))
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, len(files), sum(os.path.getsize(f) for f in files)


def manifest_rows(path: str, run_id: str, stage: str) -> int:
    t = pq.read_table(path).to_pandas()
    t = t[(t["run_id"] == run_id) & (t["stage"] == stage) & (t["status"] == "done")]
    return int(t["output_rows"].sum())


class Checker:
    """Checks one op's step results against the workload's rects."""

    def __init__(self, wl, rects: dict, seed: int, level: int, extent: float, k: int) -> None:
        self.wl, self.r, self.seed = wl, rects, seed
        self.level, self.extent, self.k = level, extent, k
        self.px = {key: side.prefix for key, side in
                   (("a", wl.tables.a), ("b", wl.tables.b), ("q", wl.tables.q)) if side}

    def sample(self, key: str, op: int) -> np.ndarray:
        n = len(self.r[key]["min_x"])
        rng = np.random.default_rng([self.seed, op, 7])
        return np.sort(rng.choice(n, min(SAMPLE, n), replace=False))

    def check(self, step: str, res: dict, run_id: str, plans: str, op: int) -> list[str]:
        """Failure messages for one step (empty when correct)."""
        errors = []
        rows, _, _ = written_rows(res["data"])
        if rows != res["output_rows"] or manifest_rows(res["manifest"], run_id, res["stage"]) != rows:
            errors.append(f"{step}: manifest rows != rows written ({rows})")
        if not any(node in plans for node in PLAN_NODE[step]):
            errors.append(f"{step}: executed plans lack {PLAN_NODE[step]}")
        errors += getattr(self, f"_{step}")(res, op)
        return errors

    def _tiles_cover(self, res, op):
        want = cover_count(self.r["a"], self.level, self.extent)
        return [] if res["output_rows"] == want else [
            f"tiles_cover: {res['output_rows']} rows, closed form {want}"]

    def _join_sample(self, res, op, want: set, name: str):
        got = read_rows(res["data"], "a_doc_id", ids(self.px["a"], self.sample("a", op)))
        pairs = list(zip(got["a_doc_id"], got["b_doc_id"]))
        if len(pairs) != len(set(pairs)) or set(pairs) != want:
            return [f"{name}: {len(pairs)} sampled pairs ({len(pairs) - len(set(pairs))} repeated), "
                    f"{len(set(pairs) ^ want)} differ from the oracle's {len(want)}"]
        return []

    def _join_rect(self, res, op):
        from oracle.brute import join_brute

        idx = self.sample("a", op)
        want = join_brute(rect_frame(self.r["a"], self.px["a"], idx), rect_frame(self.r["b"], self.px["b"]))
        return self._join_sample(res, op, set(zip(want["a_doc_id"], want["b_doc_id"])), "join_rect")

    def _join_octagon(self, res, op):
        want = octagon_pairs(self.r["a"], self.r["b"], self.sample("a", op), self.px["a"], self.px["b"])
        return self._join_sample(res, op, want, "join_octagon")

    def _knn_join(self, res, op):
        from oracle.brute import knn_brute

        q = self.r["q"]
        idx = self.sample("q", op)
        queries = pd.DataFrame({
            "query_id": ids(self.px["q"], idx),
            "x": (q["min_x"][idx] + q["max_x"][idx]).astype(np.float64) / 2.0,
            "y": (q["min_y"][idx] + q["max_y"][idx]).astype(np.float64) / 2.0,
            "k": self.k,
        })
        want = knn_brute(rect_frame(self.r["b"], self.px["b"]), queries, dtype=np.float64)
        got = read_rows(res["data"], "query_id", list(queries["query_id"]))
        key = ["query_id", "rank"]
        w = want.sort_values(key).reset_index(drop=True)
        g = got[["query_id", "doc_id", "sq_dist", "rank"]].sort_values(key).reset_index(drop=True)
        same = len(w) == len(g) and (w["doc_id"].to_numpy() == g["doc_id"].to_numpy()).all() and (
            w["sq_dist"].to_numpy() == g["sq_dist"].to_numpy()).all() and (
            w["rank"].to_numpy() == g["rank"].to_numpy()).all()
        return [] if same else [f"knn_join: sampled neighbours differ ({len(g)} vs oracle {len(w)})"]
