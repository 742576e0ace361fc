"""Workloads and the job paths an op runs.

An op is what a user's ``spark-submit jobs/run_*.py`` runs, called in
process and in the same order as the job's ``main()``:
``jobs._common.load_rects`` -> operator -> ``coarse_cell_col`` ->
``plans.manifest.resumable_write``.  Job arguments are the jobs'
defaults except the flags named on each workload.

:class:`Path` runs a step either plainly (the timed ops) or traced: then
each layer's output is cached and materialized inside a span named
after the layer, so the next layer is timed on a materialized input.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from perfbench.gen import Side, Tables

# Job defaults not in jobs._common.base_parser (run_join.py / run_knn_join.py).
N_SALT = 16
K = 5
# --hot-threshold passed to run_join (both geometries)
HOT_THRESHOLD = 2000


@dataclass(frozen=True)
class Workload:
    name: str
    tables: Tables
    steps: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # 4 clusters of 3k A / 750 B rects, each inside one 16x16 grid
        # cell, over a uniform background: 4 cells exceed the threshold
        # (a background cell holds ~15 A cover rows).
        Workload(
            "join_tiles_skewed",
            Tables(
                a=Side("A", 60_000, cluster_frac=0.2),
                b=Side("B", 30_000, cluster_frac=0.1),
            ),
            steps=("tiles_cover", "join_rect"),
        ),
        # uniform A and B, so the census is empty; Q is 4% of B.
        Workload(
            "polygon_knn_uniform",
            Tables(
                a=Side("A", 30_000),
                b=Side("B", 20_000),
                q=Side("Q", 800),
            ),
            steps=("join_octagon", "knn_join"),
        ),
    )
}


class Path:
    """One op's calls into the engine.  ``tracer`` is None for timed
    ops; with a tracer every layer call is a span of op ``op``."""

    def __init__(self, spark, grid, coarse_level: int, inputs: dict, out_root: str,
                 run_id: str, tracer=None, op: int = 0) -> None:
        self.spark, self.grid, self.coarse_level = spark, grid, coarse_level
        self.inputs, self.out_root, self.run_id = inputs, out_root, run_id
        self.tracer, self.op = tracer, op
        self.cached = []
        self.rows: dict[str, int] = {}

    # -- layer calls -------------------------------------------------------
    def _span(self, name, fn, *args, **kw):
        if self.tracer is None:
            return fn(*args, **kw)
        return self.tracer.span(name, self.op, "op", fn, *args, **kw)

    def layer(self, name: str, build, *args, **kw):
        """``build(*args, **kw)`` -> DataFrame.  Traced, the plan is built,
        cached and counted inside span ``name``."""
        if self.tracer is None:
            return build(*args, **kw)
        from pyspark.storagelevel import StorageLevel

        def run():
            cached = build(*args, **kw).persist(StorageLevel.MEMORY_AND_DISK)
            self.cached.append(cached)
            self.rows[name] = self.rows.get(name, 0) + cached.count()
            return cached

        return self._span(name, run)

    def extract(self, key: str):
        from jobs._common import load_rects

        return self.layer("sources.extract", load_rects, self.spark, self.inputs[key], "parquet")

    def part(self, df, cell_col: str = "cell"):
        from jobs._common import coarse_cell_col
        from pyspark.sql import functions as F

        return df.withColumn("part", coarse_cell_col(self.grid, self.coarse_level, F.col(cell_col)))

    def write(self, df, stage: str) -> dict:
        from rtree_cpp_spark.plans.manifest import resumable_write

        out = os.path.join(self.out_root, stage)
        res = self._span(
            "plans.manifest", resumable_write,
            df, os.path.join(out, "data"), "part", os.path.join(out, "manifest"),
            self.run_id, stage,
        )
        return {"stage": stage, "data": os.path.join(out, "data"),
                "manifest": os.path.join(out, "manifest"), **res}

    def release(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached = []

    # -- steps: one per job ------------------------------------------------
    def tiles_cover(self, wl: Workload) -> dict:
        """jobs/run_tiles.py --mode cover --input A"""
        from rtree_cpp_spark.operators.tiles import cover_tiles

        data = self.extract("a")
        tiles = self.layer("operators.cover", lambda: self.part(cover_tiles(data, self.grid)))
        return self.write(tiles, "tiles_cover")

    def join_rect(self, wl: Workload) -> dict:
        """jobs/run_join.py --geometry rect --hot-threshold T"""
        from rtree_cpp_spark.operators.spatial_join import spatial_join_salted

        a, b = self.extract("a"), self.extract("b")
        pairs = self._span(
            "operators.spatial_join.census", spatial_join_salted,
            a, b, self.grid, hot_threshold=HOT_THRESHOLD, n_salt=N_SALT, keep_cell=True,
        )
        out = self.layer("operators.spatial_join.join", lambda: self.part(pairs).drop("cell"))
        return self.write(out, "spatial_join_rect")

    def join_octagon(self, wl: Workload) -> dict:
        """jobs/run_join.py --geometry octagon --hot-threshold T"""
        from rtree_cpp_spark.operators.pip_join import octagons_from_rects, polygon_join

        a, b = self.extract("a"), self.extract("b")
        pairs = self._span(
            "operators.pip_join.census", polygon_join,
            octagons_from_rects(a), octagons_from_rects(b), self.grid,
            refine="kernel", hot_threshold=HOT_THRESHOLD, n_salt=N_SALT, keep_cell=True,
        )
        out = self.layer("operators.pip_join.join", lambda: self.part(pairs).drop("cell"))
        return self.write(out, "spatial_join_octagon")

    def knn_join(self, wl: Workload) -> dict:
        """jobs/run_knn_join.py --regime frontier --input-a Q --input-b B"""
        from pyspark.sql import functions as F

        from rtree_cpp_spark.operators.knn import knn_join_frontier

        a, b = self.extract("q"), self.extract("b")
        result = self._span("operators.knn.rounds", knn_join_frontier, a, b, self.grid, k=K)

        def attach():
            qcell = a.select(
                F.col("doc_id").alias("query_id"),
                self.grid.cell_of_point_col(
                    (F.col("min_x") + F.col("max_x")) / F.lit(2.0),
                    (F.col("min_y") + F.col("max_y")) / F.lit(2.0),
                ).alias("qcell"),
            )
            return self.part(result.join(qcell, "query_id"), "qcell").drop("qcell")

        return self.write(self.layer("operators.knn.attach", attach), "knn_join")
