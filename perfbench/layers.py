"""The traced op: per-layer metrics from spans and the SQL status store.

Each layer's input is cached and materialized before the layer is timed
(see ``workloads.Path``), so a span's wall time is that layer's own
work.  Node-level rows, bytes and times come from the status store, the hot
cells of the engine's census and the rows its cell joins emit included.
Candidate pairs (sum of nA * nB over cells) and the largest cell are
counted from the generated rects: Spark reports no row count for them.
"""

from __future__ import annotations

import math

from perfbench.checks import cell_counts, written_rows
from perfbench.observe import Tracer, cached_mb, gc_seconds, shuffle_skew

MB = 2**20
KEYS_PER_BATCH = 64  # resumable_write default

# unit of every per-layer metric; BENCHMARK.json lists the same names
UNITS = {
    "sources.extract.s": "s",
    "sources.extract.rows": "count",
    "sources.scan_mb": "MB",
    "operators.cover.s": "s",
    "operators.cover.expansion": "ratio",
    "operators.spatial_join.census_s": "s",
    "operators.spatial_join.hot_cells": "count",
    "operators.spatial_join.max_cell_rows": "count",
    "operators.spatial_join.candidates": "count",
    "operators.spatial_join.pairs": "count",
    "operators.spatial_join.refine_selectivity": "ratio",
    "operators.spatial_join.join_s": "s",
    "operators.pip_join.census_s": "s",
    "operators.pip_join.hot_cells": "count",
    "operators.pip_join.candidates": "count",
    "operators.pip_join.pairs": "count",
    "operators.pip_join.refine_selectivity": "ratio",
    "operators.pip_join.kernel_rows": "count",
    "operators.pip_join.py_start_s": "s",
    "operators.pip_join.py_run_s": "s",
    "operators.pip_join.py_sent_mb": "MB",
    "operators.pip_join.py_returned_mb": "MB",
    "operators.pip_join.join_s": "s",
    "operators.knn.rounds_s": "s",
    "operators.knn.actions": "count",
    "operators.knn.candidates": "count",
    "operators.knn.rows": "count",
    "plans.manifest.write_s": "s",
    "plans.manifest.output_mb": "MB",
    "plans.manifest.files": "count",
    "plans.manifest.batches": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_skew": "ratio",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.executions": "count",
    "spark.cached_mb": "MB",
    "host.cpu_control_s": "s",
    "trace.overhead_s": "s",
    "trace.blocking_share": "ratio",
}


def _node_sum(execs, node_prefix: str, metric: str) -> float:
    return sum(
        n.metrics.get(metric, (0.0, None, None))[0]
        for e in execs for n in e.nodes if n.name.startswith(node_prefix)
    )


def _cell_join_rows(execs) -> float:
    """Output rows of inner equi-joins keyed on a grid cell."""
    return sum(
        n.metrics.get("number of output rows", (0.0,))[0]
        for e in execs for n in e.nodes
        if n.name.endswith("Join") and ", Inner" in n.desc and "[cell#" in n.desc
    )


def _census_hot_cells(execs) -> tuple[float, bool]:
    """(hot cells, census seen): the most rows any scan of the engine's
    cached census read.  The census relation is the one whose cached
    plan holds its ``_n > threshold`` filter; it is persisted, never
    unpersisted, so after the first op every op reads it from the cache."""
    hot, seen = 0.0, False
    for e in execs:
        by_id = {n.id: n for n in e.nodes}
        for scan in e.nodes:
            if scan.name != "InMemoryTableScan":
                continue
            todo = list(scan.children)  # the cached plan, down to the next cache
            while todo:
                n = by_id.get(todo.pop())
                if n is None or n.name == "InMemoryTableScan":
                    continue
                if n.name == "Filter" and "(_n#" in n.desc:
                    seen = True
                    hot = max(hot, scan.metrics.get("number of output rows", (0.0,))[0])
                    break
                todo.extend(n.children)
    return hot, seen


def traced_op(bench, job_s: float, cpu_control: float):
    """Run one traced op; returns (metrics {name: (value, unit)}, trace)."""
    spark, wl = bench.spark, bench.wl
    tracer = Tracer()
    last = bench.store.last_id()
    gc0 = gc_seconds(spark)
    r = bench.op(tracer)
    if r is None:
        raise RuntimeError("traced op failed: " + bench.failures[-1])
    wall, _, path, results = r
    gc_s = gc_seconds(spark) - gc0
    bench.store.drain()
    execs = bench.store.since(last, with_nodes=True)

    def dur(name: str) -> float:
        return sum(s.end - s.start for s in tracer.spans if s.name == name)

    def in_span(*names: str):
        spans = [s for s in tracer.spans if s.name in names]
        return [e for e in execs if any(s.start - 0.001 <= e.submitted <= s.end + 0.001 for s in spans)]

    m: dict[str, float] = {k: 0.0 for k in UNITS}
    m["sources.extract.s"] = dur("sources.extract")
    m["sources.extract.rows"] = path.rows.get("sources.extract", 0)
    m["sources.scan_mb"] = _node_sum(execs, "Scan parquet", "size of files read") / MB

    # manifest
    files = out_bytes = batches = 0
    for _, _, _, res in results:
        _, f, b = written_rows(res["data"])
        files += f
        out_bytes += b
        batches += math.ceil(len(res["written_keys"]) / KEYS_PER_BATCH)
    m["plans.manifest.write_s"] = dur("plans.manifest")
    m["plans.manifest.output_mb"] = out_bytes / MB
    m["plans.manifest.files"] = files
    m["plans.manifest.batches"] = batches

    # spark
    m["spark.shuffle_write_mb"] = _node_sum(execs, "Exchange", "shuffle bytes written") / MB
    m["spark.shuffle_skew"] = shuffle_skew(spark, execs)
    m["spark.spill_mb"] = sum(
        v[0] for e in execs for n in e.nodes for k, v in n.metrics.items() if "spill size" in k
    ) / MB
    m["spark.gc_s"] = gc_s
    m["spark.executions"] = len(execs)
    path.release()  # the benchmark's own caches; what is left is the engine's
    m["spark.cached_mb"] = cached_mb(spark)

    # knn
    if "knn_join" in wl.steps:
        m["operators.knn.rounds_s"] = dur("operators.knn.rounds")
        rounds = in_span("operators.knn.rounds")
        m["operators.knn.actions"] = len(rounds)
        m["operators.knn.candidates"] = _cell_join_rows(rounds)
        m["operators.knn.rows"] = path.rows.get("operators.knn.attach", 0)

    # pip join: Python boundary metrics from the MapInArrow node
    if "join_octagon" in wl.steps:
        joins = in_span("operators.pip_join.join")
        m["operators.pip_join.census_s"] = dur("operators.pip_join.census")
        m["operators.pip_join.join_s"] = dur("operators.pip_join.join")
        m["operators.pip_join.pairs"] = path.rows.get("operators.pip_join.join", 0)
        m["operators.pip_join.py_start_s"] = _node_sum(joins, "MapInArrow", "time to start Python workers")
        m["operators.pip_join.py_run_s"] = _node_sum(joins, "MapInArrow", "time to run Python workers")
        m["operators.pip_join.py_sent_mb"] = _node_sum(joins, "MapInArrow", "data sent to Python workers") / MB
        m["operators.pip_join.py_returned_mb"] = _node_sum(
            joins, "MapInArrow", "data returned from Python workers") / MB
    if "join_rect" in wl.steps:
        m["operators.spatial_join.census_s"] = dur("operators.spatial_join.census")
        m["operators.spatial_join.join_s"] = dur("operators.spatial_join.join")
        m["operators.spatial_join.pairs"] = path.rows.get("operators.spatial_join.join", 0)
    # hot cells as the engine's census found them; candidates, the
    # pairs of cover rows that share a cell (sum of nA * nB), from the
    # generated rects: the engine fuses its refine predicate into the
    # cell join, so Spark reports no row count before it
    rects = bench.inputs["rects"]
    per_cell = [cell_counts(rects[k], bench.grid.level, bench.grid.extent) for k in ("a", "b")]
    for step, layer in (("join_rect", "operators.spatial_join"), ("join_octagon", "operators.pip_join")):
        if step not in wl.steps:
            continue
        hot, seen = _census_hot_cells(in_span(f"{layer}.census", f"{layer}.join"))
        if not seen:
            raise RuntimeError(f"{layer}: the census is not in the executed plans")
        m[f"{layer}.hot_cells"] = hot
        m[f"{layer}.candidates"] = float((per_cell[0] * per_cell[1]).sum())
        m[f"{layer}.refine_selectivity"] = m[f"{layer}.pairs"] / m[f"{layer}.candidates"]
    if "join_rect" in wl.steps:
        m["operators.spatial_join.max_cell_rows"] = float(per_cell[0].max())
    if "join_octagon" in wl.steps:
        # rows out of the engine's cell join: the candidates left after its
        # reference-cell and bbox filters, i.e. what the SAT kernel receives
        m["operators.pip_join.kernel_rows"] = _cell_join_rows(in_span("operators.pip_join.join"))
    m["operators.cover.s"] = dur("operators.cover")

    # blocking path: the op's direct children, before any diagnostic
    blocking = sum(s.end - s.start for s in tracer.spans if s.parent == "op")
    m["trace.blocking_share"] = blocking / wall
    m["trace.overhead_s"] = wall - job_s
    m["host.cpu_control_s"] = cpu_control

    if "tiles_cover" in wl.steps:
        m["operators.cover.expansion"] = path.rows["operators.cover"] / len(bench.inputs["rects"]["a"]["min_x"])
    else:
        # no tiles step: time the cover of B (what the joins and the kNN
        # gather explode) as its own diagnostic span, off the op
        from jobs._common import load_rects
        from rtree_cpp_spark.operators.cover import with_cover_cells

        b = load_rects(spark, bench.inputs["paths"]["b"], "parquet").persist()
        n_b = b.count()
        cov = tracer.span("operators.cover", path.op, "diagnostic",
                          lambda: with_cover_cells(b, bench.grid).count())
        b.unpersist(blocking=True)
        m["operators.cover.s"] = dur("operators.cover")
        m["operators.cover.expansion"] = cov / n_b
    trace = {
        "spans": tracer.to_json(),
        "executions": [
            {"id": e.id, "submitted": e.submitted,
             "nodes": [{"id": n.id, "name": n.name, "desc": n.desc[:160], "metrics": n.metrics,
                        "children": n.children} for n in e.nodes]}
            for e in execs
        ],
        "metrics": m,
    }
    return {k: (v, UNITS[k]) for k, v in m.items()}, trace
