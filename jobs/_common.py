"""Shared plumbing for the spark-submit job entry points.

Every job follows the reference CLI's shape (reference: src/Main.cpp:137-246
— query-type switch + two positional datasets) re-expressed as cluster
jobs: read the interleaved-doc table, run one engine operator, write the
result table resumably with per-cell-partition lineage + metrics
(north_rule).  Launch:

    spark-submit --py-files engine.zip jobs/run_join.py \
        --input-a ... --input-b ... --output ... --manifest ...

``--master`` is only for sandbox/local testing; under a real cluster the
master comes from spark-submit.
"""

from __future__ import annotations

import argparse

from pyspark.sql import Column, DataFrame, SparkSession

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.plans.manifest import new_run_id, resumable_write
from rtree_cpp_spark.sources.extract import rects_only


def base_parser(desc: str) -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=desc)
    p.add_argument("--output", required=True, help="output table path (parquet dir)")
    p.add_argument("--manifest", required=True, help="lineage/metrics manifest path")
    p.add_argument("--run-id", default=None, help="resume a previous run's id")
    p.add_argument("--grid-level", type=int, default=6)
    p.add_argument("--extent", type=float, default=1024.0)
    p.add_argument("--coarse-level", type=int, default=3,
                   help="lineage partition granularity (2^L x 2^L coarse cells)")
    p.add_argument("--format", choices=["parquet", "iceberg", "text"], default="parquet",
                   help="input format: interleaved-doc parquet path, Iceberg table "
                        "name, or the reference CLI's dataset text format "
                        "('x1 y1, x2 y2' lines, line-order ids — src/Main.cpp:50-78)")
    p.add_argument("--master", default=None, help="local testing only")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def build_session(app: str, args: argparse.Namespace) -> SparkSession:
    b = SparkSession.builder.appName(app)
    if args.master:
        b = b.master(args.master)
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_docs(spark: SparkSession, ref: str, fmt: str) -> DataFrame:
    """Read the interleaved-doc table (doc_id, spans) by path or catalog name."""
    if fmt == "iceberg":
        return spark.read.table(ref)
    return spark.read.parquet(ref)


def load_rects(spark: SparkSession, ref: str, fmt: str) -> DataFrame:
    if fmt == "text":
        from rtree_cpp_spark.sources.reference_files import load_data

        return load_data(spark, ref)
    return rects_only(load_docs(spark, ref, fmt))


def load_query_rects(spark: SparkSession, ref: str) -> DataFrame:
    """Query tables: parquet, or the reference query text format."""
    if ref.endswith(".txt"):
        from rtree_cpp_spark.sources.reference_files import read_range_queries

        return read_range_queries(spark, ref)
    return spark.read.parquet(ref)


def load_query_points(spark: SparkSession, ref: str) -> DataFrame:
    if ref.endswith(".txt"):
        from rtree_cpp_spark.sources.reference_files import read_nearest_queries

        return read_nearest_queries(spark, ref)
    return spark.read.parquet(ref)


def coarse_cell_col(grid: Grid, coarse_level: int, cell: Column) -> Column:
    """Parent of ``cell`` at ``coarse_level`` — the lineage partition key.
    A coarse level finer than the grid keys by the grid's own cell."""
    return grid.parent_col(cell, max(grid.level - coarse_level, 0)).alias("part")


def finish(
    df: DataFrame,
    args: argparse.Namespace,
    stage: str,
) -> None:
    """Resumable partitioned write + lineage manifest, then a summary line."""
    run_id = args.run_id or new_run_id()
    res = resumable_write(
        df, args.output, "part", args.manifest, run_id, stage
    )
    print(
        f"[{stage}] run_id={run_id} written_keys={len(res['written_keys'])} "
        f"skipped_keys={len(res['skipped_keys'])} output_rows={res['output_rows']} "
        f"output={args.output}"
    )
