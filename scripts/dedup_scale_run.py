#!/usr/bin/env python
"""Dedup-family scale evidence: run the MinHash-LSH → connected-components
pipeline on a synthetic corpus ~600x the correctness-gate volume and report
throughput — the measurement behind SCALE.md's "dedup scales" row.

Corpus: deterministic function of the row index (parallelism-independent):
~40-word docs over a 1k-word vocabulary; 10% exact duplicates (copy of an
earlier doc) and 10% near-duplicates (one word changed) so both the exact
and near-dup machinery do real work.

Prints one JSON line: {docs, lsh_pairs, n_components, wall_sec, docs_per_sec}.
Env: SPARK_GRAFT_CPUS (default os.cpu_count()), SPARK_GRAFT_DRIVER_MEM (default 8g).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession, functions as F  # noqa: E402


def synth_corpus(spark: SparkSession, n: int):
    """Deterministic docs: base text from hashed word picks; rows where
    id % 10 == 7 duplicate id-7's text exactly; id % 10 == 8 near-dup
    id-8's text (first word swapped)."""
    words = F.array(*[F.concat(F.lit("w"), F.lit(i)) for i in range(1000)])
    base = F.col("base_id")
    pick = lambda j: F.element_at(  # noqa: E731
        words, (F.pmod(F.xxhash64(base.cast("string"), F.lit(j)), 1000) + 1).cast("int")
    )
    text = F.concat_ws(" ", *[pick(j) for j in range(40)])
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 7, F.col("id") - 7)
        .when(F.col("id") % 10 == 8, F.col("id") - 8)
        .otherwise(F.col("id"))
        .alias("base_id"),
        (F.col("id") % 10).alias("slot"),
    )
    near = F.concat(F.lit("zzz_changed "), F.substring_index(text, " ", -39))
    return df.select(
        "doc_id",
        F.when(F.col("slot") == 8, near).otherwise(text).alias("text"),
    )


def main() -> None:
    n = int(os.environ.get("DEDUP_SCALE_N", "300000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from rtree_cpp_spark.operators import dedup

    docs = synth_corpus(spark, n).repartition(cpus * 2).localCheckpoint()
    t0 = time.perf_counter()
    pairs = dedup.lsh_candidate_pairs(docs).localCheckpoint()
    n_pairs = pairs.count()
    comps = dedup.duplicate_components(docs, pairs=pairs)
    n_components = comps.select("component_id").distinct().count()
    wall = time.perf_counter() - t0
    out = {
        "docs": n,
        "lsh_pairs": n_pairs,
        "n_components": n_components,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n / wall, 1),
        "cpus": cpus,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
