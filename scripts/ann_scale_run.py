#!/usr/bin/env python
"""ANN-family scale evidence: brute / LSH / IVF top-k on a synthetic
embedding corpus ~400x the correctness-gate volume, reporting wall AND
recall@k of each approximate path against the exact brute ranking —
the measurement behind SCALE.md's ANN rows.

Vectors are a deterministic function of vec_id (parallelism-independent):
32-dim, values from integer hashing, plus a planted cluster structure
(vec_id % 64 picks one of 64 directions) so IVF lists are meaningful.

Prints one JSON line with walls and recalls.  Env: SPARK_GRAFT_CPUS
(default os.cpu_count()), SPARK_GRAFT_DRIVER_MEM (default 8g).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

DIM = 32


def synth_embeddings(spark: SparkSession, n: int, parts: int):
    """centroid(vec_id % 64) + hash noise, unit-free float32."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            j = np.arange(DIM, dtype=np.int64)
            base = ((ids[:, None] % 64 + 1) * 2654435761 + j[None, :] * 97) % 1000
            noise = ((ids[:, None] * 40503 + j[None, :] * 65027) % 997) / 997.0 - 0.5
            v = (base / 1000.0 - 0.5 + 0.35 * noise).astype(np.float32)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(v)})

    return (
        spark.range(n)
        .repartition(parts)
        .mapInPandas(gen, schema="vec_id long, embedding array<float>")
    )


def main() -> None:
    n = int(os.environ.get("ANN_SCALE_N", "200000"))
    n_queries = int(os.environ.get("ANN_SCALE_Q", "100"))
    k = 10
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from rtree_cpp_spark.operators import similarity

    emb = synth_embeddings(spark, n, cpus * 2).localCheckpoint()

    def run(name, fn):
        t0 = time.perf_counter()
        pdf = fn().toPandas()
        wall = time.perf_counter() - t0
        sets = {
            q: set(g["neighbor_vec_id"]) for q, g in pdf.groupby("query_vec_id")
        }
        return wall, sets

    brute_wall, brute = run(
        "brute", lambda: similarity.cosine_topk(emb, n_queries=n_queries, k=k)
    )
    lsh_wall, lsh = run(
        "lsh", lambda: similarity.lsh_topk(emb, n_queries=n_queries, k=k, n_planes=6)
    )
    ivf_wall, ivf = run(
        "ivf",
        lambda: similarity.ivf_topk(
            emb, n_queries=n_queries, k=k, n_centroids=64, n_probe=8
        ),
    )

    def recall(approx):
        tot = hits = 0
        for q, exact in brute.items():
            tot += len(exact)
            hits += len(exact & approx.get(q, set()))
        return round(hits / tot, 4)

    out = {
        "vectors": n,
        "dim": DIM,
        "queries": n_queries,
        "k": k,
        "brute_wall_sec": round(brute_wall, 2),
        "lsh_wall_sec": round(lsh_wall, 2),
        "ivf_wall_sec": round(ivf_wall, 2),
        "lsh_recall_at_k": recall(lsh),
        "ivf_recall_at_k": recall(ivf),
        "cpus": cpus,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
