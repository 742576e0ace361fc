#!/usr/bin/env python
"""Scale evidence for the training-pipeline operator family.

Builds a deterministic synthetic corpus (default 300,000 docs, ~60x the
sf0.1 bench volume; pure doc_id arithmetic, no RNG) and runs the
pipeline operators over it in Spark, then replays the SAME oracle SQL
the correctness gate uses on DuckDB over the SAME parquet — so the
value-level verification happens AT SCALE, not just at sf0.01:

- row counts Spark vs DuckDB per operator, and
- an order-independent value checksum: bit_xor over a 60-bit md5 hash
  of the pipe-joined non-double output columns (identical arithmetic
  on both engines; doubles are excluded from the checksum because
  their TEXT formatting differs across engines — their values are
  gate-verified bit-exactly at sf0.01).

Usage:
  python scripts/pipeline_scale_run.py [n_docs]
Env:
  PIPELINE_SCALE_WORKDIR  corpus parquet cache (reused when present)
  PIPELINE_SCALE_CPUS     local[N] (default 16)
  SPARK_GRAFT_DRIVER_MEM  driver heap (default 8g)

Prints a per-operator table and one JSON line; curated results live in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# op -> corpus tier.  "full" ops verify at the headline n_docs.
# pack_sequences verifies on a smaller second corpus: its DuckDB oracle
# is a RECURSIVE CTE (greedy packing is inherently sequential), which is
# quadratic in the ORACLE — ~110s at 20k docs — while the engine side is
# a linear applyInPandas per shard; the quadratic cost lives only in the
# verifier, exactly like the dedup family's brute-force oracles.
OPS = {
    "text_repetition": "full",
    "text_decontaminate": "full",
    "text_pii_scan": "full",
    "sample_mixing": "full",
    "text_chunks": "full",
    "pack_sequences": "small",
    "text_vocab": "full",
    "text_tfidf": "full",
}
N_SMALL = 30_000

_H64_DUCK = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"


def build_corpus(spark: SparkSession, n_docs: int, path: str) -> None:
    """(doc_id, lang, text): n_tokens = 40 + doc_id % 21 tokens drawn
    from a 1000-word vocabulary by pure arithmetic — every downstream
    expectation is reproducible from the construction."""
    n_tok = F.lit(40) + (F.col("id") % 21).cast("int")
    token = lambda j: F.concat(F.lit("w"), ((F.col("id") * 31 + j * 7) % 1000).cast("string"))  # noqa: E731
    text = F.array_join(
        F.transform(F.sequence(F.lit(0), n_tok - 1), lambda j: token(j)), " "
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 7).cast("string")).alias("lang"),
        text.alias("text"),
    )
    docs.repartition(32).write.mode("overwrite").parquet(path)


def _checksum_cols(dtypes: list[tuple[str, str]]) -> list[str]:
    return [c for c, t in dtypes if not t.startswith(("double", "float"))]


def spark_checksum(df, cols: list[str]) -> int:
    # coalesce each cell to a \0 sentinel BEFORE concat_ws: concat_ws
    # silently SKIPS nulls (both engines), so ('a', NULL) and (NULL, 'a')
    # would otherwise hash identically and mask a real mismatch
    joined = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(F.encode(joined, "utf-8")), 1, 15), 16, 10).cast("long")
    out = df.select(h.alias("h")).agg(F.expr("bit_xor(h)")).collect()[0][0]
    # bit_xor over zero rows is NULL: surface an empty result as checksum
    # 0 (the row-count compare reports the mismatch), never a crash
    return int(out) if out is not None else 0


def duck_checksum(con, sql: str, cols: list[str]) -> tuple[int, int]:
    j = ", ".join(f"COALESCE(CAST({c} AS VARCHAR), chr(0))" for c in cols)
    h = _H64_DUCK.format(s=f"concat_ws('|', {j})")
    row = con.execute(
        f"SELECT COALESCE(bit_xor({h}), 0), COUNT(*) FROM ({sql}) t"
    ).fetchone()
    return int(row[0]), int(row[1])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    cpus = int(os.environ.get("PIPELINE_SCALE_CPUS", "16"))
    workdir = os.environ.get("PIPELINE_SCALE_WORKDIR", "/tmp/pipeline_scale")
    dirs = {"full": (workdir, n_docs), "small": (f"{workdir}/small", N_SMALL)}

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pipeline-scale-run")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    for tier, (d, n) in dirs.items():
        pq = f"{d}/documents.parquet"
        if os.path.exists(f"{pq}/_SUCCESS"):
            have = spark.read.parquet(pq).count()
            if have == n:
                print(f"corpus[{tier}]: reusing {pq} ({have} docs)")
                continue
            print(f"corpus[{tier}]: cache has {have} docs, want {n} — rebuilding")
        t0 = time.perf_counter()
        build_corpus(spark, n, pq)
        print(f"corpus[{tier}]: built {n} docs in {time.perf_counter() - t0:.1f}s -> {pq}")

    import __spark_entry__ as e

    qmap = e.bench_queries()
    oracles = e.oracle_sql()

    cons = {}
    for tier, (d, n) in dirs.items():
        cons[tier] = duckdb.connect()
        cons[tier].execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
        )

    # warm pass, then min-over-2 timed passes (VM stall policy)
    for op, tier in OPS.items():
        qmap[op](spark, dirs[tier][0]).count()

    results = {}
    for op, tier in OPS.items():
        d, n = dirs[tier]
        con = cons[tier]
        df = qmap[op](spark, d)
        wall = float("inf")
        rows = 0
        for _ in range(2):
            t0 = time.perf_counter()
            rows = df.count()
            wall = min(wall, time.perf_counter() - t0)
        cols = _checksum_cols(df.dtypes)
        s_sum = spark_checksum(df, cols)
        t0 = time.perf_counter()
        d_sum, d_rows = duck_checksum(con, oracles[op], cols)
        duck_wall = time.perf_counter() - t0
        ok = (rows == d_rows) and (s_sum == d_sum)
        results[op] = {
            "n_docs": n,
            "rows": rows,
            "oracle_rows": d_rows,
            "checksum_match": bool(s_sum == d_sum),
            "wall_s": round(wall, 2),
            "duck_wall_s": round(duck_wall, 2),
            "docs_per_sec": round(n / max(wall, 1e-9)),
        }
        print(
            f"{op:20s} {'MATCH' if ok else 'MISMATCH':8s} n={n} rows={rows}/{d_rows} "
            f"spark={wall:.2f}s duckdb={duck_wall:.2f}s "
            f"({results[op]['docs_per_sec']:,} docs/s)"
        )

    all_ok = all(r["checksum_match"] and r["rows"] == r["oracle_rows"] for r in results.values())
    print(
        json.dumps(
            {
                "metric": "pipeline_scale_run",
                "n_docs": n_docs,
                "cpus": cpus,
                "all_match": all_ok,
                "ops": results,
            }
        )
    )
    spark.stop()
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
