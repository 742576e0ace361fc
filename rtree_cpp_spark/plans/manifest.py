"""Per-partition lineage + metrics manifest with resume (north_rule;
SURVEY.md section 7.6).

One manifest row per (run_id, stage, partition_key): status, rows,
wall_ms, attempt, finished_at.  A resumable stage:

  1. lists its partition keys,
  2. anti-joins keys already 'done' in the manifest,
  3. writes each pending key's output via dynamic partition overwrite
     (idempotent under retry — a re-run of a half-written key simply
     overwrites it),
  4. appends 'done' manifest rows with row counts.

Storage is parquet (append-only) per the storage contract in
docs/STORAGE.md (which also gives the 1:1 Iceberg mapping).
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

@contextmanager
def dynamic_overwrite(spark: SparkSession):
    """Scope partitionOverwriteMode=dynamic to a write: the session
    default is restored on exit, so a later plain partitioned overwrite
    keeps its full-replace (static) semantics."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


MANIFEST_SCHEMA = (
    "run_id string, stage string, partition_key long, status string, "
    "output_rows long, wall_ms long, attempt int, finished_at double"
)


def _exists(spark: SparkSession, path: str) -> bool:
    """Hadoop FileSystem existence check: a driver-side metadata call,
    no Spark job."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(p)


def _manifest_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Manifest rows as a DataFrame built from a ``pyarrow.Table``: the
    rows cross to the JVM as one Arrow stream, so no Python worker
    starts (a list or pandas input would re-serialize through a Python
    RDD)."""
    struct = StructType.fromDDL(MANIFEST_SCHEMA)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The manifest, or an empty frame with its schema when the path does
    not exist.  A manifest that exists but cannot be read raises (at the
    first action): treating it as empty would silently rewrite every key."""
    if not _exists(spark, manifest_path):
        return _manifest_df(spark, [])
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)


def done_keys(spark: SparkSession, manifest_path: str, run_id: str, stage: str) -> list[int]:
    if not _exists(spark, manifest_path):
        return []
    rows = (
        read_manifest(spark, manifest_path)
        .where((F.col("run_id") == run_id) & (F.col("stage") == stage) & (F.col("status") == "done"))
        .select("partition_key")
        .distinct()
        .collect()
    )
    return [r["partition_key"] for r in rows]


def append_manifest(spark: SparkSession, manifest_path: str, rows: list[tuple]) -> None:
    """Append ``rows`` as one parquet file."""
    _manifest_df(spark, rows).coalesce(1).write.mode("append").parquet(manifest_path)


def resumable_write(
    df: DataFrame,
    out_path: str,
    key_col: str,
    manifest_path: str,
    run_id: str,
    stage: str,
    keys_per_batch: int = 64,
    fail_after_batches: int | None = None,
) -> dict:
    """Write ``df`` partitioned by ``key_col``, resumably.

    Keys are processed in deterministic sorted batches; each batch is an
    idempotent dynamic-partition overwrite followed by a manifest append.
    On a re-run with the same (run_id, stage), completed keys are skipped
    (anti-join against the manifest).  ``fail_after_batches`` injects a
    crash for the resume test.

    Returns {written_keys, skipped_keys, output_rows}.

    The upstream plan executes exactly ONCE: ``df`` is persisted and
    materialized by a single per-key count aggregation (which also yields
    the key list and all manifest row counts), so every batch write is a
    scan of the cache, not a re-execution of the upstream job (at scale
    the upstream is the salted spatial join — re-running it per batch
    would multiply the dominant stage by the batch count).  The key list
    is driver-resident by design: keys are coarse lineage cells, bounded
    by the coarse grid (≤ 4^coarse_level ≤ 4096), never data rows.

    The counts also set the file layout.  With N rows in total and P =
    ``defaultParallelism`` tasks, key k is split over ⌈n_k / ⌈N/P⌉⌉
    tasks by a hash of the whole row, so a key that fits in one task is
    one file and a hot key is spread evenly instead of being one
    straggler task: at most keys + P files per call, at any upstream
    partition count.  The manifest is probed with a filesystem
    existence check (an absent manifest costs no Spark job; one that
    exists but cannot be read raises) and each batch appends one file.
    """
    spark = df.sparkSession
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts = {r[0]: r[1] for r in df.groupBy(key_col).count().collect()}
        all_keys = sorted(counts)
        done = set(done_keys(spark, manifest_path, run_id, stage))
        pending = [k for k in all_keys if k not in done]
        written, out_rows = [], 0
        n_tasks = spark.sparkContext.defaultParallelism
        rows_per_task = max(1, -(-sum(counts.values()) // n_tasks))
        n_splits = {k: -(-n // rows_per_task) for k, n in counts.items()}
        key_type = df.schema[key_col].dataType
        row_hash = F.xxhash64(*[F.col(c) for c in df.columns])
        batches = [pending[i : i + keys_per_batch] for i in range(0, len(pending), keys_per_batch)]
        for bi, batch in enumerate(batches):
            if fail_after_batches is not None and bi >= fail_after_batches:
                raise RuntimeError(f"injected failure before batch {bi} (resume test)")
            t0 = time.perf_counter()
            splits = F.create_map(
                *[c for k in batch for c in (F.lit(k).cast(key_type), F.lit(n_splits[k]))]
            )
            with dynamic_overwrite(spark):
                df.where(F.col(key_col).isin(batch)).repartition(
                    n_tasks, F.col(key_col), F.pmod(row_hash, splits[F.col(key_col)])
                ).write.mode("overwrite").partitionBy(key_col).parquet(out_path)
            wall = int((time.perf_counter() - t0) * 1000)
            now = time.time()
            append_manifest(
                spark,
                manifest_path,
                [
                    (run_id, stage, int(k), "done", int(counts.get(k, 0)), wall, 1, now)
                    for k in batch
                ],
            )
            written.extend(batch)
            out_rows += sum(counts.get(k, 0) for k in batch)
        return {"written_keys": written, "skipped_keys": sorted(done), "output_rows": out_rows}
    finally:
        df.unpersist(blocking=False)


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
