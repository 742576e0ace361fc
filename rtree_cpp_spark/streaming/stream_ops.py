"""Structured Streaming twins of the batch operators.

The reference is batch-only (SURVEY.md section 2.10), so these extend it:
a continuously-arriving document stream gets tile assignments, and an
event stream gets watermarked windowed rollups — the shapes a 100 TB
ingest pipeline actually runs.  Tested with ``availableNow`` triggers
(bounded replay) against the batch operators' output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.spatial_join import spatial_join
from rtree_cpp_spark.operators.tiles import primary_cell_col, primary_tiles
from rtree_cpp_spark.sources.extract import rects_only
from rtree_cpp_spark.sources.synth import DOC_SCHEMA


def stream_docs(spark: SparkSession, docs_dir: str) -> DataFrame:
    """readStream over a parquet directory of interleaved docs."""
    return spark.readStream.schema(DOC_SCHEMA).parquet(docs_dir)


def stream_tiles(docs_stream: DataFrame, grid: Grid) -> DataFrame:
    """Streaming primary-tile assignment: stateless projection — runs
    per micro-batch with no state store."""
    return primary_tiles(rects_only(docs_stream), grid)


def run_stream_tiles_once(
    spark: SparkSession, docs_dir: str, out_dir: str, checkpoint_dir: str, grid: Grid
) -> None:
    """Drain everything currently in docs_dir into a parquet tile table
    (availableNow), exactly-once via the checkpoint."""
    q = (
        stream_tiles(stream_docs(spark, docs_dir), grid)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_spatial_join(docs_stream: DataFrame, static_rects: DataFrame, grid: Grid) -> DataFrame:
    """Stream-static spatial join: the batch ``spatial_join`` (plain cell
    equi-join, no hot-cell census) over each micro-batch of arriving
    docs against the static rect table — stateless, so no state store
    grows with the stream; asserted equal to batch by the availableNow
    test."""
    return spatial_join(rects_only(docs_stream), static_rects, grid)


def stream_range_monitor(
    docs_stream: DataFrame, queries_static: DataFrame, grid: Grid
) -> DataFrame:
    """Standing range queries over an arriving doc stream: every
    micro-batch of docs is matched against the static query set (tiny,
    broadcast) — the continuous form of the batch ``range_query``, same
    closed-interval semantics and reference-point dedup, stateless (no
    state store; each doc is reported once, when it arrives)."""
    from rtree_cpp_spark.operators.range_query import range_query

    return range_query(rects_only(docs_stream), queries_static, grid)


CELL_STATS_OUTPUT = (
    "cell long, n_docs long, mbr_min_x float, mbr_min_y float, mbr_max_x float, mbr_max_y float"
)
CELL_STATS_STATE = (
    "n_docs long, mbr_min_x double, mbr_min_y double, mbr_max_x double, mbr_max_y double"
)


def _cell_stats_update(key, pdfs, state):
    """Custom stateful kernel (applyInPandasWithState): per-cell running
    doc count + MBR — the streaming analog of the reference's
    incremental node-MBR maintenance (Node.cpp:20-38)."""
    import pandas as pd

    if state.exists:
        n, mnx, mny, mxx, mxy = state.get
    else:
        n, mnx, mny, mxx, mxy = 0, float("inf"), float("inf"), float("-inf"), float("-inf")
    for pdf in pdfs:
        n += len(pdf)
        mnx = min(mnx, float(pdf["min_x"].min()))
        mny = min(mny, float(pdf["min_y"].min()))
        mxx = max(mxx, float(pdf["max_x"].max()))
        mxy = max(mxy, float(pdf["max_y"].max()))
    state.update((n, mnx, mny, mxx, mxy))
    yield pd.DataFrame(
        [{
            "cell": key[0], "n_docs": n,
            "mbr_min_x": mnx, "mbr_min_y": mny, "mbr_max_x": mxx, "mbr_max_y": mxy,
        }]
    )


def stream_cell_stats(docs_stream: DataFrame, grid: Grid) -> DataFrame:
    """Streaming per-cell stats over the primary-tile assignment via a
    custom stateful operator; emits the updated (cell, n_docs, MBR) row
    for every cell touched by each micro-batch."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    tiled = rects_only(docs_stream).withColumn("cell", primary_cell_col(grid))
    return tiled.groupBy("cell").applyInPandasWithState(
        _cell_stats_update,
        outputStructType=CELL_STATS_OUTPUT,
        stateStructType=CELL_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_rasterize_once(
    spark: SparkSession, docs_dir: str, out_dir: str, checkpoint_dir: str, grid: Grid
) -> None:
    """Streaming vector→raster burn-in: each micro-batch's docs are
    rasterized to per-cell coverage DELTAS (integer fixed-point units,
    operators/tiles.rasterize) and written under a ``batch_id=<id>``
    partition with DYNAMIC partition overwrite; the raster band is the
    SUM of the deltas per cell.  The aggregation runs inside
    ``foreachBatch`` — per-batch it's a plain batch groupBy, so the
    streaming query itself is STATELESS (no state store grows with the
    stream).  Exactly-once: the checkpoint makes batch ids stable across
    restarts, and keying the sink partition on the batch id makes the
    write IDEMPOTENT — a micro-batch replayed after a crash between the
    data write and the checkpoint commit OVERWRITES its own partition
    instead of appending a second copy of its deltas (a blind
    mode('append') here would double-count on replay: integer
    commutativity makes folds order-independent, not appends idempotent
    — ADVICE r4).  At 10^12 docs this is the incremental tile-update
    path: a serving layer folds the delta stream into the band with an
    idempotent merge."""
    from rtree_cpp_spark.operators.tiles import rasterize

    def _batch(bdf: DataFrame, bid: int) -> None:
        (
            rasterize(rects_only(bdf), grid)
            .withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = (
        stream_docs(spark, docs_dir)
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_dedup_events(events_stream: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Streaming exact dedup over an event stream: each ``event_id`` is
    emitted once; re-deliveries arriving within the watermark horizon
    are dropped (``dropDuplicatesWithinWatermark`` — state is bounded by
    the horizon, unlike a plain streaming ``dropDuplicates`` whose key
    state grows forever).  The streaming twin of batch
    ``SELECT DISTINCT``-by-key, and the at-least-once → exactly-once
    repair stage of a 100 TB ingest pipeline."""
    return events_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_stream_dedup_once(
    spark: SparkSession, events_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(events_dir)
    q = (
        stream_dedup_events(events)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SESSION_OUTPUT = (
    "user_id long, session_id long, n_events long, start_ts timestamp, end_ts timestamp"
)
SESSION_STATE = "session_id long, n_events long, start_us long, end_us long"


def _sessionize_update_factory(gap_us: int):
    """Per-user stateful kernel: carries the OPEN session across
    micro-batches; a gap > ``gap_us`` closes it and starts the next.
    Emits the latest snapshot of every session it touched (update-mode
    semantics: downstream keeps the last emission per key)."""

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            sid, n, st, en = state.get
        else:
            sid, n, st, en = 0, 0, 0, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        us = batch["ts"].astype("int64") // 1000  # ns -> us
        rows = []
        for t in us:
            t = int(t)
            if n == 0 or t - en > gap_us:
                if n > 0:
                    rows.append((sid, n, st, en))  # close previous session
                sid, n, st, en = sid + 1, 1, t, t
            else:
                n, en = n + 1, t
        state.update((sid, n, st, en))
        rows.append((sid, n, st, en))  # open session's latest snapshot
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(rows),
                "session_id": [r[0] for r in rows],
                "n_events": [r[1] for r in rows],
                "start_ts": [pd.Timestamp(r[2], unit="us") for r in rows],
                "end_ts": [pd.Timestamp(r[3], unit="us") for r in rows],
            }
        )

    return update


def stream_sessionize(events_stream: DataFrame, gap_s: float | None = None) -> DataFrame:
    """Streaming gap-based sessionization — the custom stateful operator
    (applyInPandasWithState) twin of batch ``events.sessionize``: state
    per user is ONE open session (4 longs, bounded regardless of stream
    length); each micro-batch extends or closes it.

    Correct when per-user event time is non-decreasing across
    micro-batches (time-ordered feeds); a disordered source needs a
    watermark + in-batch sort upstream, same caveat as any
    session-window operator.  Downstream consumes update-mode output by
    keeping the LAST emission per (user_id, session_id)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from rtree_cpp_spark.operators.events import SESSION_GAP_S

    gap_us = int((gap_s if gap_s is not None else SESSION_GAP_S) * 1_000_000)
    return events_stream.select("user_id", "ts", "event_id").groupBy("user_id").applyInPandasWithState(
        _sessionize_update_factory(gap_us),
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_events_hourly(events_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup: late events beyond the
    watermark are dropped; state is bounded by watermark horizon."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value")
    )


def run_stream_events_once(
    spark: SparkSession, events_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(events_dir)
    q = (
        stream_events_hourly(events)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
