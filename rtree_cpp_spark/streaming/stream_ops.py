"""Structured Streaming twins of the batch operators.

The reference is batch-only (SURVEY.md section 2.10), so these extend it:
a continuously-arriving document stream is rasterized into per-cell
coverage deltas (``run_stream_rasterize_once``), and an event stream is
sessionized by a custom stateful operator (``stream_sessionize``) — the
shapes a 100 TB ingest pipeline actually runs.  Tested with
``availableNow`` triggers (bounded replay) against the batch operators'
output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.tiles import rasterize
from rtree_cpp_spark.sources.extract import rects_only
from rtree_cpp_spark.sources.synth import DOC_SCHEMA


def stream_docs(spark: SparkSession, docs_dir: str) -> DataFrame:
    """readStream over a parquet directory of interleaved docs."""
    return spark.readStream.schema(DOC_SCHEMA).parquet(docs_dir)


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
