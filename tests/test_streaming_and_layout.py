import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.multimodal import attach_media, extract_features
from rtree_cpp_spark.plans.layout import write_layout
from rtree_cpp_spark.sources.extract import rects_only

SF = "/root/testdata/sf0.001"


def test_stream_rasterize_matches_batch(spark, docs_a_df, tmp_path):
    """Delta-fold contract: summing the streamed per-batch coverage
    deltas reproduces the batch raster band exactly (integer fixed-point
    units make the fold order-independent), in one drain AND across two
    separate availableNow drains over split halves of the corpus."""
    from rtree_cpp_spark.operators.tiles import rasterize
    from rtree_cpp_spark.streaming.stream_ops import run_stream_rasterize_once

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "raster_out")
    ckpt = str(tmp_path / "ckpt")
    grid = Grid(6)
    pdf = docs_a_df.toPandas()
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half], schema=docs_a_df.schema).write.parquet(docs_dir)
    run_stream_rasterize_once(spark, docs_dir, out, ckpt, grid)
    spark.createDataFrame(pdf.iloc[half:], schema=docs_a_df.schema).write.mode(
        "append"
    ).parquet(docs_dir)
    run_stream_rasterize_once(spark, docs_dir, out, ckpt, grid)
    got = (
        spark.read.parquet(out)
        .groupBy("cell")
        .agg(F.sum("coverage_units").alias("coverage_units"))
        .toPandas()
        .sort_values("cell")
        .reset_index(drop=True)
    )
    exp = (
        rasterize(rects_only(docs_a_df), grid)
        .toPandas()
        .sort_values("cell")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    # exactly-once: a third drain with nothing new adds no delta rows
    n_rows = spark.read.parquet(out).count()
    run_stream_rasterize_once(spark, docs_dir, out, ckpt, grid)
    assert spark.read.parquet(out).count() == n_rows
    # crash-replay window: re-writing a batch's deltas through the same
    # sink recipe (same batch_id, dynamic partition overwrite) REPLACES
    # the partition instead of appending — the fold cannot double-count
    # (ADVICE r4: blind append here was only at-least-once)
    replay = (
        rasterize(
            rects_only(spark.createDataFrame(pdf.iloc[:half], schema=docs_a_df.schema)),
            grid,
        )
        .withColumn("batch_id", F.lit(0))
    )
    (
        replay.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out)
    )
    got2 = (
        spark.read.parquet(out)
        .groupBy("cell")
        .agg(F.sum("coverage_units").alias("coverage_units"))
        .toPandas()
        .sort_values("cell")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, exp)


def test_write_layout_roundtrip(spark, rects_a_pdf, tmp_path):
    rects = spark.createDataFrame(rects_a_pdf)
    path = str(tmp_path / "layout")
    write_layout(rects, path, Grid(6), num_partitions=4)
    back = spark.read.parquet(path)
    assert back.count() == len(rects_a_pdf)
    assert {"cell", "coarse_cell", "doc_id"} <= set(back.columns)
    # coarse_cell is the level-3 parent of cell
    bad = back.where(
        (F.shiftrightunsigned(F.shiftrightunsigned(F.col("cell"), 6), 3) * 8
         + F.shiftrightunsigned(F.col("cell").bitwiseAND(F.lit(63)), 3)) != F.col("coarse_cell")
    ).count()
    assert bad == 0


def test_multimodal_feature_kernel(spark, docs_a_pdf):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(5), "text": ["abc", "", "xyzw", "hello world", "q"]})
    )
    feats = extract_features(attach_media(docs)).toPandas().sort_values("doc_id")
    # checksum = sum of utf-8 bytes mod 2^31, n_bytes = byte length
    for _, r in feats.iterrows():
        raw = ["abc", "", "xyzw", "hello world", "q"][int(r["doc_id"])].encode()
        assert r["n_bytes"] == len(raw)
        assert r["checksum"] == sum(raw) % (1 << 31)
        assert len(r["feature"]) == 8
        if len(raw):
            exp0 = np.array_split(np.frombuffer(raw, dtype=np.uint8).astype(np.float32), 8)[0].mean()
            assert abs(r["feature"][0] - exp0) < 1e-6


def test_multimodal_resize_and_frames(spark):
    texts = ["abcdefghij" * 20, "x", "", "yz" * 100]
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": range(4), "text": texts}))
    from rtree_cpp_spark.operators.multimodal import attach_media, resize_media, sample_frames

    m = attach_media(docs)
    rz = {r["doc_id"]: r for r in resize_media(m, factor=4).collect()}
    for i, t in enumerate(texts):
        raw = t.encode()
        assert bytes(rz[i]["resized"]) == raw[::4]
        assert rz[i]["resized_bytes"] == len(raw[::4])
    fr = sample_frames(m, frame_size=16, every=2).collect()
    by_doc = {}
    for r in fr:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        raw = t.encode()
        n_frames = (len(raw) + 15) // 16
        kept = [k for k in range(0, n_frames, 2)]
        rows = sorted(by_doc.get(i, []), key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in rows] == kept
        for r in rows:
            expect = raw[r["frame_idx"] * 16 : (r["frame_idx"] + 1) * 16]
            assert bytes(r["frame"]) == expect
            assert r["frame_bytes"] == len(expect)


def test_bucketed_spatial_join_exchange_free_and_identical(spark, rects_a_pdf, rects_b_pdf):
    """The FULL spatial join over cover-bucketed tables: no Exchange on
    either side and row-for-row identical output to the in-memory
    spatial_join (same refine + reference-point dedup)."""
    from rtree_cpp_spark.operators.spatial_join import spatial_join, spatial_join_bucketed
    from rtree_cpp_spark.plans.layout import write_bucketed_cover

    grid = Grid(5)
    a = spark.createDataFrame(rects_a_pdf)
    b = spark.createDataFrame(rects_b_pdf)
    write_bucketed_cover(a, "bktc_a", grid, n_buckets=8, prefix="a_")
    write_bucketed_cover(b, "bktc_b", grid, n_buckets=8, prefix="b_")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spatial_join_bucketed(spark, "bktc_a", "bktc_b", grid)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert "Bucketed: true" in plan, plan[:2000]
        got = sorted(map(tuple, joined.collect()))
        exp = sorted(map(tuple, spatial_join(a, b, grid).collect()))
        assert got == exp and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bktc_a")
        spark.sql("DROP TABLE IF EXISTS bktc_b")


def test_bucketed_write_recovers_orphaned_warehouse_dir(spark, rects_a_pdf):
    """A killed session can leave the managed-table DIRECTORY on disk
    while the fresh in-memory catalog has no such table; saveAsTable
    then fails with LOCATION_ALREADY_EXISTS.  write_bucketed_cover must
    clear the orphan and succeed with the correct contents."""
    import os

    from rtree_cpp_spark.plans.layout import write_bucketed_cover

    grid = Grid(5)
    a = spark.createDataFrame(rects_a_pdf)
    name = "bktc_orphan_probe"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    orphan = f"{warehouse}/{name}"
    try:
        # fabricate the crash leftover: dir on disk, no catalog entry
        os.makedirs(orphan, exist_ok=True)
        with open(f"{orphan}/stale-part.parquet", "w") as f:
            f.write("not parquet")
        assert not spark.catalog.tableExists(name)
        write_bucketed_cover(a, name, grid, n_buckets=4, prefix="a_")
        n = spark.table(name).count()
        assert n > 0
        # the stale file must be gone — only the fresh write remains
        assert not os.path.exists(f"{orphan}/stale-part.parquet")
        # idempotent: a second write over the LIVE table also succeeds,
        # and a freshly-resolved reader sees the new files (the write
        # refreshes the cached listing)
        write_bucketed_cover(a, name, grid, n_buckets=4, prefix="a_")
        assert spark.table(name).count() == n
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_real_media_decode_roundtrip(spark):
    import pytest
    """attach_real_media emits genuine WAV/BMP/VID0 bytes; decode_features
    recovers header fields and content sums exactly."""
    import numpy as np

    from rtree_cpp_spark.operators.multimodal import (
        attach_real_media,
        decode_features,
        decode_media,
        _bmp_bytes,
        _wav_bytes,
    )

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(30))}))
    got = decode_features(attach_real_media(docs)).toPandas().set_index("doc_id")
    for d in range(30):
        r = got.loc[d]
        if d % 3 == 1:  # audio
            assert r["kind"] == "audio" and r["meta_a"] == 8000 + (d % 8) * 1000
            n = 64 + d % 128
            i = np.arange(n, dtype=np.int64)
            assert r["meta_b"] == n
            assert r["content_sum"] == ((d * 31 + i * 7) % 4096 - 2048).sum()
        elif d % 3 == 0:  # image: includes widths with and without row padding
            w, h = 4 + d % 13, 3 + d % 9
            assert (r["meta_a"], r["meta_b"]) == (w, h)
    # BMP row padding is actually exercised: some widths need pad, some don't
    pads = {(-(4 + d % 13) * 3) % 4 for d in range(0, 30, 3)}
    assert 0 in pads and len(pads) > 1
    # malformed payloads fail loudly
    with pytest.raises(ValueError):
        decode_media("image", b"not a container at all")
    with pytest.raises(ValueError):
        decode_media("audio", _wav_bytes(1)[:20])  # truncated: no data chunk
    # decoder is format-sniffing, not kind-trusting: bytes win
    out = decode_media("audio", _bmp_bytes(3))
    assert out["meta_a"] == 4 + 3 % 13


def test_stream_sessionize_matches_batch_across_batches(spark, tmp_path):
    """Sessions split across micro-batches merge correctly: two
    time-ordered files, maxFilesPerTrigger=1, last update-mode emission
    per (user, session) == batch sessionize of the full event set."""
    import os
    import time as _time

    from pyspark.sql import functions as FF

    from rtree_cpp_spark.operators.events import sessionize
    from rtree_cpp_spark.streaming.stream_ops import stream_sessionize

    events = (
        spark.read.parquet(f"{SF}/events.parquet")
        .orderBy("ts", "event_id")
        .limit(3000)
        .cache()
    )
    pdf = events.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    half = len(pdf) // 2
    # split strictly by time so per-user order holds across batches
    while half < len(pdf) and pdf["ts"].iloc[half] == pdf["ts"].iloc[half - 1]:
        half += 1
    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_sessionize(stream)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: df.withColumn("batch_id", FF.lit(bid))
            .write.mode("append")
            .parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.read.parquet(out).toPandas()
    assert emitted["batch_id"].nunique() == 2  # sessions really crossed batches
    last = (
        emitted.sort_values("batch_id")
        .groupby(["user_id", "session_id"])
        .last()
        .reset_index()
    )
    exp = sessionize(events).toPandas()
    cols = ["user_id", "session_id", "n_events", "start_ts", "end_ts"]
    g = last[cols].sort_values(["user_id", "session_id"]).reset_index(drop=True)
    e = exp[cols].sort_values(["user_id", "session_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, e, check_dtype=False)
