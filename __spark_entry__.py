"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 (plus the training-data pipeline ops)
has a ``queries()`` entry running the ENGINE (rtree_cpp_spark) and an
``oracle_sql()`` entry: brute-force/naive ANSI SQL DuckDB runs on the
same parquet tables.  Spatial inputs are derived from the testdata
tables by dialect-neutral SQL shared verbatim between both engines
(rtree_cpp_spark/sources/rects.py), so inputs can never drift.

Column names and types are aligned pairwise (the driver hashes values
under sorted column names).  Floating-point outputs are constructed to
be bit-identical across engines: lattice arithmetic for geometry,
array-order left-folds for dot products, single IEEE divisions for
ratios, DECIMAL sums for event values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators import (
    dedup,
    events,
    multimodal,
    packing,
    sampling,
    similarity,
    text_analysis,
)
from rtree_cpp_spark.operators.knn import idw_interpolate, knn, knn_join
from rtree_cpp_spark.operators.pip_join import (
    octagons_from_rects,
    pip_join,
    polygon_join,
    polygon_pip_join,
)
from rtree_cpp_spark.operators.range_query import (
    anti_range_query,
    contains_query,
    range_count,
    range_query,
)
from rtree_cpp_spark.operators.spatial_join import (
    distance_join,
    spatial_join,
    spatial_join_salted,
)
from rtree_cpp_spark.operators.tiles import (
    cover_tiles,
    hot_cells,
    primary_tiles,
    rasterize,
    rasterize_pyramid,
    tile_pyramid,
    tile_topk,
    tile_stats,
    zonal_stats,
)
from rtree_cpp_spark.plans.layout import occupancy_stats
from rtree_cpp_spark.sources import rects
from rtree_cpp_spark.sources.rects import (
    QUERIES_KNN_SQL,
    QUERIES_RANGE_SQL,
    RECTS_A_SQL,
    RECTS_A_SUBSET_SQL,
    RECTS_B_SQL,
)

GRID = Grid(6)  # 64x64 cells of 16.0 over [0,1024)^2 (gate resolution)
SHINGLE_N = 3  # text_shingle_dup's word n-gram length, entry and oracle

# Process-lifetime scratch root for gate queries that need disk state
# (layout copies, stream output, checkpoints).  One mkdtemp per process,
# removed at exit — repeated gate/bench invocations (warm + N timed
# passes) reuse or nest under it instead of leaking a fresh /tmp dir
# per call.
_SCRATCH_ROOT: list[str] = []
_SCRATCH_SEQ: list[int] = [0]


def _scratch_dir(key: str, per_call: bool = False) -> str:
    import atexit
    import shutil
    import tempfile

    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="gate_scratch_")
        _SCRATCH_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    base = _SCRATCH_ROOT[0]
    if per_call:
        # stateful sinks (stream checkpoints) need a FRESH dir each run;
        # still under the root, so exit cleanup catches every one
        _SCRATCH_SEQ[0] += 1
        return f"{base}/{key}_{_SCRATCH_SEQ[0]}"
    return f"{base}/{key}"

_INTERSECTS = (
    "({a}.max_x >= {b}.min_x AND {a}.min_x <= {b}.max_x "
    "AND {a}.max_y >= {b}.min_y AND {a}.min_y <= {b}.max_y)"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


# Deterministic synthetic raster band at the gate resolution: one value
# per cell, derived from the cell id (integer arithmetic — the DuckDB
# oracle recomputes it inline, no table needed).
_RASTER_K = 2654435761


def _raster(spark: SparkSession) -> DataFrame:
    n = GRID.n
    return spark.range(n * n).select(
        F.col("id").alias("cell"),
        ((F.col("id") * _RASTER_K) % 1000).alias("value"),
    )


# ---------------------------------------------------------------------------
# entry: flagship query (driver smoke check at sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial join A x B + per-pair tile of the intersection
    reference point — the join+tiling pipeline the metric targets."""
    sf_dir = "/root/testdata/sf0.001"
    a = rects.rects_a(spark, sf_dir)
    b = rects.rects_b(spark, sf_dir)
    return spatial_join_salted(a, b, GRID, hot_threshold=50_000, n_salt=8)


# ---------------------------------------------------------------------------
# queries
#
# The driver records the FIRST 50 ``queries()`` dict entries.  r02 lost 4
# green rows to silent truncation, so the gate surface is managed
# explicitly: ``bench_queries()`` is the FINE-GRAINED operator map (stable
# names, used by bench.py and scripts), and ``queries()`` derives the gate
# dict from it — near-duplicate variants merged under one key with a tag
# column (both variants still value-gated), ordered least-proven-first,
# and asserted <= 50 so nothing can fall off the end again.
# ---------------------------------------------------------------------------


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- spatial core (reference R1/R2, J1, K1, tiles) ---
        "spatial_range": lambda s, d: range_query(rects.rects_a(s, d), rects.queries_range(s, d), GRID),
        "spatial_range_count": lambda s, d: range_count(rects.rects_a(s, d), rects.queries_range(s, d), GRID),
        "spatial_join": lambda s, d: spatial_join(rects.rects_a(s, d), rects.rects_b(s, d), GRID),
        "spatial_join_salted": lambda s, d: spatial_join_salted(
            rects.rects_a(s, d), rects.rects_b(s, d), GRID,
            hot_threshold=2000, n_salt=8, sample_fraction=0.25,
        ),
        "spatial_knn": lambda s, d: knn(rects.rects_a(s, d), rects.queries_knn(s, d), GRID),
        "spatial_knn_kernel": lambda s, d: knn(
            rects.rects_a(s, d), rects.queries_knn(s, d), GRID, ranker="kernel"
        ),
        "spatial_knn_join": lambda s, d: knn_join(
            rects.rects_a_subset(s, d), rects.rects_b(s, d), GRID, k=5
        ),
        "spatial_contains": lambda s, d: contains_query(
            rects.rects_a(s, d), rects.queries_range(s, d), GRID
        ),
        "spatial_antijoin": lambda s, d: anti_range_query(
            rects.rects_a(s, d), rects.queries_range(s, d)
        ),
        "spatial_idw": lambda s, d: idw_interpolate(
            rects.rects_a(s, d), rects.queries_knn(s, d), rects.rect_values(s, d), GRID, k=8
        ),
        "spatial_pip": lambda s, d: pip_join(_knn_points(s, d), rects.rects_a(s, d), GRID, "closed"),
        "spatial_pip_strict": lambda s, d: pip_join(_knn_points(s, d), rects.rects_a(s, d), GRID, "open"),
        # validate=False: octagons_from_rects rings are plan-computed
        # with statically valid arity; the Arrow kernels still assert
        # ring arity from the list offsets (operators/pip_join.py).
        # Both polygon predicates refine in their one Arrow kernel
        # (_pip_kernel / _sat_kernel), value-gated through the
        # spatial_pip and spatial_join rows
        "spatial_pip_polygon": lambda s, d: polygon_pip_join(
            _knn_points(s, d), octagons_from_rects(rects.rects_a(s, d)), GRID,
            validate=False,
        ),
        "spatial_join_octagon": lambda s, d: polygon_join(
            octagons_from_rects(rects.rects_a(s, d)),
            octagons_from_rects(rects.rects_b(s, d)),
            GRID,
            validate=False,
        ),
        # polygon join through the skew path — hot coarse cells
        # subdivide and salt, and the SAT refine sees the SHRUNKEN
        # candidate set (the defense that pays when each candidate
        # costs a polygon test; scripts/polygon_skew_run.py)
        "spatial_join_octagon_adaptive": lambda s, d: polygon_join(
            octagons_from_rects(rects.rects_a(s, d)),
            octagons_from_rects(rects.rects_b(s, d)),
            GRID,
            validate=False,
            hot_threshold=2000,
            sample_fraction=0.25,
        ),
        "layout_occupancy": lambda s, d: occupancy_stats(rects.rects_a(s, d)),
        "interleaved_extract": _interleaved_extract,
        "interleaved_join_spans": _interleaved_join_spans,
        "tiles_primary": lambda s, d: primary_tiles(rects.rects_a(s, d), GRID),
        "tiles_cover": lambda s, d: cover_tiles(rects.rects_a(s, d), GRID),
        "tile_stats": lambda s, d: tile_stats(rects.rects_a(s, d), GRID),
        "tiles_rasterize": lambda s, d: rasterize(rects.rects_a(s, d), GRID),
        "tiles_rasterize_pyramid": lambda s, d: rasterize_pyramid(rects.rects_a(s, d), GRID),
        "tiles_topk": lambda s, d: tile_topk(
            rects.rects_a(s, d), rects.rect_values(s, d), GRID, k=3
        ),
        "tiles_zonal_stats": lambda s, d: zonal_stats(rects.rects_a(s, d), _raster(s), GRID),
        "tiles_pyramid": lambda s, d: tile_pyramid(rects.rects_a(s, d), GRID),
        "tiles_hot_cells": lambda s, d: hot_cells(rects.rects_a(s, d), GRID, k=20),
        "spatial_distance_join": lambda s, d: distance_join(
            rects.rects_a_subset(s, d), rects.rects_b(s, d), GRID, max_dist=8.0
        ),
        # --- dedup family ---
        "dedup_exact": lambda s, d: dedup.exact_dedup(_docs(s, d)),
        "dedup_minhash_lsh": lambda s, d: dedup.lsh_candidate_pairs(_docs(s, d)),
        "dedup_simhash": lambda s, d: dedup.simhash(_docs(s, d)),
        "dedup_jaccard": lambda s, d: dedup.jaccard_pairs(_docs(s, d), threshold=0.5),
        "dedup_components": lambda s, d: dedup.duplicate_components(_docs(s, d)),
        "dedup_simhash_pairs": lambda s, d: dedup.simhash_pairs(_docs(s, d)),
        "text_shingle_dup": lambda s, d: dedup.shingle_dup_stats(_docs(s, d), n=SHINGLE_N),
        "pipeline_curation": lambda s, d: _curate(s, d),
        # --- similarity search ---
        "ann_cosine_topk": lambda s, d: similarity.cosine_topk(_embeddings(s, d), n_queries=20, k=5),
        "ann_lsh_buckets": lambda s, d: similarity.lsh_buckets(_embeddings(s, d), n_planes=8),
        "ann_lsh_topk": lambda s, d: similarity.lsh_topk(_embeddings(s, d), n_queries=20, k=5, n_planes=4),
        "ann_lsh8_topk": lambda s, d: similarity.lsh_topk(_embeddings(s, d), n_queries=20, k=5, n_planes=8),
        "ann_ivf_assign": lambda s, d: similarity.ivf_assign(_embeddings(s, d), n_centroids=16),
        # gate shape: exploded to (cent_id, pos, value) rows — the r02
        # driver canonicalizer cannot lexsort an array column (pandas
        # "unhashable type: list"); the array-valued API is still proven
        # end-to-end by ann_ivf_trained_topk, which consumes it
        "ann_ivf_train": lambda s, d: similarity.ivf_train(
            _embeddings(s, d), n_centroids=16, n_iters=2
        ).select("cent_id", F.posexplode("centroid").alias("pos", "value")),
        "ann_ivf_topk": lambda s, d: similarity.ivf_topk(
            _embeddings(s, d), n_queries=20, k=5, n_centroids=16, n_probe=4
        ),
        "ann_ivf_trained_topk": lambda s, d: similarity.ivf_topk(
            _embeddings(s, d), n_queries=20, k=5, n_centroids=16, n_probe=4,
            centroids=similarity.ivf_train(_embeddings(s, d), n_centroids=16, n_iters=2)
            .select("cent_id", F.col("centroid").alias("c_emb")),
        ),
        "dedup_embedding": lambda s, d: similarity.embedding_neardup(_embeddings(s, d), threshold=0.4),
        # --- text analysis ---
        "text_token_stats": lambda s, d: text_analysis.token_stats(_docs(s, d)),
        "text_lang_id": lambda s, d: text_analysis.lang_id(_docs(s, d)),
        "text_quality": lambda s, d: text_analysis.quality_score(_docs(s, d)),
        "text_fingerprint": lambda s, d: text_analysis.fingerprint(_docs(s, d)),
        "text_bpe_tokens": lambda s, d: text_analysis.bpe_token_stats(_docs(s, d)),
        "text_rolling_hash": lambda s, d: text_analysis.rolling_hash(_docs(s, d)),
        "text_repetition": lambda s, d: text_analysis.repetition_stats(_docs(s, d)),
        "text_decontaminate": lambda s, d: text_analysis.decontaminate(_docs(s, d)),
        "text_pii_scan": lambda s, d: text_analysis.pii_scan(
            text_analysis.with_synthetic_pii(_docs(s, d))
        ),
        "sample_mixing": lambda s, d: sampling.stratified_sample(_docs(s, d)),
        "text_vocab": lambda s, d: text_analysis.vocab_stats(_docs(s, d)),
        "text_tfidf": lambda s, d: text_analysis.tfidf_topk(_docs(s, d)),
        "emb_quantize": lambda s, d: similarity.quantize_embeddings(_embeddings(s, d)),
        "text_chunks": lambda s, d: packing.chunk_documents(_docs(s, d)),
        "pack_sequences": lambda s, d: packing.pack_sequences(_docs(s, d)),
        # --- multimodal plumbing ---
        "multimodal_meta": lambda s, d: multimodal.media_meta(_docs(s, d)),
        "multimodal_features": lambda s, d: multimodal.extract_features(
            multimodal.attach_media(_docs(s, d))
        ).select("doc_id", "kind", "n_bytes", "checksum"),
        "multimodal_decode": lambda s, d: multimodal.decode_features(
            multimodal.attach_real_media(_docs(s, d))
        ),
        "multimodal_resize": lambda s, d: multimodal.resize_media(
            multimodal.attach_media(_docs(s, d)), factor=4
        ).select("doc_id", "kind", "n_bytes", "resized_bytes"),
        "multimodal_frame_meta": lambda s, d: multimodal.sample_frames(
            multimodal.attach_media(_docs(s, d)), frame_size=64, every=4
        ).select("doc_id", "kind", "frame_idx", "frame_bytes"),
        # --- event analytics (streaming twins in rtree_cpp_spark/streaming) ---
        "events_hourly": lambda s, d: events.hourly_rollup(_events(s, d)),
        "events_asof": lambda s, d: events.asof_join(_events(s, d)),
        "events_sessionize": lambda s, d: events.sessionize(_events(s, d)),
        "events_funnel": lambda s, d: events.funnel(_events(s, d)),
        "events_transitions": lambda s, d: events.transitions(_events(s, d)),
        # --- general agg health check (TPC-H Q1 shape) ---
        "agg_pricing_summary": lambda s, d: _pricing_summary(_lineitem(s, d)),
        "agg_top_orders": _top_orders,
        # --- storage + streaming paths under the gate ---
        "layout_range_query": _layout_range_query,
        "stream_sessionize": _stream_sessionize,
        "tiles_rasterize_stream": _tiles_rasterize_stream,
        "spatial_join_bucketed": _spatial_join_bucketed,
    }


def _merged(
    fine: dict, name_a: str, name_b: str, tagcol: str, tag_a: str, tag_b: str
) -> Callable[[SparkSession, str], DataFrame]:
    """One gate entry value-gating TWO fine-grained variants: each tagged
    with a literal column and unioned, so a defect in either variant
    still reddens the row."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = fine[name_a](spark, sf_dir).select(F.lit(tag_a).alias(tagcol), "*")
        b = fine[name_b](spark, sf_dir).select(F.lit(tag_b).alias(tagcol), "*")
        return a.unionByName(b)

    return run


def _joined(fine: dict, names: list[str], key: str = "doc_id") -> Callable[[SparkSession, str], DataFrame]:
    """One gate entry value-gating SEVERAL same-keyed fine-grained
    queries: inner-joined on ``key`` (all are per-doc maps over the
    same doc set, so the join is row-count-preserving), every non-key
    output column of every member lands in the gate row."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for n in names:
            df = fine[n](spark, sf_dir)
            out = df if out is None else out.join(df, key)
        return out

    return run


def _tagged_union(
    fine: dict, members: list[tuple[str, str]], tagcol: str = "variant"
) -> Callable[[SparkSession, str], DataFrame]:
    """N-way ``_merged``: every member variant tagged with a literal and
    unioned into one gate row (schemas must already agree)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for name, tag in members:
            df = fine[name](spark, sf_dir).select(F.lit(tag).alias(tagcol), "*")
            out = df if out is None else out.unionByName(df)
        return out

    return run


def _pyramid_gate(fine: dict) -> Callable[[SparkSession, str], DataFrame]:
    """One gate row value-gating BOTH pyramids (doc counts + raster
    coverage): same (level, cell) keys, band value renamed to
    ``metric_value`` and tagged."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = fine["tiles_pyramid"](spark, sf_dir).select(
            F.lit("docs").alias("band"), "level", "cell",
            F.col("n_docs").alias("metric_value"),
        )
        b = fine["tiles_rasterize_pyramid"](spark, sf_dir).select(
            F.lit("coverage").alias("band"), "level", "cell",
            F.col("coverage_units").alias("metric_value"),
        )
        return a.unionByName(b)

    return run


def _multimodal_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One gate row for the three same-keyed multimodal per-doc maps:
    (kind, n_bytes) from media_meta, checksum from extract_features,
    resized_bytes from resize_media — each operator's distinctive
    output column is still value-gated; the shared (kind, n_bytes)
    columns come from meta alone to keep the join unambiguous."""
    f = bench_queries()
    meta = f["multimodal_meta"](spark, sf_dir)
    feats = f["multimodal_features"](spark, sf_dir).select("doc_id", "checksum")
    resized = f["multimodal_resize"](spark, sf_dir).select("doc_id", "resized_bytes")
    return meta.join(feats, "doc_id").join(resized, "doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    f = bench_queries()
    gate: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- least-proven first (red/new/merged in r03) ---
        "text_repetition": f["text_repetition"],
        "text_decontaminate": f["text_decontaminate"],
        "text_pii_scan": f["text_pii_scan"],
        "sample_mixing": f["sample_mixing"],
        # per-doc text maps share the doc_id key: joined into two gate
        # rows (every member column still value-gated) to keep the
        # surface <= 50 with room for the new operators above
        "text_stats": _joined(
            f,
            ["text_token_stats", "text_lang_id", "text_quality", "text_bpe_tokens",
             "text_shingle_dup"],
        ),
        "text_hashes": _joined(f, ["text_fingerprint", "text_rolling_hash"]),
        "text_chunks": f["text_chunks"],
        "pack_sequences": f["pack_sequences"],
        "text_vocab": f["text_vocab"],
        "text_tfidf": f["text_tfidf"],
        "emb_quantize": f["emb_quantize"],
        "spatial_antijoin": f["spatial_antijoin"],
        "events_transitions": f["events_transitions"],
        # meta/features/resize are same-keyed per-doc maps: one joined
        # gate row (kind+n_bytes from meta, checksum and resized_bytes
        # projected from the other two — each operator's distinctive
        # output is still value-gated)
        "multimodal_doc_stats": _multimodal_doc_stats,
        "ann_ivf_train": f["ann_ivf_train"],
        "tiles_zonal_stats": f["tiles_zonal_stats"],
        "stream_sessionize": f["stream_sessionize"],
        "layout_range_query": f["layout_range_query"],
        "events_sessionize": f["events_sessionize"],
        "events_funnel": f["events_funnel"],
        "agg_pricing_summary": f["agg_pricing_summary"],
        "agg_top_orders": f["agg_top_orders"],
        "spatial_knn": _merged(f, "spatial_knn", "spatial_knn_kernel", "variant", "window", "kernel"),
        "spatial_knn_join": f["spatial_knn_join"],
        # every join strategy value-gated through one row: plain (AQE-only
        # skew defense), salted (the census skew path: hot cells subdivide
        # and salt), bucketed (zero-exchange SMJ over cover-bucketed
        # tables), and the octagon join on the plain and skew paths
        "spatial_join": _tagged_union(
            f,
            [
                ("spatial_join", "plain"),
                ("spatial_join_salted", "salted"),
                ("spatial_join_bucketed", "bucketed"),
                ("spatial_join_octagon", "octagon"),
                ("spatial_join_octagon_adaptive", "octagon_adaptive"),
            ],
        ),
        "spatial_pip": _tagged_union(
            f,
            [("spatial_pip", "closed"), ("spatial_pip_strict", "open"),
             ("spatial_pip_polygon", "polygon")],
            tagcol="mode",
        ),
        "tiles_assign": _tagged_union(
            f,
            [("tiles_primary", "primary"), ("tiles_cover", "cover"),
             ("tiles_topk", "top3")],
        ),
        # --- long-stable rows ---
        # (ann_lsh_topk folded into "ann_topk" below; it still absorbs
        # ann_lsh_buckets — the 4-plane bucket table is computed inside
        # the lsh tag and the 8-plane one inside the lsh8 tag, so both
        # plane widths are value-gated)
        # range + containment share the (query_id, doc_id) shape: one
        # tagged union row value-gates both predicates
        "spatial_range": _merged(
            f, "spatial_range", "spatial_contains", "predicate", "intersects", "contains"
        ),
        "spatial_range_count": f["spatial_range_count"],
        "spatial_idw": f["spatial_idw"],
        "layout_occupancy": f["layout_occupancy"],
        "interleaved_extract": f["interleaved_extract"],
        "interleaved_join_spans": f["interleaved_join_spans"],
        # tile_stats ⋈ rasterize ⋈ STREAMING rasterize on cell: all three
        # are per-cover-cell maps of the same rect set, so the key sets
        # are identical and the join is row-count-preserving; the batch
        # burn-in column AND the streamed delta-fold column are
        # value-gated alongside the MBR stats in one row (the stream fold
        # must reproduce the batch band bit-exactly).
        "tile_stats": _joined(
            f, ["tile_stats", "tiles_rasterize", "tiles_rasterize_stream"], key="cell"
        ),
        # both pyramids share (level, cell) keys and a BIGINT band value:
        # tagged union with the value column renamed on both sides
        "tiles_pyramid": _pyramid_gate(f),
        "tiles_hot_cells": f["tiles_hot_cells"],
        "spatial_distance_join": f["spatial_distance_join"],
        "dedup_exact": f["dedup_exact"],
        "dedup_minhash_lsh": f["dedup_minhash_lsh"],
        "dedup_jaccard": f["dedup_jaccard"],
        # simhash signatures and duplicate-component labels are both
        # per-doc maps: one joined row value-gates both
        "dedup_doc_labels": _joined(f, ["dedup_simhash", "dedup_components"]),
        "dedup_simhash_pairs": f["dedup_simhash_pairs"],
        "pipeline_curation": f["pipeline_curation"],
        # the four top-k rankers share (query_vec_id, neighbor_vec_id,
        # cos_sim, rank): ONE tagged-union row value-gates all four
        "ann_topk": _tagged_union(
            f,
            [
                ("ann_cosine_topk", "brute"),
                ("ann_lsh_topk", "lsh"),
                ("ann_lsh8_topk", "lsh8"),
                ("ann_ivf_topk", "ivf_fixed"),
                ("ann_ivf_trained_topk", "ivf_trained"),
            ],
        ),
        "ann_ivf_assign": f["ann_ivf_assign"],
        "dedup_embedding": f["dedup_embedding"],
        "multimodal_decode": f["multimodal_decode"],
        "multimodal_frame_meta": f["multimodal_frame_meta"],
        "events_hourly": f["events_hourly"],
        "events_asof": f["events_asof"],
    }
    assert len(gate) <= 50, f"driver records only 50 rows; got {len(gate)}"
    return gate


def _interleaved_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + span invariant as an oracled query: build the interleaved-doc
    shape (input_hint), run the engine's span→rect extraction (float32
    parse of the geo span), and emit the canonical span-sequence
    signature — proving (kind, text, media_ref, order-by-offset) survives."""
    from rtree_cpp_spark.sources.extract import spans_signature_col, with_rect

    docs = rects.interleaved_docs_a(spark, sf_dir)
    # Engine-internal parse is float32 (reference parity, src/Main.cpp:67);
    # the GATE output is cast to double because the oracle's rect columns
    # are doubles and the driver's value canonicalization is dtype-
    # sensitive (r1 gate: rows/schema matched, hash didn't).  Every value
    # lies on the 0.25 lattice — exact in both widths — so the cast is
    # value-preserving and proves nothing was lost in the float32 parse.
    return with_rect(docs).select(
        "doc_id",
        *[F.col(c).cast("double").alias(c) for c in ("min_x", "min_y", "max_x", "max_y")],
        spans_signature_col(F.col("spans")).alias("sig"),
    )


def _interleaved_join_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete north_star pipeline as ONE oracled query: interleaved
    docs → span→rect extraction → cell spatial join → spans re-joined by
    doc_id → per-pair span signatures.  The join shuffle carries only
    (doc_id, rect, cell); spans attach late (SURVEY.md §1.4)."""
    from rtree_cpp_spark.sources.extract import spans_signature_col, with_rect

    docs_a = rects.interleaved_docs_a(spark, sf_dir)
    docs_b = rects.interleaved_docs_b(spark, sf_dir)
    a = with_rect(docs_a).select("doc_id", "min_x", "min_y", "max_x", "max_y")
    b = with_rect(docs_b).select("doc_id", "min_x", "min_y", "max_x", "max_y")
    pairs = spatial_join(a, b, GRID)
    sig_a = docs_a.select(
        F.col("doc_id").alias("a_doc_id"), spans_signature_col(F.col("spans")).alias("a_sig")
    )
    sig_b = docs_b.select(
        F.col("doc_id").alias("b_doc_id"), spans_signature_col(F.col("spans")).alias("b_sig")
    )
    return pairs.join(sig_a, "a_doc_id").join(sig_b, "b_doc_id").select(
        "a_doc_id", "b_doc_id", "a_sig", "b_sig"
    )


def _layout_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full STORAGE path under the gate: write_layout (cell-keyed
    table + MBR stats sidecar, the STR-bulk-load analog) → heal no-op →
    MBR partition pruning → range query over the pruned scan.  Same
    oracle as spatial_range — pruning must be invisible in the values."""
    import os

    from rtree_cpp_spark.operators.range_query import range_query_layout
    from rtree_cpp_spark.plans.layout import write_layout

    from rtree_cpp_spark.plans.layout import stats_path

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    path = _scratch_dir(f"layout_{tag}") + "/tbl"
    # the layout is a pure function of the input table: write once per
    # (process, sf_dir), reuse across warm + timed passes.  The stats
    # sidecar is written LAST, so its _SUCCESS witnesses the whole write.
    if not os.path.exists(f"{stats_path(path)}/_SUCCESS"):
        write_layout(rects.rects_a(spark, sf_dir), path, GRID)
    return range_query_layout(spark, path, rects.queries_range(spark, sf_dir), GRID)


def _stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING engine under the gate: drain the events table
    through the availableNow stateful sessionizer
    (applyInPandasWithState) and reduce the update-mode emissions to
    their final snapshots — must equal the BATCH sessionize oracle SQL.
    Single input file → one micro-batch here; the cross-batch state
    carry is pytest-proven (test_stream_sessionize_matches_batch_across_
    batches)."""
    from rtree_cpp_spark.streaming.stream_ops import stream_sessionize

    # checkpoint/output state must be FRESH per run (an appended-to out
    # dir would double rows) — per_call dirs under the exit-cleaned root
    work = _scratch_dir("stream_sess", per_call=True)
    src, out, ckpt = f"{work}/src", f"{work}/out", f"{work}/ckpt"
    _events(spark, sf_dir).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(src)
    q = (
        stream_sessionize(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode reduction: the last snapshot per (user, session) —
    # snapshots are monotone (n_events/end_ts non-decreasing, start_ts
    # fixed), so max/min folds select it without an order column
    return (
        spark.read.parquet(out)
        .groupBy("user_id", "session_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("start_ts").alias("start_ts"),
            F.max("end_ts").alias("end_ts"),
        )
        .select("user_id", "session_id", "n_events", "start_ts", "end_ts")
    )


def _tiles_rasterize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING rasterize path under the gate: drain the interleaved
    A docs through the availableNow foreachBatch rasterizer (per-batch
    coverage DELTAS written idempotently under batch_id partitions) and
    fold the deltas per cell.  Joined into the ``tile_stats`` gate row,
    so the stateless-delta streaming pattern is value-verified end-to-end
    against the same DuckDB oracle as the batch burn-in — the delta fold
    must reproduce the batch band exactly (integer fixed-point units)."""
    from rtree_cpp_spark.streaming.stream_ops import run_stream_rasterize_once

    work = _scratch_dir("stream_raster", per_call=True)
    src, out, ckpt = f"{work}/src", f"{work}/out", f"{work}/ckpt"
    rects.interleaved_docs_a(spark, sf_dir).coalesce(1).write.parquet(src)
    run_stream_rasterize_once(spark, src, out, ckpt, GRID)
    return (
        spark.read.parquet(out)
        .groupBy("cell")
        .agg(F.sum("coverage_units").alias("stream_coverage_units"))
    )


def _spatial_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench/fine twin of spatial_join over COVER-BUCKETED tables: the
    cell SMJ runs with zero exchange (plan-asserted in pytest, output
    identity asserted there too).  Tables are written once per
    session+sf — the amortized-write contract bucketing exists for."""
    from rtree_cpp_spark.operators.spatial_join import spatial_join_bucketed
    from rtree_cpp_spark.plans.layout import write_bucketed_cover

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    ta, tb = f"bench_bktc_a_{tag}", f"bench_bktc_b_{tag}"
    if not (spark.catalog.tableExists(ta) and spark.catalog.tableExists(tb)):
        write_bucketed_cover(rects.rects_a(spark, sf_dir), ta, GRID, n_buckets=32, prefix="a_")
        write_bucketed_cover(rects.rects_b(spark, sf_dir), tb, GRID, n_buckets=32, prefix="b_")
    return spatial_join_bucketed(spark, ta, tb, GRID)


def _curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rtree_cpp_spark.operators.pipeline import curate

    return curate(_docs(spark, sf_dir))


def _knn_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rects.queries_knn(spark, sf_dir).select(
        F.col("query_id").alias("point_id"), "x", "y"
    )


def _top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem → top-10 revenue.
    Exercises multi-join planning + decimal-exact aggregation +
    deterministic top-k (revenue DESC, orderkey ties).  Join strategy is
    left to AQE: customer (a true dim) broadcasts when it fits; the
    date-filtered orders side is FACT-sized and must be allowed to fall
    back to a shuffle join at larger scale factors — no forced hints."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _lineitem(spark, sf_dir).where(F.col("l_shipdate") > F.lit("1995-03-15"))
    dec = "decimal(18,4)"
    rev = F.sum(
        (
            F.col("l_extendedprice").cast(dec)
            * (F.lit(1.0).cast(dec) - F.col("l_discount").cast(dec))
        ).cast("decimal(28,8)")
    )
    joined = li.join(
        orders.select("o_orderkey", "o_orderdate", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).join(cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"))
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(rev.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def _pricing_summary(li: DataFrame) -> DataFrame:
    dec = "decimal(18,4)"
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(dec)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(dec)).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice").cast(dec) * (F.lit(1.0).cast(dec) - F.col("l_discount").cast(dec))).cast(
                    "decimal(28,8)"
                )
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------

_CELL6 = GRID.cell_of_point_sql  # callable (x_sql, y_sql) -> cell sql
_CX6 = GRID.cx_sql
_GS = f"CAST({GRID.cell_size!r} AS DOUBLE)"  # grid cell size literal

# Fixed-point burn-in term per (doc, cover-cell) row of gxy — the IEEE
# twin of operators/tiles.rasterize's per-term expression (bit-identical
# in Spark and DuckDB, so the integer SUM is engine- and
# order-independent).
_BURN_TERM = (
    "CAST(FLOOR((("
    f"GREATEST(LEAST(max_x, (cx + 1) * {_GS}) - GREATEST(min_x, cx * {_GS}), 0e0) / {_GS}) * ("
    f"GREATEST(LEAST(max_y, (cy + 1) * {_GS}) - GREATEST(min_y, cy * {_GS}), 0e0) / {_GS})"
    ") * 1000000e0) AS BIGINT)"
)

_COVER_CTE = (
    "gx AS (SELECT doc_id, min_y, max_y, "
    f"unnest(generate_series({_CX6('min_x')}, {_CX6('max_x')})) AS cx FROM r), "
    "gxy AS (SELECT doc_id, cx, "
    f"unnest(generate_series({_CX6('min_y')}, {_CX6('max_y')})) AS cy FROM gx)"
)

_COVER_FULL_CTE = (
    "gx AS (SELECT doc_id, min_x, min_y, max_x, max_y, "
    f"unnest(generate_series({_CX6('min_x')}, {_CX6('max_x')})) AS cx FROM r), "
    "gxy AS (SELECT doc_id, min_x, min_y, max_x, max_y, cx, "
    f"unnest(generate_series({_CX6('min_y')}, {_CX6('max_y')})) AS cy FROM gx)"
)

_SQDIST = (
    "(GREATEST(r.min_x - q.x, q.x - r.max_x, 0e0) * GREATEST(r.min_x - q.x, q.x - r.max_x, 0e0) "
    "+ GREATEST(r.min_y - q.y, q.y - r.max_y, 0e0) * GREATEST(r.min_y - q.y, q.y - r.max_y, 0e0))"
)

_H64_DUCK = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"

_DOT_DUCK = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
)

_SQDIFF_DUCK = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * "
    "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (acc, v) -> acc + v)"
)

_COS_DUCK = (
    _DOT_DUCK.format(a="q_emb", b="n_emb")
    + " / (SQRT(" + _DOT_DUCK.format(a="q_emb", b="q_emb") + ") * SQRT("
    + _DOT_DUCK.format(a="n_emb", b="n_emb") + "))"
)


def _tag2(sql_a: str, tag_a: str, sql_b: str, tag_b: str, tagcol: str = "variant") -> str:
    """Oracle twin of ``_merged``: both variants' SQL tagged and unioned."""
    return (
        f"SELECT '{tag_a}' AS {tagcol}, * FROM ({sql_a}) ta "
        f"UNION ALL SELECT '{tag_b}' AS {tagcol}, * FROM ({sql_b}) tb"
    )


def _tagn(pairs: list[tuple[str, str]], tagcol: str = "variant") -> str:
    """Oracle twin of ``_tagged_union``: every (sql, tag) member tagged
    and unioned."""
    return " UNION ALL ".join(
        f"SELECT '{tag}' AS {tagcol}, * FROM ({sql}) t{i}"
        for i, (sql, tag) in enumerate(pairs)
    )


def oracle_sql() -> dict[str, str]:
    ab_join = _INTERSECTS.format(a="a", b="b")
    qa_join = _INTERSECTS.format(a="q", b="a")
    join_sql = (
        f"WITH a AS ({RECTS_A_SQL}), b AS ({RECTS_B_SQL}) "
        f"SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id FROM a JOIN b ON {ab_join}"
    )
    knn_sql = (
        f"WITH r AS ({RECTS_A_SQL}), q AS ({QUERIES_KNN_SQL}), "
        f"scored AS (SELECT q.query_id, r.doc_id, q.k, {_SQDIST} AS sq_dist FROM q CROSS JOIN r), "
        "ranked AS (SELECT query_id, doc_id, sq_dist, k, "
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sq_dist, doc_id) AS rnk FROM scored) "
        'SELECT query_id, doc_id, sq_dist, CAST(rnk AS INT) AS "rank" FROM ranked WHERE rnk <= k'
    )
    # kNN join: A-subset centroids (reference centroid rule, Main.cpp:
    # 126-129) vs the B set; same sq-dist/tie-break arithmetic as knn_sql
    knn_join_sql = (
        f"WITH r AS ({RECTS_B_SQL}), q0 AS ({RECTS_A_SUBSET_SQL}), "
        "q AS (SELECT doc_id AS query_id, (min_x + max_x) / 2e0 AS x, "
        "(min_y + max_y) / 2e0 AS y FROM q0), "
        f"scored AS (SELECT q.query_id, r.doc_id, {_SQDIST} AS sq_dist FROM q CROSS JOIN r), "
        "ranked AS (SELECT query_id, doc_id, sq_dist, "
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sq_dist, doc_id) AS rnk FROM scored) "
        'SELECT query_id, doc_id, sq_dist, CAST(rnk AS INT) AS "rank" FROM ranked WHERE rnk <= 5'
    )
    # MinHash: one md5 per shingle, 32 universal hashes (A*h+B)%P — the
    # exact arithmetic/constants of rtree_cpp_spark.operators.dedup.
    mh_p = dedup.MINHASH_P
    mh_mins = ", ".join(
        f"MIN(({dedup.MINHASH_A[i]} * hm + {dedup.MINHASH_B[i]}) % {mh_p}) AS m{i}"
        for i in range(dedup.N_HASHES)
    )
    mh_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ':' || ".join(
            f"CAST(m{b * dedup.ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(dedup.ROWS_PER_BAND)
        )
        + ") AS bucket FROM sig"
        for b in range(dedup.N_BANDS)
    )
    def _minhash_ctes(src: str) -> str:
        """MinHash-LSH candidate pairs as a CTE chain over any source
        relation ``src(doc_id, text)`` — ends with ``pairs``."""
        return (
            f"toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src} "
            "WHERE len(string_split(text, ' ')) >= 3), "
            "sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle "
            "FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks)), "
            "h AS (SELECT doc_id, "
            + _H64_DUCK.format(s="shingle")
            + f" % {mh_p} AS hm FROM sh), "
            f"sig AS (SELECT doc_id, {mh_mins} FROM h GROUP BY doc_id), "
            f"bands AS ({mh_bands}), "
            "pairs AS (SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id FROM bands a "
            "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"
        )

    minhash_sql = (
        "WITH " + _minhash_ctes("documents") + " SELECT a_doc_id, b_doc_id FROM pairs"
    )
    simhash_sql = (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), "
        "th AS (SELECT doc_id, " + _H64_DUCK.format(s="token") + " AS h FROM tok), "
        "bitted AS (SELECT doc_id, j, CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END AS contrib "
        "FROM (SELECT doc_id, h, unnest(generate_series(0, 15)) AS j FROM th)), "
        "per_bit AS (SELECT doc_id, j, SUM(contrib) AS s FROM bitted GROUP BY doc_id, j) "
        "SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) "
        "AS simhash FROM per_bit GROUP BY doc_id"
    )
    # Duplicate clusters: min doc_id reachable through the LSH pair graph.
    # The oracle's recursive CTE IS the spec the engine's min-label
    # propagation + pointer jumping must converge to.
    def _components_ctes(src: str) -> str:
        """pairs → symmetric edges → min-reachable-label closure; ends
        with ``comp(doc_id, component_id)``.  Requires RECURSIVE."""
        return (
            _minhash_ctes(src) + ", "
            "edges AS (SELECT a_doc_id AS src, b_doc_id AS dst FROM pairs "
            "UNION ALL SELECT b_doc_id, a_doc_id FROM pairs), "
            "reach(node, label) AS ("
            f"SELECT doc_id, doc_id FROM {src} "
            "UNION "
            "SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node), "
            "comp AS (SELECT node AS doc_id, MIN(label) AS component_id FROM reach GROUP BY node)"
        )

    components_sql = (
        "WITH RECURSIVE " + _components_ctes("documents")
        + " SELECT doc_id, component_id FROM comp"
    )
    # The composed curation pipeline: quality >= 0.5 -> exact-dup min-id
    # survivor -> near-dup cluster representative.  Chains the SAME
    # stage oracles over the same table (stage composition, not re-spec).
    pipeline_sql = (
        "WITH RECURSIVE q AS (SELECT doc_id, "
        "ROUND(0.5e0 * LEAST(CAST(len(toks0) AS DOUBLE) / 100.0e0, 1.0e0) "
        "+ 0.5e0 * (CAST(len(list_distinct(toks0)) AS DOUBLE) / CAST(len(toks0) AS DOUBLE)), 6) "
        "AS quality FROM (SELECT doc_id, string_split(text, ' ') AS toks0 FROM documents) tt), "
        "kept AS (SELECT d.doc_id, d.text, q.quality FROM documents d "
        "JOIN q USING (doc_id) WHERE q.quality >= 0.5e0), "
        "ek AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text), "
        "surv AS (SELECT kept.doc_id, kept.text, kept.quality FROM kept JOIN ek USING (doc_id)), "
        + _components_ctes("surv")
        + " SELECT surv.doc_id, surv.quality FROM surv JOIN comp USING (doc_id) "
        "WHERE comp.component_id = comp.doc_id"
    )
    # Brute-force quadratic twin of the engine's pigeonhole-blocked
    # simhash_pairs: the gate match proves the blocking is lossless.
    simhash_pairs_sql = (
        "WITH s AS (" + simhash_sql + ") "
        "SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
        "FROM s a JOIN s b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    )
    jaccard_sql = (
        "WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id), "
        "inter AS (SELECT x.doc_id AS a_doc_id, y.doc_id AS b_doc_id, COUNT(*) AS i "
        "FROM toks x JOIN toks y ON x.token = y.token AND x.doc_id < y.doc_id "
        "GROUP BY x.doc_id, y.doc_id) "
        "SELECT a_doc_id, b_doc_id, CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = a_doc_id JOIN sizes sb ON sb.doc_id = b_doc_id "
        "WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5e0"
    )
    cosine_sql = (
        "WITH q AS (SELECT vec_id AS query_vec_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20), "
        "c AS (SELECT vec_id AS neighbor_vec_id, embedding AS n_emb FROM embeddings), "
        "scored AS (SELECT query_vec_id, neighbor_vec_id, "
        + _DOT_DUCK.format(a="q_emb", b="n_emb")
        + " / (SQRT(" + _DOT_DUCK.format(a="q_emb", b="q_emb") + ") * SQRT("
        + _DOT_DUCK.format(a="n_emb", b="n_emb") + ")) AS cos_sim "
        "FROM c JOIN q ON neighbor_vec_id <> query_vec_id), "
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_vec_id "
        "ORDER BY cos_sim DESC, neighbor_vec_id) AS rnk FROM scored) "
        'SELECT query_vec_id, neighbor_vec_id, cos_sim, CAST(rnk AS INT) AS "rank" '
        "FROM ranked WHERE rnk <= 5"
    )
    # sign-LSH buckets: w[p][i] = +1 iff h64(p ':' i) odd; fold v*w in array order
    lsh_w = "CASE WHEN " + _H64_DUCK.format(
        s="CAST(p AS STRING) || ':' || CAST(i - 1 AS STRING)"
    ) + " % 2 = 1 THEN 1e0 ELSE -1e0 END"
    lsh_buckets_sql = (
        "WITH planes AS (SELECT vec_id, embedding, unnest(generate_series(0, 7)) AS p FROM embeddings), "
        "dots AS (SELECT vec_id, p, list_reduce(list_transform("
        "list_zip(embedding, generate_series(1, len(embedding))), "
        "x -> CAST(x[1] AS DOUBLE) * (CASE WHEN "
        + _H64_DUCK.format(s="CAST(p AS STRING) || ':' || CAST(x[2] - 1 AS STRING)")
        + " % 2 = 1 THEN 1e0 ELSE -1e0 END)), (acc, v) -> acc + v) AS s FROM planes) "
        "SELECT vec_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) "
        "AS bucket FROM dots GROUP BY vec_id"
    )
    del lsh_w

    def _lsh_topk_sql(n_planes: int) -> str:
        # lsh_buckets_sql is written for 8 planes; narrow the plane set
        return (
            "WITH b AS ("
            + lsh_buckets_sql.replace(
                "generate_series(0, 7)", f"generate_series(0, {n_planes - 1})"
            )
            + "), "
            "q AS (SELECT e.vec_id AS query_vec_id, e.embedding AS q_emb, b.bucket "
            "FROM embeddings e JOIN b ON b.vec_id = e.vec_id WHERE e.vec_id < 20), "
            "c AS (SELECT e.vec_id AS neighbor_vec_id, e.embedding AS n_emb, b.bucket "
            "FROM embeddings e JOIN b ON b.vec_id = e.vec_id), "
            "scored AS (SELECT query_vec_id, neighbor_vec_id, "
            + _DOT_DUCK.format(a="q_emb", b="n_emb")
            + " / (SQRT(" + _DOT_DUCK.format(a="q_emb", b="q_emb") + ") * SQRT("
            + _DOT_DUCK.format(a="n_emb", b="n_emb") + ")) AS cos_sim "
            "FROM c JOIN q ON c.bucket = q.bucket AND neighbor_vec_id <> query_vec_id), "
            "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_vec_id "
            "ORDER BY cos_sim DESC, neighbor_vec_id) AS rnk FROM scored) "
            'SELECT query_vec_id, neighbor_vec_id, cos_sim, CAST(rnk AS INT) AS "rank" '
            "FROM ranked WHERE rnk <= 5"
        )

    lsh_topk_sql = _lsh_topk_sql(4)
    lsh8_topk_sql = _lsh_topk_sql(8)
    ivf_assign_sql = (
        "WITH e AS (SELECT vec_id, embedding FROM embeddings), "
        "cent AS (SELECT vec_id AS cent_id, embedding AS c_emb FROM e WHERE vec_id < 16), "
        "ranked AS (SELECT a.vec_id, c.cent_id, ROW_NUMBER() OVER (PARTITION BY a.vec_id "
        "ORDER BY " + _SQDIFF_DUCK.format(a="a.embedding", b="c.c_emb") + ", c.cent_id) AS rn "
        "FROM e a CROSS JOIN cent c) "
        "SELECT vec_id, cent_id FROM ranked WHERE rn = 1"
    )
    ivf_topk_sql = (
        "WITH e AS (SELECT vec_id, embedding FROM embeddings), "
        "cent AS (SELECT vec_id AS cent_id, embedding AS c_emb FROM e WHERE vec_id < 16), "
        "asg AS (SELECT vec_id, cent_id FROM (SELECT a.vec_id, c.cent_id, "
        "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY "
        + _SQDIFF_DUCK.format(a="a.embedding", b="c.c_emb")
        + ", c.cent_id) AS rn FROM e a CROSS JOIN cent c) WHERE rn = 1), "
        "probes AS (SELECT query_vec_id, cent_id FROM (SELECT q.vec_id AS query_vec_id, c.cent_id, "
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
        + _SQDIFF_DUCK.format(a="q.embedding", b="c.c_emb")
        + ", c.cent_id) AS rn FROM e q CROSS JOIN cent c WHERE q.vec_id < 20) WHERE rn <= 4), "
        "scored AS (SELECT p.query_vec_id, n.vec_id AS neighbor_vec_id, "
        + _COS_DUCK.replace("q_emb", "qe.embedding").replace("n_emb", "n.embedding")
        + " AS cos_sim FROM probes p "
        "JOIN e qe ON qe.vec_id = p.query_vec_id "
        "JOIN asg ON asg.cent_id = p.cent_id "
        "JOIN e n ON n.vec_id = asg.vec_id AND n.vec_id <> p.query_vec_id), "
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_vec_id "
        "ORDER BY cos_sim DESC, neighbor_vec_id) AS rnk FROM scored) "
        'SELECT query_vec_id, neighbor_vec_id, cos_sim, CAST(rnk AS INT) AS "rank" '
        "FROM ranked WHERE rnk <= 5"
    )
    # k-means (Lloyd) refinement, n_iters unrolled: fixed-point sums
    # (floor(v*2^30) int64) make the per-cluster mean order-independent,
    # so both engines produce bit-identical double centroids.
    def _ivf_train_sql(n_centroids: int = 16, n_iters: int = 2) -> str:
        ctes = [
            "e AS (SELECT vec_id, embedding FROM embeddings)",
            "x AS (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS pos FROM e)",
            f"c0 AS (SELECT vec_id AS cent_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) "
            f"AS c_emb FROM e WHERE vec_id < {n_centroids})",
        ]
        for it in range(n_iters):
            c, nc = f"c{it}", f"c{it + 1}"
            ctes += [
                f"a{it} AS (SELECT vec_id, cent_id FROM (SELECT a.vec_id, c.cent_id, "
                "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY "
                + _SQDIFF_DUCK.format(a="a.embedding", b="c.c_emb")
                + f", c.cent_id) AS rn FROM e a CROSS JOIN {c} c) WHERE rn = 1)",
                f"p{it} AS (SELECT a{it}.cent_id, x.pos, "
                "CAST(FLOOR(CAST(x.embedding[CAST(x.pos AS INT)] AS DOUBLE) * 1073741824e0) AS BIGINT) AS q "
                f"FROM x JOIN a{it} USING (vec_id))",
                f"m{it} AS (SELECT cent_id, pos, CAST(SUM(q) AS DOUBLE) / "
                f"(CAST(COUNT(*) AS DOUBLE) * 1073741824e0) AS v FROM p{it} GROUP BY cent_id, pos)",
                f"n{it} AS (SELECT cent_id, list(v ORDER BY pos) AS c_emb FROM m{it} GROUP BY cent_id)",
                f"{nc} AS (SELECT {c}.cent_id, COALESCE(n{it}.c_emb, {c}.c_emb) AS c_emb "
                f"FROM {c} LEFT JOIN n{it} USING (cent_id))",
            ]
        return (
            "WITH " + ", ".join(ctes)
            + f" SELECT cent_id, c_emb AS centroid FROM c{n_iters}"
        )

    # gate twin of the exploded ann_ivf_train output: (cent_id, pos,
    # value) rows — flat doubles the driver canonicalizer can lexsort
    ivf_train_gate_sql = (
        "SELECT cent_id, CAST(i - 1 AS INT) AS pos, "
        "centroid[CAST(i AS INT)] AS value "
        "FROM (SELECT cent_id, centroid, "
        "unnest(generate_series(1, len(centroid))) AS i FROM ("
        + _ivf_train_sql()
        + ") tc) x"
    )
    # train→serve composition: same topk plan, centroid CTE swapped for
    # the k-means-trained table (assignment AND probing both use it)
    ivf_trained_topk_sql = ivf_topk_sql.replace(
        "cent AS (SELECT vec_id AS cent_id, embedding AS c_emb FROM e WHERE vec_id < 16), ",
        "cent AS (SELECT cent_id, centroid AS c_emb FROM (" + _ivf_train_sql() + ") tc), ",
    )
    assert ivf_trained_topk_sql != ivf_topk_sql
    neardup_sql = (
        "WITH e AS (SELECT vec_id, embedding FROM embeddings), "
        "p AS (SELECT a.vec_id AS a_vec_id, b.vec_id AS b_vec_id, "
        + _COS_DUCK.replace("q_emb", "a.embedding").replace("n_emb", "b.embedding")
        + " AS cos_sim FROM e a JOIN e b ON a.vec_id < b.vec_id) "
        "SELECT a_vec_id, b_vec_id, cos_sim FROM p WHERE cos_sim >= 0.4e0"
    )
    stop_in = ", ".join(f"'{w}'" for w in text_analysis.STOPWORDS)
    lang_sql = (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) "
        "SELECT doc_id, ROUND(CAST(len(list_filter(toks, x -> x IN (" + stop_in + "))) AS DOUBLE) "
        "/ CAST(len(toks) AS DOUBLE), 6) AS stop_ratio, "
        "CASE WHEN ROUND(CAST(len(list_filter(toks, x -> x IN (" + stop_in + "))) AS DOUBLE) "
        "/ CAST(len(toks) AS DOUBLE), 6) >= 0.05e0 THEN 'en' ELSE 'unk' END AS lang_pred FROM t"
    )
    tok_sql = (
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, "
        "CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens, "
        "CAST(length(text) AS INT) AS n_chars FROM documents"
    )
    qual_sql = (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) "
        "SELECT doc_id, ROUND(0.5e0 * LEAST(CAST(len(toks) AS DOUBLE) / 100.0e0, 1.0e0) "
        "+ 0.5e0 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)), 6) "
        "AS quality FROM t"
    )
    fp_sql = (
        "SELECT doc_id, md5(lower(text)) AS fp_hash, "
        + _H64_DUCK.format(s="lower(text)")
        + " AS fp64 FROM documents"
    )
    bpe_sql = (
        "WITH t AS (SELECT doc_id, "
        f"regexp_extract_all(text, '{text_analysis.BPE_REGEX}') AS toks FROM documents) "
        "SELECT doc_id, CAST(len(toks) AS INT) AS n_bpe_tokens, "
        "CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+$'))) AS INT) AS n_word_tokens, "
        "CAST(len(toks) - len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+$'))) AS INT) "
        "AS n_symbol_tokens FROM t"
    )
    roll_sql = (
        "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, length(text)), "
        "i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * {text_analysis.ROLL_B} + c) % {text_analysis.ROLL_P}) "
        "AS roll_hash FROM documents"
    )
    # cross-document duplicated-shingle stats (operators/dedup.py
    # shingle_dup_stats): distinct postings → min!=max cross-doc test →
    # per-doc counts; the MinHash CTEs' n-gram construction at SHINGLE_N
    shingle_sql = " || ' ' || ".join(f"t[i+{j}]" for j in range(SHINGLE_N))
    shingle_dup_sql = (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents "
        f"WHERE len(string_split(text, ' ')) >= {SHINGLE_N}), "
        f"sh AS (SELECT DISTINCT doc_id, {shingle_sql} AS shingle "
        f"FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{SHINGLE_N - 1})) AS i FROM toks)), "
        "cross_dup AS (SELECT shingle, MIN(doc_id) <> MAX(doc_id) AS is_dup "
        "FROM sh GROUP BY shingle), "
        "per_doc AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, "
        "CAST(SUM(CASE WHEN c.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles "
        "FROM sh s JOIN cross_dup c USING (shingle) GROUP BY s.doc_id) "
        "SELECT d.doc_id, COALESCE(p.n_shingles, 0) AS n_shingles, "
        "COALESCE(p.n_dup_shingles, 0) AS n_dup_shingles, "
        "CASE WHEN COALESCE(p.n_shingles, 0) > 0 "
        "THEN CAST(p.n_dup_shingles AS DOUBLE) / CAST(p.n_shingles AS DOUBLE) "
        "ELSE 0.0e0 END AS dup_fraction "
        "FROM documents d LEFT JOIN per_doc p USING (doc_id)"
    )
    # joined gate rows: per-doc maps composed on doc_id (row-preserving)
    text_stats_sql = (
        f"SELECT a.doc_id, a.n_tokens, a.n_distinct_tokens, a.n_chars, "
        "b.stop_ratio, b.lang_pred, c.quality, "
        "d.n_bpe_tokens, d.n_word_tokens, d.n_symbol_tokens, "
        "e.n_shingles, e.n_dup_shingles, e.dup_fraction "
        f"FROM ({tok_sql}) a JOIN ({lang_sql}) b USING (doc_id) "
        f"JOIN ({qual_sql}) c USING (doc_id) JOIN ({bpe_sql}) d USING (doc_id) "
        f"JOIN ({shingle_dup_sql}) e USING (doc_id)"
    )
    text_hashes_sql = (
        f"SELECT a.doc_id, a.fp_hash, a.fp64, b.roll_hash "
        f"FROM ({fp_sql}) a JOIN ({roll_sql}) b USING (doc_id)"
    )
    # Gopher-style repetition metrics (operators/text_analysis.py
    # repetition_stats): same per-doc array arithmetic in list functions
    _2GRAMS = (
        "CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks) - 1), "
        "i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )
    repetition_sql = (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
        f"g AS (SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd, "
        f"{_2GRAMS} AS grams FROM t) "
        "SELECT doc_id, "
        "ROUND(CAST(list_max(list_transform(list_distinct(toks), "
        "x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE) / CAST(n AS DOUBLE), 6) "
        "AS top_token_frac, "
        "ROUND(CAST(list_max(list_transform(list_distinct(grams), "
        "x -> len(list_filter(grams, y -> y = x)))) AS DOUBLE) * 2e0 / CAST(n AS DOUBLE), 6) "
        "AS top_2gram_frac, "
        "ROUND(CAST(n - nd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS dup_token_frac FROM g"
    )
    # decontamination (n=3, bench = doc_id % 97 == 0) — operators/
    # text_analysis.py decontaminate
    _3GRAMS = (
        "CASE WHEN len(toks) >= 3 THEN list_transform(generate_series(1, len(toks) - 2), "
        "i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)] || ' ' || "
        "toks[CAST(i + 2 AS INT)]) ELSE CAST([] AS VARCHAR[]) END"
    )
    decontaminate_sql = (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
        f"g AS (SELECT doc_id, list_distinct({_3GRAMS}) AS grams FROM t), "
        "bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0), "
        "train AS (SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0), "
        "tg AS (SELECT doc_id, unnest(grams) AS gram FROM train), "
        "hits AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM tg "
        "JOIN bench USING (gram) GROUP BY doc_id) "
        "SELECT train.doc_id, CAST(len(train.grams) AS INT) AS n_grams, "
        "COALESCE(hits.n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated, "
        "CASE WHEN len(train.grams) = 0 THEN 0.0e0 ELSE "
        "ROUND(CAST(COALESCE(hits.n_contaminated, 0) AS DOUBLE) "
        "/ CAST(len(train.grams) AS DOUBLE), 6) END AS contamination_frac "
        "FROM train LEFT JOIN hits ON train.doc_id = hits.doc_id"
    )
    # PII scan over deterministically augmented text — operators/
    # text_analysis.py with_synthetic_pii + pii_scan; patterns are
    # RE2/Java-regex-portable by construction
    pii_aug = (
        "CASE WHEN doc_id % 7 = 0 THEN text || ' contact u' || CAST(doc_id AS VARCHAR) "
        "|| '@ex.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 call 555-' "
        "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE text END"
    )
    pii_scan_sql = (
        f"WITH aug AS (SELECT doc_id, {pii_aug} AS text FROM documents) "
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(text, '{text_analysis.PII_EMAIL}')) AS INT) AS n_emails, "
        f"CAST(len(regexp_extract_all(text, '{text_analysis.PII_IPV4}')) AS INT) AS n_ips, "
        f"CAST(len(regexp_extract_all(text, '{text_analysis.PII_PHONE}')) AS INT) AS n_phones, "
        "md5(regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{text_analysis.PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{text_analysis.PII_IPV4}', '<IP>', 'g'), "
        f"'{text_analysis.PII_PHONE}', '<PHONE>', 'g')) AS redacted_hash FROM aug"
    )
    # temperature-stratified sampling — operators/sampling.py
    # stratified_sample(group_col='lang', k_scale=4): quota arithmetic is
    # floor/sqrt on integer counts only (no cross-group float sum)
    mix_h64 = _H64_DUCK.format(s="CAST(doc_id AS VARCHAR)")
    sample_mixing_sql = (
        "WITH c AS (SELECT lang, COUNT(*) AS c_g FROM documents GROUP BY lang), "
        "q AS (SELECT lang, LEAST(c_g, CAST(FLOOR(sqrt(CAST(c_g AS DOUBLE)) * 4e0) AS BIGINT)) "
        "AS quota FROM c), "
        "r AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang "
        f"ORDER BY {mix_h64}, doc_id) AS INT) AS rnk FROM documents) "
        "SELECT r.doc_id, r.lang, r.rnk FROM r JOIN q USING (lang) WHERE r.rnk <= q.quota"
    )
    range_sql = (
        f"WITH a AS ({RECTS_A_SQL}), q AS ({QUERIES_RANGE_SQL}) "
        f"SELECT q.query_id, a.doc_id FROM q JOIN a ON {qa_join}"
    )
    contains_sql = (
        f"WITH a AS ({RECTS_A_SQL}), q AS ({QUERIES_RANGE_SQL}) "
        "SELECT q.query_id, a.doc_id FROM q JOIN a "
        "ON q.max_x >= a.max_x AND q.min_x <= a.min_x "
        "AND q.max_y >= a.max_y AND q.min_y <= a.min_y"
    )
    pip_sql_tpl = (
        f"WITH r AS ({RECTS_A_SQL}), q AS ({QUERIES_KNN_SQL}) "
        "SELECT q.query_id AS point_id, r.doc_id FROM q JOIN r "
        "ON q.x {gt} r.min_x AND q.x {lt} r.max_x AND q.y {gt} r.min_y AND q.y {lt} r.max_y"
    )
    # Octagon PIP oracle: vertex arithmetic and per-edge cross products
    # are written with EXACTLY the expression shape of
    # operators/pip_join.octagons_from_rects + polygon_pip_join — IEEE
    # doubles make Spark and DuckDB bit-identical, so boundary-point
    # membership cannot diverge between the engines.
    def _oct_vv(t: str) -> list:
        """CCW octagon vertex (x_sql, y_sql) pairs for table alias t —
        the SQL twin of operators/pip_join.octagons_from_rects."""
        return [
            (f"{t}.xlo", f"{t}.min_y"), (f"{t}.xhi", f"{t}.min_y"),
            (f"{t}.max_x", f"{t}.ylo"), (f"{t}.max_x", f"{t}.yhi"),
            (f"{t}.xhi", f"{t}.max_y"), (f"{t}.xlo", f"{t}.max_y"),
            (f"{t}.min_x", f"{t}.yhi"), (f"{t}.min_x", f"{t}.ylo"),
        ]

    _oct_verts = _oct_vv("o")
    _oct_edges = " AND ".join(
        f"(({xj}) - ({xi})) * (q.y - ({yi})) - (({yj}) - ({yi})) * (q.x - ({xi})) >= 0e0"
        for (xi, yi), (xj, yj) in zip(_oct_verts, _oct_verts[1:] + _oct_verts[:1])
    )
    pip_polygon_sql = (
        f"WITH r AS ({RECTS_A_SQL}), q AS ({QUERIES_KNN_SQL}), "
        "o AS (SELECT doc_id, min_x, min_y, max_x, max_y, "
        "min_x + 0.25e0 * (max_x - min_x) AS xlo, "
        "max_x - 0.25e0 * (max_x - min_x) AS xhi, "
        "min_y + 0.25e0 * (max_y - min_y) AS ylo, "
        "max_y - 0.25e0 * (max_y - min_y) AS yhi FROM r) "
        f"SELECT q.query_id AS point_id, o.doc_id FROM q JOIN o ON {_oct_edges}"
    )

    # Octagon-octagon SAT join oracle: per-edge × per-vertex cross
    # products with the IDENTICAL IEEE expression shape as
    # operators/pip_join.polygon_join (separated ⟺ some edge of either
    # ring has ALL other-ring vertices strictly outside).
    def _sep_sql(P: list, Q: list) -> str:
        clauses = []
        for i in range(len(P)):
            xi, yi = P[i]
            xj, yj = P[(i + 1) % len(P)]
            terms = [
                f"(({xj}) - ({xi})) * (({qy}) - ({yi})) "
                f"- (({yj}) - ({yi})) * (({qx}) - ({xi})) < 0e0"
                for (qx, qy) in Q
            ]
            clauses.append("(" + " AND ".join(terms) + ")")
        return "(" + " OR ".join(clauses) + ")"

    _oct_cols = (
        "SELECT doc_id, min_x, min_y, max_x, max_y, "
        "min_x + 0.25e0 * (max_x - min_x) AS xlo, "
        "max_x - 0.25e0 * (max_x - min_x) AS xhi, "
        "min_y + 0.25e0 * (max_y - min_y) AS ylo, "
        "max_y - 0.25e0 * (max_y - min_y) AS yhi FROM {src}"
    )
    _va, _vb = _oct_vv("oa"), _oct_vv("ob")
    octagon_join_sql = (
        f"WITH ra AS ({RECTS_A_SQL}), rb AS ({RECTS_B_SQL}), "
        f"oa AS ({_oct_cols.format(src='ra')}), "
        f"ob AS ({_oct_cols.format(src='rb')}) "
        "SELECT oa.doc_id AS a_doc_id, ob.doc_id AS b_doc_id FROM oa JOIN ob "
        "ON oa.min_x <= ob.max_x AND ob.min_x <= oa.max_x "
        "AND oa.min_y <= ob.max_y AND ob.min_y <= oa.max_y "
        f"WHERE NOT {_sep_sql(_va, _vb)} AND NOT {_sep_sql(_vb, _va)}"
    )
    sessionize_sql = (
        "WITH flagged AS (SELECT user_id, ts, event_id, "
        "CASE WHEN lag(epoch(ts)) OVER w IS NULL "
        "OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0e0 THEN 1 ELSE 0 END AS new_session "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sessed AS (SELECT user_id, ts, CAST(SUM(new_session) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id "
        "FROM flagged) "
        "SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts "
        "FROM sessed GROUP BY user_id, session_id"
    )
    tiles_primary_sql = (
        f"WITH r AS ({RECTS_A_SQL}) "
        f"SELECT {_CELL6('(min_x + max_x) / 2e0', '(min_y + max_y) / 2e0')} AS cell, doc_id FROM r"
    )
    tiles_cover_sql = (
        f"WITH r AS ({RECTS_A_SQL}), {_COVER_CTE} "
        f"SELECT cx * {GRID.n} + cy AS cell, doc_id FROM gxy"
    )
    return {
        "spatial_range": _tag2(
            range_sql, "intersects", contains_sql, "contains", tagcol="predicate"
        ),
        # the layout path must be value-invisible: write_layout + MBR
        # partition pruning + range query == the plain range oracle
        "layout_range_query": range_sql,
        "spatial_range_count": (
            f"WITH a AS ({RECTS_A_SQL}), q AS ({QUERIES_RANGE_SQL}), "
            f"hits AS (SELECT q.query_id, COUNT(*) AS c FROM q JOIN a ON {qa_join} GROUP BY q.query_id) "
            "SELECT q.query_id, COALESCE(hits.c, 0) AS n_hits FROM q LEFT JOIN hits USING (query_id)"
        ),
        "spatial_join": _tagn(
            [(join_sql, "plain"), (join_sql, "salted"),
             (join_sql, "bucketed"), (octagon_join_sql, "octagon"),
             (octagon_join_sql, "octagon_adaptive")]
        ),
        "spatial_knn": _tag2(knn_sql, "window", knn_sql, "kernel"),
        "spatial_knn_join": knn_join_sql,
        "spatial_idw": (
            f"WITH r AS ({RECTS_A_SQL}), q AS ({QUERIES_KNN_SQL}), "
            f"v AS ({rects.RECT_VALUES_SQL}), "
            f"scored AS (SELECT q.query_id, r.doc_id, {_SQDIST} AS sq_dist FROM q CROSS JOIN r), "
            "ranked AS (SELECT query_id, doc_id, sq_dist, ROW_NUMBER() OVER "
            "(PARTITION BY query_id ORDER BY sq_dist, doc_id) AS rnk FROM scored), "
            "j AS (SELECT t.query_id, t.rnk, t.sq_dist, CAST(v.value AS DOUBLE) AS value "
            "FROM (SELECT * FROM ranked WHERE rnk <= 8) t JOIN v USING (doc_id)), "
            "per AS (SELECT query_id, "
            "list_reduce(list_prepend(0e0, list(value / (1e0 + sq_dist) ORDER BY rnk)), (a, b) -> a + b) AS num, "
            "list_reduce(list_prepend(0e0, list(1e0 / (1e0 + sq_dist) ORDER BY rnk)), (a, b) -> a + b) AS den, "
            "CAST(COUNT(*) AS INT) AS n_neighbors FROM j GROUP BY query_id) "
            "SELECT query_id, num / den AS idw_value, n_neighbors FROM per"
        ),
        "spatial_antijoin": (
            f"WITH a AS ({RECTS_A_SQL}), q AS ({QUERIES_RANGE_SQL}) "
            "SELECT a.doc_id FROM a WHERE NOT EXISTS "
            f"(SELECT 1 FROM q WHERE {qa_join})"
        ),
        "spatial_pip": _tagn(
            [
                (pip_sql_tpl.format(gt=">=", lt="<="), "closed"),
                (pip_sql_tpl.format(gt=">", lt="<"), "open"),
                (pip_polygon_sql, "polygon"),
            ],
            tagcol="mode",
        ),
        "interleaved_extract": (
            f"WITH r AS ({RECTS_A_SQL}) "
            "SELECT doc_id, min_x, min_y, max_x, max_y, "
            "CONCAT('text', chr(31), CONCAT('order ', doc_id), chr(30), "
            f"'geo', chr(31), {rects.GEO_LINE_SQL}, chr(30), "
            "'image', chr(31), CONCAT('media://', doc_id)) AS sig FROM r"
        ),
        "interleaved_join_spans": (
            f"WITH a AS ({RECTS_A_SQL}), b AS ({RECTS_B_SQL}) "
            f"SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, "
            f"{rects.sig_sql('a', 'order')} AS a_sig, "
            f"{rects.sig_sql('b', 'customer')} AS b_sig "
            f"FROM a JOIN b ON {ab_join}"
        ),
        "layout_occupancy": " UNION ALL ".join(
            f"SELECT {lvl} AS level, COUNT(*) AS n_cells, MAX(n) AS max_occ, "
            "quantile_cont(n, 0.5e0) AS median_occ FROM ("
            f"SELECT {Grid(lvl).cell_of_point_sql('(min_x + max_x) / 2e0', '(min_y + max_y) / 2e0')} AS cell, "
            f"COUNT(*) AS n FROM ({RECTS_A_SQL}) GROUP BY 1)"
            for lvl in (4, 5, 6)
        ),
        "tiles_assign": _tagn(
            [
                (tiles_primary_sql, "primary"),
                (tiles_cover_sql, "cover"),
                (
                    f"WITH r AS ({RECTS_A_SQL}), v AS ({rects.RECT_VALUES_SQL}), "
                    f"pt AS (SELECT {_CELL6('(min_x + max_x) / 2e0', '(min_y + max_y) / 2e0')} AS cell, "
                    "r.doc_id, v.value FROM r JOIN v USING (doc_id)), "
                    "rk AS (SELECT cell, doc_id, ROW_NUMBER() OVER "
                    "(PARTITION BY cell ORDER BY value DESC, doc_id) AS rnk FROM pt) "
                    "SELECT cell, doc_id FROM rk WHERE rnk <= 3",
                    "top3",
                ),
            ]
        ),
        # burn-in term: floor() of the IDENTICAL IEEE expression as
        # operators/tiles.rasterize — bit-identical per term, then an
        # integer-exact (order-independent) SUM
        "tile_stats": (
            f"WITH r AS ({RECTS_A_SQL}), {_COVER_FULL_CTE}, "
            f"ts AS (SELECT cx * {GRID.n} + cy AS cell, COUNT(*) AS n_docs, "
            "MIN(min_x) AS mbr_min_x, MIN(min_y) AS mbr_min_y, "
            "MAX(max_x) AS mbr_max_x, MAX(max_y) AS mbr_max_y "
            f"FROM gxy GROUP BY cx * {GRID.n} + cy), "
            f"rz AS (SELECT cx * {GRID.n} + cy AS cell, "
            f"CAST(SUM({_BURN_TERM}) AS BIGINT) AS coverage_units "
            f"FROM gxy GROUP BY cx * {GRID.n} + cy) "
            "SELECT ts.cell, ts.n_docs, ts.mbr_min_x, ts.mbr_min_y, "
            "ts.mbr_max_x, ts.mbr_max_y, rz.coverage_units, "
            "rz.coverage_units AS stream_coverage_units "
            "FROM ts JOIN rz USING (cell)"
        ),
        "tiles_pyramid": _tagn(
            [
                (
                    f"WITH r AS ({RECTS_A_SQL}), "
                    f"pc AS (SELECT {_CELL6('(min_x + max_x) / 2e0', '(min_y + max_y) / 2e0')} AS cell FROM r), "
                    f"cc AS (SELECT CAST(FLOOR(cell / {GRID.n}.0) AS BIGINT) AS cx, "
                    f"cell % {GRID.n} AS cy, COUNT(*) AS n FROM pc GROUP BY 1, 2), "
                    "lv AS ("
                    + " UNION ALL ".join(
                        f"SELECT {lvl} AS level, "
                        f"(CAST(FLOOR(cx / {1 << (GRID.level - lvl)}.0) AS BIGINT) * {1 << lvl} "
                        f"+ CAST(FLOOR(cy / {1 << (GRID.level - lvl)}.0) AS BIGINT)) AS cell, n FROM cc"
                        for lvl in range(GRID.level, -1, -1)
                    )
                    + ") SELECT level, cell, CAST(SUM(n) AS BIGINT) AS metric_value "
                    "FROM lv GROUP BY level, cell",
                    "docs",
                ),
                (
                    f"WITH r AS ({RECTS_A_SQL}), {_COVER_FULL_CTE}, "
                    f"cc AS (SELECT cx, cy, CAST(SUM({_BURN_TERM}) AS BIGINT) AS n "
                    "FROM gxy GROUP BY cx, cy), "
                    "lv AS ("
                    + " UNION ALL ".join(
                        f"SELECT {lvl} AS level, "
                        f"(CAST(FLOOR(cx / {1 << (GRID.level - lvl)}.0) AS BIGINT) * {1 << lvl} "
                        f"+ CAST(FLOOR(cy / {1 << (GRID.level - lvl)}.0) AS BIGINT)) AS cell, n FROM cc"
                        for lvl in range(GRID.level, -1, -1)
                    )
                    + ") SELECT level, cell, CAST(SUM(n) AS BIGINT) AS metric_value "
                    "FROM lv GROUP BY level, cell",
                    "coverage",
                ),
            ],
            tagcol="band",
        ),
        "tiles_hot_cells": (
            f"WITH r AS ({RECTS_A_SQL}), {_COVER_CTE}, "
            f"base AS (SELECT cx * {GRID.n} + cy AS cell, COUNT(*) AS n_docs FROM gxy GROUP BY 1), "
            f"b2 AS (SELECT CAST(FLOOR(cell / {GRID.n}.0) AS BIGINT) AS cx, cell % {GRID.n} AS cy, "
            "n_docs FROM base), "
            "nb AS (SELECT (b2.cx + dx.d) AS nx, (b2.cy + dy.d) AS ny, b2.n_docs "
            "FROM b2, (SELECT unnest(generate_series(-1, 1)) AS d) dx, "
            "(SELECT unnest(generate_series(-1, 1)) AS d) dy "
            f"WHERE b2.cx + dx.d BETWEEN 0 AND {GRID.n - 1} "
            f"AND b2.cy + dy.d BETWEEN 0 AND {GRID.n - 1}), "
            f"sm AS (SELECT nx * {GRID.n} + ny AS cell, SUM(n_docs) AS smoothed FROM nb GROUP BY 1), "
            "ranked AS (SELECT sm.cell, COALESCE(base.n_docs, 0) AS n_docs, sm.smoothed, "
            "ROW_NUMBER() OVER (ORDER BY sm.smoothed DESC, sm.cell) AS rnk "
            "FROM sm LEFT JOIN base USING (cell)) "
            "SELECT cell, CAST(n_docs AS BIGINT) AS n_docs, CAST(smoothed AS BIGINT) AS smoothed, "
            'CAST(rnk AS INT) AS "rank" FROM ranked WHERE rnk <= 20'
        ),
        "tiles_zonal_stats": (
            f"WITH r AS ({RECTS_A_SQL}), {_COVER_CTE}, "
            f"cells AS (SELECT doc_id, cx * {GRID.n} + cy AS cell FROM gxy) "
            f"SELECT doc_id, COUNT(*) AS n_cells, "
            # BIGINT cast: DuckDB SUM(BIGINT) yields HUGEINT, which lands
            # in pandas as float64 and breaks the driver's dtype-
            # sensitive hash (the r02 red row)
            f"CAST(SUM((cell * {_RASTER_K}) % 1000) AS BIGINT) AS sum_value, "
            f"MIN((cell * {_RASTER_K}) % 1000) AS min_value, "
            f"MAX((cell * {_RASTER_K}) % 1000) AS max_value "
            "FROM cells GROUP BY doc_id"
        ),
        "spatial_distance_join": (
            f"WITH a AS ({RECTS_A_SUBSET_SQL}), b AS ({RECTS_B_SQL}), "
            "p AS (SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, "
            "((a.min_x + a.max_x) / 2e0 - (b.min_x + b.max_x) / 2e0) * "
            "((a.min_x + a.max_x) / 2e0 - (b.min_x + b.max_x) / 2e0) + "
            "((a.min_y + a.max_y) / 2e0 - (b.min_y + b.max_y) / 2e0) * "
            "((a.min_y + a.max_y) / 2e0 - (b.min_y + b.max_y) / 2e0) AS sq_dist "
            "FROM a CROSS JOIN b) "
            "SELECT a_doc_id, b_doc_id, sq_dist FROM p WHERE sq_dist <= 64e0"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies "
            "FROM documents GROUP BY text"
        ),
        "dedup_minhash_lsh": minhash_sql,
        "dedup_doc_labels": (
            f"SELECT a.doc_id, a.simhash, b.component_id FROM ({simhash_sql}) a "
            f"JOIN ({components_sql}) b USING (doc_id)"
        ),
        "pipeline_curation": pipeline_sql,
        "dedup_simhash_pairs": simhash_pairs_sql,
        "dedup_jaccard": jaccard_sql,
        "ann_topk": _tagn(
            [
                (cosine_sql, "brute"),
                (lsh_topk_sql, "lsh"),
                (lsh8_topk_sql, "lsh8"),
                (ivf_topk_sql, "ivf_fixed"),
                (ivf_trained_topk_sql, "ivf_trained"),
            ]
        ),
        "ann_ivf_assign": ivf_assign_sql,
        "ann_ivf_train": ivf_train_gate_sql,
        "dedup_embedding": neardup_sql,
        "text_stats": text_stats_sql,
        "text_hashes": text_hashes_sql,
        "text_repetition": repetition_sql,
        "text_decontaminate": decontaminate_sql,
        "text_pii_scan": pii_scan_sql,
        "sample_mixing": sample_mixing_sql,
        # operators/text_analysis.py vocab_stats
        "text_vocab": (
            "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token "
            "FROM documents) SELECT token, COUNT(*) AS coll_freq, "
            "COUNT(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY token"
        ),
        # operators/text_analysis.py tfidf_topk(k=5): idf rounded to 6dp
        # BEFORE the tf product so both engines rank identical doubles
        "text_tfidf": (
            "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token "
            "FROM documents), "
            "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token), "
            "df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token), "
            "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
            "s AS (SELECT tf.doc_id, tf.token, tf.tf, "
            "ROUND(tf.tf * ROUND(ln(CAST(n.n_docs + 1 AS DOUBLE) "
            "/ CAST(df.df + 1 AS DOUBLE)), 6), 6) AS tfidf "
            "FROM tf JOIN df USING (token) CROSS JOIN n), "
            "r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id "
            "ORDER BY tfidf DESC, token) AS INT) AS rnk FROM s) "
            "SELECT doc_id, token, tf, tfidf, rnk FROM r WHERE rnk <= 5"
        ),
        # operators/similarity.py quantize_embeddings: float32→double
        # casts are exact and every op is a single IEEE step, so q and
        # scale are bit-identical with NO rounding; half-up is spelled
        # floor(x + 0.5) in both engines (never engine round())
        "emb_quantize": (
            "WITH s AS (SELECT vec_id, embedding, "
            "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0e0 "
            "AS scale FROM embeddings), "
            "e AS (SELECT vec_id, scale, embedding, "
            "unnest(generate_series(1, len(embedding))) AS i FROM s) "
            "SELECT vec_id, CAST(i - 1 AS INT) AS pos, "
            "CAST(CASE WHEN scale > 0 THEN FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) "
            "/ scale + 0.5e0) ELSE 0 END AS INT) AS q, scale FROM e"
        ),
        # joined gate row for the three same-keyed per-doc multimodal
        # maps (meta kind/n_bytes + features checksum + resize
        # resized_bytes).  checksum = sum(utf-8 payload bytes) mod 2^31
        # (the mapInPandas kernel's pure-integer arithmetic); the
        # synthetic corpus is ASCII, so per-char ascii() == per-byte.
        "multimodal_doc_stats": (
            "SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' "
            "ELSE 'video' END AS kind, CAST(octet_length(encode(text)) AS INT) AS n_bytes, "
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(generate_series(1, length(text)), "
            "i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))), "
            "(acc, c) -> acc + c) % 2147483648 AS checksum, "
            "CAST(CAST(FLOOR((octet_length(encode(text)) + 3) / 4.0) AS BIGINT) AS INT) "
            "AS resized_bytes FROM documents"
        ),
        # operators/packing.py chunk_documents(chunk=32, overlap=8):
        # window starts advance by step=24; chunk_idx = start/step
        "text_chunks": (
            "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
            "s AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 24)) AS st FROM t) "
            "SELECT doc_id, CAST(st // 24 AS INT) AS chunk_idx, "
            "CAST(len(list_slice(toks, CAST(st + 1 AS INT), CAST(st + 32 AS INT))) AS INT) "
            "AS n_chunk_tokens, "
            "md5(array_to_string(list_slice(toks, CAST(st + 1 AS INT), CAST(st + 32 AS INT)), ' ')) "
            "AS chunk_hash FROM s"
        ),
        # operators/packing.py pack_sequences(capacity=256, n_shards=8):
        # the greedy first-fit fold replayed as a recursive CTE — one
        # row per shard per iteration, depth = max shard size
        "pack_sequences": (
            "WITH RECURSIVE base AS (SELECT doc_id, "
            + _H64_DUCK.format(s="CAST(doc_id AS VARCHAR)")
            + " AS h, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents), "
            "sh AS (SELECT doc_id, h, n_tokens, CAST(h % 8 AS INT) AS shard, "
            "ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn FROM base), "
            "p AS (SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin, "
            "CAST(n_tokens AS BIGINT) AS fill FROM sh WHERE rn = 1 "
            "UNION ALL SELECT b.shard, b.rn, b.doc_id, b.n_tokens, "
            "CASE WHEN p.fill + b.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END, "
            "CASE WHEN p.fill + b.n_tokens > 256 THEN CAST(b.n_tokens AS BIGINT) "
            "ELSE p.fill + b.n_tokens END "
            "FROM p JOIN sh b ON b.shard = p.shard AND b.rn = p.rn + 1) "
            "SELECT doc_id, shard, bin, n_tokens FROM p"
        ),
        # Closed-form twin of the REAL decoder (WAV chunk walk / BMP row
        # padding / VID0): every decoded header field and content sum is
        # pure doc_id arithmetic, recomputed here without touching bytes.
        "multimodal_decode": (
            "WITH aud AS (SELECT doc_id, 'audio' AS kind, "
            "CAST(8000 + (doc_id % 8) * 1000 AS INT) AS meta_a, "
            "CAST(64 + doc_id % 128 AS INT) AS meta_b, "
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(generate_series(0, 64 + doc_id % 128 - 1), "
            "i -> (doc_id * 31 + i * 7) % 4096 - 2048)), (a, b) -> a + b) AS content_sum "
            "FROM documents WHERE doc_id % 3 = 1), "
            "img0 AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 9 AS h "
            "FROM documents WHERE doc_id % 3 = 0), "
            "imgpx AS (SELECT doc_id, w, h, unnest(generate_series(0, w * 3 * h - 1)) AS t FROM img0), "
            "img AS (SELECT doc_id, 'image' AS kind, CAST(MAX(w) AS INT) AS meta_a, "
            "CAST(MAX(h) AS INT) AS meta_b, "
            "CAST(SUM((doc_id + 3 * (CAST(FLOOR(t / 3.0) AS BIGINT) % w) "
            "+ 7 * CAST(FLOOR(t / (3.0 * w)) AS BIGINT) + 11 * (t % 3)) % 256) AS BIGINT) "
            "AS content_sum FROM imgpx GROUP BY doc_id), "
            "vid AS (SELECT doc_id, 'video' AS kind, CAST(32 AS INT) AS meta_a, "
            "CAST(1 + doc_id % 7 AS INT) AS meta_b, "
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(generate_series(0, (1 + doc_id % 7) * 32 - 1), "
            "j -> (doc_id + j) % 256)), (a, b) -> a + b) AS content_sum "
            "FROM documents WHERE doc_id % 3 = 2) "
            "SELECT * FROM aud UNION ALL SELECT * FROM img UNION ALL SELECT * FROM vid"
        ),
        "multimodal_frame_meta": (
            "WITH m AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' "
            "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, "
            "octet_length(encode(text)) AS n FROM documents), "
            "f AS (SELECT doc_id, kind, n, unnest(generate_series(0, "
            "CAST(CEIL(n / 64.0) AS BIGINT) - 1, 4)) AS fi FROM m WHERE n > 0) "
            "SELECT doc_id, kind, CAST(fi AS INT) AS frame_idx, "
            "CAST(LEAST(64, n - fi * 64) AS INT) AS frame_bytes FROM f"
        ),
        "events_hourly": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
            "FROM events GROUP BY date_trunc('hour', ts), event_type"
        ),
        "events_asof": (
            "WITH l AS (SELECT * FROM events WHERE event_type = 'click'), "
            "r AS (SELECT * FROM events WHERE event_type = 'view'), "
            "cand AS (SELECT l.event_id AS click_id, l.user_id, l.ts AS click_ts, "
            "r.event_id AS view_id, r.ts AS view_ts, "
            "ROW_NUMBER() OVER (PARTITION BY l.event_id "
            "ORDER BY r.ts DESC, r.event_id DESC) AS rn "
            "FROM l JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts) "
            "SELECT click_id, user_id, click_ts, view_id, view_ts FROM cand WHERE rn = 1"
        ),
        "events_sessionize": sessionize_sql,
        # the streaming engine must land on the BATCH sessionize spec
        "stream_sessionize": sessionize_sql,
        # operators/events.py transitions: user-journey Markov edges
        "events_transitions": (
            "WITH t AS (SELECT event_type AS next_type, "
            "LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
            "AS prev_type FROM events) "
            "SELECT prev_type, next_type, COUNT(*) AS n_transitions FROM t "
            "WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type"
        ),
        "events_funnel": (
            "WITH typed AS (SELECT user_id, event_type, ts FROM events "
            "WHERE event_type IN ('view', 'click', 'purchase')), "
            "u AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0 "
            "FROM typed GROUP BY user_id), "
            "s1 AS (SELECT u.user_id, u.t0, MIN(t.ts) AS t1 FROM u LEFT JOIN typed t "
            "ON t.user_id = u.user_id AND t.event_type = 'click' AND t.ts >= u.t0 "
            "GROUP BY u.user_id, u.t0), "
            "s2 AS (SELECT s1.user_id, s1.t0, s1.t1, MIN(t.ts) AS t2 FROM s1 LEFT JOIN typed t "
            "ON t.user_id = s1.user_id AND t.event_type = 'purchase' AND t.ts >= s1.t1 "
            "GROUP BY s1.user_id, s1.t0, s1.t1) "
            "SELECT 1 AS step, 'view' AS step_name, COUNT(t0) AS n_users FROM s2 "
            "UNION ALL SELECT 2, 'click', COUNT(t1) FROM s2 "
            "UNION ALL SELECT 3, 'purchase', COUNT(t2) FROM s2"
        ),
        "agg_top_orders": (
            "SELECT l_orderkey, o_orderdate, "
            "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1.0 AS DECIMAL(18,4)) "
            "- CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS DOUBLE) AS revenue "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' "
            "AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00' "
            "GROUP BY l_orderkey, o_orderdate "
            "ORDER BY revenue DESC, l_orderkey LIMIT 10"
        ),
        "agg_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, "
            "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1.0 AS DECIMAL(18,4)) "
            "- CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS DOUBLE) AS sum_disc_price, "
            "COUNT(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
    }
