"""Deterministic interleaved-document synthesis (FIXTURES.md).

Every value is a pure function of ``(seed, idx)`` via a splitmix64-style
integer hash — NO per-partition RNG state — so generation is
parallelism-independent: `local[8]` and `local[32]` produce byte-identical
row sets (BASELINE.md bench requirement; SURVEY.md section 7.5 item 4).

Schema follows BASELINE.json input_hint:
    doc_id string,
    spans array<struct<kind:string, text:string, media_ref:string, offset:int>>

Exactly one span per doc has kind='geo' whose text is the reference's
dataset line format ``"x1 y1, x2 y2"`` (reference: src/Main.cpp:65-77).
Coordinates live on a 0.25 lattice in [0, 1024) — exactly representable
in float32 AND float64, so float32 kernels and a double-precision SQL
oracle agree on every closed-bound comparison.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), False),
                        T.StructField("text", T.StringType(), False),
                        T.StructField("media_ref", T.StringType(), False),
                        T.StructField("offset", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt labore dolore magna aliqua enim minim veniam quis"
).split()

_MEDIA_KINDS = ("text", "image", "audio")

# Cluster centers for the hot-cell-skew mixture (FIXTURES.md: "dense urban
# tiles", north_star skew handling). Lattice-aligned.
_CLUSTERS = np.array([[128.0, 128.0], [640.0, 512.0], [900.25, 100.5]])
_CLUSTER_DIAM = 8.0


def _h64(x: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finalizer — pure function of (x, seed), vectorized."""
    z = (np.asarray(x, dtype=np.uint64) + np.uint64(seed * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF))
    with np.errstate(over="ignore"):
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z


def _u(x: np.ndarray, seed: int) -> np.ndarray:
    """uniform [0,1) derived from the hash (53-bit mantissa)."""
    return (_h64(x, seed) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def rects_for_indices(
    idx: np.ndarray,
    seed: int,
    cluster_frac: float = 0.30,
    cluster_diam: float = _CLUSTER_DIAM,
    max_dim: float = 16.0,
    extent: float = 1024.0,
) -> dict[str, np.ndarray]:
    """Lattice rects: (1-cluster_frac) uniform over [0,1024)^2, the rest
    clustered into hot spots of diameter ``cluster_diam`` (skew knob —
    defaults reproduce the original fixture distribution)."""
    idx = np.asarray(idx, dtype=np.int64)
    clustered = _u(idx, seed + 1) < cluster_frac
    scale = extent / 1024.0
    # uniform centers on the 0.25 lattice
    ux = np.floor(_u(idx, seed + 2) * 4096.0 * scale) * 0.25
    uy = np.floor(_u(idx, seed + 3) * 4096.0 * scale) * 0.25
    # clustered centers: pick a cluster, offset within +-diam/2 on the lattice
    ci = (_h64(idx, seed + 4) % np.uint64(len(_CLUSTERS))).astype(np.int64)
    off_x = np.floor((_u(idx, seed + 5) - 0.5) * cluster_diam * 4.0) * 0.25
    off_y = np.floor((_u(idx, seed + 6) - 0.5) * cluster_diam * 4.0) * 0.25
    cxr = _CLUSTERS[ci, 0] * scale + off_x
    cyr = _CLUSTERS[ci, 1] * scale + off_y
    x = np.where(clustered, cxr, ux)
    y = np.where(clustered, cyr, uy)
    # width/height in {0.25 .. max_dim}, multiples of 0.25
    steps = np.uint64(max(1, int(max_dim * 4)))
    w = ((_h64(idx, seed + 7) % steps).astype(np.float64) + 1.0) * 0.25
    h = ((_h64(idx, seed + 8) % steps).astype(np.float64) + 1.0) * 0.25
    return {
        "min_x": x,
        "min_y": y,
        "max_x": x + w,
        "max_y": y + h,
    }


def _fmt_coord(v: float) -> str:
    """Lattice coords are multiples of 0.25 — format without float noise."""
    return f"{v:.2f}".rstrip("0").rstrip(".") if v % 1 else str(int(v))


def synth_docs_pdf(
    prefix: str,
    n: int,
    seed: int = 42,
    start: int = 0,
    cluster_frac: float = 0.30,
    cluster_diam: float = _CLUSTER_DIAM,
    max_dim: float = 16.0,
) -> pd.DataFrame:
    """Pandas chunk of interleaved docs for indices [start, start+n)."""
    idx = np.arange(start, start + n, dtype=np.int64)
    r = rects_for_indices(idx, seed, cluster_frac, cluster_diam, max_dim)
    n_spans = (_h64(idx, seed + 10) % np.uint64(4)).astype(np.int64) + 3  # 3..6
    geo_pos = (_h64(idx, seed + 11) % n_spans.astype(np.uint64)).astype(np.int64)
    doc_ids, spans_col = [], []
    for j in range(len(idx)):
        i = int(idx[j])
        doc_id = f"{prefix}{i:08d}"
        spans = []
        for off in range(int(n_spans[j])):
            if off == int(geo_pos[j]):
                text = (
                    f"{_fmt_coord(r['min_x'][j])} {_fmt_coord(r['min_y'][j])}, "
                    f"{_fmt_coord(r['max_x'][j])} {_fmt_coord(r['max_y'][j])}"
                )
                spans.append({"kind": "geo", "text": text, "media_ref": "", "offset": off})
                continue
            kind = _MEDIA_KINDS[int(_h64(np.int64(i * 16 + off), seed + 12) % np.uint64(3))]
            if kind == "text":
                wi = _h64(np.int64(i * 64 + off), seed + 13)
                words = [_WORDS[int((wi >> np.uint64(s * 5)) % np.uint64(len(_WORDS)))] for s in range(5)]
                spans.append({"kind": "text", "text": " ".join(words), "media_ref": "", "offset": off})
            else:
                spans.append(
                    {
                        "kind": kind,
                        "text": "",
                        "media_ref": f"s3://synth/{kind}/{doc_id}/{off}.bin",
                        "offset": off,
                    }
                )
        doc_ids.append(doc_id)
        spans_col.append(spans)
    return pd.DataFrame({"doc_id": doc_ids, "spans": spans_col})


def synth_docs_df_fast(
    spark: SparkSession,
    prefix: str,
    n: int,
    seed: int = 42,
    num_partitions: int | None = None,
    cluster_frac: float = 0.30,
    cluster_diam: float = _CLUSTER_DIAM,
    max_dim: float = 16.0,
) -> DataFrame:
    """Distributed generator: spark.range + mapInPandas over the same pure
    per-index function — identical rows at any parallelism level,
    vectorized per Arrow batch (contiguous id runs synth in one call)."""

    def gen(batches):
        for pdf in batches:
            ids = np.sort(pdf["id"].to_numpy())
            if len(ids) == 0:
                continue
            # ids from spark.range partitions are contiguous runs
            runs = np.split(ids, np.where(np.diff(ids) != 1)[0] + 1)
            for run in runs:
                yield synth_docs_pdf(
                    prefix, len(run), seed, start=int(run[0]),
                    cluster_frac=cluster_frac, cluster_diam=cluster_diam,
                    max_dim=max_dim,
                )

    rng = spark.range(0, n, numPartitions=num_partitions)
    return rng.mapInPandas(gen, schema=DOC_SCHEMA)


def synth_range_queries_pdf(n: int, seed: int = 43) -> pd.DataFrame:
    """Range-query fixture (readRangeQueries format, src/Main.cpp:80-105):
    mix of tiny / medium / huge boxes plus closed-bound edge cases."""
    idx = np.arange(n, dtype=np.int64)
    x = np.floor(_u(idx, seed) * 4096.0) * 0.25
    y = np.floor(_u(idx, seed + 1) * 4096.0) * 0.25
    kind = _h64(idx, seed + 2) % np.uint64(4)
    size = np.select(
        [kind == 0, kind == 1, kind == 2, kind == 3],
        [0.25, 8.0, 64.0, 0.0],  # tiny, medium, huge slab, zero-area point query
    )
    pdf = pd.DataFrame(
        {
            "query_id": [f"R{i:04d}" for i in idx],
            "min_x": x,
            "min_y": y,
            "max_x": np.minimum(x + size, 1024.0),
            "max_y": np.minimum(y + size, 1024.0),
        }
    )
    # one query containing everything: every doc is a hit, every cell a candidate cell
    pdf.loc[0, ["min_x", "min_y", "max_x", "max_y"]] = [0.0, 0.0, 1024.0, 1024.0]
    return pdf


def synth_knn_queries_pdf(n: int, seed: int = 44, ks=(1, 5, 64, 200)) -> pd.DataFrame:
    """kNN query points = rect centroids computed on the lattice
    (centroid rule, reference src/Main.cpp:126-129)."""
    idx = np.arange(n, dtype=np.int64)
    r = rects_for_indices(idx, seed)
    # centroid of lattice rects: multiples of 0.125 — still f32/f64 exact
    x = (r["min_x"] + r["max_x"]) / 2.0
    y = (r["min_y"] + r["max_y"]) / 2.0
    k = np.asarray(ks, dtype=np.int64)[(_h64(idx, seed + 1) % np.uint64(len(ks))).astype(np.int64)]
    return pd.DataFrame({"query_id": [f"K{i:04d}" for i in idx], "x": x, "y": y, "k": k})


def synth_docs_df_vec(
    spark: SparkSession,
    prefix: str,
    n: int,
    seed: int = 42,
    num_partitions: int | None = None,
    cluster_frac: float = 0.30,
    cluster_diam: float = _CLUSTER_DIAM,
    max_dim: float = 16.0,
    extent: float = 1024.0,
) -> DataFrame:
    """Fully vectorized interleaved-doc generator (large-scale bench
    path): fixed 3-span sequence (text, geo, image) built with numpy
    string kernels — no per-doc Python loop, ~50x synth_docs_df_fast.
    Same deterministic (seed, idx) hashing, same input_hint schema."""

    def gen(batches):
        for pdf in batches:
            ids = np.sort(pdf["id"].to_numpy())
            if len(ids) == 0:
                continue
            r = rects_for_indices(ids, seed, cluster_frac, cluster_diam, max_dim, extent)
            fmt = lambda v: np.char.mod("%.2f", v)  # lattice: exact 2-dec strings
            geo = np.char.add(
                np.char.add(np.char.add(fmt(r["min_x"]), " "), fmt(r["min_y"])),
                np.char.add(
                    np.char.add(", ", np.char.add(fmt(r["max_x"]), " ")), fmt(r["max_y"])
                ),
            )
            doc_ids = np.char.add(prefix, np.char.mod("%08d", ids))
            wi = (_h64(ids, seed + 13) % np.uint64(len(_WORDS))).astype(np.int64)
            words = np.asarray(_WORDS, dtype=object)[wi]
            spans = [
                [
                    {"kind": "text", "text": str(w), "media_ref": "", "offset": 0},
                    {"kind": "geo", "text": str(g), "media_ref": "", "offset": 1},
                    {"kind": "image", "text": "", "media_ref": f"s3://synth/image/{d}/2.bin", "offset": 2},
                ]
                for w, g, d in zip(words, geo, doc_ids)
            ]
            yield pd.DataFrame({"doc_id": doc_ids, "spans": spans})

    rng = spark.range(0, n, numPartitions=num_partitions)
    return rng.mapInPandas(gen, schema=DOC_SCHEMA)
