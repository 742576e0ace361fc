import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rtree_cpp_spark.sources import extract, synth


def test_synth_deterministic_and_lattice(docs_a_pdf):
    again = synth.synth_docs_pdf("A", 400, seed=42)
    pd.testing.assert_frame_equal(docs_a_pdf, again)
    # exactly one geo span per doc; offsets are 0..n-1
    for _, r in docs_a_pdf.iterrows():
        kinds = [s["kind"] for s in r["spans"]]
        assert kinds.count("geo") == 1
        assert [s["offset"] for s in r["spans"]] == list(range(len(r["spans"])))


def test_rects_on_lattice(rects_a_pdf):
    for c in ["min_x", "min_y", "max_x", "max_y"]:
        v = rects_a_pdf[c].to_numpy(dtype=np.float64)
        assert np.all(v * 4 == np.floor(v * 4))
    assert (rects_a_pdf.max_x > rects_a_pdf.min_x).all()
    assert (rects_a_pdf.min_x >= 0).all() and (rects_a_pdf.min_x < 1024).all()


def _canon_spans(col):
    return col.map(
        lambda spans: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
    ).tolist()


def test_distributed_synth_partition_independent(spark):
    a = synth.synth_docs_df_fast(spark, "A", 200, seed=42, num_partitions=2).toPandas()
    b = synth.synth_docs_df_fast(spark, "A", 200, seed=42, num_partitions=7).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert _canon_spans(a["spans"]) == _canon_spans(b["spans"])
    # and matches the local generator
    local = synth.synth_docs_pdf("A", 200, seed=42).sort_values("doc_id").reset_index(drop=True)
    assert _canon_spans(a["spans"]) == _canon_spans(local["spans"])


def test_jvm_extract_matches_float32_oracle(spark, docs_a_df, rects_a_pdf):
    got = (
        extract.rects_only(docs_a_df)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = rects_a_pdf.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # dtype really is float32 on the Spark side
    dt = dict(extract.rects_only(docs_a_df).dtypes)
    assert dt["min_x"] == "float"


def test_span_signature_invariant(spark, docs_a_df):
    # extraction + a shuffle + re-join by doc_id preserves the span sequence
    sig_in = docs_a_df.select(
        "doc_id", extract.spans_signature_col(F.col("spans")).alias("sig")
    )
    rects = extract.rects_only(docs_a_df)
    out = rects.repartition(13, "min_x").join(docs_a_df, "doc_id").select(
        "doc_id", extract.spans_signature_col(F.col("spans")).alias("sig")
    )
    a = sig_in.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_malformed_geo_fails_fast(spark):
    import pytest

    bad = spark.createDataFrame(
        [("X1", [{"kind": "geo", "text": "not a rect", "media_ref": "", "offset": 0}])],
        schema=synth.DOC_SCHEMA,
    )
    with pytest.raises(Exception):
        extract.with_rect(bad).collect()
