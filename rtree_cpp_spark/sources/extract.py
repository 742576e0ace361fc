"""Geometry extraction from interleaved span sequences.

The reference parses dataset lines ``"x1 y1, x2 y2"`` as float32 with
line-order ids (reference: src/Main.cpp:50-78, ``exit(0)`` on bad line).
Here the same line format lives in each document's ``kind='geo'`` span
(BASELINE.json input_hint), and extraction is fully **JVM-side Column
expressions** (whole-stage codegen, zero Python); tests check the
parse against a numpy float32 parse of the same lines.

Span-sequence invariant: extraction only *adds* rect columns — the
``spans`` array passes through untouched, so `(kind, text, media_ref,
order-by-offset)` equality holds on every downstream output that
re-joins spans by doc_id (SURVEY.md section 1.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RECT_COLS = ("min_x", "min_y", "max_x", "max_y")


def geo_text_col(spans: Column) -> Column:
    """The geo span's text (first span with kind='geo')."""
    return F.element_at(F.filter(spans, lambda s: s["kind"] == F.lit("geo")), 1)["text"]


def rect_cols_from_text(txt: Column) -> dict[str, Column]:
    """Parse ``"x1 y1, x2 y2"`` → float32 rect columns.

    Spark's ``float`` cast IS IEEE float32 — same type the reference
    parses into (src/Main.cpp:67).  A malformed line casts to NULL.
    """
    parts = F.split(F.trim(txt), r"[,\s]+")
    return {
        "min_x": F.element_at(parts, 1).cast("float"),
        "min_y": F.element_at(parts, 2).cast("float"),
        "max_x": F.element_at(parts, 3).cast("float"),
        "max_y": F.element_at(parts, 4).cast("float"),
    }


def with_rect(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans, ...) → + (min_x, min_y, max_x, max_y) float32.

    Raises on any doc without a parseable geo span — the distributed
    analog of the reference's ``exit(0)`` on a bad line
    (src/Main.cpp:73-74) — via ``raise_error`` inside the plan (no
    driver-side collect).
    """
    out = docs
    for name, c in rect_cols_from_text(geo_text_col(F.col("spans"))).items():
        out = out.withColumn(name, c)
    bad = F.raise_error(F.concat(F.lit("malformed geo span in doc "), F.col("doc_id")))
    for name in RECT_COLS:
        out = out.withColumn(name, F.when(F.col(name).isNull(), bad).otherwise(F.col(name)))
    return out


def rects_only(docs: DataFrame) -> DataFrame:
    """Narrow projection carried through shuffles: (doc_id, rect).
    Spans are re-joined by doc_id at the end (SURVEY.md section 1.4)."""
    return with_rect(docs).select("doc_id", *RECT_COLS)


def spans_signature_col(spans: Column) -> Column:
    """Canonical string of the (kind, text, media_ref) sequence ordered by
    offset — the per-row invariant checked on every output (north_star)."""
    ordered = F.array_sort(
        F.transform(
            spans,
            lambda s: F.struct(
                s["offset"].alias("offset"),
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        )
    )
    return F.concat_ws(
        "\x1e",
        F.transform(ordered, lambda s: F.concat_ws("\x1f", s["kind"], s["text"], s["media_ref"])),
    )
