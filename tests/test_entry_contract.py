"""Mimics the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count + column names + order-insensitive values.

Runs at sf0.001 to stay fast; the driver runs the same thing at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    out = pdf[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(cols).reset_index(drop=True)


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    got = q(spark, SF_DIR).toPandas()
    exp = duck.execute(ORACLES[name]).fetchdf()
    assert sorted(got.columns) == sorted(exp.columns), (sorted(got.columns), sorted(exp.columns))
    assert len(got) == len(exp), f"row count: spark={len(got)} duckdb={len(exp)}"
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        if g[c].dtype.kind == "f":
            assert all(
                (math.isnan(x) and math.isnan(y)) or x == y
                for x, y in zip(g[c], e[c].astype(float))
            ), f"float col {c} differs (bitwise)"
        else:
            assert g[c].tolist() == pd.Series(e[c]).tolist(), f"col {c} differs"


def test_every_query_has_entry_or_documented_gap():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing
    # non-SQL-expressible ops are allowed to omit the oracle, but must be rare
    no_oracle = set(QUERIES) - set(ORACLES)
    assert no_oracle <= {"multimodal_features"}


def test_gate_surface_is_bounded_and_fully_oracled(spark):
    """The driver records only the first 50 queries() entries (r02 lost 4
    rows to this): the gate dict must stay <= 50, every key oracled, and
    every fine-grained bench query must still be importable/buildable."""
    assert len(QUERIES) <= 50
    assert set(QUERIES) == set(ORACLES)
    fine = entrymod.bench_queries()
    # every merged-away fine variant still exists for bench + tests
    for k in (
        "spatial_knn_kernel", "spatial_join_salted",
        "spatial_pip_strict", "tiles_primary", "tiles_cover", "ann_lsh_buckets",
        "spatial_join_bucketed",
    ):
        assert k in fine, k


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.schema is not None
    assert len(rows) >= 0
