import re
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rtree_cpp_spark.functions.cells import Grid
from rtree_cpp_spark.operators.tiles import primary_tiles
from rtree_cpp_spark.plans import manifest


@pytest.fixture()
def tiles_df(spark, rects_a_pdf):
    df = primary_tiles(spark.createDataFrame(rects_a_pdf), Grid(3))
    return df


def test_resumable_write_full(spark, tiles_df, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    res = manifest.resumable_write(tiles_df, out, "cell", man, "run1", "tiles", keys_per_batch=8)
    assert res["output_rows"] == tiles_df.count()
    assert not res["skipped_keys"]
    got = spark.read.parquet(out)
    assert got.count() == tiles_df.count()
    # manifest has one done row per key
    m = manifest.read_manifest(spark, man)
    keys = tiles_df.select("cell").distinct().count()
    assert m.where(F.col("status") == "done").count() == keys


def test_resume_after_crash(spark, tiles_df, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    # crash after the first batch
    with pytest.raises(RuntimeError, match="injected failure"):
        manifest.resumable_write(
            tiles_df, out, "cell", man, "run2", "tiles", keys_per_batch=8, fail_after_batches=1
        )
    done_before = set(manifest.done_keys(spark, man, "run2", "tiles"))
    assert 0 < len(done_before) <= 8
    # resume: completed keys skipped, final output identical to a full run
    res = manifest.resumable_write(tiles_df, out, "cell", man, "run2", "tiles", keys_per_batch=8)
    assert set(res["skipped_keys"]) == done_before
    got = spark.read.parquet(out).toPandas().sort_values(["cell", "doc_id"]).reset_index(drop=True)
    exp = tiles_df.toPandas().sort_values(["cell", "doc_id"]).reset_index(drop=True)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["cell"].tolist() == exp["cell"].tolist()


def test_upstream_executes_once(spark, tmp_path):
    """The upstream plan must run ONCE total, not once per key batch
    (at scale the upstream is the salted spatial join — per-batch
    re-execution multiplies the dominant stage by the batch count).
    An accumulator inside a pandas_udf upstream counts row evaluations."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    acc = spark.sparkContext.accumulator(0)

    @pandas_udf("long")
    def tick(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    n = 256
    base = spark.range(n).select(
        (F.col("id") % 8).alias("cell"), tick(F.col("id")).alias("doc_id")
    )
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    res = manifest.resumable_write(base, out, "cell", man, "run4", "t", keys_per_batch=2)
    assert res["output_rows"] == n
    assert len(res["written_keys"]) == 8  # 4 batches of 2 keys
    # exactly one evaluation per row: the count agg materialized the cache
    # and every batch write scanned it (no per-batch upstream replay)
    assert acc.value == n


def _parquet_files(path):
    return sorted(str(f) for f in Path(path).rglob("*.parquet"))


def test_layout_one_file_per_key(spark, tiles_df, tmp_path):
    """No key holds more than one task's share of the rows, so each key is
    written by one task as one file (not one file per upstream task)."""
    out = str(tmp_path / "out")
    manifest.resumable_write(tiles_df, out, "cell", str(tmp_path / "man"), "r", "tiles")
    keys = {r.cell for r in tiles_df.select("cell").distinct().collect()}
    per_key = Counter(Path(f).parent.name for f in _parquet_files(out))
    assert per_key == Counter({f"cell={k}": 1 for k in keys})


def test_layout_hot_key_split(spark, tmp_path):
    """A key holding >= 90% of the rows is spread over several tasks and
    files; the rows and the manifest counts are unchanged."""
    import pandas as pd

    from conftest import assert_same_rows

    n = 2000
    pdf = pd.DataFrame({"doc_id": range(n)})
    pdf["cell"] = [0 if i < 1900 else 1 + i % 5 for i in range(n)]
    pdf["v"] = pdf["doc_id"] * 0.5
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    res = manifest.resumable_write(spark.createDataFrame(pdf), out, "cell", man, "r", "hot")
    assert len(_parquet_files(Path(out) / "cell=0")) > 1
    assert_same_rows(spark.read.parquet(out), pdf)
    m = manifest.read_manifest(spark, man)
    assert m.agg(F.sum("output_rows")).first()[0] == res["output_rows"] == n


def test_manifest_one_file_per_batch(spark, tiles_df, tmp_path):
    man = str(tmp_path / "man")
    manifest.resumable_write(tiles_df, str(tmp_path / "out"), "cell", man, "r", "t", keys_per_batch=8)
    keys = tiles_df.select("cell").distinct().count()
    assert len(_parquet_files(man)) == -(-keys // 8)


def test_done_keys_absent_manifest_runs_no_job(spark, tmp_path):
    sc = spark.sparkContext
    group = "absent-manifest-probe"
    sc.setJobGroup(group, "done_keys on an absent manifest")
    try:
        assert manifest.done_keys(spark, str(tmp_path / "none"), "r", "s") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_bad_manifest_raises(spark, tmp_path):
    """A manifest that exists but cannot be read is an error, not 'no keys
    done' (which would silently rewrite every key)."""
    man = tmp_path / "man"
    man.mkdir()
    (man / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        manifest.done_keys(spark, str(man), "r", "s")


def test_manifest_dir_without_files_reads_empty(spark, tmp_path):
    """A crash during the first append leaves only the committer's
    ``_temporary`` directory: nothing is done yet, which is not an error."""
    man = tmp_path / "man"
    (man / "_temporary" / "0").mkdir(parents=True)
    assert manifest.done_keys(spark, str(man), "r", "s") == []


def test_append_manifest_types_without_arrow_conf(spark, tmp_path):
    from pyspark.sql.types import StructType

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        man = str(tmp_path / "man")
        rows = [("r", "s", 7, "done", 12, 34, 1, 5.5), ("r", "s", 8, "done", 0, 34, 1, 5.5)]
        manifest.append_manifest(spark, man, rows)
    finally:
        spark.conf.set(key, prev)
    got = spark.read.parquet(man)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in StructType.fromDDL(manifest.MANIFEST_SCHEMA)
    ]
    assert sorted(map(tuple, got.collect())) == rows


def test_manifest_rows_never_cross_as_python_list():
    """Manifest rows reach the JVM as a pyarrow.Table, never as a list
    (which would start Python workers to re-serialize a Python RDD)."""
    src = Path(manifest.__file__).read_text()
    assert not re.search(r"createDataFrame\((\[\]|rows)", src)


def test_rerun_is_noop(spark, tiles_df, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    manifest.resumable_write(tiles_df, out, "cell", man, "run3", "tiles")
    res = manifest.resumable_write(tiles_df, out, "cell", man, "run3", "tiles")
    assert not res["written_keys"]
    assert res["output_rows"] == 0


def test_run_dedup_job_end_to_end(spark, tmp_path, monkeypatch):
    """The dedup job writes duplicate clusters resumably; a rerun with the
    same run id skips every partition."""
    import sys as _sys

    import pandas as pd

    import pyspark.sql as pysql

    import jobs.run_dedup as rd

    # the job stops its session on exit; keep the shared test session alive
    monkeypatch.setattr(pysql.SparkSession, "stop", lambda self: None)

    dup = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [dup, dup, "other words here now then"]})
    )
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    docs.write.parquet(src)
    argv = [
        "run_dedup.py", "--input", src, "--mode", "components", "--output", out,
        "--manifest", man, "--run-id", "r1", "--num-parts", "4",
    ]
    monkeypatch.setattr(_sys, "argv", argv)
    rd.main()
    got = {r.doc_id: r.component_id for r in spark.read.parquet(out).collect()}
    assert got == {1: 1, 2: 1, 3: 3}
    from rtree_cpp_spark.plans import manifest as man_mod

    done = set(man_mod.done_keys(spark, man, "r1", "dedup_components"))
    assert done  # at least one partition recorded
    # rerun: everything skipped, output unchanged
    monkeypatch.setattr(_sys, "argv", argv)
    rd.main()
    assert {r.doc_id: r.component_id for r in spark.read.parquet(out).collect()} == got


def test_run_knn_join_job_frontier(spark, tmp_path, monkeypatch):
    """run_knn_join wiring end-to-end: loaders, argv,
    partitioned write + manifest — output rows equal the direct
    operator's."""
    import sys as _sys

    import pyspark.sql as pysql

    import jobs.run_knn_join as rkj
    from rtree_cpp_spark.functions.cells import Grid
    from rtree_cpp_spark.operators.knn import knn_join
    from rtree_cpp_spark.sources.extract import rects_only
    from rtree_cpp_spark.sources.synth import synth_docs_df_vec

    monkeypatch.setattr(pysql.SparkSession, "stop", lambda self: None)
    docs_a = synth_docs_df_vec(spark, "A", 30, seed=5)
    docs_b = synth_docs_df_vec(spark, "B", 200, seed=9)
    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    docs_a.write.parquet(src_a)
    docs_b.write.parquet(src_b)
    monkeypatch.setattr(
        _sys, "argv",
        ["run_knn_join.py", "--input-a", src_a, "--input-b", src_b,
         "--k", "3", "--output", out, "--manifest", man],
    )
    rkj.main()
    got = sorted(
        map(tuple, spark.read.parquet(out)
            .select("query_id", "doc_id", "sq_dist", "rank").collect())
    )
    want = sorted(
        map(tuple, knn_join(
            rects_only(spark.read.parquet(src_a)),
            rects_only(spark.read.parquet(src_b)), Grid(6), k=3,
        ).collect())
    )
    assert got == want and len(got) == 90


def test_run_dedup_rejects_nonpositive_num_parts(monkeypatch):
    import sys as _sys

    import pytest as _pytest

    import jobs.run_dedup as rd

    monkeypatch.setattr(
        _sys, "argv",
        ["run_dedup.py", "--input", "/tmp/x", "--output", "/tmp/y",
         "--manifest", "/tmp/z", "--num-parts", "0"],
    )
    with _pytest.raises(SystemExit):
        rd.main()


def test_run_curate_job_end_to_end(spark, tmp_path, monkeypatch):
    import sys as _sys

    import pandas as pd

    import pyspark.sql as pysql

    import jobs.run_curate as rc

    monkeypatch.setattr(pysql.SparkSession, "stop", lambda self: None)
    rich = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [rich, rich, "spam " * 50],  # dup pair + low quality
            }
        )
    )
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    docs.write.parquet(src)
    argv = [
        "run_curate.py", "--input", src, "--output", out, "--manifest", man,
        "--run-id", "c1", "--num-parts", "4",
    ]
    monkeypatch.setattr(_sys, "argv", argv)
    rc.main()
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1}  # dup 2 collapsed into 1; 3 failed quality
    monkeypatch.setattr(_sys, "argv", argv)
    rc.main()  # rerun: skip everything, output unchanged
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == got
