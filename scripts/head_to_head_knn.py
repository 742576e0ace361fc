#!/usr/bin/env python
"""Head-to-head kNN vs the reference binary (round 5; VERDICT r4 #7).

Extends BENCH/HEAD_TO_HEAD.md (join + small-query latency) with the
``-n -k`` mode — the reference's most algorithmically interesting query
(best-first search with a distance bound, RTreeBulkLoad.cpp:238-302) —
at a BATCH scale where distributed execution is the point: N data rects,
M query centroids, k=5.

Protocol (same as the r4 join head-to-head):
- reference compiled from /root/reference with its own flags
  (g++ -O3 -mavx -std=c++17, CMakeLists.txt:4) — byte-identical input
  text files in the reference's own format;
- a SECOND, patched copy (the reference's own commented-out result
  print re-enabled + a query-id header) is compiled ONLY for output
  verification, never timed;
- engine reads the SAME files via rtree_cpp_spark.sources
  .reference_files and runs operators.knn.knn at local[CPUS];
- outputs compared per query: exact id-set match, else tie-equivalence
  (same float32 sq-dist multiset — the documented K2 tie-break
  deviation), else a TRUE mismatch (the reference's early-termination
  bound bug, RTreeBulkLoad.cpp:284-295) — all three counted.

Env: H2H_N (default 3000000), H2H_Q (300000), H2H_K (5),
SPARK_GRAFT_CPUS (os.cpu_count()), SPARK_GRAFT_DRIVER_MEM (8g).
Prints one JSON line -> BENCH/knn_h2h.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

REF = "/root/reference"


def build_reference(work: Path) -> tuple[Path, Path]:
    """(timed_bin, verify_bin): pristine build + print-patched build."""
    srcs = [
        "src/Main.cpp",
        "src/rtree/builders/RTreeBulkLoad.cpp",
        "src/rtree/structures/Node.cpp",
        "src/rtree/structures/Rectangle.cpp",
        "src/rtree/structures/Point.cpp",
    ]
    flags = ["-O3", "-mavx", "-std=c++17"]  # CMakeLists.txt:4

    timed = work / "rtree_ref"
    subprocess.run(
        ["g++", *flags, *[f"{REF}/{s}" for s in srcs], "-o", str(timed)],
        check=True, capture_output=True,
    )

    # verification copy: re-enable the reference's own result drain
    # (RTreeBulkLoad.cpp:297-301) + print a query header in the -n loop
    psrc = work / "patched"
    shutil.copytree(f"{REF}/src", psrc / "src")
    bl = psrc / "src/rtree/builders/RTreeBulkLoad.cpp"
    code = bl.read_text()
    knn_block = code[code.index("/*while (!m_distanceQueue.empty())"):]
    knn_block = knn_block[: knn_block.index("*/") + 2]
    code = code.replace(knn_block, knn_block[2:-2])  # strip /* and */
    bl.write_text(code)
    mn = psrc / "src/Main.cpp"
    mcode = mn.read_text()
    loop = "for (const auto& query : nearestQueries) {"
    assert loop in mcode
    mcode = mcode.replace(
        loop,
        'int qi = 0; for (const auto& query : nearestQueries) { '
        'std::cout << "Q " << (++qi) << "\\n";',
    )
    mn.write_text(mcode)
    verify = work / "rtree_verify"
    subprocess.run(
        ["g++", *flags, *[str(psrc / s) for s in srcs], "-o", str(verify)],
        check=True, capture_output=True,
    )
    return timed, verify


def write_rect_file(path: Path, n: int, seed: int) -> None:
    """Reference text format from the shared deterministic generator
    (same recipe as the r4 join head-to-head: cluster_frac=0.1,
    cluster_diam=64, max_dim=4)."""
    from rtree_cpp_spark.sources.synth import rects_for_indices

    with open(path, "w") as f:
        chunk = 1_000_000
        for start in range(0, n, chunk):
            idx = np.arange(start, min(start + chunk, n), dtype=np.int64)
            r = rects_for_indices(idx, seed, cluster_frac=0.1, cluster_diam=64.0, max_dim=4.0)
            cols = [r["min_x"], r["min_y"], r["max_x"], r["max_y"]]
            a = np.stack([np.asarray(c, dtype=np.float64) for c in cols], axis=1)
            lines = [f"{x1:g} {y1:g}, {x2:g} {y2:g}" for x1, y1, x2, y2 in a]
            f.write("\n".join(lines) + "\n")


def run_reference(binary: Path, data: Path, queries: Path, k: int):
    t0 = time.perf_counter()
    p = subprocess.run(
        [str(binary), "-n", "-k", str(k), str(data), str(queries)],
        capture_output=True, text=True, check=True,
    )
    wall = round(time.perf_counter() - t0, 2)
    build = query = None
    for line in p.stdout.splitlines():
        if line.startswith("Build Time:"):
            build = float(line.split()[2])
        if line.startswith("Nearest Query Time:"):
            query = float(line.split()[3])
    return {"wall": wall, "build_sec": build, "query_sec": query}


def parse_verify_output(text: str, k: int) -> dict[int, list[int]]:
    """{query_id: [neighbor ids]} from the patched binary's stdout."""
    out: dict[int, list[int]] = {}
    cur = None
    for line in text.splitlines():
        if line.startswith("Q "):
            cur = int(line[2:])
            out[cur] = []
        elif cur is not None and line and ":" in line:
            out[cur].append(int(line.split(":")[0].strip()))
    return out


def main() -> None:
    n = int(os.environ.get("H2H_N", "3000000"))
    m = int(os.environ.get("H2H_Q", "300000"))
    k = int(os.environ.get("H2H_K", "5"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    work = Path(os.environ.get("H2H_DIR") or tempfile.mkdtemp(prefix="knn_h2h_"))
    work.mkdir(parents=True, exist_ok=True)

    timed_bin, verify_bin = build_reference(work)
    data_f, query_f = work / "data.txt", work / "queries.txt"
    if not data_f.exists():
        write_rect_file(data_f, n, seed=42)
    if not query_f.exists():
        write_rect_file(query_f, m, seed=99)

    # --- reference (timed, pristine build): best of 2 ---
    ref_runs = [run_reference(timed_bin, data_f, query_f, k) for _ in range(2)]
    ref = min(ref_runs, key=lambda r: r["wall"])

    # --- engine ---
    from pyspark.sql import SparkSession, functions as F

    from rtree_cpp_spark.functions.cells import Grid
    from rtree_cpp_spark.operators.knn import knn
    from rtree_cpp_spark.sources.reference_files import load_data, read_nearest_queries

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("knn-h2h")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # occupancy-matched resolution (median ~64/cell at N=3M): level 8
    grid = Grid(8)

    def engine_run():
        data = load_data(spark, str(data_f))
        q = read_nearest_queries(spark, str(query_f)).withColumn("k", F.lit(k))
        t0 = time.perf_counter()
        res = knn(data, q, grid)
        n_out = res.count()
        return round(time.perf_counter() - t0, 2), n_out, res

    engine_run()  # warm (JIT, parquet-free: text reread both times)
    eng_walls = []
    for _ in range(2):
        w, n_out, res = engine_run()
        eng_walls.append(w)
    eng_wall = min(eng_walls)

    # --- verification (untimed): patched reference vs engine rows ---
    vt = subprocess.run(
        [str(verify_bin), "-n", "-k", str(k), str(data_f), str(query_f)],
        capture_output=True, text=True, check=True,
    )
    ref_ids = parse_verify_output(vt.stdout, k)
    eng = res.toPandas()
    eng["query_id"] = eng["query_id"].astype(int)
    eng["doc_id"] = eng["doc_id"].astype(int)
    eng_by_q = eng.groupby("query_id")["doc_id"].apply(set)

    # float32 distances for tie-equivalence checks (K2 deviation)
    from rtree_cpp_spark.sources.synth import rects_for_indices

    didx = np.arange(0, n, dtype=np.int64)
    dr = rects_for_indices(didx, 42, cluster_frac=0.1, cluster_diam=64.0, max_dim=4.0)
    qidx = np.arange(0, m, dtype=np.int64)
    qr = rects_for_indices(qidx, 99, cluster_frac=0.1, cluster_diam=64.0, max_dim=4.0)
    qx = ((qr["min_x"].astype(np.float32) + qr["max_x"].astype(np.float32)) / np.float32(2.0)).astype(np.float32)
    qy = ((qr["min_y"].astype(np.float32) + qr["max_y"].astype(np.float32)) / np.float32(2.0)).astype(np.float32)

    def sqd32(ids_1based: np.ndarray, qi_1based: int) -> np.ndarray:
        i = ids_1based - 1
        x, y = qx[qi_1based - 1], qy[qi_1based - 1]
        dx = np.maximum(np.maximum(dr["min_x"][i].astype(np.float32) - x, x - dr["max_x"][i].astype(np.float32)), np.float32(0))
        dy = np.maximum(np.maximum(dr["min_y"][i].astype(np.float32) - y, y - dr["max_y"][i].astype(np.float32)), np.float32(0))
        return (dx * dx + dy * dy).astype(np.float32)

    n_exact = n_tie = n_mismatch = 0
    mismatches = []
    for qid, rids in ref_ids.items():
        eset = eng_by_q.get(qid, set())
        rset = set(rids)
        if rset == eset:
            n_exact += 1
            continue
        rd = np.sort(sqd32(np.asarray(sorted(rset), dtype=np.int64), qid))
        ed = np.sort(sqd32(np.asarray(sorted(eset), dtype=np.int64), qid))
        if len(rd) == len(ed) and np.array_equal(rd, ed):
            n_tie += 1
        else:
            n_mismatch += 1
            if len(mismatches) < 5:
                mismatches.append({"query": qid, "ref": sorted(rset), "eng": sorted(eset)})

    out = {
        "n_data": n, "n_queries": m, "k": k, "cpus": cpus,
        "reference": ref,
        "reference_runs": ref_runs,
        "engine_wall_sec": eng_wall, "engine_walls": eng_walls,
        "engine_rows": int(n_out),
        "verify": {
            "queries_checked": len(ref_ids),
            "exact_id_match": n_exact,
            "tie_equivalent_f32": n_tie,
            "true_mismatch": n_mismatch,
            "examples": mismatches,
        },
    }
    line = json.dumps(out)
    with open(REPO / "BENCH" / "knn_h2h.json", "w") as f:
        f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
