"""Deduplication operators for large-scale training-data pipelines.

Four families over a ``documents(doc_id, text, ...)`` table:

- exact          : hash-groupBy on full text
- MinHash + LSH  : shingle → 32 minhashes → 8 bands x 4 rows → band-bucket
                   self-join → candidate near-dup pairs
- SimHash        : 16-bit signed-sum signature over token hashes
- n-gram Jaccard : exact token-set similarity via token self-join

All hashing goes through ``conv(substring(md5(..),1,15),16,10)`` — pure
JVM built-ins (no UDFs), and bit-identically reproducible in ANSI SQL
(DuckDB: ``CAST('0x'||substr(md5(..),1,15) AS BIGINT)``), which is what
makes the driver's DuckDB oracle able to verify every operator.

Scale notes: the LSH band join shuffles on (band, bucket) — bounded by
band-bucket sizes, with AQE skew-split as backstop; the exact-Jaccard
self-join is quadratic per token and exists as the small-scale oracle
for the MinHash path, not the 100 TB path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = 4

# Universal-hash family for MinHash: each shingle is md5-hashed ONCE
# (h0), then the i-th hash is (A[i] * (h0 % P) + B[i]) % P — pure int64
# arithmetic, exact in any engine (operands < 2^62).  A/B are themselves
# md5-derived so the whole scheme is seedless and SQL-reproducible.
MINHASH_P = 2147483647  # 2^31 - 1


def _ab_constant(tag: str, i: int) -> int:
    return int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:15], 16)


MINHASH_A = [(_ab_constant("a", i) % (MINHASH_P - 1)) + 1 for i in range(N_HASHES)]
MINHASH_B = [_ab_constant("b", i) % MINHASH_P for i in range(N_HASHES)]


def _h64(s: Column) -> Column:
    """60-bit integer hash of a string, reproducible in ANSI SQL."""
    return F.conv(F.substring(F.md5(F.encode(s, "utf-8")), 1, 15), 16, 10).cast("long")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(text_hash, keep_id, n_copies): one row per distinct text; the
    kept doc is the minimum id (deterministic survivor pick)."""
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select(F.md5(F.encode("text", "utf-8")).alias("text_hash"), "keep_id", "n_copies")
    )


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def _shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-grams (only for docs with >= n tokens; callers filter)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j) for j in range(n)]
        ),
    )


def _minhash_wide(docs: DataFrame, n_hashes: int) -> DataFrame:
    """(doc_id, m0..m{n-1}): wide MinHash signature — ONE md5 per
    distinct (doc, shingle), then n cheap int64 universal hashes folded
    by n parallel MIN aggregates in a single groupBy (map-side partial
    aggregation; no row explosion, no per-seed shuffle)."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        # single-file inputs otherwise run the whole map side on one core
        docs = docs.repartition(sc.defaultParallelism)
    toks = _tokens(F.col("text"))
    # No distinct-shingle pass: MIN is idempotent under duplicates, so
    # min over the shingle multiset == min over the set (what the
    # oracle's DISTINCT computes) — saves a full shuffle.
    shingled = docs.where(F.size(toks) >= 3).select(
        "doc_id", F.explode(_shingles(toks)).alias("shingle")
    )
    hm = (_h64(F.col("shingle")) % MINHASH_P).alias("hm")
    with_h = shingled.select("doc_id", hm)
    mins = [
        F.min((F.lit(MINHASH_A[i]) * F.col("hm") + F.lit(MINHASH_B[i])) % MINHASH_P).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    return with_h.groupBy("doc_id").agg(*mins)


def lsh_candidate_pairs(
    docs: DataFrame, n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """(a_doc_id, b_doc_id): distinct candidate near-dup pairs — docs
    agreeing on all minhashes of at least one band.  a < b, directed.

    The band-bucket join shuffles on (band, bucket); at 100 TB the
    signature build is one scan + one groupBy(doc_id), and hot buckets
    (boilerplate-heavy corpora) are split by AQE skew-join."""
    sig = _minhash_wide(docs, n_bands * rows_per_band)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.encode(
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"m{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    ),
                    "utf-8",
                )
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    a = bands.select(F.col("doc_id").alias("a_doc_id"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("b_doc_id"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a_doc_id") < F.col("b_doc_id"))
        .select("a_doc_id", "b_doc_id")
        .distinct()
    )


def duplicate_components(
    docs: DataFrame, pairs: DataFrame | None = None, max_rounds: int = 20
) -> DataFrame:
    """(doc_id, component_id): every doc labeled with the MINIMUM doc_id
    reachable through the near-dup candidate-pair graph — the grouping
    step that turns LSH pairs into duplicate CLUSTERS (keep one doc per
    component).  Singletons keep their own id, so the output is a
    partition of the corpus.

    Algorithm: min-label propagation with pointer-jumping shortcut.
    Each round does (a) propagate: label(v) <- min(label(v), min over
    neighbors u of label(u)) — ONE shuffle (groupBy dst) + ONE join —
    and (b) shortcut: label(v) <- label(label(v)) (valid because labels
    are always doc_ids present in the label table and only ever
    decrease).  The shortcut halves path lengths, so convergence is
    O(log diameter) rounds, not O(diameter) — the property that makes
    this safe on adversarial chain graphs at 100 TB scale.  Near-dup
    graphs in practice have tiny diameter (clusters are quasi-cliques),
    so 2-3 rounds typically suffice.

    Each round materializes via ``localCheckpoint`` (truncates lineage —
    no exponential replan) and the driver checks a single-count
    convergence condition.  The driver loop is over ROUNDS, never rows.
    """
    if pairs is None:
        pairs = lsh_candidate_pairs(docs)
    sym = pairs.select(
        F.col("a_doc_id").alias("src"), F.col("b_doc_id").alias("dst")
    ).union(
        pairs.select(F.col("b_doc_id").alias("src"), F.col("a_doc_id").alias("dst"))
    )
    edges = sym.localCheckpoint()  # reused every round; compute pairs ONCE
    labels = docs.select(
        F.col("doc_id"), F.col("doc_id").alias("component_id")
    ).localCheckpoint()
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # carry the OLD label through the round so convergence is a flag
        # column on the round's own output — a scan of the checkpointed
        # result, not an extra N-row join against the previous table
        prop = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.col("component_id").alias("_old"),
            F.least(
                F.col("component_id"), F.coalesce("nbr_min", "component_id")
            ).alias("component_id"),
        )
        # pointer jump: follow the label one hop (label table is total on
        # doc_ids, so the inner join never drops rows)
        jumped = prop.join(
            prop.select(
                F.col("doc_id").alias("component_id"),
                F.col("component_id").alias("root"),
            ),
            "component_id",
        ).select(
            "doc_id",
            F.col("root").alias("component_id"),
            (F.col("root") != F.col("_old")).alias("_changed"),
        )
        new_labels = jumped.localCheckpoint()
        changed = new_labels.where(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    return labels


def shingle_dup_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_shingles, n_dup_shingles, dup_fraction): per-document
    CROSS-DOCUMENT duplicated-span statistic — for each doc, how many of
    its distinct word n-gram shingles also occur in at least one OTHER
    document.  The substring-level view of corpus duplication (the
    "duplicated spans" signal substring-dedup pipelines act on), at
    shingle granularity so it composes with the MinHash machinery above
    and never materializes suffix structures.

    Scale plan: distinct (doc, shingle) postings → per-shingle
    cross-doc test as ``min(doc_id) != max(doc_id)`` (NO countDistinct —
    min/max agg with map-side partials decides "appears in >= 2 docs"
    exactly, because postings are distinct per doc) → equi-join back on
    shingle → per-doc counts.  Two aggregations + one equi-join, all
    map-side-combinable; nothing is all-pairs and nothing leaves the
    JVM.  Docs with < n tokens have no shingles: restored by a left
    join with zero counts and dup_fraction 0.0.
    """
    toks = _tokens(F.col("text"))
    sh = (
        docs.where(F.size(toks) >= n)
        .select("doc_id", F.explode(_shingles(toks, n)).alias("shingle"))
        .distinct()
    )
    cross = sh.groupBy("shingle").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("is_dup")
    )
    per_doc = (
        sh.join(cross, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup_shingles"),
        )
    )
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0).cast("long"))
    n_dup = F.coalesce(F.col("n_dup_shingles"), F.lit(0).cast("long"))
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        n_sh.alias("n_shingles"),
        n_dup.alias("n_dup_shingles"),
        F.when(
            n_sh > 0, n_dup.cast("double") / n_sh.cast("double")
        ).otherwise(F.lit(0.0)).alias("dup_fraction"),
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): signed-bit-sum signature over token hashes.
    Bit j is 1 iff sum over token occurrences of ±1 (per hash bit j) >= 0.

    Single-pass plan (the ``_minhash_wide`` pattern): each token row
    feeds ``bits`` parallel conditional-sum aggregates in ONE
    groupBy(doc_id) with map-side partials — no tokens x bits row
    explosion and no second per-(doc, bit) shuffle."""
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    with_h = tok.select("doc_id", _h64(F.col("token")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    per_doc = with_h.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = 16, n_bands: int = 4
) -> DataFrame:
    """(a_doc_id, b_doc_id, hamming): pairs whose SimHash signatures are
    within ``max_hamming`` bits — near-dup candidates refined EXACTLY.

    Scale shape (pigeonhole blocking): any two signatures within
    ``max_hamming`` < ``n_bands`` bits agree on at least one of the
    ``n_bands`` bit-bands, so candidates come from ``n_bands`` cheap
    band equi-joins (shuffle on (band, value), AQE skew backstop), never
    an all-pairs scan; the exact ``bit_count(xor)`` refine then makes
    blocking LOSSLESS — the oracle for this operator is the quadratic
    brute-force SQL and must match bit-for-bit."""
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole blocking needs max_hamming < n_bands")
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    sig = simhash(docs, bits).localCheckpoint()  # built once, used by both sides
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * band_width)
            .bitwiseAND(F.lit(mask))
            .alias("val"),
        )
        for b in range(n_bands)
    ]
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "simhash", "bb.band", "bb.val")
    a = bands.select(
        F.col("doc_id").alias("a_doc_id"), F.col("simhash").alias("a_sig"), "band", "val"
    )
    b = bands.select(
        F.col("doc_id").alias("b_doc_id"), F.col("simhash").alias("b_sig"), "band", "val"
    )
    hamming = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    # Exactly-once without a distinct shuffle: a pair can meet in up to
    # n_bands buckets, but both sigs are present in the joined row, so
    # the FIRST band on which they agree is computable in codegen — keep
    # the pair only there (the band-join analog of reference-point dedup).
    xor = F.col("a_sig").bitwiseXOR(F.col("b_sig"))
    first_band = F.lit(None).cast("int")
    for bb in range(n_bands - 1, -1, -1):
        eq = (
            F.shiftrightunsigned(xor, bb * band_width).bitwiseAND(F.lit(mask)) == 0
        )
        first_band = F.when(eq, F.lit(bb)).otherwise(first_band)
    return (
        a.join(b, ["band", "val"])
        .where(F.col("a_doc_id") < F.col("b_doc_id"))
        .where(hamming <= F.lit(max_hamming))
        .where(F.col("band") == first_band)
        .select("a_doc_id", "b_doc_id", hamming.alias("hamming"))
    )


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(a_doc_id, b_doc_id, jaccard): exact token-set Jaccard >= threshold.

    Quadratic-per-token self-join — the small-scale exactness baseline
    that LSH approximates.  The similarity is a single IEEE754 division
    of small integers — bit-identical across engines, no rounding."""
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token")).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        toks.alias("x")
        .join(toks.alias("y"), "token")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a_doc_id"), F.col("y.doc_id").alias("b_doc_id"))
        .agg(F.count("*").alias("inter"))
    )
    j = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a_doc_id"), F.col("n").alias("na")), "a_doc_id")
        .join(sizes.select(F.col("doc_id").alias("b_doc_id"), F.col("n").alias("nb")), "b_doc_id")
        .withColumn("jaccard", j)
        .where(F.col("jaccard") >= threshold)
        .select("a_doc_id", "b_doc_id", "jaccard")
    )
