"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (JVM, whole-stage codegen).  Every numeric
output is either integer arithmetic or a single-rounding IEEE754 double
of integers — bit-identical across Spark and the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# tiny function-word list for the ratio heuristic (the synthetic corpus
# shares one vocabulary across lang labels, so this is an operator
# contract — deterministic scores — not a claim of accuracy)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct_tokens, n_chars)"""
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars"),
    )


def lang_id(docs: DataFrame, threshold: float = 0.05) -> DataFrame:
    """(doc_id, stop_ratio, lang_pred): stopword-ratio heuristic."""
    toks = F.split(F.col("text"), " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    ratio = F.round(n_stop.cast("double") / F.size(toks).cast("double"), 6)
    return docs.select(
        "doc_id",
        ratio.alias("stop_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, quality): 0..1 blend of length saturation and lexical
    diversity — 0.5*min(n_tokens/100, 1) + 0.5*(distinct/total)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("double")
    nd = F.size(F.array_distinct(toks)).cast("double")
    q = 0.5 * F.least(n / 100.0, F.lit(1.0)) + 0.5 * (nd / n)
    return docs.select("doc_id", F.round(q, 6).alias("quality"))


# BPE-ish pre-tokenization: word pieces OR single non-space symbols —
# the regex family GPT-2/tiktoken-style tokenizers split on before
# merges.  Dialect-neutral (same regex runs in Spark and DuckDB).
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens, n_word_tokens, n_symbol_tokens): regex
    pre-token counts — the BPE-ish twin of whitespace token_stats."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), 0)
    words = F.filter(toks, lambda t: t.rlike("^[A-Za-z]+$"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(words).alias("n_word_tokens"),
        (F.size(toks) - F.size(words)).alias("n_symbol_tokens"),
    )


ROLL_B = 31
ROLL_P = 2147483647  # 2^31 - 1; h*31 + c < 2^36 — exact in int64


def _rolling_hash_np(texts) -> pd.Series:
    """Batch Horner fold h = (h*B + code) mod P, vectorized ACROSS the
    batch: one masked column step per character position (max-doc-length
    iterations of whole-batch numpy ops) instead of an interpreted
    per-character lambda per document.  h*B + code < 2^36 — exact int64."""
    # NULL text -> NULL hash (the expr twin's semantics: F.aggregate over
    # a null array is null)
    null_mask = np.array([t is None or t is pd.NA or (isinstance(t, float) and np.isnan(t)) for t in texts])
    codes = [
        np.empty(0, dtype=np.int64)
        if null_mask[i]
        else np.frombuffer(str(t).encode("utf-32-le"), dtype="<u4").astype(np.int64)
        for i, t in enumerate(texts)
    ]
    n = len(codes)
    out = np.zeros(n, dtype=np.int64)
    if n:
        lens = np.fromiter((len(c) for c in codes), dtype=np.int64, count=n)
        max_len = int(lens.max())
        if max_len:
            mat = np.zeros((n, max_len), dtype=np.int64)
            for i, c in enumerate(codes):
                mat[i, : len(c)] = c
            for j in range(max_len):
                active = j < lens
                out[active] = (out[active] * ROLL_B + mat[active, j]) % ROLL_P
    result = pd.Series(out, dtype="Int64")
    result[null_mask] = pd.NA
    return result


def _rolling_hash_udf():
    # built lazily: pandas_udf type resolution needs an active session
    @pandas_udf("long")
    def roll(texts: pd.Series) -> pd.Series:
        return _rolling_hash_np(texts.to_numpy())

    return roll


def rolling_hash(docs: DataFrame, impl: str = "kernel") -> DataFrame:
    """(doc_id, roll_hash): polynomial rolling hash (Rabin-Karp) over the
    document's unicode code points — h = (h*31 + code) mod 2^31-1, left
    fold in character order.  Pure integer arithmetic, bit-identical in
    any engine; the windowed form of this hash is the shingle kernel a
    rolling-fingerprint dedup uses at scale.

    ``impl='expr'`` is the executable spec (JVM ``F.aggregate`` fold);
    ``impl='kernel'`` is the Arrow-batched numpy twin (same values,
    asserted by tests; the `_fold_dot_udf` pattern from
    similarity.py).  Measured honestly: the JVM fold is interpreted but
    NOT slow (~1 G char-ops/s at local[32]); the kernel wins only ~1.2x
    at 200k docs x 1k chars — kept as default for the margin and as the
    plug-point for windowed (shingle) rolling fingerprints where the
    per-position state makes numpy batching pay off."""
    if impl == "expr":
        chars = F.split(F.col("text"), "")
        h = F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, c: (acc * ROLL_B + F.ascii(c)) % ROLL_P,
        )
    elif impl == "kernel":
        h = _rolling_hash_udf()(F.col("text"))
    else:
        raise ValueError(f"impl must be 'expr' or 'kernel', got {impl!r}")
    return docs.select("doc_id", h.alias("roll_hash"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp_hash, fp64): md5 content fingerprint + 60-bit integer
    form (for bucketing/sorting without strings)."""
    h = F.md5(F.encode(F.lower(F.col("text")), "utf-8"))
    return docs.select(
        "doc_id",
        h.alias("fp_hash"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("fp64"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, top_token_frac, top_2gram_frac, dup_token_frac):
    Gopher-style repetition quality signals (Rae et al. 2021, table A1
    'repetition' filters — public paper) as pure Column expressions.

    - top_token_frac: occurrences of the most frequent token / n_tokens
    - top_2gram_frac: chars-equivalent fraction covered by the most
      frequent 2-gram (count * 2 / n_tokens)
    - dup_token_frac: (n_tokens - n_distinct_tokens) / n_tokens

    Scale shape: zero shuffle — every metric is a per-doc array
    expression (whole-stage codegen), so the operator is embarrassingly
    parallel over doc partitions.  The inner top-count is
    O(distinct x n) per doc; for pathological documents (books with
    huge vocabularies) the explode + groupBy(doc_id, gram) + max plan
    is the linear-cost alternative — at web-doc sizes the quadratic
    term is ~1e4 ops/doc and the shuffle it avoids dominates.
    Single-token docs have no 2-gram: top_2gram_frac is NULL there (the
    DuckDB list_max(empty) twin agrees)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    top_tok = F.array_max(
        F.transform(F.array_distinct(toks), lambda t: F.size(F.filter(toks, lambda x: x == t)))
    )
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_gram = F.array_max(
        F.transform(F.array_distinct(grams), lambda g: F.size(F.filter(grams, lambda x: x == g)))
    )
    nd_ = n.cast("double")
    return docs.select(
        "doc_id",
        F.round(top_tok.cast("double") / nd_, 6).alias("top_token_frac"),
        F.round(top_gram.cast("double") * 2.0 / nd_, 6).alias("top_2gram_frac"),
        F.round((n - nd).cast("double") / nd_, 6).alias("dup_token_frac"),
    )


def decontaminate(
    docs: DataFrame,
    n: int = 3,
    bench_mod: int = 97,
    broadcast_max_bench_docs: int = 50_000,
) -> DataFrame:
    """(doc_id, n_grams, n_contaminated, contamination_frac): n-gram
    overlap of each training document against a benchmark/eval subset —
    the train-test decontamination pass every published LLM data
    pipeline runs (GPT-3 appendix C's 13-gram rule; public knowledge).

    The benchmark set here is the deterministic ``doc_id % bench_mod
    == 0`` slice (an eval set is a tiny fraction of the corpus); n=3
    by default so the shared-vocabulary synthetic corpus produces
    overlap signal — production uses 8..13.

    Scale shape: the benchmark's distinct-gram set is USUALLY small
    (eval sets are thousands of docs, not billions) → broadcast hash
    join against the exploded per-doc distinct grams; one
    groupBy(doc_id) count; the final attach is a left join on doc_id
    so zero-overlap docs keep a 0 row.  No shuffle touches the gram
    strings of the full corpus beyond the explode itself.

    The broadcast hint is SIZE-GATED, not forced: at production
    n=8..13 grams over a 100k-doc eval set the distinct-gram set is
    hundreds of millions of strings, and a forced ``F.broadcast``
    bypasses Spark's size check and OOMs executors.  The gate is a
    cheap doc-count probe (column-pruned scan of doc_id only — the
    distinct-gram count would cost the whole subquery): at or below
    ``broadcast_max_bench_docs`` benchmark docs the hint fires; above
    it, no hint — AQE sees the real build-side size at runtime and
    still broadcasts iff it fits (``autoBroadcastJoinThreshold``).
    Both paths produce identical rows (pytest-asserted)."""
    toks = F.split(F.col("text"), " ")
    size = F.size(toks)
    grams = F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_grams = docs.select("doc_id", F.array_distinct(grams).alias("grams"))
    bench = (
        with_grams.where(F.col("doc_id") % bench_mod == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = with_grams.where(F.col("doc_id") % bench_mod != 0)
    train_grams = train.select("doc_id", F.explode("grams").alias("gram"))
    n_bench_docs = docs.where(F.col("doc_id") % bench_mod == 0).count()
    if n_bench_docs <= broadcast_max_bench_docs:
        bench = F.broadcast(bench)
    hits = (
        train_grams.join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    out = (
        train.select("doc_id", F.size("grams").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .withColumn("n_contaminated", F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long")))
    )
    # docs shorter than n tokens have 0 grams: contamination is 0 by
    # definition (guarded — ANSI mode raises on 0/0 even for doubles)
    return out.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.when(
            F.col("n_grams") > 0,
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_grams").cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination_frac"),
    )


# PII patterns: RE2-safe (no backrefs/lookaround) so the same source
# string compiles identically under Java regex (Spark) and RE2 (DuckDB).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b555-\d{4}\b"


def with_synthetic_pii(docs: DataFrame, every: int = 7) -> DataFrame:
    """Deterministically append PII-shaped contact lines to every
    ``every``-th document.  The synthetic corpus is plain words; this
    gives the scanner real matches without external data (same pattern
    as the synthetic raster in zonal_stats)."""
    aug = F.when(
        F.col("doc_id") % every == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    return docs.withColumn("text", aug)


def pii_scan(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ips, n_phones, redacted_hash): PII
    detection + redaction over the text column — counts per PII class
    and the md5 of the redacted text (emails → <EMAIL>, IPv4 → <IP>,
    phones → <PHONE>, applied in that fixed order).

    Pure JVM regexp Column expressions — zero shuffle, codegen'd,
    embarrassingly parallel; the production-scale story is identical to
    any per-doc map.  Patterns are deliberately RE2-compatible so the
    DuckDB oracle runs the same source strings."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_IPV4), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE), 0)).alias("n_phones"),
        F.md5(F.encode(redacted, "utf-8")).alias("redacted_hash"),
    )


def vocab_stats(docs: DataFrame) -> DataFrame:
    """(token, coll_freq, doc_freq): global term statistics — the
    vocabulary-building pass of a tokenizer/IDF pipeline (collection
    frequency = total occurrences, document frequency = docs containing
    the term).

    Scale shape: ONE explode + ONE groupBy(token).  ``coll_freq`` gets
    map-side partials for free; exact ``doc_freq`` (count-distinct)
    adds the standard distinct-expand pass.  At corpus scale where the
    stopword head is hot, the drop-in is ``approx_count_distinct``
    (HLL, single-pass partials) — kept exact here because the gate
    verifies values bit-for-bit."""
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    return tok.groupBy("token").agg(
        F.count("*").alias("coll_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, token, tf, tfidf, rnk): the ``k`` highest-tf-idf terms
    per document — keyword extraction / topic signal for curation and
    retrieval indexing.  idf = ln((N+1)/(df+1)) (smoothed), rounded to
    6 dp BEFORE the tf product so both engines rank identical values;
    ties break on token text, so top-k is fully deterministic.

    ACCEPTED CROSS-ENGINE RISK: the 6-dp round assumes JVM ``Math.log``
    and DuckDB's ``std::log`` agree to within the rounding slack.
    Neither libm is correctly rounded, so a 1-ulp ln() divergence
    landing adjacent to a 0.5e-6 rounding boundary could flip a rank
    tie nondeterministically.  The fully-exact alternative (a
    driver-computed idf lookup per distinct df, embedded in the oracle
    as a CASE table) was judged worse than the risk — df's domain at
    gate scale makes a several-hundred-branch oracle.  Triage rule if
    this gate row ever reds: compare idf values at FULL precision for
    the mismatching (doc_id, token) rows first.

    Scale shape: tf is ONE groupBy(doc_id, token); df is a distinct +
    ONE groupBy(token) whose output (the vocabulary) broadcasts; the
    corpus count N broadcasts as one row.  The per-doc top-k is a
    window over the doc_id shuffle — ``WindowGroupLimit`` keeps only k
    rows per doc at the partial stage, so the shuffle carries O(k x
    docs), not every (doc, token) pair."""
    from pyspark.sql import Window

    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tok.distinct().groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    idf = F.round(
        F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")), 6
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", "tf", F.round(F.col("tf") * idf, 6).alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).where(
        F.col("rnk") <= k
    )
