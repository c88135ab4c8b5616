"""Quality / decontamination gates over a document frame.

Both gates are NARROW MAPS (per-row expressions, zero shuffles), which
makes them the rare operators that run UNCHANGED as batch
transformations and as Structured Streaming stages — the module is
shared by ``queries.synthetic`` (q60/q61 batch forms) and
``streaming.gates_stream``.

- :func:`repetition_stats` — the Gopher-style within-document
  repetition rule: total vs distinct word-3-gram counts and the
  duplicate-shingle ratio. Pure array expressions.
- :func:`contaminated_counts` — GPT-3-style n-gram decontamination
  against a bounded probe set (eval-benchmark shingles). The batch
  query form uses a broadcast hash join on the exploded shingle index
  (``q60_contamination``); this per-row form broadcasts the probe set
  itself and counts membership inside an Arrow-batched pandas UDF —
  the shape that drops into an append-mode stream with no watermark
  and no state. Probe sets are small by construction (eval suites,
  not corpora); the broadcast is the same one the batch join ships.
"""

# NOTE: no `from __future__ import annotations` — pandas_udf resolves
# the UDF's `pd.Series` type hints at decoration time, and postponed
# (string) annotations break that resolution

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash60, tokens, word_shingles


def shingle_hash_array(text: Column, n: int = 3) -> Column:
    """Distinct word-n-gram 60-bit shingle hashes of a text column,
    as an array — the in-row twin of ``dedup.doc_shingles``'s exploded
    index (same tokenize → shingle → hash60 pipeline, same values)."""
    return F.transform(word_shingles(tokens(text), n), hash60)


def repetition_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_shingles_total, n_shingles_distinct, dup_shingle_ratio,
    passes_repetition_filter) per document.

    Staged through aliased columns so the expensive subtrees
    (tokenize, shingle array_distinct) evaluate ONCE per row: inlining
    them into every ratio expression re-runs the whole array pipeline
    per reference (measured 10.9 s → ~1 s at sf0.1). Within a row the
    shingling is linear in the token count: ``word_shingles`` binds
    its token array once and slices every window from that binding
    (``functions.text.token_windows``), instead of re-evaluating the
    token expression at each of the n − 2 positions."""
    counted = docs.select(
        id_col, tokens(F.col(text_col)).alias("tk")
    ).select(
        id_col,
        F.greatest(F.size("tk") - 2, F.lit(0)).alias("n_total"),
        F.size(word_shingles(F.col("tk"), 3)).alias("n_distinct"),
    )
    ratioed = counted.select(
        id_col,
        "n_total",
        "n_distinct",
        F.when(
            F.col("n_total") > 0,
            F.round(
                (F.col("n_total") - F.col("n_distinct")).cast("double")
                / F.col("n_total").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("dup_ratio"),
    )
    return ratioed.select(
        id_col,
        F.col("n_total").alias("n_shingles_total"),
        F.col("n_distinct").alias("n_shingles_distinct"),
        F.col("dup_ratio").alias("dup_shingle_ratio"),
        (F.col("dup_ratio") <= 0.2).alias("passes_repetition_filter"),
    )


def contaminated_counts(
    docs: DataFrame,
    probe_hashes: set[int] | frozenset[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, n_contaminated_shingles, contaminated) per document, via a
    broadcast membership probe inside one pandas UDF — no shuffle, no
    state; works identically on batch and streaming frames."""
    bc = docs.sparkSession.sparkContext.broadcast(frozenset(probe_hashes))

    @F.pandas_udf("int")
    def _n_hits(shingle_arrays: pd.Series) -> pd.Series:
        probe = bc.value
        return shingle_arrays.apply(
            lambda arr: sum(1 for h in arr if h in probe) if arr is not None else 0
        )

    return docs.select(
        id_col,
        _n_hits(shingle_hash_array(F.col(text_col), n)).alias("n_contaminated_shingles"),
    ).withColumn("contaminated", F.col("n_contaminated_shingles") > 0)


# ---- Bloom-filter contamination probe: the bounded-memory scale path.
# contaminated_counts broadcasts the probe shingles as a Python set —
# exact, but the memory per executor grows linearly with the eval
# suite (a 10^9-shingle benchmark union is tens of GB as a set). The
# Bloom form bounds it at bits_per_element/8 bytes per shingle (16
# bits ⇒ 2 bytes; FP ≈ (1−e^{−k·m/n})^k ≈ 0.24% at k=4) with ZERO
# false negatives — a flagged-doc superset, which is the correct
# failure direction for a contamination gate (review the flags, never
# miss one). Hashing is multiply-shift (Dietzfelbinger et al.) over
# the shingle's 60-bit md5-derived hash: odd 64-bit multipliers, top
# log2(n_bits) bits — deterministic, vectorizable, no RNG state.
_BLOOM_MULT = (
    0x9E3779B97F4A7C15,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0xD6E8FEB86659FD93,
)


def build_bloom(
    probe_hashes: set[int] | frozenset[int],
    bits_per_element: int = 16,
    k: int = 4,
) -> tuple[bytes, int]:
    """Pack the probe shingle hashes into a Bloom filter; returns
    (bitmap bytes, n_bits). n_bits rounds up to a power of two so the
    multiply-shift hash is a plain top-bits take."""
    import math

    import numpy as np

    if k > len(_BLOOM_MULT):
        raise ValueError(f"k <= {len(_BLOOM_MULT)} supported")
    m = max(1, len(probe_hashes))
    log2bits = max(6, math.ceil(math.log2(m * bits_per_element)))
    n_bits = 1 << log2bits
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    if probe_hashes:
        arr = np.fromiter(probe_hashes, dtype=np.uint64, count=len(probe_hashes))
        shift = np.uint64(64 - log2bits)
        for mult in _BLOOM_MULT[:k]:
            idx = ((arr * np.uint64(mult)) >> shift).astype(np.int64)
            np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
    return bits.tobytes(), n_bits


def save_bloom(path: str, bloom: tuple[bytes, int]) -> None:
    """Persist the (bitmap bytes, n_bits) Bloom artifact — the storage
    half of the gate's train-once/probe-always split, completing the
    save/load trio the other frozen indexes have (IVF centroids as
    JSON, LSH base and MinHash bands as parquet, probe blocks as npz).
    Format: 8-byte little-endian n_bits header + the raw bitmap, so
    the round-trip is byte-exact and engine-independent."""
    bits, n_bits = bloom
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(int(n_bits).to_bytes(8, "little"))
        f.write(bits)
    import os

    os.replace(tmp, path)


def load_bloom(path: str) -> tuple[bytes, int]:
    with open(path, "rb") as f:
        n_bits = int.from_bytes(f.read(8), "little")
        bits = f.read()
    if len(bits) * 8 != n_bits:
        raise ValueError(
            f"corrupt bloom artifact: header says {n_bits} bits but the "
            f"bitmap holds {len(bits) * 8}"
        )
    return bits, n_bits


def bloom_contaminated_counts(
    docs: DataFrame,
    bloom_bits: bytes,
    n_bits: int,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, n_contaminated_shingles, contaminated) per document via
    the Bloom probe — same shape as :func:`contaminated_counts`, a
    stateless narrow map that runs unchanged on streams, but the
    broadcast is the fixed-size bitmap instead of the probe set.
    Counts are an upper bound (false positives only, never
    negatives): every exactly-contaminated doc is flagged, plus an
    FP-rate-bounded remainder (measured in
    tests/test_state_and_guards.py)."""
    _n_hits = _make_bloom_hits_udf(docs, bloom_bits, n_bits, k)
    return docs.select(
        id_col,
        _n_hits(shingle_hash_array(F.col(text_col), n)).alias("n_contaminated_shingles"),
    ).withColumn("contaminated", F.col("n_contaminated_shingles") > 0)


def _make_bloom_hits_udf(docs: DataFrame, bloom_bits: bytes, n_bits: int, k: int):
    """The shared Bloom membership counter: per shingle array, how
    many of its hashes hit the broadcast bitmap (an upper bound on
    exact membership — FPs only, never FNs). One flattened numpy pass
    per Arrow batch — the whole batch's hashes concatenate into a
    single vector, the k multiply-shift probes run vectorized over
    it, and per-row counts come back via a cumulative-sum segment
    reduction (a per-row ``apply`` with per-row numpy calls measured
    ~3x slower on the q123 corpus)."""
    import math

    import numpy as np

    bc = docs.sparkSession.sparkContext.broadcast(bloom_bits)
    log2bits = int(math.log2(n_bits))
    shift = np.uint64(64 - log2bits)
    mults = [np.uint64(m) for m in _BLOOM_MULT[:k]]

    @F.pandas_udf("int")
    def _n_hits(shingle_arrays: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        arrs = [
            None if a is None or not len(a) else np.asarray(a, dtype=np.uint64)
            for a in shingle_arrays
        ]
        lens = np.array([0 if a is None else len(a) for a in arrs], dtype=np.int64)
        if not lens.sum():
            return pd.Series(np.zeros(len(lens), dtype=np.int32))
        flat = np.concatenate([a for a in arrs if a is not None])
        hit = np.ones(len(flat), dtype=bool)
        for mult in mults:
            idx = ((flat * mult) >> shift).astype(np.int64)
            hit &= (bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
        csum = np.concatenate(([0], np.cumsum(hit)))
        ends = np.cumsum(lens)
        out = csum[ends] - csum[ends - lens]
        return pd.Series(out.astype(np.int32))

    return _n_hits


def bloom_clean_filter(
    docs: DataFrame,
    bloom_bits: bytes,
    n_bits: int,
    k: int = 4,
    text_col: str = "text",
    n: int = 3,
) -> Column:
    """Boolean keep-predicate: True iff NONE of the doc's word-n-gram
    shingle hashes hits the Bloom bitmap. Because the filter has no
    false negatives, every doc exactly sharing a probe shingle tests
    False (dropped) — the kept set is a subset of the exact gate's —
    while FPs only drop an FP-rate-bounded remainder. A narrow
    per-row predicate (one Arrow UDF + an equality), so
    ``CorpusPipeline.decontaminate(strategy='bloom')`` applies it
    unchanged to batch and streaming frames.

    The UDF is marked ``asNondeterministic()`` as an OPTIMIZER FENCE
    (it is semantically deterministic): Catalyst pushes deterministic
    filter predicates below exchanges, and here that drags the whole
    ArrowEvalPython + shingle expression BELOW the caller's
    parallelism spread — at sf0.1 the corpus parquet is one input
    split, so the entire gate ran on ONE core (measured 3.95 s
    single-task filter vs 0.80 s distributed project of the identical
    predicate; the fence keeps the filter above the spread, r13
    SCALING.md attribution). Values are unchanged — the flag only
    disables predicate pushdown/re-evaluation."""
    _n_hits = _make_bloom_hits_udf(docs, bloom_bits, n_bits, k).asNondeterministic()
    return _n_hits(shingle_hash_array(F.col(text_col), n)) == 0


# PCRE subset shared by Spark (Java regex) and DuckDB (RE2): no
# backrefs, no lookaround, so both engines match identical spans.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def pii_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrub gate: per-document email/URL counts plus the redacted
    text's length and md5 (the downstream pipeline consumes redacted
    text; the audit row is what the gate reports). A pure narrow map
    of JVM-side regexes — zero shuffles, zero state — so it applies
    unchanged to a batch frame or an append-mode stream."""
    text = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return docs.select(
        id_col,
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(URL_RE), 0)).alias("n_urls"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_hash"),
    )


ZLIB_LEVEL = 6
COMPRESS_REPETITIVE = 0.35  # ratio below -> boilerplate / looped spam
COMPRESS_RANDOM = 0.90  # ratio above -> base64 / random noise


def compression_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Byte-level compression-ratio quality gate (q79 batch form):
    deflate length via one Arrow-batched UDF, ratio math and banding
    JVM-side. A stateless narrow map — batch/stream portable like the
    other gates in this module. A ``source`` column is carried through
    when present (the q79 shape) but not required, matching the
    any-document-frame contract of the sibling gates. Empty AND NULL
    documents band as ``empty`` (either way the ratio is undefined and
    NULL; without an explicit branch a NULL ``raw_bytes`` would make
    every ``when`` condition NULL and silently fall through to
    'ok')."""
    from ..functions._pandas_udfs import make_zlib_len_udf

    zl = make_zlib_len_udf(ZLIB_LEVEL)
    raw_len = F.length(F.encode(F.col(text_col), "utf-8"))
    carry = ["source"] if "source" in docs.columns else []
    return (
        docs.select(
            id_col,
            *carry,
            raw_len.alias("raw_bytes"),
            zl(F.col(text_col)).alias("zlib_bytes"),
        )
        .withColumn(
            "ratio",
            F.when(
                F.col("raw_bytes") > 0,
                F.round(F.col("zlib_bytes") / F.col("raw_bytes"), 4),
            ),
        )
        .select(
            id_col,
            *carry,
            "raw_bytes",
            "zlib_bytes",
            "ratio",
            F.when(F.coalesce(F.col("raw_bytes"), F.lit(0)) == 0, F.lit("empty"))
            .when(F.col("ratio") < COMPRESS_REPETITIVE, F.lit("repetitive"))
            .when(F.col("ratio") > COMPRESS_RANDOM, F.lit("random"))
            .otherwise(F.lit("ok"))
            .alias("band"),
        )
    )
