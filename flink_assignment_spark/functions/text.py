"""Text-analysis column functions for the LLM-data-pipeline operators.

Everything is Catalyst-native (split/transform/filter/aggregate over
arrays) — the hot path of a 100 TB dedup run must not cross the
Python boundary per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small embedded stopword list, shared verbatim with the DuckDB oracles.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# 32-bit prime modulus for the MinHash permutation family.
MINHASH_PRIME = 4294967291
# Fixed (a, b) permutation parameters — literals shared with the oracle SQL.
MINHASH_PERMS: list[tuple[int, int]] = [
    (3, 1561587), (5, 9416514), (7, 8113651), (11, 2479412),
    (13, 6649467), (17, 1957925), (19, 6095754), (23, 1829841),
    (29, 7647963), (31, 3354286), (37, 9816735), (41, 4550749),
    (43, 2103567), (47, 8525244), (53, 5559411), (59, 1842712),
]


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped (leading/trailing
    whitespace would otherwise produce them)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def canonical_text(text: Column) -> Column:
    """THE canonical normalization (lowercase → strip
    non-alphanumerics → collapse whitespace runs → trim) that exact
    dedup, split routing, and the q74 cleaning report all key on.
    One definition so batch and streaming consumers cannot drift;
    DuckDB mirrors it with the same two regexp_replace calls."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )


def token_windows(toks: Column, width: int, stride: int = 1) -> Column:
    """Space-joined ``width``-token windows of a token array, in
    position order. Window j covers tokens [j·stride, j·stride + width)
    and there are ceil((size − width) / stride) + 1 of them: with
    ``stride=1`` every full sliding window (none when the array is
    shorter than ``width``), with ``stride=width`` the consecutive
    chunks, the last of which may be short. A null array gives an
    empty one.

    Linear in the array length: ``toks`` is bound once per row to a
    lambda variable (``transform(array(toks), tk -> …)[0]``, Catalyst's
    only let-binding). A per-position lambda that named ``toks``
    itself would make Catalyst re-evaluate the whole token expression
    (split, filter and any text cleaning feeding it) at every
    position, quadratic in the length. The windows are built column-
    wise instead — column k holds token k of every window, and one
    ``arrays_zip`` lines them up — because a nested lambda must not
    capture ``tk`` either: Catalyst's canonical form of such a lambda
    leaks the captured variable as a reference, and a Python UDF
    applied to the result then silently stays unextracted.
    """

    def windows(tk: Column) -> Column:
        n_win = F.ceil((F.size(tk) - width) / stride) + 1

        def column(k: int) -> Column:
            shifted = F.slice(tk, k + 1, F.size(tk))
            if stride == 1:
                return shifted
            return F.filter(shifted, lambda _, i: i % stride == 0)

        # arrays_zip names its fields "0", "1", … and pads short
        # columns with nulls (a short last window), which concat_ws skips
        zipped = F.slice(F.arrays_zip(*map(column, range(width))), 1, n_win.cast("int"))
        joined = F.transform(
            zipped, lambda w: F.concat_ws(" ", *(w[str(k)] for k in range(width)))
        )
        # guard: slice's length must not be negative
        return F.when(n_win > 0, joined).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(toks), windows)[0]


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array, in
    first-occurrence order; documents shorter than ``n`` tokens (and
    null arrays) yield an empty array.

    Built on :func:`token_windows`, so the token expression is
    evaluated once per row and shingling costs time linear in the
    document length, all JVM-side.
    """
    return F.array_distinct(token_windows(toks, n))


def hash60(s: Column) -> Column:
    """Deterministic 60-bit positive integer hash of a string.

    md5-hex → first 15 hex digits → bigint. Chosen over the engines'
    native ``hash``/``xxhash64`` because the DuckDB oracle can compute
    the identical value (``CAST('0x' || substring(md5(s), 1, 15) AS
    BIGINT)``), making hash-dependent operators (MinHash, SimHash)
    oracle-checkable.
    """
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def minhash_value(h60: Column, a: int, b: int) -> Column:
    """One universal-hash permutation g(h) = (a·(h mod p) + b) mod p
    over the 32-bit prime field (no 64-bit overflow: a·p + b < 2^63)."""
    return (F.lit(a) * (h60 % MINHASH_PRIME) + F.lit(b)) % MINHASH_PRIME


def stopword_ratio(toks: Column) -> Column:
    """Fraction of tokens in the embedded stopword list (integer /
    integer in double — bit-exact across engines)."""
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return n_stop.cast("double") / F.size(toks).cast("double")


# char-trigram profiles per language (tiny embedded models; shared
# literals with the q33 DuckDB oracle)
def composite_quality_score(text: Column) -> Column:
    """The q32/q116 composite quality score, rounded to 6:
    0.5·stopword_ratio + 0.5·(1 − punct_ratio). Every term is an
    int/int ratio in double, so the value is bit-identical across
    engines — which is what lets q116's proportional cut and the
    frozen-cutoff streaming gate (streaming/gates_stream.py) agree
    exactly."""
    punct = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    punct_ratio = punct.cast("double") / F.length(text).cast("double")
    return F.round(
        F.lit(0.5) * stopword_ratio(tokens(text))
        + F.lit(0.5) * (F.lit(1.0) - punct_ratio),
        6,
    )


LANG_PROFILES = {
    "en": ("the", "ing", "and", "ion", "ent"),
    "fr": ("les", "ent", "de ", "ion", "que"),
    "es": ("de ", "la ", "os ", "ión", "que"),
    "de": ("der", "ein", "ich", "sch", "und"),
    "zh": ("的", "是", "了", "在", "我"),
}


def langid_ngram_expr(text: Column) -> Column:
    """Character-n-gram language guess (the q33 heuristic, no external
    model): score each language by how many of its profile trigrams
    occur in the text and predict the FIRST maximum in fixed language
    order — deterministic, pure Catalyst, stream-safe."""
    scores = {
        lang: sum(
            (F.when(F.contains(text, F.lit(g)), 1).otherwise(0) for g in grams),
            F.lit(0),
        )
        for lang, grams in LANG_PROFILES.items()
    }
    mx = F.greatest(*scores.values())
    pred = None
    for lang in reversed(list(LANG_PROFILES)):
        cond = F.when(scores[lang] == mx, lang)
        pred = cond.otherwise(pred) if pred is not None else cond
    return pred
