"""Edge cases for the scalar/text column functions (mirroring the
reference's Scala semantics, incl. ANSI-mode safety)."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_assignment_spark.functions.scalar import file_extension, repo_from_url
from flink_assignment_spark.functions.text import (
    canonical_text,
    token_windows,
    tokens,
    word_shingles,
)


def _vals(spark, fn, inputs):
    df = spark.createDataFrame([(v,) for v in inputs], "s string")
    return [r.out for r in df.select(fn(F.col("s")).alias("out")).collect()]


def test_file_extension_matches_scala_split(spark):
    """Scala ``split("\\.")`` drops trailing empties; ``lastOption`` on
    a dots-only name is None (reference FlinkAssignment.scala:88)."""
    got = _vals(
        spark, file_extension, ["a.java", "a.b.scala", "noext", "trailing.", ".leading", "..."]
    )
    assert got == ["java", "scala", "noext", "trailing", "leading", None]


def test_repo_from_url_variants(spark):
    """Goldens hand-traced against FlinkAssignment.scala:174-183
    (split on '/', indexOf("repos"), positional fallback, identity
    fallback). Scala split drops trailing empty segments but keeps
    interior ones ('https://' contributes an empty segment)."""
    cases = [
        # happy path: two segments after 'repos'
        ("https://api.github.com/repos/own/repo/commits/abc", "own/repo"),
        ("https://api.github.com/repos/own/repo/commits/abc?page=2&per_page=5", "own/repo"),
        ("x/repos/o/r?q=1", "o/r"),
        # trailing slash: Scala split drops the trailing empty segment
        ("https://api.github.com/repos/own/repo/", "own/repo"),
        # 'repos' present but < 2 segments after it → positional branch:
        # parts(len-3)/parts(len-2)
        ("https://api.github.com/repos/own", "api.github.com/repos"),
        # no 'repos' marker, ≥ 4 segments → positional branch
        ("https://example.com/no/repos-marker/here", "no/repos-marker"),
        ("https://github.com/owner/project/commits", "owner/project"),
        ("a/b/c/d", "b/c"),
        # < 4 segments → cleaned URL verbatim
        ("a/b", "a/b"),
        ("", ""),
    ]
    got = _vals(spark, repo_from_url, [c[0] for c in cases])
    assert got == [c[1] for c in cases]


def _scala_repo_from_url(url: str) -> str:
    """Line-by-line Python port of FlinkAssignment.scala:174-183,
    including Java split's trailing-empty-segment semantics."""
    cleaned = re.sub(r"\?.*$", "", url)
    parts = cleaned.split("/")
    while parts and parts[-1] == "":
        parts.pop()
    if not parts and cleaned == "":
        parts = [""]  # Java "".split(..) -> [""]
    idx = parts.index("repos") if "repos" in parts else -1
    if idx >= 0 and idx + 2 < len(parts):
        return f"{parts[idx + 1]}/{parts[idx + 2]}"
    if len(parts) >= 4:
        return f"{parts[-3]}/{parts[-2]}"
    return cleaned


_SEG = st.sampled_from(["repos", "a", "bb", "x9", "", "own", "repo", "c?q=1"])
_URL = st.builds(
    lambda segs, trail: "/".join(segs) + trail,
    st.lists(_SEG, max_size=6),
    st.sampled_from(["", "/", "//"]),
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(urls=st.lists(_URL, min_size=1, max_size=25))
def test_repo_from_url_property_parity(spark, urls):
    """For arbitrary slash/query/empty-segment compositions, the
    Catalyst expression agrees with the Scala port exactly."""
    got = _vals(spark, repo_from_url, urls)
    assert got == [_scala_repo_from_url(u) for u in urls]


def test_tokens_and_shingles_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("one two",), ("",), ("  padded   spaces  ",)], "s string"
    )
    out = df.select(
        F.size(tokens(F.col("s"))).alias("n"),
        word_shingles(tokens(F.col("s")), 3).alias("sh"),
    ).collect()
    assert [r.n for r in out] == [4, 2, 0, 2]
    assert out[0].sh == ["a b c", "b c d"]
    assert out[1].sh == []  # shorter than n → no shingles
    assert out[2].sh == []


def _py_shingles(text, n):
    """Pure-Python reference: whitespace tokens, every full n-token
    window space-joined, distinct in first-occurrence order."""
    toks = text.split() if text is not None else []
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


_SHINGLE_NS = (1, 2, 3, 5, 16)
_TOKEN = st.sampled_from(["a", "b", "the", "xy", "Q9", "é"])
_SEP = st.sampled_from([" ", "  ", "\t", " \t ", "\n"])
_TEXT = st.builds(
    lambda pre, toks, seps, post: pre + "".join(t + s for t, s in zip(toks, seps)) + post,
    _SEP | st.just(""),
    st.lists(_TOKEN, max_size=24),
    st.lists(_SEP, min_size=24, max_size=24),
    _SEP | st.just(""),
)


def _check_shingles(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, s string")
    rows = df.select(
        "i", *[word_shingles(tokens(F.col("s")), n).alias(f"n{n}") for n in _SHINGLE_NS]
    ).orderBy("i").collect()
    for r in rows:
        for n in _SHINGLE_NS:
            # whole-array equality: order is checked, not just the set
            assert r[f"n{n}"] == _py_shingles(texts[r.i], n), (texts[r.i], n)


def test_word_shingles_match_python_reference(spark):
    _check_shingles(
        spark,
        [
            None,
            "",
            "   ",
            " \t\t ",
            "one two",  # shorter than every n > 2
            "a b c d",
            "a a a a a a",  # repeated tokens: one distinct shingle per n
            "a b a b a b a b",
            "\t lead and trail \t ",
            "x " * 40,
            " ".join(f"w{i}" for i in range(16)),  # exactly n = 16 tokens
            " ".join(f"w{i % 7}" for i in range(50)),
        ],
    )


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(_TEXT, min_size=1, max_size=30))
def test_word_shingles_property_parity(spark, texts):
    _check_shingles(spark, texts)


def test_shingling_tokenizes_once(spark):
    """Regression guard for the linear kernel: the tokenizer (and the
    canonical_text cleaning feeding it) appears exactly once in the
    shingle expression. A per-position lambda naming the token
    expression would repeat it — and Catalyst would re-run it at every
    position."""
    from flink_assignment_spark.operators.gates import shingle_hash_array

    tree = shingle_hash_array(canonical_text(F.col("t")))._jc.toString()
    assert tree.count("split(") == 1
    assert tree.count("regexp_replace(") == 2


def test_window_kernel_canonical_form_references_only_its_input(spark):
    """The kernel's nested lambdas capture no outer lambda variable.
    Catalyst canonicalizes a captured variable into a dangling
    reference, and ExtractPythonUDFs filters candidate UDFs on their
    canonical references: a Python UDF over such a kernel (the bloom
    and streaming decontamination gates) then stays in the plan and
    fails at run time whenever no input attribute has expression id
    0. So the canonical form must reference the text column only."""
    from flink_assignment_spark.operators.gates import shingle_hash_array

    # aliased, so t's expression id is never 0 — the id a leaked
    # lambda variable canonicalizes to
    df = spark.createDataFrame([("a b c d e",)], "s string").select(F.col("s").alias("t"))
    toks = tokens(F.col("t"))
    for col in (
        shingle_hash_array(canonical_text(F.col("t"))),
        token_windows(toks, 4, 4),
        token_windows(toks, 3, 2),
    ):
        analyzed = df.select(col.alias("out"))._jdf.queryExecution().analyzed()
        expr = analyzed.projectList().apply(0).child()
        assert expr.canonicalized().references().size() == 1, expr.toString()


# --------------------------- vec_repr: driver-safe vector encoding
def test_vec_repr_matches_duckdb_on_adversarial_values(spark):
    """vec_repr (Spark) and vec_repr_sql (DuckDB) must be
    byte-identical — including negatives, -0.0, exact .5 micro-unit
    ties, and magnitudes Spark would cast to scientific notation."""
    import duckdb

    from flink_assignment_spark.functions.vector import vec_repr, vec_repr_sql

    vecs = [
        [0.1234565, -0.1234565, 0.0000005, -0.0000005],  # .5 ties both signs
        [-0.0, 0.0, 1.0, -1.0],
        [1e-7, -1e-7, 123456.789012, -123456.789012],  # sci-notation bait
        [0.1, 0.2, 0.30000000000000004, 2.675],  # binary-representation classics
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "i int, v array<double>")
    got = {r.i: r.out for r in df.select("i", vec_repr(F.col("v")).alias("out")).collect()}
    con = duckdb.connect()
    for i, v in enumerate(vecs):
        lit = "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"
        want = con.execute(f"SELECT {vec_repr_sql(lit)}").fetchone()[0]
        assert got[i] == want, f"vec {v}: spark={got[i]!r} duckdb={want!r}"
    # and the parse round-trips: micro-units / 1e6 recovers 6-decimal values
    parts = [int(t) for t in got[3].split(",")]
    assert parts == [100000, 200000, 300000, 2675000]


def test_driver_window_schemas_are_flat(spark):
    """Every oracle-backed query in the driver's 50-query window must
    emit a FLAT schema — no array/map/struct columns — because the
    driver canonicalizes with pandas sort_values, which cannot sort
    list-valued cells (r7: q58/q71 erred exactly this way)."""
    from pyspark.sql import types as T

    from flink_assignment_spark.queries.synthetic import REGISTRY

    from .conftest import SF_DIR

    window = [n for n, s in REGISTRY.items() if s.oracle is not None][:50]
    assert len(window) == 50
    bad = []
    for name in window:
        schema = REGISTRY[name].spark(spark, SF_DIR).schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"driver-window queries with unsortable columns: {bad}"


def test_oracle_output_dtypes_are_driver_safe():
    """DuckDB-side twin of the flat-schema guard: DESCRIBE every
    oracle SQL in the registry and assert no output column is
    HUGEINT / DECIMAL / LIST / STRUCT / MAP. pandas renders HUGEINT
    (the natural result of SUM over BIGINT / SUM(CASE...)) as
    float64, so the driver's value-hash sees 11845.0 vs Spark's
    11845 and fails even when every value is exact (r8: q105/q106).
    The Spark-side guard cannot see DuckDB types — this one can.
    DESCRIBE only binds, it never executes, so checking all oracles
    is cheap."""
    import duckdb

    from flink_assignment_spark.queries.synthetic import REGISTRY
    from flink_assignment_spark.schemas import ALL_TABLES

    from .conftest import SF_DIR

    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    BAD = ("HUGEINT", "DECIMAL", "STRUCT", "MAP(")
    bad = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        for col, typ, *_ in con.execute(f"DESCRIBE ({spec.oracle})").fetchall():
            u = typ.upper()
            if any(b in u for b in BAD) or u.endswith("[]"):
                bad.append(f"{name}.{col}: {typ}")
    assert not bad, f"oracle columns pandas cannot hash faithfully: {bad}"
