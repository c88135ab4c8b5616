"""The benchmark's own tests. None starts Spark; run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.sql import Row

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import batch, corpus, gen, lander, oracle, run, stream  # noqa: E402
from perfbench.harness import Bench  # noqa: E402

SMALL_COMMITS = dict(gen.COMMIT_PARAMS, n_commits=600, n_repos=40)
SMALL_CORPUS = dict(gen.CORPUS_PARAMS, n_base=60)


# --- generators ----------------------------------------------------------


def test_commit_generator_is_deterministic_per_seed():
    a = gen.make_commits(3, SMALL_COMMITS)
    assert a == gen.make_commits(3, SMALL_COMMITS)
    assert a != gen.make_commits(4, SMALL_COMMITS)


def test_commit_generator_keeps_its_contract():
    commits, geo = gen.make_commits(5, SMALL_COMMITS)
    ts = [oracle.epoch(c["commit"]["committer"]["date"]) for c in commits]
    assert all(a < b for a, b in zip(ts, ts[1:])), "event time must rise strictly"
    for c in commits:
        names = [f["filename"] for f in c["files"] if f["filename"] is not None]
        assert len(names) == len(set(names)), "paths are unique within a commit"
    assert [g["createdAt"] for g in geo] == sorted(g["createdAt"] for g in geo)
    want = oracle.commit_answers(commits, geo)
    assert want["q7"] and want["q8"] and want["q9"], "every query has rows to check"


def test_corpus_generator_is_deterministic_per_seed():
    a = gen.make_corpus(3, SMALL_CORPUS)
    assert a == gen.make_corpus(3, SMALL_CORPUS)
    assert a != gen.make_corpus(4, SMALL_CORPUS)
    docs, probe = a
    assert [d["doc_id"] for d in docs] == list(range(len(docs)))
    assert {d["lang"] for d in docs} == {"en", "de", "fr", "es"}


def test_cached_inputs_are_byte_identical(tmp_path):
    d1, s1 = gen.ensure_stream(str(tmp_path / "a"), 9, 1.0)
    d2, _ = gen.ensure_stream(str(tmp_path / "b"), 9, 1.0)
    again, s3 = gen.ensure_stream(str(tmp_path / "a"), 9, 1.0)
    assert s1 > 0 and s3 == 0.0 and again == d1
    for sub in ("commits", "geo"):
        for name in os.listdir(os.path.join(d1, sub)):
            with open(os.path.join(d1, sub, name), "rb") as f1, \
                    open(os.path.join(d2, sub, name), "rb") as f2:
                assert f1.read() == f2.read()


def test_stream_ticks_rise_in_event_time(tmp_path):
    d, _ = gen.ensure_stream(str(tmp_path), 2, 1.0)
    for kind, field in (("commits", None), ("geo", "createdAt")):
        last = None
        for name in sorted(os.listdir(os.path.join(d, kind))):
            rows = oracle.load_jsonl(os.path.join(d, kind, name))
            ts = [r[field] if field else r["commit"]["committer"]["date"] for r in rows]
            assert ts == sorted(ts)
            if last is not None:
                assert last <= ts[0], f"{name} starts before the previous file ends"
            last = ts[-1]


def test_lander_lands_every_file_atomically_and_logs_it(tmp_path):
    src, _ = gen.ensure_stream(str(tmp_path / "w"), 2, 0.5)
    dst = tmp_path / "in"
    for kind in ("commits", "geo"):
        (dst / kind).mkdir(parents=True)
    log = tmp_path / "landed.jsonl"
    import time

    rc = lander.main(["--src", src, "--dst", str(dst), "--first", "1", "--count", "3",
                      "--rate", "50", "--t0", str(time.time()), "--log", str(log)])
    assert rc == 0
    entries = [json.loads(line) for line in log.read_text().splitlines()]
    names = sorted(os.listdir(dst / "commits")) + sorted(os.listdir(dst / "geo"))
    assert sorted(e["file"] for e in entries) == sorted(names)
    assert all(not n.startswith(".") for n in names), "no temporary file is left behind"
    assert all(e["landed"] >= e["due"] - 1e-3 for e in entries)


# --- checks: a planted wrong answer is counted ---------------------------


def _rows(name, expected):
    """Rows shaped like the Spark result the oracle tuple came from."""
    fields = {
        "dummy": ("sha",), "q1": ("sha",), "q2": ("filename",), "q3": ("ext", "count"),
        "q4": ("ext", "status", "sum_changes"), "q5": ("date", "count"),
        "q9": ("repo", "filename"),
    }[name]
    return [Row(**dict(zip(fields, t))) for t, n in expected[name].items() for _ in range(n)]


@pytest.mark.parametrize("name", ["dummy", "q2", "q3", "q4", "q9"])
def test_planted_wrong_answer_raises_error_rate(tmp_path, name):
    commits, geo = gen.make_commits(1, SMALL_COMMITS)
    expected = oracle.commit_answers(commits, geo)
    b = Bench(name, 1, 1.0, False, str(tmp_path))
    rows = _rows(name, expected)
    batch.check_all(b, {name: rows}, expected)
    assert (b.attempted, b.failed) == (1, 0)
    wrong = rows[:-1] + [Row(**{k: (v + 1 if isinstance(v, int) else v + "x")
                                for k, v in rows[-1].asDict().items()})]
    batch.check_all(b, {name: wrong}, expected)
    assert (b.attempted, b.failed) == (2, 1)


def test_raising_query_counts_as_failed(tmp_path):
    b = Bench("x", 1, 1.0, False, str(tmp_path))
    assert b.attempt("boom", lambda: 1 / 0) is None
    assert (b.attempted, b.failed) == (1, 1)


def test_corpus_checks_count_wrong_outputs(tmp_path):
    b = Bench("corpus_pipeline", 1, 1.0, False, str(tmp_path))
    expect = {"final": {1, 2, 3}, "cos": ({(1, 2)}, {(2, 3)})}
    corpus.check_pass(b, expect, ({1, 2, 3}, {(1, 2), (2, 3)}))
    assert (b.attempted, b.failed) == (2, 0)
    corpus.check_pass(b, expect, ({1, 2}, {(2, 3)}))
    assert (b.attempted, b.failed) == (4, 2)


# --- oracle pieces -------------------------------------------------------


def test_oracle_scalar_semantics():
    assert oracle.extension("src/A.java") == "java"
    assert oracle.extension("a.") == "a"
    assert oracle.extension("...") is None
    assert oracle.repo_of("https://api.github.com/repos/o/r/commits/x?page=2") == "o/r"
    assert oracle.repo_of("https://github.com/o/r/commits/") == "o/r"


def test_mixture_keep_matches_rates():
    groups = {i: ("en" if i % 4 else "de") for i in range(4000)}
    kept = oracle.mixture_keep(groups, {"en": 0.5, "de": 0.5})
    c = Counter(groups[i] for i in kept)
    assert c["de"] == 1000  # the scarcer group is kept whole
    assert abs(c["en"] - 1000) < 120


def test_components_keep_cluster_minimum():
    comp = corpus._components([(5, 3), (3, 9), (7, 8)])
    assert comp == {3: 3, 5: 3, 9: 3, 7: 7, 8: 7}


def test_compress_band_rounds_half_up():
    assert oracle.compress_ok("the quick brown fox jumps over the lazy dog " * 3)
    assert not oracle.compress_ok("")
    assert not oracle.compress_ok("ab" * 500)  # looped spam compresses too well


# --- streaming bookkeeping -----------------------------------------------


def test_batch_of_file_follows_query_offsets(tmp_path):
    """Batch 1 is a no-data batch (watermark only): the file logged at
    source offset 1 was read by query batch 2, not 1."""
    ck = tmp_path / "q"
    (ck / "sources" / "0").mkdir(parents=True)
    (ck / "offsets").mkdir()
    for off, name in ((0, "c-00000.jsonl"), (1, "c-00001.jsonl")):
        (ck / "sources" / "0" / str(off)).write_text(
            'v1\n{"path":"file:///x/%s","timestamp":1,"batchId":%d}\n' % (name, off))
    for b, off in ((0, 0), (1, 0), (2, 1)):
        (ck / "offsets" / str(b)).write_text('v1\n{"batchWatermarkMs":0}\n{"logOffset":%d}\n' % off)
    assert stream.batch_of_file(str(ck)) == {"c-00000.jsonl": 0, "c-00001.jsonl": 2}


# --- contract with BENCHMARK.json ----------------------------------------


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metrics_are_exactly_the_declared_ones():
    spec = _declared()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "commits_stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
