"""``commits_stream``: an open loop of small commit and geo files.

A separate lander process (``lander.py``) drops one commit file and one
geo file per tick on a fixed schedule while Q3, Q5, Q8 and Q9 from
``streaming/queries.py`` run as four concurrent queries in one session,
each on a processing-time trigger. Each landed file's latency runs from
the moment it was due to land until the last query that reads it has
committed the micro-batch that read it (the query's
``commits/<batch>`` checkpoint entry). Files landed before the window
(the warm-up ticks, landed in two rounds that are each drained) are
part of set-up, not of any latency.

After the window the queries drain what landed; their final outputs
are checked against the reference answers over exactly the landed
files (``oracle.commit_answers``, the batch queries' semantics), and
the ten batch reference queries run over the same files and are
checked against the same answers.

A traced run then stops that session and repeats the whole window in
a new one with the event log on and spans around the benchmark's
calls: its ``wall_s`` minus the untraced window's is
``trace.overhead_s``, and its progress and event log give the
``streaming.*`` and ``engine.*`` layers. After it, the batch reference
pass runs traced (``sources.*``, ``queries.reference.*``), untraced,
and at ``local[1]`` (``engine.speedup_vs_1core``).
"""

from __future__ import annotations

import calendar
import glob
import json
import os
import subprocess
import sys
import time
from collections import Counter

from . import batch, gen, oracle
from .harness import CORES, log, median
from .lander import land, tick_files
from .tracing import engine_counters, progress_summary, quantile

TRIGGER = "1 second"
COMMIT_QUERIES = ("q3", "q5", "q8", "q9")  # every query reads the commit stream
GEO_QUERIES = ("q8",)


def start_queries(bench, inp: str, ckpt: str, tag: str) -> dict:
    from flink_assignment_spark.streaming.queries import (
        question_eight_join_stream,
        question_five_stream,
        question_nine_stream,
        question_three_stream,
    )
    from flink_assignment_spark.streaming.sources import (
        read_commit_geo_stream,
        read_commits_stream,
    )

    spark = bench.spark
    commits = lambda: read_commits_stream(spark, os.path.join(inp, "commits"))  # noqa: E731
    plans = {
        "q3": (question_three_stream(commits()), "update"),
        "q5": (question_five_stream(commits()), "update"),
        "q8": (question_eight_join_stream(
            commits(), read_commit_geo_stream(spark, os.path.join(inp, "geo"))), "append"),
        "q9": (question_nine_stream(commits()), "append"),
    }
    out = {}
    for name, (df, mode) in plans.items():
        out[name] = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(f"{name}_{tag}")
            .option("checkpointLocation", os.path.join(ckpt, name))
            .trigger(processingTime=TRIGGER)
            .start()
        )
    return out


def drain(queries: dict) -> None:
    for q in queries.values():
        q.processAllAvailable()


def batch_of_file(ckpt: str) -> dict[str, int]:
    """Landed file name -> id of the query batch that read it.

    A file source logs each file under its own log offset, which is not
    the query's batch id (a query also runs batches without new data,
    and Q8 has two sources). The query's ``offsets/<batch>`` entry
    holds each source's log offset at the end of that batch, so batch
    ``b`` read the files logged after batch ``b - 1``'s offset up to
    its own."""
    logged: dict[tuple[int, int], list[str]] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        src = int(os.path.basename(os.path.dirname(path)))
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    logged.setdefault((src, e["batchId"]), []).append(os.path.basename(e["path"]))
    out: dict[str, int] = {}
    prev: dict[int, int] = {}
    for b in sorted(int(n) for n in os.listdir(os.path.join(ckpt, "offsets")) if n.isdigit()):
        with open(os.path.join(ckpt, "offsets", str(b))) as fh:
            per_source = fh.read().splitlines()[2:]
        for src, line in enumerate(per_source):
            if not line.startswith("{"):
                continue
            end = json.loads(line)["logOffset"]
            for off in range(prev.get(src, -1) + 1, end + 1):
                for name in logged.get((src, off), ()):
                    out.setdefault(name, b)
            prev[src] = end
    return out


def commit_time(ckpt: str, batch: int) -> float:
    return os.stat(os.path.join(ckpt, "commits", str(batch))).st_mtime_ns / 1e9


def check(bench, tag: str, expected: dict) -> None:
    def rows(name):
        return bench.spark.sql(f"SELECT * FROM {name}_{tag}").collect()

    def final(rs, key, val):
        best: dict = {}
        for r in rs:  # update mode: a key's last refinement is its largest count
            best[r[key]] = max(best.get(r[key], 0), r[val])
        return Counter({(k, v): 1 for k, v in best.items()})

    got = {
        "q3": final(rows("q3"), "ext", "count"),
        "q5": final(rows("q5"), "date", "count"),
        "q8_joined": Counter(
            (r.continent, r.changes, calendar.timegm(r.joined_ts.timetuple())) for r in rows("q8")
        ),
        "q9": Counter((r.repo, r.filename) for r in rows("q9")),
    }
    for name, value in got.items():
        bench.record(value == expected[name], f"stream {name}: {sum(value.values())} rows vs "
                     f"{sum(expected[name].values())} expected over the landed files")


def window(bench, src: str, tag: str) -> dict:
    """Start the four queries over fresh input and checkpoint
    directories, warm them up, land the measured ticks open-loop,
    drain, and check the outputs. Returns the window's figures, the
    end-to-end metrics among them."""
    p = gen.STREAM_PARAMS
    base = os.path.join(bench.run_dir, tag)
    inp, ckpt = os.path.join(base, "input"), os.path.join(base, "checkpoints")
    for kind in ("commits", "geo"):
        os.makedirs(os.path.join(inp, kind))
    t0 = time.perf_counter()
    with bench.tracer.span("streaming.start_queries"):
        queries = start_queries(bench, inp, ckpt, tag)
    # two rounds, each drained: the first runs every plan cold, the
    # second settles the per-batch costs before the window opens
    half = p["warmup_ticks"] // 2
    for ticks in (range(half), range(half, p["warmup_ticks"])):
        for k in ticks:
            for kind, name in tick_files(src, k):
                land(src, inp, kind, name)
        drain(queries)
    warmup_s = time.perf_counter() - t0

    landed_log = os.path.join(base, "landed.jsonl")
    t_window = time.time() + 0.2
    lander = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "lander.py"),
         "--src", src, "--dst", inp, "--first", str(p["warmup_ticks"]),
         "--count", str(gen.measured_ticks(bench.seconds)), "--rate", str(p["rate"]),
         "--t0", str(t_window), "--log", landed_log]
    )
    bench.children.append(lander)
    if lander.wait(timeout=bench.seconds + 60):
        raise RuntimeError(f"lander exited with status {lander.returncode}")
    with bench.tracer.span("streaming.drain"):
        drain(queries)  # raises, ending the run without a result, if a query failed
    t_drained = time.time()
    progress = {n: [json.loads(pr.json) for pr in q.recentProgress] for n, q in queries.items()}
    peak = bench.peak_rss_mb()
    for q in queries.values():
        q.stop()

    with open(landed_log) as fh:
        landed = [json.loads(line) for line in fh]
    batches = {n: batch_of_file(os.path.join(ckpt, n)) for n in queries}
    lat, spans = [], []
    for f in landed:
        readers = COMMIT_QUERIES if f["file"].startswith("c-") else GEO_QUERIES
        done = max(commit_time(os.path.join(ckpt, q), batches[q][f["file"]]) for q in readers)
        lat.append(done - f["due"])
        spans.append((f["landed"], done))
    n_batches = sum(
        sum(1 for b in os.listdir(os.path.join(ckpt, n, "commits")) if b.isdigit()) for n in queries
    )
    bench.attempted += n_batches  # every micro-batch is an operation; a failed one kills its query
    n_rows = 0
    for f in landed:
        with open(os.path.join(inp, "commits" if f["file"].startswith("c-") else "geo",
                               f["file"])) as fh:
            n_rows += sum(1 for _ in fh)
    wall = max(d for _, d in spans) - min(f["due"] for f in landed)

    # the stream outputs must equal the oracle's answers over exactly
    # the landed files
    landed_src = {"commits": os.path.join(inp, "commits"), "geo": os.path.join(inp, "geo")}
    expected = oracle.commit_answers(*(oracle.load_jsonl(d) for d in landed_src.values()))
    check(bench, tag, expected)
    return {
        "warmup_s": warmup_s, "wall_s": wall, "rows": n_rows, "latencies": lat,
        "progress": progress, "peak_rss_mb": peak, "t_window": t_window, "t_drained": t_drained,
        "backlog_files_max": float(max(sum(1 for a, b in spans if a <= t < b) for t, _ in spans)),
        "generator_late_s": max(f["landed"] - f["due"] for f in landed),
        "micro_batches": n_batches, "drain_s": t_drained - max(f["landed"] for f in landed),
        "landed_src": landed_src, "expected": expected,
    }


def run(bench) -> None:
    p = gen.STREAM_PARAMS
    src, gen_s = gen.ensure_stream(bench.work, bench.seed, bench.seconds)
    bench.info.update(gen_s=gen_s, offered_ticks_per_s=p["rate"],
                      offered_commits_per_s=p["rate"] * p["commits_per_tick"],
                      trigger=TRIGGER)

    start_s = bench.start_spark()
    w = window(bench, src, "untraced")
    log(f"setup: session {start_s:.2f}s, warm-up {w['warmup_s']:.2f}s")
    bench.e2e.update(
        setup_s=start_s + w["warmup_s"],
        wall_s=w["wall_s"],
        rows_per_s=w["rows"] / w["wall_s"],
        latency_p50_s=median(w["latencies"]),
        latency_p90_s=quantile(w["latencies"], 0.9),
    )
    bench.layer["engine.peak_rss_mb"] = w["peak_rss_mb"]
    bench.info.update(latency_samples=len(w["latencies"]), micro_batches=w["micro_batches"],
                      rows=w["rows"], drain_s=w["drain_s"])
    # the ten batch queries over the same landed files must give the
    # oracle's answers too, so they agree with the stream outputs
    batch.check_all(bench, batch.one_pass(bench, w["landed_src"]), w["expected"])
    if bench.trace:
        traced(bench, src, w, start_s)


def traced(bench, src: str, untraced: dict, start_s: float) -> None:
    L = bench.layer
    bench.stop_spark()
    bench.start_spark(event_log=True)
    bench.tracer.enabled = True
    w = window(bench, src, "traced")
    landed_src, expected = w["landed_src"], w["expected"]
    batch.traced_reference(bench, landed_src, expected)
    with bench.tracer.span("engine.four_core_pass") as four:
        results = batch.one_pass(bench, landed_src)
    batch.check_all(bench, results, expected)
    bench.stop_spark()  # finishes the event log
    bench.tracer.extra["recent_progress"] = w["progress"]
    L.update({"session.start_s": start_s, "session.warmup_s": untraced["warmup_s"]})
    for n, prog in w["progress"].items():
        L.update({f"streaming.{n}.{k}": v for k, v in progress_summary(prog).items()})
    L["streaming.backlog_files_max"] = w["backlog_files_max"]
    L["streaming.generator_late_s"] = w["generator_late_s"]
    L.update({f"engine.{k}": v for k, v in
              engine_counters(bench.event_dir, w["t_window"], w["t_drained"], CORES).items()})
    L["trace.overhead_s"] = w["wall_s"] - untraced["wall_s"]
    batch.one_core_speedup(bench, landed_src, expected, four["end"] - four["start"])
