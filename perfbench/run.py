#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload commits_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. Generates the
workload's inputs from ``--seed`` (cached under ``.perfbench_work/``),
runs the workload against the package's public API for ``--seconds``,
checks every output, and prints one JSON object as the last line of
standard output:

    {"correct": true, "attempted": 30, "failed": 0, "metrics": {...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans are written to
``.perfbench_work/traces/``). Progress notes go to standard error.
Exits non-zero, printing no result, when the package is missing or a
workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("commits_stream", "corpus_pipeline")

# name -> unit; BENCHMARK.json declares the same names and units, and
# tests/test_perfbench.py keeps the two in step.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}

STREAM_QUERIES = ("q3", "q5", "q8", "q9")
STREAM_FIGURES = (
    "batch_s_p50", "batch_s_p90", "add_batch_s_p50", "planning_s_p50", "commit_s_p50",
    "state_rows", "state_mb", "state_commit_s", "rows_dropped_late", "batches",
)
REFERENCE_QUERIES = ("dummy", "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9")
PIPELINE_STAGES = (
    "normalize", "gate_repetition", "gate_compression", "decontaminate",
    "dedup_exact", "dedup_near", "sample_mixture",
)


def _per_layer() -> dict[str, str]:
    from perfbench.tracing import ENGINE_KEYS

    m = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "sources.json_scan_s": "s",
        "sources.json_mb_per_s": "MB/s",
        "sources.parquet_scan_s": "s",
    }
    m.update({f"queries.reference.{q}_s": "s" for q in REFERENCE_QUERIES})
    m["queries.reference.plan_s"] = "s"
    m.update({f"pipeline.{s}_s": "s" for s in PIPELINE_STAGES})
    m["pipeline.plan_s"] = "s"
    m.update({f"pipeline.{s}_kept": "count" for s in PIPELINE_STAGES})
    m["operators.dedup.near_pairs"] = "count"
    m["operators.similarity.neardup_pairs"] = "count"
    m["operators.similarity.neardup_s"] = "s"
    units = {"state_rows": "count", "state_mb": "MB", "rows_dropped_late": "count",
             "batches": "count"}
    for q in STREAM_QUERIES:
        m.update({f"streaming.{q}.{f}": units.get(f, "s") for f in STREAM_FIGURES})
    m["streaming.backlog_files_max"] = "count"
    m["streaming.generator_late_s"] = "s"
    engine_units = {"jobs": "count", "stages": "count", "tasks": "count",
                    "core_busy_ratio": "ratio", "task_skew_max": "ratio"}
    m.update({f"engine.{k}": engine_units.get(k, "MB" if k.endswith("_mb") else "s")
              for k in ENGINE_KEYS})
    m["engine.peak_rss_mb"] = "MB"
    m["engine.speedup_vs_1core"] = "ratio"
    m["trace.overhead_s"] = "s"
    m["error_rate"] = "ratio"
    return m


def _environment(work: str) -> None:
    """Point every scratch location of Spark and its Python workers
    into the checkout, and make the package importable by workers."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TZ"] = "UTC"  # collected timestamps are naive datetimes
    time.tzset()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.harness import Bench, log

    if not os.path.isfile(os.path.join(ROOT, "flink_assignment_spark", "__init__.py")):
        log(f"package flink_assignment_spark not found under {ROOT}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    _environment(work)
    bench = Bench(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), work=work,
    )
    if args.workload == "commits_stream":
        from perfbench import stream as mod
    else:
        from perfbench import corpus as mod
    try:
        mod.run(bench)
    finally:
        bench.close()
    declared = _per_layer() if args.trace else END_TO_END
    values = bench.layer if args.trace else bench.e2e
    if args.trace:
        for name in declared:
            values.setdefault(name, 0.0)  # layers this workload does not exercise
        values["error_rate"] = bench.failed / max(1, bench.attempted)
        bench.tracer.dump(
            os.path.join(work, "traces", f"{args.workload}-{args.seed}-{os.getpid()}.json"),
            layer=values, info=bench.info,
        )
    missing = set(declared) - set(values)
    if missing:
        log(f"workload produced no value for {sorted(missing)}")
        return 3
    log("info " + json.dumps(bench.info, default=str))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": float(values[k]), "unit": u} for k, u in declared.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
