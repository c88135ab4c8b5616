"""The reference's own batch queries, run by ``commits_stream`` over
the files it landed.

``dummy_question`` and Q1-Q9 from ``queries/reference.py`` over commit
and geo JSONL read through ``sources.read_commits_json`` /
``read_commit_geo_json``. One pass reads the input and collects the
result of each of the ten queries in turn; every collected result is
compared with the pure-Python oracle (``oracle.commit_answers``).
"""

from __future__ import annotations

import calendar
import os
from collections import Counter


def _epoch(dt) -> int:
    return calendar.timegm(dt.timetuple())  # naive UTC datetime


def queries():
    from flink_assignment_spark.queries import reference as R

    return {
        "dummy": lambda c, g: R.dummy_question(c),
        "q1": lambda c, g: R.question_one(c),
        "q2": lambda c, g: R.question_two(c),
        "q3": lambda c, g: R.question_three(c),
        "q4": lambda c, g: R.question_four(c),
        "q5": lambda c, g: R.question_five(c),
        "q6": lambda c, g: R.question_six(c),
        "q7": lambda c, g: R.question_seven(c),
        "q8": lambda c, g: R.question_eight(c, g),
        "q9": lambda c, g: R.question_nine(c),
    }


# collected Row -> the oracle's tuple shape
SHAPE = {
    "dummy": lambda r: (r.sha,),
    "q1": lambda r: (r.sha,),
    "q2": lambda r: (r.filename,),
    "q3": lambda r: (r.ext, r["count"]),
    "q4": lambda r: (r.ext, r.status, r.sum_changes),
    "q5": lambda r: (r.date, r["count"]),
    "q6": lambda r: (_epoch(r.window_start), r.commit_type, r["count"]),
    "q7": lambda r: tuple(r),
    "q8": lambda r: (_epoch(r.window_start), r.continent, r.changes),
    "q9": lambda r: (r.repo, r.filename),
}


def check(bench, name: str, rows, expected: dict) -> bool:
    got = Counter(SHAPE[name](r) for r in rows)
    return bench.record(got == expected[name], f"{name}: result differs from the oracle "
                        f"({sum(got.values())} rows vs {sum(expected[name].values())})")


def check_all(bench, results: dict, expected: dict) -> None:
    for name, rows in results.items():
        if rows is not None:
            check(bench, name, rows, expected)


def one_pass(bench, src: dict, tracer=None) -> dict:
    """Read the input and run + collect every query once; returns
    name -> rows (None where the query raised). With a tracer, each
    query's physical planning and action are timed as separate spans
    (the plan is forced before the action runs)."""
    from flink_assignment_spark.sources.loaders import read_commit_geo_json, read_commits_json

    spark = bench.spark
    results = {}
    for name, q in queries().items():

        def run():
            df = q(read_commits_json(spark, src["commits"]), read_commit_geo_json(spark, src["geo"]))
            if tracer is None:
                return df.collect()
            with tracer.span(f"queries.reference.{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"queries.reference.{name}"):
                return df.collect()

        results[name] = bench.attempt(name, run)
    return results


def input_mb(src: dict) -> float:
    return sum(
        os.path.getsize(os.path.join(src[k], f)) for k in src for f in os.listdir(src[k])
    ) / 1e6


def traced_reference(bench, src, expected) -> None:
    """The JSON scan and one pass of the ten queries under spans; fills
    the ``sources.*`` and ``queries.reference.*`` layers and checks the
    results."""
    from flink_assignment_spark.sources.loaders import read_commit_geo_json, read_commits_json

    tr, spark = bench.tracer, bench.spark
    with tr.span("sources.json_scan"):
        read_commits_json(spark, src["commits"]).write.format("noop").mode("overwrite").save()
        read_commit_geo_json(spark, src["geo"]).write.format("noop").mode("overwrite").save()
    results = one_pass(bench, src, tracer=tr)
    check_all(bench, results, expected)
    scan = tr.total("sources.json_scan")
    names = list(queries())
    bench.layer.update(
        {
            "sources.json_scan_s": scan,
            "sources.json_mb_per_s": input_mb(src) / scan,
            "queries.reference.plan_s": sum(tr.total(f"queries.reference.{q}.plan") for q in names),
            **{f"queries.reference.{q}_s": tr.total(f"queries.reference.{q}") for q in names},
        }
    )
    bench.tracer.extra["reference_results"] = {q: len(r or ()) for q, r in results.items()}


def one_core_speedup(bench, src, expected, base_wall: float) -> None:
    """A warm pass at ``local[1]`` (the reference ran at parallelism 1,
    ``FlinkAssignment.scala:32``) over ``base_wall``, a warm pass at 4
    cores. Starts a new session, whose first pass is the warm-up; the
    caller has stopped its own."""
    bench.start_spark(cores=1)
    check_all(bench, one_pass(bench, src), expected)
    with bench.tracer.span("engine.one_core_pass") as one:
        results = one_pass(bench, src)
    check_all(bench, results, expected)
    bench.layer["engine.speedup_vs_1core"] = (one["end"] - one["start"]) / base_wall
