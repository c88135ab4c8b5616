"""``corpus_pipeline``: the LLM-data front door.

A seeded parquet corpus runs through

    CorpusPipeline(docs).normalize().gate_repetition().gate_compression()
        .decontaminate(probe).dedup_exact().dedup_near().sample_mixture(W)

and then ``operators.similarity.cosine_neardup_pairs`` scores every
document embedding pair. One pass builds the chain (``dedup_near`` and
``sample_mixture`` run jobs while being built), collects the kept ids,
then collects the near-duplicate embedding pairs.

Checks: the exact prefix (through ``dedup_exact``) equals the DuckDB
oracle; ``dedup_near`` keeps exactly the prefix minus every non-minimum
member of each MinHash-pair cluster; each pass's final ids equal
``sample_mixture`` recomputed in Python over the near-dup survivors;
the embedding pairs equal NumPy's exact all-pairs cosine.
"""

from __future__ import annotations

import os
import time

from . import gen, oracle
from .harness import CORES, log, median
from .tracing import engine_counters, quantile

WEIGHTS = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.2}
COS_THRESHOLD = 0.95


def stages(probe):
    return [
        ("normalize", lambda p: p.normalize()),
        ("gate_repetition", lambda p: p.gate_repetition()),
        ("gate_compression", lambda p: p.gate_compression()),
        ("decontaminate", lambda p: p.decontaminate(probe)),
        ("dedup_exact", lambda p: p.dedup_exact()),
        ("dedup_near", lambda p: p.dedup_near()),
        ("sample_mixture", lambda p: p.sample_mixture(WEIGHTS)),
    ]


def frames(bench, src):
    return bench.spark.read.parquet(src["docs"]), bench.spark.read.parquet(src["probe"])


def pipeline(docs, probe, upto: str = "sample_mixture"):
    from flink_assignment_spark.pipeline import CorpusPipeline

    p = CorpusPipeline(docs)
    for name, step in stages(probe):
        p = step(p)
        if name == upto:
            return p
    raise ValueError(upto)


def neardup_pairs(docs):
    from flink_assignment_spark.operators.similarity import cosine_neardup_pairs

    return cosine_neardup_pairs(docs, COS_THRESHOLD, id_col="doc_id", vec_col="embedding")


def one_pass(bench, src, latencies) -> tuple:
    """Both jobs once; returns (kept ids, embedding pairs), None for a
    job that raised. Each job's duration is one latency sample."""
    tr = bench.tracer
    t0 = time.perf_counter()
    docs, probe = frames(bench, src)
    with tr.span("pipeline.pass"):
        kept = bench.attempt(
            "pipeline",
            lambda: {r.doc_id for r in pipeline(docs, probe).df.select("doc_id").collect()},
        )
    latencies.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with tr.span("operators.similarity.neardup"):
        pairs = bench.attempt(
            "cosine_neardup_pairs",
            lambda: {(r.vec_a, r.vec_b) for r in neardup_pairs(docs).collect()},
        )
    latencies.append(time.perf_counter() - t0)
    return kept, pairs


def check_pass(bench, expect, result) -> None:
    kept, pairs = result
    if kept is not None:
        bench.record(kept == expect["final"],
                     f"sample_mixture output: {len(kept)} ids, expected {len(expect['final'])}")
    if pairs is not None:
        certain, border = expect["cos"]
        bench.record(certain <= pairs <= certain | border,
                     f"cosine pairs: {len(pairs)} found, {len(certain)} expected")


def _components(pairs):
    """Union-find over id pairs: id -> its component's minimum id."""
    root: dict[int, int] = {}

    def find(x):
        root.setdefault(x, x)
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in root}


def expectations(bench, src) -> dict:
    """Check the exact prefix and ``dedup_near`` once (they do not vary
    between passes) and derive the answers every pass is checked
    against. Runs after the warm-up pass, outside every timing."""
    import pyarrow.parquet as pq

    from flink_assignment_spark.operators.dedup import (
        MAX_LSH_BUCKET,
        MAX_SHINGLE_DF,
        minhash_lsh_pairs,
    )
    from flink_assignment_spark.pipeline import CorpusPipeline

    table = pq.read_table(src["docs"], columns=["doc_id", "lang", "embedding"]).to_pydict()
    lang = dict(zip(table["doc_id"], table["lang"]))
    docs, probe = frames(bench, src)
    want_prefix = oracle.corpus_prefix_ids(src["docs"], src["probe"])
    exact = pipeline(docs, probe, "dedup_exact").df.cache()
    try:
        got_prefix = {r.doc_id for r in exact.select("doc_id").collect()}
        bench.record(got_prefix == want_prefix,
                     f"exact prefix: {len(got_prefix)} ids, DuckDB {len(want_prefix)}")
        # the pairs dedup_near clusters, with its own default caps
        near_pairs = [
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(exact, 0.3, max_doc_freq=MAX_SHINGLE_DF,
                                       max_bucket=MAX_LSH_BUCKET).collect()
        ]
        near = CorpusPipeline(exact).dedup_near().df
        near_kept = {r.doc_id for r in near.select("doc_id").collect()}
    finally:
        exact.unpersist()
    comp = _components(near_pairs)
    want_near = {i for i in got_prefix if comp.get(i, i) == i}
    bench.record(near_kept <= got_prefix and near_kept == want_near,
                 f"dedup_near: {len(near_kept)} kept, {len(want_near)} cluster minima")
    bench.info.update(near_pairs=len(near_pairs), near_kept=len(near_kept))
    return {
        "final": oracle.mixture_keep({i: lang[i] for i in near_kept}, WEIGHTS),
        "cos": oracle.cosine_pairs(table["doc_id"], table["embedding"], COS_THRESHOLD),
        "near_pairs": len(near_pairs),
    }


def run(bench) -> None:
    d, gen_s = gen.ensure_corpus(bench.work, bench.seed)
    src = {"docs": os.path.join(d, "docs"), "probe": os.path.join(d, "probe")}
    import pyarrow.parquet as pq

    n_docs = sum(
        pq.read_metadata(os.path.join(src["docs"], f)).num_rows for f in os.listdir(src["docs"])
    )
    bench.info.update(gen_s=gen_s, docs=n_docs)

    start_s = bench.start_spark()
    warm: list = []
    # one pass: the answers below run the dedup and MinHash plans again
    # before any timed pass, which a second warm-up pass did not improve on
    warmup_s = bench.warm_up(lambda: one_pass(bench, src, []), warm.append, passes=1)
    log(f"setup: session {start_s:.2f}s, warm-up {warmup_s:.2f}s")
    expect = expectations(bench, src)  # needs the session; not timed
    for res in warm:
        check_pass(bench, expect, res)
    latencies: list[float] = []
    walls = bench.timed_passes(
        lambda: one_pass(bench, src, latencies), lambda res: check_pass(bench, expect, res)
    )
    wall = median(walls)
    bench.e2e.update(
        setup_s=start_s + warmup_s,
        wall_s=wall,
        rows_per_s=n_docs / wall,
        latency_p50_s=median(latencies),
        latency_p90_s=quantile(latencies, 0.9),
    )
    bench.layer["engine.peak_rss_mb"] = bench.peak_rss_mb()
    bench.info.update(passes=len(walls), pass_s=walls, latency_samples=len(latencies))
    if bench.trace:
        traced(bench, src, expect, start_s, warmup_s, wall)


def traced(bench, src, expect, start_s, warmup_s, untraced_wall) -> None:
    """A new session with the event log on; after one warm-up pass, one
    pass shaped like the untraced ones but under spans (its wall time
    minus the untraced median is ``trace.overhead_s``, and the event
    log over it gives ``engine.*``). Then each pipeline prefix is
    forced on its own for the per-stage layers."""
    from pyspark.sql import functions as F

    from flink_assignment_spark.pipeline import CorpusPipeline

    tr, L = bench.tracer, bench.layer
    bench.stop_spark()
    bench.start_spark(event_log=True)
    bench.warm_up(lambda: one_pass(bench, src, []), lambda res: check_pass(bench, expect, res), 1)
    tr.enabled = True
    t_begin = time.time()
    with tr.span("pass") as whole:
        result = one_pass(bench, src, [])
    t_end = time.time()
    check_pass(bench, expect, result)
    n_pairs = len(result[1] or ())

    def force(df):
        # hashing every column keeps each stage's output columns live
        return df.select(F.count(F.lit(1)), F.sum(F.hash(*df.columns).cast("long"))).collect()[0][0]

    with tr.span("stages"):
        docs, probe = frames(bench, src)
        with tr.span("sources.parquet_scan"):
            docs.write.format("noop").mode("overwrite").save()
        prev = 0.0
        p = CorpusPipeline(docs)
        for name, step in stages(probe):
            with tr.span(f"pipeline.{name}.build"):
                p = step(p)
            with tr.span(f"pipeline.{name}.plan"):
                p.df._jdf.queryExecution().executedPlan()
            with tr.span(f"pipeline.{name}.force"):
                L[f"pipeline.{name}_kept"] = float(force(p.df))
            cost = tr.total(f"pipeline.{name}.plan") + tr.total(f"pipeline.{name}.force")
            L[f"pipeline.{name}_s"] = tr.total(f"pipeline.{name}.build") + cost - prev
            prev = cost
    L.update(
        {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "sources.parquet_scan_s": tr.total("sources.parquet_scan"),
            "pipeline.plan_s": sum(tr.total(f"pipeline.{n}.plan") for n, _ in stages(None)),
            "operators.dedup.near_pairs": float(expect["near_pairs"]),
            "operators.similarity.neardup_pairs": float(n_pairs),
            "operators.similarity.neardup_s": tr.total("operators.similarity.neardup"),
            "trace.overhead_s": (whole["end"] - whole["start"]) - untraced_wall,
        }
    )
    bench.stop_spark()  # finishes the event log
    L.update({f"engine.{k}": v for k, v in
              engine_counters(bench.event_dir, t_begin, t_end, CORES).items()})
