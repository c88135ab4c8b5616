"""The fluent CorpusPipeline reproduces the hand-written q83 pipeline
stage-for-stage, stays a single lazy plan, and its extra gates behave
per their operator contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_assignment_spark.pipeline import CorpusPipeline
from flink_assignment_spark.queries.synthetic import REGISTRY
from flink_assignment_spark.sources.loaders import load_table

from .conftest import SF_DIR


def test_pipeline_matches_q83_survivors(spark):
    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") >= 20).select("doc_id", "text", "source")
    probe = (
        CorpusPipeline(docs.filter(F.col("doc_id") < 20).select("doc_id", "text"))
        .normalize()
        .df
    )
    p = (
        CorpusPipeline(corpus)
        .normalize()
        .gate_repetition()
        .decontaminate(probe)
        .dedup_exact()
    )
    assert p.lineage == (
        "normalize",
        "gate_repetition",
        "decontaminate",
        "dedup_exact",
    )
    got = {
        r["source"]: r["n_docs"] for r in p.yield_summary("source").collect()
    }
    want = {
        r["source"]: r["n_kept"]
        for r in REGISTRY["q83_pipeline_e2e"].spark(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


def test_pipeline_is_one_lazy_plan(spark):
    """No stage materializes anything: building the full chain must
    not trigger a Spark job (mixture/compression stages excepted —
    they fold bounded scalars by contract)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "source")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    p = (
        CorpusPipeline(docs)
        .normalize()
        .gate_repetition()
        .dedup_exact()
    )
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before, "pipeline building must stay lazy"
    assert p.df.count() > 0  # executes only now


def test_pipeline_narrow_stages_run_on_a_stream(spark, tmp_path):
    """normalize / gate_repetition / gate_compression / decontaminate
    / sample_stratified are narrow (or stream-static joins) and must
    apply unchanged to a streaming frame; the batch-only stages raise
    a pointed TypeError instead of failing deep inside Spark."""
    import pytest

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)
    probe = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    p = (
        CorpusPipeline(stream)
        .normalize()
        .scrub_pii()
        .gate_lang({"en", "fr", "de", "es", "zh"})
        .gate_repetition()
        .gate_compression()
        .decontaminate(probe)
        .sample_stratified({"en": 0.3, "fr": 0.8})
    )
    assert p.df.isStreaming
    q = (
        p.df.writeStream.outputMode("append")
        .format("memory")
        .queryName("pipe_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT count(*) AS n FROM pipe_stream").collect()[0]["n"]
    # identical batch pipeline agrees row-for-row
    want = (
        CorpusPipeline(docs)
        .normalize()
        .scrub_pii()
        .gate_lang({"en", "fr", "de", "es", "zh"})
        .gate_repetition()
        .gate_compression()
        .decontaminate(probe)
        .sample_stratified({"en": 0.3, "fr": 0.8})
        .df.count()
    )
    assert got == want > 0
    with pytest.raises(TypeError, match="batch-only"):
        CorpusPipeline(stream).dedup_exact()
    with pytest.raises(TypeError, match="batch-only"):
        CorpusPipeline(stream).sample_mixture({"en": 1.0})
    with pytest.raises(TypeError, match="batch-only"):
        CorpusPipeline(stream).dedup_near()
    with pytest.raises(TypeError, match="batch-only"):
        CorpusPipeline(stream).budget_per_group(5)


def test_pipeline_compression_and_stratified_gates(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    p = CorpusPipeline(docs).gate_compression()
    n_ok = p.df.count()
    from flink_assignment_spark.operators.gates import compression_stats

    want_ok = compression_stats(docs).filter("band = 'ok'").count()
    assert n_ok == want_ok > 0
    p2 = p.sample_stratified({"en": 0.3, "fr": 0.8})
    kept = p2.df
    assert kept.count() < n_ok
    assert set(
        r["lang"] for r in kept.select("lang").distinct().collect()
    ) <= {"en", "fr"}
    assert p2.lineage == ("gate_compression", "sample_stratified")


def test_dedup_near_and_budget_match_operator_level(spark):
    """Round-7 lifecycle extension: the fluent .dedup_near() equals
    running q16's verified pairs through q29's star contraction and
    dropping non-min members by hand, and .budget_per_group(k) equals
    q100's window — composed in one chain on the same corpus."""
    from pyspark.sql import Window

    from flink_assignment_spark.operators.components import connected_components
    from flink_assignment_spark.operators.dedup import (
        MAX_LSH_BUCKET,
        MAX_SHINGLE_DF,
        minhash_lsh_pairs,
    )
    from flink_assignment_spark.operators.sampling import uniform_from_key

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    k = 40

    got = (
        CorpusPipeline(docs)
        .dedup_near(0.3)
        .budget_per_group(k)
    )
    assert got.lineage == ("dedup_near", f"budget_per_group({k})")
    got_ids = {r["doc_id"] for r in got.df.collect()}

    # operator-level reference, stage by stage
    pairs = minhash_lsh_pairs(
        docs, 0.3, max_doc_freq=MAX_SHINGLE_DF, max_bucket=MAX_LSH_BUCKET
    )
    assert pairs.count() > 0  # non-vacuous: the corpus has near-dups
    cc = connected_components(pairs, "doc_a", "doc_b")
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(drop, "doc_id", "left_anti")
    w = Window.partitionBy("lang").orderBy(
        uniform_from_key(F.col("doc_id"), "budget"), F.col("doc_id")
    )
    want = kept.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    want_ids = {r["doc_id"] for r in want.collect()}
    assert got_ids == want_ids and len(got_ids) > 0

    # budget honored exactly: every group has min(k, |group|) docs
    sizes = {
        (r["lang"]): r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    out_sizes = {
        (r["lang"]): r["n"]
        for r in got.df.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert out_sizes == {g: min(k, n) for g, n in sizes.items()}


def test_dedup_near_materializes_its_input_once(spark):
    """.dedup_near() checkpoints its input: the optimized plan of the
    result reads checkpointed blocks, so no tokenizing or cleaning
    (split / regexp_replace) of the prefix re-runs downstream. (That
    the kept ids equal q16's pairs contracted by q29 is pinned by
    test_dedup_near_and_budget_match_operator_level.)"""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    prefix = CorpusPipeline(docs).normalize().gate_repetition().dedup_exact()
    near = prefix.dedup_near(0.3)
    plan = near.df._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in plan and "regexp_replace(" not in plan, plan

    kept = {r["doc_id"] for r in near.df.collect()}
    before = {r["doc_id"] for r in prefix.df.collect()}
    assert kept and kept < before  # the corpus has near-dups to drop


def test_full_lifecycle_chain_composes(spark):
    """All stages in one chain stay a single lazy DAG and produce a
    sane audit frame."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    p = (
        CorpusPipeline(docs)
        .normalize()
        .gate_repetition()
        .dedup_exact()
        .dedup_near(0.3)
        .budget_per_group(50)
    )
    audit = p.yield_summary("source").collect()
    assert sum(r["n_docs"] for r in audit) > 0
    assert all("dedup_near" in r["pipeline"] for r in audit)


def test_scrub_pii_and_gate_lang_stages(spark):
    """Round-7 narrow stages: .scrub_pii() redacts in place with the
    q59 regexes; .gate_lang() keeps exactly the docs the q33 heuristic
    assigns to the kept set — both stream-safe narrow maps."""
    from flink_assignment_spark.functions.text import langid_ngram_expr

    rows = [
        (1, "the thing and the ring contact bob@example.com now", "en"),
        (2, "der einzige schöne und ich", "de"),
        (3, "visit https://x.example/a the end and beyond", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    scrubbed = {r["doc_id"]: r["text"] for r in CorpusPipeline(docs).scrub_pii().df.collect()}
    assert "<EMAIL>" in scrubbed[1] and "bob@example.com" not in scrubbed[1]
    assert "<URL>" in scrubbed[3] and "https://" not in scrubbed[3]

    kept = CorpusPipeline(docs).gate_lang({"en"})
    got = {r["doc_id"] for r in kept.df.collect()}
    want = {
        r["doc_id"]
        for r in docs.withColumn("p", langid_ngram_expr(F.col("text")))
        .filter(F.col("p") == "en")
        .collect()
    }
    assert got == want and 2 not in got and len(got) > 0
    assert kept.lineage == ("gate_lang(en)",)


def test_assign_splits_matches_q119(spark):
    """The pipeline stage reproduces q119's per-doc routing exactly
    (same canonical hash, same group hash), and duplicates never
    straddle splits."""
    docs = load_table(spark, SF_DIR, "documents")
    want = {
        r.doc_id: r.split
        for r in REGISTRY["q119_split_assign"].spark(spark, SF_DIR).collect()
    }
    got = {
        r.doc_id: r.split
        for r in CorpusPipeline(docs.select("doc_id", "text")).assign_splits().df.collect()
    }
    assert got == want
    assert set(got.values()) <= {"train", "val", "test"}


def test_pipeline_bloom_decontaminate(spark):
    """strategy='bloom' keeps a SUBSET of exact's kept set (zero false
    negatives: every exactly-contaminated doc is dropped by bloom too),
    the lineage records the strategy, and the q123 registry row routes
    through this exact path."""
    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") >= 20)
    probe = docs.filter(F.col("doc_id") < 20)

    exact = CorpusPipeline(corpus).decontaminate(probe)
    bloom = CorpusPipeline(corpus).decontaminate(probe, strategy="bloom")
    assert exact.lineage == ("decontaminate",)
    assert bloom.lineage == ("decontaminate[bloom]",)

    kept_exact = {r.doc_id for r in exact.df.select("doc_id").collect()}
    kept_bloom = {r.doc_id for r in bloom.df.select("doc_id").collect()}
    assert kept_bloom <= kept_exact  # FPs only drop extra, never keep a leak
    assert kept_bloom  # and it isn't vacuously empty

    q123 = {r.doc_id for r in REGISTRY["q123_bloom_decontaminate"].spark(spark, SF_DIR).collect()}
    assert q123 == kept_bloom

    import pytest

    with pytest.raises(ValueError, match="strategy"):
        CorpusPipeline(corpus).decontaminate(probe, strategy="nope")


def test_pipeline_bloom_decontaminate_on_stream(spark, tmp_path):
    """The bloom strategy is a stateless narrow predicate, so the SAME
    pipeline stage applies to a streaming frame and keeps exactly the
    batch rows."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "source")
    corpus = docs.filter(F.col("doc_id") >= 20)
    probe = docs.filter(F.col("doc_id") < 20)

    batch_kept = {
        r.doc_id
        for r in CorpusPipeline(corpus)
        .decontaminate(probe, strategy="bloom")
        .df.select("doc_id")
        .collect()
    }

    src = str(tmp_path / "src")
    corpus.write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    out = CorpusPipeline(stream).decontaminate(probe, strategy="bloom").df
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_pipe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_kept = {
        r.doc_id for r in spark.sql("SELECT doc_id FROM bloom_pipe").collect()
    }
    assert stream_kept == batch_kept


def test_pipeline_bloom_prebuilt_filter_matches_inline_build(spark):
    """A prebuilt (bits, n_bits) artifact passed via bloom_filter=
    keeps exactly the rows the inline-built path keeps, and the
    argument guards fire."""
    import pytest

    from flink_assignment_spark.operators.gates import build_bloom, shingle_hash_array

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") >= 20)
    probe = docs.filter(F.col("doc_id") < 20)

    inline = {
        r.doc_id
        for r in CorpusPipeline(corpus)
        .decontaminate(probe, strategy="bloom")
        .df.select("doc_id")
        .collect()
    }
    hashes = frozenset(
        r.h
        for r in probe.select(
            F.explode(shingle_hash_array(F.col("text"))).alias("h")
        ).distinct().collect()
    )
    bf = build_bloom(hashes)
    prebuilt = {
        r.doc_id
        for r in CorpusPipeline(corpus)
        .decontaminate(None, strategy="bloom", bloom_filter=bf)
        .df.select("doc_id")
        .collect()
    }
    assert prebuilt == inline

    with pytest.raises(ValueError, match="probe_docs or a prebuilt"):
        CorpusPipeline(corpus).decontaminate(None, strategy="bloom")
    with pytest.raises(ValueError, match="requires strategy"):
        CorpusPipeline(corpus).decontaminate(None, bloom_filter=bf)


def test_sample_temperature_matches_operator_and_q129(spark):
    """The pipeline stage keeps exactly the q129 selection (same salt,
    same quotas) and refuses streams."""
    from flink_assignment_spark.operators.sampling import temperature_sample
    from flink_assignment_spark.queries.synthetic import REGISTRY

    docs = load_table(spark, SF_DIR, "documents")
    p = CorpusPipeline(docs).sample_temperature(300)
    got = {r.doc_id for r in p.df.select("doc_id").collect()}
    want = {
        r.doc_id
        for r in temperature_sample(docs, "doc_id", "lang", 300).collect()
    }
    q129 = {
        r.doc_id
        for r in REGISTRY["q129_temperature_mixture"].spark(spark, SF_DIR).collect()
    }
    assert got == want == q129
    assert p.lineage == ("sample_temperature(300,a=0.5)",)

    import pytest as _pytest

    stream = spark.readStream.format("rate").load()
    with _pytest.raises(TypeError, match="batch-only"):
        CorpusPipeline(
            stream.selectExpr("value as doc_id", "'x' as text")
        ).sample_temperature(300)
