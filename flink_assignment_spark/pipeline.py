"""Fluent corpus-pipeline builder — the user-facing front door.

The registry proves each operator individually and q83 proves they
compose; this module is the API a pipeline author actually writes:

    from flink_assignment_spark.pipeline import CorpusPipeline

    kept = (
        CorpusPipeline(docs)
        .normalize()
        .gate_repetition()
        .decontaminate(probe_docs)
        .dedup_exact()
        .sample_mixture({"en": 0.5, "de": 0.5})
        .df
    )

Every stage is a THIN wrapper over the proven operators/gates and
returns a new immutable pipeline around a transformed DataFrame.
Most stages only extend one lazy Catalyst DAG (narrow gates fuse into
the scan; only the operators' documented wide steps shuffle), exactly
like the hand-written q83. Two batch-only stages run jobs while they
are built:

- ``dedup_near`` materializes its input once with
  ``localCheckpoint`` (not fault-tolerant; see its docstring), then
  runs the MinHash index, LSH buckets and connected-component rounds;
  the chain after it starts from the checkpointed blocks.
- ``sample_mixture`` collects the per-group counts behind
  ``operators.sampling.mixture_rates``.

Every other stage executes nothing until the caller acts on ``.df``.
``lineage`` records the applied stages for audit output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions.text import canonical_text, tokens, word_shingles
from .operators.gates import shingle_hash_array


def normalize_text(col: Column) -> Column:
    """Canonical cleaning (the q74 transform) — delegates to THE
    shared definition in ``functions.text.canonical_text``."""
    return canonical_text(col)


class CorpusPipeline:
    """Immutable fluent wrapper: each stage returns a NEW pipeline."""

    def __init__(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        lineage: tuple[str, ...] = (),
    ):
        self._df = docs
        self.text_col = text_col
        self.id_col = id_col
        self.lineage = lineage

    # ------------------------------------------------------------ core
    @property
    def df(self) -> DataFrame:
        return self._df

    def _next(self, df: DataFrame, stage: str) -> "CorpusPipeline":
        return CorpusPipeline(
            df, self.text_col, self.id_col, self.lineage + (stage,)
        )

    # ---------------------------------------------------- text shaping
    def normalize(self) -> "CorpusPipeline":
        """Replace the text column with its canonical form (q74)."""
        out = self._df.withColumn(self.text_col, normalize_text(F.col(self.text_col)))
        return self._next(out, "normalize")

    # ----------------------------------------------------------- gates
    def gate_repetition(self, max_ratio_x5: int = 1) -> "CorpusPipeline":
        """Gopher repetition gate in exact integer math: keep docs with
        ``(total − distinct)·5 ≤ total·max_ratio_x5`` — the default is
        the q61/q83 ratio ≤ 0.2 rule, float-boundary-free."""
        tk = tokens(F.col(self.text_col))
        total = F.greatest(F.size(tk) - 2, F.lit(0))
        distinct = F.size(word_shingles(tk, 3))
        out = self._df.filter((total - distinct) * 5 <= total * max_ratio_x5)
        return self._next(out, "gate_repetition")

    def gate_compression(self) -> "CorpusPipeline":
        """Keep docs whose zlib ratio bands 'ok' (q79's thresholds —
        drops boilerplate/looped spam and base64/noise). A NARROW
        filter (one Arrow UDF + ratio compare inline), so it applies
        unchanged to a streaming frame — no join, no state."""
        from .functions._pandas_udfs import make_zlib_len_udf
        from .operators.gates import COMPRESS_RANDOM, COMPRESS_REPETITIVE, ZLIB_LEVEL

        zl = make_zlib_len_udf(ZLIB_LEVEL)
        raw = F.length(F.encode(F.col(self.text_col), "utf-8"))
        # round(·, 4) before banding — compression_stats' exact rule,
        # so this filter admits precisely its 'ok' band
        ratio = F.round(zl(F.col(self.text_col)) / raw, 4)
        out = self._df.filter(
            (F.coalesce(raw, F.lit(0)) > 0)
            & ratio.between(COMPRESS_REPETITIVE, COMPRESS_RANDOM)
        )
        return self._next(out, "gate_compression")

    def scrub_pii(self, extended: bool = False) -> "CorpusPipeline":
        """Redact emails/URLs IN the text column (the transform whose
        audit form is q59's pii_stats) — a pure narrow map of JVM-side
        regexes, so it applies unchanged to batch or stream.
        ``extended=True`` additionally applies the q138 categories
        (IPv4 addresses, phone-shaped digit runs) in the
        operators/pii.py ordered-redaction contract; the default stays
        email/URL so existing pipelines (q83's oracle) are
        byte-stable."""
        from .operators.gates import EMAIL_RE, URL_RE

        redacted = F.regexp_replace(
            F.regexp_replace(F.col(self.text_col), EMAIL_RE, "<EMAIL>"),
            URL_RE,
            "<URL>",
        )
        if extended:
            from .operators.pii import IPV4_RE, IPV4_TAG, PHONE_RE, PHONE_TAG

            redacted = F.regexp_replace(
                F.regexp_replace(redacted, IPV4_RE, IPV4_TAG), PHONE_RE, PHONE_TAG
            )
        out = self._df.withColumn(self.text_col, redacted)
        return self._next(out, "scrub_pii")

    def gate_lang(self, keep: set[str] | frozenset[str]) -> "CorpusPipeline":
        """Keep docs whose n-gram-profile language guess (the q33
        heuristic — no external model) is in ``keep``. Narrow,
        stream-safe."""
        from .functions.text import langid_ngram_expr

        out = self._df.filter(
            langid_ngram_expr(F.col(self.text_col)).isin(list(keep))
        )
        return self._next(out, f"gate_lang({','.join(sorted(keep))})")

    def decontaminate(
        self,
        probe_docs: DataFrame | None,
        strategy: str = "exact",
        bits_per_element: int = 16,
        bloom_k: int = 4,
        bloom_filter: tuple[bytes, int] | None = None,
    ) -> "CorpusPipeline":
        """Drop every doc sharing a word-3-gram with ``probe_docs``
        (same text column name; probe sets are eval-suite-bounded by
        contract).

        ``strategy="exact"``: batch plans the q60/q83 broadcast probe
        anti-join (JVM-side); a streaming frame can't anti-join
        against a set derived from itself, so it takes the
        ``gates_stream`` shape instead — the probe SET broadcast into
        one Arrow UDF, a stateless narrow filter. Same kept set either
        way.

        ``strategy="bloom"``: the bounded-memory scale path for probe
        sets that outgrow a broadcast Python set — the probe shingles
        pack into a fixed-size Bloom bitmap
        (``operators.gates.build_bloom``: ~16x smaller than the set at
        500k docs, SCALING.md) and each doc is kept iff NONE of its
        shingles hits the filter. Zero false negatives by
        construction, so the DROPPED set is a superset of exact's and
        the KEPT set a subset — the safe failure direction for a
        decontamination gate (never train on a missed leak; the
        FP-rate-bounded extra drops are the price of bounded memory).
        A stateless narrow map, identical on batch and streaming
        frames. A PREBUILT ``bloom_filter`` — the (bits, n_bits) pair
        from ``operators.gates.build_bloom``, e.g. a per-session or
        persisted artifact — skips the probe shingle collect entirely
        (the frozen-artifact split: build the bitmap once when the
        eval suite changes, probe always)."""
        if strategy not in ("exact", "bloom"):
            raise ValueError(f"unknown decontaminate strategy {strategy!r}")
        if bloom_filter is not None and strategy != "bloom":
            raise ValueError("bloom_filter requires strategy='bloom'")
        if probe_docs is None and bloom_filter is None:
            raise ValueError("pass probe_docs or a prebuilt bloom_filter")
        if strategy == "bloom":
            from .operators.gates import bloom_clean_filter, build_bloom

            if bloom_filter is not None:
                bits, n_bits = bloom_filter
            else:
                probe_hashes = (
                    probe_docs.select(
                        F.explode(shingle_hash_array(F.col(self.text_col))).alias("h")
                    )
                    .distinct()
                    .collect()
                )
                bits, n_bits = build_bloom(
                    frozenset(r["h"] for r in probe_hashes),
                    bits_per_element=bits_per_element,
                    k=bloom_k,
                )
            out = self._df.filter(
                bloom_clean_filter(
                    self._df, bits, n_bits, bloom_k, text_col=self.text_col
                )
            )
            return self._next(out, "decontaminate[bloom]")
        probe = (
            probe_docs.select(
                F.explode(shingle_hash_array(F.col(self.text_col))).alias("h")
            )
            .distinct()
        )
        if self._df.isStreaming:
            # UDF lives in _pandas_udfs (a module without postponed
            # annotations — pandas_udf cannot resolve stringized hints)
            from .functions._pandas_udfs import make_probe_clean_udf

            bc = self._df.sparkSession.sparkContext.broadcast(
                frozenset(r["h"] for r in probe.collect())
            )
            # optimizer fence, same class as bloom_clean_filter's: a
            # deterministic UDF predicate can be pushed below an
            # exchange, dragging the Python stage under whatever
            # parallelism the caller set up (values are unchanged)
            clean = make_probe_clean_udf(bc).asNondeterministic()
            out = self._df.filter(
                clean(shingle_hash_array(F.col(self.text_col)))
            )
            return self._next(out, "decontaminate")
        sh = self._df.select(
            self.id_col,
            F.explode_outer(shingle_hash_array(F.col(self.text_col))).alias("h"),
        ).filter(F.col("h").isNotNull())
        dirty = sh.join(F.broadcast(probe), "h").select(self.id_col).distinct()
        out = self._df.join(dirty, self.id_col, "left_anti")
        return self._next(out, "decontaminate")

    # ----------------------------------------------------------- dedup
    def dedup_exact(self) -> "CorpusPipeline":
        """Keep each exact-duplicate group's min-id doc (q62 apply):
        one keep-first window on the near-uniform md5 key. Batch-only
        (corpus-global window); for streams use
        ``streaming.dedup_stream`` / ``dedup_apply``."""
        from pyspark.sql import Window

        if self._df.isStreaming:
            raise TypeError(
                "dedup_exact is batch-only — use streaming.dedup_stream "
                "(detection) or streaming.dedup_apply (kept-corpus upsert)"
            )
        w = Window.partitionBy(F.md5(F.col(self.text_col))).orderBy(self.id_col)
        out = (
            self._df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return self._next(out, "dedup_exact")

    def dedup_near(
        self,
        threshold: float = 0.3,
        max_doc_freq: int | None = None,
        max_bucket: int | None = None,
    ) -> "CorpusPipeline":
        """Near-duplicate removal, the full q16 + q29 lifecycle in one
        stage: MinHash(16)+LSH candidate pairs verified by exact
        Jaccard ≥ ``threshold`` (skew caps default to the q16
        constants), contracted into clusters with the q29 star
        algorithm, then every non-min-id cluster member dropped. Only
        the documented wide steps shuffle (shingle index, bucket
        groupBy, verify join, CC contraction); the kept set equals
        running q16 then q29 by hand on the same corpus
        (tests/test_pipeline_api.py). Batch-only — streams pair
        ``streaming.lsh_stream`` with ``streaming.components_stream``.

        The input is materialized ONCE with ``localCheckpoint``: the
        pair search and the final anti-join both read those blocks, and
        the returned frame's plan starts from them, so the upstream
        stages never re-run. Local checkpoints live on the executors
        and are not fault-tolerant — a lost executor fails later
        actions instead of recomputing the prefix.
        """
        from .operators.components import connected_components
        from .operators.dedup import (
            MAX_LSH_BUCKET,
            MAX_SHINGLE_DF,
            minhash_lsh_pairs,
        )

        if self._df.isStreaming:
            raise TypeError(
                "dedup_near is batch-only — use streaming.lsh_stream + "
                "streaming.components_stream incrementally"
            )
        # the stage runs jobs while it is built (index, LSH buckets, CC
        # rounds); materialize its input once so neither those nor the
        # anti-join below nor any later action re-runs the prefix
        docs = self._df.localCheckpoint(eager=True)
        pairs = minhash_lsh_pairs(
            docs,
            threshold=threshold,
            text_col=self.text_col,
            id_col=self.id_col,
            max_doc_freq=MAX_SHINGLE_DF if max_doc_freq is None else max_doc_freq,
            max_bucket=MAX_LSH_BUCKET if max_bucket is None else max_bucket,
        )
        clusters = connected_components(pairs, "doc_a", "doc_b")
        drop = (
            clusters.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(self.id_col))
        )
        out = docs.join(drop, self.id_col, "left_anti")
        return self._next(out, "dedup_near")

    # -------------------------------------------------------- sampling
    def budget_per_group(
        self, k: int, group_col: str = "lang", salt: str = "budget"
    ) -> "CorpusPipeline":
        """Per-group fixed budget (q100): keep exactly ``min(k,
        |group|)`` docs per group, chosen by the deterministic salted
        hash order — repartition-invariant, same survivors every run.
        One row_number window per group. Batch-only (the window is
        corpus-global); streams maintain the same selection
        incrementally via ``streaming.topk_stream``."""
        from pyspark.sql import Window

        from .operators.sampling import uniform_from_key

        if self._df.isStreaming:
            raise TypeError(
                "budget_per_group is batch-only — use "
                "streaming.topk_stream.topk_stream"
            )
        w = Window.partitionBy(group_col).orderBy(
            uniform_from_key(F.col(self.id_col), salt), F.col(self.id_col)
        )
        out = (
            self._df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .drop("__rk")
        )
        return self._next(out, f"budget_per_group({k})")

    def sample_mixture(
        self, weights: dict[str, float], group_col: str = "lang", salt: str = "mix"
    ) -> "CorpusPipeline":
        """Rebalance to target group weights (q67). Batch-only (the
        rates are corpus-global scalars); for streams use
        ``streaming.mixture_stream``."""
        from .operators.sampling import mixture_rebalance

        if self._df.isStreaming:
            raise TypeError(
                "sample_mixture is batch-only — use "
                "streaming.mixture_stream.incremental_mixture_rebalance"
            )
        out = mixture_rebalance(self._df, self.id_col, group_col, weights, salt)
        return self._next(out, "sample_mixture")

    def sample_stratified(
        self, rates: dict[str, float], stratum: str = "lang", salt: str = "sample"
    ) -> "CorpusPipeline":
        """Deterministic per-stratum downsampling (q35)."""
        from .operators.sampling import stratified_sample

        out = stratified_sample(self._df, self.id_col, stratum, rates, salt)
        return self._next(out, "sample_stratified")

    def sample_temperature(
        self,
        budget: int,
        alpha: float = 0.5,
        group_col: str = "lang",
        salt: str = "temperature",
    ) -> "CorpusPipeline":
        """Temperature (n^alpha) mixture sampling (q129): per-group
        quotas proportional to n_g^alpha — the multilingual
        flattening rule — filled by the smallest salted hashes.
        Batch-only (quotas are corpus-global counts); unlike
        ``sample_mixture`` no target weights are declared: the
        mixture is DERIVED from the observed group sizes, so adding a
        corpus source reshapes every quota."""
        from .operators.sampling import temperature_sample

        if self._df.isStreaming:
            raise TypeError(
                "sample_temperature is batch-only — quotas are "
                "corpus-global counts; maintain them incrementally "
                "via streaming.topk_stream against frozen targets"
            )
        out = temperature_sample(
            self._df, self.id_col, group_col, budget, alpha, salt
        ).drop("rnk")
        return self._next(out, f"sample_temperature({budget},a={alpha})")

    def assign_splits(self, out_col: str = "split") -> "CorpusPipeline":
        """Group-atomic train/val/test routing (q119): docs sharing a
        canonical text always land in the same split, so exact
        duplicates can never straddle train and eval. One window
        shuffle on the canonical hash; routing is the shared
        ``operators.sampling.group_split`` hash of the group's min
        id — stable as the corpus grows and identical to the
        streaming gate (streaming/split_stream.py)."""
        from pyspark.sql import Window

        from .operators.sampling import group_split

        w = Window.partitionBy(F.md5(canonical_text(F.col(self.text_col))))
        grp = F.min(self.id_col).over(w)
        out = self._df.withColumn(out_col, group_split(grp))
        return self._next(out, "assign_splits")

    # ----------------------------------------------------------- audit
    def yield_summary(self, group_col: str = "source") -> DataFrame:
        """Survivor counts per group plus the pipeline lineage — the
        q83-style audit frame."""
        return self._df.groupBy(group_col).agg(
            F.count("*").alias("n_docs"),
            F.lit(" > ".join(self.lineage) or "(identity)").alias("pipeline"),
        )
