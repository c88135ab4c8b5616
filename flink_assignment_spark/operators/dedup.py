"""Document deduplication operators (LLM-data-pipeline extensions).

Four families, all driven by the inverted-index / LSH principle:
never compare all N² pairs — build a key (shingle, band signature,
bit-block) that co-buckets likely duplicates, equi-join on it (a
shuffle Catalyst plans like any other join), then verify exactly
within buckets. That is the shape that survives 100 TB; the
brute-force variants exist only as oracles/tests.

Hashing uses md5-derived integers (functions.text.hash60) so every
operator here is reproducible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    MINHASH_PERMS,
    MINHASH_PRIME,
    hash60,
    minhash_value,
    token_windows,
    tokens,
    word_shingles,
)
from .spread import spread as _spread


# Skew guards for the shingle inverted index and LSH buckets. A
# shingle occurring in more than MAX_SHINGLE_DF documents is corpus
# boilerplate (license headers, markup): it carries no dedup signal
# but turns the index self-join quadratic on one reducer key (k docs
# sharing it → k² join rows). Same for an LSH bucket larger than
# MAX_LSH_BUCKET — genuine near-dup buckets are small by construction
# (docs agreeing on a full minhash band); an oversized one is a
# degenerate corpus region that exact dedup should have removed.
# Both caps are mirrored verbatim in the DuckDB oracle CTEs.
MAX_SHINGLE_DF = 100
MAX_LSH_BUCKET = 50


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by full-text equality.

    Hash-groupBy on the text (Catalyst partial-aggregates map-side, so
    the shuffle carries one row per distinct text per partition).
    Returns (text_hash, keep_id = min id, n_dups).
    """
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups")
    )




def cap_doc_freq(index: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop inverted-index postings whose shingle occurs in more than
    ``max_doc_freq`` documents, and recompute each document's shingle
    count over the kept set (so Jaccard is over the capped sets and
    both engines agree).

    The document-frequency aggregate is safe on the hot key itself:
    ``groupBy(h).count`` partial-aggregates map-side, so the skewed
    hash contributes one row per input partition to the shuffle. The
    surviving hot-hash list is tiny by definition (only hashes with
    df > cap) and broadcast for the anti-join — the full index is
    never shuffled on ``h`` here. The per-doc recount hash-partitions
    by ``doc_id``; every downstream consumer (MinHash groupBy, the
    verify join's pair aggregation) reuses that partitioning.
    """
    hot = (
        index.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("h")
    )
    kept = index.join(F.broadcast(hot), "h", "left_anti")
    n_kept = kept.groupBy("doc_id").agg(F.count("*").alias("n_kept"))
    return kept.select("doc_id", "h").join(n_kept, "doc_id").select(
        "doc_id", F.col("n_kept").alias("n_shingles"), "h"
    )


def doc_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(doc_id, n_shingles, h) exploded inverted-index input — one row
    per distinct shingle per doc, keyed by the shingle's 60-bit hash.

    The raw shingle string is dropped right after hashing: every
    downstream consumer (MinHash, the Jaccard verify join) only needs
    an equality key, and an 8-byte long shuffles/compares far cheaper
    than a multi-word string. Both engines derive the identical hash
    (md5-based, functions.text.hash60), so intersection counts match
    the oracle bit-for-bit even in the astronomically-unlikely
    collision case.

    Uses ``explode_outer`` + null-filter instead of ``explode``:
    plain explode implies a ``size(arr) > 0`` predicate that Catalyst
    pushes below the projection — re-evaluating the full shingling
    expression in the filter AND the parquet scan (3× per row).
    ``explode_outer`` generates no such predicate, so shingling runs
    exactly once per document.
    """
    docs = _spread(docs)
    with_sh = docs.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(tokens(F.col(text_col)), n).alias("shingles"),
    )
    index = (
        with_sh.select(
            "doc_id",
            F.size("shingles").alias("n_shingles"),
            F.explode_outer("shingles").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .select("doc_id", "n_shingles", hash60(F.col("shingle")).alias("h"))
    )
    if max_doc_freq is None:
        return index
    # cache the RAW index first: the cap consumes it three times (the
    # df aggregate, the kept side of the anti-join, the per-doc
    # recount) and each reference would otherwise re-run the full
    # tokenize + shingle + hash pipeline. The raw cache is a working
    # buffer for the cap only: materialize the capped frame, then
    # release it — otherwise a long session (the driver runs 60+
    # queries on one session) accumulates dead cached RDDs and leans
    # on LRU eviction
    raw = index.cache()
    capped = cap_doc_freq(raw, max_doc_freq).cache()
    capped.count()
    raw.unpersist()
    return capped


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard ≥ threshold, via inverted
    index: explode shingles → self equi-join on the shingle hash →
    count intersections per pair → |A∩B| / (|A|+|B|−|A∩B|).

    No N² cross join: pair candidates are generated only for docs
    sharing ≥ 1 shingle, and ``max_doc_freq`` drops boilerplate
    shingles whose posting list exceeds the cap (see
    :func:`cap_doc_freq`) so no single join key fans out
    quadratically. The (doc, h) index is cached: Spark performs no
    common-subexpression elimination across self-join sides, so
    without it the shingling subtree runs once per side (at cluster
    scale you would persist this index to storage instead).
    """
    if shingles is not None and max_doc_freq is not None:
        raise ValueError(
            "pass max_doc_freq when building the index, not alongside a "
            "prebuilt `shingles` frame — the cap would be silently ignored"
        )
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(docs, text_col, id_col, n, max_doc_freq).cache()
    )
    inter = _pair_intersections(sh)
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _pair_intersections(sh: DataFrame) -> DataFrame:
    """Shared inverted-index self-join: ``(doc_a, doc_b, na, nb,
    inter)`` for every doc pair sharing ≥ 1 shingle hash — the
    candidate generator behind Jaccard AND containment scoring."""
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Pairs where the SMALLER document's shingle set is mostly inside
    the larger one: ``containment = |A∩B| / min(|A|,|B|) ≥ threshold``.

    The asymmetric dedup rule symmetric Jaccard structurally misses: a
    tweet quoted inside a long article has tiny Jaccard (union is
    article-sized) but containment ≈ 1 — exactly the
    quote/subset/boilerplate-inclusion case Lee et al. 2022 flag as
    needing substring-level treatment. Same inverted-index join and
    skew caps as :func:`ngram_jaccard_pairs` (one extra column in the
    output: the pair's Jaccard, to show what the symmetric rule would
    have scored it), and the same prebuilt-``shingles`` mutual
    exclusion."""
    if shingles is not None and max_doc_freq is not None:
        raise ValueError(
            "pass max_doc_freq when building the index, not alongside a "
            "prebuilt `shingles` frame — the cap would be silently ignored"
        )
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(docs, text_col, id_col, n, max_doc_freq).cache()
    )
    inter = _pair_intersections(sh)
    cont = F.col("inter").cast("double") / F.least("na", "nb").cast("double")
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
    return (
        inter.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round("containment", 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def save_minhash_bands(banded: DataFrame, path: str) -> None:
    """Persist a (doc_id, band, key) band-key frame as parquet
    PARTITIONED BY band — the storage half of the near-dup index
    split (mirrors similarity.save_lsh_base): build signatures once
    per corpus snapshot, probe candidate pairs from the frozen
    artifact. Partitioning on the band prunes a per-band bucket scan
    to one directory."""
    banded.select("doc_id", "key", "band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(path)


def load_minhash_bands(spark, path: str) -> DataFrame:
    """Load a persisted band-key artifact for
    :func:`minhash_lsh_pairs`'s ``banded``. The partition-directory
    column comes back type-inferred, so ``band`` is re-cast to the
    int ``band_keys`` emits — column-identical to the in-memory
    frame."""
    return spark.read.parquet(path).select(
        "doc_id", F.col("band").cast("int").alias("band"), "key"
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """16-permutation MinHash signature per doc: the shingle index
    already carries each shingle's 60-bit hash; take 16 column-wise
    mins in a single partial-aggregated groupBy (one shuffle, no
    per-doc list materialization)."""
    sh = shingles if shingles is not None else doc_shingles(docs, text_col, id_col, n)
    aggs = [
        F.min(minhash_value(F.col("h"), a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_keys(sigs: DataFrame, rows_per_band: int) -> DataFrame:
    """(doc_id, band, key) — one row per LSH band per signature row.

    THE band-key definition (``concat_ws(',', mh_i...)`` over each
    band's signature slots): the batch pipeline and the streaming
    bucket state must produce byte-identical keys for the
    stream==batch candidate-set contract to hold, so both call this
    single helper. ``sigs`` is :func:`minhash_signatures` output;
    extra columns are carried through."""
    n_perms = len(MINHASH_PERMS)
    bands = []
    for band_idx in range(n_perms // rows_per_band):
        cols = [
            F.col(f"mh{band_idx * rows_per_band + r}") for r in range(rows_per_band)
        ]
        bands.append(
            F.struct(
                F.lit(band_idx).alias("band"), F.concat_ws(",", *cols).alias("key")
            )
        )
    carried = [c for c in sigs.columns if not c.startswith("mh")]
    return sigs.select(*carried, F.explode(F.array(*bands)).alias("bk")).select(
        *carried, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _bucket_pairs(ids_col) -> "F.Column":
    """All ordered (doc_a < doc_b) pairs within one bucket's id array —
    pure Catalyst (array_sort + nested transform + flatten), no UDF.

    Pair volume is quadratic in BUCKET size — exactly the rows a self
    equi-join on the bucket key would emit; the difference is that one
    bucket expands in one task instead of one join cell, which is the
    same skew exposure (an equi-join also hash-routes each key to one
    reducer). Near-dup LSH buckets are small by construction (docs
    agreeing on a full band / bit-block); a degenerate corpus (millions
    of identical docs) should be exact-deduped first — true at any
    scale, for either formulation.
    """
    ids = F.array_sort(ids_col)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids) - i - 1),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    rows_per_band: int | None = None,
    max_doc_freq: int | None = None,
    max_bucket: int | None = None,
    shingles: DataFrame | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified by exact Jaccard.

    Signature (16 mins) → 8 bands of 2 → unpivot to (doc, band, key)
    → groupBy (band, key) collecting each bucket's ids → in-bucket
    pair expansion (:func:`_bucket_pairs`) → distinct candidate pairs
    → exact n-gram Jaccard verification ≥ threshold. Each stage is a
    shuffle on a well-distributed key; nothing is quadratic in corpus
    size. Returns (doc_a, doc_b, jaccard).

    Bucket-groupBy (not a banded self-join) generates the candidates:
    one scan of the signature subtree instead of two. Spark performs
    no common-subexpression elimination across self-join sides, and
    two branches of one job racing on an unmaterialized cache each
    recompute it — the groupBy formulation has a single consumer, so
    the whole candidate job reads the shingle index exactly once.

    ``max_doc_freq`` caps the shingle index (one capped index feeds
    signatures, candidates AND verification, so the reported Jaccard
    is consistently over the capped sets); ``max_bucket`` drops
    degenerate LSH buckets before pair expansion (see module-level
    cap rationale). A prebuilt (already-capped, persisted) ``shingles``
    frame may be passed instead of ``max_doc_freq`` — same mutual
    exclusion as :func:`ngram_jaccard_pairs`. A prebuilt ``banded``
    frame (``band_keys(minhash_signatures(...))`` over the SAME
    shingle index — e.g. a session-shared or persisted-to-storage
    artifact) additionally skips the signature aggregation, the LSH
    analogue of passing a prebuilt ``base`` to similarity.lsh_topk;
    the Jaccard verification still reads ``shingles``, so both
    artifacts must derive from one index for the reported value to be
    consistent. ``rows_per_band`` (default 2) is a BUILD parameter:
    passing it explicitly alongside ``banded`` raises — the artifact's
    banding was fixed when it was built, and silently ignoring a
    different value would change candidate recall with no error (the
    same silent-ignore class as the shingles/max_doc_freq guard).
    """
    if shingles is not None and max_doc_freq is not None:
        raise ValueError(
            "pass max_doc_freq when building the index, not alongside a "
            "prebuilt `shingles` frame — the cap would be silently ignored"
        )
    if banded is not None and shingles is None:
        raise ValueError(
            "a prebuilt `banded` frame requires the `shingles` index it "
            "was derived from — verification Jaccard must use the same "
            "capped shingle sets the signatures hashed"
        )
    if banded is not None and rows_per_band is not None:
        raise ValueError(
            "pass rows_per_band when building the band artifact, not "
            "alongside a prebuilt `banded` frame — the artifact's banding "
            "was fixed at build time and the argument would be silently "
            "ignored (a mismatched banding changes candidate recall)"
        )
    if rows_per_band is None:
        rows_per_band = 2
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(docs, text_col, id_col, n, max_doc_freq).cache()
    )
    if banded is None:
        sigs = minhash_signatures(docs, text_col, id_col, n, shingles=sh)
        banded = band_keys(sigs, rows_per_band)
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    # cand is referenced by THREE branches of the final job (both arms
    # of the cand_docs union + the output join); an unmaterialized
    # cache would be recomputed per branch, so count() materializes it
    # in its own job first (this job also populates the sh cache — its
    # single reference flows through the signature aggregation).
    cand = (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
        .cache()
    )
    cand.count()
    return _verify_pairs_jaccard(cand, sh, threshold)


def _verify_pairs_jaccard(
    cand: DataFrame, sh: DataFrame, threshold: float, arrs: DataFrame | None = None
) -> DataFrame:
    """Exact-Jaccard verification of CANDIDATE PAIRS ONLY — shared by
    the LSH and prefix-filter candidate generators.

    The index self-join form (ngram_jaccard_pairs over the candidate
    docs) scores every pair of candidate docs sharing >= 1 shingle — a
    set that grows near-quadratically with cluster density even after
    the candidate stage pruned the pair list. Instead, fold each
    candidate doc's (distinct) shingle hashes into one array and join
    the arrays onto the candidate pairs themselves: intersection work
    is linear in |cand|, per-row memory is bounded by doc length, and
    the Jaccard (array_intersect over the same sets) is
    value-identical to the index-join form (A/B-verified at sf0.1).

    The arrays attach through ONE join: the pair list is melted to
    (doc_a, doc_b, doc_id) — two rows per pair — joined once against
    the per-doc array frame, and folded back to one row per pair. The
    former shape joined the array frame twice (once per pair side),
    and Spark performs no common-subexpression elimination across join
    sides, so the semi-join + collect_list over the shingle index
    executed TWICE per action (r16 verdict item 3); the melt halves
    the index-side work for the price of one pair-scale exchange.

    ``arrs``: optional prebuilt ``(doc_id, hs)`` per-doc array frame
    covering every candidate doc (the prefix-filter path derives one
    as a by-product of prefix construction — the caller must have
    MATERIALIZED it, since it also feeds candidate generation). When
    None it is built here from ``sh`` restricted to candidate docs,
    and ``cand`` must be materialized (cached) by the caller — it
    feeds both the melt and the candidate-doc semi-join.
    """
    melted = cand.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    if arrs is None:
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        arrs = (
            sh.join(cand_docs, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_list("h").alias("hs"))
        )
    # exactly one non-null per (pair, side): doc_a < doc_b always, so
    # max() just picks the side's array back out of the two melt rows
    paired = (
        melted.join(arrs, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(F.when(F.col("doc_id") == F.col("doc_a"), F.col("hs"))).alias("ha"),
            F.max(F.when(F.col("doc_id") == F.col("doc_b"), F.col("hs"))).alias("hb"),
        )
    )
    inter = F.size(F.array_intersect("ha", "hb")).cast("double")
    jac = inter / (
        F.size("ha") + F.size("hb") - F.size(F.array_intersect("ha", "hb"))
    ).cast("double")
    return (
        paired.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold via PREFIX
    FILTERING (Chaudhuri et al. 2006; Bayardo et al. WWW'07; the
    PPJoin family) — the UNCAPPED scale path next to
    :func:`ngram_jaccard_pairs`.

    The inverted-index join needs ``max_doc_freq`` to stop hot
    shingles fanning out quadratically, which silently changes the
    reported Jaccard (capped sets). Prefix filtering is LOSSLESS:
    order every doc's shingle set by a global total order (document
    frequency ascending, then hash — rarest first), keep only the
    first ``|x| - ceil(t*|x|) + 1`` shingles as the doc's PREFIX, and
    join prefixes against prefixes. The prefix-filter lemma guarantees
    two sets with overlap >= ceil(t*max(|x|,|y|)) share a prefix
    element under any global order, and J(x,y) >= t implies exactly
    that overlap — so every qualifying pair survives, while hot
    shingles contribute join rows only for the (rare) docs whose
    prefix they reach. The length filter (|y| >= ceil(t*|x|) both
    ways) prunes size-incompatible candidates before the verify.

    One extra shuffle vs the capped form (the document-frequency
    aggregate + per-doc rank window), bought back at scale: candidate
    volume is bounded by prefix co-occurrence, not full posting-list
    squares, with zero recall loss. Verification reuses the
    pair-targeted array_intersect kernel (:func:`_verify_pairs_jaccard`).

    Candidates come from a bucket-groupBy over the prefix postings
    (collect each prefix token's (doc, set-size) list, expand pairs
    in-bucket), NOT a prefix self-join: one scan of the
    dfreq-join-rank subtree instead of two — same rationale as
    :func:`minhash_lsh_pairs`' bucket formulation, and the same skew
    exposure (a hot prefix token expands in one task exactly as a
    self equi-join would route it to one reducer). Prefix buckets are
    self-limiting in a way raw posting lists are not: a token lands
    in a doc's prefix only while it is among that doc's RAREST
    ``|x| - ceil(t|x|) + 1`` shingles, so globally hot tokens appear
    in few prefixes by construction. The size-compatibility filter
    (t·|x| <= |y| <= |x|/t) prunes pairs at expansion, before the
    distinct and the verify.
    """
    sh = shingles if shingles is not None else doc_shingles(docs, text_col, id_col, n)

    # float-safe ceil: the prefix length, size filter, and positional
    # bound all compare integers against ceil(t * n). When t * n is
    # exactly integral, a one-ulp float overshoot would ceil one too
    # high — shortening a prefix or pruning a boundary pair, i.e.
    # RECALL loss. Nudging down by an epsilon far above float error
    # but far below 1/n keeps every ceiling exact-or-conservative.
    def _ceil(c):
        return F.ceil(c - F.lit(1e-9))

    # ONE per-doc frame feeds BOTH halves of the query (r17; guide
    # §2.4 — establish a partitioning once, reuse it): document
    # frequency via a window over h (broadcast-independent, r16), then
    # a single groupBy(doc_id) collects each doc's (df, h) rows sorted
    # by the global prefix order (df asc, h asc — struct field order,
    # and h is unique per doc so the order is strict). Candidate
    # generation slices the PREFIX off the front of the sorted array;
    # verification projects the full hash set out of the same rows.
    # This replaces the former row_number window (an exchange + sort
    # of the full index by doc_id) AND the verify step's semi-join +
    # re-aggregation of the index — the index is now shuffled exactly
    # twice (by h for df, by doc_id for the arrays) and scanned once.
    # Materialized eagerly: the prefix subtree and the verify arrays
    # are two branches of the final job and would race on a lazy cache.
    docarr = (
        sh.withColumn("df", F.count("*").over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("dh"))
        .withColumn("ns", F.size("dh"))
        .cache()
    )
    docarr.count()
    # prefix length |x| - ceil(t|x|) + 1 >= 1 for t <= 1, so the slice
    # is always well-formed; posexplode positions are 0-based — +1
    # restores the 1-based rank the positional filter's math uses
    prefix = docarr.select(
        "doc_id",
        "ns",
        F.posexplode(
            F.slice(
                F.col("dh"),
                1,
                (
                    F.col("ns") - _ceil(F.lit(threshold) * F.col("ns")) + 1
                ).cast("int"),
            )
        ).alias("pos0", "e"),
    ).select(
        F.col("e.df").alias("df"),
        F.col("e.h").alias("h"),
        F.struct(
            F.col("doc_id").alias("doc_id"),
            F.col("ns").alias("ns"),
            (F.col("pos0") + 1).cast("int").alias("pos"),
        ).alias("x"),
    )
    buckets = (
        prefix.groupBy("df", "h")
        .agg(F.collect_list("x").alias("xs"))
        .filter(F.size("xs") > 1)
    )
    pairs = buckets.select(
        "df",
        "h",
        F.explode(_sized_bucket_pairs(F.col("xs"))).alias("p"),
    ).select("df", "h", "p.doc_a", "p.doc_b", "p.na", "p.nb", "p.ia", "p.jb")
    sized = pairs.filter(
        (F.col("nb") >= _ceil(F.lit(threshold) * F.col("na")))
        & (F.col("na") >= _ceil(F.lit(threshold) * F.col("nb")))
    )
    # PPJoin positional filter (Xiao et al. 2008): take each pair's
    # FIRST prefix match in the global (df, h) order. Every other
    # common shingle sorts strictly after it in BOTH docs (an earlier
    # common shingle would itself be a prefix-prefix match,
    # contradicting firstness), so the total overlap is bounded by
    # 1 + min(na - ia, nb - jb). J >= t needs real overlap
    # >= t/(1+t) * (na + nb); pairs whose bound can't reach it die
    # BEFORE the verify — this is what keeps candidate volume sane on
    # high-overlap corpora where prefix co-occurrence alone is loose.
    first = sized.groupBy("doc_a", "doc_b").agg(
        F.min_by(
            F.struct("na", "nb", "ia", "jb"), F.struct("df", "h")
        ).alias("m")
    )
    alpha = F.lit(threshold / (1.0 + threshold)) * (
        F.col("m.na") + F.col("m.nb")
    ).cast("double")
    bound = (
        F.lit(1)
        + F.least(
            F.col("m.na") - F.col("m.ia"), F.col("m.nb") - F.col("m.jb")
        )
    ).cast("double")
    cand = first.filter(bound >= alpha - F.lit(1e-9)).select("doc_a", "doc_b")
    # verification reuses the materialized per-doc arrays instead of
    # re-semi-joining the shingle index (arrs != None skips that), and
    # with the arrays prebuilt `cand` has a single consumer — so the
    # former cand.cache() + count() materialization job is gone too
    return _verify_pairs_jaccard(
        cand,
        sh,
        threshold,
        arrs=docarr.select("doc_id", F.col("dh.h").alias("hs")),
    )


def _sized_bucket_pairs(xs_col) -> "F.Column":
    """:func:`_bucket_pairs` carrying each side's set size and prefix
    position — (doc_a, doc_b, na, nb, ia, jb) structs for every
    ordered pair in one prefix bucket's (doc_id, ns, pos) list, so the
    size-compatibility and positional filters can run at expansion
    time. Sorting by the struct (doc_id leads) keeps doc_a < doc_b."""
    xs = F.array_sort(xs_col)
    return F.flatten(
        F.transform(
            xs,
            lambda x, i: F.transform(
                F.slice(xs, i + 2, F.size(xs) - i - 1),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["ns"].alias("na"),
                    y["ns"].alias("nb"),
                    x["pos"].alias("ia"),
                    y["pos"].alias("jb"),
                ),
            ),
        )
    )


# --- SimHash -------------------------------------------------------------

SIMHASH_BITS = 48  # md5-derived 60-bit hashes truncated to 48 bits


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Frequency-weighted SimHash fingerprint (48-bit) per document.

    Explode ALL tokens (multiplicity = term frequency weight), hash
    each once, then one groupBy computing 48 per-bit sums of ±1 —
    wide but flat aggregation, fully codegen'd, single shuffle.
    Bit j of the fingerprint is set iff the bit-j sum > 0.
    """
    tok = (
        _spread(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            # explode_outer: avoid the implicit size>0 predicate being
            # pushed down with the full tokenize expression (see
            # doc_shingles)
            F.explode_outer(tokens(F.col(text_col))).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .withColumn("h", hash60(F.col("tok")))
    )
    # each aggregate/bit term built as ONE parsed F.expr: the
    # column-by-column form cost ~800 py4j round-trips — ~1.3 s of
    # pure driver time per q17 plan build (the cosine_fixed lesson);
    # the parsed trees are node-identical (same CASE/shift/cast
    # shapes), so the fingerprints are bit-identical
    bit_sums = [
        F.expr(
            f"SUM(CASE WHEN (SHIFTRIGHT(h, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    summed = tok.groupBy("doc_id").agg(*bit_sums)
    fp = F.expr(
        " + ".join(
            f"CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
            for j in range(SIMHASH_BITS)
        )
    )
    return summed.select("doc_id", fp.alias("simhash"))


def blocked_fingerprints(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int,
    max_hamming: int,
) -> DataFrame:
    """Pigeonhole block rows for a fingerprint frame: one row per
    (doc_id, fp, blk, val) — the ``max_hamming+1`` bit-blocks whose
    equality blocks the Hamming join. Shared by :func:`hamming_pairs`
    and the streaming SimHash detector (identical keys by
    construction)."""
    n_blocks = max_hamming + 1
    block_w = bits // n_blocks
    blocks = []
    for i in range(n_blocks):
        lo = i * block_w
        width = block_w if i < n_blocks - 1 else bits - lo
        # width == 64 (bits=64, max_hamming=0): the full-width mask
        # exceeds a signed long literal; the identity slice needs none
        shifted = F.shiftright(F.col(fp_col), lo)
        val = shifted if width >= 64 else shifted.bitwiseAND(F.lit((1 << width) - 1))
        blocks.append(F.struct(F.lit(i).alias("blk"), val.alias("val")))
    return fps.select(
        F.col(id_col).alias("doc_id"), F.col(fp_col).alias("fp"),
        F.explode(F.array(*blocks)).alias("b"),
    ).select(
        "doc_id", "fp", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )


def hamming_pairs(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int,
    max_hamming: int,
    max_block_bucket: int | None = None,
) -> DataFrame:
    """All id pairs whose ``bits``-wide integer fingerprints differ in
    ≤ ``max_hamming`` bit positions — the generic pigeonhole-blocked
    join shared by text SimHash (q17) and media phash (q85).

    Pigeonhole blocking: split the fingerprint into ``max_hamming+1``
    bit-blocks; any pair within distance ``max_hamming`` agrees on at
    least one whole block, so equi-joining on (block_idx, block_value)
    finds every such pair without an N² scan. Exact popcount verifies.
    Returns ``(doc_a, doc_b, hamming)`` with ``doc_a < doc_b``.

    ``max_block_bucket`` is the skew valve (same contract as
    ``MAX_LSH_BUCKET``): a (block, value) cell holding more than this
    many fingerprints is dropped entirely — a degenerate/constant
    fingerprint shared by k inputs otherwise forms a k² join clique on
    one key. ``None`` (the q17 path, whose DuckDB oracle mirrors the
    uncapped join) keeps exact recall."""
    # cache: the self-join below references this subtree twice, and
    # Spark re-executes the upstream fingerprint pipeline once per
    # side without it
    blocked = blocked_fingerprints(fps, id_col, fp_col, bits, max_hamming).cache()
    if max_block_bucket is not None:
        # the over-cap cell list is bounded by N/cap rows (each holds
        # > cap members) — broadcastable at any corpus size, unlike
        # the keep-list, which is fingerprint-cardinality
        hot = (
            blocked.groupBy("blk", "val")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_block_bucket)
            .select("blk", "val")
        )
        blocked = blocked.join(F.broadcast(hot), ["blk", "val"], "left_anti").cache()
    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``
    via :func:`hamming_pairs` pigeonhole blocking."""
    fps = simhash_fingerprints(docs, text_col, id_col)
    return hamming_pairs(fps, "doc_id", "simhash", SIMHASH_BITS, max_hamming)


CHUNK_TOKENS = 16


def chunk_index(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Narrow chunking pass shared by the batch and streaming forms:
    one row per consecutive ``chunk_tokens``-token chunk of each doc —
    ``(doc_id, <carried cols>, idx, h)`` with ``h`` the 60-bit content
    hash. Pure Catalyst array ops, zero shuffles."""
    chunks = token_windows(tokens(F.col(text_col)), chunk_tokens, chunk_tokens)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            *[c for c in docs.columns if c not in (id_col, text_col)],
            F.posexplode(chunks).alias("idx", "chunk"),
        )
        .select("*", hash60(F.col("chunk")).alias("h"))
        .drop("chunk")
    )


def substring_window_index(
    docs: DataFrame,
    k: int = CHUNK_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stride-1 sliding-window index for FULL exact-substring dedup
    (Lee et al. 2022's actual contract, which :func:`chunk_index`'s
    chunk-aligned form only approximates): one row per ``k``-token
    window at every token position — ``(doc_id, <carried cols>,
    n_tokens, pos, h)`` with ``pos`` 0-based and ``h`` the 60-bit
    window-content hash.

    Why this equals the suffix-array formulation for detection: a
    substring of length ≥ k repeats in the corpus iff each of its
    k-token sliding windows repeats — so the set of positions covered
    by duplicated windows is exactly the set of tokens inside some
    ≥k-token repeated substring. A chunk-aligned index misses any
    repeat that straddles a chunk boundary with different alignments
    in the two documents; stride 1 cannot (tests/test_operators.py
    pins such a case).

    Cost: k× the chunk index's rows (one window per token instead of
    per k tokens) — the price of alignment-independence; all of it
    narrow Catalyst array ops until the downstream hash shuffle.
    Batch-only (the spreader repartition below is not stream-legal);
    the streaming exact-substring form remains the chunk-aligned
    ``chunk_dedup_stream``.
    """
    docs = _spread(docs)
    carried = [c for c in docs.columns if c not in (id_col, text_col)]
    # Tokenize once: n_tokens comes from the window count (a row has at
    # least one window, so size = n_win + k − 1), and the generator is
    # OUTER + null filter because a plain posexplode of the staged
    # column infers a size(wins) > 0 filter that Catalyst pushes below
    # this projection, re-running the kernel (doc_shingles' trap)
    wins = docs.select(
        F.col(id_col).alias("doc_id"),
        *carried,
        token_windows(tokens(F.col(text_col)), k).alias("wins"),
    )
    return (
        wins.select(
            "doc_id",
            *carried,
            (F.size("wins") + (k - 1)).alias("n_tokens"),
            F.posexplode_outer("wins").alias("pos", "win"),
        )
        .filter(F.col("pos").isNotNull())
        .select("*", hash60(F.col("win")).alias("h"))
        .drop("win")
    )


def substring_occurrences(
    docs: DataFrame,
    k: int = CHUNK_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window occurrences with the canonical-first marker:
    ``rn = 1`` is the corpus-wide first occurrence of the window's
    content (global (doc_id, pos) order); ``rn > 1`` is text copied
    from elsewhere. Same single near-uniform hash-partitioned window
    as :func:`chunk_occurrences` — stride 1 changes row volume (k×),
    not plan shape, so the same scaling argument applies."""
    occ = substring_window_index(docs, k, text_col, id_col)
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    return occ.withColumn("rn", F.row_number().over(w))


def substring_index_shared(
    docs: DataFrame,
    k: int = CHUNK_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The stride-1 window occurrence index built ONCE and persisted
    for the whole consumer family — coverage stats
    (:func:`dup_token_coverage` / q88), scrub (:func:`substring_scrub`
    / q95), and maximal spans (:func:`substring_spans` / q104) all
    read the IDENTICAL ``substring_occurrences`` frame, and building
    it (tokenize + k× window explode + the hash-partitioned rn
    window) dominates each consumer at ~15 s per 500k docs
    (SCALING.md). At 100 TB this frame is a materialized intermediate
    (write once, read three times); in-session the persisted plan is
    the honest stand-in. Carry every non-text column in ``docs`` so
    each consumer finds what it needs (q88 reads ``source``; the
    others ignore it). The handle is intentionally session-lifetime:
    the registry memo (`queries/synthetic.py` ``_OCC_MEMO``) keeps it
    for the life of the SparkSession and re-persists it if a
    session-wide ``clearCache()`` evicted it — callers should NOT
    ``unpersist()`` a handle they share."""
    from pyspark import StorageLevel

    occ = substring_occurrences(docs, k, text_col, id_col)
    return occ.persist(StorageLevel.MEMORY_AND_DISK)


def dup_token_coverage(positions: Column, k: int) -> Column:
    """Tokens covered by the union of ``[p, p+k)`` intervals for a
    SORTED position array — the per-document 'how many tokens sit
    inside some repeated ≥k-token substring' measure. Pure array
    expression: sum of ``min(k, gap)`` over consecutive positions
    plus ``k`` for the last interval; empty array → 0. Mirrored
    verbatim in the q88 DuckDB oracle."""
    n = F.size(positions)
    gaps = F.zip_with(
        F.slice(positions, 1, n - 1),
        F.slice(positions, 2, n - 1),
        lambda a, b: F.least(b - a, F.lit(k)),
    )
    covered = F.aggregate(gaps, F.lit(0), lambda acc, v: acc + v) + F.lit(k)
    return F.when(n == 0, F.lit(0)).otherwise(covered)


def dup_spans(positions: Column, k: int) -> Column:
    """Maximal duplicated token intervals for a SORTED position array:
    merge the ``[p, p+k)`` windows into maximal half-open ``[s, e)``
    spans — Lee et al. 2022 report the actual duplicated SPANS, not
    just coverage counts, and this is the span form of the same union
    :func:`dup_token_coverage` measures (``sum(e - s)`` over these
    spans equals it, pinned in tests). One pure array fold, no extra
    shuffle: positions are sorted ascending and ``k`` is fixed, so the
    new window's end ``p+k`` always ≥ the running end, and two windows
    merge iff ``p ≤ prev_end`` (overlap or exact adjacency — half-open
    intervals). Returns ``array<struct<s int, e int>>``."""
    empty = F.array().cast("array<struct<s:int,e:int>>")

    def step(acc, p):
        last = F.element_at(acc, -1)
        ext = F.array(
            F.struct(
                last["s"].alias("s"), (p + F.lit(k)).cast("int").alias("e")
            )
        )
        new = F.array(
            F.struct(
                p.cast("int").alias("s"), (p + F.lit(k)).cast("int").alias("e")
            )
        )
        return F.when(
            (F.size(acc) > 0) & (p <= last["e"]),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), ext),
        ).otherwise(F.concat(acc, new))

    return F.aggregate(positions, empty, step)


def substring_spans(
    docs: DataFrame,
    k: int = CHUNK_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
    occ: DataFrame | None = None,
) -> DataFrame:
    """Per-document maximal duplicated spans: ``(doc_id, span_start,
    span_len)``, one row per maximal ``[start, start+len)`` token
    interval covered by duplicated (``rn > 1``) stride-1 windows.
    Exactly q88's plan — the near-uniform hash window + one per-doc
    aggregation — plus the :func:`dup_spans` array fold and an
    explode; only documents containing copied text produce rows.

    ``occ`` optionally supplies a pre-built (ideally persisted)
    :func:`substring_occurrences` frame so the window index — the
    dominant ~15 s of each family member at 500k docs — is computed
    once per corpus, not once per consumer (see
    :func:`substring_index_shared`)."""
    if occ is None:
        occ = substring_occurrences(docs, k, text_col, id_col)
    per_doc = (
        occ.filter(F.col("rn") > 1)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
    )
    return per_doc.select(
        "doc_id", F.explode(dup_spans(F.col("ps"), k)).alias("sp")
    ).select(
        "doc_id",
        F.col("sp.s").alias("span_start"),
        (F.col("sp.e") - F.col("sp.s")).alias("span_len"),
    )


def substring_scrub(
    docs: DataFrame,
    k: int = CHUNK_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
    occ: DataFrame | None = None,
) -> DataFrame:
    """The APPLY step of full exact-substring dedup (Lee et al. 2022
    don't just audit — they REMOVE the repeated spans): rebuild every
    document with the tokens covered by its duplicated (``rn > 1``)
    windows cut out, keeping the corpus-wide first occurrence intact.

    Two stages: the same near-uniform hash window as
    :func:`substring_occurrences` marks duplicated window positions;
    one per-doc aggregation collects them (sorted, doc-length-bounded);
    then a NARROW map filters each doc's token array by interval
    membership (token i is cut iff some collected position p has
    ``p ≤ i < p+k``) and reassembles the text. Returns ``(doc_id,
    n_tokens, n_kept, scrubbed_hash)`` — the md5 of the scrubbed text
    is what the oracle compares, so the reconstruction itself is
    checked, not just the counts.

    ``occ`` optionally supplies a pre-built (ideally persisted)
    :func:`substring_index_shared` frame, skipping the index build."""
    if occ is None:
        occ = substring_occurrences(docs, k, text_col, id_col)
    dup_pos = (
        occ.filter(F.col("rn") > 1)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
    )
    base = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
        .join(dup_pos, "doc_id", "left")
        .withColumn("ps", F.coalesce("ps", F.array().cast("array<int>")))
        .select("doc_id", "ps", tokens(F.col("__text")).alias("tk"))
    )
    kept = F.filter(
        F.col("tk"),
        lambda x, i: ~F.exists(
            F.col("ps"), lambda p: (p <= i) & (i < p + F.lit(k))
        ),
    )
    return base.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.size(kept).alias("n_kept"),
        F.md5(F.concat_ws(" ", kept)).alias("scrubbed_hash"),
    )


def chunk_occurrences(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-level dedup at fixed token-chunk granularity
    (the tractable form of Lee et al.'s exact-substring dedup: slice
    each doc into consecutive ``chunk_tokens``-token chunks and dedup
    chunks corpus-wide by content hash).

    Returns one row per chunk occurrence: ``(doc_id, idx, h, rn)``
    where ``rn = 1`` marks the canonical first occurrence (global
    (doc_id, idx) order) and ``rn > 1`` a duplicated chunk. The only
    wide operation is one hash-partitioned window on the 60-bit chunk
    hash — the same shuffle a groupBy-on-hash would pay, and the
    partitioning key is near-uniform by construction, so it scales to
    any corpus where a single chunk's occurrence list fits a task
    (boilerplate-heavy corpora should pre-cap like MAX_SHINGLE_DF).
    """
    occ = chunk_index(docs, chunk_tokens, text_col, id_col)
    w = Window.partitionBy("h").orderBy("doc_id", "idx")
    return occ.withColumn("rn", F.row_number().over(w))
