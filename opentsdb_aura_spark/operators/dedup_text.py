"""Document deduplication operators for large-scale training-data
pipelines: exact, n-gram Jaccard, MinHash+LSH, SimHash.

These go beyond the reference's surface (which has no document ops) —
they are the LLM-pipeline extensions the engine is expected to provide
as first-class operators at 100 TB scale.  Design notes per operator:

- exact: hash-groupBy on a content digest — one shuffle on the digest,
  map-side partial agg; digest (md5) is computed JVM-side.
- n-gram Jaccard: shingle → inverted (shingle → doc) join → pair
  intersection counts.  The shingle join is the classic candidate
  generator; at scale the hot shingles are the skew hazard, so very
  frequent shingles can be dropped (``max_shingle_freq``) — a standard
  trick that only *removes* uninformative candidates.
- MinHash+LSH: k xxhash64 permutations → band signatures → bucket
  join on (band, band_hash).  All hashing stays in Catalyst
  expressions (xxhash64 with per-permutation seeds); no Python UDFs.
- SimHash: 64-bit fingerprint from token hashes; near-dup = small
  Hamming distance, candidate via band buckets on bit slices.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.rowpass import _CHAIN_DEPTH
from opentsdb_aura_spark.sources.maintenance import new_rows, read_parquet_if_exists


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens.  Empty tokens are filtered: split
    engines return [''] for empty input (and '' elements for
    tab/newline-edged text that trim — ASCII space only — leaves
    behind), which would count phantom tokens in every consumer."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")


def _perm_min_aggs(num_perm: int, h: Column) -> list[Column]:
    """min-aggregate columns h0..h{k-1}: the k MinHash permutations are
    xxhash64 re-hashes of one 64-bit base hash with the permutation
    index as a second input — full avalanche mixing per permutation.
    (A bounded linear family (a·x+b) mod p was tried and rejected: with
    a·x capped below 2·p to dodge ANSI overflow the map wraps at most
    once, stays near-monotonic, and all k mins correlate.)"""
    return [F.min(F.xxhash64(h, F.lit(i))).alias(f"h{i}") for i in range(num_perm)]


def _spread(df: DataFrame, depth: int = _CHAIN_DEPTH) -> DataFrame:
    """Widen a narrow input before a CPU-heavy per-row stage (shingle
    explode + hashing); also the corpus loaders' spread
    (queries.base.docs/embs) and the contamination-bloom widen.

    A small corpus read from one parquet file arrives as one partition
    and the explode would run on a single core; the fix is a cheap
    round-robin repartition of the doc rows.  Target is
    defaultParallelism/``depth``.  The default depth,
    rowpass._CHAIN_DEPTH, is the width this helper gives
    queries.base.docs(), whose frames arrive here already that wide (a
    larger target would re-shuffle them right back to full width,
    undoing the measured task-launch win; see base.docs for the
    numbers); depth=1 is the full core count, for per-row work heavy
    enough to fill every core.
    On a real cluster the input already spans ≥ target partitions and
    this is a no-op (no shuffle inserted)."""
    target = max(1, df.sparkSession.sparkContext.defaultParallelism // depth)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a document (array<string>).

    Built from n shifted ``slice``s folded with ``zip_with`` — an
    order of magnitude faster than per-index ``element_at`` lookups
    (which defeat codegen)."""
    return F.array_distinct(positional_ngrams(text, n))


def positional_ngrams(text: Column, n: int) -> Column:
    """All n-word grams of a document in position order (array<string>,
    index = token offset).  Same shifted-slice ``zip_with`` fold as
    ``word_shingles`` but keeping order and duplicates."""
    toks = tokens(text)
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    shifted = [F.slice(toks, i + 1, count) for i in range(n)]
    sh = shifted[-1]
    for prev in reversed(shifted[:-1]):
        sh = F.zip_with(prev, sh, lambda a, b: F.concat(a, F.lit(" "), b))
    return sh


def repeated_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    *,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact dedup: every position of an n-token sequence
    that recurs in ≥ ``min_docs`` distinct documents →
    (doc_id, pos, gram, n_docs).  The Spark re-expression of
    suffix-array substring deduplication (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): training pipelines
    excise these spans rather than whole documents.

    Scale shape: one explode to (doc, pos, gram), a hash aggregate on
    ``xxhash64(gram)`` (8-byte shuffle key, map-side combined), and an
    equi-join of spans against the repeated-hash set — no suffix array,
    no global sort, no all-pairs stage.  64-bit gram-hash collisions
    can mark a span falsely repeated at ~10¹² grams (birthday bound);
    acceptable for dedup excision and absent at test scale.
    """
    spans = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(positional_ngrams(F.col(text_col), n)).alias("pos", "gram"),
    ).withColumn("gram_hash", F.xxhash64("gram"))
    rep = (
        spans.groupBy("gram_hash")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= int(min_docs))
    )
    return spans.join(rep, "gram_hash").select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "gram", "n_docs"
    )


def excise_repeated_spans(
    docs: DataFrame,
    n: int = 8,
    *,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The cleaning half of span dedup: remove every token covered by
    a corpus-repeated n-gram span → (doc_id, clean_text, n_removed).

    ``clean_text`` is the whitespace-normalized (lowercased,
    single-space) reassembly of the surviving tokens — span dedup
    operates on the tokenized stream, as in Lee et al.'s excision.

    Scale shape: span starts per doc are collected into one array
    (bounded by doc length), the token filter is a nested higher-order
    function over the token array (pure Catalyst codegen, no Python),
    and the docs↔spans join is a shuffle equi-join on doc_id.
    """
    spans = repeated_ngram_spans(docs, n, min_docs=min_docs, text_col=text_col, id_col=id_col)
    per_doc = spans.groupBy("doc_id").agg(F.collect_set("pos").alias("_starts"))
    joined = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")).join(
        per_doc, "doc_id", "left"
    )
    toks = tokens(F.col("_text"))
    starts = F.coalesce(F.col("_starts"), F.array().cast("array<long>"))
    indexed = F.transform(toks, lambda x, i: F.struct(x.alias("t"), i.cast("long").alias("i")))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(starts, lambda p: (p <= s["i"]) & (s["i"] < p + F.lit(int(n)))),
    )
    return joined.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: groups with >1 doc.

    Returns (text_hash, dup_count, keep_id) — keep_id is the smallest
    id in the group (the canonical survivor)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Candidate generation: pairs sharing ≥1 *non-ubiquitous* shingle
    (inverted shingle→doc self-join).  Shingles appearing in more than
    ``max_shingle_freq`` docs are excluded from candidate generation —
    a stopword 3-gram shared by 1 M docs would otherwise generate
    O(freq²) ≈ 5·10¹¹ pairs, so the skew guard is ON by default; a pair
    whose ONLY shared shingles are ubiquitous is missed, but such pairs
    sit far below any useful threshold (tiny intersection, huge union).

    Verification is exact and guard-independent: intersection sizes
    are COUNTED from the shingle stream (groupBy over shared-shingle
    pairs — no per-doc collect_set arrays, no array_intersect).  The
    guarded count is split into the non-hot part (from the candidate
    join itself) plus an exact hot-shingle correction counted only
    among docs that appear in some candidate pair, so ubiquitous
    shingles are re-admitted only within the (small) candidate doc set
    and the reported Jaccard stays exact.  The guard can only drop
    candidate *pairs*, never change a reported value.

    The guard is a fully lazy part of the ONE query plan — no eager
    probe job, no driver collect: the hot-shingle set is an aggregate
    the anti-join consumes, and with AQE an empty hot set collapses
    the correction subtree to an empty relation at runtime, so a clean
    corpus pays only a broadcast-empty anti-join.  Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # word_shingles is per-doc distinct already → (doc_id, s) pairs are
    # unique without a dedupe shuffle, and a per-pair row count equals
    # the intersection size of the two docs' shingle sets.  Shingle
    # identity is reduced to its 64-bit xxhash BEFORE materialization:
    # the self-join/groupBy shuffles then carry an 8-byte key instead
    # of the shingle string (~3 words + spaces ≈ 20 B), and the join
    # compares longs (collision odds ~n²/2⁶⁴ corpus-wide — immaterial
    # for a count).  The stream feeds up to four consumers (sizes,
    # freq, candidates, verify), so materialize it once; on a
    # multi-node cluster swap localCheckpoint for persist(DISK_ONLY).
    shing = (
        _spread(docs)
        .select(F.col(id_col).alias("doc_id"), F.explode(word_shingles(F.col(text_col), n)).alias("_s"))
        .select("doc_id", F.xxhash64("_s").alias("s"))
        .localCheckpoint()
    )
    sizes = shing.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    def pair_counts(sh):
        a, b = sh.alias("a"), sh.alias("b")
        return (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )

    if max_shingle_freq is None:
        inter = pair_counts(shing)
    else:
        hot = (
            shing.groupBy("s")
            .agg(F.count("*").alias("_f"))
            .where(F.col("_f") > max_shingle_freq)
            .select("s")
        )
        # Candidate pairs + their NON-hot intersection counts in one
        # self-join over the guarded stream (the O(freq²) hazard is the
        # hot shingles, excluded here).
        cand = pair_counts(shing.join(hot, "s", "left_anti"))
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        # Exact hot-shingle correction, counted only among candidate
        # docs: within this narrowed stream a shingle's frequency is
        # bounded by the candidate-doc count, not the corpus size.
        # With AQE, an empty hot set empties this whole subtree at
        # runtime — the clean-corpus case costs one broadcast anti-join.
        hot_stream = shing.join(hot, "s", "left_semi").join(cand_docs, "doc_id", "left_semi")
        hot_inter = pair_counts(hot_stream).select("doc_a", "doc_b", F.col("inter").alias("_hi"))
        inter = (
            cand.join(hot_inter, ["doc_a", "doc_b"], "left")
            .withColumn("inter", F.col("inter") + F.coalesce(F.col("_hi"), F.lit(0)))
            .select("doc_a", "doc_b", "inter")
        )

    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb")), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("_na") + F.col("_nb") - F.col("inter")))
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def _band_signatures(sig: DataFrame, *, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, bh) rows: each signature hashed per band — the
    LSH bucket table the candidate self-join runs on."""
    if bands < 1 or num_perm % bands != 0:
        # silent truncation would quietly change the advertised (b, r)
        # collision probability (trailing permutations computed but
        # never banded); bands > num_perm would build xxhash64() with
        # zero inputs
        raise ValueError(f"bands must divide num_perm: got num_perm={num_perm}, bands={bands}")
    rows_per_band = num_perm // bands
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(*[F.col(f"h{bi * rows_per_band + r}") for r in range(rows_per_band)]).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh")


def lsh_hot_bucket_report(
    sig: DataFrame,
    *,
    num_perm: int = 32,
    bands: int = 8,
    max_band_bucket: int = 1000,
) -> DataFrame:
    """Audit which (band, bucket) groups the skew guard would drop:
    returns (band, bh, n_docs) for every bucket above the cap, largest
    first.  Run this against a stored signature index before a big
    dedup job — a non-empty result means mass duplicates that exact
    dedup should remove first (pairs confined to dropped buckets are
    missed by the guarded LSH pass)."""
    return (
        _band_signatures(sig, num_perm=num_perm, bands=bands)
        .groupBy("band", "bh")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > max_band_bucket)
        .orderBy(F.col("n_docs").desc())
    )


def lsh_candidates_from_signatures(
    sig: DataFrame,
    *,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float | None = 0.5,
    max_band_bucket: int | None = 1000,
) -> DataFrame:
    """LSH candidate generation + signature-estimate verification over
    a PRE-COMPUTED signature table (columns doc_id, h0..h{k−1} — the
    layout ``write_minhash_index`` persists).

    This is the incremental path for a corpus that grows: sign each
    batch once at ingest (the expensive shingle pass), store the
    narrow signatures, and every dedup run reads the index instead of
    re-signing 100 TB of text.  The analogue of the reference's
    ingest-time rollups — pay the pass once, serve queries from the
    pre-aggregate.

    ``threshold=None`` returns the raw candidate pairs (no verify
    joins) — used by the exact-verify path which re-derives shingle
    sets itself.  Skew guard and estimate-verify semantics are
    identical to ``minhash_lsh_candidates``.
    """
    banded = _band_signatures(sig, num_perm=num_perm, bands=bands)

    # Skew guard, fully lazy (no probe job, no driver collect, no row
    # cap): the over-cap (band, bucket) set is an aggregate the
    # anti-join consumes inside the SAME query plan.  Guarding ONE side
    # of the self-join suffices — a pair needs both sides present in
    # the bucket, so dropping the bucket from side `a` drops every pair
    # it would generate while side `b` streams through it linearly.
    # With AQE the (usually empty) hot set becomes a broadcast
    # anti-join, so a clean corpus pays ~nothing.  Use
    # ``lsh_hot_bucket_report`` to audit which buckets a cap would drop
    # (mass-duplicate corpora should run exact dedup first).
    a_src = banded
    if max_band_bucket is not None:
        hot = (
            banded.groupBy("band", "bh")
            .agg(F.count("*").alias("_c"))
            .where(F.col("_c") > max_band_bucket)
            .select("band", "bh")
        )
        a_src = banded.join(hot, ["band", "bh"], "left_anti")

    a = a_src.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    if threshold is None:
        return cand

    # signature-estimate verify: two narrow joins against the
    # signature table; jaccard = matching mins / k
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"_a{i}") for i in range(num_perm)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"_b{i}") for i in range(num_perm)])
    matches = None
    for i in range(num_perm):
        term = F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", matches / F.lit(float(num_perm)))
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def compute_minhash_index(
    docs: DataFrame,
    *,
    num_perm: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable signature table (doc_id, h0..h{k−1}) — one
    fused shingle pass, no materialization (callers write or
    checkpoint it)."""
    base = _spread(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")))
    shing = base.select("doc_id", F.explode(word_shingles(F.col("_text"), n)).alias("s"))
    hashed = shing.select("doc_id", F.xxhash64("s").alias("h0"))
    return hashed.groupBy("doc_id").agg(*_perm_min_aggs(num_perm, F.col("h0")))


def update_minhash_index(
    docs: DataFrame,
    path: str,
    *,
    num_perm: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental index maintenance: sign ONLY docs not yet in the
    parquet index at ``path`` (anti-join on doc_id — the new batch is
    typically a sliver of the corpus), append them, and return the
    refreshed index DataFrame.  First call creates the index."""
    spark = docs.sparkSession
    # detect the existing index THROUGH Spark, not os.path — the index
    # lives wherever the warehouse does (HDFS/S3 at scale), where a
    # local-path check is always false and every batch would re-sign
    # and append the whole corpus
    fresh = new_rows(docs, read_parquet_if_exists(spark, path), id_col, "doc_id")
    sig = compute_minhash_index(fresh, num_perm=num_perm, n=n, text_col=text_col, id_col=id_col)
    sig.write.mode("append").parquet(path)
    return spark.read.parquet(path)


def _estimate_prefilter_cutoff(k: int, threshold: float, delta: float = 1e-6) -> int:
    """Largest integer c such that a pair with TRUE Jaccard ≥ threshold
    has P(signature matches < c) ≤ delta, from the exact
    Binomial(k, threshold) lower tail (each of the k permutation mins
    matches independently with probability J; the tail is monotone in
    J, so evaluating at the threshold is the worst case).  Used by the
    exact-verify path to discard hopeless candidates before the shingle
    re-explode: k=32, threshold=0.5 → cutoff 3
    (P(Binom(32,.5) ≤ 2) ≈ 1.2e-7)."""
    from math import comb

    p = min(max(threshold, 0.0), 1.0)
    acc = 0.0  # P(X < c), starting at c=0
    best = 0
    for c in range(k + 1):
        if acc > delta:
            break
        best = c
        acc += comb(k, c) * p**c * (1 - p) ** (k - c)
    return best


def minhash_lsh_candidates(
    docs: DataFrame,
    *,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_bucket: int | None = 1000,
    exact_verify: bool = False,
    prefilter: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup detection: band the signature, bucket-join
    on (band_idx, band_hash), verify candidates against the threshold.

    Returns (doc_a, doc_b, jaccard) for verified pairs ≥ threshold.
    The band join is the scale path: candidates ≈ true near-dups, not
    O(n²).

    Verification: by default the Jaccard of a candidate pair is the
    MinHash signature estimate — the fraction of the k=``num_perm``
    permutation mins the two docs agree on, which is an unbiased
    estimator of Jaccard with σ = √(J(1−J)/k) (~0.09 at J=0.5, k=32).
    That is what the signature exists for, and it makes verification a
    join against the narrow checkpointed signature — no second corpus
    pass, no per-doc shingle arrays.  Pass ``exact_verify=True`` to
    re-derive exact shingle sets for candidate docs only (semi-join →
    re-explode; candidate docs are a small fraction of the corpus) and
    filter on exact Jaccard instead.

    Materialization layout (the r2 version checkpointed one wide row
    per doc carrying a collect_set shingle array; that shuffled and
    stored the arrays, then dragged them through both verify joins —
    measured 1.74× slower): ONE fused corpus pass (shingle explode +
    hash + k-way min partial aggregate), only the narrow signature
    (k+1 scalars/doc) checkpointed, every downstream stage reads that.

    Skew guard: ``max_band_bucket`` caps the size of a (band, bh)
    bucket before the self-join.  A mass of identical/near-empty docs
    collapses into one bucket and the join goes O(bucket²); buckets
    above the cap are dropped by a lazy anti-join inside the same plan
    (no probe job — run ``lsh_hot_bucket_report`` to audit the dropped
    set; identical docs are exact dedup's job, not LSH's).  Mirrors
    the hot-shingle guard in ngram_jaccard_pairs.
    """
    # ONE fused pass over the docs explodes + hashes the shingles and
    # partial-aggregates the k mins; shingle identity is the 64-bit
    # xxhash (collision odds ~n²/2⁶⁴ per doc — noise next to MinHash's
    # own estimation error).  On a multi-node cluster swap
    # localCheckpoint for persist(DISK_ONLY), same shape.
    base = _spread(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")))
    shing = base.select("doc_id", F.explode(word_shingles(F.col("_text"), n)).alias("s"))
    hashed = shing.select("doc_id", F.xxhash64("s").alias("h0"))
    sig = hashed.groupBy("doc_id").agg(*_perm_min_aggs(num_perm, F.col("h0"))).localCheckpoint()

    if not exact_verify:
        return lsh_candidates_from_signatures(
            sig, num_perm=num_perm, bands=bands, threshold=threshold, max_band_bucket=max_band_bucket
        )
    cand = lsh_candidates_from_signatures(
        sig, num_perm=num_perm, bands=bands, threshold=None, max_band_bucket=max_band_bucket
    )

    # Conservative signature pre-filter: before paying the shingle
    # re-explode, drop candidate pairs whose signature estimate is so
    # far below the threshold that a true Jaccard ≥ threshold survives
    # with probability ≤1e-6 per pair (exact binomial tail; at k=32,
    # J=0.5 the residual drop odds are ≈1.2e-7/pair — a documented
    # recall epsilon, not exactly zero).  Most banded candidates share
    # exactly the one permutation min that made them collide — junk
    # pairs the exact filter would reject anyway — so this cuts the
    # re-explode volume.  Two narrow joins against the already-
    # checkpointed signature; no extra corpus pass.  ``prefilter=False``
    # disables it for a strict every-banded-pair-verified run (the
    # triage path when an oracle mismatch needs to rule the tail out).
    cutoff = _estimate_prefilter_cutoff(num_perm, threshold) if prefilter else 0
    if cutoff > 1:  # banded candidates always share ≥1 min
        pa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"_pa{i}") for i in range(num_perm)])
        pb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"_pb{i}") for i in range(num_perm)])
        est = None
        for i in range(num_perm):
            term = F.when(F.col(f"_pa{i}") == F.col(f"_pb{i}"), 1).otherwise(0)
            est = term if est is None else est + term
        cand = (
            cand.join(pa, "doc_a")
            .join(pb, "doc_b")
            .where(est >= F.lit(cutoff))
            .select("doc_a", "doc_b")
        )

    # exact verify: re-derive shingle sets for candidate docs alone
    # (semi-join the doc table, re-explode).  O(candidate docs ×
    # shingles) to build, O(candidate pairs × shingles) to intersect,
    # never O(n²).  Both intermediates are read MORE THAN ONCE below
    # (cand: the doc-id spine + both verify joins; sets: the a-side
    # and b-side attach), so pin each once — without the checkpoints
    # Catalyst re-runs the banded self-join three times and the
    # candidate re-explode twice per query (guide §3.3 plan reuse;
    # swap for persist(DISK_ONLY) on a multi-node cluster)
    cand = cand.localCheckpoint(eager=False)
    cand_docs = cand.select(F.col("doc_a").alias("doc_id")).union(cand.select(F.col("doc_b"))).distinct()
    sets = (
        base.join(cand_docs, "doc_id", "left_semi")
        .select("doc_id", F.explode(word_shingles(F.col("_text"), n)).alias("s"))
        .groupBy("doc_id")
        .agg(F.collect_set(F.xxhash64("s")).alias("sh"))
        .localCheckpoint(eager=False)
    )
    out = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
        .withColumn("jaccard", F.col("inter") / (F.size("sha") + F.size("shb") - F.col("inter")))
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def simhash(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", token_hash: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per doc from per-token 64-bit hashes.

    For each bit b: sign = Σ_tokens (bit b of hash ? +1 : -1);
    fingerprint bit b = sign > 0.  Computed as 64 conditional sums over
    the exploded token set — one aggregation pass, no UDFs.
    Returns (doc_id, simhash BIGINT).

    ``token_hash``: "xxhash64" (default — fastest, JVM-native) or
    "md5" — the 64-bit hash is assembled from the first 16 md5 hex
    chars (low word hex 1-8, high word hex 9-16), the same
    cross-engine determinism trick as corpus.det_hash_bucket: every
    SQL engine has md5, so the md5 variant's fingerprints (and hence
    its near-dup pairs, which 4-band banding makes EXHAUSTIVE at
    Hamming ≤ 3) are fully recomputable by a DuckDB oracle, upgrading
    the SimHash surface from rows-only to value-hash-checked.
    """
    toked = _spread(docs).select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("t"))
    if token_hash == "md5":
        hx = F.md5(F.col("t"))
        lo = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        hi = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        tok_h = F.shiftleft(hi, 32).bitwiseOR(lo)
    elif token_hash == "xxhash64":
        tok_h = F.xxhash64("t")
    else:
        raise ValueError(f"token_hash must be 'xxhash64' or 'md5', got {token_hash!r}")
    hashed = toked.select("doc_id", tok_h.alias("h"))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(64)
    ]
    agg = hashed.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return agg.select("doc_id", fp.alias("simhash"))


def _band_rows(fingerprints: DataFrame, *, id_col: str, hash_col: str) -> DataFrame:
    """Explode 64-bit fingerprints into their four 16-bit bands —
    (_id, _h, band, bh), 4 rows per fingerprint.  The shared banding
    step of :func:`banded_hamming_pairs` and the persisted fingerprint
    index.  Rows with a NULL hash (skip_errors error rows) are
    excluded up front."""
    fp = fingerprints.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    )
    return fp.select(
        "_id",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("_h"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("bh"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("_id", "_h", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def banded_hamming_pairs(
    fingerprints: DataFrame,
    *,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    out_a: str,
    out_b: str,
) -> DataFrame:
    """Near-dup pairs over 64-bit fingerprints, the shared engine
    behind :func:`simhash_near_pairs` (text) and
    ``multimodal.dhash_near_pairs`` (images): candidates share one of
    four 16-bit bands (pigeonhole: any pair within Hamming distance 3
    must agree on ≥1 band; larger ``max_hamming`` trades recall), then
    the exact ``bit_count`` Hamming filter.  Rows with a NULL hash are
    excluded up front (error rows from skip_errors stages).  Returns
    (out_a, out_b, hamming)."""
    banded = _band_rows(fingerprints, id_col=id_col, hash_col=hash_col)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias(out_a),
            F.col("b._id").alias(out_b),
            F.col("a._h").alias("ha"),
            F.col("b._h").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= F.lit(max_hamming))
        .select(out_a, out_b, "hamming")
    )


def update_fingerprint_index(
    fingerprints: DataFrame,
    path: str,
    *,
    id_col: str = "media_id",
    hash_col: str = "fp",
    compact_max_files: int | None = None,
) -> DataFrame:
    """Incremental BANDED fingerprint index at ``path`` — the
    perceptual-hash analogue of :func:`update_minhash_index`, shared by
    every 64-bit fingerprint surface (image dHash, audio energy, video
    temporal, SimHash).  The index stores the band explosion AT REST —
    rows (_id, _h, bh) partitioned by ``band`` (4 directories) and
    sorted by ``bh`` within each write, so parquet row-group stats let
    a probe's band-key filter skip most of the corpus without
    re-banding it per batch.  New ids are anti-joined against the
    existing index (a crawl increment is a sliver of the corpus) and
    appended; the first call creates the index.  Returns the refreshed
    index DataFrame.  (At 100 TB a production layout would additionally
    bucket each band directory by a bh prefix; the probe-side plumbing
    below is unchanged by that.)

    The anti-join sits ABOVE the caller's fingerprint computation in
    the plan, so an expensive fingerprint stage (media decode) still
    runs for already-indexed rows before they are dropped.  For
    costly pipelines, anti-join the RAW batch on id against
    ``spark.read.parquet(path).select('_id')`` first and fingerprint
    only the remainder — this operator's own anti-join is then a
    no-op safety net (the pattern ``update_minhash_index`` bakes in
    by taking docs rather than signatures)."""
    spark = fingerprints.sparkSession
    # existence through Spark, not os.path — the index lives wherever
    # the warehouse does (HDFS/S3 at scale)
    fps = fingerprints.where(F.col(hash_col).isNotNull())
    fresh = new_rows(fps, read_parquet_if_exists(spark, path), id_col, "_id")
    # range-partition by (band, bh): parallel writers per band AND
    # disjoint sorted bh ranges per file, so the probe's band-key
    # filter skips whole files via row-group stats; the bloom filter
    # on bh additionally rejects row groups whose sorted range merely
    # COVERS a probed band key that is not present (the point-lookup
    # prune the reference's RoaringBitmap index serves)
    from opentsdb_aura_spark.sources.batch import bloom_options

    bloom_options(
        _band_rows(fresh, id_col=id_col, hash_col=hash_col)
        .repartitionByRange("band", "bh")
        .sortWithinPartitions("band", "bh")
        .write.mode("append"),
        "bh",
    ).partitionBy("band").parquet(path)
    # sustained streaming appends accumulate one file set per batch and
    # erode the row-group pruning this layout exists for; with
    # ``compact_max_files`` set, rewrite any band directory that
    # exceeded it into few sorted runs (sources/maintenance.py)
    if compact_max_files is not None:
        from opentsdb_aura_spark.sources.maintenance import compact_fingerprint_index

        compact_fingerprint_index(spark, path, max_files_per_band=compact_max_files)
    return spark.read.parquet(path)


def probe_fingerprint_index(
    spark,
    path: str,
    probe: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "fp",
    max_hamming: int = 3,
    pushdown_cap: int = 4096,
    cache_probe: bool = True,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the persisted corpus
    index, without re-fingerprinting or re-banding the corpus: the
    index is already band-exploded, the (small) probe batch is banded
    on the fly and joined on (band, bh) — probe size is caller-bound,
    not structural, so broadcasting is left to AQE, which converts the
    join at runtime when the probe side is in fact small.  When
    the probe touches ≤ ``pushdown_cap`` distinct band keys, they are
    pushed into the index scan as an ``isin`` filter — with the index
    sorted by ``bh`` inside each band directory, parquet row-group
    stats skip the untouched key ranges (the banded analogue of the
    IVF index's probed-list partition pruning).  The collect behind
    that filter is bounded by ``pushdown_cap + 1`` rows by
    construction.  Probe rows whose id already exists in the index
    only report OTHER ids (self-pairs are excluded), so re-crawled
    batches don't flag themselves.  Returns (probe_id, index_id,
    hamming) at Hamming ≤ ``max_hamming`` (exhaustive for
    ``max_hamming`` ≤ 3 by the 4-band pigeonhole).

    ``cache_probe`` (default on) local-checkpoints the banded probe
    rows — 4 rows of 3 ints per probe fingerprint, blocks released by
    the ContextCleaner once the frame is unreachable — because the
    probe pipeline runs twice otherwise (once for the band-key
    collect, once in the join), and upstream fingerprinting may
    involve media decode.  Callers that have already materialized the
    probe (e.g. a foreachBatch body that checkpointed its batch) pass
    ``cache_probe=False`` to skip the second checkpoint.

    Probing a not-yet-created index returns an empty pair set (the
    first micro-batch of a stream has no prior corpus to match)."""
    idx = read_parquet_if_exists(spark, path)
    if idx is None:  # not created yet — the stream's first micro-batch
        return spark.createDataFrame(
            [], "probe_id bigint, index_id bigint, hamming integer"
        )
    pb = _band_rows(probe, id_col=id_col, hash_col=hash_col)
    if cache_probe:
        # localCheckpoint, not persist(): SQL-cache entries registered by
        # persist() live in the CacheManager until an explicit unpersist,
        # which a fire-and-forget operator cannot schedule — checkpointed
        # RDD blocks are released by the ContextCleaner when the frame is
        # garbage-collected.  Bounded: 4 rows of 3 ints per fingerprint.
        pb = pb.localCheckpoint()
    keys = [r["bh"] for r in pb.select("bh").distinct().limit(pushdown_cap + 1).collect()]
    if len(keys) <= pushdown_cap:
        idx = idx.where(F.col("bh").isin(keys))
    cand = (
        idx.alias("i")
        .join(
            pb.alias("p"),
            (F.col("i.band") == F.col("p.band"))
            & (F.col("i.bh") == F.col("p.bh"))
            & (F.col("i._id") != F.col("p._id")),
        )
        .select(
            F.col("p._id").alias("probe_id"),
            F.col("i._id").alias("index_id"),
            F.col("p._h").alias("ph"),
            F.col("i._h").alias("ih"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ph").bitwiseXOR(F.col("ih"))))
        .where(F.col("hamming") <= F.lit(max_hamming))
        .select("probe_id", "index_id", "hamming")
    )


def simhash_near_pairs(docs: DataFrame, *, max_hamming: int = 3, **kw) -> DataFrame:
    """SimHash near-dup pairs: candidates share one of 4 16-bit bands
    (any pair within Hamming distance 3 must agree on ≥1 band), then
    exact Hamming filter.  Returns (doc_a, doc_b, hamming)."""
    return banded_hamming_pairs(
        simhash(docs, **kw),
        id_col="doc_id",
        hash_col="simhash",
        max_hamming=max_hamming,
        out_a="doc_a",
        out_b="doc_b",
    )
