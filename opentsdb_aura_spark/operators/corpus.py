"""Corpus-curation operators for training-data pipelines: deterministic
dataset splits, vocabulary / document-frequency statistics, TF-IDF top
terms, stratified sampling, and duplicate-cluster retention.

These extend the engine beyond the reference's time-series surface to
the dataset-preparation operations a 100 TB training corpus needs.
Everything stays in built-in `pyspark.sql.functions` (JVM-side,
codegen'd); there are no Python UDFs and no driver-side collects.

Scale notes per operator live in the docstrings; the common design
rules: hashing uses md5 (available in every SQL engine, so oracles can
replicate it bit-for-bit — this is a split key, not crypto), per-token
aggregation always goes through a per-(doc, token) pre-aggregation so
the wide shuffle gets map-side combine, and every ranking has a total
deterministic order (explicit tie-breaks) so results are reproducible
run-to-run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
from pyspark.sql.window import Window

from opentsdb_aura_spark.operators.dedup_text import tokens

#: buckets for hash-based assignment — wide enough that fraction
#: boundaries land accurately, small enough to stay in int range
HASH_BUCKETS = 1_000_000


def det_hash_bucket(key: Column, salt: str, n_buckets: int = HASH_BUCKETS) -> Column:
    """Deterministic uniform bucket in [0, n_buckets) from the first 8
    hex chars of md5(key || ':' || salt).

    md5 rather than xxhash64 because the oracle side (any ANSI engine)
    can reproduce it exactly; 32 bits of the digest is plenty for
    split/sample uniformity.  Narrow map — no shuffle, no state."""
    h = F.conv(F.substring(F.md5(F.concat(key.cast("string"), F.lit(":" + salt))), 1, 8), 16, 10)
    return (h.cast("long") % n_buckets).alias("bucket")


def split_assign(
    docs: DataFrame,
    *,
    fractions: dict[str, float] | None = None,
    salt: str = "split",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: (doc_id, split).

    Each doc hashes to a bucket; cumulative fraction thresholds carve
    the bucket space.  Assignment is a pure function of (id, salt) —
    stable under reshuffling, appends, and re-runs, which is the
    property a training pipeline needs (no doc ever migrates between
    splits when the corpus grows).  Narrow map: zero shuffle at any
    scale."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = det_hash_bucket(F.col(id_col), salt)
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = bucket < int(acc * HASH_BUCKETS)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[0]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return docs.select(F.col(id_col).alias("doc_id"), expr.alias("split"))


def shard_assign(
    docs: DataFrame,
    n_shards: int,
    *,
    salt: str = "shard",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle: (doc_id, shard_id,
    shard_pos).

    Trainers consume the corpus as N shards read sequentially; the
    read order must be (a) pseudo-random w.r.t. any corpus ordering
    (no source/time clumping in a batch) and (b) exactly reproducible.
    Hashing gives both: ``shard_id`` = md5-bucket of (id, salt),
    ``shard_pos`` = rank of the hash within the shard.

    Scale shape: the position window partitions BY SHARD — N uniform
    hash partitions, each sorted independently (the same per-partition
    sort the shard writer needs anyway:
    ``repartition(n, shard_id).sortWithinPartitions(hash)``); there is
    no global sort.  Rerunning after an append only inserts new docs
    into their hash positions — existing (shard, relative order) pairs
    are stable.
    """
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    shard = (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % int(n_shards)).cast("int")
    w = Window.partitionBy("shard_id").orderBy(F.col("_h"), F.col("doc_id"))
    return (
        docs.select(F.col(id_col).alias("doc_id"), h.alias("_h"), shard.alias("shard_id"))
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard_id", "shard_pos")
    )


def per_doc_term_counts(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, token, tc) — per-document term counts.

    The explode fans out to one row per token occurrence, but the
    immediate groupBy(doc, token) gets near-total map-side combine
    (token repeats are doc-local), so the shuffle carries the
    *distinct* (doc, token) pairs, not the token stream."""
    toks = tokens(F.col(text_col))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("tc"))
    )


def vocab_stats(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus vocabulary: (token, tf, df) — total term frequency and
    document frequency.

    Built on per_doc_term_counts so the token-keyed shuffle aggregates
    pre-combined rows; df is a plain count (not count-distinct) because
    the pre-aggregation already made (doc, token) unique.  Two
    well-combined shuffles total — the canonical scalable shape for
    vocabulary building."""
    return (
        per_doc_term_counts(docs, text_col=text_col, id_col=id_col)
        .groupBy("token")
        .agg(F.sum("tc").cast("bigint").alias("tf"), F.count("*").cast("bigint").alias("df"))
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per doc by smoothed TF-IDF:
    (doc_id, token, score) with score = tc * (ln((N+1)/(df+1)) + 1).

    The df side joins on token — deliberately NOT hint-broadcast: a
    100 TB corpus has a vocabulary in the hundreds of millions, so the
    equi-join must be free to shuffle; AQE will still broadcast it when
    it measures small.  N arrives via a 1-row cross join (Catalyst
    broadcasts it for free — no driver-side count action).  The per-doc
    top-k window partitions by doc_id: partitions are doc-sized, so no
    straggler risk.  Ties break on token asc for a total order."""
    tc = per_doc_term_counts(docs, text_col=text_col, id_col=id_col)
    dfreq = tc.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tc.join(dfreq, "token")
        .crossJoin(n)
        .withColumn(
            "score",
            F.col("tc") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("doc_id", "token", "score")
    )


def stratified_sample(
    docs: DataFrame,
    fraction: float,
    *,
    strata_col: str = "lang",
    salt: str = "sample",
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Deterministic stratified sample: ~`fraction` of each stratum.

    ``exact=True`` keeps exactly ceil(fraction * n) docs per stratum:
    rank docs within the stratum by (hash, id) and keep the prefix.
    The rank window partitions by stratum — with few strata each is one
    task, so this mode is for bounded strata sizes (or as the oracle
    anchor).  ``exact=False`` is the 100 TB path: keep docs whose hash
    bucket falls below the fraction threshold — a pure narrow filter,
    no shuffle, per-stratum counts land within binomial noise of the
    target.  Both modes are stable under re-runs and appends."""
    bucket = det_hash_bucket(F.col(id_col), salt)
    if not exact:
        return docs.where(bucket < int(fraction * HASH_BUCKETS))
    w = Window.partitionBy(strata_col).orderBy(bucket.asc(), F.col(id_col))
    cnt = Window.partitionBy(strata_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(cnt))
        .where(F.col("_rn") <= F.ceil(F.col("_n") * fraction))
        .drop("_rn", "_n")
    )


def normalize_text(text: Column) -> Column:
    """Curation-grade normalization: lowercase, strip punctuation,
    collapse whitespace — so case/punctuation/spacing variants of the
    same document collide."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def dedup_keep_best(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", quality_col: str = "n_chars"
) -> DataFrame:
    """Duplicate-cluster retention: cluster docs by md5(normalized
    text), keep the best per cluster (highest quality, then lowest id),
    and report the drop decisions as (doc_id, kept_doc_id) — one row
    per *discarded* doc, pointing at its cluster's survivor.

    This is the keep-one policy layered on exact/normalized dedup that
    real curation pipelines apply after candidate generation.  The
    cluster key is a digest groupBy (map-side combined); the per-
    cluster winner is a window over clusters, which are tiny by
    construction (duplicate groups), so the shuffle is uniform."""
    key = F.md5(normalize_text(F.col(text_col))).alias("_ckey")
    w = Window.partitionBy("_ckey").orderBy(F.col(quality_col).desc(), F.col(id_col))
    ranked = docs.select(F.col(id_col).alias("doc_id"), F.col(quality_col), key).withColumn(
        "_rn", F.row_number().over(w)
    )
    winners = ranked.where(F.col("_rn") == 1).select("_ckey", F.col("doc_id").alias("kept_doc_id"))
    losers = ranked.where(F.col("_rn") > 1).select("doc_id", "_ckey")
    return losers.join(winners, "_ckey").select("doc_id", "kept_doc_id")


def _union_find_labels(edges: list) -> list:
    """Driver-side exact union-find over a BOUNDED edge list; label is
    the component's minimum member id (path-halving, union by smaller
    root so the min id is always the root).  Ids keep their own type —
    anything hashable and orderable (ints, strings) works, matching
    the distributed path."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        parent[x] = r
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


#: symmetric-edge cap under which connected_components closes the graph
#: with the driver union-find instead of the distributed rounds.  Read
#: at call time; 0 always runs the distributed loop.
_CC_LOCAL_EDGE_CAP = 200_000


def connected_components(pairs: DataFrame, *, max_iters: int = 20) -> DataFrame:
    """Connected components over an undirected edge list (doc_a,
    doc_b) → (doc_id, label) where label is the component's minimum
    member id.

    Min-label propagation: every node repeatedly takes the minimum of
    its own label and its neighbors' labels, converging in O(graph
    diameter) rounds.  Near-dup graphs have tiny, dense components
    (diameter a handful), so a few distributed join+groupBy rounds
    settle it; each round is a bounded shuffle on the edge list, with
    `localCheckpoint` truncating the lineage so plans don't grow.
    For adversarially long chains, swap in the large-star/small-star
    rewriting — the driver loop shape stays identical.

    The per-round convergence check is a `limit(1).count()` probe (the
    standard driver-coordinated pattern, not a data collect) — but
    each probe is a driver job, and the common near-dup graph settles
    within 2–3 rounds, so the first two rounds run probe-free (extra
    propagation rounds past convergence are idempotent; the output is
    identical either way) and halve the job count for typical graphs.

    Scale-adaptive: after the edge list materializes, if it holds at
    most ``_CC_LOCAL_EDGE_CAP`` symmetric edges the closure is computed
    by an exact driver-side union-find instead — a near-dup edge list
    is normally ORDERS smaller than the corpus (it only contains the
    duplicates), and the iterative path costs 2 shuffles + a
    checkpoint job PER ROUND, which dwarfs a 200k-row bounded collect.
    Same result either way, except that only the union-find closes a
    chain longer than ``max_iters`` rounds (the distributed loop
    raises there); corpora whose duplicate graph is genuinely huge
    take the distributed loop."""
    # materialize the DIRECTED edge list first: the symmetric union
    # reads `edges` twice, so checkpointing only the union re-executes
    # the (possibly expensive) candidate-pair DAG upstream of `pairs`
    # once per union branch — both-sided.  With the edge checkpoint the
    # pair DAG runs exactly once; the cheap reversal then reads the
    # materialized rows (guide §3.3 plan reuse)
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint()
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b"))).localCheckpoint()
    # cheap: counts the materialized checkpoint
    if _CC_LOCAL_EDGE_CAP and sym.count() <= _CC_LOCAL_EDGE_CAP:
        from pyspark.sql.types import StructField, StructType

        labels = _union_find_labels([(r["a"], r["b"]) for r in sym.collect()])
        id_type = sym.schema["a"].dataType  # whatever the caller's ids are
        schema = StructType([StructField("doc_id", id_type), StructField("label", id_type)])
        return sym.sparkSession.createDataFrame(labels, schema)
    labels = sym.select(F.col("a").alias("doc_id")).distinct().withColumn("label", F.col("doc_id"))
    converged = False
    proposed = None
    for it in range(max_iters):
        nbr_min = (
            sym.join(
                labels.select(F.col("doc_id").alias("b"), F.col("label").alias("_nl")), "b"
            )
            .groupBy("a")
            .agg(F.min("_nl").alias("_mn"))
            .select(F.col("a").alias("doc_id"), "_mn")
        )
        proposed = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least("label", F.coalesce("_mn", "label")).alias("label"),
                F.col("label").alias("_old"),
            )
            .localCheckpoint()  # one materialization serves both the probe and the next round
        )
        labels = proposed.select("doc_id", "label")
        if it >= 2:
            changed = proposed.where(F.col("label") != F.col("_old")).limit(1).count()
            if changed == 0:
                converged = True
                break
    if not converged and proposed is not None:
        # silent truncation would SPLIT components and keep several
        # "survivors" of one duplicate group — refuse instead
        if proposed.where(F.col("label") != F.col("_old")).limit(1).count() != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} rounds "
                "(adversarially long duplicate chain?) — raise max_iters"
            )
    return labels


def resolve_duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Near-duplicate cluster retention: candidate pairs (from any
    dedup stage — Jaccard, MinHash-LSH, SimHash, embedding) →
    connected components → keep the best doc per cluster (highest
    quality, then lowest id) → one row per dropped doc:
    (doc_id, kept_doc_id).

    This is the decision stage real curation pipelines run after
    candidate generation: without transitive closure, pairwise drops
    can discard both members of a pair or keep overlapping docs.
    Components are duplicate clusters — tiny by construction — so the
    winner window shuffles uniformly."""
    comp = connected_components(pairs)
    ranked = comp.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(quality_col)), "doc_id"
    ).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("label").orderBy(F.col(quality_col).desc(), F.col("doc_id"))
        ),
    )
    winners = ranked.where(F.col("_rn") == 1).select("label", F.col("doc_id").alias("kept_doc_id"))
    return (
        ranked.where(F.col("_rn") > 1)
        .select("doc_id", "label")
        .join(winners, "label")
        .select("doc_id", "kept_doc_id")
    )


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 64,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each doc into fixed-size token chunks for training-sample
    prep → (doc_id, chunk_idx, chunk_text, n_tokens).

    ``stride`` < ``chunk_tokens`` gives overlapping windows (the usual
    LM-pretraining packing trick); default is non-overlapping.  Chunk
    starts are a ``sequence`` + ``transform``/``slice`` over the token
    array followed by one ``posexplode`` — a narrow 1→many map with no
    shuffle, so it streams at parquet-scan speed on any corpus size.
    Tail chunks shorter than ``chunk_tokens`` are kept (standard for
    document-boundary-respecting packing); empty ones are dropped."""
    stride = stride or chunk_tokens
    toks = tokens(F.col(text_col))
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(starts, lambda st: F.slice(toks, st + 1, F.lit(chunk_tokens)))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.posexplode(chunks).alias("chunk_idx", "_ct"))
        .where(F.size("_ct") > 0)
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.array_join("_ct", " ").alias("chunk_text"),
            F.size("_ct").cast("bigint").alias("n_tokens"),
        )
    )


def contamination_check(
    docs: DataFrame,
    probes: DataFrame,
    *,
    n: int = 3,
    min_overlap_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination scan: for each probe (benchmark) doc,
    corpus docs sharing ≥ ``min_overlap_frac`` of the probe's distinct
    n-gram shingles → (doc_id, probe_id, overlap_frac).

    The probe side (an eval suite) is tiny next to the corpus, so its
    exploded shingles are broadcast: the corpus makes a single
    explode → broadcast-join → agg pass with map-side combine — no
    corpus self-join and no shuffle of document text, which is what
    keeps this viable when the corpus is 100 TB and the benchmark is
    a few thousand items."""
    from opentsdb_aura_spark.operators.dedup_text import word_shingles

    c_sh = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(word_shingles(F.col(text_col), n)).alias("s")
    )
    p_sh = probes.select(
        F.col(id_col).alias("probe_id"), F.explode(word_shingles(F.col(text_col), n)).alias("s")
    )
    p_size = p_sh.groupBy("probe_id").agg(F.count("*").alias("_pn"))
    hits = (
        c_sh.join(F.broadcast(p_sh), "s")
        .where(F.col("doc_id") != F.col("probe_id"))
        .groupBy("doc_id", "probe_id")
        .agg(F.count("*").alias("_inter"))
    )
    frac = F.col("_inter") / F.col("_pn")
    return (
        hits.join(F.broadcast(p_size), "probe_id")
        .where(frac >= F.lit(min_overlap_frac))
        .select("doc_id", "probe_id", frac.alias("overlap_frac"))
    )


def bigram_counts(
    docs: DataFrame, k: int = 20, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k corpus bigrams: (bigram, cnt), ordered by count desc then
    bigram asc.

    Bigrams are built array-side (zip of the token array with its
    tail) before the explode, the count aggregation gets map-side
    combine, and the final top-k plans as TakeOrderedAndProject — no
    global sort materializes."""
    toks = tokens(F.col(text_col))
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.concat(t, F.lit(" "), F.element_at(toks, i + 2)),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram"))
        .limit(k)
    )


def pack_sequences(
    docs: DataFrame,
    *,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_size: int = 4096,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in ``doc_id``
    order into one token stream and cut it into fixed ``seq_len``
    training sequences (documents span sequence boundaries — the
    standard concat-then-chunk packing used for LM pre-training).
    Returns one row per doc: (doc_id, n_tokens, token_start,
    seq_first, offset_first, seq_last).

    The global running offset is a TWO-LEVEL cumulative sum, because a
    single ``Window.orderBy(doc_id)`` would funnel the whole corpus
    through one partition:

    1. per-block token sums (``block = doc_id // block_size`` — a hash
       agg with map-side combine),
    2. an exclusive cumsum over that block aggregate (a window over
       ~corpus_docs/block_size rows — thousands of rows even at 100 TB,
       so its single partition is trivially small),
    3. a broadcast join of block offsets back onto docs, plus a
       within-block window cumsum partitioned by block (each partition
       bounded by ``block_size`` rows).

    This is the distributed prefix-sum shape; every stage is bounded
    regardless of corpus size.  Assignment is a pure function of the
    corpus ordered by doc_id, so the oracle is a plain SQL window
    cumsum."""
    from pyspark.sql.types import NumericType

    if not isinstance(docs.schema[id_col].dataType, NumericType):
        # the block derivation and the packing order are doc_id
        # arithmetic; a string id would ANSI-crash (or, ANSI off,
        # NULL-out _blk and silently emit zero rows)
        raise ValueError(
            f"pack_sequences requires a numeric {id_col!r} (packing order is id arithmetic); "
            "derive a numeric surrogate (e.g. global_shuffle's rank) first"
        )
    d = F.col(id_col)
    toks = tokens(F.col(text_col))
    base = docs.select(
        d.alias("doc_id"),
        (d / F.lit(block_size)).cast("long").alias("_blk"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    blocks = base.groupBy("_blk").agg(F.sum("n_tokens").alias("_bn"))
    w_blk = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    blocks = blocks.withColumn("_boff", F.coalesce(F.sum("_bn").over(w_blk), F.lit(0)))
    w_in = Window.partitionBy("_blk").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    start = F.col("_boff") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    L = F.lit(int(seq_len))
    return (
        base.join(F.broadcast(blocks.select("_blk", "_boff")), "_blk")
        .withColumn("token_start", start.cast("bigint"))
        .select(
            "doc_id",
            "n_tokens",
            "token_start",
            (F.col("token_start") / L).cast("bigint").alias("seq_first"),
            (F.col("token_start") % L).cast("bigint").alias("offset_first"),
            (
                F.when(F.col("n_tokens") > 0, (F.col("token_start") + F.col("n_tokens") - 1) / L)
                .otherwise(F.col("token_start") / L)
                .cast("bigint")
            ).alias("seq_last"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    domain_col: str = "source",
    default_rate: float = 0.0,
    salt: str = "mixture",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mixture sampling: keep each doc with its domain's
    configured rate (e.g. up-weight curated sources, down-weight web
    crawl when composing a training mixture).  Deterministic — the
    decision is a pure function of (doc_id, salt), so re-runs, appends
    and engine ports agree row-for-row; domains absent from ``rates``
    get ``default_rate``.

    A narrow filter (hash-compare per row, no shuffle, no sampling
    state), so it composes with split_assign/pack_sequences without
    adding a stage; the filter pushes down to the scan."""
    bucket = det_hash_bucket(F.col(id_col), salt)
    rate = None
    for dom, r in sorted(rates.items()):
        cond = F.col(domain_col) == F.lit(dom)
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(cond, F.lit(float(r)))
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(F.lit(float(default_rate)))
    return docs.where(bucket < rate * F.lit(HASH_BUCKETS))


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    *,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy per-domain selection under a token budget: within each
    domain, docs are taken in a deterministic priority order (longer
    docs first, doc id as tiebreak) until the domain's cumulative
    whitespace-token count would exceed ``budget_tokens``.

    This is the budgeted variant of ``mixture_sample``: a training mix
    is usually specified in TOKENS per domain, not document counts.
    Returns the kept docs with (n_tokens, cum_tokens).

    Scale: token counting is a narrow map; the running sum is one
    window per domain — the same single-shuffle shape as
    ``stratified_sample``.  A domain's docs sort within its partition;
    there is no global sort and no driver-side selection loop.
    """
    n_tokens = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.col("n_tokens").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    counted = docs.select(id_col, domain_col, n_tokens.alias("n_tokens"))
    return (
        counted.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= F.lit(int(budget_tokens)))
        .select(id_col, domain_col, "n_tokens", "cum_tokens")
    )


def global_shuffle(docs: DataFrame, *, seed: str = "42", id_col: str = "doc_id", prefix_hex: int = 3) -> DataFrame:
    """Deterministic pseudo-random GLOBAL ordering for training-data
    serving: every doc gets a stable ``shuffle_pos`` in [0, N) as if
    the corpus had been shuffled once with ``seed``.

    The order key is ``md5(doc_id || ':' || seed)`` — reproducible in
    any engine, uncorrelated with ingest order.  The global rank is
    computed WITHOUT a single-partition window (the classic
    ``row_number() OVER (ORDER BY ...)`` funnel) via the same
    distributed prefix-sum shape as :func:`pack_sequences`:

    1. block = first ``prefix_hex`` hex chars of the key (4096 uniform
       blocks) — for fixed-width lowercase hex, lexicographic string
       order equals (block, rest) order, so blocks tile the key space;
    2. per-block counts → exclusive cumsum over 4096 rows;
    3. broadcast block offsets back; within-block ``row_number``
       (partition bounded at ~N/4096 rows).

    At 100 TB this is one hash agg + one bounded-partition sort — the
    same work a range-partitioned total sort does, but with an exact,
    engine-independent position."""
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + seed)))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        key.alias("shuffle_key"),
        F.conv(F.substring(key, 1, int(prefix_hex)), 16, 10).cast("long").alias("_blk"),
    )
    blocks = base.groupBy("_blk").agg(F.count("*").alias("_bn"))
    w_blk = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    blocks = blocks.withColumn("_boff", F.coalesce(F.sum("_bn").over(w_blk), F.lit(0)))
    w_in = Window.partitionBy("_blk").orderBy("shuffle_key", "doc_id")
    return (
        base.join(F.broadcast(blocks.select("_blk", "_boff")), "_blk")
        .withColumn("shuffle_pos", (F.col("_boff") + F.row_number().over(w_in) - 1).cast("bigint"))
        .select("doc_id", "shuffle_key", "shuffle_pos")
    )


def cap_per_domain(
    docs: DataFrame,
    cap: int,
    *,
    domain_col: str = "source",
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Diversity capping: keep at most ``cap`` docs per domain, best
    first (``quality_col`` desc, doc id as tiebreak) — the standard
    guard against a single crawl domain dominating the training mix.

    Two-phase top-k so a mega-domain cannot form one giant sort task:
    phase 1 ranks within (domain, input-partition) — every window
    partition is bounded by the Parquet split size — and keeps its
    local top-``cap``; phase 2 ranks the ≤ cap × n_partitions
    survivors per domain.  Same hot-key-bounded shape as the blocked
    sessionize window."""
    local = docs.select(id_col, domain_col, quality_col).withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy(domain_col, "_pid").orderBy(F.col(quality_col).desc(), F.col(id_col))
    pruned = (
        local.withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= int(cap))
        .drop("_r", "_pid")
    )
    w2 = Window.partitionBy(domain_col).orderBy(F.col(quality_col).desc(), F.col(id_col))
    return (
        pruned.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .where(F.col("rank") <= int(cap))
    )


def dsir_weights(
    docs: DataFrame,
    target_source: str,
    *,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): represent each doc
    by hashed bigram counts and score it by the log-likelihood ratio of
    a target domain's bucket distribution vs the whole corpus's —
    ``weight(d) = Σ_grams log(p_target[bucket]/p_corpus[bucket])``
    (unigram-of-hashed-bigrams model, add-one smoothed).  High weight =
    looks like the target domain; resampling by weight tilts the mix.

    All Catalyst: one explode to (doc, bucket) — buckets are md5-based
    (:func:`det_hash_bucket`) so any engine reproduces them — two
    bucket-count aggregates (≤ ``n_buckets`` rows each, map-side
    combined), the log-ratio join is AQE-broadcast, and the per-doc
    score is one more hash agg.  No UDFs, no model state."""
    toks = tokens(F.col(text_col))
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.concat(t, F.lit(" "), F.element_at(toks, i + 2)),
    )
    g = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("_src"),
        F.explode(bigrams).alias("gram"),
    ).withColumn("bucket", det_hash_bucket(F.col("gram"), "dsir", int(n_buckets)))
    # Tokenize/hash the corpus ONCE: everything downstream reads the
    # per-(doc, bucket) count frame, whose aggregation Exchange both
    # the distribution branch and the scoring branch reuse
    # (ReusedExchange) — without it the explode + md5 over every gram
    # runs once per consumer, and the gram hashing IS the dominant
    # cost at corpus scale.
    is_tgt = (F.col("_src") == target_source).cast("long")
    db = g.groupBy("doc_id", "bucket").agg(
        F.count("*").alias("c"), F.max(is_tgt).alias("_t")
    )
    per_bucket = db.groupBy("bucket").agg(
        F.sum("c").alias("rn"), F.sum(F.col("c") * F.col("_t")).alias("tn")
    )
    totals = per_bucket.agg(
        F.sum("rn").alias("_rt"), F.sum("tn").alias("_tt")
    )  # 1-row factor, broadcast into the bucket table (≤ n_buckets rows)
    lr = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tn") + 1.0) / (F.col("_tt") + F.lit(float(n_buckets))))
            - F.log((F.col("rn") + 1.0) / (F.col("_rt") + F.lit(float(n_buckets))))
        ).alias("logr"),
    )
    return (
        db.join(lr, "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(F.col("c") * F.col("logr")).alias("weight"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight: Column,
    *,
    group_col: str | None = None,
    salt: str = "wsample",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement, k per group
    (Efraimidis–Spirakis A-ES): each row draws key = u^(1/w) with u a
    deterministic md5 uniform of (id, salt); the k largest keys are a
    correct weighted sample, so quality/importance-weighted corpus
    selection (e.g. over DSIR weights, quality scores, token counts)
    runs as one rank-filter — no iterative resampling, no global sort
    (the window partitions by group; ungrouped falls back to a top-k).

    Deterministic md5 uniforms make the draw reproducible run-to-run
    AND engine-to-engine — the same SQL reproduces the exact sample,
    which is how the oracle checks it.  Rows with weight <= 0 are
    excluded (their sampling key is undefined).

    Output: input columns + ``sample_key``, the k winners per group.
    """
    from pyspark.sql.window import Window

    # 13 hex chars = 52 bits — exactly representable in a double;
    # +1/+2 keeps u strictly inside (0, 1) so ln(u) and u^(1/w) are
    # finite and the key is never exactly 0 or 1
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 13),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float((1 << 52) + 2))
    key = F.pow(u, F.lit(1.0) / weight)
    ranked = docs.where(weight > 0).withColumn("sample_key", key)
    if group_col is None:
        n = ranked.orderBy(F.col("sample_key").desc(), F.col(id_col)).limit(int(k))
        return n
    w = Window.partitionBy(group_col).orderBy(F.col("sample_key").desc(), F.col(id_col))
    return (
        ranked.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge list — the link-graph authority
    signal crawl pipelines rank hosts/pages by when prioritizing the
    frontier and weighting corpus quality (the public Common Crawl
    ranking uses exactly this family of centrality over its WAT link
    graph).

    Power iteration, UNROLLED into the Spark plan: each round is one
    groupBy on dst (map-side combined contribution sums) + one left
    join back onto the node set — no driver state, no collect, lineage
    truncated per round with localCheckpoint so the plan stays flat at
    any ``n_iter``.  Nodes are the union of edge endpoints; dangling
    nodes (no out-edges) redistribute their mass uniformly (the
    standard correction, applied via one 1-row aggregate per round).
    Returns (node, rank) with ranks summing to 1.

    ``weight_col`` generalizes to the WEIGHTED form (each node splits
    its rank proportionally to edge weight instead of uniformly) —
    the host-graph case, where the weight is the inter-host link
    count after :func:`host_graph` projection.  Non-positive-weight
    edges carry no mass (and a node with only such edges is dangling,
    exactly as if the edges were absent).

    Semantics pinned by full oracles (pipeline_pagerank,
    pipeline_host_rank) that unroll the same iterations in SQL over
    closed-form fixture graphs."""
    d = float(damping)
    if weight_col is not None:
        # non-positive weights carry no mass; dropping them up front
        # makes "only zero-weight out-edges" dangle exactly like "no
        # out-edges" (and keeps outdeg strictly positive below)
        edges = edges.where(F.col(weight_col).cast("double") > 0)
    w = F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = edges.groupBy(F.col(src_col).alias("node")).agg(F.sum(w).alias("outdeg"))
    state = nodes.join(deg, "node", "left").select(
        "node", F.coalesce("outdeg", F.lit(0.0)).alias("outdeg"), (F.lit(1.0) / n).alias("rank")
    ).localCheckpoint()
    e = edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("dst"), w.alias("_w"))
    for _ in range(int(n_iter)):
        contrib = (
            e.join(state.where(F.col("outdeg") > 0), "node")
            .select("dst", (F.col("rank") * F.col("_w") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        dangling = state.where(F.col("outdeg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m")
        )
        state = (
            state.select("node", "outdeg")
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "outdeg",
                (
                    F.lit((1.0 - d) / n)
                    + d * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.col("m") / n)
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return state.select("node", "rank")


def harmonic_centrality(
    edges: DataFrame,
    *,
    max_dist: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Radius-bounded harmonic centrality — the OTHER half of the
    public Common Crawl host-ranking signal (their published host
    ranks pair PageRank with harmonic centrality):
    H(v) = Σ over u ≠ v with d(u, v) ≤ max_dist of 1 / d(u, v),
    distances taken ALONG edge direction (u endorses v).

    Exact form by BFS layer expansion, unrolled into the plan: layer r
    is one equi-join of the (r-1)-frontier onto the edge list plus one
    anti-join against the already-discovered pair set (first discovery
    IS the shortest distance — no min-recomputation), lineage cut per
    round with localCheckpoint.  Self-pairs never enter; nodes nobody
    reaches within the radius report 0, so every node has a row.

    Scale: the pair set is Σ_r |ball(r)| rows — tractable at a small
    radius on a REDUCED graph (the host/domain projections), which is
    exactly where the Common Crawl ranking computes it.  For the
    page-level billions-of-nodes case use :func:`hyperball_harmonic`,
    the bounded-memory HLL-register form of the same truncated sum.
    Returns (node, harmonic, n_within) — n_within = |{u : 0 <
    d(u,v) ≤ max_dist}|, the ball size the estimator approximates."""
    if int(max_dist) < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    # node universe BEFORE the self-loop drop: a node whose only edge
    # is a self-loop still exists in the graph and must report 0; a
    # NULL endpoint is no node at all (3VL would otherwise mint a
    # NULL row here that the != filter below silently drops from e)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .where(F.col("node").isNotNull())
        .distinct()
    )
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    known = e.withColumn("dist", F.lit(1))
    frontier = known
    for r in range(2, int(max_dist) + 1):
        nxt = (
            frontier.select("u", F.col("v").alias("_mid"))
            .join(e.withColumnRenamed("u", "_mid"), "_mid")
            .select("u", "v")
            .where(F.col("u") != F.col("v"))
            .distinct()
            .join(known.select("u", "v"), ["u", "v"], "left_anti")
            .withColumn("dist", F.lit(r))
            .localCheckpoint()
        )
        known = known.unionByName(nxt)
        frontier = nxt
    h = known.groupBy(F.col("v").alias("node")).agg(
        F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"),
        F.count("*").cast("long").alias("n_within"),
        F.sum(F.col("dist").cast("double")).alias("sum_dist"),
    )
    return nodes.join(h, "node", "left").select(
        "node",
        F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        F.coalesce("n_within", F.lit(0)).cast("long").alias("n_within"),
        # Σ d(u,v) over the ball — the raw material of closeness and
        # Lin's index (n_within² / sum_dist), which handle truncated/
        # disconnected balls where classic closeness degenerates
        F.coalesce("sum_dist", F.lit(0.0)).alias("sum_dist"),
    )


def _hll_estimate(regs: Column, m: int) -> Column:
    """HyperLogLog cardinality estimate from an m-register array
    (Flajolet et al. 2007): raw = α_m·m²/Σ 2^(−M_j) with the
    linear-counting small-range correction (raw ≤ 2.5m and empty
    registers remain → m·ln(m/V)).  Pure Catalyst — the higher-order
    array functions keep the whole estimate inside codegen."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    ssum = F.aggregate(
        regs, F.lit(0.0), lambda a, x: a + F.pow(F.lit(2.0), -x.cast("double"))
    )
    raw = F.lit(alpha * m * m) / ssum
    v = F.size(F.filter(regs, lambda x: x == 0)).cast("double")
    return F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)


#: bounded local fast path for HyperBall (the suffix-array /
#: _FIT_LOCAL_ROW_CAP discipline): when the edge list holds at most
#: this many rows, the whole register loop runs driver-side off ONE
#: bounded limit(cap+1) Arrow probe instead of ~46 single-task stages
#: of pure orchestration (measured: the sf0.1 run is stage-launch
#: bound — 46 stages of 0.1-0.7 s each, every one a single task).
#: Above the cap the distributed loop is unchanged
#: (tools/pagerank_scale_bench.py's 2M-edge tier keeps exercising it).
#: Read at call time; 0 always runs the distributed loop.
_HB_LOCAL_EDGE_CAP = 200_000


def _hyperball_local(
    edges, *, max_dist, mm, bits, rest, src_col, dst_col, salt, cap
):
    """Driver-side HyperBall iff the edge frame holds <= ``cap`` rows
    (probed with limit(cap+1) — scale-free, never a full scan), else
    None.  Register indices/ranks come from the ENGINE (the same
    xxhash64/conv Column tree the distributed loop evaluates, shipped
    alongside the probed edges), so the local path never re-implements
    the hash; every float in the register→estimate→harmonic chain
    mirrors the Column expression tree term for term — the per-node
    2^-M fold is an index-ordered left fold, divisions and the
    linear-counting log are the same IEEE ops.  Parity is pinned in
    tests/test_corpus_ops.py against _HB_LOCAL_EDGE_CAP = 0."""
    import numpy as np

    h_u = F.xxhash64(F.col("u").cast("string"), F.lit(salt))
    h_v = F.xxhash64(F.col("v").cast("string"), F.lit(salt))

    def _jr(h):
        j = F.pmod(h, F.lit(mm)).cast("int")
        h2 = F.shiftrightunsigned(h, bits)
        blen = F.length(F.conv(h2.cast("string"), 10, 2))
        rho = (
            F.when(h2 == 0, F.lit(rest + 1))
            .otherwise(F.lit(rest) + 1 - blen)
            .cast("int")
        )
        return j, rho

    slim = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    ju, ru = _jr(h_u)
    jv, rv = _jr(h_v)
    probe = slim.select(
        "u", "v", ju.alias("_ju"), ru.alias("_ru"), jv.alias("_jv"), rv.alias("_rv")
    )
    pdf = probe.limit(cap + 1).toPandas()
    if len(pdf) > cap:
        return None
    if len(pdf) and (pdf["u"].isna().any() or pdf["v"].isna().any()):
        # NULL endpoints flip numeric pandas columns to float — rather
        # than re-deriving dtypes driver-side, send the (rare) corner
        # to the distributed chain, which handles it natively
        return None
    # node universe before the self-loop/NULL-pair drop; one (j, rho)
    # per node (engine-computed, identical on every occurrence)
    idx: dict = {}
    jr: list = []
    us, vs = pdf["u"].tolist(), pdf["v"].tolist()
    jus, rus = pdf["_ju"].tolist(), pdf["_ru"].tolist()
    jvs, rvs = pdf["_jv"].tolist(), pdf["_rv"].tolist()
    eset = set()
    for i in range(len(us)):
        u, v = us[i], vs[i]
        if u is not None and u not in idx:
            idx[u] = len(jr)
            jr.append((int(jus[i]), int(rus[i])))
        if v is not None and v not in idx:
            idx[v] = len(jr)
            jr.append((int(jvs[i]), int(rvs[i])))
        # u != v is NULL under 3VL when either end is NULL -> dropped
        if u is not None and v is not None and u != v:
            eset.add((idx[u], idx[v]))
    n = len(idx)
    spark = edges.sparkSession
    schema = StructType(
        [
            StructField("node", slim.schema["u"].dataType),
            StructField("harmonic", DoubleType()),
            StructField("ball_est", DoubleType()),
            StructField("sum_dist_est", DoubleType()),
        ]
    )
    if n == 0:
        return spark.createDataFrame([], schema)
    regs = np.zeros((n, mm), dtype=np.int64)
    for i, (j, r_) in enumerate(jr):
        regs[i, j] = r_
    if eset:
        ea = np.fromiter((p for uv in eset for p in uv), dtype=np.int64).reshape(-1, 2)
        ui, vi = ea[:, 0], ea[:, 1]
    else:
        ui = vi = np.zeros(0, dtype=np.int64)
    alpha = 0.7213 / (1.0 + 1.079 / mm)

    def estimate(R):
        # _hll_estimate mirrored: index-ordered left fold of 2^-M_j
        # (ldexp is exact for integer registers), raw = alpha*m^2/sum,
        # linear-counting switch when raw <= 2.5m and zeros remain
        acc = np.zeros(len(R), dtype=np.float64)
        for jcol in range(mm):
            acc = acc + np.ldexp(1.0, -R[:, jcol])
        raw = (alpha * mm * mm) / acc
        vz = (R == 0).sum(axis=1).astype(np.float64)
        with np.errstate(divide="ignore"):
            lin = float(mm) * np.log(float(mm) / vz)
        return np.where((raw <= 2.5 * mm) & (vz > 0), lin, raw)

    prev = estimate(regs)
    harmonic = np.zeros(n, dtype=np.float64)
    sum_dist = np.zeros(n, dtype=np.float64)
    for r_ in range(1, max_dist + 1):
        inc = np.zeros_like(regs)
        if len(ui):
            np.maximum.at(inc, vi, regs[ui])
        regs = np.maximum(regs, inc)
        est = estimate(regs)
        delta = np.maximum(est - prev, 0.0)
        harmonic = harmonic + delta / float(r_)
        sum_dist = sum_dist + delta * float(r_)
        prev = est
    ball = np.maximum(prev - 1.0, 0.0)
    nodes = list(idx)
    rows = [
        (nodes[i], float(harmonic[i]), float(ball[i]), float(sum_dist[i]))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, schema)


def hyperball_harmonic(
    edges: DataFrame,
    *,
    max_dist: int = 3,
    m: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
    salt: str = "hyperball",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2011 / the "Four degrees of
    separation" machinery): approximate radius-bounded harmonic
    centrality at graph sizes where the exact pair set of
    :func:`harmonic_centrality` cannot exist — each node carries ONE
    m-register HyperLogLog counter of its incoming ball
    B(v, r) = {u : d(u, v) ≤ r}, and round r unions every
    in-neighbor's counter into it:

        B(v, r) = B(v, r−1) ∪ ⋃_{(u→v)∈E} B(u, r−1)

    so state is O(nodes·m) bytes TOTAL regardless of ball size, and
    H(v) ≈ Σ_r (|B(v,r)| − |B(v,r−1)|) / r from the per-round
    estimates (deltas clamped at 0 — registers only grow, but the
    estimator's regime switch is not strictly monotone).

    Spark-first shape: registers are an array<int> column; the round
    is one equi-join of the edge list onto the O(nodes) state, a
    64-wide element_at projection, one map-side-combined groupBy(dst)
    of per-position MAXes, and a zip_with(greatest) merge — no
    explode, no Python, the whole union stays in codegen.  Register
    insert uses the standard single-hash split: xxhash64 low bits
    index, ρ = leading-zero rank of the remaining 58 bits computed
    EXACTLY via the base-2 digit length (conv), not a float log.

    Accuracy: 1.04/√m relative error in the raw regime; small balls
    sit in the linear-counting regime and are much tighter.  Bounds
    pinned against the exact operator in tests/test_rows_only_bounds.
    Returns (node, harmonic, ball_est)."""
    mm = int(m)
    if mm & (mm - 1) or mm < 16:
        raise ValueError(f"m must be a power of two >= 16, got {m}")
    if int(max_dist) < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    bits = mm.bit_length() - 1
    rest = 64 - bits
    if _HB_LOCAL_EDGE_CAP:
        got = _hyperball_local(
            edges, max_dist=int(max_dist), mm=mm, bits=bits, rest=rest,
            src_col=src_col, dst_col=dst_col, salt=salt, cap=_HB_LOCAL_EDGE_CAP,
        )
        if got is not None:
            return got
    # node universe BEFORE the self-loop drop (parity with the exact
    # operator: a self-loop-only node reports 0, not no-row; NULL
    # endpoints are no node at all)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .where(F.col("node").isNotNull())
        .distinct()
    )
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    h = F.xxhash64(F.col("node").cast("string"), F.lit(salt))
    j = F.pmod(h, F.lit(mm)).cast("int")
    h2 = F.shiftrightunsigned(h, bits)
    # exact bit length of h2: base-2 digit count via conv (integer
    # string length — no float-log boundary rounding); h2 == 0 means
    # all `rest` suffix bits are zero -> rho = rest + 1
    blen = F.length(F.conv(h2.cast("string"), 10, 2))
    rho = F.when(h2 == 0, F.lit(rest + 1)).otherwise(F.lit(rest) + 1 - blen).cast("int")
    init = F.transform(
        F.sequence(F.lit(0), F.lit(mm - 1)),
        lambda i: F.when(i == j, rho).otherwise(F.lit(0)),
    )
    state = nodes.select(
        "node",
        init.alias("regs"),
    )
    state = state.select(
        "node",
        "regs",
        _hll_estimate(F.col("regs"), mm).alias("_prev"),
        F.lit(0.0).alias("harmonic"),
        F.lit(0.0).alias("sum_dist"),
    ).localCheckpoint()
    pos = [F.element_at(F.col("regs"), i + 1).alias(f"_p{i}") for i in range(mm)]
    for r in range(1, int(max_dist) + 1):
        incoming = (
            e.join(state.select(F.col("node").alias("u"), "regs"), "u")
            .select(F.col("v").alias("node"), *pos)
            .groupBy("node")
            .agg(*[F.max(f"_p{i}").alias(f"_m{i}") for i in range(mm)])
            .select("node", F.array(*[F.col(f"_m{i}") for i in range(mm)]).alias("_in"))
        )
        merged = state.join(incoming, "node", "left").select(
            "node",
            F.when(
                F.col("_in").isNull(), F.col("regs")
            ).otherwise(
                F.zip_with(F.col("regs"), F.col("_in"), lambda a, b: F.greatest(a, b))
            ).alias("regs"),
            "_prev",
            "harmonic",
            "sum_dist",
        )
        est = _hll_estimate(F.col("regs"), mm)
        state = merged.select(
            "node",
            "regs",
            est.alias("_prev"),
            (
                F.col("harmonic")
                + F.greatest(est - F.col("_prev"), F.lit(0.0)) / F.lit(float(r))
            ).alias("harmonic"),
            (
                F.col("sum_dist")
                + F.greatest(est - F.col("_prev"), F.lit(0.0)) * F.lit(float(r))
            ).alias("sum_dist"),
        ).localCheckpoint()
    # ball_est counts the node itself (B(v,0) = {v}); subtract the
    # r=0 baseline so it reports |{u != v}| like the exact operator.
    # sum_dist accumulates Σ r·Δ|B| — the same per-round deltas, so
    # closeness/Lin come free from the registers already paid for
    return state.select(
        "node",
        "harmonic",
        F.greatest(F.col("_prev") - F.lit(1.0), F.lit(0.0)).alias("ball_est"),
        F.col("sum_dist").alias("sum_dist_est"),
    )


def host_graph(
    edges: DataFrame,
    *,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    keep_self_loops: bool = False,
) -> DataFrame:
    """Project the page-level link graph onto the HOST graph — the
    granularity the public Common Crawl rankings are computed at (a
    page-level web graph has billions of nodes; the host graph has
    tens of millions, and host-level authority is the signal curation
    stacks weight corpora by).  Hosts lowercase with any port
    stripped; URLs with no parseable host drop; intra-host self-loops
    drop by default (they dominate raw link counts — chrome/nav — and
    carry no cross-site endorsement).  Returns (src_host, dst_host,
    n_links) — the weight :func:`pagerank` ``weight_col`` consumes.

    One shuffle: the (src_host, dst_host) groupBy, map-side combined —
    the projection REDUCES the graph before any iteration touches
    it, which is why host rank at 100 TB is cheaper than page rank."""

    def h(c: str):
        host = F.lower(F.regexp_extract(F.col(c), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1))
        return F.regexp_replace(host, r":\d+$", "")

    g = edges.select(h(src_col).alias("src_host"), h(dst_col).alias("dst_host")).where(
        (F.col("src_host") != "") & (F.col("dst_host") != "")
    )
    if not keep_self_loops:
        g = g.where(F.col("src_host") != F.col("dst_host"))
    return g.groupBy("src_host", "dst_host").agg(
        F.count("*").cast("long").alias("n_links")
    )


def frontier_priorities(
    edges: DataFrame,
    ranks: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
) -> DataFrame:
    """Rank-weighted frontier scheduling — what the authority signal
    is FOR: the priority of each candidate URL is the PageRank mass
    its in-links would deliver (damping × Σ rank(src)/outdeg(src)
    over referring pages — one power-iteration round restricted to
    the candidates), alongside the raw reference count.  A scheduler
    ordering by ``priority`` crawls pages endorsed by already-
    authoritative pages first (the OPIC-family policy), where
    ``n_refs`` alone lets link farms vote themselves up.

    Pure Catalyst: out-degrees and contributions are the same
    map-side-combined groupBy shapes as one :func:`pagerank` round —
    one join of the edge list onto the O(nodes) rank state, one
    shuffle on dst.  Returns (dst, priority, n_refs)."""
    d = float(damping)
    deg = edges.groupBy(F.col(src_col).alias("_s")).agg(F.count("*").alias("_outdeg"))
    r = ranks.select(F.col("node").alias("_s"), F.col("rank").alias("_rank"))
    return (
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("dst"))
        .join(r, "_s")
        .join(deg, "_s")
        .groupBy("dst")
        .agg(
            (F.lit(d) * F.sum(F.col("_rank") / F.col("_outdeg"))).alias("priority"),
            F.count("*").alias("n_refs"),
        )
    )


def bloom_decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    *,
    n: int = 3,
    n_bits: int = 63 * 256,
    k: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination at Bloom-filter scale — the GPT-3 /
    PaLM recipe (Brown et al. 2020 app. C; Chowdhery et al. 2022
    §6.2): build a Bloom filter over the EVAL suite's n-grams once,
    then flag each training doc by the fraction of its distinct
    n-grams the filter claims to have seen.

    This is :func:`contamination_check`'s scale path: that operator
    broadcasts the probe SHINGLES (fine for thousands of benchmark
    items), this one compresses them to O(n_bits) bits first, so the
    broadcast stays a few KB no matter how many benchmark suites are
    folded in — and filters built per suite MERGE by bit_or (the
    url_bloom_build aggregate), so decontaminating against a new
    benchmark never rescans the corpus-side grams of the old ones.

    No false negatives (a truly shared n-gram always hits — Bloom's
    structural guarantee), false positives at the standard rate, so
    ``flag_frac`` can only over-count; with the fixture sizing the FP
    pattern is deterministic and the catalog oracle reproduces it
    bit-for-bit.  Returns (doc_id, n_grams, n_flagged, flag_frac,
    contaminated) per doc with >= 1 n-gram."""
    from opentsdb_aura_spark.operators.containers import (
        _BLOOM_WORD_BITS,
        _bloom_positions,
        url_bloom_build,
    )
    from opentsdb_aura_spark.operators.dedup_text import _spread, word_shingles

    p_sh = probes.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("url")
    ).distinct()
    bloom = url_bloom_build(p_sh, n_bits=n_bits, k=k)

    # the corpus side pays k interpreted fold-hashes PER GRAM (the
    # aggregate HOF is CodegenFallback) — orders of magnitude more CPU
    # per row than the divided fixture spread assumes, so widen it to
    # the full core count when the input arrives narrower (measured:
    # 1.8 s at 32 partitions vs 5.9 s at 8 on the sf0.1 fixture).  At
    # real scale the corpus already spans >= cores partitions and this
    # inserts nothing.
    c_sh = _spread(docs, depth=1).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
    )
    pos = _bloom_positions(F.col("_g"), n_bits, k)
    exploded = c_sh.select("doc_id", "_g", F.explode(F.array(*pos)).alias("_pos"))
    mask = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(_pos % {_BLOOM_WORD_BITS} AS INT))"
    )
    probed = exploded.select(
        "doc_id",
        "_g",
        (F.col("_pos") / _BLOOM_WORD_BITS).cast("int").alias("word_idx"),
        mask.alias("_m"),
    ).join(F.broadcast(bloom), "word_idx", "left")
    hit = (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_m")) != 0).cast("int")
    per_gram = probed.groupBy("doc_id", "_g").agg((F.min(hit) == 1).cast("int").alias("_hit"))
    frac = F.col("n_flagged") / F.col("n_grams")
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("_hit").cast("long").alias("n_flagged"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_flagged",
            frac.alias("flag_frac"),
            (frac >= F.lit(float(threshold))).alias("contaminated"),
        )
    )


def temperature_mixture(
    docs: DataFrame,
    *,
    alpha: float = 0.3,
    target_frac: float = 0.5,
    domain_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "tmix",
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-based domain sampling — the multilingual-corpus
    rebalancing rule of mBERT/XLM-R (Conneau et al. 2020 §3.1):
    sample domains with probability q_i ∝ n_i^alpha, alpha < 1
    flattening the size distribution so low-resource domains are
    up-sampled.  Rates are DERIVED from corpus statistics (one
    groupBy), not configured — the operator-level difference from
    :func:`mixture_sample`.

    With a target of ``target_frac``·N docs overall, domain i keeps
    each doc with rate min(1, q_i·T/n_i); the decision itself is the
    deterministic md5-bucket rule, so re-runs and engine ports agree
    row-for-row.  Returns per-domain
    (domain, n_docs, keep_rate, n_kept).

    ``weight_col`` switches the domain mass from document COUNTS to a
    per-doc weight column (token counts — XLM-R's rule is over token
    mass, not doc counts): q_i ∝ (Σ w)^alpha and the target becomes
    target_frac of the total weight, with domain i's per-doc keep
    rate min(1, q_i·T_w/w_i).  Expected KEPT WEIGHT then follows the
    temperature distribution even when domains' doc sizes differ.

    Σ n_j^alpha is folded over the domain list SORTED by domain
    (sort_array + aggregate, mirrored by the oracle's ordered
    list_reduce): float summation order is pinned, so keep_rate — and
    therefore every bucket-vs-boundary verdict — is bit-identical
    across engines (the GD-fold discipline, operators/quality.py).
    Plan: groupBy → 1-row total crossJoin (broadcast) → broadcast
    rates join back → filtered count; the corpus is scanned twice and
    never shuffled beyond the domain aggregation.

    Null domains are dropped up front (the countmin/mg null-key
    policy): they would otherwise receive a rate row from the groupBy
    but silently vanish from the kept count through the equi-join —
    an inconsistent half-presence."""
    docs = docs.where(F.col(domain_col).isNotNull())
    a = float(alpha)
    w = (
        F.lit(1.0)
        if weight_col is None
        else F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
    )
    stats = (
        docs.groupBy(F.col(domain_col).alias("dom"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(w).alias("_mass"),
        )
        .withColumn("_pw", F.pow(F.col("_mass"), F.lit(a)))
    )
    totals = stats.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("dom", "_pw"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_pw"],
        ).alias("_tot"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("dom", F.col("_mass").alias("m")))),
            F.lit(0.0),
            lambda acc, x: acc + x["m"],
        ).alias("_n_total"),
    )
    rate = F.least(
        F.lit(1.0),
        ((F.col("_pw") / F.col("_tot")) * (F.lit(float(target_frac)) * F.col("_n_total")))
        / F.col("_mass"),
    )
    rates = stats.crossJoin(F.broadcast(totals)).select(
        "dom", "n_docs", rate.alias("keep_rate")
    )
    keyed = docs.select(
        F.col(domain_col).alias("dom"),
        det_hash_bucket(F.col(id_col), salt).alias("_b"),
    )
    # integer bucket threshold via the repo's +1e-9 boundary nudge:
    # keep_rate is a derived double (pow/div chain), and JVM vs libm
    # pow can differ in the last ulp — comparing the raw product
    # b < rate*1e6 would let an exact-integer product admit one extra
    # bucket on one engine.  floor(1e-9 + rate*1e6) absorbs ulp noise
    # (≤ ~1e-10 at these magnitudes) into one agreed integer; the
    # oracle spells the identical expression.
    thr = F.floor(F.lit(1e-9) + F.col("keep_rate") * F.lit(float(HASH_BUCKETS))).cast("long")
    kept = (
        keyed.join(F.broadcast(rates.select("dom", "keep_rate")), "dom")
        .where(F.col("_b") < thr)
        .groupBy("dom")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return rates.join(kept, "dom", "left").select(
        "dom",
        "n_docs",
        "keep_rate",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )
