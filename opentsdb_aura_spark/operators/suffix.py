"""Exact-substring duplication via a distributed suffix array —
the ExactSubstr algorithm of Lee et al. 2022 ("Deduplicating Training
Data Makes Language Models Better", §4.1), built Spark-first.

The paper's single-node tool builds a suffix array over the
concatenated corpus and reports every substring of >= ``min_len``
tokens that occurs twice anywhere.  The existing span-hash operator
(operators/dedup_text.duplicate_spans) is the fixed-window
approximation of this; this module is the EXACT form: a position
holds a duplicated substring of length L iff its suffix shares a
prefix of >= L characters with one of its two neighbors in suffix
order, so the whole decision reduces to (suffix array, adjacent-LCP)
— both computed with shuffle-friendly primitives:

* **Suffix array by prefix doubling** (Manber–Myers): rank suffixes
  by their first ``init_prefix`` characters, then repeatedly combine
  ``(rank[i], rank[i + k])`` and re-rank, doubling ``k`` — O(log n)
  rounds, each ONE equi-join on (doc_id, offset+k) plus one global
  dense rank.  No suffix strings are ever materialized beyond the
  fixed ``init_prefix`` head; state per round is exactly one long per
  position.  Lineage is truncated per round by the pinned
  partitioning inside :func:`global_dense_rank` (the
  pagerank/HyperBall loop discipline, operators/corpus.py).

* **Global dense rank without a single-partition window**: Spark's
  ``dense_rank`` over an unpartitioned window funnels all rows
  through one task.  :func:`global_dense_rank` instead
  ``repartitionByRange``-s on the sort key (equal keys co-locate,
  partition ids ascend with key ranges — verified property of the
  range partitioner), ranks WITHIN each partition, and adds a
  broadcast per-partition cumulative offset (#distinct keys in
  earlier partitions).  Every stage is all-executor parallel; the
  offset frame is #partitions rows.

* **Per-doc suffixes, no corpus concatenation**: duplicated
  substrings never span document boundaries (the paper inserts
  unique separators for exactly this reason), so suffixes are
  (doc_id, offset) pairs ordered by their within-doc tail, with
  exact-equal tails tie-broken by (doc_id, offset) — giving a total
  order identical to a concatenation with per-doc unique sentinels.

* **Adjacent LCP** is computed by fetching a ``cap``-character head
  per suffix (one join with the doc table) and comparing rank-r with
  rank-r+1 heads char-by-char via ``transform + array_position`` —
  pure Catalyst, mirrored verbatim by the DuckDB oracle's
  ``list_transform + list_position``.

The only driver-side value the loop reads is the max document length
(one 1-row aggregate, fixing the round count up front) — the
bounded-collect discipline every iterative operator in this repo
follows.  Reference parity: the reference engine has no
substring-dedup surface (no Python/ML code anywhere in its Java
modules); this operator extends the engine for training-data
curation, pinned by full DuckDB oracles (dedup_suffix_array,
dedup_suffix_spans, dedup_suffix_excise, dedup_suffix_index_probe —
the last two derive membership INDEPENDENTLY by gram counting, so
their hash matches cross-validate the whole SA chain) and Hypothesis
property tests against an independent Python suffix sort and
excision model (tests/test_property.py).  global_dense_rank also
serves the metric path's corpus-wide ranking (gb_user_global_rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

# Bounded local fast path (the resolve_duplicate_clusters <=200k-edge /
# _FIT_LOCAL_ROW_CAP discipline): when the corpus slice holds at most
# this many characters (= suffix positions), the whole suffix sort +
# adjacent-LCP runs driver-side off ONE bounded collect of the doc
# texts instead of ~15 rank/join stages of pure orchestration.  Above
# the cap the distributed prefix-doubling loop is unchanged (the sf1
# tier and tools/suffix_scale_bench.py keep exercising it).  Read at
# call time; 0 keeps every operator on its distributed chain.
_SA_LOCAL_POS_CAP = 1_000_000

#: quadratic-cost budget for the local path: _local_suffix_entries
#: materializes every suffix tail as a real Python string, so driver
#: memory is Σ len(doc)²/2 chars — a 1M-char SINGLE doc passes the
#: position cap yet needs ~0.5 TB of tails.  Gate on Σ len² too
#: (computed in the SAME 1-row probe aggregate, so it costs nothing):
#: 1e9 char² ≈ ≤0.5 GB of tail payload on the driver, while the sf
#: fixtures (Σ len² ~7e7 at sf0.1) stay comfortably local.  Over-budget
#: corpora fall through to the distributed prefix-doubling chain, which
#: handles them in O(total · log max_len) state.
_SA_LOCAL_SQ_CAP = 1_000_000_000


def _doc_slice(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, text) of the non-empty docs — the suffix positions."""
    return docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).where(F.length("text") > 0)


def _corpus_probe(base: DataFrame):
    """One 1-row aggregate over the doc slice: (max_len, rows) where
    ``rows`` is the collected [(doc_id, text), ...] iff total_chars <=
    _SA_LOCAL_POS_CAP AND Σ len² <= _SA_LOCAL_SQ_CAP (the
    tail-materialization budget), else None.  The max-length aggregate
    is the one bounded job the distributed loop needs to fix its round
    count: every entry point runs it exactly once and hands max_len to
    its distributed half, so the probe costs nothing extra."""
    cap = _SA_LOCAL_POS_CAP
    ln = F.length("text").cast("long")
    mx, tot, sq = base.agg(F.max(ln), F.sum(ln), F.sum(ln * ln)).first()
    rows = None
    if mx is not None and cap and tot <= cap and sq <= _SA_LOCAL_SQ_CAP:
        rows = [(r[0], r[1]) for r in base.collect()]
    return mx, rows


def _local_suffix_entries(rows):
    """Every (suffix_tail, doc_id, off) of the collected docs, sorted.
    Python str comparison is code-point order, which equals UTF-8 byte
    order — the same total order Spark's UTF8String binary comparator
    and DuckDB's default collation use — and exact-equal tails fall
    through to the (doc_id, off) tuple tail, so index+1 in this list
    IS the distributed chain's dense rank."""
    entries = []
    for did, t in rows:
        entries.extend((t[off:], did, off) for off in range(len(t)))
    entries.sort()
    return entries


def _local_adjacent_lcp(entries, cap: int):
    """Char-level LCP of rank-adjacent suffix heads (first ``cap``
    chars), vectorized: pad heads to a fixed-width code-point matrix,
    find the first mismatching column per adjacent pair, clamp by the
    shorter head (mirrors _lcp_expr, which never compares past
    least(len)).  \\0 padding never inflates an LCP past a real string
    end because of that clamp."""
    import numpy as np

    n = len(entries)
    heads = np.array([e[0][:cap] for e in entries], dtype=f"U{int(cap)}")
    lens = np.fromiter(
        (min(len(e[0]), cap) for e in entries), dtype=np.int64, count=n
    )
    if n < 2:
        zero = np.zeros(n, dtype=np.int64)
        return zero, zero.copy()
    m = np.ascontiguousarray(heads).view(np.uint32).reshape(n, int(cap))
    neq = m[:-1] != m[1:]
    first = np.where(neq.any(axis=1), neq.argmax(axis=1), int(cap))
    pair = np.minimum(first, np.minimum(lens[:-1], lens[1:]))
    lcp_next = np.append(pair, 0)
    lcp_prev = np.insert(pair, 0, 0)
    return lcp_prev, lcp_next


def _local_members(rows, entries, min_len: int, cap: int):
    """ExactSubstr members of the collected corpus: every suffix whose
    adjacent LCP reaches ``min_len``, grouped by its ``min_len``-char
    gram — {gram: sorted [(doc_id, off), ...]}.  Same membership the
    distributed consumers derive (best >= L implies the suffix holds
    at least L chars, so grams are always full-width)."""
    import numpy as np

    lcp_prev, lcp_next = _local_adjacent_lcp(entries, int(cap))
    best = np.maximum(lcp_prev, lcp_next)
    texts = dict(rows)
    L = int(min_len)
    occ: dict = {}
    for i in np.nonzero(best >= L)[0]:
        _, d, o = entries[i]
        occ.setdefault(texts[d][o : o + L], []).append((d, o))
    for sites in occ.values():
        sites.sort()
    return best, occ


def _span_union(offs, L: int) -> int:
    """Union length of the windows [off, off+L) for ascending offs."""
    removed = 0
    end = -1
    for o in offs:
        e = o + L
        s = o if o > end else end
        if e > s:
            removed += e - s
            end = e
    return removed


def global_dense_rank(
    df: DataFrame,
    keys: list[str],
    out: str = "rank",
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense rank over ``keys`` with NO single-partition window:
    range-partition on the keys (equal keys co-locate; partition ids
    ascend with key ranges), dense-rank within each partition, then
    shift by the broadcast cumulative distinct-key count of earlier
    partitions.  Output column ``out`` is 1-based and dense over the
    whole frame; all heavy stages run on every executor.

    The ranged frame is pinned with localCheckpoint BEFORE
    ``spark_partition_id()`` is read: two plan branches consume it
    (the per-row ranks and the per-partition offset counts), and
    ``repartitionByRange`` draws its range boundaries from a sample —
    left unpinned, each branch re-samples independently and the
    recomputed partition ids silently disagree between the offsets
    and the rows they shift (observed: a scrambled permutation on a
    30 k-row frame).  Pinning makes every downstream read see one
    materialized partitioning, so correctness never rides on
    exchange reuse."""
    nparts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(nparts, *[F.col(k) for k in keys])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(k) for k in keys])
    local = part.withColumn("_lrank", F.dense_rank().over(w))
    # per-partition distinct-key counts -> cumulative offsets.  The
    # frame is <= nparts rows: the window below is driver-cheap and
    # the join broadcasts.
    counts = local.groupBy("_pid").agg(F.max("_lrank").alias("_ndist"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_ndist").over(off_w), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_lrank") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrank", "_off")
    )


def suffix_array(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    init_prefix: int = 64,
) -> DataFrame:
    """Suffix array over the per-doc suffixes of ``docs`` by prefix
    doubling.  Returns (doc_id, off, rank): ``rank`` is the 1-based
    position of suffix ``text[off:]`` in the corpus-wide sort order
    (ties between exactly-equal tails broken by (doc_id, off)) — a
    permutation of 1..N, N = total characters.

    Rounds: rank by the ``init_prefix``-char head, then combine
    (rank, rank-at-off+k) for k = init_prefix, 2*init_prefix, ...
    until k covers the longest document.  The LAST round's (rank, _r2)
    already determines the full string order, so the equal-tail
    (doc_id, off) tie-break folds into that round's sort key — the
    finished total order costs no extra rank stage (and a
    distinct-count early-exit probe per round would cost a full job
    to save rounds the fold already subsumes).
    ``init_prefix`` trades rounds against per-round
    shuffle width: ceil(log2(max_doc_len / init_prefix)) + 2 rank
    stages total, each shuffling one (init_prefix .. 8)-byte key per
    position.  At fixture scale 64 halves the stage count vs 16; at
    cluster scale a smaller head keeps the first exchange narrow."""
    base = _doc_slice(docs, id_col, text_col)
    max_len, local_rows = _corpus_probe(base)
    if local_rows is not None:
        import pandas as pd

        entries = _local_suffix_entries(local_rows)
        schema = StructType(
            [
                StructField("doc_id", base.schema["doc_id"].dataType),
                StructField("off", LongType()),
                StructField("rank", LongType()),
            ]
        )
        pdf = pd.DataFrame(
            {
                "doc_id": [d for _, d, _ in entries],
                "off": [o for _, _, o in entries],
                "rank": range(1, len(entries) + 1),
            }
        )
        return docs.sparkSession.createDataFrame(pdf, schema)
    return _suffix_array_dist(base, max_len, init_prefix)


def _suffix_array_dist(base: DataFrame, max_len, init_prefix: int) -> DataFrame:
    """The distributed prefix-doubling half of :func:`suffix_array`
    over the doc slice, with the ``max_len`` its caller's probe already
    aggregated (None: no non-empty doc, an empty result)."""
    if max_len is None:
        return base.select(
            "doc_id", F.lit(0).cast("long").alias("off"), F.lit(0).cast("long").alias("rank")
        ).limit(0)
    suf = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.length("text") - 1)).alias("off"),
        "text",
    ).select(
        "doc_id",
        F.col("off").cast("long").alias("off"),
        F.expr(f"substring(text, off + 1, {int(init_prefix)})").alias("_pfx"),
    )
    cur = global_dense_rank(suf, ["_pfx"]).drop("_pfx")
    if int(init_prefix) >= max_len:
        # no doubling needed: only exact-equal tails still tie
        return global_dense_rank(cur, ["rank", "doc_id", "off"], out="_nrank").select(
            "doc_id", "off", F.col("_nrank").alias("rank")
        )
    k = int(init_prefix)
    while k < max_len:
        last = k * 2 >= max_len
        nxt = cur.select(
            "doc_id", (F.col("off") - k).alias("off"), F.col("rank").alias("_r2")
        )
        paired = cur.join(nxt, ["doc_id", "off"], "left").select(
            "doc_id", "off", "rank", F.coalesce("_r2", F.lit(-1)).alias("_r2")
        )
        if last:
            # the final round's (rank, _r2) covers the whole longest
            # doc, so folding the equal-tail (doc_id, off) tie-break
            # into ITS sort key yields the finished total order in one
            # rank stage instead of a separate pass
            return global_dense_rank(
                paired, ["rank", "_r2", "doc_id", "off"], out="_nrank"
            ).select("doc_id", "off", F.col("_nrank").alias("rank"))
        # lineage is truncated by the checkpoint inside global_dense_rank;
        # the narrow tail (window + broadcast join) re-derives cheaply for
        # the two consumers of the next round
        cur = global_dense_rank(paired, ["rank", "_r2"], out="_nrank").select(
            "doc_id", "off", F.col("_nrank").alias("rank")
        )
        k *= 2
    raise AssertionError("unreachable: the last doubling round returns")


def _lcp_expr(a: str, b: str) -> F.Column:
    """Length of the common prefix of columns ``a`` and ``b`` —
    char-by-char compare via transform + array_position (not-found
    returns 0 in BOTH Spark and DuckDB, so the oracle mirrors this
    expression verbatim with list_transform/list_position).  A NULL
    side (no neighbor at the frame edge) is an explicit 0: Spark's
    ``least`` SKIPS nulls, so without the guard lcp(x, NULL) would
    silently compare x against itself-sized nothing and return > 0."""
    pos = F.expr(
        f"array_position(transform(sequence(1, least(length({a}), length({b}))),"
        f" i -> substring({a}, i, 1) = substring({b}, i, 1)), false)"
    )
    matched = F.when(pos == 0, F.least(F.length(a), F.length(b))).otherwise(pos - 1)
    return F.when(F.col(a).isNull() | F.col(b).isNull(), F.lit(0)).otherwise(matched)


def adjacent_lcp(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap: int = 64,
    init_prefix: int = 64,
) -> DataFrame:
    """(rank, doc_id, off, lcp_prev, lcp_next) per suffix: the length
    (capped at ``cap`` characters) of the common prefix shared with
    the suffix-order predecessor / successor.  A suffix starts a
    duplicated substring of length L <= cap iff
    greatest(lcp_prev, lcp_next) >= L — the ExactSubstr membership
    test.  One join fetches a ``cap``-char head per suffix; one
    equi-join on rank+1 pairs neighbors."""
    base = _doc_slice(docs, id_col, text_col)
    max_len, local_rows = _corpus_probe(base)
    if local_rows is not None:
        import pandas as pd

        entries = _local_suffix_entries(local_rows)
        lcp_prev, lcp_next = _local_adjacent_lcp(entries, int(cap))
        schema = StructType(
            [
                StructField("rank", LongType()),
                StructField("doc_id", base.schema["doc_id"].dataType),
                StructField("off", LongType()),
                StructField("lcp_prev", LongType()),
                StructField("lcp_next", LongType()),
            ]
        )
        pdf = pd.DataFrame(
            {
                "rank": range(1, len(entries) + 1),
                "doc_id": [d for _, d, _ in entries],
                "off": [o for _, _, o in entries],
                "lcp_prev": lcp_prev,
                "lcp_next": lcp_next,
            }
        )
        return docs.sparkSession.createDataFrame(pdf, schema)
    return _adjacent_lcp_dist(docs, base, max_len, id_col, text_col, cap, init_prefix)


def _adjacent_lcp_dist(
    docs: DataFrame, base: DataFrame, max_len, id_col, text_col, cap, init_prefix
) -> DataFrame:
    """The distributed half of :func:`adjacent_lcp`: suffix array, one
    head fetch per suffix, one rank+1 neighbor join."""
    sa = _suffix_array_dist(base, max_len, init_prefix)
    # pinned: consumed twice below (as itself and rank-shifted); the
    # char-compare in lcp_next is the expensive expression, so
    # with_next is pinned too before its second (rank-shifted) read
    heads = (
        sa.join(
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            "doc_id",
        )
        .select(
            "doc_id", "off", "rank", F.expr(f"substring(text, off + 1, {int(cap)})").alias("_head")
        )
        .localCheckpoint()
    )
    nxt = heads.select(
        (F.col("rank") - 1).alias("rank"), F.col("_head").alias("_head_next")
    )
    with_next = (
        heads.join(nxt, "rank", "left")
        .withColumn(
            "lcp_next",
            F.coalesce(_lcp_expr("_head", "_head_next"), F.lit(0)).cast("long"),
        )
        .localCheckpoint()
    )
    prv = with_next.select((F.col("rank") + 1).alias("rank"), F.col("lcp_next").alias("lcp_prev"))
    return (
        with_next.join(prv, "rank", "left")
        .select(
            "rank",
            "doc_id",
            "off",
            F.coalesce("lcp_prev", F.lit(0)).cast("long").alias("lcp_prev"),
            "lcp_next",
        )
    )


def duplicated_spans(
    docs: DataFrame,
    *,
    min_len: int = 20,
    cap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    init_prefix: int = 64,
) -> DataFrame:
    """Per-document exact-duplication profile: for each doc, the
    number of positions whose suffix shares a >= ``min_len``-char
    prefix with a suffix-order neighbor (i.e. starts a substring of
    >= min_len chars occurring >= 2 times anywhere in the corpus,
    this doc included), and the longest such shared prefix observed
    (capped at ``cap``).  Docs with zero duplicated positions are
    omitted.  This is the per-doc rollup of Lee et al.'s ExactSubstr
    span set — the decision input for span excision or doc drop."""
    base = _doc_slice(docs, id_col, text_col)
    mx, rows = _corpus_probe(base)
    if rows is not None:
        import numpy as np
        import pandas as pd

        entries = _local_suffix_entries(rows)
        lcp_prev, lcp_next = _local_adjacent_lcp(entries, int(cap))
        best = np.maximum(lcp_prev, lcp_next)
        idx = np.nonzero(best >= int(min_len))[0]
        pdf = (
            pd.DataFrame(
                {"doc_id": [entries[i][1] for i in idx], "_best": best[idx]}
            )
            .groupby("doc_id", sort=False)
            .agg(
                dup_positions=("_best", "size"), max_dup_len=("_best", "max")
            )
            .reset_index()
        )
        schema = StructType(
            [
                StructField("doc_id", base.schema["doc_id"].dataType),
                StructField("dup_positions", LongType()),
                StructField("max_dup_len", LongType()),
            ]
        )
        return docs.sparkSession.createDataFrame(pdf, schema)
    lcp = _adjacent_lcp_dist(
        docs, base, mx, id_col, text_col, cap, init_prefix
    ).withColumn("_best", F.greatest("lcp_prev", "lcp_next"))
    return (
        lcp.where(F.col("_best") >= min_len)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("dup_positions"),
            F.max("_best").cast("long").alias("max_dup_len"),
        )
    )


def excise_duplicated_spans(
    docs: DataFrame,
    *,
    min_len: int = 20,
    cap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    init_prefix: int = 64,
) -> DataFrame:
    """The cleaning step of Lee et al.'s ExactSubstr, with the paper's
    keep-one-occurrence rule: every corpus-duplicated substring of
    >= ``min_len`` chars is excised from all but its CANONICAL
    occurrence (minimal (doc_id, off) — the existing span-hash
    ``excise_repeated_spans`` removes every occurrence; this keeps
    one, so a sentence quoted a thousand times survives exactly once).

    Membership comes from the suffix-array chain (adjacent-LCP
    >= min_len — exact, no hash collisions); members sharing their
    first ``min_len`` chars form one duplicate cluster (a contiguous
    rank run, equivalently one L-gram's occurrence set — the catalog
    oracle recomputes membership by the SECOND definition, so the
    hash-match cross-validates the whole SA + LCP chain against plain
    gram counting).  A duplicated region of length M >= L is covered
    by its M−L+1 member windows, so the per-doc interval union
    reconstructs full spans, not fixed windows.

    Returns per doc (only docs with >= 1 excised span):
    (doc_id, n_spans_excised, removed_chars, kept_chars) —
    removed_chars is the union length of the non-canonical member
    windows [off, off+min_len); kept_chars = doc length − removed.

    Plan: the LCP frame filters to members, ONE join refetches the
    L-gram, one gram-window picks canonicals, and the union length is
    one per-doc window (doc_id partitions the data, so every stage is
    all-executor).  Skew note: a hyper-duplicated gram (site
    boilerplate repeated millions of times) funnels its occurrences
    through one task in the canonical window; at that scale prefer
    :func:`build_dup_index` + :func:`probe_dup_index`, whose
    count/min aggregation is partial-aggregated (skew-tolerant) and
    whose probe never windows by gram."""
    L = int(min_len)
    probe_base = _doc_slice(docs, id_col, text_col)
    mx, rows = _corpus_probe(probe_base)
    if rows is not None:
        import pandas as pd

        entries = _local_suffix_entries(rows)
        _, occ = _local_members(rows, entries, L, int(cap))
        doc_len = {d: len(t) for d, t in rows}
        excised: dict = {}
        for sites in occ.values():
            for d, o in sites[1:]:  # sites sorted; [0] is canonical
                excised.setdefault(d, []).append(o)
        out = []
        for d, offs in excised.items():
            offs.sort()
            removed = _span_union(offs, L)
            out.append((d, len(offs), removed, doc_len[d] - removed))
        schema = StructType(
            [
                StructField("doc_id", probe_base.schema["doc_id"].dataType),
                StructField("n_spans_excised", LongType()),
                StructField("removed_chars", LongType()),
                StructField("kept_chars", LongType()),
            ]
        )
        pdf = pd.DataFrame(
            out, columns=["doc_id", "n_spans_excised", "removed_chars", "kept_chars"]
        )
        return docs.sparkSession.createDataFrame(pdf, schema)
    lcp = _adjacent_lcp_dist(
        docs, probe_base, mx, id_col, text_col, cap, init_prefix
    ).where(F.greatest("lcp_prev", "lcp_next") >= L)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.length(text_col).cast("long").alias("doc_len"),
    )
    members = lcp.join(base, "doc_id").select(
        "doc_id",
        "off",
        "doc_len",
        F.expr(f"substring(text, off + 1, {L})").alias("_gram"),
    )
    gw = Window.partitionBy("_gram").orderBy("doc_id", "off")
    exc = (
        members.withColumn("_rn", F.row_number().over(gw))
        .where(F.col("_rn") > 1)  # rank 1 = the canonical, kept occurrence
        .select("doc_id", "off", "doc_len")
    )
    dw = (
        Window.partitionBy("doc_id")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = exc.withColumn("_pme", F.max(F.col("off") + L).over(dw)).select(
        "doc_id",
        "doc_len",
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("off") + L) - F.greatest(F.coalesce("_pme", F.col("off")), F.col("off")),
        ).alias("_c"),
    )
    return contrib.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans_excised"),
        F.sum("_c").cast("long").alias("removed_chars"),
        (F.first("doc_len") - F.sum("_c")).cast("long").alias("kept_chars"),
    )


def build_dup_index(
    docs: DataFrame,
    *,
    min_len: int = 20,
    cap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    init_prefix: int = 64,
) -> DataFrame:
    """The reusable output of an ExactSubstr pass: every ``min_len``-
    char substring occurring >= 2 times in the corpus, as
    (gram, n_occ, canon_doc_id, canon_off) rows — membership from the
    suffix-array chain, canonical = minimal (doc_id, off) occurrence.

    This is the dedup analog of the train/apply split the LM and
    classifier families have: run the expensive SA ONCE over the
    existing corpus, persist the index as a distributed Parquet dim
    (write with ``df.write.parquet``, reload with ``spark.read`` — it
    is corpus-sized, so it is never collected, the lm_kn_save rule),
    then screen every NEW batch against it with
    :func:`probe_dup_index` — one equi-join, no suffix array over the
    new data.

    Refresh story: the index is rebuilt by re-running this pass, not
    patched in place — exact incremental maintenance would need the
    count of every SINGLE-occurrence gram too (a new doc can promote
    one to duplicated), i.e. an all-grams-sized table, not this
    duplicated-only dim.  That is a deliberate trade: the MinHash
    index stays incremental because its rows are per-doc signatures;
    here the probe-side semantics only need the (much smaller)
    duplicated set, and the rebuild is the same one-pass SA job."""
    L = int(min_len)
    probe_base = _doc_slice(docs, id_col, text_col)
    mx, rows = _corpus_probe(probe_base)
    if rows is not None:
        import pandas as pd

        entries = _local_suffix_entries(rows)
        _, occ = _local_members(rows, entries, L, int(cap))
        out = [
            (gram, len(sites), sites[0][0], sites[0][1])
            for gram, sites in occ.items()
        ]
        schema = StructType(
            [
                StructField("gram", probe_base.schema["text"].dataType),
                StructField("n_occ", LongType()),
                StructField("canon_doc_id", probe_base.schema["doc_id"].dataType),
                StructField("canon_off", LongType()),
            ]
        )
        pdf = pd.DataFrame(out, columns=["gram", "n_occ", "canon_doc_id", "canon_off"])
        return docs.sparkSession.createDataFrame(pdf, schema)
    lcp = _adjacent_lcp_dist(
        docs, probe_base, mx, id_col, text_col, cap, init_prefix
    ).where(F.greatest("lcp_prev", "lcp_next") >= L)
    members = lcp.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        "doc_id",
    ).select("doc_id", "off", F.expr(f"substring(text, off + 1, {L})").alias("gram"))
    return members.groupBy("gram").agg(
        F.count("*").cast("long").alias("n_occ"),
        F.min(F.struct("doc_id", "off")).alias("_c"),
    ).select(
        "gram",
        "n_occ",
        F.col("_c.doc_id").alias("canon_doc_id"),
        F.col("_c.off").cast("long").alias("canon_off"),
    )


def probe_dup_index(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    min_len: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental ExactSubstr screening: profile each NEW document
    against a persisted :func:`build_dup_index` — every position whose
    ``min_len``-gram the index knows is a duplicated-vs-corpus span
    start.  Returns (doc_id, n_hit_positions, covered_chars, dup_frac)
    for docs with >= 1 hit: ``covered_chars`` is the interval union of
    the hit windows (consecutive hits reconstruct full spans),
    ``dup_frac`` = covered / doc length — the drop/excise decision
    input.  ONE equi-join on the gram (the new batch's grams shuffle
    once; the index is a plain Parquet scan — no suffix array over
    new data, no rescan of the old corpus)."""
    L = int(min_len)
    base = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.length(text_col).cast("long").alias("doc_len"),
    ).where(F.length("text") >= L)
    grams = base.select(
        "doc_id",
        "doc_len",
        F.explode(F.sequence(F.lit(0), F.length("text") - L)).alias("off"),
        "text",
    ).select(
        "doc_id",
        "doc_len",
        F.col("off").cast("long").alias("off"),
        F.expr(f"substring(text, off + 1, {L})").alias("gram"),
    )
    hits = grams.join(index.select("gram"), "gram")
    dw = (
        Window.partitionBy("doc_id")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = hits.withColumn("_pme", F.max(F.col("off") + L).over(dw)).select(
        "doc_id",
        "doc_len",
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("off") + L) - F.greatest(F.coalesce("_pme", F.col("off")), F.col("off")),
        ).alias("_c"),
    )
    return contrib.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hit_positions"),
        F.sum("_c").cast("long").alias("covered_chars"),
        (F.sum("_c") / F.first("doc_len")).alias("dup_frac"),
    )
