"""Training-data-pipeline queries: dedup, similarity search, text
analysis, corpus curation, quality filters.

Split from the monolithic catalog.py (round 5): registration
side-effects only — query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import (  # shared underscore helpers
    _CCNET_BKT_SQL,
    _CCNET_LM_SQL,
    _GOPHER_KEEP_QUALITY_SQL,
    _GOPHER_SIGNALS_SQL,
    _LANGID_D,
    _LANGID_ITERS,
    _ccnet_keep,
    _kn3_coc_sql,
    _kn_order_parts,
    _kn_tower_parts,
    _langid_corpus,
    _langid_ctes,
    _langid_feats,
    _langid_langs,
    _langid_margins_sql,
    _langid_models,
    _langid_packed,
    _langid_pred_sql,
    _langid_scores,
    _ppl_terciles,
    _r,
)


# ============================================================ dedup (pipeline)


@register(
    "dedup_exact_docs",
    """WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 25 = 0)
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS dup_count,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM corpus GROUP BY 1 HAVING count(*) > 1""",
)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup: content-hash groups with more than one doc.

    The driver fixture has no byte-identical texts, so the oracle
    would be trivially satisfied on 0 rows; plant exact copies in the
    query's slice (the r6 dhash recipe): every doc_id % 5 == 0 gets
    one copy (+1e6) and every % 25 == 0 a second (+2e6), so the
    output carries both dup_count == 2 and == 3 groups with keep_id
    always the original."""
    base = docs(spark, sf_dir).select("doc_id", "text")
    copy1 = base.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    copy2 = base.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    corpus = base.unionByName(copy1).unionByName(copy2)
    return exact_duplicates(corpus).select(
        "text_hash", F.col("dup_count").cast("bigint").alias("dup_count"), F.col("keep_id").cast("bigint").alias("keep_id")
    )


@register(
    "dedup_repeated_spans",
    r"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents),
g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(toks[i+1:i+8], ' ') AS gram
      FROM d, unnest(range(0, greatest(len(toks) - 7, 0))) AS t(i)),
rep AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
SELECT doc_id, pos, g.gram, n_docs FROM g JOIN rep USING (gram)""",
)
def dedup_repeated_spans(spark, sf_dir):
    """Span-level exact dedup (Lee et al. suffix-array substring dedup,
    re-expressed): every position of an 8-token sequence recurring in
    ≥2 distinct docs, with its corpus document frequency.  Hash-agg +
    equi-join — no suffix array, no all-pairs."""
    from opentsdb_aura_spark.operators.dedup_text import repeated_ngram_spans

    return repeated_ngram_spans(docs(spark, sf_dir), n=8, min_docs=2)


@register(
    "dedup_span_excise",
    r"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents),
g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(toks[i+1:i+8], ' ') AS gram
      FROM d, unnest(range(0, greatest(len(toks) - 7, 0))) AS t(i)),
rep AS (SELECT gram FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
sp AS (SELECT doc_id, pos FROM g JOIN rep USING (gram)),
tokpos AS (SELECT doc_id, CAST(i AS BIGINT) AS i, toks[i+1] AS tok
           FROM d, unnest(range(0, len(toks))) AS t(i)),
keep AS (SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp
         WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = tp.doc_id
                           AND sp.pos <= tp.i AND tp.i < sp.pos + 8)),
agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM keep GROUP BY 1)
SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
       CAST(len(d.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM d LEFT JOIN agg a USING (doc_id)""",
)
def dedup_span_excise(spark, sf_dir):
    """Span excision (Lee et al. cleaning step): strip every token
    covered by a corpus-repeated 8-gram; returns the reassembled
    token stream and the removed-token count per document."""
    from opentsdb_aura_spark.operators.dedup_text import excise_repeated_spans

    return excise_repeated_spans(docs(spark, sf_dir), n=8, min_docs=2)


def _shingle_jaccard_sql(thr: float) -> str:
    """Every doc pair whose exact 3-word-shingle Jaccard is >= thr."""
    return f"""{ORACLE_SHINGLES},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {thr}"""


@register(
    "dedup_ngram_jaccard",
    _shingle_jaccard_sql(0.2),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup detection: 3-word-shingle Jaccard ≥ 0.2 pairs."""
    res = ngram_jaccard_pairs(docs(spark, sf_dir), n=3, threshold=0.2)
    return res.select("doc_a", "doc_b", _r("jaccard", 6).alias("jaccard"))


@register("dedup_minhash_lsh")  # hash-dependent candidates: rows-only check
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates at estimated Jaccard ≥ 0.5 —
    the ``jaccard`` column is the MinHash signature estimate (matching
    permutation mins / k, σ ≈ 0.09 at J=0.5, k=32), not an exact
    re-verification; pass ``exact_verify=True`` for that."""
    res = minhash_lsh_candidates(docs(spark, sf_dir), num_perm=32, bands=8, threshold=0.5)
    return res.select("doc_a", "doc_b", _r("jaccard", 6).alias("jaccard"))


@register(
    "dedup_minhash_lsh_exact",
    _shingle_jaccard_sql(0.5),
)
def dedup_minhash_lsh_exact(spark, sf_dir):
    """The flagship dedup path, hash-checked: MinHash-LSH candidates
    re-verified on EXACT shingle Jaccard (``exact_verify=True``
    semi-joins candidate docs and re-explodes their shingle sets —
    never O(n²)).  With 1-row bands (bands = num_perm = 32) a pair
    collides iff any permutation min agrees, so on this corpus every
    exact-Jaccard ≥ 0.5 pair is banded (verified at sf0.001 and
    sf0.01) and the output equals the SQL-expressible set of pairs
    with exact 3-word-shingle Jaccard ≥ 0.5 — upgrading the LSH
    surface from rows-only to a value-hash oracle while the default
    approximate path (``dedup_minhash_lsh``) stays untouched.

    Known recall epsilon: the binomial signature pre-filter drops
    banded candidates sharing < 3 of 32 permutation mins before the
    exact re-explode; a TRUE Jaccard ≥ 0.5 pair lands below that
    cutoff with P(Binom(32, 0.5) ≤ 2) ≈ 1.2e-7 per pair
    (``_estimate_prefilter_cutoff``, delta=1e-6).  On a new corpus/SF
    an oracle mismatch of a single missing pair is therefore the
    documented tail event, not an engine bug — triage by re-running
    with ``prefilter=False`` before suspecting the join."""
    res = minhash_lsh_candidates(
        docs(spark, sf_dir), num_perm=32, bands=32, threshold=0.5, exact_verify=True
    )
    return res.select("doc_a", "doc_b", _r("jaccard", 6).alias("jaccard"))


@register("dedup_simhash")  # hash-dependent: rows-only check
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 3) via bit-band candidates."""
    return simhash_near_pairs(docs(spark, sf_dir), max_hamming=3)


_MD5_WORD = (
    "list_reduce(list_transform(str_split({src}, ''), "
    "c -> strpos('0123456789abcdef', c) - 1), (a, x) -> a * 16 + x)"
)

@register(
    "dedup_simhash_md5",
    f"""WITH d AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '') AS toks
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
h AS (SELECT doc_id,
        {_MD5_WORD.format(src="substr(md5(t), 1, 8)")} AS lo,
        {_MD5_WORD.format(src="substr(md5(t), 9, 8)")} AS hi
      FROM tok),
b AS (SELECT doc_id, bb,
        CASE WHEN sum(CASE WHEN (CASE WHEN bb < 32 THEN lo >> bb
                                      ELSE hi >> (bb - 32) END) & 1 = 1
                      THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END AS bit
      FROM h, (SELECT unnest(range(0, 64)) AS bb) GROUP BY doc_id, bb),
fp AS (SELECT doc_id, string_agg(bit, '' ORDER BY bb) AS fbits FROM b GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         len(list_filter(range(1, 65), k -> substr(a.fbits, k, 1) != substr(c.fbits, k, 1))) AS hamming
  FROM fp a JOIN fp c ON a.doc_id < c.doc_id)
SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming FROM pairs WHERE hamming <= 3""",
)
def dedup_simhash_md5(spark, sf_dir):
    """SimHash with a FULL value-hash oracle: md5-derived 64-bit token
    hashes (the cross-engine determinism trick — DuckDB recomputes the
    identical fingerprint from the first 16 md5 hex chars), and at 4
    16-bit bands with Hamming ≤ 3 the banded join is EXHAUSTIVE by
    pigeonhole, so the output is exactly every pair at Hamming ≤ 3 —
    the oracle self-joins the SQL-derived fingerprints with a
    character-diff Hamming.  The default xxhash64 path
    (``dedup_simhash``) keeps its rows-only pigeonhole bound; this
    twin proves the whole SimHash pipeline (tokenize → per-bit signed
    sums → fingerprint assembly → banding → Hamming filter)
    value-exactly."""
    return simhash_near_pairs(docs(spark, sf_dir), max_hamming=3, token_hash="md5")
# ============================================================ similarity search


_ANN_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         list_sum(list_transform(range(1, len(qv)+1),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * x)))
            * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * x)))) AS cs
  FROM q, c WHERE query_id != neighbor_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn FROM s)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim FROM r WHERE rn <= 5"""


@register("ann_cosine_topk", _ANN_ORACLE)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for 20 query vectors."""
    e = embs(spark, sf_dir)
    res = brute_force_topk(e, e.where(F.col("vec_id") < 20), k=5)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))


@register("ann_lsh_topk")  # approximate: recall < 1 → rows-only check
def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate cosine top-5 (the 100 TB scale path)."""
    e = embs(spark, sf_dir)
    res = lsh_topk(e, e.where(F.col("vec_id") < 20), k=5, dim=64)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))


@register("ann_lsh_exact_topk", _ANN_ORACLE)
def ann_lsh_exact_topk(spark, sf_dir):
    """LSH machinery under a FULL value-hash oracle: the same IVF
    trick as ``ann_ivf_topk`` (full probe ≡ exact) applied to LSH —
    n_planes=0 is a 0-bit sign pattern, so every vector hashes to
    bucket 0, the (table, bucket) equi-join is exhaustive, and the
    output equals ``brute_force_topk`` exactly.  Every stage the
    approximate path uses — bucket explode, bucket join, candidate
    dedup, cosine scoring, the top-k window — runs verbatim, so the
    exact-ANN oracle now checks the whole LSH pipeline; only the
    recall of nonzero-plane bucketing stays rows-only-bounded
    (``ann_lsh_topk``'s recall test)."""
    e = embs(spark, sf_dir)
    res = lsh_topk(e, e.where(F.col("vec_id") < 20), k=5, dim=64, n_planes=0, n_tables=1)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))


@register("ann_ivf_topk", _ANN_ORACLE)
def ann_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) cosine top-5: sampled spherical-k-means
    lists, Arrow-batched centroid assignment, nprobe probing.  Probing
    ALL lists here makes it exhaustive, so the exact-ANN oracle
    applies; production sets nprobe ≪ n_centroids."""
    from opentsdb_aura_spark.operators.similarity import ivf_topk

    e = embs(spark, sf_dir)
    res = ivf_topk(e, e.where(F.col("vec_id") < 20), k=5, n_centroids=8, nprobe=8)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))


def _cached_index(path: str, build) -> None:
    """Build the at-rest index at ``path`` once, for every process that
    shares STORE_ROOT: ``build`` writes into a tmp sibling, which gets a
    top-level ``_SUCCESS`` and is renamed into place whole, so no reader
    sees a partial index and a finished one is reused."""
    import os

    from opentsdb_aura_spark.sources.batch import _atomic_build

    def build_marked(tmp: str) -> None:
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    _atomic_build(build_marked, path)


@register("ann_ivf_index_topk", _ANN_ORACLE)
def ann_ivf_index_topk(spark, sf_dir):
    """IVF with the index AT REST: centroids + list-partitioned
    vectors persisted once (`build_ivf_index`), then searched via
    `ivf_search_index` — the probed list ids (≤ n_centroids values)
    push down as an isin partition filter, so a production probe scans
    only nprobe/n_centroids of the corpus directories.  Full probe
    here → exhaustive → the exact-ANN oracle applies."""
    import os

    from opentsdb_aura_spark.operators.similarity import build_ivf_index, ivf_search_index
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    base = os.path.basename(os.path.normpath(sf_dir))
    # params in the dir name: changed build parameters land in a fresh
    # dir instead of silently reading a stale index; the whole root is
    # version-rmtree'd with the event store on layout changes
    path = os.path.join(STORE_ROOT, base, "ivf_index_c8_v2")
    _cached_index(path, lambda tmp: build_ivf_index(embs(spark, sf_dir), tmp, n_centroids=8))
    q = embs(spark, sf_dir).where(F.col("vec_id") < 20)
    res = ivf_search_index(spark, path, q, k=5, nprobe=8)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))

@register("ann_pq_topk")  # approximate: quantization error → rows-only check
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC cosine top-5 — the third production
    ANN path (LSH buckets / IVF lists / PQ codes): 64-d float vectors
    compress to 8 codes, every corpus score is 8 LUT gathers + a sum
    over CODES ONLY, so a 100 TB vector corpus is searched from ~1/32
    of its bytes.  Shortlist quality is bounded in
    test_pq_recall_bound_and_query_cap (recall@20 >= 0.9 over exact
    top-5); the storage layer's exactness is value-hash-proven by the
    grid twin ann_pq_exact_topk."""
    from opentsdb_aura_spark.operators.similarity import pq_adc_topk, pq_encode, pq_train

    e = embs(spark, sf_dir)
    cbs = pq_train(e, m=8, k=16)
    codes = pq_encode(e, cbs)
    res = pq_adc_topk(codes, e.where(F.col("vec_id") < 20), cbs, k=5)
    return res.select("query_id", "neighbor_id", _r("pq_score", 6).alias("pq_score"))


@register("ann_pq_recall")  # rows-only: the recall metric IS the result
def ann_pq_recall(spark, sf_dir):
    """Driver-visible quality attestation for the trained PQ path:
    returns recall@50 of the trained ADC shortlist against the exact
    cosine top-10 as a single result row, so the quantitative ANN
    claim is re-checked every driver rotation (not only in scale
    logs).  Bound asserted in test_rows_only_bounds.py."""
    from opentsdb_aura_spark.operators.similarity import (
        ann_recall_vs_exact,
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    e = embs(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20)
    cbs = pq_train(e, m=8, k=16)
    approx = pq_adc_topk(pq_encode(e, cbs), q, cbs, k=50)
    exact = brute_force_topk(e, q, k=10)
    return ann_recall_vs_exact(exact, approx, k_exact=10, k_approx=50)


@register("ann_ivfpq_recall")  # rows-only: the recall metric IS the result
def ann_ivfpq_recall(spark, sf_dir):
    """Driver-visible quality attestation for the trained IVF-PQ
    (IVFADC) path at its SERVED config (nprobe=4 of 8 lists): recall@50
    of the pruned+quantized shortlist against the exact cosine top-10,
    as a result row.  Bound asserted in test_rows_only_bounds.py."""
    from opentsdb_aura_spark.operators.similarity import (
        ann_recall_vs_exact,
        brute_force_topk,
        ivfpq_topk,
    )

    e = embs(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20)
    approx = ivfpq_topk(e, q, k=50, n_centroids=8, nprobe=4, m=8, pq_k=16)
    exact = brute_force_topk(e, q, k=10)
    return ann_recall_vs_exact(exact, approx, k_exact=10, k_approx=50)


# Cosine of every (query, corpus) pair over the grid-quantized vectors
# (254 levels per dimension), the head of the grid-PQ oracles.
_GRID_COS_SQL = """WITH g AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           greatest(least(CAST(floor((CAST(x AS DOUBLE) + 1.0) / 2.0 * 254.0 + 0.5) AS BIGINT),
                          254), 0)
           * (2.0 / 254.0) - 1.0) AS v
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM g WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, v AS cv FROM g),
s AS (
  SELECT query_id, neighbor_id,
         list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * cv[i]))
         / (sqrt(list_sum(list_transform(qv, x -> x * x)))
            * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cs
  FROM q, c WHERE query_id != neighbor_id)"""


@register(
    "ann_pq_exact_topk",
    _GRID_COS_SQL
    + """,
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn FROM s)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim FROM r WHERE rn <= 5""",
)
def ann_pq_exact_topk(spark, sf_dir):
    """The PQ storage layer under a FULL value-hash oracle — the same
    degenerate-config trick as the IVF full-probe and 0-plane LSH
    twins: every dimension is its own subspace with a UNIFORM-GRID
    codebook, so encoding is a closed-form floor map (bit-identical on
    both engines — argmin tie-breaking never enters), decoding is
    affine, and searching the decoded corpus must equal a DuckDB
    recomputation of cosine top-5 over the identically-quantized
    vectors.  Codes → decode → search proves the whole
    quantize/store/reconstruct path value-exactly; the trained-ADC
    path keeps its recall bound (ann_pq_topk)."""
    from opentsdb_aura_spark.operators.similarity import (
        brute_force_topk,
        grid_decode,
        grid_quantize_vectors,
    )

    e = embs(spark, sf_dir)
    deq = grid_decode(grid_quantize_vectors(e))
    res = brute_force_topk(deq, deq.where(F.col("vec_id") < 20), k=5)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))



@register("ann_pq_rerank_topk")  # approximate shortlist: rows-only, bound-tested
def ann_pq_rerank_topk(spark, sf_dir):
    """The standard two-stage ANN serving shape: trained PQ-ADC
    shortlists top-50 from CODES ONLY, then exact cosine re-ranks the
    shortlist pairs over the float vectors (touched for nq × 50 rows,
    never a scan).  Rerank can only improve shortlist ordering —
    bound asserted in test_rows_only_bounds.py; the composition
    itself is value-hash-proven by ann_pq_rerank_exact_topk."""
    from opentsdb_aura_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
        shortlist_rerank,
    )

    e = embs(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20)
    cbs = pq_train(e, m=8, k=16)
    short = pq_adc_topk(pq_encode(e, cbs), q, cbs, k=50)
    res = shortlist_rerank(e, q, short, k=5)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))


@register(
    "ann_pq_rerank_exact_topk",
    _GRID_COS_SQL
    + """,
short AS (
  SELECT query_id, neighbor_id FROM
    (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn FROM s)
  WHERE rn <= 50),
rq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
rc AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
ex AS (
  SELECT sh.query_id, sh.neighbor_id,
         list_sum(list_transform(range(1, len(qe)+1),
                  i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * x)))
            * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * x)))) AS cs
  FROM short sh JOIN rq USING (query_id) JOIN rc USING (neighbor_id)),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn FROM ex)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim FROM r WHERE rn <= 5""",
)
def ann_pq_rerank_exact_topk(spark, sf_dir):
    """Shortlist→rerank under a FULL value-hash oracle: the shortlist
    is the grid twin's quantized cosine top-50 (closed-form codes, so
    SQL re-derives it exactly) and the rerank recomputes exact cosine
    over the raw floats for those pairs only — proving the whole
    two-stage composition (shortlist membership, float re-join,
    re-ordering, final top-5) value-exactly.  The trained path keeps
    its recall bound (ann_pq_rerank_topk)."""
    from opentsdb_aura_spark.operators.similarity import (
        brute_force_topk,
        grid_decode,
        grid_quantize_vectors,
        shortlist_rerank,
    )

    e = embs(spark, sf_dir)
    deq = grid_decode(grid_quantize_vectors(e))
    short = brute_force_topk(deq, deq.where(F.col("vec_id") < 20), k=50)
    res = shortlist_rerank(e, e.where(F.col("vec_id") < 20), short, k=5)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))


@register(
    "ann_ivfpq_rerank_exact_topk",
    ORACLES["ann_pq_rerank_exact_topk"],
)
def ann_ivfpq_rerank_exact_topk(spark, sf_dir):
    """At-rest shortlist → exact re-rank under the FULL oracle: the
    persisted grid IVFADC index serves the top-50 shortlist (full
    probe → ≡ cosine over quantized vectors, codes read from the
    list-partitioned index — floats never touched at shortlist time),
    then shortlist_rerank recomputes exact cosine over the raw
    embeddings for those pairs only.  ann_pq_rerank_exact_topk's
    oracle applies verbatim (identical quantized top-50 by
    construction), so the persist → probe → re-join → re-rank chain
    is value-hash-proven end-to-end."""
    import os

    from opentsdb_aura_spark.operators.similarity import (
        build_ivfpq_index,
        grid_decode,
        grid_quantize_vectors,
        ivfpq_search_index,
        shortlist_rerank,
    )
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(STORE_ROOT, base, "ivfpq_index_grid_c8_v2")
    e = embs(spark, sf_dir)
    _cached_index(path, lambda tmp: build_ivfpq_index(e, tmp, n_centroids=8, grid=True))
    dq_queries = grid_decode(grid_quantize_vectors(e.where(F.col("vec_id") < 20)))
    short = ivfpq_search_index(spark, path, dq_queries, k=50, nprobe=8)
    res = shortlist_rerank(e, e.where(F.col("vec_id") < 20), short, k=5)
    return res.select("query_id", "neighbor_id", _r("cos_sim", 6).alias("cos_sim"))


@register("ann_ivfpq_topk")  # approximate: pruning + quantization → rows-only
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (the IVFADC serving architecture): IVF lists bound WHICH
    vectors a query scores (nprobe/n_centroids of the corpus), PQ
    codes bound WHAT is read per vector (m bytes, not 4d floats) — the
    combined shape a 100 TB vector store actually serves from.
    Shortlist quality bounded in test_ivfpq_trained_recall; the exact
    twin is ann_ivfpq_exact_topk."""
    from opentsdb_aura_spark.operators.similarity import ivfpq_topk

    e = embs(spark, sf_dir)
    res = ivfpq_topk(e, e.where(F.col("vec_id") < 20), k=5, n_centroids=8, nprobe=4, m=8, pq_k=16)
    return res.select("query_id", "neighbor_id", _r("pq_score", 6).alias("pq_score"))


@register("ann_ivfpq_residual_topk")  # approximate: residual quantization → rows-only
def ann_ivfpq_residual_topk(spark, sf_dir):
    """The faithful Jégou et al. §IV IVFADC: codes encode the RESIDUAL
    x − c_list, so quantization noise spans the within-cluster spread
    instead of the whole space.  Scoring stays LUT gathers (q·c and
    c·d̂ lookup terms ride along); same bytes/vector, same probe
    pruning.  Quality: score-error tightening vs raw codes and the
    recall bound are asserted in
    test_ivfpq_residual_tightens_quantization_error; the scoring math
    is golden-checked against direct reconstruction cosine at 1e-12."""
    from opentsdb_aura_spark.operators.similarity import ivfpq_topk

    e = embs(spark, sf_dir)
    res = ivfpq_topk(
        e, e.where(F.col("vec_id") < 20), k=5,
        n_centroids=8, nprobe=4, m=8, pq_k=16, residual=True,
    )
    return res.select("query_id", "neighbor_id", _r("pq_score", 6).alias("pq_score"))


@register(
    "ann_ivfpq_exact_topk",
    ORACLES["ann_pq_exact_topk"],
)
def ann_ivfpq_exact_topk(spark, sf_dir):
    """IVF-PQ under the FULL value-hash oracle: probing ALL lists with
    the closed-form grid codebooks (and grid-quantized queries) makes
    the whole pipeline — list assignment, probe pruning, code gather,
    ADC scoring — produce EXACTLY cosine top-5 over the quantized
    vectors, so ann_pq_exact_topk's DuckDB oracle applies verbatim.
    Every stage the approximate path uses runs here unchanged; only
    nprobe < n_centroids pruning keeps its recall bound."""
    from opentsdb_aura_spark.operators.similarity import (
        grid_decode,
        grid_quantize_vectors,
        ivfpq_topk,
    )

    e = embs(spark, sf_dir)
    dq_queries = grid_decode(grid_quantize_vectors(e.where(F.col("vec_id") < 20)))
    res = ivfpq_topk(e, dq_queries, k=5, n_centroids=8, nprobe=8, grid=True)
    return res.select(
        "query_id", "neighbor_id", _r("pq_score", 6).alias("cos_sim")
    )



@register(
    "ann_pq_index_topk",
    ORACLES["ann_pq_exact_topk"],
)
def ann_pq_index_topk(spark, sf_dir):
    """PQ with the index AT REST under the FULL value-hash oracle:
    grid codebooks + corpus codes persisted once (`build_pq_index`,
    _SUCCESS-gated like the IVF index), then searched from the CODES
    table alone (`pq_search_index` — float vectors never read at serve
    time).  Grid codes are lossless for grid-decoded queries, so the
    result equals cosine top-5 over the quantized vectors and
    ann_pq_exact_topk's DuckDB oracle applies verbatim — proving the
    persist → read-back → ADC chain, not just the in-memory path."""
    import os

    from opentsdb_aura_spark.operators.similarity import (
        build_pq_index,
        grid_decode,
        grid_quantize_vectors,
        pq_search_index,
    )
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(STORE_ROOT, base, "pq_index_grid_v2")
    _cached_index(path, lambda tmp: build_pq_index(embs(spark, sf_dir), tmp, grid=True))
    e = embs(spark, sf_dir)
    dq_queries = grid_decode(grid_quantize_vectors(e.where(F.col("vec_id") < 20)))
    res = pq_search_index(spark, path, dq_queries, k=5)
    return res.select("query_id", "neighbor_id", _r("pq_score", 6).alias("cos_sim"))



@register(
    "ann_ivfpq_index_topk",
    ORACLES["ann_pq_exact_topk"],
)
def ann_ivfpq_index_topk(spark, sf_dir):
    """The COMPLETE IVFADC serving stack at rest under the FULL
    value-hash oracle: coarse centroids + PQ codebooks + list-
    partitioned codes persisted once (`build_ivfpq_index`), served by
    `ivfpq_search_index` — probed list ids prune PARTITIONS of the
    codes table (asserted in tests), floats never read at serve time.
    Grid codebooks + full probe make the result equal cosine top-5
    over the quantized vectors, so the PQ exact twin's oracle applies
    verbatim; production sets nprobe << n_centroids and keeps the
    recall bound."""
    import os

    from opentsdb_aura_spark.operators.similarity import (
        build_ivfpq_index,
        grid_decode,
        grid_quantize_vectors,
        ivfpq_search_index,
    )
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(STORE_ROOT, base, "ivfpq_index_grid_c8_v2")
    _cached_index(path, lambda tmp: build_ivfpq_index(embs(spark, sf_dir), tmp, n_centroids=8, grid=True))
    e = embs(spark, sf_dir)
    dq_queries = grid_decode(grid_quantize_vectors(e.where(F.col("vec_id") < 20)))
    res = ivfpq_search_index(spark, path, dq_queries, k=5, nprobe=8)
    return res.select("query_id", "neighbor_id", _r("pq_score", 6).alias("cos_sim"))


# ============================================================ text analysis


@register(
    "text_token_stats",
    """SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '')) AS BIGINT) AS n_tokens,
       CAST(strlen(text) AS BIGINT) AS n_bytes
FROM documents""",
)
def text_token_stats(spark, sf_dir):
    """Token + byte counts per document."""
    return token_stats(docs(spark, sf_dir))


@register(
    "text_quality",
    """SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0 / len(toks) END, 6) AS stopword_ratio,
       round(CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks) END, 6) AS mean_token_len
FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '') AS toks FROM documents)""",
)
def text_quality(spark, sf_dir):
    """Quality signals: stopword ratio, mean token length."""
    res = quality_scores(docs(spark, sf_dir))
    return res.select(
        "doc_id",
        "n_tokens",
        _r("stopword_ratio", 6).alias("stopword_ratio"),
        _r("mean_token_len", 6).alias("mean_token_len"),
    )


@register(
    "text_lang_id",
    """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '') AS toks FROM documents),
s AS (SELECT doc_id,
        len(list_filter(toks, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
        len(list_filter(toks, x -> list_contains(['the','and','of','to','is'], x))) AS s_en,
        len(list_filter(toks, x -> list_contains(['el','la','los','es','de'], x))) AS s_es,
        len(list_filter(toks, x -> list_contains(['le','la','les','est','et'], x))) AS s_fr,
        len(list_filter(toks, x -> list_contains(['de','shi','le','zai','he'], x))) AS s_zh
      FROM t)
SELECT doc_id,
  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       WHEN s_fr >= s_zh THEN 'fr'
       ELSE 'zh' END AS pred_lang,
  CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS BIGINT) AS score
FROM s""",
)
def text_lang_id(spark, sf_dir):
    """Heuristic language ID with deterministic tie-break."""
    return lang_id(docs(spark, sf_dir))


_PII = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}

# deterministic PII injection: the synthetic corpus has no PII, so the
# query plants one email/IP/SSN/phone per doc by a SQL-expressible rule
# (same trick as the BMP decode proof) — the scrub only hash-matches if
# masks land at exactly the right spans
_PII_INJECT_SQL = (
    "substr(text, 1, 60) || ' reach user' || doc_id || '@mail-' || (doc_id % 7) || "
    "'.com ip ' || (doc_id % 155 + 100) || '.' || (doc_id % 256) || '.0.' || (doc_id % 254 + 1) || "
    "' ssn ' || (doc_id % 900 + 100) || '-' || lpad((doc_id % 100)::VARCHAR, 2, '0') || '-' || "
    "lpad((doc_id % 10000)::VARCHAR, 4, '0') || "
    "' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' || "
    "lpad((doc_id % 10000)::VARCHAR, 4, '0')"
)

_PII_ORACLE = (
    "WITH d0 AS (SELECT doc_id, " + _PII_INJECT_SQL + " AS t FROM documents),\n"
    "s1 AS (SELECT doc_id, CAST(len(regexp_extract_all(t, '" + _PII["email"] + "')) AS BIGINT) AS n_email,\n"
    "       regexp_replace(t, '" + _PII["email"] + "', '<EMAIL>', 'g') AS t FROM d0),\n"
    "s2 AS (SELECT doc_id, n_email, CAST(len(regexp_extract_all(t, '" + _PII["ip"] + "')) AS BIGINT) AS n_ip,\n"
    "       regexp_replace(t, '" + _PII["ip"] + "', '<IP>', 'g') AS t FROM s1),\n"
    "s3 AS (SELECT doc_id, n_email, n_ip, CAST(len(regexp_extract_all(t, '" + _PII["ssn"] + "')) AS BIGINT) AS n_ssn,\n"
    "       regexp_replace(t, '" + _PII["ssn"] + "', '<SSN>', 'g') AS t FROM s2),\n"
    "s4 AS (SELECT doc_id, n_email, n_ip, n_ssn, CAST(len(regexp_extract_all(t, '" + _PII["phone"] + "')) AS BIGINT) AS n_phone,\n"
    "       regexp_replace(t, '" + _PII["phone"] + "', '<PHONE>', 'g') AS t FROM s3)\n"
    "SELECT doc_id, t AS scrubbed, n_email, n_ip, n_ssn, n_phone FROM s4"
)


@register("pii_scrub_docs", _PII_ORACLE)
def pii_scrub_docs(spark, sf_dir):
    """PII masking over the corpus: emails, IPv4s, SSN-shaped and
    phone-shaped numbers replaced by typed mask tokens, with per-rule
    counts taken over the progressively-scrubbed text.  Pure
    regexp_count/regexp_replace map stage — no shuffle, no Python."""
    from opentsdb_aura_spark.operators.text import pii_scrub

    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    injected = F.concat(
        F.substring(F.col("text"), 1, 60),
        F.lit(" reach user"), s(d), F.lit("@mail-"), s(d % 7), F.lit(".com ip "),
        s(d % 155 + 100), F.lit("."), s(d % 256), F.lit(".0."), s(d % 254 + 1),
        F.lit(" ssn "), s(d % 900 + 100), F.lit("-"), F.lpad(s(d % 100), 2, "0"),
        F.lit("-"), F.lpad(s(d % 10000), 4, "0"),
        F.lit(" call 555-"), F.lpad(s(d % 1000), 3, "0"), F.lit("-"), F.lpad(s(d % 10000), 4, "0"),
    )
    return pii_scrub(docs(spark, sf_dir).withColumn("text", injected))
# ============================================================ corpus curation (pipeline)


def _md5_bucket_sql(key_expr: str, salt: str) -> str:
    """DuckDB replica of corpus.det_hash_bucket: first 8 md5 hex chars
    → int via fold, mod 1,000,000."""
    return (
        f"list_reduce(list_transform(str_split(substr(md5({key_expr} || ':{salt}'), 1, 8), ''), "
        "c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b) % 1000000"
    )


_ORACLE_TC = """tc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tc
      FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '')) AS token
            FROM documents)
      GROUP BY 1, 2)"""


_MD5_U52_SQL = (
    "list_reduce(list_transform(str_split(substr(md5(doc_id || ':wsample'), 1, 13), ''), "
    "c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)"
)


@register(
    "pipeline_weighted_sample",
    f"""WITH h AS (SELECT doc_id, source, n_chars, {_MD5_U52_SQL} AS hv FROM documents),
k AS (SELECT doc_id, source,
             pow((hv + 1.0) / 4503599627370498.0, 1.0 / n_chars) AS sk
      FROM h WHERE n_chars > 0),
r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY sk DESC, doc_id) AS rn
      FROM k)
SELECT doc_id, source, round(sk, 10) AS sample_key FROM r WHERE rn <= 5""",
)
def pipeline_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES over md5 uniforms), 5 docs per source weighted by
    length — the one-pass rank-filter that importance-resampling
    pipelines (e.g. over DSIR weights) need; deterministic uniforms
    make the EXACT sample reproducible engine-to-engine, hence the SQL
    oracle."""
    from opentsdb_aura_spark.operators.corpus import weighted_sample

    d = docs(spark, sf_dir)
    out = weighted_sample(d, 5, F.col("n_chars").cast("double"), group_col="source")
    return out.select("doc_id", "source", _r("sample_key", 10).alias("sample_key"))


@register(
    "pipeline_split_assign",
    f"""SELECT doc_id,
       CASE WHEN b < 800000 THEN 'train'
            WHEN b < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, {_md5_bucket_sql("doc_id", "split")} AS b FROM documents)""",
)
def pipeline_split_assign(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment — a pure
    hash of doc_id, so the oracle reproduces it bit-for-bit."""
    from opentsdb_aura_spark.operators.corpus import split_assign

    return split_assign(docs(spark, sf_dir))


@register(
    "pipeline_shard_assign",
    """WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':shard') AS hh FROM documents)
SELECT doc_id,
       CAST(('0x' || substr(hh, 1, 15))::BIGINT % 16 AS INTEGER) AS shard_id,
       CAST(row_number() OVER (
              PARTITION BY ('0x' || substr(hh, 1, 15))::BIGINT % 16
              ORDER BY hh, doc_id) AS BIGINT) AS shard_pos
FROM h""",
)
def pipeline_shard_assign(spark, sf_dir):
    """Deterministic training-order shuffle into 16 shards: hash shard
    + in-shard rank, reproducible bit-for-bit by the oracle; the
    position window partitions by shard (no global sort)."""
    from opentsdb_aura_spark.operators.corpus import shard_assign

    return shard_assign(docs(spark, sf_dir), 16)


@register(
    "corpus_vocab_stats",
    f"""WITH {_ORACLE_TC}
SELECT token, CAST(sum(tc) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df
FROM tc GROUP BY 1""",
)
def corpus_vocab_stats(spark, sf_dir):
    """Vocabulary building: per-token corpus term frequency and
    document frequency."""
    from opentsdb_aura_spark.operators.corpus import vocab_stats

    return vocab_stats(docs(spark, sf_dir))


@register(
    "corpus_tfidf_top3",
    f"""WITH {_ORACLE_TC},
dfreq AS (SELECT token, count(*) AS df FROM tc GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (SELECT tc.doc_id, tc.token,
                  tc.tc * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0) AS score
           FROM tc JOIN dfreq USING (token) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
      FROM scored)
SELECT doc_id, token, round(score, 6) AS score FROM r WHERE rn <= 3""",
)
def corpus_tfidf_top3(spark, sf_dir):
    """Top-3 characteristic terms per doc by smoothed TF-IDF."""
    from opentsdb_aura_spark.operators.corpus import tfidf_top_terms

    res = tfidf_top_terms(docs(spark, sf_dir), k=3)
    return res.select("doc_id", "token", _r("score", 6).alias("score"))


@register(
    "pipeline_stratified_sample",
    f"""WITH h AS (SELECT doc_id, lang, {_md5_bucket_sql("doc_id", "sample")} AS b FROM documents),
r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM h)
SELECT doc_id, lang FROM r WHERE rn <= ceil(n * 0.1)""",
)
def pipeline_stratified_sample(spark, sf_dir):
    """Exact deterministic 10% stratified sample per language."""
    from opentsdb_aura_spark.operators.corpus import stratified_sample

    return stratified_sample(docs(spark, sf_dir), 0.1, strata_col="lang").select("doc_id", "lang")


@register(
    "dedup_keep_best",
    r"""WITH corpus AS (
  SELECT doc_id, text, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' !!!', n_chars + 4
  FROM documents WHERE doc_id % 4 = 0),
c AS (SELECT doc_id, n_chars,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS ckey
  FROM corpus),
r AS (SELECT *, row_number() OVER (PARTITION BY ckey ORDER BY n_chars DESC, doc_id) AS rn FROM c),
w AS (SELECT ckey, doc_id AS kept_doc_id FROM r WHERE rn = 1)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id, CAST(w.kept_doc_id AS BIGINT) AS kept_doc_id
FROM r JOIN w USING (ckey) WHERE r.rn > 1""",
)
def dedup_keep_best_docs(spark, sf_dir):
    """Keep-one duplicate retention: cluster by normalized-text
    digest, keep the highest-quality doc per cluster, report each
    dropped doc with its surviving representative.

    The fixture has no normalized duplicates, so plant case/punct
    variants (r6 dhash recipe): every doc_id % 4 == 0 gains a copy
    (+1e6) with ' !!!' appended — normalization strips it, so the
    copy collides into the original's cluster; its n_chars is 4
    higher, so the PLANTED copy wins and the ORIGINAL is reported
    as the dropped doc, exercising the quality-ranked retention."""
    from opentsdb_aura_spark.operators.corpus import dedup_keep_best

    base = docs(spark, sf_dir).select("doc_id", "text", "n_chars")
    planted = base.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" !!!")).alias("text"),
        (F.col("n_chars") + 4).alias("n_chars"),
    )
    return dedup_keep_best(base.unionByName(planted)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("kept_doc_id").cast("bigint").alias("kept_doc_id"),
    )


@register(
    "dedup_cluster_resolve",
    f"""{ORACLE_SHINGLES.replace("WITH ", "WITH RECURSIVE ", 1)},
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.2),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS doc FROM edges),
reach(doc, lbl) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.doc),
comp AS (SELECT doc, min(lbl) AS label FROM reach GROUP BY 1),
ranked AS (SELECT c.doc, c.label,
                  row_number() OVER (PARTITION BY c.label
                                     ORDER BY d.n_chars DESC, c.doc) AS rn
           FROM comp c JOIN documents d ON d.doc_id = c.doc),
w AS (SELECT label, doc AS kept_doc_id FROM ranked WHERE rn = 1)
SELECT r.doc AS doc_id, w.kept_doc_id
FROM ranked r JOIN w USING (label) WHERE r.rn > 1""",
)
def dedup_cluster_resolve(spark, sf_dir):
    """Near-dup retention end-to-end: Jaccard ≥ 0.2 candidate pairs →
    connected components (transitive closure) → keep the longest doc
    per cluster; one row per dropped doc with its survivor.  The
    oracle closes the components with a recursive CTE."""
    from opentsdb_aura_spark.operators.corpus import resolve_duplicate_clusters

    d = docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.2)
    return resolve_duplicate_clusters(d, pairs)


@register(
    "chunk_docs_64_32",
    r"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents),
st AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 32)) AS s FROM d)
SELECT doc_id, CAST(s // 32 AS INTEGER) AS chunk_idx,
       array_to_string(toks[s+1:s+64], ' ') AS chunk_text,
       CAST(len(toks[s+1:s+64]) AS BIGINT) AS n_tokens
FROM st WHERE len(toks[s+1:s+64]) > 0""",
)
def chunk_docs_64_32(spark, sf_dir):
    """Training-sample chunking: 64-token windows at stride 32
    (overlapping halves), tail chunks kept.  Narrow 1→many explode —
    no shuffle."""
    from opentsdb_aura_spark.operators.corpus import chunk_documents

    return chunk_documents(docs(spark, sf_dir), chunk_tokens=64, stride=32)


@register(
    "contamination_ngram",
    f"""{ORACLE_SHINGLES},
probe AS (SELECT doc_id AS probe_id, s FROM shing WHERE doc_id % 50 = 0),
psize AS (SELECT probe_id, count(*) AS pn FROM probe GROUP BY 1),
hits AS (SELECT c.doc_id, p.probe_id, count(*) AS inter
         FROM shing c JOIN probe p ON c.s = p.s AND c.doc_id <> p.probe_id
         GROUP BY 1, 2)
SELECT h.doc_id, h.probe_id, round(h.inter * 1.0 / ps.pn, 6) AS overlap_frac
FROM hits h JOIN psize ps USING (probe_id)
WHERE h.inter * 1.0 / ps.pn >= 0.5""",
)
def contamination_ngram(spark, sf_dir):
    """Train/eval contamination: docs sharing ≥ 50% of a probe doc's
    distinct 3-gram shingles (probe set = every 50th doc, standing in
    for a benchmark suite).  Corpus-side single pass with the probe
    shingles broadcast."""
    from opentsdb_aura_spark.operators.corpus import contamination_check

    d = docs(spark, sf_dir)
    res = contamination_check(d, d.where(F.col("doc_id") % 50 == 0), n=3, min_overlap_frac=0.5)
    return res.select("doc_id", "probe_id", _r(F.col("overlap_frac"), 6).alias("overlap_frac"))


@register(
    "corpus_bigram_top20",
    r"""WITH t AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks FROM documents),
b AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t)
SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
FROM b GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20""",
)
def corpus_bigram_top20(spark, sf_dir):
    """Top-20 corpus bigrams (n-gram language-model counts), total
    deterministic order."""
    from opentsdb_aura_spark.operators.corpus import bigram_counts

    return bigram_counts(docs(spark, sf_dir), k=20)


@register(
    "pipeline_pack_sequences",
    r"""WITH t AS (SELECT doc_id, len(list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '')) AS n
           FROM documents),
c AS (SELECT doc_id, n,
             coalesce(sum(n) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ts
      FROM t)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(ts AS BIGINT) AS token_start,
       CAST(ts // 128 AS BIGINT) AS seq_first,
       CAST(ts % 128 AS BIGINT) AS offset_first,
       CAST((ts + n - 1) // 128 AS BIGINT) AS seq_last
FROM c""",
)
def pipeline_pack_sequences(spark, sf_dir):
    """GPT-style concat-then-chunk sequence packing into 128-token
    training sequences: per-doc stream offsets via a two-level
    distributed prefix sum (per-block sums → tiny block-offset window
    → broadcast join + bounded within-block window) — no global
    single-partition window at any corpus size."""
    from opentsdb_aura_spark.operators.corpus import pack_sequences

    return pack_sequences(docs(spark, sf_dir), seq_len=128)


@register(
    "pipeline_mixture_sample",
    f"""SELECT doc_id, source
FROM (SELECT doc_id, source, {_md5_bucket_sql("doc_id", "mixture")} AS b FROM documents)
WHERE b < CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
                      WHEN 'src2' THEN 250000 ELSE 100000 END""",
)
def pipeline_mixture_sample(spark, sf_dir):
    """Domain-mixture sampling: per-source keep rates (100%/50%/25%,
    10% default) as a deterministic hash filter — a narrow map that
    pushes down to the scan; the oracle replicates the md5 bucket
    bit-for-bit."""
    from opentsdb_aura_spark.operators.corpus import mixture_sample

    res = mixture_sample(
        docs(spark, sf_dir),
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
        domain_col="source",
    )
    return res.select("doc_id", "source")
# ============================================================ quality filters (pipeline)

# Line injection shared by the repetition/line-dedup queries: the
# synthetic corpus is single-line, so both engines rebuild each doc as
# lines of 5 tokens (same rule, so line-level semantics are exercised
# end-to-end and the oracle stays bit-exact).
_LINES_SQL = r"""WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents),
d AS (SELECT doc_id, toks,
        list_transform(range(0, CAST(ceil(len(toks) / 5.0) AS INT)),
                       i -> array_to_string(toks[i*5+1:i*5+5], ' ')) AS lines
      FROM d0)"""


def _docs_with_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    nl = F.ceil(F.size(toks) / F.lit(5.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - F.lit(1)),
        lambda i: F.array_join(F.slice(toks, i * F.lit(5) + F.lit(1), 5), " "),
    )
    return docs(spark, sf_dir).withColumn("text", F.array_join(lines, "\n"))


@register(
    "quality_repetition_docs",
    f"""{_LINES_SQL},
l AS (SELECT doc_id, unnest(lines) AS line FROM d),
pl AS (SELECT doc_id, line, count(*) AS c, length(line) AS len,
              CASE WHEN length(line) > 0 THEN 1 ELSE 0 END AS ne
       FROM l GROUP BY 1, 2),
ls AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
              CASE WHEN sum(c * ne) = 0 THEN 0.0
                   ELSE sum((c - 1) * ne) * 1.0 / sum(c * ne) END AS dup_line_frac,
              sum((c - 1) * len) * 1.0 / sum(c * len) AS dup_line_char_frac
       FROM pl GROUP BY 1),
bgs AS (SELECT doc_id,
               unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram,
               list_sum(list_transform(toks, t -> length(t))) AS tc
        FROM d),
pb AS (SELECT doc_id, bigram, count(*) AS c, any_value(tc) AS tc FROM bgs GROUP BY 1, 2),
mx AS (SELECT doc_id, max(c) AS mx, any_value(tc) AS tc FROM pb GROUP BY 1),
tb AS (SELECT p.doc_id, min(p.bigram) AS top_bigram, any_value(m.mx) AS c, any_value(m.tc) AS tc
       FROM pb p JOIN mx m USING (doc_id) WHERE p.c = m.mx GROUP BY 1)
SELECT ls.doc_id, n_lines, round(dup_line_frac, 6) AS dup_line_frac,
       round(dup_line_char_frac, 6) AS dup_line_char_frac, top_bigram,
       round(least(c * (length(top_bigram) - 1) * 1.0 / tc, 1.0), 6) AS top_bigram_char_frac
FROM ls JOIN tb USING (doc_id)""",
)
def quality_repetition_docs(spark, sf_dir):
    """Gopher-style repetition signals (duplicate-line fraction by
    count and by characters, top-bigram character coverage) over the
    line-injected corpus.  Two explode→pre-agg chains with map-side
    combine — no corpus-wide hot key."""
    from opentsdb_aura_spark.operators.quality import repetition_signals

    res = repetition_signals(_docs_with_lines(spark, sf_dir))
    return res.select(
        "doc_id",
        "n_lines",
        _r("dup_line_frac", 6).alias("dup_line_frac"),
        _r("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        "top_bigram",
        _r("top_bigram_char_frac", 6).alias("top_bigram_char_frac"),
    )


# The Gopher signals over the documents table (t tokens/lines, s
# signals), the head of quality_gopher_flags' and pipeline_host_quality's
# oracles.
_GOPHER_DOCS_SQL = r"""WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks,
        string_split(text, chr(10)) AS lines FROM documents),
s AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS mean_word_len,
        list_sum(list_transform(toks, x -> length(x) - length(replace(x, '#', ''))
          + CASE WHEN contains(x, '...') OR contains(x, '…') THEN 1 ELSE 0 END)) * 1.0 / len(toks) AS symbol_word_ratio,
        len(list_filter(lines, l -> substr(l, 1, 2) IN ('- ', '* ', '• '))) * 1.0 / len(lines) AS bullet_line_frac,
        len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) * 1.0 / len(lines) AS ellipsis_line_frac,
        len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(toks) AS alpha_word_frac,
        CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stopword_hits
      FROM t)"""


@register(
    "quality_gopher_flags",
    _GOPHER_DOCS_SQL
    + r"""
SELECT doc_id, n_tokens, round(mean_word_len, 6) AS mean_word_len,
       round(symbol_word_ratio, 6) AS symbol_word_ratio,
       round(bullet_line_frac, 6) AS bullet_line_frac,
       round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
       round(alpha_word_frac, 6) AS alpha_word_frac, n_stopword_hits,
       n_tokens BETWEEN 10 AND 100000 AS ok_n_tokens,
       n_tokens > 0 AND mean_word_len BETWEEN 3 AND 10 AS ok_mean_word_len,
       n_tokens > 0 AND symbol_word_ratio <= 0.1 AS ok_symbol_ratio,
       bullet_line_frac <= 0.9 AS ok_bullet_lines,
       ellipsis_line_frac <= 0.3 AS ok_ellipsis_lines,
       n_tokens > 0 AND alpha_word_frac >= 0.8 AS ok_alpha_words,
       n_stopword_hits >= 2 AS ok_stopwords,
       (n_tokens BETWEEN 10 AND 100000) AND n_tokens > 0
         AND (mean_word_len BETWEEN 3 AND 10)
         AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
         AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
         AND n_stopword_hits >= 2 AS keep
FROM s""",
)
def quality_gopher_flags(spark, sf_dir):
    """Gopher quality gate (Rae et al. 2021 A1.1) over the corpus:
    raw signals, per-rule booleans, and the final keep flag.  Pure
    codegen'd map stage — zero shuffle at any scale."""
    from opentsdb_aura_spark.operators.quality import gopher_quality_flags

    res = gopher_quality_flags(docs(spark, sf_dir), min_tokens=10)
    return res.select(
        "doc_id",
        "n_tokens",
        _r("mean_word_len", 6).alias("mean_word_len"),
        _r("symbol_word_ratio", 6).alias("symbol_word_ratio"),
        _r("bullet_line_frac", 6).alias("bullet_line_frac"),
        _r("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        _r("alpha_word_frac", 6).alias("alpha_word_frac"),
        "n_stopword_hits",
        *[c for c in res.columns if c.startswith("ok_")],
        "keep",
    )


@register(
    "quality_lm_scores",
    r"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents),
bg AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS bigram, toks[i+1] AS w1
       FROM d, unnest(range(0, greatest(len(toks) - 1, 0))) AS t(i)),
uni AS (SELECT tok, count(*) AS ucnt
        FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY 1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
big AS (SELECT bigram, count(*) AS bcnt FROM bg GROUP BY 1),
s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(ln((bcnt + 0.1) / (ucnt + 0.1 * v.v))), 4) AS avg_logprob
      FROM bg JOIN big USING (bigram) JOIN uni ON bg.w1 = uni.tok CROSS JOIN v
      GROUP BY 1)
SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.avg_logprob
FROM d LEFT JOIN s USING (doc_id)""",
)
def quality_lm_scores(spark, sf_dir):
    """CCNet-style perplexity-proxy filter signal: per-doc mean
    log-probability under a Laplace-smoothed corpus bigram LM, fit by
    the aggregation itself (no driver-side training)."""
    from opentsdb_aura_spark.operators.quality import lm_bigram_scores

    res = lm_bigram_scores(docs(spark, sf_dir), alpha=0.1)
    return res.select("doc_id", "n_bigrams", _r("avg_logprob", 4).alias("avg_logprob"))


#: hashed-feature logistic-regression training hyperparameters —
#: mirrored literally in the unrolled oracle; change them together.
#: D=64 gives the fixture badword its own collision-free bucket;
#: centered presence features + lr=10 converge monotonically (raw
#: counts make GD ring along the shared-vocabulary direction)
_LOGREG_D = 64
_LOGREG_LR = 20.0
_LOGREG_ITERS = 8


def _logreg_oracle(l2: float = 0.0, thr: float = 0.5) -> str:
    """Unrolled-SQL twin of the deterministic batch-GD logistic fit
    (the bpe_train oracle trick, widened to a weight vector): each
    iteration's residuals, gradients, weight/bias updates, and the
    centering offset are literal CTEs, so DuckDB re-trains the SAME
    classifier from the same zero init and the corpus-wide scores
    hash-compare.  Centering stays sparse exactly as in the operator:
    margin = w·x + (b − w·μ); ∇ⱼ = (Σrᵢxᵢⱼ − μⱼΣrᵢ)/N.

    ``l2`` carries the ridge term into the unrolled weight updates
    (+ l2·wⱼ inside the lr step, intercept unpenalized — mirroring
    train_logreg_weights); ``thr`` moves the keep verdict to
    margin ≥ logit(thr) (mirroring logreg_scores' margin-space
    compare).  Defaults reproduce the original oracle text."""
    # base CTEs MATERIALIZED: the unrolled iterations reference trip/
    # lab dozens of times, and DuckDB would otherwise re-open the
    # parquet per reference (fd exhaustion)
    head = rf"""WITH t AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks FROM documents),
lab AS MATERIALIZED (SELECT doc_id, CASE WHEN list_contains(toks, 'dup') THEN 1.0 ELSE 0.0 END AS y FROM t),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
trip AS MATERIALIZED (SELECT DISTINCT doc_id,
           CAST(list_reduce(list_transform(range(1, length(tok)+1), i -> ord(substr(tok, i, 1))), (a, b) -> (a * 31 + b) % 1000003) % {_LOGREG_D} AS INTEGER) AS bucket,
           1.0 AS cnt
         FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
mu AS MATERIALIZED (SELECT bucket, sum(cnt) / nn.n AS mu FROM trip CROSS JOIN nn GROUP BY bucket, nn.n),
m0 AS (SELECT doc_id, y, 0.0 AS margin FROM lab)"""
    lr = _LOGREG_LR
    parts = [head]
    for k in range(_LOGREG_ITERS):
        # every iteration CTE is MATERIALIZED: the chain w{k+1}→w{k}→…
        # would otherwise be INLINED at each reference, duplicating the
        # whole training subtree per level (exponential blowup)
        parts.append(
            f"""r{k} AS MATERIALIZED (SELECT doc_id, 1.0/(1.0+exp(-margin)) - y AS resid FROM m{k}),
g{k} AS MATERIALIZED (SELECT bucket, sum(resid * cnt) AS s FROM trip JOIN r{k} USING (doc_id) GROUP BY 1),
gb{k} AS MATERIALIZED (SELECT sum(resid) AS s FROM r{k})"""
        )
        if k == 0:
            parts.append(
                f"""w1 AS MATERIALIZED (SELECT bucket, -{lr} * (g0.s - mu.mu * gb0.s) / nn.n AS w
  FROM g0 JOIN mu USING (bucket) CROSS JOIN gb0 CROSS JOIN nn),
b1 AS MATERIALIZED (SELECT -{lr} * s / nn.n AS b FROM gb0 CROSS JOIN nn)"""
            )
        else:
            # l2=0 keeps the pre-ridge expression text byte-identical —
            # float association differs between the two forms, and the
            # original queries' hashes are pinned to the original order
            upd = (
                f"w{k}.w - {lr} * ((g{k}.s - mu.mu * gb{k}.s) / nn.n + {l2!r} * w{k}.w)"
                if l2
                else f"w{k}.w - {lr} * (g{k}.s - mu.mu * gb{k}.s) / nn.n"
            )
            parts.append(
                f"""w{k + 1} AS MATERIALIZED (SELECT g{k}.bucket, {upd} AS w
  FROM g{k} JOIN mu USING (bucket) JOIN w{k} USING (bucket) CROSS JOIN gb{k} CROSS JOIN nn),
b{k + 1} AS MATERIALIZED (SELECT b{k}.b - {lr} * s / nn.n AS b FROM gb{k} CROSS JOIN b{k} CROSS JOIN nn)"""
            )
        parts.append(
            f"""off{k + 1} AS MATERIALIZED (SELECT sum(w * mu.mu) AS o FROM w{k + 1} JOIN mu USING (bucket)),
m{k + 1} AS MATERIALIZED (SELECT lab.doc_id, lab.y, b{k + 1}.b - off{k + 1}.o + coalesce(dp{k + 1}.v, 0) AS margin
  FROM lab CROSS JOIN b{k + 1} CROSS JOIN off{k + 1}
  LEFT JOIN (SELECT trip.doc_id, sum(cnt * w{k + 1}.w ORDER BY trip.bucket) AS v
             FROM trip JOIN w{k + 1} USING (bucket) GROUP BY 1) dp{k + 1} USING (doc_id))"""
        )
    # the Spark side compares against a PYTHON-computed logit literal
    # (logreg_scores' thr_margin) — embed the identical full-precision
    # double here rather than re-deriving ln(thr/(1-thr)) in DuckDB,
    # whose libm can differ in the last ulp (ADVICE r13)
    import math

    pred_sql = (
        "margin >= 0"
        if thr == 0.5
        else f"margin >= {math.log(thr / (1.0 - thr))!r}"
    )
    final = f"""SELECT doc_id, y = 1.0 AS label,
       round(margin, 4) AS margin,
       round(1.0/(1.0+exp(-margin)), 4) AS prob,
       {pred_sql} AS pred
FROM m{_LOGREG_ITERS}"""
    return ",\n".join(parts) + "\n" + final


def _logreg_host_prior_oracle() -> str:
    """Same unrolled re-fit, aggregated to the HOST level — the
    host-quality prior a crawl scheduler blends into frontier rank."""
    R = _LOGREG_ITERS
    ctes = _logreg_oracle().rsplit("SELECT doc_id, y = 1.0 AS label", 1)[0].rstrip()
    assert ctes.endswith(")"), "unexpected oracle tail"
    return (
        ctes
        + f"""
SELECT 'h' || (doc_id % 16) || '.example' AS host,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(1.0/(1.0+exp(-margin))), 4) AS avg_prob
FROM m{R} GROUP BY 1"""
    )


def _logreg_weights_oracle() -> str:
    """Same unrolled re-fit, but surfacing the MODEL: the final weight
    per populated bucket plus the effective intercept (bias minus the
    centering offset) as pseudo-bucket −1."""
    R = _LOGREG_ITERS
    ctes = _logreg_oracle().rsplit("SELECT doc_id, y = 1.0 AS label", 1)[0].rstrip()
    assert ctes.endswith(")"), "unexpected oracle tail"
    return (
        ctes
        + f"""
SELECT bucket, round(w, 6) AS weight FROM w{R}
UNION ALL
SELECT -1 AS bucket, round(b{R}.b - off{R}.o, 6) AS weight
FROM b{R} CROSS JOIN off{R}"""
    )


def _dup_labels(d):
    """(doc_id, y): the planted separable class, 1.0 for docs holding
    the 'dup' badword token."""
    from opentsdb_aura_spark.operators.dedup_text import tokens

    return d.select("doc_id", F.array_contains(tokens(F.col("text")), "dup").cast("double").alias("y"))


def _dup_classifier(spark, sf_dir, **train_kw):
    """The trained 'dup' classifier the classifier queries score with:
    binary hashed-token features packed ONCE with the label (lazily
    checkpointed; the corpus passes, not the tiny gradient shuffles,
    are this family's unavoidable cost), then the deterministic
    full-batch GD fit over the pack.  Returns (docs, packed, w, b)."""
    from opentsdb_aura_spark.operators.quality import (
        _pack_label_features,
        hashed_token_features,
        train_logreg_weights,
    )

    d = docs(spark, sf_dir)
    labs = _dup_labels(d)
    feats = hashed_token_features(d, n_features=_LOGREG_D, binary=True)
    packed = _pack_label_features(labs, feats, ["y"]).localCheckpoint(eager=False)
    w, b = train_logreg_weights(
        None, None, n_features=_LOGREG_D, lr=_LOGREG_LR, n_iter=_LOGREG_ITERS,
        center=True, packed=packed, **train_kw,
    )
    return d, packed, w, b


@register("pipeline_quality_classifier", _logreg_oracle())
def pipeline_quality_classifier(spark, sf_dir):
    """TRAINED quality classifier, the DCLM / FineWeb-Edu pattern
    (Li et al. 2024; Penedo et al. 2024): a linear model over hashed
    token features fit on seed labels, then scored corpus-wide as the
    keep gate — what current curation stacks actually rank by, next to
    the closed-form heuristic gates.  Fixture labels are the planted
    separable class (docs containing the 'dup' badword token), so the
    fit must RECOVER a real signal, not memorize noise.  Training is
    deterministic full-batch GD from zero init ({iters} steps,
    lr={lr}, {d} hashed features) expressed as Spark aggregations with
    one bounded <= d+1-row collect per step; the oracle unrolls the
    SAME iterations in SQL (the bpe_train trick), so the weights, the
    per-doc margins/probabilities, AND the final keep verdict are all
    value-hashed.  Scoring is one explode + map-side-combined groupBy
    with the weight vector as a literal array — no join, pure
    Catalyst, the 100 TB corpus pass.""".format(
        iters=_LOGREG_ITERS, lr=_LOGREG_LR, d=_LOGREG_D
    )
    from opentsdb_aura_spark.operators.quality import logreg_scores_packed

    _, packed, w, b = _dup_classifier(spark, sf_dir)
    scored = logreg_scores_packed(packed, w, b, keep_cols=("y",))
    return scored.select(
        "doc_id",
        (F.col("y") == 1.0).alias("label"),
        _r("margin", 4).alias("margin"),
        _r("prob", 4).alias("prob"),
        "pred",
    )


_LOGREG_L2 = 0.01  # ridge strength of the calibrated variant
_LOGREG_THR = 0.9  # precision-leaning keep threshold of the calibrated variant


@register(
    "pipeline_classifier_calibrated", _logreg_oracle(l2=_LOGREG_L2, thr=_LOGREG_THR)
)
def pipeline_classifier_calibrated(spark, sf_dir):
    """CALIBRATED variant of the trained quality classifier — the two
    knobs a gate consumer tunes without changing the training data:
    an L2 ridge term (λ={l2}) shrinking the weights against
    seed-set overfit, and a precision-leaning keep threshold
    (prob ≥ {thr}, compared in margin space so the verdict never
    rides on a σ(·) rounding difference).  The oracle unrolls the
    SAME ridge-regularized GD in SQL — the + λ·wⱼ term rides inside
    every weight-update CTE — and applies the identical
    margin ≥ logit({thr}) rule, so both calibration knobs are
    value-hashed end to end, not just exposed as parameters.""".format(
        l2=_LOGREG_L2, thr=_LOGREG_THR
    )
    from opentsdb_aura_spark.operators.quality import logreg_scores_packed

    _, packed, w, b = _dup_classifier(spark, sf_dir, l2=_LOGREG_L2)
    scored = logreg_scores_packed(
        packed, w, b, threshold=_LOGREG_THR, keep_cols=("y",)
    )
    return scored.select(
        "doc_id",
        (F.col("y") == 1.0).alias("label"),
        _r("margin", 4).alias("margin"),
        _r("prob", 4).alias("prob"),
        "pred",
    )


_PR_THRESHOLDS = [round(0.1 * i, 1) for i in range(1, 10)]


def _classifier_pr_oracle() -> str:
    """Same unrolled re-fit, swept over the keep-threshold grid — the
    precision/recall operating table a gate consumer reads before
    picking a threshold.  Counts compare in MARGIN space
    (margin ≥ logit(t)) and F1 comes from the integer counts
    (2·tp/(n_pred+n_true)), so no ratio-of-rounded-ratios drift."""
    import math

    R = _LOGREG_ITERS
    ctes = _logreg_oracle().rsplit("SELECT doc_id, y = 1.0 AS label", 1)[0].rstrip()
    assert ctes.endswith(")"), "unexpected oracle tail"
    # cutoffs are PYTHON-computed logits embedded as full-precision
    # literals in BOTH engines (the Spark sweep carries the same
    # doubles) so the count comparisons never ride on a libm-ln ulp
    # difference between the JVM and DuckDB (ADVICE r13)
    vals = ", ".join(
        f"({t!r}, {math.log(t / (1.0 - t))!r})" for t in _PR_THRESHOLDS
    )
    return (
        ctes
        + f""",
thr(t, cut) AS (VALUES {vals}),
pr AS (
  SELECT t,
         CAST(count(*) FILTER (margin >= cut) AS BIGINT) AS n_pred,
         CAST(count(*) FILTER (y = 1.0) AS BIGINT) AS n_true,
         CAST(count(*) FILTER (margin >= cut AND y = 1.0) AS BIGINT) AS tp
  FROM m{R} CROSS JOIN thr GROUP BY 1)
SELECT round(t, 2) AS threshold, n_pred, n_true, tp,
       round(CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred END, 6) AS prec,
       round(CASE WHEN n_true > 0 THEN tp * 1.0 / n_true END, 6) AS rec,
       round(CASE WHEN n_pred + n_true > 0 THEN 2.0 * tp / (n_pred + n_true) END, 6) AS f1
FROM pr"""
    )


@register("pipeline_classifier_pr_curve", _classifier_pr_oracle())
def pipeline_classifier_pr_curve(spark, sf_dir):
    """Precision/recall operating curve of the trained quality
    classifier over a 9-point threshold grid — what a curation team
    actually reads before fixing the keep threshold (the companion
    surface to pipeline_classifier_calibrated's single operating
    point).  One scoring pass; the grid is a generator explode (no
    join), counts compare in margin space so the verdict never rides
    on a σ(·) rounding difference, and F1 is derived from the integer
    counts.  The oracle re-fits the identical unrolled GD and sweeps
    the same grid, so every (threshold, tp, precision, recall, F1)
    cell is value-hashed."""
    import math

    from opentsdb_aura_spark.operators.quality import logreg_scores_packed

    _, packed, w, b = _dup_classifier(spark, sf_dir)
    scores = logreg_scores_packed(packed, w, b, keep_cols=("y",))
    # each grid point carries its Python-computed logit cutoff as a
    # full-precision literal — the oracle embeds the SAME doubles, so
    # neither engine evaluates ln() at compare time (ADVICE r13)
    grid = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("t"),
                F.lit(math.log(float(t) / (1.0 - float(t)))).alias("cut"),
            )
            for t in _PR_THRESHOLDS
        ]
    )
    sweep = (
        scores
        .select("y", "margin", F.explode(grid).alias("tc"))
        .select("y", "margin", F.col("tc.t").alias("t"), F.col("tc.cut").alias("cut"))
    )
    hit = (F.col("margin") >= F.col("cut")).cast("long")
    agg = sweep.groupBy("t").agg(
        F.sum(hit).alias("n_pred"),
        F.sum((F.col("y") == 1.0).cast("long")).alias("n_true"),
        F.sum(hit * (F.col("y") == 1.0).cast("long")).alias("tp"),
    )
    return agg.select(
        _r(F.col("t"), 2).alias("threshold"),
        "n_pred",
        "n_true",
        "tp",
        _r(F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")), 6).alias("prec"),
        _r(F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true")), 6).alias("rec"),
        _r(
            F.when(
                F.col("n_pred") + F.col("n_true") > 0,
                2.0 * F.col("tp") / (F.col("n_pred") + F.col("n_true")),
            ),
            6,
        ).alias("f1"),
    )


def _classifier_auc_oracle() -> str:
    """Same unrolled re-fit, reduced to the tie-corrected Mann–Whitney
    AUC over margins ROUNDED FIRST to 4 decimals — rounding before
    ranking makes the rank statistic engine-exact (a last-ulp margin
    difference can otherwise swap two ranks)."""
    R = _LOGREG_ITERS
    ctes = _logreg_oracle().rsplit("SELECT doc_id, y = 1.0 AS label", 1)[0].rstrip()
    assert ctes.endswith(")"), "unexpected oracle tail"
    return (
        ctes
        + f""",
auc_rk AS (SELECT y, round(margin, 4) AS m FROM m{R}),
auc_ar AS (SELECT y, rank() OVER (ORDER BY m) + (count(*) OVER (PARTITION BY m) - 1) / 2.0 AS ar
       FROM auc_rk),
auc_s AS (SELECT sum(CASE WHEN y = 1.0 THEN ar END) AS rsum,
             CAST(count(*) FILTER (y = 1.0) AS BIGINT) AS n_pos,
             CAST(count(*) FILTER (y = 0.0) AS BIGINT) AS n_neg
      FROM auc_ar)
SELECT n_pos, n_neg,
       round((rsum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc
FROM auc_s"""
    )


@register("pipeline_classifier_auc", _classifier_auc_oracle())
def pipeline_classifier_auc(spark, sf_dir):
    """Threshold-free ranking quality of the trained classifier: the
    tie-corrected Mann–Whitney AUC (average ranks on ties), computed
    over margins rounded to 4 decimals FIRST so the rank statistic is
    engine-exact.  One window rank over the scored frame + a 1-row
    aggregate; the oracle re-fits the identical unrolled GD and
    re-derives the same rank sum, so the headline eval number a model
    card would quote is value-hashed, not recomputed-and-trusted."""
    from pyspark.sql.window import Window

    from opentsdb_aura_spark.operators.quality import logreg_scores_packed

    _, packed, w, b = _dup_classifier(spark, sf_dir)
    rk = logreg_scores_packed(packed, w, b, keep_cols=("y",)).select(
        "y", _r(F.col("margin"), 4).alias("m")
    )
    # rank-sum regrouped per distinct rounded margin (guide §2.3/§2.4:
    # aggregate before you shuffle; no global single-partition window
    # over N rows).  Every tied row shares one average rank
    # ar(m) = rank(m) + (cnt(m)-1)/2 — a half-integer, exactly
    # representable — so Σ_rows ar ≡ Σ_m pos(m)·ar(m) bit-for-bit in
    # doubles regardless of association; the groupBy does map-side
    # partial aggregation and the only window left runs over the tiny
    # distinct-margin table (rank(m) = 1 + Σ cnt of strictly smaller m)
    per_m = rk.groupBy("m").agg(
        F.count("*").alias("cnt"),
        F.sum((F.col("y") == 1.0).cast("long")).alias("pos"),
    )
    rank_m = (
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        + 1
    )
    ar_m = rank_m + (F.col("cnt") - 1) / 2.0
    r2 = per_m.select("pos", "cnt", ar_m.alias("ar"))
    return r2.agg(
        F.sum(F.col("pos") * F.col("ar")).alias("_rsum"),
        F.sum("pos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n_neg"),
    ).select(
        "n_pos",
        "n_neg",
        _r(
            (F.col("_rsum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


@register("pipeline_classifier_weights", _logreg_weights_oracle())
def pipeline_classifier_weights(spark, sf_dir):
    """The trained model itself, value-hashed: one row per populated
    feature bucket with its learned weight, plus the effective
    intercept (bias − centering offset) as pseudo-bucket −1 — the
    artifact a curation deployment ships to score OTHER corpora, and
    the introspection surface (which hash buckets the fit actually
    leans on).  The oracle re-runs the identical unrolled GD and
    reads the final weight CTE, so the MODEL — not just its scores —
    is proven portable across engines."""
    from opentsdb_aura_spark.operators.quality import (
        hashed_token_features,
        train_logreg_weights,
    )

    d = docs(spark, sf_dir)
    labels = _dup_labels(d)
    feats = hashed_token_features(d, n_features=_LOGREG_D, binary=True)
    w, b = train_logreg_weights(
        feats, labels, n_features=_LOGREG_D, lr=_LOGREG_LR, n_iter=_LOGREG_ITERS,
        center=True,
    )
    w_arr = F.lit([float(x) for x in w])
    populated = feats.select("bucket").distinct()
    spark_b = populated.sparkSession
    intercept = spark_b.range(1).select(
        F.lit(-1).cast("int").alias("bucket"),
        F.round(F.lit(float(b)) + F.lit(1e-9), 6).alias("weight"),
    )
    return populated.select(
        "bucket",
        F.round(F.element_at(w_arr, F.col("bucket") + 1) + F.lit(1e-9), 6).alias("weight"),
    ).unionByName(intercept)


@register("pipeline_host_quality_prior", _logreg_host_prior_oracle())
def pipeline_host_quality_prior(spark, sf_dir):
    """Host-level quality prior from the trained classifier — the
    DCLM / Common Crawl pattern of blending a per-HOST quality signal
    into frontier scheduling (hosts whose sampled pages score well get
    crawled deeper): corpus-wide classifier probabilities aggregated
    per fixture host.  One extra map-side-combined groupBy on top of
    the scoring pass; the oracle re-fits the identical unrolled GD and
    re-aggregates, so the prior a scheduler would consume is
    value-hashed."""
    from opentsdb_aura_spark.operators.quality import logreg_scores_packed

    _, packed, w, b = _dup_classifier(spark, sf_dir)
    scores = logreg_scores_packed(packed, w, b)
    host = F.concat(F.lit("h"), F.col("doc_id") % 16, F.lit(".example"))
    return (
        scores.select(host.alias("host"), "prob")
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            _r(F.avg("prob"), 4).alias("avg_prob"),
        )
    )


# The corpus-fit bigram LM per doc with its lang (s2), the head of the
# two CCNet bucketing oracles (tercile window and trained cutoffs).
_BIGRAM_LM_SQL = r"""WITH d AS (SELECT doc_id, lang,
        list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents),
bg AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS bigram, toks[i+1] AS w1
       FROM d, unnest(range(0, greatest(len(toks) - 1, 0))) AS t(i)),
uni AS (SELECT tok, count(*) AS ucnt
        FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY 1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
big AS (SELECT bigram, count(*) AS bcnt FROM bg GROUP BY 1),
s AS (SELECT doc_id, round(avg(ln((bcnt + 0.1) / (ucnt + 0.1 * v.v))), 4) AS avg_logprob
      FROM bg JOIN big USING (bigram) JOIN uni ON bg.w1 = uni.tok CROSS JOIN v
      GROUP BY 1),
s2 AS (SELECT d.doc_id, d.lang, s.avg_logprob
       FROM d LEFT JOIN s USING (doc_id))"""


@register(
    "pipeline_ccnet_cutoff_buckets",
    _BIGRAM_LM_SQL
    + r""",
cuts AS (SELECT lang,
           [quantile_cont(avg_logprob, 0.6666666666666667),
            quantile_cont(avg_logprob, 0.33333333333333337)] AS cl
         FROM s2 WHERE avg_logprob IS NOT NULL GROUP BY 1)
SELECT s2.doc_id, s2.lang, s2.avg_logprob,
       CAST(CASE WHEN s2.avg_logprob IS NULL THEN len(cuts.cl) + 1
                 ELSE 1 + len(list_filter(cuts.cl, c -> s2.avg_logprob < c))
            END AS INTEGER) AS ppl_bucket
FROM s2 LEFT JOIN cuts USING (lang)""",
)
def pipeline_ccnet_cutoff_buckets(spark, sf_dir):
    """The 100 TB form of CCNet bucketing, oracled end-to-end: instead
    of the per-language ntile window (one total order per language —
    pipeline_ccnet_buckets' exact-semantics cost), train a TINY
    per-language cutoff table (two interior percentiles of the LM
    score) and assign buckets by broadcast comparison — the exact
    substitution CCNet itself makes at corpus scale, and the shape
    that never sorts the corpus.  The oracle refits the same bigram
    LM, re-derives the same exact percentiles (identical linear
    interpolation and the same float probability literals), and
    re-counts the cutoff comparisons — so the trained thresholds AND
    every document's comparison-assigned bucket are value-hashed."""
    from opentsdb_aura_spark.operators.quality import (
        assign_perplexity_buckets,
        lm_bigram_scores,
        train_perplexity_cutoffs,
    )

    scores = lm_bigram_scores(docs(spark, sf_dir), alpha=0.1).select(
        "doc_id", _r("avg_logprob", 4).alias("avg_logprob")
    )
    langs = docs_raw(spark, sf_dir).select("doc_id", "lang")
    scored = langs.join(scores, "doc_id", "left")
    cuts = train_perplexity_cutoffs(scored)
    return assign_perplexity_buckets(scored, cuts).select(
        "doc_id", "lang", "avg_logprob", "ppl_bucket"
    )


#: unigram-LM training hyperparameters — mirrored literally in the
#: unrolled oracles; change them together
_UNI_L = 4
_UNI_K = 8
_UNI_ROUNDS = 2


def _unigram_ctes() -> str:
    """Shared CTE chain re-deriving the unigram-LM fit in SQL: seed
    substring counts → top-K vocab → per-round RECURSIVE full-path
    segmentation lattices (the fixture words are short, so exhaustive
    enumeration is cheap for the oracle; Spark runs proper Viterbi)
    with the IDENTICAL (score DESC, n pieces, seg) argmax — exact,
    because log-probs are quantized to integer micro-nats on both
    sides before any path sum.  All loop state is integers, so the
    two engines cannot drift.

    The lp quantization here is written ``round(ln(...)*1000000)``
    but register() rewrites every ``round(`` in a registered oracle
    to ``round(1e-9 + `` (queries/base.py), so the SQL DuckDB
    actually runs carries the SAME +1e-9 boundary nudge as _ilogp on
    the Spark side — do NOT add the epsilon literally here, or the
    idempotency guard in register() will skip the rewrite and strip
    the nudge from the oracle's OTHER round() calls."""
    parts = [
        r"""WITH RECURSIVE t AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks FROM documents),
words AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
seed AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
    SELECT substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece, cnt
    FROM words, unnest(range(1, length(w) + 1)) AS pi(i),
                unnest(range(1, """
        + str(_UNI_L + 1)
        + r""")) AS pl(l)
    WHERE i + l - 1 <= length(w)) GROUP BY 1),
v0c AS MATERIALIZED (
  SELECT piece, cnt FROM seed WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM seed WHERE length(piece) > 1) WHERE rn <= """
        + str(_UNI_K)
        + r"""),
v0 AS MATERIALIZED (
  SELECT piece, CAST(round(ln((cnt + 1.0) / (tot + nv)) * 1000000) AS BIGINT) AS lp
  FROM v0c CROSS JOIN (SELECT CAST(sum(cnt) AS DOUBLE) AS tot,
                              CAST(count(*) AS DOUBLE) AS nv FROM v0c))"""
    ]
    for r in range(_UNI_ROUNDS):
        parts.append(
            f"""p{r} AS (
  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS score, 0 AS n, '' AS seg
  FROM words
  UNION ALL
  SELECT p.w, p.pos + length(v.piece), p.score + v.lp, p.n + 1,
         p.seg || chr(31) || v.piece
  FROM p{r} p JOIN v{r} v
    ON substr(p.w, CAST(p.pos + 1 AS INTEGER), length(v.piece)) = v.piece
  WHERE p.pos + length(v.piece) <= length(p.w)),
best{r} AS MATERIALIZED (
  SELECT w, n, seg FROM (
    SELECT w, n, seg, row_number() OVER (PARTITION BY w ORDER BY score DESC, n, seg) AS rn
    FROM p{r} WHERE pos = length(w)) WHERE rn = 1),
c{r + 1} AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(b.seg, chr(31))) AS piece, words.cnt
        FROM best{r} b JOIN words USING (w))
  WHERE piece <> '' GROUP BY 1),
v{r + 1}c AS MATERIALIZED (
  SELECT v0c.piece, coalesce(c{r + 1}.cnt, 0) AS cnt
  FROM v0c LEFT JOIN c{r + 1} USING (piece) WHERE length(v0c.piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM c{r + 1} WHERE length(piece) > 1) WHERE rn <= {_UNI_K}),
v{r + 1} AS MATERIALIZED (
  SELECT piece, CAST(round(ln((cnt + 1.0) / (tot + nv)) * 1000000) AS BIGINT) AS lp
  FROM v{r + 1}c CROSS JOIN (SELECT CAST(sum(cnt) AS DOUBLE) AS tot,
                                    CAST(count(*) AS DOUBLE) AS nv FROM v{r + 1}c))"""
        )
    return ",\n".join(parts)


def _unigram_train_oracle() -> str:
    R = _UNI_ROUNDS
    return (
        _unigram_ctes()
        + f"""
SELECT piece, cnt, round(cnt / tot, 6) AS prob
FROM v{R}c CROSS JOIN (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM v{R}c)"""
    )


def _unigram_count_oracle() -> str:
    R = _UNI_ROUNDS
    return (
        _unigram_ctes()
        + f""",
doc_words AS MATERIALIZED (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2),
pf AS (
  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS score, 0 AS n, '' AS seg
  FROM words
  UNION ALL
  SELECT p.w, p.pos + length(v.piece), p.score + v.lp, p.n + 1,
         p.seg || chr(31) || v.piece
  FROM pf p JOIN v{R} v
    ON substr(p.w, CAST(p.pos + 1 AS INTEGER), length(v.piece)) = v.piece
  WHERE p.pos + length(v.piece) <= length(p.w)),
bestf AS MATERIALIZED (
  SELECT w, n FROM (
    SELECT w, n, row_number() OVER (PARTITION BY w ORDER BY score DESC, n, seg) AS rn
    FROM pf WHERE pos = length(w)) WHERE rn = 1)
SELECT doc_id, CAST(sum(dw.n * b.n) AS BIGINT) AS n_pieces
FROM doc_words dw JOIN bestf b USING (w) GROUP BY 1"""
    )


@register("text_unigram_train", _unigram_train_oracle())
def text_unigram_train(spark, sf_dir):
    """Unigram-LM subword vocabulary training (Kudo 2018 — the
    SentencePiece model; hard-EM variant), next to BPE as the second
    trained-tokenizer family every LLM-data pipeline chooses between:
    substring seeding → top-K vocab → alternating Viterbi
    re-segmentation (E) and count/prune re-estimation (M) on the
    word-frequency table.  Every loop quantity is an exact integer
    (counts; log-probs quantized to micro-nats BEFORE the DP), so the
    oracle re-derives the ENTIRE fit — seed counts, both vocab
    generations, every word's argmax segmentation with the
    (score, fewest-pieces, lexicographic) tie-break, and the final
    piece probabilities — and value-hashes it."""
    from opentsdb_aura_spark.operators.text import unigram_train

    return unigram_train(
        docs(spark, sf_dir),
        seed_max_len=_UNI_L,
        keep_multi=_UNI_K,
        n_rounds=_UNI_ROUNDS,
    )


@register("text_unigram_count", _unigram_count_oracle())
def text_unigram_count(spark, sf_dir):
    """Tokenize-with-trained-unigram-vocab (the bpe_subword_count
    twin): per-document Viterbi piece counts under the vocabulary
    text_unigram_train just fit — the number a token-budget pipeline
    actually consumes.  Distinct words segment ONCE (narrow pass,
    vocab as a literal map); per-doc counts are one explode + join +
    sum.  The oracle re-trains the same vocab and re-segments every
    word exhaustively with the identical integer-exact argmax."""
    from opentsdb_aura_spark.operators.text import unigram_apply, unigram_train_vocab

    d = docs(spark, sf_dir)
    vocab = unigram_train_vocab(
        d, seed_max_len=_UNI_L, keep_multi=_UNI_K, n_rounds=_UNI_ROUNDS
    )
    return unigram_apply(d, vocab, max_piece_len=_UNI_L)


@register("text_unigram_persisted_count", None)
def text_unigram_persisted_count(spark, sf_dir):
    """text_unigram_count THROUGH the persisted-vocabulary path: train
    the unigram-LM vocab, WRITE its (piece, cnt, prob) table as a
    Parquet dim (unigram_vocab_save), load it back and re-derive the
    micro-nat log-probs from the loaded INTEGER counts (the same
    Laplace + quantize rule, integer-exact), then segment the corpus
    from the LOADED vocab.  Pinned to the in-memory query's oracle —
    a hash-green result proves the persisted tokenizer segments
    identically to the one just trained."""
    import os

    from opentsdb_aura_spark.operators.artifacts import (
        unigram_vocab_load,
        unigram_vocab_save,
    )
    from opentsdb_aura_spark.operators.text import unigram_apply, unigram_train
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    d = docs(spark, sf_dir)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(STORE_ROOT, base, "unigram_vocab_v1")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        unigram_vocab_save(
            unigram_train(
                d, seed_max_len=_UNI_L, keep_multi=_UNI_K, n_rounds=_UNI_ROUNDS
            ),
            path,
        )
    return unigram_apply(d, unigram_vocab_load(spark, path), max_piece_len=_UNI_L)


ORACLES["text_unigram_persisted_count"] = ORACLES["text_unigram_count"]


@register(
    "quality_kn_scores",
    r"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents),
bg AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS bigram,
              toks[i+1] AS w1, toks[i+2] AS w2
       FROM d, unnest(range(0, greatest(len(toks) - 1, 0))) AS t(i)),
bgc AS (SELECT bigram, CAST(count(*) AS DOUBLE) AS bcnt FROM bg GROUP BY 1),
pref AS (SELECT w1, CAST(count(*) AS DOUBLE) AS ptot,
                CAST(count(DISTINCT w2) AS DOUBLE) AS nfollow FROM bg GROUP BY 1),
cont AS (SELECT w2, CAST(count(DISTINCT w1) AS DOUBLE) AS nprec FROM bg GROUP BY 1),
ty AS (SELECT CAST(count(DISTINCT bigram) AS DOUBLE) AS ntypes FROM bg),
s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(ln(greatest(bcnt - 0.75, 0) / ptot
                          + 0.75 * nfollow / ptot * nprec / ntypes)), 4) AS avg_logprob
      FROM bg JOIN bgc USING (bigram) JOIN pref USING (w1) JOIN cont USING (w2)
           CROSS JOIN ty
      GROUP BY 1)
SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.avg_logprob
FROM d LEFT JOIN s USING (doc_id)""",
)
def quality_kn_scores(spark, sf_dir):
    """Interpolated Kneser–Ney bigram perplexity signal — the
    smoothing family CCNet's KenLM actually uses, next to the Laplace
    proxy: absolute discounting with CONTINUATION-probability backoff
    (distinct left-context counts, not raw frequency).  The oracle
    refits every count table (bigram counts, prefix totals, follower
    types, continuation types, the type total) and re-derives each
    doc's mean log-probability, so the discount arithmetic and the
    continuation distribution are value-hashed; unscorable <2-token
    docs surface with NULL, never vanish."""
    from opentsdb_aura_spark.operators.quality import lm_kn_scores

    res = lm_kn_scores(docs(spark, sf_dir), discount=0.75)
    return res.select("doc_id", "n_bigrams", _r("avg_logprob", 4).alias("avg_logprob"))


@register(
    "quality_kn3_scores",
    r"""WITH d AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents),
tg AS MATERIALIZED (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2, toks[i+3] AS w3
       FROM d, unnest(range(0, greatest(len(toks) - 2, 0))) AS t(i)),
c3 AS MATERIALIZED (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS c FROM tg GROUP BY 1, 2, 3),
hi AS MATERIALIZED (SELECT w1, w2, sum(c) AS ctot,
              sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END) AS n1f,
              sum(CASE WHEN c = 2 THEN 1.0 ELSE 0.0 END) AS n2f,
              sum(CASE WHEN c >= 3 THEN 1.0 ELSE 0.0 END) AS n3f
       FROM c3 GROUP BY 1, 2),
cc2 AS MATERIALIZED (SELECT w2, w3, CAST(count(*) AS DOUBLE) AS cc FROM c3 GROUP BY 1, 2),
mid AS MATERIALIZED (SELECT w2, sum(cc) AS cctot,
               sum(CASE WHEN cc = 1 THEN 1.0 ELSE 0.0 END) AS m1f,
               sum(CASE WHEN cc = 2 THEN 1.0 ELSE 0.0 END) AS m2f,
               sum(CASE WHEN cc >= 3 THEN 1.0 ELSE 0.0 END) AS m3f
        FROM cc2 GROUP BY 1),
u1 AS MATERIALIZED (SELECT w3, CAST(count(*) AS DOUBLE) AS uc FROM cc2 GROUP BY 1),
ut AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS u FROM cc2),
dhi AS MATERIALIZED __DHI__,
dmid AS MATERIALIZED __DMID__,
s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
             round(avg(ln(
               greatest(c - CASE WHEN c = 1 THEN d1 WHEN c = 2 THEN d2 ELSE d3 END, 0.0) / ctot
               + (d1 * n1f + d2 * n2f + d3 * n3f) / ctot
                 * (greatest(cc - CASE WHEN cc = 1 THEN e1 WHEN cc = 2 THEN e2 ELSE e3 END, 0.0) / cctot
                    + (e1 * m1f + e2 * m2f + e3 * m3f) / cctot * (uc / u)))), 4) AS avg_logprob
      FROM tg JOIN c3 USING (w1, w2, w3) JOIN hi USING (w1, w2)
           JOIN cc2 USING (w2, w3) JOIN mid USING (w2) JOIN u1 USING (w3)
           CROSS JOIN ut CROSS JOIN dhi CROSS JOIN dmid
      GROUP BY 1)
SELECT d.doc_id, coalesce(s.n_trigrams, 0) AS n_trigrams, s.avg_logprob
FROM d LEFT JOIN s USING (doc_id)""".replace(
        "__DHI__", _kn3_coc_sql("c3", "c", "d")
    ).replace("__DMID__", _kn3_coc_sql("cc2", "cc", "e")),
)
def quality_kn3_scores(spark, sf_dir):
    """Trigram MODIFIED Kneser–Ney perplexity signal (Chen & Goodman
    1999 — KenLM's default smoothing at the engine-native order 3),
    generalizing quality_kn_scores' fixed-discount bigram form:
    count-dependent discounts D1/D2/D3+ estimated from the trigram
    count-of-counts at BOTH backoff levels, a continuation-count
    middle order, and the type-diversity unigram floor.  The oracle
    refits the entire estimator — trigram counts, both context
    tables, both count-of-count discount triples, the continuation
    distribution — and re-derives each doc's mean log-probability, so
    the modified-discount arithmetic is value-hashed end to end;
    unscorable <3-token docs surface with n_trigrams 0 and NULL
    score, never vanish."""
    from opentsdb_aura_spark.operators.quality import lm_kn_scores_order

    res = lm_kn_scores_order(docs(spark, sf_dir), order=3)
    return res.select(
        "doc_id",
        F.col("n_ngrams").alias("n_trigrams"),
        _r("avg_logprob", 4).alias("avg_logprob"),
    )


def _kn_order_oracle(N: int, count_alias: str) -> str:
    """Standalone oracle for quality_kn{N}_scores: the knd tokenize
    CTE over documents + the shared tower parts + the doc spine."""
    head = r"""knd AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
           FROM documents)"""
    parts = [head] + _kn_order_parts(N, count_alias, "knd")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT knd.doc_id, coalesce(kns.{count_alias}, 0) AS {count_alias}, kns.avg_logprob
FROM knd LEFT JOIN kns USING (doc_id)"""
    )


@register("quality_kn5_scores", _kn_order_oracle(5, "n_5grams"))
def quality_kn5_scores(spark, sf_dir):
    """5-gram MODIFIED Kneser–Ney perplexity signal — the EXACT
    estimator CCNet filters on (Wenzek et al. 2020 train a 5-gram
    modified-KN KenLM; this is that model, corpus-fit): raw counts at
    order 5, continuation-count backoff through orders 4→3→2, the
    type-diversity unigram floor, and count-dependent D1/D2/D3+
    discounts at EVERY level from that level's count-of-counts.  The
    oracle re-derives the whole tower — five count tables, four
    context dims, four discount triples, the nested interpolation in
    the identical float association — so the production-order
    estimator is value-hashed end to end; <5-token docs surface with
    n_5grams 0 and NULL score, never vanish."""
    from opentsdb_aura_spark.operators.quality import lm_kn_scores_order

    res = lm_kn_scores_order(docs(spark, sf_dir), order=5)
    return res.select(
        "doc_id",
        F.col("n_ngrams").alias("n_5grams"),
        _r("avg_logprob", 4).alias("avg_logprob"),
    )


def _kn_heldout_oracle(N: int, count_alias: str) -> str:
    """Re-fit the order-``N`` tower on the TRAIN slice (doc_id % 10
    <> 0) and re-score the HELD-OUT slice (doc_id % 10 = 0) with the
    full OOV backoff — lm_kn_score's recursion (coalesced counts,
    unseen-context pass-through, discounted-unigram + uniform unknown
    floor) in the SAME textual nesting the Spark Column expression
    builds, so every float associates identically before the
    4-decimal round."""
    cols = [f"w{j}" for j in range(1, N + 1)]
    wsel = ", ".join(f"toks[i+{j}] AS w{j}" for j in range(1, N + 1))
    tok_expr = (
        r"list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '')"
    )
    parts = [
        f"""knd_tr AS MATERIALIZED (SELECT doc_id, {tok_expr} AS toks
           FROM documents WHERE doc_id % 10 <> 0)""",
        f"""knd_ho AS MATERIALIZED (SELECT doc_id, {tok_expr} AS toks
           FROM documents WHERE doc_id % 10 = 0)""",
    ] + _kn_tower_parts(N, "knd_tr")
    parts.append(f"kn_dd1 AS MATERIALIZED {_kn3_coc_sql('kn_g1', 'c1', 'd1_')}")
    parts.append(
        """kn_x1 AS MATERIALIZED (SELECT sum(CASE WHEN c1 = 1 THEN 1.0 ELSE 0.0 END) AS n1f1,
              sum(CASE WHEN c1 = 2 THEN 1.0 ELSE 0.0 END) AS n2f1,
              sum(CASE WHEN c1 >= 3 THEN 1.0 ELSE 0.0 END) AS n3f1
       FROM kn_g1)"""
    )
    parts.append(
        "kn_ut AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS u FROM kn_g2)"
    )
    parts.append(
        """kn_vt AS MATERIALIZED (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
       FROM (SELECT unnest(toks) AS tok FROM knd_tr))"""
    )
    parts.append(
        f"""kn_hog AS MATERIALIZED (SELECT doc_id, {wsel}
       FROM knd_ho, unnest(range(0, greatest(len(toks) - {N - 1}, 0))) AS _kt(i))""",
    )
    parts.append(
        f"kn_typ AS MATERIALIZED (SELECT DISTINCT {', '.join(cols)} FROM kn_hog)"
    )
    c1v = "coalesce(c1, 0.0)"
    p = (
        f"greatest({c1v} - CASE WHEN {c1v} = 1 THEN d1_1 WHEN {c1v} = 2 THEN d1_2 ELSE d1_3 END, 0.0) / u"
        " + (d1_1 * n1f1 + d1_2 * n2f1 + d1_3 * n3f1) / u * (1.0 / (v + 1.0))"
    )
    for k in range(2, N + 1):
        ckv = f"coalesce(c{k}, 0.0)"
        d_of = f"CASE WHEN {ckv} = 1 THEN d{k}_1 WHEN {ckv} = 2 THEN d{k}_2 ELSE d{k}_3 END"
        gamma = f"(d{k}_1 * n1f{k} + d{k}_2 * n2f{k} + d{k}_3 * n3f{k}) / tot{k}"
        p = (
            f"CASE WHEN tot{k} IS NULL THEN ({p}) "
            f"ELSE greatest({ckv} - {d_of}, 0.0) / tot{k} + {gamma} * ({p}) END"
        )
    gram_joins = "\n           ".join(
        f"LEFT JOIN kn_g{k} USING ({', '.join(cols[N - k :])})"
        for k in range(N, 0, -1)
    )
    ctx_joins = "\n           ".join(
        f"LEFT JOIN kn_x{k} USING ({', '.join(cols[N - k : N - 1])})"
        for k in range(N, 1, -1)
    )
    dd_joins = "\n           ".join(
        f"CROSS JOIN kn_dd{k}" for k in range(N, 0, -1)
    )
    # a probability-0 n-gram scores -inf, as lm_kn_score does on both
    # paths (DuckDB's ln(0) raises); p is evaluated once, in kn_p
    parts.append(
        f"""kn_p AS MATERIALIZED (SELECT {', '.join(cols)}, {p} AS _p
      FROM kn_typ
           {gram_joins}
           {ctx_joins}
           {dd_joins}
           CROSS JOIN kn_ut CROSS JOIN kn_vt CROSS JOIN kn_x1)"""
    )
    parts.append(
        f"""kn_sc AS MATERIALIZED (SELECT {', '.join(cols)},
             CASE WHEN _p = 0 THEN CAST('-inf' AS DOUBLE) ELSE ln(_p) END AS _lp
      FROM kn_p)"""
    )
    parts.append(
        f"""kns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS {count_alias},
             round(avg(_lp), 4) AS avg_logprob
      FROM kn_hog JOIN kn_sc USING ({', '.join(cols)})
      GROUP BY 1)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT knd_ho.doc_id, coalesce(kns.{count_alias}, 0) AS {count_alias}, kns.avg_logprob
FROM knd_ho LEFT JOIN kns USING (doc_id)"""
    )


def _kn_heldout_buckets_oracle(N: int) -> str:
    """The held-out tower + scores, reduced to CCNet §4.3's
    per-language tercile table: the same fit/score CTE chain as
    _kn_heldout_oracle (the final doc-spine SELECT swapped for the
    bkt tail the ccnet oracles use — ntile on the ROUNDED scores,
    NULLs last, doc_id tiebreak)."""
    base = _kn_heldout_oracle(N, "n_ngrams")
    tail_anchor = f"\nSELECT knd_ho.doc_id, coalesce(kns.n_ngrams, 0)"
    idx = base.rindex(tail_anchor)
    return (
        base[:idx]
        + """,
hob AS (SELECT knd_ho.doc_id, d.lang, kns.avg_logprob
        FROM knd_ho LEFT JOIN kns USING (doc_id)
        JOIN documents d ON d.doc_id = knd_ho.doc_id)
SELECT doc_id, lang, avg_logprob,
       CASE ntile(3) OVER (PARTITION BY lang
                           ORDER BY avg_logprob DESC NULLS LAST, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM hob"""
    )


def _kn5_heldout_frames(spark, sf_dir):
    d = docs(spark, sf_dir)
    train = d.where(F.col("doc_id") % 10 != 0)
    held = d.where(F.col("doc_id") % 10 == 0)
    return train, held


@register("quality_kn5_apply_heldout", _kn_heldout_oracle(5, "n_5grams"))
def quality_kn5_apply_heldout(spark, sf_dir):
    """The CCNet DEPLOYMENT semantic the in-corpus scorers lack
    (Wenzek et al. 2020 §4.3 train KenLM on Wikipedia, score Common
    Crawl): fit the 5-gram modified-KN tower on the 90% train slice
    (doc_id % 10 <> 0), score the HELD-OUT 10% — with full OOV
    backoff instead of the inner-join vanish: an unseen 5-gram backs
    off through the tower (unseen context = pass-through), and the
    unigram level is itself discounted with the released mass
    interpolating a uniform 1/(v+1) unknown floor, so even an OOV
    WORD scores finite.  The oracle re-fits the whole tower on the
    same train slice and replays the backoff recursion in identical
    float association, so the held-out estimator — not just the
    in-corpus fit — is value-hashed; the split exercises every OOV
    path by construction (held-out docs carry n-grams, contexts, and
    count cells absent from the train tower)."""
    from opentsdb_aura_spark.operators.quality import lm_kn_fit, lm_kn_score

    train, held = _kn5_heldout_frames(spark, sf_dir)
    model = lm_kn_fit(train, order=5)
    res = lm_kn_score(model, held)
    return res.select(
        "doc_id",
        F.col("n_ngrams").alias("n_5grams"),
        _r("avg_logprob", 4).alias("avg_logprob"),
    )


@register("quality_kn5_heldout_persisted", _kn_heldout_oracle(5, "n_5grams"))
def quality_kn5_heldout_persisted(spark, sf_dir):
    """quality_kn5_apply_heldout THROUGH the persisted-model path:
    fit the tower on the train slice, WRITE it as Parquet dims
    (lm_kn_save — count tables, context dims, discount triples,
    totals), load it back (lm_kn_load), and score the held-out slice
    from the LOADED model.  Same oracle as the in-memory query:
    doubles round-trip Parquet bit-exactly, so a hash-green result
    proves train-once-score-everywhere persistence end to end (the
    ANN persisted-index pattern for language models)."""
    import os

    from opentsdb_aura_spark.operators.quality import (
        lm_kn_fit,
        lm_kn_load,
        lm_kn_save,
        lm_kn_score,
    )
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    train, held = _kn5_heldout_frames(spark, sf_dir)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(STORE_ROOT, base, "kn5_heldout_model_v1")
    if not os.path.exists(os.path.join(path, "tot", "_SUCCESS")):
        lm_kn_save(lm_kn_fit(train, order=5), path)
    res = lm_kn_score(lm_kn_load(spark, path), held)
    return res.select(
        "doc_id",
        F.col("n_ngrams").alias("n_5grams"),
        _r("avg_logprob", 4).alias("avg_logprob"),
    )


@register("quality_kn5_heldout_ppl_buckets", _kn_heldout_buckets_oracle(5))
def quality_kn5_heldout_ppl_buckets(spark, sf_dir):
    """CCNet §4.3's head/middle/tail split computed the way the PAPER
    does it — per-language perplexity terciles of a HELD-OUT corpus
    under a model trained elsewhere (the in-corpus ccnet variants
    tercile the training corpus itself): fit the 5-gram tower on the
    90% train slice, score the held-out 10% with full OOV backoff,
    and ntile each language's held-out docs on the rounded scores
    (NULL-scored short docs sort into the tail, doc_id tiebreak).
    The oracle re-fits, re-scores, and re-buckets end to end, so the
    tercile labels a curation mix consumes are value-hashed against
    the held-out estimator, not the training-corpus one."""
    from opentsdb_aura_spark.operators.quality import lm_kn_fit, lm_kn_score

    train, held = _kn5_heldout_frames(spark, sf_dir)
    model = lm_kn_fit(train, order=5)
    sc = lm_kn_score(model, held).select(
        "doc_id", _r("avg_logprob", 4).alias("avg_logprob")
    )
    return _ppl_terciles(held.select("doc_id", "lang").join(sc, "doc_id"))


@register(
    "corpus_line_dedup_docs",
    f"""{_LINES_SQL},
l AS (SELECT doc_id, unnest(range(0, len(lines))) AS pos, lines FROM d),
l2 AS (SELECT doc_id, pos, lines[pos + 1] AS line FROM l),
r AS (SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM l2)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN rn <= 1 THEN line END, chr(10) ORDER BY pos), '') AS cleaned_text,
       CAST(count(*) FILTER (rn <= 1) AS BIGINT) AS n_lines_kept,
       CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_lines_dropped
FROM r GROUP BY doc_id""",
)
def corpus_line_dedup_docs(spark, sf_dir):
    """C4-style corpus-wide line dedup (first occurrence by (doc_id,
    line position) wins; the tiny vocabulary makes cross-doc duplicate
    lines common).  One shuffle on the line key, one on doc_id."""
    from opentsdb_aura_spark.operators.quality import corpus_line_dedup

    return corpus_line_dedup(_docs_with_lines(spark, sf_dir))


# ------------------------------------------------------------------- OPQ


@register("ann_opq_topk")  # approximate: quantization error → rows-only check
def ann_opq_topk(spark, sf_dir):
    """Optimized-PQ ADC cosine top-5 (Ge et al.): a learned orthogonal
    rotation decorrelates the space before the subspace split, then
    the UNMODIFIED ADC LUT path scores codes in rotated space (cosine
    is rotation-invariant).  Encode pays one extra narrow matmul; the
    serve path is byte-identical to plain PQ.  Recall ≥ plain PQ on
    anisotropic data is asserted on a clustered fixture in
    tests/test_pipeline_ops.py; the rotation plumbing itself is
    value-hash-proven by ann_opq_exact_topk (R = identity)."""
    from opentsdb_aura_spark.operators.similarity import opq_train, pq_adc_topk, pq_encode

    e = embs(spark, sf_dir)
    rot, cbs = opq_train(e, m=8, k=16, opq_iters=4)
    codes = pq_encode(e, cbs, rotation=rot)
    res = pq_adc_topk(codes, e.where(F.col("vec_id") < 20), cbs, k=5, rotation=rot)
    return res.select("query_id", "neighbor_id", _r("pq_score", 6).alias("pq_score"))


@register("ann_opq_recall")  # rows-only: the recall metric IS the result
def ann_opq_recall(spark, sf_dir):
    """Driver-visible quality attestation for the trained OPQ path:
    recall@50 of the rotated-ADC shortlist against the exact cosine
    top-10, as a single result row (the r7 ann_pq_recall pattern).
    Bound asserted in test_rows_only_bounds.py; the ≥ plain-PQ
    comparison lives on the anisotropic fixture in
    test_pipeline_ops.py (this corpus is near-isotropic, where
    OPQ ≈ PQ by construction)."""
    from opentsdb_aura_spark.operators.similarity import (
        ann_recall_vs_exact,
        brute_force_topk,
        opq_train,
        pq_adc_topk,
        pq_encode,
    )

    e = embs(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20)
    rot, cbs = opq_train(e, m=8, k=16, opq_iters=4)
    approx = pq_adc_topk(pq_encode(e, cbs, rotation=rot), q, cbs, k=50, rotation=rot)
    exact = brute_force_topk(e, q, k=10)
    return ann_recall_vs_exact(exact, approx, k_exact=10, k_approx=50)


@register(
    "ann_opq_exact_topk",
    ORACLES["ann_pq_exact_topk"],
)
def ann_opq_exact_topk(spark, sf_dir):
    """The OPQ rotation plumbing under the FULL value-hash oracle:
    with R = identity (bit-exact under IEEE matmul — q·I adds only
    exact zeros) and the closed-form grid codebooks, the rotated
    encode/search path must produce EXACTLY what plain grid-PQ
    produces, so ann_pq_exact_topk's DuckDB oracle applies verbatim.
    Proves query rotation, rotated encode, and the shared LUT tail
    introduce no numeric drift; the LEARNED rotation keeps its recall
    bound (ann_opq_topk / ann_opq_recall)."""
    from opentsdb_aura_spark.operators.similarity import (
        _grid_codebooks,
        grid_decode,
        grid_quantize_vectors,
        pq_adc_topk,
    )

    e = embs(spark, sf_dir)
    head = e.select("embedding").head(1)
    dim = len(head[0][0])
    identity = [[1.0 if i == j else 0.0 for j in range(dim)] for i in range(dim)]
    cbs = _grid_codebooks(dim)
    codes = grid_quantize_vectors(e)
    dq_queries = grid_decode(grid_quantize_vectors(e.where(F.col("vec_id") < 20)))
    res = pq_adc_topk(codes, dq_queries, cbs, k=5, rotation=identity)
    return res.select("query_id", "neighbor_id", _r("pq_score", 6).alias("cos_sim"))


@register(
    "quality_badwords_flags",
    r"""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks
      FROM documents)
SELECT doc_id,
       CAST(len(list_filter(toks, x -> list_contains(['dup','obscene','xxx-badword'], x))) AS BIGINT) AS n_badword_hits,
       len(list_filter(toks, x -> list_contains(['dup','obscene','xxx-badword'], x))) = 0 AS ok_badwords
FROM t""",
)
def quality_badwords_flags(spark, sf_dir):
    """C4 §2.2 blocklist gate (Raffel et al. 2020: pages containing a
    blocklisted word are removed) over the corpus with the
    deterministic fixture blocklist ('dup' hits ~5% of docs — real
    C4-ish selectivity; the other entries never occur, proving the
    multi-entry list shape).  Whole-lowercase-token matching against a
    literal array — one codegen'd projection, zero shuffle, no join
    at any blocklist size a curation stack actually uses."""
    from opentsdb_aura_spark.operators.quality import badwords_flags

    return badwords_flags(docs(spark, sf_dir))


@register(
    "pipeline_ccnet_buckets",
    _BIGRAM_LM_SQL
    + r"""
SELECT doc_id, lang, avg_logprob,
       CASE ntile(3) OVER (PARTITION BY lang
                           ORDER BY avg_logprob DESC NULLS LAST, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM s2""",
)
def pipeline_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity split (Wenzek et al. 2020
    §4.3) per language: the corpus-fit bigram-LM score feeds a
    per-language tercile assignment — the mix signal a curation stack
    samples by.  The ENTIRE split is hash-checked: the oracle refits
    the same smoothed LM, re-rounds, and re-runs the tercile window
    with the identical (score DESC NULLS LAST, doc_id) order, so a
    ranking slip or an off-by-one in the bucket boundaries breaks the
    hash (the 4-decimal pre-round makes tie order engine-identical)."""
    from opentsdb_aura_spark.operators.quality import lm_bigram_scores

    scores = lm_bigram_scores(docs(spark, sf_dir), alpha=0.1).select(
        "doc_id", _r("avg_logprob", 4).alias("avg_logprob")
    )
    langs = docs_raw(spark, sf_dir).select("doc_id", "lang")
    return _ppl_terciles(langs.join(scores, "doc_id", "left"))


def _doc_graph_edges(spark, sf_dir):
    """The closed-form fixture link graph doc i -> (7i+1, 13i+2,
    23i+3) mod N as (src, dst): three edge families unioned, out-degree
    exactly 3 everywhere."""
    d = docs_raw(spark, sf_dir).select("doc_id")
    n = d.count()  # bounded scalar job: the node-space size
    edges = None
    for a, b in ((7, 1), (13, 2), (23, 3)):
        part = d.select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") * a + b, F.lit(n)).alias("dst"),
        )
        edges = part if edges is None else edges.unionByName(part)
    return edges


def _host_url(host_id, doc_id, n_hosts):
    """http://h<host_id mod n_hosts>.example/doc/<doc_id>: a fixture
    page URL whose host projects the doc graph onto n_hosts hosts."""
    return F.concat(
        F.lit("http://h"), F.pmod(host_id, F.lit(n_hosts)), F.lit(".example/doc/"), doc_id.cast("string")
    )


def _host_page_edges(spark, sf_dir, n_hosts):
    """The single (13i+2) edge family as (src_url, dst_url) page URLs
    on n_hosts fixture hosts: the input of the host-graph queries.
    Returns (docs, page_edges)."""
    d = docs_raw(spark, sf_dir).select("doc_id")
    n = d.count()  # bounded scalar job: the node-space size
    dst = F.pmod(F.col("doc_id") * 13 + 2, F.lit(n))
    page_edges = d.select(
        _host_url(F.col("doc_id"), F.col("doc_id"), n_hosts).alias("src_url"),
        _host_url(dst, dst, n_hosts).alias("dst_url"),
    )
    return d, page_edges


# The fixture link graph's oracle CTEs, shared by the graph queries:
# the node count ``c``, the three edge families (the doc-graph edges
# of _doc_graph_edges), the single 13i+2 family ``pe`` of the host-graph
# queries and its projection onto fixture hosts ``he``.
_GRAPH_C = "WITH c AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents),\n"
_PE_SQL = _GRAPH_C + "pe AS (SELECT doc_id AS src, (doc_id * 13 + 2) % cnt AS dst FROM documents, c)"


def _graph_edges_sql(name: str) -> str:
    return f"""{_GRAPH_C}{name} AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % cnt AS dst FROM documents, c
  UNION ALL SELECT doc_id, (doc_id * 13 + 2) % cnt FROM documents, c
  UNION ALL SELECT doc_id, (doc_id * 23 + 3) % cnt FROM documents, c)"""


def _host_edges_sql(n_hosts: int, src: str) -> str:
    return f"""he AS (
  SELECT 'h' || (src % {n_hosts}) || '.example' AS sh,
         'h' || (dst % {n_hosts}) || '.example' AS dh,
         CAST(count(*) AS DOUBLE) AS w
  FROM {src} WHERE (src % {n_hosts}) <> (dst % {n_hosts}) GROUP BY 1, 2)"""


# Unrolled power iteration (3 rounds) over the closed-form fixture
# graph doc i -> (7i+1, 13i+2, 23i+3) mod N: out-degree is exactly 3
# everywhere (no dangling mass), so each round is
# rank' = 0.15/N + 0.85 * sum(in-neighbor rank / 3).
_PR_ROUND = """SELECT d.doc_id AS node,
       0.15 / c.cnt + 0.85 * coalesce(m.s, 0) AS rank
FROM documents d CROSS JOIN c
LEFT JOIN (SELECT e.dst, sum(r.rank / 3) AS s
           FROM e JOIN {prev} r ON e.src = r.node GROUP BY 1) m
  ON d.doc_id = m.dst"""
_PR_ITERS = f"""r0 AS (SELECT doc_id AS node, 1.0 / cnt AS rank FROM documents, c),
i1 AS ({_PR_ROUND.format(prev="r0")}),
i2 AS ({_PR_ROUND.format(prev="i1")}),
i3 AS ({_PR_ROUND.format(prev="i2")})"""


@register(
    "pipeline_pagerank",
    f"""{_graph_edges_sql("e")},
{_PR_ITERS}
SELECT node, round(rank, 6) AS rank FROM i3""",
)
def pipeline_pagerank(spark, sf_dir):
    """Link-graph authority for frontier prioritization / corpus
    weighting (the centrality family the public Common Crawl host
    ranking computes over its WAT link graph): PageRank by power
    iteration, each round one map-side-combined groupBy + one left
    join, unrolled into the plan with no driver state.  The oracle
    unrolls the SAME three iterations in SQL over the closed-form
    fixture graph (uniform out-degree 3, so dangling handling is
    exercised as a provably-zero term), value-hashing every node's
    rank — the iterative-algorithm semantics, not just row counts.
    Scale: each round shuffles the edge list once on dst; rank state
    is one row per node; localCheckpoint keeps the plan flat at any
    iteration count."""
    from opentsdb_aura_spark.operators.corpus import pagerank

    edges = _doc_graph_edges(spark, sf_dir)
    pr = pagerank(edges, n_iter=3)
    return pr.select("node", _r("rank", 6).alias("rank"))


@register(
    "pipeline_frontier_rank",
    f"""{_graph_edges_sql("e")},
{_PR_ITERS}
SELECT 'http://example.com/doc/' || e.dst AS frontier_url,
       round(0.85 * sum(r.rank / 3), 6) AS priority,
       CAST(count(*) AS BIGINT) AS n_refs
FROM e JOIN i3 r ON e.src = r.node
GROUP BY 1""",
)
def pipeline_frontier_rank(spark, sf_dir):
    """The authority signal FED BACK into crawl scheduling — the
    actual use of PageRank in a crawler: candidate priority = the rank
    mass its in-links deliver (damping × Σ rank(src)/outdeg(src), one
    power-iteration round restricted to the frontier), next to the raw
    reference count a naive scheduler would use.  The oracle unrolls
    the SAME three PageRank iterations in SQL over the closed-form
    fixture graph and re-derives every candidate's priority and count,
    so the rank computation AND the scheduling weighting are
    value-hashed end-to-end.  Scale shape: one join of the edge list
    onto O(nodes) rank state + one map-side-combined groupBy on dst —
    exactly one more pagerank round, no new shuffle pattern."""
    from opentsdb_aura_spark.operators.corpus import frontier_priorities, pagerank

    edges = _doc_graph_edges(spark, sf_dir)
    pr = pagerank(edges, n_iter=3)
    out = frontier_priorities(edges, pr)
    return out.select(
        F.concat(F.lit("http://example.com/doc/"), F.col("dst").cast("long")).alias("frontier_url"),
        _r("priority", 6).alias("priority"),
        F.col("n_refs").cast("long").alias("n_refs"),
    )


# Weighted PageRank round over the fixture HOST graph: contributions
# are rank * edge_weight / out_weight (proportional split), no
# dangling term (every fixture host has cross-host out-edges).
_HR_ROUND = """SELECT hn.host AS node,
       0.15 / H.nh + 0.85 * coalesce(m.s, 0) AS rank
FROM hn CROSS JOIN H
LEFT JOIN (SELECT he.dh AS dst, sum(r.rank * he.w / o.ow) AS s
           FROM he JOIN {prev} r ON he.sh = r.node
           JOIN outw o ON he.sh = o.sh GROUP BY 1) m
  ON hn.host = m.dst"""
# the host-graph nodes, node count, out-weights and the three rounds
_HR_ITERS = f"""hn AS (SELECT DISTINCT sh AS host FROM he UNION SELECT DISTINCT dh FROM he),
H AS (SELECT CAST(count(*) AS BIGINT) AS nh FROM hn),
outw AS (SELECT sh, sum(w) AS ow FROM he GROUP BY 1),
r0 AS (SELECT host AS node, 1.0 / nh AS rank FROM hn, H),
i1 AS ({_HR_ROUND.format(prev="r0")}),
i2 AS ({_HR_ROUND.format(prev="i1")}),
i3 AS ({_HR_ROUND.format(prev="i2")})"""


@register(
    "pipeline_host_rank",
    f"""{_graph_edges_sql("e")},
{_host_edges_sql(4, "e")},
{_HR_ITERS}
SELECT node, round(rank, 6) AS rank FROM i3""",
)
def pipeline_host_rank(spark, sf_dir):
    """Host-level authority — the granularity the public Common Crawl
    rankings are computed at: the page link graph PROJECTS onto the
    host graph (lowercased hosts, self-loops dropped, inter-host link
    counts as weights), then WEIGHTED PageRank splits each host's rank
    proportionally to edge weight instead of uniformly.  The oracle
    re-projects the closed-form fixture graph in SQL and unrolls the
    same three weighted iterations, value-hashing every host's rank —
    the projection, the weighting, AND the iteration are pinned
    together.  Scale shape: the projection groupBy REDUCES the graph
    (billions of pages → tens of millions of hosts) before any
    iteration touches it; each round is then one groupBy + one join
    over the small host state."""
    from opentsdb_aura_spark.operators.corpus import host_graph, pagerank

    url = lambda c: _host_url(F.col(c), F.col(c), 4)  # noqa: E731
    edges = _doc_graph_edges(spark, sf_dir)
    page_edges = edges.select(url("src").alias("src_url"), url("dst").alias("dst_url"))
    hg = host_graph(page_edges)
    pr = pagerank(hg, n_iter=3, src_col="src_host", dst_col="dst_host", weight_col="n_links")
    return pr.select("node", _r("rank", 6).alias("rank"))


# Radius-3 BFS layers over the closed-form fixture graph, unrolled in
# SQL: layer r joins the (r-1) layer onto the edge list and excludes
# every pair already discovered closer — first discovery IS the
# shortest distance, the same invariant the Spark operator relies on.
_HC_LAYERS = """d1 AS (SELECT src AS u, dst AS v FROM e),
d2 AS (SELECT DISTINCT d1.u, e.dst AS v FROM d1 JOIN e ON d1.v = e.src
       WHERE d1.u <> e.dst
         AND NOT EXISTS (SELECT 1 FROM d1 p WHERE p.u = d1.u AND p.v = e.dst)),
d3 AS (SELECT DISTINCT d2.u, e.dst AS v FROM d2 JOIN e ON d2.v = e.src
       WHERE d2.u <> e.dst
         AND NOT EXISTS (SELECT 1 FROM d1 p WHERE p.u = d2.u AND p.v = e.dst)
         AND NOT EXISTS (SELECT 1 FROM d2 p WHERE p.u = d2.u AND p.v = e.dst)),
pairs AS (SELECT u, v, 1 AS dist FROM d1
          UNION ALL SELECT u, v, 2 FROM d2
          UNION ALL SELECT u, v, 3 FROM d3)"""


@register(
    "pipeline_harmonic_centrality",
    f"""{_graph_edges_sql("e0")},
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
{_HC_LAYERS}
SELECT d.doc_id AS node,
       round(coalesce(sum(1.0 / dist), 0), 6) AS harmonic,
       CAST(count(pairs.u) AS BIGINT) AS n_within
FROM documents d LEFT JOIN pairs ON d.doc_id = pairs.v
GROUP BY 1""",
)
def pipeline_harmonic_centrality(spark, sf_dir):
    """Radius-bounded harmonic centrality H(v) = Σ 1/d(u,v) over the
    closed-form fixture graph — the OTHER half of the public Common
    Crawl host-ranking signal next to PageRank (pipeline_pagerank),
    measuring how CLOSE the graph is to v rather than how much rank
    flows in.  BFS layer expansion unrolled into the plan: each layer
    is one equi-join + one anti-join against the discovered pair set
    (first discovery = shortest distance).  The oracle unrolls the
    SAME three layers in SQL, value-hashing every node's centrality
    AND ball size, so a layer that leaks an already-discovered pair
    (double-counting a shorter distance) breaks the hash.  Scale: the
    exact form is for REDUCED graphs (host/domain projection); the
    page-scale path is pipeline_harmonic_hyperball's HLL counters."""
    from opentsdb_aura_spark.operators.corpus import harmonic_centrality

    edges = _doc_graph_edges(spark, sf_dir)
    hc = harmonic_centrality(edges, max_dist=3)
    return hc.select("node", _r("harmonic", 6).alias("harmonic"), "n_within")


@register(
    "pipeline_host_centrality",
    f"""{_PE_SQL},
e AS (SELECT DISTINCT 'h' || (src % 16) || '.example' AS src,
                      'h' || (dst % 16) || '.example' AS dst
      FROM pe WHERE (src % 16) <> (dst % 16)),
{_HC_LAYERS}
SELECT n.node, round(coalesce(sum(1.0 / dist), 0), 6) AS harmonic,
       CAST(count(pairs.u) AS BIGINT) AS n_within
FROM (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e) n
LEFT JOIN pairs ON n.node = pairs.v
GROUP BY 1""",
)
def pipeline_host_centrality(spark, sf_dir):
    """Harmonic centrality at HOST granularity — the actual Common
    Crawl ranking artifact shape: the page link graph PROJECTS onto
    the host graph first (host_graph — lowercase, port-strip,
    self-loops drop), then the radius-3 exact harmonic runs over the
    REDUCED graph, which is why the exact form is tractable where the
    page-level graph needs HyperBall.  A single edge family with
    host = doc_id % 16 makes the host graph a sparse near-functional
    map, so layers 2 and 3 carry real distances (an all-dense fixture
    would never exercise the anti-join).  The oracle re-projects and
    re-expands identically in SQL — projection and BFS are pinned
    together."""
    from opentsdb_aura_spark.operators.corpus import harmonic_centrality, host_graph

    _, page_edges = _host_page_edges(spark, sf_dir, 16)
    hg = host_graph(page_edges)
    hc = harmonic_centrality(hg, max_dist=3, src_col="src_host", dst_col="dst_host")
    return hc.select("node", _r("harmonic", 6).alias("harmonic"), "n_within")


@register(
    "pipeline_host_ranking",
    f"""{_PE_SQL},
{_host_edges_sql(8, "pe")},
{_HR_ITERS},
e AS (SELECT DISTINCT sh AS src, dh AS dst FROM he),
{_HC_LAYERS},
hc AS (SELECT n.host AS node, coalesce(sum(1.0 / dist), 0) AS harmonic,
              CAST(count(pairs.u) AS BIGINT) AS n_within
       FROM hn n LEFT JOIN pairs ON n.host = pairs.v GROUP BY 1)
SELECT i3.node AS host, round(i3.rank, 6) AS rank, round(hc.harmonic, 6) AS harmonic,
       hc.n_within,
       CAST(rank() OVER (ORDER BY round(i3.rank, 6) DESC, i3.node) AS BIGINT) AS rank_pos,
       CAST(rank() OVER (ORDER BY round(hc.harmonic, 6) DESC, i3.node) AS BIGINT) AS harmonic_pos
FROM i3 JOIN hc ON i3.node = hc.node""",
)
def pipeline_host_ranking(spark, sf_dir):
    """The combined host-ranking ARTIFACT — the shape the public
    Common Crawl host ranks ship in: one table per host with BOTH
    centrality signals (weighted PageRank = how much endorsement mass
    flows in; harmonic = how close the graph sits) plus each signal's
    rank position, over ONE shared host-graph projection.  The two
    signals disagree by construction (a host pointed at by one heavy
    linker ranks high on PageRank but not on closeness), which is why
    the real artifact carries both columns.  The oracle re-projects
    the graph once and re-runs BOTH unrolled computations plus the
    position windows in SQL — the projection, both iterations, the
    join, and the orderings are all value-hashed together.  Positions
    rank over the 6-decimal-rounded signals (engine-stable ordering;
    ties break by host).  Scale: projection reduces first; both
    signals then run over the small host state; the position windows
    sort O(hosts), not O(pages)."""
    from pyspark.sql.window import Window

    from opentsdb_aura_spark.operators.corpus import (
        harmonic_centrality,
        host_graph,
        pagerank,
    )

    _, page_edges = _host_page_edges(spark, sf_dir, 8)
    hg = host_graph(page_edges).localCheckpoint()  # ONE projection, two consumers
    pr = pagerank(hg, n_iter=3, src_col="src_host", dst_col="dst_host", weight_col="n_links")
    hc = harmonic_centrality(hg, max_dist=3, src_col="src_host", dst_col="dst_host")
    joined = pr.join(hc, "node").select(
        F.col("node").alias("host"),
        _r("rank", 6).alias("rank"),
        _r("harmonic", 6).alias("harmonic"),
        "n_within",
    )
    wr = Window.orderBy(F.col("rank").desc(), F.col("host"))
    wh = Window.orderBy(F.col("harmonic").desc(), F.col("host"))
    return joined.select(
        "host", "rank", "harmonic", "n_within",
        F.rank().over(wr).cast("long").alias("rank_pos"),
        F.rank().over(wh).cast("long").alias("harmonic_pos"),
    )


@register(
    "pipeline_closeness_centrality",
    f"""{_graph_edges_sql("e0")},
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
{_HC_LAYERS}
SELECT d.doc_id AS node,
       CAST(count(pairs.u) AS BIGINT) AS n_within,
       round(coalesce(sum(CAST(dist AS DOUBLE)), 0), 6) AS sum_dist,
       round(CASE WHEN coalesce(sum(dist), 0) > 0
                  THEN count(pairs.u) / sum(CAST(dist AS DOUBLE)) ELSE 0 END, 6)
         AS closeness,
       round(CASE WHEN coalesce(sum(dist), 0) > 0
                  THEN count(pairs.u) * count(pairs.u) / sum(CAST(dist AS DOUBLE))
                  ELSE 0 END, 6) AS lin
FROM documents d LEFT JOIN pairs ON d.doc_id = pairs.v
GROUP BY 1""",
)
def pipeline_closeness_centrality(spark, sf_dir):
    """Closeness and Lin's index from the SAME radius-bounded pair
    set as pipeline_harmonic_centrality — the full centrality triple
    the HyperBall literature computes from one counter (harmonic;
    classic closeness = reached/Σd; Lin's index = reached²/Σd, which
    keeps truncated/disconnected balls comparable where closeness
    degenerates to rewarding tiny reachable sets).  The exact BFS
    operator now surfaces the distance SUM alongside the harmonic
    sum; the HyperBall twin accumulates the same Σ r·Δ|B| from the
    registers already paid for (its agreement is pinned in the bounds
    suite).  The oracle re-expands the identical three layers and
    recomputes all three indices — unreachable nodes report 0, not
    NULL or a division abort."""
    from opentsdb_aura_spark.operators.corpus import harmonic_centrality

    edges = _doc_graph_edges(spark, sf_dir)
    hc = harmonic_centrality(edges, max_dist=3)
    nz = F.col("sum_dist") > 0
    return hc.select(
        "node",
        "n_within",
        _r("sum_dist", 6).alias("sum_dist"),
        _r(F.when(nz, F.col("n_within") / F.col("sum_dist")).otherwise(0.0), 6).alias(
            "closeness"
        ),
        _r(
            F.when(nz, F.col("n_within") * F.col("n_within") / F.col("sum_dist")).otherwise(
                0.0
            ),
            6,
        ).alias("lin"),
    )


@register(
    "pipeline_authority_sample",
    f"""{_PE_SQL},
{_host_edges_sql(8, "pe")},
{_HR_ITERS},
dk AS (SELECT doc_id, 'h' || (doc_id % 8) || '.example' AS host,
             list_reduce(list_transform(str_split(substr(md5(doc_id || ':asample'), 1, 13), ''),
               c2 -> strpos('0123456789abcdef', c2) - 1), (a, b) -> a * 16 + b) AS hv
      FROM documents),
k AS (SELECT dk.doc_id, dk.host, round(i3.rank, 6) AS hr,
             pow((hv + 1.0) / 4503599627370498.0, 1.0 / round(i3.rank, 6)) AS sk
      FROM dk JOIN i3 ON dk.host = i3.node),
r AS (SELECT *, row_number() OVER (ORDER BY sk DESC, doc_id) AS rn FROM k)
SELECT doc_id, host, round(hr, 6) AS host_rank, round(sk, 10) AS sample_key
FROM r WHERE rn <= 20""",
)
def pipeline_authority_sample(spark, sf_dir):
    """What the host-authority signal is FOR on the corpus side:
    training-data sampling weighted by the document's host rank (docs
    from endorsed hosts are drawn proportionally more — the quality-
    mix knob curation stacks expose), composed as weighted PageRank
    over the host-graph projection joined onto the docs and fed
    through the deterministic A-ES sampler (Efraimidis–Spirakis over
    md5 uniforms).  Ranks round to 6 decimals BEFORE the pow on both
    engines so the sampling keys are engine-stable; the oracle
    re-runs the projection, the three weighted iterations, the join,
    and the exact top-20 draw — the graph signal and the sampler are
    value-hashed as one chain.  Scale: the host dim is tiny after
    projection (AQE broadcasts the join onto docs); the sampler is a
    rank-filter, no global sort beyond top-k."""
    from opentsdb_aura_spark.operators.corpus import (
        host_graph,
        pagerank,
        weighted_sample,
    )

    d, page_edges = _host_page_edges(spark, sf_dir, 8)
    hr = pagerank(
        host_graph(page_edges), n_iter=3,
        src_col="src_host", dst_col="dst_host", weight_col="n_links",
    ).select(F.col("node").alias("host"), _r("rank", 6).alias("hr"))
    host = F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(8)), F.lit(".example"))
    docs_h = d.select("doc_id", host.alias("host")).join(hr, "host")
    out = weighted_sample(docs_h, 20, F.col("hr"), salt="asample")
    return out.select(
        "doc_id", "host", _r("hr", 6).alias("host_rank"),
        _r("sample_key", 10).alias("sample_key"),
    )


@register("pipeline_harmonic_hyperball")  # HLL-register estimate: rows-only check
def pipeline_harmonic_hyperball(spark, sf_dir):
    """HyperBall (Boldi & Vigna): the 100 TB path for harmonic
    centrality — per-node HyperLogLog counters of the incoming ball,
    unioned along edges each round, so state is O(nodes·64) bytes no
    matter how large the balls grow (the exact pair set of
    pipeline_harmonic_centrality cannot exist at page-graph scale).
    The estimate is xxhash64-seeded and approximate, hence rows-only;
    tests/test_rows_only_bounds.py pins per-node agreement with the
    exact operator on this very fixture (mean relative error and the
    top-node ordering), so "no oracle" is still a quantitative
    contract.  Plan: one edge-onto-state equi-join + one 64-wide
    map-side-combined MAX groupBy per round — no explode, no Python."""
    from opentsdb_aura_spark.operators.corpus import hyperball_harmonic

    edges = _doc_graph_edges(spark, sf_dir)
    hb = hyperball_harmonic(edges, max_dist=3)
    return hb.select(
        "node", _r("harmonic", 4).alias("harmonic"), _r("ball_est", 4).alias("ball_est")
    )


# The gopher keep rule re-stated over the s CTE (kept textually in
# sync with quality_gopher_flags' oracle — both derive from the same
# operator contract).
_GOPHER_KEEP = """(n_tokens BETWEEN 10 AND 100000) AND n_tokens > 0
         AND (mean_word_len BETWEEN 3 AND 10)
         AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
         AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
         AND n_stopword_hits >= 2"""


@register(
    "pipeline_host_quality",
    _GOPHER_DOCS_SQL
    + r""",
f AS (SELECT doc_id, """ + _GOPHER_KEEP + r""" AS keep FROM s)
SELECT 'h' || (doc_id % 4) || '.example' AS host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) AS keep_ratio,
       avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END) >= 0.5 AS host_keep
FROM f GROUP BY 1""",
)
def pipeline_host_quality(spark, sf_dir):
    """Curation decisions at HOST granularity — the fineweb-style
    practice of dropping whole domains whose pages are mostly junk
    (per-document gates leak spam that is obvious in aggregate): each
    document's Gopher keep verdict rolls up per host into
    (n_docs, n_keep, keep_ratio, host_keep at the 50% line).  The
    oracle refits the full Gopher signal chain AND the rollup, so the
    per-doc gate and the host decision are hash-checked together.
    Plan: the zero-shuffle Gopher map stage + ONE map-side-combined
    groupBy on host — at 100 TB this is how a host blocklist is
    actually built (the output is the blocked_hosts dim
    url_prefilter consumes)."""
    from opentsdb_aura_spark.operators.quality import gopher_quality_flags

    res = gopher_quality_flags(docs(spark, sf_dir), min_tokens=10)
    host = F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example"))
    keep = F.col("keep").cast("double")
    return (
        res.select(host.alias("host"), keep.alias("_k"))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_k").cast("long").alias("n_keep"),
            _r(F.avg("_k"), 6).alias("keep_ratio"),
            (F.avg("_k") >= 0.5).alias("host_keep"),
        )
    )


# ---------------------------------------- trained language-ID (fastText-style)
# The planted corpus, the pack, the OvR fit and the oracle CTE chain are
# in queries/base.py (containers' trained CCNet keep builds them too).


def _langid_verdict(scores, kind):
    """The per-doc lang-id answer: gold lang, each class's ``kind``
    (margin or prob) at 4 dp, the prediction and its agreement."""
    langs, _ = _langid_langs()
    return scores.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        *[_r(f"{kind}_{L}", 4).alias(f"{kind}_{L}") for L in langs],
        "pred_lang",
        (F.col("pred_lang") == F.col("lang")).alias("correct"),
    )


def _langid_pred_oracle() -> str:
    langs, _ = _langid_langs()
    margin_cols, joins = _langid_margins_sql()
    out_margins = ", ".join(f"round(m_{L}, 4) AS margin_{L}" for L in langs)
    pred = _langid_pred_sql()
    return (
        _langid_ctes()
        + f""",
fin AS (SELECT corpus.doc_id, corpus.lang, {margin_cols}
        FROM corpus
        {joins})
SELECT doc_id, lang AS true_lang, {out_margins},
       {pred} AS pred_lang,
       ({pred}) = lang AS correct
FROM fin"""
    )


def _langid_weights_oracle() -> str:
    langs, _ = _langid_langs()
    R = _LANGID_ITERS
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{L}' AS lang, bucket, round(w, 6) AS weight FROM w_{L}{R}
UNION ALL
SELECT '{L}' AS lang, -1 AS bucket, round(b_{L}{R}.b - off_{L}{R}.o, 6) AS weight
FROM b_{L}{R} CROSS JOIN off_{L}{R}"""
        for L in langs
    )
    return _langid_ctes() + "\n" + arms


@register("text_lang_id_trained", _langid_pred_oracle())
def text_lang_id_trained(spark, sf_dir):
    """TRAINED language ID, the CCNet/fastText pattern (Joulin et al.
    2017; Wenzek et al. 2020 §4.2): one-vs-rest logistic models over
    hashed char-trigram presence features, fit by the deterministic
    batch-GD loop and argmaxed per doc — replacing the marker-word
    heuristic (operators/text.py lang_id, kept as the zero-training
    fallback seam) with a model that RECOVERS the planted per-language
    marker distribution.  The oracle re-fits all five unrolled GD
    chains in SQL from the same zero init, so the class margins, the
    argmax prediction, AND its agreement with the gold label are all
    value-hashed.  Scale shape: training collects <= D+1 rows per
    step; scoring packs each doc's sparse vector once and evaluates
    all K models as literal-array folds — one corpus pass total,
    no per-class re-scan."""
    packed = _langid_packed(_langid_corpus(spark, sf_dir))
    scores = _langid_scores(packed, _langid_models(packed), keep_cols=("lang",))
    return _langid_verdict(scores, "margin")


@register("text_lang_id_trained_weights", _langid_weights_oracle())
def text_lang_id_trained_weights(spark, sf_dir):
    """The trained multi-class MODEL itself, value-hashed: one row per
    (lang, populated bucket) with its learned weight plus each class's
    effective intercept as pseudo-bucket -1 — the artifact a curation
    deployment ships to language-route OTHER corpora.  The oracle
    re-runs the identical five unrolled GD chains and reads their
    final weight CTEs, proving the model (not just its predictions)
    portable across engines."""
    packed = _langid_packed(_langid_corpus(spark, sf_dir))
    models = _langid_models(packed)
    langs, _ = _langid_langs()
    # the populated-bucket set re-read from the materialized pack (its
    # arrays hold exactly the feature triples) — no second featurize
    populated = (
        packed.select(F.explode(F.col("fx.bucket")).alias("bucket"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    out = None
    for L in langs:
        w, b = models[L]
        w_arr = F.lit([float(x) for x in w])
        rows = populated.select(
            F.lit(L).alias("lang"),
            "bucket",
            F.round(F.element_at(w_arr, F.col("bucket") + 1) + F.lit(1e-9), 6).alias(
                "weight"
            ),
        )
        icpt = populated.sparkSession.range(1).select(
            F.lit(L).alias("lang"),
            F.lit(-1).cast("int").alias("bucket"),
            F.round(F.lit(float(b)) + F.lit(1e-9), 6).alias("weight"),
        )
        part = rows.unionByName(icpt)
        out = part if out is None else out.unionByName(part)
    return out


@register("text_lang_id_persisted", None)
def text_lang_id_persisted(spark, sf_dir):
    """text_lang_id_trained THROUGH the persisted-model path: fit the
    five OvR models, WRITE them as full-precision (class, bucket,
    weight) rows with the intercept at pseudo-bucket −1
    (ovr_model_save — the text_lang_id_trained_weights exchange
    schema, unrounded), load them back (ovr_model_load), and score
    the corpus from the LOADED model.  Pinned to the in-memory
    query's oracle: doubles round-trip Parquet bit-exactly, so a
    hash-green result proves the shipped language-router is the
    trained one — margins, argmax, and agreement included."""
    import os

    from opentsdb_aura_spark.operators.artifacts import (
        ovr_model_load,
        ovr_model_save,
    )
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    packed = _langid_packed(_langid_corpus(spark, sf_dir))
    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(STORE_ROOT, base, "langid_ovr_model_v1")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        ovr_model_save(spark, _langid_models(packed), path)
    scores = _langid_scores(packed, ovr_model_load(spark, path), keep_cols=("lang",))
    return _langid_verdict(scores, "margin")


ORACLES["text_lang_id_persisted"] = ORACLES["text_lang_id_trained"]


_LANGID_SOFTMAX_T = 2.0
_LANGID_SOFTMAX_THR = 0.7


def _langid_next_marker():
    """lang → the NEXT language's marker sentence (alphabetical ring)
    — the second language planted into the mixed scoring corpus."""
    langs, markers = _langid_langs()
    return {
        L: " ".join(markers[langs[(i + 1) % len(langs)]])
        for i, L in enumerate(langs)
    }


def _langid_mixed_corpus(spark, sf_dir):
    """The SCORING corpus for the softmax gate: the planted train
    corpus with a SECOND language's marker sentence appended to every
    7th doc — genuinely mixed-language pages whose two class margins
    split the softmax mass, exercising the reject path by
    construction (the other docs stay clean and confident)."""
    nxt = _langid_next_marker()
    langs, _ = _langid_langs()
    base = _langid_corpus(spark, sf_dir)
    mix = F.when(F.col("lang") == langs[0], F.lit(nxt[langs[0]]))
    for L in langs[1:]:
        mix = mix.when(F.col("lang") == L, F.lit(nxt[L]))
    return base.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lower(F.concat_ws(" ", F.col("txt"), mix)),
        )
        .otherwise(F.col("txt"))
        .alias("txt"),
    )


def _langid_softmax_oracle() -> str:
    """Train the five GD chains on the CLEAN corpus (the shared
    _langid_ctes), then score the MIXED corpus: re-featurize, one
    margin CTE per class from the final weight tables, softmax with
    the class exponentials summed in sorted order, cascading-CASE
    argmax, and the confidence-threshold reject — every expression in
    the Spark operator's float association."""
    langs, _ = _langid_langs()
    R, D = _LANGID_ITERS, _LANGID_D
    T, thr = _LANGID_SOFTMAX_T, _LANGID_SOFTMAX_THR
    nxt = _langid_next_marker()
    arms = " ".join(f"WHEN '{L}' THEN '{nxt[L]}'" for L in langs)
    parts = [
        f"""corpus_mx AS MATERIALIZED (SELECT doc_id, lang,
  CASE WHEN doc_id % 7 = 0 THEN lower(txt || ' ' || CASE lang {arms} END)
       ELSE txt END AS txt
  FROM corpus)""",
        f"""trip_mx AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         CAST(list_reduce(list_transform(range(1, 4),
                j -> ord(substr(g, CAST(j AS INTEGER), 1))),
              (a, b) -> (a * 31 + b) % 1000003) % {D} AS INTEGER) AS bucket,
         1.0 AS cnt
  FROM (SELECT doc_id, substr(txt, CAST(i AS INTEGER), 3) AS g
        FROM corpus_mx, unnest(range(1, length(txt) - 1)) AS u(i)))""",
    ]
    for L in langs:
        parts.append(
            f"""m_mx_{L} AS MATERIALIZED (SELECT corpus_mx.doc_id,
  b_{L}{R}.b - off_{L}{R}.o + coalesce(dp_mx_{L}.v, 0) AS m
  FROM corpus_mx CROSS JOIN b_{L}{R} CROSS JOIN off_{L}{R}
  LEFT JOIN (SELECT trip_mx.doc_id, sum(cnt * w_{L}{R}.w ORDER BY trip_mx.bucket) AS v
             FROM trip_mx JOIN w_{L}{R} USING (bucket) GROUP BY 1) dp_mx_{L}
    ON dp_mx_{L}.doc_id = corpus_mx.doc_id)"""
        )
    mjoins = "\n        ".join(
        f"JOIN m_mx_{L} ON m_mx_{L}.doc_id = corpus_mx.doc_id" for L in langs
    )
    mcols = ", ".join(f"m_mx_{L}.m AS m_{L}" for L in langs)
    ecols = ", ".join(f"exp(m_{L} / {T!r}) AS e_{L}" for L in langs)
    den = " + ".join(f"e_{L}" for L in langs)
    pcols = ", ".join(f"e_{L} / ({den}) AS p_{L}" for L in langs)
    best = "greatest(" + ", ".join(f"p_{L}" for L in langs) + ")"
    pred_arms = []
    for i, L in enumerate(langs[:-1]):
        conds = " AND ".join(f"p_{L} >= p_{M}" for M in langs[i + 1 :])
        pred_arms.append(f"WHEN {conds} THEN '{L}'")
    pred = "CASE " + " ".join(pred_arms) + f" ELSE '{langs[-1]}' END"
    out_probs = ", ".join(f"round(p_{L}, 4) AS prob_{L}" for L in langs)
    joined_parts = ",\n".join(parts)
    return (
        _langid_ctes()
        + f""",
{joined_parts},
fin_mx AS (SELECT corpus_mx.doc_id, corpus_mx.lang, {mcols}
        FROM corpus_mx
        {mjoins}),
sm AS (SELECT doc_id, lang, {ecols} FROM fin_mx),
pr AS (SELECT doc_id, lang, {pcols} FROM sm)
SELECT doc_id, lang AS true_lang, {out_probs},
       CASE WHEN {best} >= {thr!r} THEN {pred} ELSE 'und' END AS pred_lang,
       (CASE WHEN {best} >= {thr!r} THEN {pred} ELSE 'und' END) = lang AS correct
FROM pr"""
    )


@register("text_lang_id_softmax", _langid_softmax_oracle())
def text_lang_id_softmax(spark, sf_dir):
    """CALIBRATED multi-class language ID with a REJECT class — the
    move CCNet actually makes on mixed-language pages (Wenzek et al.
    2020 §4.2 drop pages under a fastText confidence cutoff rather
    than mis-route them): train the five OvR models on the CLEAN
    planted corpus, score a MIXED corpus (every 7th doc carries a
    second language's marker sentence), softmax the margins at
    temperature {T} and route docs whose max posterior falls below
    {thr} to 'und'.  The operating point keeps ~95% of clean docs
    confidently routed while rejecting the majority of the planted
    mixed docs (whose two marker sentences split the posterior mass
    — a sizable minority still route, exactly fastText's behaviour
    on pages dominated by one language), so BOTH branches of the
    reject rule are exercised at every sf.  The oracle re-fits the
    same five GD chains,
    re-featurizes the mixed corpus, and replays softmax + argmax +
    reject in identical float association — posterior probabilities,
    routing, and agreement all value-hashed.""".format(
        T=_LANGID_SOFTMAX_T, thr=_LANGID_SOFTMAX_THR
    )
    from opentsdb_aura_spark.operators.quality import (
        _pack_label_features,
        ovr_softmax_scores,
    )

    models = _langid_models(_langid_packed(_langid_corpus(spark, sf_dir)))
    mixed = _langid_mixed_corpus(spark, sf_dir)
    # pack the scoring corpus ONCE with the gold label riding along
    # (the ovr_logreg_scores packed/keep_cols shape) — deletes the
    # scorer's own pack + spine join and the true_lang re-attach join
    scores = ovr_softmax_scores(
        None,
        models,
        None,
        n_features=_LANGID_D,
        temperature=_LANGID_SOFTMAX_T,
        threshold=_LANGID_SOFTMAX_THR,
        packed=_pack_label_features(
            mixed.select("doc_id", "lang"), _langid_feats(mixed), ["lang"]
        ),
        keep_cols=("lang",),
    )
    return _langid_verdict(scores, "prob")


def _langid_confusion_oracle() -> str:
    margin_cols, joins = _langid_margins_sql()
    pred = _langid_pred_sql()
    return (
        _langid_ctes()
        + f""",
fin AS (SELECT corpus.doc_id, corpus.lang, {margin_cols}
        FROM corpus
        {joins})
SELECT lang AS true_lang, {pred} AS pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM fin GROUP BY 1, 2"""
    )


@register("text_lang_id_confusion", _langid_confusion_oracle())
def text_lang_id_confusion(spark, sf_dir):
    """The trained language router's CONFUSION MATRIX — the model-card
    table next to the classifier family's PR curve and AUC: one row
    per observed (true_lang, pred_lang) cell with its document count,
    from the same five OvR fits and argmax as text_lang_id_trained
    (one scoring pass + one groupBy — the per-doc surface reduced to
    the eval a curation team actually reads before trusting the
    router).  The oracle re-fits the identical five unrolled GD
    chains and re-aggregates the same cells, so the error structure
    (which languages leak into which) is value-hashed, not sampled."""
    packed = _langid_packed(_langid_corpus(spark, sf_dir))
    scores = _langid_scores(packed, _langid_models(packed), keep_cols=("lang",))
    return (
        scores.select(F.col("lang").alias("true_lang"), "pred_lang")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def _quality_badwords_gates(df, text_col="text"):
    """(doc_id, ok_badwords, keep_quality): the C4 blocklist gate and
    the Gopher keep over ``df``'s ``text_col``."""
    from opentsdb_aura_spark.operators.quality import (
        FIXTURE_BADWORDS,
        badwords_exprs,
        gopher_quality_flags,
    )

    g = gopher_quality_flags(df, min_tokens=10, text_col=text_col)
    _, ok_bw = badwords_exprs(FIXTURE_BADWORDS, text_col=text_col)
    return df.select("doc_id", ok_bw.alias("ok_badwords")).join(
        g.select("doc_id", F.col("keep").alias("keep_quality")), "doc_id"
    )


def _ccnet_trained_oracle() -> str:
    """The CCNet curate keep with the TRAINED lang leg: langid GD
    chains → per-doc predicted lang → corpus-fit bigram LM → per-
    predicted-lang tercile split → Gopher + badwords + perplexity
    fused keep, all re-derived in SQL over the same planted corpus."""
    margin_cols, joins = _langid_margins_sql()
    pred = _langid_pred_sql()
    return (
        _langid_ctes()
        + rf""",
lid AS MATERIALIZED (SELECT doc_id, {pred} AS lang
  FROM (SELECT corpus.doc_id, {margin_cols} FROM corpus {joins})),
t AS MATERIALIZED (SELECT doc_id,
       list_filter(string_split_regex(lower(trim(txt)), '\s+'), _t -> _t <> '') AS toks,
       string_split(txt, chr(10)) AS lines
  FROM corpus),
s AS (
  SELECT doc_id,
{_GOPHER_SIGNALS_SQL}
  FROM t),
q AS (
  SELECT doc_id, n_badword_hits,
{_GOPHER_KEEP_QUALITY_SQL}
  FROM s),
{_CCNET_LM_SQL},
{_CCNET_BKT_SQL}
SELECT q.doc_id, bkt.lang, bkt.avg_logprob, bkt.ppl_bucket,
       q.keep_quality,
       q.n_badword_hits = 0 AS ok_badwords,
       bkt.ppl_bucket IN ('head', 'middle') AS ok_ppl,
       q.keep_quality AND q.n_badword_hits = 0
         AND bkt.ppl_bucket IN ('head', 'middle') AS keep
FROM q JOIN bkt USING (doc_id)"""
    )


@register("pipeline_ccnet_curate_trained", _ccnet_trained_oracle())
def pipeline_ccnet_curate_trained(spark, sf_dir):
    """The CCNet curate keep with the TRAINED language-ID leg
    (Wenzek et al. 2020 end-to-end: fastText-style langid §4.2 feeds
    the per-language perplexity terciles §4.3): the one-vs-rest
    char-trigram classifier is fit on the planted corpus, its
    per-doc prediction keys the bigram-LM tercile split, and the
    final keep fuses Gopher quality ∧ badwords ∧ bucket ∈ {head,
    middle} — the trained twin of pipeline_ccnet_curate's heuristic
    lang leg (text.lang_id keeps the heuristic as the no-model
    fallback seam).  The oracle re-fits all five GD chains, re-argmaxes
    the langs, re-fits the LM, re-runs the tercile window with the
    identical (score DESC NULLS LAST, doc_id) order, and re-ANDs the
    keep — every joint including the trained leg is value-hashed.

    Scale shape: ONE corpus pass builds features (packed per doc),
    training collects <= D+1 rows per step per class, scoring is a
    literal-array fold, the LM joins shuffle on high-cardinality gram
    keys, and the tercile is one per-language window — swap for
    train_perplexity_cutoffs at full corpus scale."""
    from opentsdb_aura_spark.operators.quality import lm_bigram_scores

    corpus = _langid_corpus(spark, sf_dir).localCheckpoint(eager=False)
    packed = _langid_packed(corpus)
    langs = _langid_scores(packed, _langid_models(packed)).select(
        "doc_id", F.col("pred_lang").alias("lang")
    )
    gates = _quality_badwords_gates(corpus, text_col="txt")
    lm_scores = lm_bigram_scores(corpus, alpha=0.1, text_col="txt")
    return _ccnet_keep(gates, langs, lm_scores, ("keep_quality", "ok_badwords"))


def _quality_gate_oracle() -> str:
    """The streaming quality gate's batch twin: the unrolled GD re-fit
    (same CTEs as pipeline_quality_classifier) supplies the pretrained
    margins, and the Gopher + badwords heuristics re-derive in SQL —
    the final keep ANDs all three legs exactly as the curate chain
    does."""
    R = _LOGREG_ITERS
    ctes = _logreg_oracle().rsplit("SELECT doc_id, y = 1.0 AS label", 1)[0].rstrip()
    assert ctes.endswith(")"), "unexpected oracle tail"
    return (
        ctes
        + rf""",
gt AS MATERIALIZED (SELECT doc_id,
       list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks,
       string_split(text, chr(10)) AS lines
  FROM documents),
gs AS (
  SELECT doc_id,
{_GOPHER_SIGNALS_SQL}
  FROM gt),
gq AS (
  SELECT doc_id, n_badword_hits,
{_GOPHER_KEEP_QUALITY_SQL}
  FROM gs)
SELECT gq.doc_id,
       round(1.0/(1.0+exp(-m.margin)), 4) AS prob,
       1.0/(1.0+exp(-m.margin)) >= 0.5 AS keep_clf,
       gq.keep_quality,
       gq.n_badword_hits = 0 AS ok_badwords,
       gq.keep_quality AND gq.n_badword_hits = 0
         AND 1.0/(1.0+exp(-m.margin)) >= 0.5 AS keep
FROM gq JOIN m{R} m USING (doc_id)"""
    )


@register("pipeline_quality_gate", _quality_gate_oracle())
def pipeline_quality_gate(spark, sf_dir):
    """Batch twin of the STREAMING quality gate
    (streaming_crawl_ingest's quality_model leg): the pretrained
    hashed-feature classifier scores every doc — the SAME
    logreg_scores pass, the SAME prob >= 0.5 keep rule the stream
    applies per micro-batch — and the verdict is ANDed into the
    curate keep next to the Gopher and badwords gates.  The oracle
    re-fits the unrolled GD, re-derives both heuristic legs, and
    re-ANDs the fused keep, so the decision the streaming sidecar
    ships is value-hash-proven against an independent engine
    (test_streaming_quality_gate_matches_batch_twin pins the
    stream-vs-batch score byte-identity on the other side).

    Scale shape: training collects <= D+1 rows per step; the gate
    itself is one literal-array scoring pass + the zero-shuffle
    Gopher map — per-batch cost in the stream, one corpus pass in
    batch."""
    from opentsdb_aura_spark.operators.quality import logreg_scores_packed

    d, packed, w, b = _dup_classifier(spark, sf_dir)
    # the PRETRAINED-weights dim exactly as the stream consumes it
    model = {"weights": w, "bias": b, "n_features": _LOGREG_D, "binary": True}
    qs = logreg_scores_packed(
        packed,
        list(model["weights"]),
        float(model["bias"]),
    ).select("doc_id", "prob", (F.col("prob") >= F.lit(0.5)).alias("keep_clf"))
    gates = _quality_badwords_gates(d)
    return gates.join(qs, "doc_id").select(
        "doc_id",
        _r("prob", 4).alias("prob"),
        "keep_clf",
        "keep_quality",
        "ok_badwords",
        (F.col("keep_quality") & F.col("ok_badwords") & F.col("keep_clf")).alias(
            "keep"
        ),
    )


# ------------------------------------------------------- suffix-array dedup
# The EXACT form of Lee et al.'s substring dedup (operators/suffix.py):
# dedup_repeated_spans above is the fixed-window approximation; these two
# pin the real suffix-array + adjacent-LCP chain against a DuckDB oracle
# that sorts the actual suffix strings.  Both run on the doc_id % 5 slice
# (~30 k suffix positions at fixture SF) — the full-corpus and 10×-docs
# walls live in the sf1 bench tier (tools/sf1_headline_bench.py).

_SUFFIX_ORACLE_HEAD = """
WITH d AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 5 = 0 AND length(text) > 0),
s AS (SELECT doc_id, CAST(unnest(range(0, length(text))) AS BIGINT) AS off, text FROM d),
r AS (SELECT doc_id, off,
             CAST(row_number() OVER (ORDER BY substr(text, off + 1), doc_id, off) AS BIGINT) AS rank,
             substr(text, off + 1, 64) AS head
      FROM s)
"""

# capped LCP of two head strings, mirroring operators/suffix._lcp_expr
# exactly: char-by-char compare via list_transform + list_position
# (not-found -> 0 in both engines), NULL neighbor -> 0.
def _sql_lcp(a: str, b: str) -> str:
    pos = (
        f"list_position(list_transform(range(1, least(length({a}), length({b})) + 1),"
        f" i -> substr({a}, i, 1) = substr({b}, i, 1)), false)"
    )
    return (
        f"(CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0"
        f" WHEN {pos} IS NULL OR {pos} = 0 THEN least(length({a}), length({b}))"
        f" ELSE {pos} - 1 END)"
    )


@register(
    "dedup_suffix_array",
    f"""{_SUFFIX_ORACLE_HEAD}
SELECT rank, doc_id, off FROM r WHERE rank <= 500""",
)
def dedup_suffix_array(spark, sf_dir):
    """Distributed suffix array (Manber–Myers prefix doubling over
    range-partitioned dense ranks — operators/suffix.suffix_array):
    the first 500 entries of the corpus-slice suffix order, each the
    (doc_id, offset) of a suffix.  The oracle sorts the literal
    suffix strings; matching it end-to-end pins every doubling round,
    the shorter-suffix (-1 sentinel) ordering, and the equal-tail
    (doc_id, off) tie-break."""
    from opentsdb_aura_spark.operators.suffix import suffix_array

    d = docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    sa = suffix_array(d)
    return sa.where(F.col("rank") <= 500).select("rank", "doc_id", "off")


@register(
    "dedup_suffix_spans",
    f"""{_SUFFIX_ORACLE_HEAD},
adj AS (SELECT doc_id, off, head,
               lag(head)  OVER (ORDER BY rank) AS head_prev,
               lead(head) OVER (ORDER BY rank) AS head_next
        FROM r),
best AS (SELECT doc_id,
                greatest({_sql_lcp('head', 'head_prev')},
                         {_sql_lcp('head', 'head_next')}) AS b
         FROM adj)
SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_positions,
       CAST(max(b) AS BIGINT) AS max_dup_len
FROM best WHERE b >= 20 GROUP BY 1""",
)
def dedup_suffix_spans(spark, sf_dir):
    """ExactSubstr membership (Lee et al. §4.1): a position starts a
    duplicated >=20-char substring iff its suffix shares a >=20-char
    prefix with a suffix-order neighbor.  Per-doc rollup: duplicated
    position count + longest shared prefix (capped at 64 chars) —
    the decision input for span excision / doc drop.  The oracle
    recomputes the full chain (suffix sort -> lag/lead neighbor
    heads -> capped char-compare LCP -> rollup) from the raw text."""
    from opentsdb_aura_spark.operators.suffix import duplicated_spans

    d = docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    return duplicated_spans(d, min_len=20, cap=64)


# ------------------------------------------------- Bloom decontamination
# contamination_ngram's scale path: the GPT-3/PaLM recipe — compress the
# eval suite's n-grams into a Bloom filter (O(n_bits) broadcast, suites
# merge by bit_or), flag each training doc by its hit fraction.  The
# fold-hash, 63-bit word packing, and FP pattern are the same
# engine-portable construction corpus_frontier_bloom pins, so the whole
# verdict — true hits AND deterministic false positives — value-hashes.

_DECON_BITS = 63 * 256
_DECON_FOLD = (
    "list_reduce(list_transform(range(1, length(str) + 1),"
    " j -> CAST(ord(substr(str, CAST(j AS INTEGER), 1)) AS BIGINT)),"
    f" (a, b) -> (a * 31 + b) % 2147483647) % {_DECON_BITS}"
)


@register(
    "contamination_bloom",
    f"""{ORACLE_SHINGLES},
probe AS (SELECT DISTINCT s FROM shing WHERE doc_id % 50 = 0),
spos AS (SELECT {_DECON_FOLD} AS p
         FROM (SELECT CAST(i AS VARCHAR) || ':' || s AS str
               FROM probe, unnest(range(0, 4)) AS u(i))),
words AS (SELECT CAST(p // 63 AS INTEGER) AS word_idx,
                 bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS bits
          FROM spos GROUP BY 1),
ppos AS (SELECT doc_id, s, {_DECON_FOLD} AS p
         FROM (SELECT doc_id, s, CAST(i AS VARCHAR) || ':' || s AS str
               FROM shing, unnest(range(0, 4)) AS u(i))),
probed AS (SELECT doc_id, s,
                  CASE WHEN (coalesce(bits, 0) & (CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER))) <> 0
                       THEN 1 ELSE 0 END AS hit
           FROM ppos LEFT JOIN words ON CAST(p // 63 AS INTEGER) = words.word_idx),
per_gram AS (SELECT doc_id, s, min(hit) AS hit FROM probed GROUP BY 1, 2)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(hit) AS BIGINT) AS n_flagged,
       round(sum(hit) * 1.0 / count(*), 6) AS flag_frac,
       sum(hit) * 1.0 / count(*) >= 0.5 AS contaminated
FROM per_gram GROUP BY 1""",
)
def contamination_bloom(spark, sf_dir):
    """Bloom-filter decontamination (GPT-3 app. C / PaLM §6.2 shape):
    the eval probes' 3-gram shingles compressed to a 16 Kbit filter,
    every corpus doc scored by the fraction of its distinct 3-grams
    the filter flags.  Probe docs (drawn from the corpus) must score
    flag_frac 1.0 — no false negatives, structurally — while clean
    docs read the filter's deterministic false-positive pattern; the
    oracle re-derives filter bits and every verdict in plain SQL."""
    from opentsdb_aura_spark.operators.corpus import bloom_decontaminate

    d = docs(spark, sf_dir)
    res = bloom_decontaminate(
        d, d.where(F.col("doc_id") % 50 == 0), n=3, n_bits=_DECON_BITS, k=4, threshold=0.5
    )
    return res.select(
        "doc_id", "n_grams", "n_flagged", _r(F.col("flag_frac"), 6).alias("flag_frac"), "contaminated"
    )


# ------------------------------------------------- temperature mixture
# mBERT/XLM-R's alpha-smoothed domain sampling: rates DERIVED from
# corpus statistics (q_i ∝ n_i^0.3), not configured like
# pipeline_mixture_sample.  The skewed pseudo-domain split (250/150/
# 75/25 docs) makes the flattening visible: the smallest domain keeps
# everything, the largest is down-sampled hardest.

_TMIX_DOM_SQL = (
    "'d' || CAST(CASE WHEN doc_id % 100 < 50 THEN 0 WHEN doc_id % 100 < 80 THEN 1 "
    "WHEN doc_id % 100 < 95 THEN 2 ELSE 3 END AS VARCHAR)"
)


@register(
    "pipeline_mixture_temperature",
    f"""WITH d AS (SELECT doc_id, {_TMIX_DOM_SQL} AS dom FROM documents),
stats AS (SELECT dom, CAST(count(*) AS BIGINT) AS n_docs,
                 pow(CAST(count(*) AS DOUBLE), 0.3) AS pw
          FROM d GROUP BY 1),
tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(pw ORDER BY dom)),
                           (a, b) -> a + b) AS t,
               CAST(sum(n_docs) AS DOUBLE) AS n_total
        FROM stats),
rates AS (SELECT dom, n_docs,
                 least(1.0, ((pw / t) * (0.5 * n_total)) / CAST(n_docs AS DOUBLE)) AS keep_rate
          FROM stats, tot),
kept AS (SELECT dom, CAST(count(*) AS BIGINT) AS n_kept
         FROM (SELECT d.dom, {_md5_bucket_sql("d.doc_id", "tmix")} AS b, r.keep_rate
               FROM d JOIN rates r USING (dom))
         WHERE b < CAST(floor(1e-9 + keep_rate * 1000000.0) AS BIGINT) GROUP BY 1)
SELECT r.dom, r.n_docs, round(r.keep_rate, 6) AS keep_rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept k USING (dom)""",
)
def pipeline_mixture_temperature(spark, sf_dir):
    """Temperature-based (alpha = 0.3) domain rebalancing with a 50%
    overall target: per-domain derived keep rates and the kept-doc
    counts under the deterministic md5-bucket rule.  The Σ n^alpha
    fold is order-pinned on both sides, so the float keep_rate — and
    every bucket-boundary verdict it gates — value-hashes exactly."""
    from opentsdb_aura_spark.operators.corpus import temperature_mixture

    dom = F.concat(
        F.lit("d"),
        F.when(F.col("doc_id") % 100 < 50, F.lit(0))
        .when(F.col("doc_id") % 100 < 80, F.lit(1))
        .when(F.col("doc_id") % 100 < 95, F.lit(2))
        .otherwise(F.lit(3))
        .cast("string"),
    )
    d = docs(spark, sf_dir).select("doc_id", dom.alias("source"))
    res = temperature_mixture(d, alpha=0.3, target_frac=0.5, salt="tmix")
    return res.select("dom", "n_docs", _r(F.col("keep_rate"), 6).alias("keep_rate"), "n_kept")


@register(
    "dedup_suffix_excise",
    """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS doc_len
           FROM documents WHERE doc_id % 5 = 0 AND length(text) > 0),
g AS (SELECT doc_id, CAST(unnest(range(0, length(text) - 19)) AS BIGINT) AS off, text, doc_len FROM d),
m AS (SELECT doc_id, off, doc_len, substr(text, off + 1, 20) AS gram FROM g),
mm AS (SELECT doc_id, off, doc_len,
              count(*) OVER (PARTITION BY gram) AS c,
              row_number() OVER (PARTITION BY gram ORDER BY doc_id, off) AS rn
       FROM m),
exc AS (SELECT doc_id, off, doc_len FROM mm WHERE c >= 2 AND rn > 1),
seg AS (SELECT doc_id, off, doc_len,
               max(off + 20) OVER (PARTITION BY doc_id ORDER BY off
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        FROM exc),
con AS (SELECT doc_id, doc_len,
               greatest(0, (off + 20) - greatest(coalesce(pme, off), off)) AS c
        FROM seg)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_excised,
       CAST(sum(c) AS BIGINT) AS removed_chars,
       CAST(doc_len - sum(c) AS BIGINT) AS kept_chars
FROM con GROUP BY doc_id, doc_len""",
)
def dedup_suffix_excise(spark, sf_dir):
    """ExactSubstr cleaning with the paper's keep-one rule: every
    duplicated >=20-char substring is excised from all but its
    canonical (first (doc_id, off)) occurrence; per-doc interval-union
    char-removal profile.  Membership comes from the suffix-array
    adjacent-LCP chain; the ORACLE derives it independently by
    gram-occurrence counting — the hash match cross-validates the SA
    path against plain counting (two different computations, one
    answer)."""
    from opentsdb_aura_spark.operators.suffix import excise_duplicated_spans

    d = docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    return excise_duplicated_spans(d, min_len=20, cap=64)


@register(
    "dedup_suffix_index_probe",
    """WITH tr AS (SELECT doc_id, text FROM documents
                   WHERE doc_id % 5 = 0 AND length(text) > 0),
tg AS (SELECT substr(text, CAST(off AS INTEGER) + 1, 20) AS gram
       FROM (SELECT doc_id, text, unnest(range(0, length(text) - 19)) AS off FROM tr)),
idx AS (SELECT gram FROM tg GROUP BY 1 HAVING count(*) >= 2),
nd AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS doc_len
       FROM documents WHERE doc_id % 5 = 1 AND length(text) >= 20),
ng AS (SELECT doc_id, doc_len, CAST(off AS BIGINT) AS off,
              substr(text, CAST(off AS INTEGER) + 1, 20) AS gram
       FROM (SELECT doc_id, doc_len, text, unnest(range(0, length(text) - 19)) AS off FROM nd)),
hits AS (SELECT doc_id, doc_len, off FROM ng JOIN idx USING (gram)),
seg AS (SELECT doc_id, doc_len, off,
               max(off + 20) OVER (PARTITION BY doc_id ORDER BY off
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        FROM hits),
con AS (SELECT doc_id, doc_len,
               greatest(0, (off + 20) - greatest(coalesce(pme, off), off)) AS c
        FROM seg)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_positions,
       CAST(sum(c) AS BIGINT) AS covered_chars,
       round(sum(c) * 1.0 / doc_len, 6) AS dup_frac
FROM con GROUP BY doc_id, doc_len""",
)
def dedup_suffix_index_probe(spark, sf_dir):
    """Incremental ExactSubstr: the SA-derived duplicate-gram index is
    built ONCE on the existing corpus (the % 5 == 0 slice), persisted
    as a Parquet dim, and a disjoint NEW batch (% 5 == 1) is screened
    by one gram equi-join — no suffix array over the new data, no
    rescan of the old corpus (the dedup analog of the KN/classifier
    train-apply split).  The oracle derives the index independently
    by gram counting, so the hash-match cross-validates the SA
    membership AND the probe-side interval union."""
    import os

    from opentsdb_aura_spark.operators.suffix import build_dup_index, probe_dup_index
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    d = docs(spark, sf_dir)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(STORE_ROOT, base, "suffix_dup_index_v1")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_dup_index(
            d.where(F.col("doc_id") % 5 == 0), min_len=20, cap=64
        ).write.mode("overwrite").parquet(path)
    idx = spark.read.parquet(path)
    res = probe_dup_index(d.where(F.col("doc_id") % 5 == 1), idx, min_len=20)
    return res.select(
        "doc_id", "n_hit_positions", "covered_chars", _r(F.col("dup_frac"), 6).alias("dup_frac")
    )
