"""Corpus/pipeline extras: text fingerprints and normalization,
embedding transforms and semantic dedup, BM25, curation and
sampling stages.

Split from queries/extras.py (round 6): registration side-effects
only -- query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import _r  # shared underscore helper



@register(
    "text_bpe_token_count",
    """SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents""",
)
def text_bpe_token_count(spark, sf_dir):
    """BPE-ish token counting via an RE2-safe word-piece regex."""
    from opentsdb_aura_spark.operators.text import bpe_ish_token_count

    return bpe_ish_token_count(docs(spark, sf_dir))


@register("text_fingerprint")  # xxhash-chained: rows-only check
def text_fingerprint(spark, sf_dir):
    """Order-sensitive 64-bit document fingerprint (rolling-hash
    analogue, Catalyst-only)."""
    from opentsdb_aura_spark.operators.text import fingerprint

    return fingerprint(docs(spark, sf_dir))


@register(
    "text_fingerprint_md5",
    """SELECT doc_id,
       list_reduce(
         list_prepend('', list_transform(
           list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> ''),
           (t, i) -> t || ':' || (i - 1))),
         (a, x) -> md5(a || ':' || x)) AS fingerprint
FROM documents""",
)
def text_fingerprint_md5(spark, sf_dir):
    """The order-sensitive fingerprint under a FULL value-hash oracle:
    the md5-chained fold over token:position pairs is expressible as a
    DuckDB ``list_reduce``, so every per-doc fingerprint (and with it
    the tokenizer, the 0-based positions, and the fold order) is
    recomputed exactly.  The default xxhash64 path keeps its rows-only
    check; this twin proves the chain's structure value-exactly —
    same pattern as dedup_simhash_md5."""
    from opentsdb_aura_spark.operators.text import fingerprint

    return fingerprint(docs(spark, sf_dir), token_hash="md5")


@register(
    "dedup_embedding_cosine",
    """WITH s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, len(a.embedding)+1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x)))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x)))) AS cs
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM s WHERE cs >= 0.45""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs baseline; the
    LSH variant is the scale path, unit-tested)."""
    from opentsdb_aura_spark.operators.similarity import embedding_near_dup_pairs

    res = embedding_near_dup_pairs(embs(spark, sf_dir), threshold=0.45)
    return res.select("id_a", "id_b", _r(F.col("cos_sim"), 6).alias("cos_sim"))


_PROJ_COMPONENT = (
    "round(list_sum(list_transform(range(0, 64), d -> CAST(embedding[d + 1] AS DOUBLE)"
    " * ((CAST(concat('0x', substr(md5(d || ':' || {k} || ':proj'), 1, 8)) AS BIGINT)"
    " % 2001 - 1000) / 1000.0))), 6) AS p{k}"
)


@register(
    "emb_random_projection",
    "SELECT vec_id, "
    + ", ".join(_PROJ_COMPONENT.format(k=k) for k in range(8))
    + " FROM embeddings",
)
def emb_random_projection(spark, sf_dir):
    """JL-style 64→8-d random projection with an md5-derived
    deterministic matrix — the ANN pre-filter that cuts probe shuffle
    bytes 8×.  Pure zip_with/aggregate folds (whole-stage codegen, no
    UDF, narrow map); the oracle regenerates the same matrix from the
    md5 rule."""
    from opentsdb_aura_spark.operators.similarity import random_projection

    res = random_projection(embs(spark, sf_dir), in_dim=64, out_dim=8)
    return res.select("vec_id", *[_r(f"p{k}", 6).alias(f"p{k}") for k in range(8)])


@register(
    "emb_int8_quantize",
    """WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
         embedding
  FROM embeddings),
z AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5)
                                            AS INT))
         END AS qv
  FROM q)
SELECT vec_id, round(scale, 6) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS INT) AS q_min,
       CAST(list_max(qv) AS INT) AS q_max
FROM z""",
)
def emb_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization (scale = max|v|,
    floor(x+0.5) rounding — engine-agnostic): 4× smaller vectors for
    billion-scale ANN storage; the oracle checks the exact quantized
    stream via sum/min/max."""
    from opentsdb_aura_spark.operators.similarity import int8_quantize

    res = int8_quantize(embs(spark, sf_dir))
    return res.select(
        "vec_id",
        _r("scale", 6).alias("scale"),
        F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


@register(
    "semdedup_embeddings",
    """WITH dup AS (
  SELECT a.vec_id, min(b.vec_id) AS dup_of
  FROM embeddings a JOIN embeddings b ON b.vec_id < a.vec_id
  WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x)))
           * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x)))) >= 0.45
  GROUP BY 1)
SELECT e.vec_id, dup.dup_of IS NULL AS kept, CAST(0 AS INT) AS cluster_id, dup.dup_of
FROM embeddings e LEFT JOIN dup ON e.vec_id = dup.vec_id""",
)
def semdedup_embeddings(spark, sf_dir):
    """SemDeDup semantic dedup (greedy keep-lowest-id within cluster).
    Run with a single centroid the within-cluster scoring covers every
    pair, so the exact SQL self-join is a true oracle — the same trick
    as `ann_ivf_topk`'s full probe; production raises n_centroids so
    per-cluster pair work stays (n/k)²."""
    from opentsdb_aura_spark.operators.similarity import semantic_dedup

    return semantic_dedup(embs(spark, sf_dir), threshold=0.45, n_centroids=1)


@register(
    "corpus_bm25_search",
    r"""WITH toked AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '')) AS token
  FROM documents),
lengths AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toked GROUP BY 1),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lengths),
tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
       FROM toked WHERE token IN ('data', 'model', 'training') GROUP BY 1, 2),
dfreq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (t.tf * 2.2 / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)))) AS score
  FROM tf t JOIN dfreq d USING (token) JOIN lengths l USING (doc_id) CROSS JOIN stats s
  GROUP BY 1)
SELECT doc_id, round(score, 6) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
)
def corpus_bm25_search(spark, sf_dir):
    """Ranked full-text retrieval: BM25 top-10 for a fixed query bag —
    the ranked complement of the boolean E1 text match, entirely as
    aggregates (filtered explode → tf/df/length joins → top-k)."""
    from opentsdb_aura_spark.operators.text import bm25_search

    res = bm25_search(docs_raw(spark, sf_dir), ["data", "model", "training"], k=10)
    return res.select("doc_id", _r("score", 6).alias("score"))


@register(
    "corpus_source_report",
    r"""SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'), _t -> _t <> ''))) AS BIGINT) AS total_tokens,
       round(avg(n_chars), 4) AS avg_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dup_docs
FROM documents GROUP BY 1""",
)
def corpus_source_report(spark, sf_dir):
    """Dataset-card report per source domain: doc/token volume, size,
    language spread, and exact-duplicate load — the summary table every
    training-data curation run publishes.  One hash aggregate over the
    corpus; the token count is a narrow map."""
    d = docs_raw(spark, sf_dir)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens).alias("total_tokens"),
        _r(F.avg("n_chars"), 4).alias("avg_chars"),
        F.count_distinct("lang").alias("n_langs"),
        (F.count("*") - F.count_distinct(F.md5("text"))).alias("n_exact_dup_docs"),
    )


@register(
    "pipeline_token_budget",
    r"""WITH c AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'), _t -> _t <> '')) AS BIGINT) AS n_tokens
  FROM documents),
r AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM c)
SELECT doc_id, source, n_tokens, cum_tokens FROM r WHERE cum_tokens <= 5000""",
)
def pipeline_token_budget(spark, sf_dir):
    """Greedy per-domain doc selection under a 5 000-token budget —
    training mixes are specified in tokens, not document counts.  One
    window per domain (single shuffle), no global sort, no driver
    loop."""
    from opentsdb_aura_spark.operators.corpus import token_budget_sample

    return token_budget_sample(docs_raw(spark, sf_dir), 5000, domain_col="source")


@register(
    "pipeline_curate_corpus",
    """WITH u AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents),
kept AS (SELECT doc_id, source, n_chars FROM u WHERE rn = 1 AND n_chars >= 100),
r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
  FROM kept)
SELECT doc_id, source, n_chars, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""",
)
def pipeline_curate_corpus(spark, sf_dir):
    """End-to-end curation COMPOSITION: exact dedup (keep lowest id
    per content hash) → quality bar (n_chars ≥ 100) → per-domain
    diversity cap (best 5) — three pipeline operators chained the way
    a real corpus build chains them; one query plan, no
    materialization between stages."""
    from opentsdb_aura_spark.operators.corpus import cap_per_domain
    from pyspark.sql.window import Window

    d = docs(spark, sf_dir)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    survivors = (
        d.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("n_chars") >= 100))
        .select("doc_id", "source", "n_chars")
    )
    return cap_per_domain(survivors, 5)


@register(
    "pipeline_global_shuffle",
    """SELECT doc_id,
       md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key,
       CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1
            AS BIGINT) AS shuffle_pos
FROM documents""",
)
def pipeline_global_shuffle(spark, sf_dir):
    """Deterministic pseudo-random global training order WITHOUT a
    single-partition window: md5 order key + distributed prefix-sum
    rank (4096 hex-prefix blocks → exclusive cumsum → bounded
    within-block row_number).  The oracle is the naive global
    ``row_number() OVER (ORDER BY md5)`` — equality proves the
    blocked rank IS the global rank."""
    from opentsdb_aura_spark.operators.corpus import global_shuffle

    return global_shuffle(docs(spark, sf_dir), seed="42")


@register(
    "pipeline_domain_cap",
    """WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents)
SELECT doc_id, source, n_chars, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 7""",
)
def pipeline_domain_cap(spark, sf_dir):
    """Diversity capping: at most 7 docs per source, best (longest)
    first — two-phase hot-key-bounded top-k (per input-partition rank,
    then rank the survivors), so a mega-domain never forms one giant
    sort task.  Oracle is the naive one-shot window."""
    from opentsdb_aura_spark.operators.corpus import cap_per_domain

    return cap_per_domain(docs(spark, sf_dir), 7)


@register(
    "pipeline_dsir_weights",
    r"""WITH w AS (
  SELECT doc_id, source, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM w),
b AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(gram || ':dsir'), 1, 8)) AS BIGINT) % 1024 AS bucket
  FROM g),
pb AS (SELECT bucket, count(*) AS rn,
              sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS tn
       FROM b GROUP BY 1),
tot AS (SELECT count(*) AS rt,
               sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS tt
        FROM b),
lr AS (SELECT bucket,
              ln((tn + 1.0) / (tt + 1024.0)) - ln((rn + 1.0) / (rt + 1024.0)) AS logr
       FROM pb CROSS JOIN tot)
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_grams, round(sum(lr.logr), 6) AS weight
FROM b JOIN lr USING (bucket) GROUP BY 1""",
)
def pipeline_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights toward the 'src3' domain: hashed
    bigram buckets (md5 — engine-reproducible), add-one-smoothed
    log-likelihood ratio of target vs corpus bucket distributions,
    summed per doc.  Pure Catalyst: one explode, two bounded
    aggregates, AQE-broadcast log-ratio join."""
    from opentsdb_aura_spark.operators.corpus import dsir_weights

    res = dsir_weights(docs(spark, sf_dir), "src3")
    return res.select("doc_id", "n_grams", _r(F.col("weight"), 6).alias("weight"))


@register(
    "text_normalize_docs",
    r"""WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                             '\s+', ' ', 'g')) AS norm
  FROM documents)
SELECT doc_id, CAST(strlen(norm) AS BIGINT) AS n_chars_norm, md5(norm) AS norm_md5
FROM n""",
)
def text_normalize_docs(spark, sf_dir):
    """Curation-grade text normalization (lowercase, punctuation →
    space, whitespace collapse) proven BYTE-IDENTICAL cross-engine via
    md5 of the normalized text — the property that matters when a
    dedup key is derived from normalized content."""
    from opentsdb_aura_spark.operators.corpus import normalize_text

    d = docs(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
    )




# ------------------------------------------------------------- BPE training


def _merge_oracle_ctes(n_merges: int, *, final_vocab: bool = False, wordpiece: bool = False) -> str:
    """Unrolled-rounds DuckDB CTE chain for the BPE oracles: round k's
    CTEs are (p{k}) pair counts over vocab v{k}, (b{k}) the argmax
    merge with the same (count DESC, lhs, rhs) binary tie-break the
    Spark side uses, and (v{k+1}) the vocab with that merge applied
    via a list_reduce fold — the exact greedy left-to-right semantics
    of operators/text.py::_merge_pair_expr.  Symbol lists are carried
    as chr(1)-joined strings because DuckDB's list_reduce requires
    accumulator type == element type (same workaround family as
    text_fingerprint_md5's string-chained fold).  ``final_vocab``
    additionally materializes v{n_merges} — the per-word segmentation
    AFTER all merges, which the apply-stage oracle joins against.

    ``wordpiece`` is the WordPiece training chain: the same shape, every
    CTE MATERIALIZED, plus a per-round unigram symbol-count CTE (u{k})
    and the likelihood argmax — score = double(pair_count) /
    (double(c_a)·double(c_b)), the SAME pinned expression shape the
    Spark trainer computes, so the IEEE double (and therefore the
    argmax with its (score DESC, a, b) tie-break) is engine-exact."""
    S = "chr(1)"
    m = " MATERIALIZED" if wordpiece else ""
    cte = [
        rf"""w AS{m} (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '')) AS w
    FROM documents) GROUP BY 1),
v0 AS{m} (
  SELECT w, array_to_string(list_append(list_filter(string_split(w, ''), c -> c <> ''), '</w>'), chr(1)) AS syms, cnt
  FROM w)"""
    ]
    for k in range(n_merges):
        pairs = f"""p{k} AS{m} (
  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pair_count FROM (
    SELECT cnt, parts[i] AS a, parts[i+1] AS b
    FROM (SELECT string_split(syms, {S}) AS parts, cnt FROM v{k}),
         unnest(range(1, len(parts))) AS t(i))
  GROUP BY 1, 2),
"""
        if wordpiece:
            cte.append(
                pairs
                + f"""u{k} AS MATERIALIZED (
  SELECT s, CAST(sum(cnt) AS BIGINT) AS ucnt FROM (
    SELECT unnest(string_split(syms, {S})) AS s, cnt FROM v{k})
  GROUP BY 1),
b{k} AS (SELECT {k} AS rnk, a, b, pair_count,
                CAST(pair_count AS DOUBLE) / (CAST(ua.ucnt AS DOUBLE) * CAST(ub.ucnt AS DOUBLE)) AS score
         FROM p{k} JOIN u{k} ua ON p{k}.a = ua.s JOIN u{k} ub ON p{k}.b = ub.s
         ORDER BY score DESC, a, b LIMIT 1)"""
            )
        else:
            cte.append(
                pairs
                + f"b{k} AS (SELECT {k} AS rnk, a, b, pair_count FROM p{k} ORDER BY pair_count DESC, a, b LIMIT 1)"
            )
        if k < n_merges - 1 or final_vocab:
            cte.append(
                f"""v{k + 1} AS{m} (
  SELECT v.w, list_reduce(list_prepend('', string_split(v.syms, {S})),
           (acc, s) -> CASE
             WHEN acc <> '' AND string_split(acc, {S})[-1] = bk.a AND s = bk.b
             THEN array_to_string(list_append(array_pop_back(string_split(acc, {S})), bk.a || bk.b), {S})
             ELSE CASE WHEN acc = '' THEN s ELSE acc || {S} || s END END) AS syms,
         v.cnt
  FROM v{k} v CROSS JOIN b{k} bk)"""
            )
    return ",\n".join(cte)


# the corpus words per doc, the head of every subword-apply oracle tail
_DOC_WORDS_SQL = """dw AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '')) AS w
  FROM documents)"""


def _subword_count_oracle_sql(n_merges: int, *, wordpiece: bool = False) -> str:
    """Apply-stage oracle: per-doc subword counts under the LEARNED
    merges = sum over the doc's words of the final vocab's segment
    length (v{n_merges} carries every word's post-merge symbol
    string)."""
    return (
        "WITH "
        + _merge_oracle_ctes(n_merges, final_vocab=True, wordpiece=wordpiece)
        + f""",
seg AS (SELECT w, len(string_split(syms, chr(1))) AS n_syms FROM v{n_merges}),
{_DOC_WORDS_SQL},
per_doc AS (
  SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_subwords
  FROM dw JOIN seg USING (w) GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(p.n_subwords, 0) AS n_subwords
FROM documents d LEFT JOIN per_doc p USING (doc_id)"""
    )


def _bpe_train_oracle_sql(n_merges: int) -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT CAST(rnk AS INT) AS rank, a AS lhs, b AS rhs, a || b AS merged, pair_count FROM b{k}"
        for k in range(n_merges)
    )
    return "WITH " + _merge_oracle_ctes(n_merges) + "\n" + sel


def _wp_train_oracle_sql(n_merges: int) -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT CAST(rnk AS INT) AS rank, a AS lhs, b AS rhs, a || b AS merged, pair_count, round(score, 6) AS score FROM b{k}"
        for k in range(n_merges)
    )
    return "WITH " + _merge_oracle_ctes(n_merges, wordpiece=True) + "\n" + sel


def _wp_greedy_oracle_sql(n_merges: int, max_symbols: int = 9) -> str:
    """Greedy longest-match-first WordPiece apply, unrolled: re-train
    the merges, build the vocabulary (corpus base chars + eow + the
    merged symbols), then segment every distinct word with a
    list_reduce whose accumulator is a 'pos|n|unk' state string — each
    step a longest-first CASE chain over the ≤ max_symbols candidate
    slices, mirroring the Spark fold's branch order exactly."""
    pos = "CAST(string_split(acc, '|')[1] AS INT)"
    n = "CAST(string_split(acc, '|')[2] AS INT)"
    unk = "string_split(acc, '|')[3]"
    arms = []
    for K in range(max_symbols, 0, -1):
        arms.append(
            f"WHEN {pos} + {K - 1} <= len(syms) AND "
            f"list_contains(vv.vl, array_to_string(syms[{pos}:{pos} + {K - 1}], '')) "
            f"THEN ({pos} + {K}) || '|' || ({n} + 1) || '|' || {unk}"
        )
    case = (
        f"CASE WHEN {pos} > len(syms) THEN acc "
        + " ".join(arms)
        + f" ELSE ({pos} + 1) || '|' || ({n} + 1) || '|' || '1' END"
    )
    merged = "".join(
        f"\n  UNION SELECT a || b AS piece FROM b{k}" for k in range(n_merges)
    )
    return (
        "WITH "
        + _merge_oracle_ctes(n_merges, wordpiece=True)
        + f""",
vv AS MATERIALIZED (SELECT list(piece) AS vl FROM (
  SELECT DISTINCT unnest(list_filter(string_split(w, ''), c -> c <> '')) AS piece FROM w
  UNION SELECT '</w>'{merged})),
segw AS MATERIALIZED (
  SELECT w, list_reduce(list_prepend('1|0|0', list_transform(range(1, len(syms) + 1), _x -> '')),
           (acc, _x) -> {case}) AS st
  FROM (SELECT w, list_append(list_filter(string_split(w, ''), c -> c <> ''), '</w>') AS syms FROM w)
       CROSS JOIN vv),
seg AS (SELECT w,
               CASE WHEN string_split(st, '|')[3] = '1' THEN 1
                    ELSE CAST(string_split(st, '|')[2] AS INT) END AS n_syms,
               string_split(st, '|')[3] = '1' AS is_unk
        FROM segw),
{_DOC_WORDS_SQL},
per_doc AS (
  SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_subwords,
         CAST(sum(CASE WHEN is_unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words
  FROM dw JOIN seg USING (w) GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(p.n_subwords, 0) AS n_subwords,
       coalesce(p.n_unk_words, 0) AS n_unk_words
FROM documents d LEFT JOIN per_doc p USING (doc_id)"""
    )


@register("text_wordpiece_greedy_count", _wp_greedy_oracle_sql(8))
def text_wordpiece_greedy_count(spark, sf_dir):
    """The PRODUCTION WordPiece apply under a full oracle: greedy
    longest-match-first segmentation against the trained vocabulary
    (base chars + eow + the 8 learned merges) — the rule BERT's
    tokenizer runs at inference, distinct from the training-fold
    replay text_wordpiece_subword_count checks — with per-doc subword
    and [UNK]-word counts.  The oracle re-trains the merges, rebuilds
    the same vocabulary, and replays the greedy fold step-for-step
    (the longest-first candidate order AND the all-or-nothing unknown
    rule are part of the hashed contract).  The corpus vocabulary
    covers every base char, so n_unk_words is provably 0 here; the
    UNK path is pinned by a restricted-vocab unit test."""
    from opentsdb_aura_spark.operators.text import wordpiece_greedy_apply

    d = docs(spark, sf_dir)
    vocab = _wp_vocab(d)
    return wordpiece_greedy_apply(d, vocab, max_symbols=9)


def _wp_vocab(d):
    """The trained WordPiece vocabulary: the corpus alphabet, the
    end-of-word symbol and the 8 learned merges, checked against the
    oracles' pinned 9-symbol candidate span."""
    from opentsdb_aura_spark.operators.dedup_text import tokens
    from opentsdb_aura_spark.operators.text import wordpiece_train

    merges = wordpiece_train(d, n_merges=8).orderBy("rank").collect()
    wdf = d.select(F.explode(tokens(F.col("text"))).alias("w"))
    chars = (
        wdf.select(
            F.explode(F.filter(F.split("w", ""), lambda t: t != "")).alias("c")
        )
        .distinct()
        .collect()  # bounded: corpus alphabet
    )
    _wp_assert_span(merges, 9)
    return [r["c"] for r in chars] + ["</w>"] + [r["merged"] for r in merges]


def _wp_assert_span(merges, pinned: int) -> None:
    """max_symbols is pinned to the oracle's unrolled K chain: both
    sides must try the SAME candidate lengths.  A merge can join two
    multi-symbol pieces, so "8 merges → ≤9 symbols" is not a priori
    true (ADVICE r13); prove it on the TRAINED pieces by re-deriving
    each merged piece's base-symbol span from the merge table (base
    char = 1, eow = 1, merged = span(lhs)+span(rhs)) so a wider
    future piece fails loudly instead of silently breaking
    longest-match on both engines."""
    span = {"</w>": 1}
    for r in merges:  # rank order: lhs/rhs precede their merge
        span[r["merged"]] = span.get(r["lhs"], 1) + span.get(r["rhs"], 1)
    widest = max(span.values()) if span else 1
    if widest > pinned:
        raise AssertionError(
            f"trained WordPiece piece spans {widest} base symbols > the "
            f"pinned max_symbols={pinned} — regenerate the oracle K chain"
        )


def _wp_pieces_oracle_sql(n_merges: int, max_symbols: int = 9) -> str:
    """wordpiece_pieces' fold unrolled: the greedy oracle's CASE chain
    extended with a fourth accumulator field carrying the emitted
    piece string (chr(1)-separated state so corpus spaces survive) —
    first match bare, continuations ' ##'-joined, the unk flag
    collapsing the word to '[UNK]' at the end."""
    S = "chr(1)"
    f = f"string_split(acc, {S})"
    pos = f"CAST({f}[1] AS INT)"
    n = f"CAST({f}[2] AS INT)"
    unk = f"{f}[3]"
    out = f"{f}[4]"
    arms = []
    for K in range(max_symbols, 0, -1):
        piece = f"array_to_string(syms[{pos}:{pos} + {K - 1}], '')"
        emitted = f"CASE WHEN {pos} = 1 THEN {piece} ELSE {out} || ' ##' || {piece} END"
        arms.append(
            f"WHEN {pos} + {K - 1} <= len(syms) AND "
            f"list_contains(vv.vl, {piece}) "
            f"THEN ({pos} + {K}) || {S} || ({n} + 1) || {S} || {unk} || {S} || {emitted}"
        )
    case = (
        f"CASE WHEN {pos} > len(syms) THEN acc "
        + " ".join(arms)
        + f" ELSE ({pos} + 1) || {S} || ({n} + 1) || {S} || '1' || {S} || {out} END"
    )
    merged = "".join(
        f"\n  UNION SELECT a || b AS piece FROM b{k}" for k in range(n_merges)
    )
    return (
        "WITH "
        + _merge_oracle_ctes(n_merges, wordpiece=True)
        + f""",
vv AS MATERIALIZED (SELECT list(piece) AS vl FROM (
  SELECT DISTINCT unnest(list_filter(string_split(w, ''), c -> c <> '')) AS piece FROM w
  UNION SELECT '</w>'{merged})),
segw AS MATERIALIZED (
  SELECT w, list_reduce(list_prepend('1' || {S} || '0' || {S} || '0' || {S},
           list_transform(range(1, len(syms) + 1), _x -> '')),
           (acc, _x) -> {case}) AS st
  FROM (SELECT w, list_append(list_filter(string_split(w, ''), c -> c <> ''), '</w>') AS syms FROM w)
       CROSS JOIN vv)
SELECT w,
       CASE WHEN string_split(st, {S})[3] = '1' THEN '[UNK]'
            ELSE string_split(st, {S})[4] END AS pieces,
       CASE WHEN string_split(st, {S})[3] = '1' THEN 1
            ELSE CAST(string_split(st, {S})[2] AS INT) END AS n_pieces,
       string_split(st, {S})[3] = '1' AS is_unk
FROM segw"""
    )


@register("text_wordpiece_pieces", _wp_pieces_oracle_sql(8))
def text_wordpiece_pieces(spark, sf_dir):
    """BERT's tokenizer OUTPUT convention on the trained WordPiece
    vocabulary: the greedy longest-match segmentation of every
    distinct corpus word emitted as pieces with ``##`` continuation
    prefixes ("playing" → "play ##ing"), the all-or-nothing unknown
    rule collapsing unmatchable words to '[UNK]' — the word→pieces
    dim a corpus-wide tokenize joins against, where the counting
    apply (text_wordpiece_greedy_count) only surfaced totals.  The
    oracle re-trains the merges, rebuilds the vocabulary, and replays
    the fold step-for-step with the emitted piece string riding in
    the accumulator, so the piece strings themselves (not just their
    counts) are value-hashed."""
    from opentsdb_aura_spark.operators.text import wordpiece_pieces

    d = docs(spark, sf_dir)
    vocab = _wp_vocab(d)
    return wordpiece_pieces(d, vocab, max_symbols=9)


_BPE_TRAIN_MERGES = 8


@register("text_wordpiece_train_merges", _wp_train_oracle_sql(8))
def text_wordpiece_train_merges(spark, sf_dir):
    """Distributed WordPiece merge learning (Schuster & Nakajima 2012
    — the BERT tokenizer's training rule) under a FULL value-hash
    oracle: 8 rounds of likelihood-scored argmax
    (count(ab)/(count(a)·count(b)) — rare-but-cohesive pairs beat
    frequent-but-independent ones, the property separating WordPiece
    from BPE's raw-count rule) over the word-frequency table, each
    round's pair counts, unigram counts, IEEE score, argmax
    tie-break, AND the greedy fold-merge re-derived exactly by the
    unrolled DuckDB chain.  Completes the trained-tokenizer triple:
    BPE (count argmax), unigram LM (hard-EM pruning), WordPiece
    (likelihood argmax)."""
    from opentsdb_aura_spark.operators.text import wordpiece_train

    res = wordpiece_train(docs(spark, sf_dir), n_merges=8)
    return res.select(
        "rank", "lhs", "rhs", "merged", "pair_count", _r("score", 6).alias("score")
    )


@register("text_wordpiece_subword_count", _subword_count_oracle_sql(8, wordpiece=True))
def text_wordpiece_subword_count(spark, sf_dir):
    """The apply half of WordPiece under the same FULL oracle: train
    8 likelihood-scored merges, segment every document's distinct
    words with them (the bpe_apply fold — merge application is
    mechanically identical, only the learned TABLE differs), return
    per-doc subword counts.  The oracle extends the unrolled training
    chain with the post-merge vocab and joins each doc's words
    against its segment lengths."""
    from opentsdb_aura_spark.operators.text import bpe_apply, wordpiece_train

    d = docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in wordpiece_train(d, n_merges=8).orderBy("rank").collect()
    ]
    return bpe_apply(d, merges)


@register("text_bpe_train_merges", _bpe_train_oracle_sql(_BPE_TRAIN_MERGES))
def text_bpe_train_merges(spark, sf_dir):
    """Distributed BPE merge LEARNING (Sennrich et al.) under a FULL
    value-hash oracle: 8 rounds of pair-count → argmax → fold-merge
    over the word-frequency table, each round re-derived exactly by
    the unrolled DuckDB CTE chain — the argmax, the binary tie-break,
    AND the greedy left-to-right merge application are all checked,
    not just the final counts.  The one text-pipeline stage the
    catalog previously lacked (it applied a fixed BPE via
    text_bpe_token_count but could not learn merges)."""
    from opentsdb_aura_spark.operators.text import bpe_train

    return bpe_train(docs(spark, sf_dir), n_merges=_BPE_TRAIN_MERGES)


@register("text_bpe_subword_count", _subword_count_oracle_sql(_BPE_TRAIN_MERGES))
def text_bpe_subword_count(spark, sf_dir):
    """The apply half of BPE under the same FULL oracle: train 8
    merges on the corpus, segment every document with them, return
    per-doc subword counts.  The oracle extends the unrolled training
    chain with the post-merge vocab (v8) and joins each doc's words
    against its segment lengths — so train AND apply are both
    value-hash-checked end-to-end on the same corpus."""
    from opentsdb_aura_spark.operators.text import bpe_apply, bpe_train

    d = docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(d, n_merges=_BPE_TRAIN_MERGES).orderBy("rank").collect()
    ]
    return bpe_apply(d, merges)


def _artifact_path(sf_dir: str, name: str) -> str:
    """STORE_ROOT-based artifact location, one dir per (sf, artifact)
    — the persisted-ANN-index convention (version-tagged names so a
    fit-rule change invalidates by renaming, never by trusting)."""
    import os

    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(STORE_ROOT, base, name)


def _artifact_ready(path: str) -> bool:
    import os

    return os.path.exists(os.path.join(path, "_SUCCESS"))


@register("text_bpe_persisted_count", None)
def text_bpe_persisted_count(spark, sf_dir):
    """text_bpe_subword_count THROUGH the persisted-merges path: train
    the 8 BPE merges, WRITE the merge table as a Parquet dim
    (merges_save), load it back rank-ordered (merges_load), and
    segment the corpus from the LOADED merges — train once, tokenize
    everywhere.  Same oracle as the in-memory query (registered
    below): merge strings round-trip Parquet byte-exactly, so a
    hash-green result proves the persisted tokenizer is the trained
    tokenizer."""
    from opentsdb_aura_spark.operators.artifacts import (
        merge_pairs,
        merges_load,
        merges_save,
    )
    from opentsdb_aura_spark.operators.text import bpe_apply, bpe_train

    d = docs(spark, sf_dir)
    path = _artifact_path(sf_dir, "bpe_merges_v1")
    if not _artifact_ready(path):
        merges_save(bpe_train(d, n_merges=_BPE_TRAIN_MERGES), path)
    return bpe_apply(d, merge_pairs(merges_load(spark, path)))


ORACLES["text_bpe_persisted_count"] = ORACLES["text_bpe_subword_count"]


@register("text_wordpiece_persisted_count", None)
def text_wordpiece_persisted_count(spark, sf_dir):
    """text_wordpiece_subword_count THROUGH the persisted-merges path
    (train → merges_save → merges_load → apply), pinned to the
    in-memory query's oracle — the WordPiece leg of the
    train-once-tokenize-everywhere contract."""
    from opentsdb_aura_spark.operators.artifacts import (
        merge_pairs,
        merges_load,
        merges_save,
    )
    from opentsdb_aura_spark.operators.text import bpe_apply, wordpiece_train

    d = docs(spark, sf_dir)
    path = _artifact_path(sf_dir, "wordpiece_merges_v1")
    if not _artifact_ready(path):
        merges_save(wordpiece_train(d, n_merges=8), path)
    return bpe_apply(d, merge_pairs(merges_load(spark, path)))


ORACLES["text_wordpiece_persisted_count"] = ORACLES["text_wordpiece_subword_count"]
