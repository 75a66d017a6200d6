"""Text-analysis operators for training-data pipelines: token
counting, quality scoring, language ID, fingerprinting.

All hot-path arithmetic is built-in `pyspark.sql.functions`
(JVM-side, codegen'd); nothing here uses a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.dedup_text import tokens

# Tiny deterministic stopword list for quality ratios (order matters
# nowhere; membership only).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# Marker-word lists for the n-gram/stopword language-ID heuristic.
# Deterministic and intentionally tiny — a real deployment would load
# a proper model; the *operator shape* (score per language, argmax
# with stable tie-break) is what the engine provides.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "los", "es", "de"),
    "fr": ("le", "la", "les", "est", "et"),
    "zh": ("de", "shi", "le", "zai", "he"),
}


def token_stats(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token + byte counts per doc: (doc_id, n_tokens, n_bytes).

    Empty / whitespace-only text counts 0 tokens — split engines
    return [''] for the empty string, which would report a phantom
    token and make ``n_tokens >= 1`` curation filters keep empty docs.
    """
    toks = tokens(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.octet_length(F.col(text_col)).cast("bigint").alias("n_bytes"),
    )


def bpe_ish_token_count(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-ish token estimate: count of word-piece-like regex matches
    — runs of letters, runs of digits, or single non-space symbols
    (the standard cheap proxy when no tokenizer is shippable to
    executors).  RE2-compatible pattern (no lookaround) so the same
    expression runs on any engine."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return docs.select(F.col(id_col).alias("doc_id"), F.size(pieces).cast("bigint").alias("n_bpe_tokens"))


def quality_scores(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality signals: (doc_id, n_tokens, stopword_ratio,
    mean_token_len, punct_ratio)."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)  # 0 for empty docs (tokens() filters empties)
    sw = F.lit(list(STOPWORDS))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n_punct = F.length(F.col(text_col)) - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_tok.cast("bigint").alias("n_tokens"),
        F.when(n_tok == 0, F.lit(0.0)).otherwise(n_stop.cast("double") / n_tok).alias("stopword_ratio"),
        F.when(n_tok == 0, F.lit(0.0)).otherwise(total_len.cast("double") / n_tok).alias("mean_token_len"),
        # empty text has length 0: ratio defined as 0, not a crash
        F.when(F.length(F.col(text_col)) == 0, F.lit(0.0))
        .otherwise(n_punct.cast("double") / F.length(F.col(text_col)))
        .alias("punct_ratio"),
    )


def lang_id(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    models: dict | None = None,
    n_features: int = 128,
    ngram: int = 3,
) -> DataFrame:
    """Language ID → (doc_id, pred_lang, score).

    Default is the zero-training marker-word heuristic (per-language
    hit counts, argmax with alphabetical tie-break).  Passing
    ``models`` — a dict of lang → (weights, bias) from
    :func:`~opentsdb_aura_spark.operators.quality.train_logreg_weights`
    over :func:`~opentsdb_aura_spark.operators.quality.
    hashed_char_ngram_features` — swaps in the TRAINED one-vs-rest
    classifier (the CCNet/fastText model class; Wenzek et al. 2020
    §4.2): char-n-gram presence features scored by all K models in
    one packed pass, ``score`` = the winning margin.  The heuristic
    stays as the fallback seam for corpora with no fitted model."""
    if models is not None:
        from opentsdb_aura_spark.operators.quality import (
            hashed_char_ngram_features,
            ovr_logreg_scores,
        )

        feats = hashed_char_ngram_features(
            docs, n=ngram, n_features=n_features, text_col=text_col, id_col=id_col
        )
        scored = ovr_logreg_scores(
            feats,
            models,
            docs.select(F.col(id_col).alias("doc_id")),
            n_features=n_features,
        )
        mcols = [F.col(f"margin_{c}") for c in sorted(models)]
        best = F.greatest(*mcols) if len(mcols) > 1 else mcols[0]
        return scored.select("doc_id", "pred_lang", best.alias("score"))
    toks = tokens(F.col(text_col))
    langs = sorted(LANG_MARKERS)
    scores = {}
    for lang in langs:
        markers = F.lit(list(LANG_MARKERS[lang]))
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    best = F.greatest(*[scores[lang] for lang in langs])
    # first alphabetical language reaching the max wins ties — a
    # when-chain in language order, trivially replicable in plain SQL
    pred = F.when(scores[langs[0]] == best, F.lit(langs[0]))
    for lang in langs[1:]:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        pred.alias("pred_lang"),
        best.cast("bigint").alias("score"),
    )


# PII masking rules, applied in order.  Patterns avoid lookaround and
# backreferences so the same expression runs under Java regex (Spark)
# and RE2 (DuckDB/Go) alike.  Order matters: emails first (their
# domains contain dots that would otherwise feed the IP pattern),
# then IPs, then the dashed-number shapes.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def pii_scrub(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Mask PII-shaped spans (emails, IPv4s, SSN-shaped and phone-shaped
    numbers) in one JVM-side pass: (doc_id, scrubbed, n_email, n_ip,
    n_ssn, n_phone).

    Each rule's count is taken over the text as already scrubbed by the
    preceding rules, so a span consumed by an earlier mask is never
    double-counted (an SSN inside an email's digits, say).  Everything
    is `regexp_count`/`regexp_replace` — codegen'd, no Python, no
    shuffle; at 100 TB this is a pure map stage."""
    t = F.col(text_col)
    counts = []
    for name, pat, rep in PII_RULES:
        counts.append(F.regexp_count(t, F.lit(pat)).cast("bigint").alias(f"n_{name}"))
        t = F.regexp_replace(t, pat, rep)
    return docs.select(F.col(id_col).alias("doc_id"), t.alias("scrubbed"), *counts)


def fingerprint(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", token_hash: str = "xxhash64"
) -> DataFrame:
    """Order-sensitive document fingerprint: a hash chained over
    token-position pairs (a rolling-hash analogue that stays in
    Catalyst).  (doc_id, fingerprint).

    ``token_hash``: "xxhash64" (default — 64-bit BIGINT fingerprint,
    JVM-native) or "md5" — the chain folds md5 over "acc:token:pos"
    strings and the fingerprint is the final 32-hex-char string.  md5
    exists in every SQL engine and the fold is expressible as a
    ``list_reduce``, so the md5 variant's fingerprints are exactly
    recomputable by a DuckDB oracle (the same cross-engine trick as
    ``dedup_text.simhash(token_hash="md5")``); token order, token
    positions, and the empty-token filter all still matter to the
    value."""
    toks = tokens(F.col(text_col))
    if token_hash == "md5":
        posed = F.transform(toks, lambda t, i: F.concat(t, F.lit(":"), i.cast("string")))
        fp = F.aggregate(
            posed, F.lit(""), lambda acc, p: F.md5(F.concat(acc, F.lit(":"), p))
        )
    elif token_hash == "xxhash64":
        posed = F.transform(toks, lambda t, i: F.xxhash64(t, i))
        fp = F.aggregate(posed, F.lit(0).cast("long"), lambda acc, h: F.xxhash64(acc, h))
    else:
        raise ValueError(f"token_hash must be 'xxhash64' or 'md5', got {token_hash!r}")
    return docs.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))


def bm25_search(
    docs: DataFrame,
    query_tokens: "list[str]",
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ranked full-text retrieval: BM25 score of each doc against a
    bag of query tokens, top-k by score (ties → doc id asc).
    Complements the boolean ``events.text_match`` (E1) with the ranked
    search a corpus user actually runs.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) — the Robertson/Sparck-Jones
    formulation, entirely as aggregates:

    * per-(doc, query-token) tf — the explode is FILTERED to query
      tokens before the aggregate, so the shuffle carries only
      query-term hits, not the corpus token stream;
    * df per query token and the (N, avgdl) scalars ride in via 1-row
      cross joins (Catalyst broadcasts them — no driver collect);
    * final top-k is an order-by-limit over scored docs
      (TakeOrderedAndProject, no global sort materialization).
    """
    from collections import Counter

    # bag semantics: a token repeated in the query weights its term's
    # contribution by its query-side multiplicity (standard BM25 qtf)
    qtf = Counter(t.lower() for t in query_tokens)
    q = sorted(qtf)
    toked = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    lengths = toked.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = lengths.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = toked.where(F.col("token").isin(q))
    tf = hits.groupBy("doc_id", "token").agg(F.count("*").cast("double").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    qtf_col = F.element_at(
        F.create_map(*[F.lit(x) for kv in qtf.items() for x in kv]), F.col("token")
    ).cast("double")
    term = qtf_col * F.col("_idf") * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(stats)
        .withColumn("_idf", idf)
        .join(lengths, "doc_id")
        .withColumn("_term", term)
        .groupBy("doc_id")
        .agg(F.sum("_term").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(int(k))


# ------------------------------------------------- subword tokenizers


def _word_table(docs: DataFrame, text_col: str) -> DataFrame:
    """The corpus as a (w, cnt) word-frequency table — one explode +
    hash agg, the table every tokenizer trainer runs on (|vocab| ≪
    |corpus|)."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def _symbols(eow: str) -> Column:
    """The symbol array of the word column ``w``: its characters plus
    one trailing ``eow`` element.  Built by the ENGINE, so character
    segmentation semantics never re-derive in Python."""
    return F.concat(F.filter(F.split(F.col("w"), ""), lambda t: t != ""), F.array(F.lit(eow)))


def _per_doc_counts(
    docs: DataFrame, seg: list, sums: dict, *, text_col: str, id_col: str
) -> DataFrame:
    """The appliers' per-doc tail: each DISTINCT word segments once
    (``seg``: per-word columns over ``w``), its per-(doc, word)
    multiplicity ``n`` joins back, and ``sums`` (output name →
    aggregate over ``n`` and the seg columns) totals it per doc.  The
    result is left-joined onto the DISTINCT doc-id spine, so a
    token-less doc reports 0 instead of vanishing and a repeated doc
    id comes back once (the lm_bigram_scores contract)."""
    words = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("n"))
    per_word = words.select("w").distinct().select("w", *seg)
    per_doc = (
        wc.join(per_word, "w")
        .groupBy("doc_id")
        .agg(*[agg.cast("long").alias(name) for name, agg in sums.items()])
    )
    all_ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return all_ids.join(per_doc, "doc_id", "left").select(
        "doc_id", *[F.coalesce(name, F.lit(0).cast("long")).alias(name) for name in sums]
    )


def _merge_pair_expr(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right BPE merge of adjacent (a, b) into a+b over
    a symbol array — a pure-Catalyst fold (aggregate HOF), no Python.
    ``try_element_at`` keeps the empty-accumulator peek NULL-safe under
    ANSI mode; left-to-right greediness falls out of the fold order
    ('aaa' under merge (a,a) → ['aa','a'], the Sennrich behavior)."""
    ab = F.lit(a + b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(ab)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


# Distinct-word cap under which the tokenizer training loops collect
# the word-frequency table once and fold the merges driver-side — the
# resolve_duplicate_clusters discipline (<=200k edges driver union-find,
# distributed above).  |vocab| grows sublinearly with corpus size, so
# at fixture scale the table is tiny and the distributed loop's cost is
# pure orchestration (8 rounds x several jobs over <=1k rows, measured
# ~0.3-0.6 s/round of driver+stage overhead); above the cap the
# distributed loop is unchanged.  The local fold replicates the engine
# arithmetic exactly: integer pair counts, IEEE-double scores
# (double(pair)/(double(ca)*double(cb)) — one rounding each, same as
# the Catalyst cast chain), argmax tie-broken on UTF-8 BYTE order (the
# UTF8String sort order Spark's orderBy uses; Python code-point order
# differs above U+FFFF, hence the encode).
_TRAIN_LOCAL_CAP = 200_000


def _local_probe(table: DataFrame) -> list | None:
    """Collect a trainer's word table iff it has at most
    ``_TRAIN_LOCAL_CAP`` rows — the limit(cap+1) probe; None above."""
    rows = table.limit(_TRAIN_LOCAL_CAP + 1).collect()
    return rows if len(rows) <= _TRAIN_LOCAL_CAP else None


def _local_merge_fold(syms: list, a: str, b: str) -> list:
    """Driver-side replica of :func:`_merge_pair_expr`'s greedy
    left-to-right fold ('aaa' under (a,a) -> ['aa','a'])."""
    out: list = []
    ab = a + b
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = ab
        else:
            out.append(s)
    return out


def _u8(s: str) -> bytes:
    return s.encode("utf-8")


_MERGES_SCHEMA = "rank int, lhs string, rhs string, merged string, pair_count long"


def _train_merges(
    docs: DataFrame, *, n_merges: int, text_col: str, eow: str, likelihood: bool
) -> list[tuple]:
    """The merge-learning loop BPE and WordPiece share; the pair score
    is the only difference.  ``likelihood=False`` ranks pairs on the
    raw pair count (BPE), ``True`` on count(ab) / (count(a)·count(b))
    over the round's symbol counts (WordPiece).

    Distributed shape: training runs on the WORD-FREQUENCY table, not
    the corpus (the classic optimization — |vocab| ≪ |corpus|, and the
    corpus pass is ONE explode + hash agg).  Each round is a narrow
    pair-explode + one hash agg (WordPiece adds one symbol hash agg
    and two joins) + a 1-row argmax collect, then a pure-Catalyst fold
    applies the merge to every word; the vocab is localCheckpointed
    lazily per round, so the round's single argmax collect
    materializes it (one job per round, lineage one fold step deep).
    Under ``_TRAIN_LOCAL_CAP`` distinct words the same loop runs
    driver-side off ONE collect of the table.

    Deterministic: argmax keys are (score DESC, lhs, rhs), in binary
    string order on the engine and UTF-8 byte order locally —
    identical, so the catalog oracles re-derive every round.  Stops
    early when no adjacent pair remains.

    Returns (rank, lhs, rhs, merged, pair_count, score) tuples, rank 0
    first; BPE's score is its pair count."""
    vocab = _word_table(docs, text_col).select(_symbols(eow).alias("syms"), "cnt")
    merges: list[tuple] = []
    rows = _local_probe(vocab)
    if rows is not None:
        local = [(list(s), int(c)) for s, c in rows]
        for rank in range(int(n_merges)):
            pc: dict = {}
            uc: dict = {}
            for syms, cnt in local:
                for k in zip(syms, syms[1:]):
                    pc[k] = pc.get(k, 0) + cnt
                if likelihood:
                    for s in syms:
                        uc[s] = uc.get(s, 0) + cnt
            if not pc:
                break
            scores = pc
            if likelihood:
                scores = {
                    k: float(v) / (float(uc[k[0]]) * float(uc[k[1]])) for k, v in pc.items()
                }
            (a, b), score = min(
                scores.items(), key=lambda kv: (-kv[1], _u8(kv[0][0]), _u8(kv[0][1]))
            )
            merges.append((rank, a, b, a + b, pc[(a, b)], score))
            local = [(_local_merge_fold(s, a, b), c) for s, c in local]
        return merges

    vocab = vocab.localCheckpoint(eager=False)
    for rank in range(int(n_merges)):
        left = F.slice(F.col("syms"), F.lit(1), F.size(F.col("syms")) - 1)
        right = F.slice(F.col("syms"), F.lit(2), F.size(F.col("syms")) - 1)
        pairs = vocab.select(
            F.explode(
                F.zip_with(left, right, lambda a, b: F.struct(a.alias("a"), b.alias("b")))
            ).alias("p"),
            "cnt",
        )
        ranked = pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
            F.sum("cnt").alias("pair_count")
        )
        key = "pair_count"
        if likelihood:
            uni = (
                vocab.select(F.explode("syms").alias("s"), "cnt")
                .groupBy("s")
                .agg(F.sum("cnt").alias("ucnt"))
            )
            ua = uni.select(F.col("s").alias("a"), F.col("ucnt").alias("ca"))
            ub = uni.select(F.col("s").alias("b"), F.col("ucnt").alias("cb"))
            score = F.col("pair_count").cast("double") / (
                F.col("ca").cast("double") * F.col("cb").cast("double")
            )
            ranked = (
                ranked.join(ua, "a")
                .join(ub, "b")
                .select("a", "b", "pair_count", score.alias("score"))
            )
            key = "score"
        best = ranked.orderBy(F.col(key).desc(), F.col("a"), F.col("b")).limit(1).collect()
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((rank, a, b, a + b, int(best[0]["pair_count"]), best[0][key]))
        vocab = vocab.select(
            _merge_pair_expr(F.col("syms"), a, b).alias("syms"), "cnt"
        ).localCheckpoint(eager=False)
    return merges


def bpe_train(
    docs: DataFrame,
    *,
    n_merges: int = 8,
    text_col: str = "text",
    eow: str = "</w>",
) -> DataFrame:
    """Learn BPE merges from a corpus (Sennrich et al., "Neural Machine
    Translation of Rare Words with Subword Units" — the subword-vocab
    training stage every LLM-data pipeline runs before tokenizing):
    iteratively merge the most frequent adjacent symbol pair, starting
    from characters + an end-of-word marker.  Runs the shared merge
    loop (:func:`_train_merges`) ranking on the raw pair count,
    tie-broken (pair_count DESC, left, right).

    Returns (rank, lhs, rhs, merged, pair_count) — one row per learned
    merge, rank 0 first.
    """
    merges = _train_merges(
        docs, n_merges=n_merges, text_col=text_col, eow=eow, likelihood=False
    )
    return docs.sparkSession.createDataFrame([m[:5] for m in merges], _MERGES_SCHEMA)


def wordpiece_train(
    docs: DataFrame,
    *,
    n_merges: int = 8,
    text_col: str = "text",
    eow: str = "</w>",
) -> DataFrame:
    """Learn WordPiece merges (Schuster & Nakajima 2012; the BERT
    tokenizer's training rule) — the THIRD trained-subword family next
    to BPE and the unigram LM: the merge loop of :func:`bpe_train`
    (:func:`_train_merges`), but each round merges the pair maximizing
    the LIKELIHOOD score count(ab) / (count(a)·count(b)) instead of the
    raw pair count — rare symbols that almost always co-occur merge
    before frequent-but-independent ones.  Tie-break (score DESC,
    left, right).

    Returns (rank, lhs, rhs, merged, pair_count, score) — one row per
    learned merge, rank 0 first."""
    merges = _train_merges(
        docs, n_merges=n_merges, text_col=text_col, eow=eow, likelihood=True
    )
    return docs.sparkSession.createDataFrame(merges, _MERGES_SCHEMA + ", score double")


def _wordpiece_matcher(vocab, max_symbols: int | None, eow: str, who: str):
    """The setup both greedy WordPiece folds share: the sorted, deduped
    vocabulary as a literal map, the symbol array of ``w`` and its
    size.  ``max_symbols`` defaults to a safe upper bound derived from
    the vocabulary (a piece spans at most len(piece) base symbols,
    since every base symbol is ≥1 char).

    Returns (size, match, max_symbols): ``match(pos, k)`` gives the
    candidate piece of the k symbols starting at ``pos`` and whether
    it is in the vocabulary."""
    pieces = sorted(set(vocab))
    if not pieces:
        raise ValueError(f"{who}: empty vocabulary")
    if max_symbols is None:
        max_symbols = max(len(p) for p in pieces)
    vmap = F.map_from_arrays(F.lit(list(pieces)), F.lit([1] * len(pieces)))
    syms = _symbols(eow)
    size = F.size(syms)

    def match(pos, k):
        piece = F.array_join(F.slice(syms, pos, k), "")
        return piece, (pos + k - 1 <= size) & vmap.getItem(piece).isNotNull()

    return size, match, int(max_symbols)


def wordpiece_greedy_apply(
    docs: DataFrame,
    vocab,
    *,
    max_symbols: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    eow: str = "</w>",
) -> DataFrame:
    """PRODUCTION WordPiece tokenization: greedy longest-match-first
    segmentation against a trained vocabulary (the rule BERT's
    tokenizer actually runs — NOT the training-fold replay
    :func:`bpe_apply` uses), with the spec's all-or-nothing unknown
    rule: a word containing any unmatchable symbol tokenizes to ONE
    [UNK] piece.

    ``vocab`` is the trained piece list (base characters + merged
    symbols + the end-of-word marker, e.g. from
    :func:`wordpiece_train`'s merge table).  Matching runs on the
    SYMBOL array (chars + one trailing ``eow`` element), a candidate
    piece being the concatenation of up to ``max_symbols`` adjacent
    symbols — so the multi-char eow marker can never be confused with
    literal ``<``/``/`` characters in corpus text.

    Scale shape: segmentation is a pure-Catalyst fold over the
    DISTINCT-WORD table (each word segmented once; the fold consumes
    ≥1 symbol per step so len(syms) steps suffice, each trying the
    ≤ max_symbols candidate lengths longest-first against the vocab
    as a literal map); per-doc counts are one explode + join + sum.
    Returns (doc_id, n_subwords, n_unk_words).

    ``max_symbols`` must be ≥ the widest piece's base-symbol span or
    long pieces silently never match; the default derives a safe
    upper bound from the vocabulary itself."""
    size, match, max_symbols = _wordpiece_matcher(
        vocab, max_symbols, eow, "wordpiece_greedy_apply"
    )

    def step(acc, _):
        pos, n, unk = acc["pos"], acc["n"], acc["unk"]
        # innermost fallback: unmatchable symbol → flag unk, advance 1
        branch = F.struct(
            (pos + 1).alias("pos"), (n + 1).alias("n"), F.lit(True).alias("unk")
        )
        # wrap k=1..max ascending so the OUTERMOST when (checked first)
        # is the LONGEST candidate — greedy longest-match-first
        for k in range(1, max_symbols + 1):
            _, cond = match(pos, k)
            branch = F.when(
                cond,
                F.struct((pos + k).alias("pos"), (n + 1).alias("n"), unk.alias("unk")),
            ).otherwise(branch)
        return F.when(pos > size, acc).otherwise(branch)

    init = F.struct(F.lit(1).alias("pos"), F.lit(0).alias("n"), F.lit(False).alias("unk"))
    fin = F.aggregate(F.sequence(F.lit(1), size), init, step)
    return _per_doc_counts(
        docs,
        [
            F.when(fin["unk"], F.lit(1)).otherwise(fin["n"]).alias("n_syms"),
            fin["unk"].alias("is_unk"),
        ],
        {
            "n_subwords": F.sum(F.col("n") * F.col("n_syms")),
            "n_unk_words": F.sum(F.when(F.col("is_unk"), F.col("n")).otherwise(F.lit(0))),
        },
        text_col=text_col,
        id_col=id_col,
    )


def bpe_apply(
    docs: DataFrame,
    merges,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    eow: str = "</w>",
) -> DataFrame:
    """Apply a learned merge list (rank-ordered (lhs, rhs) pairs from
    :func:`bpe_train`) — the tokenize-with-trained-vocab stage.

    Scale shape: merges apply to the DISTINCT-WORD table (each word
    segmented once, however often it recurs), as a chain of
    pure-Catalyst folds (one per merge, rank order — BPE application
    is sequential by definition); per-doc subword counts then come
    from one explode + join + sum, never a per-doc Python pass.

    Returns (doc_id, n_subwords) — the trained-vocab token count per
    document."""
    syms = _symbols(eow)
    for a, b in merges:
        syms = _merge_pair_expr(syms, a, b)
    return _per_doc_counts(
        docs,
        [F.size(syms).alias("n_syms")],
        {"n_subwords": F.sum(F.col("n") * F.col("n_syms"))},
        text_col=text_col,
        id_col=id_col,
    )


# ---------------------------------------------- unigram-LM tokenizer

#: piece separator inside a segmentation string — same unit separator
#: the shingle hashes use; cannot occur in whitespace-split tokens
_USEG_SEP = "\x1f"

#: log-probabilities are quantized to integer micro-nats before the
#: Viterbi DP, so path scores are exact BIGINT sums — segmentation
#: argmax and its tie-breaks become engine-exact (no float-order drift
#: between Spark, the Python driver loop, and a SQL oracle)
_USEG_SCALE = 1_000_000


def _ilogp(p: float) -> int:
    """round(ln(p)·1e6 + 1e-9) with HALF-AWAY-FROM-ZERO rounding —
    bit-identical to the oracle AS EXECUTED: the source CTE says
    ``CAST(round(ln(p)*1000000) AS BIGINT)``, and register()
    (queries/base.py) rewrites every ``round(`` to ``round(1e-9 + ``
    at registration, so DuckDB runs the same +1e-9 nudge this
    function applies (C libm ln on both sides; Python's builtin
    round is banker's and would disagree on exact halves)."""
    import math

    x = math.log(p) * _USEG_SCALE + 1e-9
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _laplace_log_probs(counts: dict) -> dict:
    """Piece counts → the piece → integer micro-nat log-prob dict
    :func:`unigram_apply` consumes: Laplace smoothing (c+1)/(total+|V|)
    quantized by :func:`_ilogp`.  Integer-exact, so a vocabulary
    re-derived from persisted counts equals the in-memory one."""
    total = sum(counts.values())
    v = len(counts)
    return {p: _ilogp((c + 1.0) / (total + v)) for p, c in counts.items()}


def _useg_better(c, b):
    """Viterbi candidate order: higher score, then FEWER pieces, then
    lexicographically smallest segmentation string — a total order
    with no float comparisons (scores are integer micro-nats)."""
    return (
        (c["score"] > b["score"])
        | ((c["score"] == b["score"]) & (c["n"] < b["n"]))
        | (
            (c["score"] == b["score"])
            & (c["n"] == b["n"])
            & (c["seg"] < b["seg"])
        )
    )


def _local_viterbi_pieces(
    word: str, vocab: dict, max_piece_len: int, unk_lp: int
) -> list:
    """Driver-side replica of :func:`_viterbi_expr`'s DP for the
    bounded-fit path: integer micro-nat scores, candidate order
    (higher score, fewer pieces, byte-smallest segmentation), the
    same <unk> fallback for unseen single characters.  Returns the
    winning segmentation's pieces."""
    if not word:
        return []
    # dp[i] = (score, n, seg) for the best segmentation of word[:i]
    dp = [(0, 0, "")]
    for i in range(1, len(word) + 1):
        best = (-(2**62), 2**31 - 1, "")
        for length in range(1, min(int(max_piece_len), i) + 1):
            piece = word[i - length : i]
            lp = vocab.get(piece)
            if lp is None:
                if length != 1:
                    continue
                lp = unk_lp
            prev = dp[i - length]
            cand = (prev[0] + lp, prev[1] + 1, prev[2] + _USEG_SEP + piece)
            if (
                cand[0] > best[0]
                or (cand[0] == best[0] and cand[1] < best[1])
                or (
                    cand[0] == best[0]
                    and cand[1] == best[1]
                    and _u8(cand[2]) < _u8(best[2])
                )
            ):
                best = cand
        dp.append(best)
    return [p for p in dp[-1][2].split(_USEG_SEP) if p != ""]


def _viterbi_expr(word, vocab: dict, max_piece_len: int):
    """Best unigram segmentation of one word column under a bounded
    vocab → struct(score BIGINT, n pieces, seg '\\x1f'-joined) — the
    SentencePiece Viterbi encoder as ONE Catalyst expression: a fold
    over character positions whose accumulator is the DP table (array
    of best-prefix structs), each step maximizing over the ≤
    ``max_piece_len`` pieces that could end there.  The vocab rides as
    a literal map (bounded by construction — chars + top-K pieces), so
    segmentation is a narrow per-row pass: no join, no shuffle, no
    Python."""
    if not vocab:
        raise ValueError("_viterbi_expr: empty vocabulary")
    m = F.create_map(
        *[F.lit(x) for piece, lp in sorted(vocab.items()) for x in (piece, lp)]
    )
    # total coverage: a character the vocab has never seen (applying a
    # trained vocab to NEW text) scores as an <unk> piece strictly
    # below every real piece, instead of poisoning the DP with the
    # sentinel — SentencePiece's unk handling
    unk_lp = min(vocab.values()) - 1_000_000
    empty = F.struct(
        F.lit(0).cast("long").alias("score"),
        F.lit(0).cast("int").alias("n"),
        F.lit("").alias("seg"),
    )
    worst = F.struct(
        F.lit(-(2**62)).cast("long").alias("score"),
        F.lit(2**31 - 1).cast("int").alias("n"),
        F.lit("").alias("seg"),
    )

    def step(acc, i):
        def cand(length):
            start = (i - length + F.lit(1)).cast("int")
            piece = word.substr(start, length.cast("int"))
            prev = F.element_at(acc, start)  # best prefix ending at i-length
            lp = F.element_at(m, piece)
            lp = F.when(length == 1, F.coalesce(lp, F.lit(unk_lp))).otherwise(lp)
            return F.struct(
                (prev["score"] + lp).alias("score"),
                (prev["n"] + F.lit(1)).cast("int").alias("n"),
                F.concat(prev["seg"], F.lit(_USEG_SEP), piece).alias("seg"),
            )

        cands = F.filter(
            F.transform(F.sequence(F.lit(1), F.least(F.lit(max_piece_len), i)), cand),
            lambda s: s["score"].isNotNull(),  # piece not in vocab → NULL score
        )
        best = F.aggregate(
            cands, worst, lambda b, c: F.when(_useg_better(c, b), c).otherwise(b)
        )
        return F.concat(acc, F.array(best))

    dp = F.aggregate(F.sequence(F.lit(1), F.length(word)), F.array(empty), step)
    # empty-string guard: F.sequence(1, 0) yields the DESCENDING [1, 0]
    # in Spark, and the i=0 step would hit element_at(acc, 0) — a
    # runtime error (SQL arrays are 1-indexed).  tokens() never emits
    # empty words, but an unfiltered caller must get the empty
    # segmentation, not a crashed query.
    return F.when(F.length(word) == 0, empty).otherwise(F.element_at(dp, -1))


def unigram_train(
    docs: DataFrame,
    *,
    seed_max_len: int = 4,
    keep_multi: int = 8,
    n_rounds: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Train a unigram-LM subword vocabulary (Kudo 2018, the
    SentencePiece model; hard-EM/Viterbi variant): seed with all
    substrings up to ``seed_max_len``, then alternate (E) Viterbi
    re-segmentation of the word table under the current piece
    log-probs with (M) count re-estimation and pruning to the top
    ``keep_multi`` multi-character pieces — single characters are
    never pruned, so every word stays coverable.  Laplace-smoothed
    probabilities keep zero-count survivors scorable.

    Distributed shape — the :func:`_train_merges` loop discipline:
    everything runs on the DISTINCT-WORD frequency table (|vocab| ≪
    |corpus|; the corpus pays one explode + hash agg); seeding is one
    substring explode + hash agg with a distributed top-K (never a
    full collect); each round's E-step is ONE narrow Viterbi pass over
    the word table (vocab as a literal map) + a tiny piece-count
    aggregation collected to the driver (bounded: ≤ alphabet +
    keep_multi rows).  Under ``_TRAIN_LOCAL_CAP`` distinct words the
    seed top-K and the E-steps run driver-side off ONE collect of the
    word table — integer micro-nat arithmetic with byte-order ties,
    so local ≡ distributed exactly (pinned by test).  The prune and
    the output are the same code on both paths.

    Returns (piece, cnt, prob): final Viterbi counts and the relative
    frequency over the final vocabulary, one row per kept piece."""
    words = _word_table(docs, text_col)
    rows = _local_probe(words)
    if rows is not None:
        wl = [(r["w"], int(r["cnt"])) for r in rows]
        seed_counts: dict = {}
        for wrd, cnt in wl:
            for i in range(len(wrd)):
                for j in range(i + 1, min(i + int(seed_max_len), len(wrd)) + 1):
                    seed_counts[wrd[i:j]] = seed_counts.get(wrd[i:j], 0) + cnt
        vocab_counts = {p: c for p, c in seed_counts.items() if len(p) == 1}
        vocab_counts.update(
            sorted(
                ((p, c) for p, c in seed_counts.items() if len(p) > 1),
                key=lambda pc: (-pc[1], _u8(pc[0])),
            )[: int(keep_multi)]
        )

        def e_step(vocab: dict) -> dict:
            unk_lp = min(vocab.values()) - 1_000_000
            counts: dict = {}
            for wrd, cnt in wl:
                for piece in _local_viterbi_pieces(wrd, vocab, int(seed_max_len), unk_lp):
                    counts[piece] = counts.get(piece, 0) + cnt
            return counts

    else:
        words = words.localCheckpoint(eager=False)
        w = F.col("w")
        subs = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(int(seed_max_len))),
                        lambda length: F.when(
                            i + length - 1 <= F.length(w), w.substr(i.cast("int"), length.cast("int"))
                        ),
                    ),
                    lambda x: x.isNotNull(),
                ),
            )
        )
        seed = (
            words.select(F.explode(subs).alias("piece"), "cnt")
            .groupBy("piece")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .localCheckpoint(eager=False)
        )
        chars = seed.where(F.length("piece") == 1)
        multi = (
            seed.where(F.length("piece") > 1)
            .orderBy(F.col("cnt").desc(), F.col("piece"))
            .limit(int(keep_multi))
        )
        # bounded collect: alphabet + keep_multi rows (the codebook rule)
        vocab_counts = {
            r["piece"]: int(r["cnt"]) for r in chars.unionByName(multi).collect()
        }

        def e_step(vocab: dict) -> dict:
            vit = _viterbi_expr(w, vocab, int(seed_max_len))
            rows = (
                words.select("cnt", F.explode(F.split(vit["seg"], _USEG_SEP)).alias("piece"))
                .where(F.col("piece") != "")
                .groupBy("piece")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
                .collect()  # bounded: <= current vocab size rows
            )
            return {r["piece"]: int(r["cnt"]) for r in rows}

    if not vocab_counts:
        raise ValueError("unigram_train: corpus has no tokens to train on")
    char_set = {p for p in vocab_counts if len(p) == 1}
    for _ in range(int(n_rounds)):
        new_counts = e_step(_laplace_log_probs(vocab_counts))
        vocab_counts = {p: new_counts.get(p, 0) for p in char_set}
        vocab_counts.update(
            sorted(
                ((p, c) for p, c in new_counts.items() if len(p) > 1),
                key=lambda pc: (-pc[1], pc[0]),
            )[: int(keep_multi)]
        )

    out = docs.sparkSession.createDataFrame(
        sorted(vocab_counts.items()), "piece string, cnt long"
    )
    total = sum(vocab_counts.values())
    return out.select(
        "piece",
        "cnt",
        F.round(F.col("cnt") / F.lit(float(total)) + F.lit(1e-9), 6).alias("prob"),
    )


def unigram_apply(
    docs: DataFrame,
    vocab: dict,
    *,
    max_piece_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a trained unigram vocab (piece → integer
    micro-nat log-prob): per-doc Viterbi piece counts → (doc_id,
    n_pieces).  Same shape as bpe_apply: each DISTINCT word segments
    once (narrow pass, vocab as a literal map), per-doc counts come
    from one explode + join + sum."""
    n_w = _viterbi_expr(F.col("w"), vocab, int(max_piece_len))["n"]
    return _per_doc_counts(
        docs,
        [n_w.alias("n_pieces_w")],
        {"n_pieces": F.sum(F.col("n") * F.col("n_pieces_w"))},
        text_col=text_col,
        id_col=id_col,
    )


def unigram_train_vocab(
    docs: DataFrame,
    *,
    seed_max_len: int = 4,
    keep_multi: int = 8,
    n_rounds: int = 2,
    text_col: str = "text",
) -> dict:
    """The trained vocab as the piece → integer-micro-nat log-prob
    dict :func:`unigram_apply` consumes: :func:`_laplace_log_probs`
    over :func:`unigram_train`'s final counts (bounded collect — the
    vocab is driver-sized by construction)."""
    rows = unigram_train(
        docs,
        seed_max_len=seed_max_len,
        keep_multi=keep_multi,
        n_rounds=n_rounds,
        text_col=text_col,
    ).collect()
    return _laplace_log_probs({r["piece"]: int(r["cnt"]) for r in rows})


def wordpiece_pieces(
    docs: DataFrame,
    vocab,
    *,
    max_symbols: int | None = None,
    text_col: str = "text",
    eow: str = "</w>",
) -> DataFrame:
    """The SEGMENTATION surface of the production WordPiece apply —
    :func:`wordpiece_greedy_apply`'s greedy longest-match-first fold
    (same candidate order, same all-or-nothing unknown rule), but
    emitting the PIECES with BERT's ``##`` continuation convention
    (Devlin et al. 2019; "playing" → "play ##ing"): the first matched
    piece is emitted bare, every continuation is prefixed ``##``, and
    a word containing any unmatchable symbol emits the single piece
    ``[UNK]``.  Pieces are emitted exactly as matched (base chars +
    merged symbols + the ``eow`` marker, which is part of the trained
    symbol alphabet here — BERT's vocab files instead bake ``##`` into
    the piece strings, a pure re-labelling of the same segmentation).

    Returns one row per DISTINCT corpus word: (w, pieces, n_pieces,
    is_unk) with pieces space-joined — the tokenizer-debug surface a
    curation team reads, and the word→pieces dim a corpus-wide
    tokenize joins against (the same distinct-word discipline as the
    counting apply: each word segments ONCE, pure Catalyst)."""
    size, match, max_symbols = _wordpiece_matcher(vocab, max_symbols, eow, "wordpiece_pieces")
    distinct_w = docs.select(F.explode(tokens(F.col(text_col))).alias("w")).distinct()

    def step(acc, _):
        pos, n, unk, out = acc["pos"], acc["n"], acc["unk"], acc["out"]
        branch = F.struct(
            (pos + 1).alias("pos"),
            (n + 1).alias("n"),
            F.lit(True).alias("unk"),
            out.alias("out"),
        )
        for k in range(1, max_symbols + 1):
            piece, cond = match(pos, k)
            emitted = F.when(pos == 1, piece).otherwise(
                F.concat(out, F.lit(" ##"), piece)
            )
            branch = F.when(
                cond,
                F.struct(
                    (pos + k).alias("pos"),
                    (n + 1).alias("n"),
                    unk.alias("unk"),
                    emitted.alias("out"),
                ),
            ).otherwise(branch)
        return F.when(pos > size, acc).otherwise(branch)

    init = F.struct(
        F.lit(1).alias("pos"), F.lit(0).alias("n"), F.lit(False).alias("unk"), F.lit("").alias("out")
    )
    fin = F.aggregate(F.sequence(F.lit(1), size), init, step)
    return distinct_w.select(
        "w",
        F.when(fin["unk"], F.lit("[UNK]")).otherwise(fin["out"]).alias("pieces"),
        F.when(fin["unk"], F.lit(1)).otherwise(fin["n"]).cast("int").alias("n_pieces"),
        fin["unk"].alias("is_unk"),
    )
