"""Corpus quality filtering: repetition signals, heuristic quality
gates, and corpus-wide line-level deduplication.

These are the document-quality operators a 100 TB pre-training
pipeline runs before tokenization, in the style of the published
filter suites (Gopher's repetition/quality heuristics — Rae et al.
2021, "Scaling Language Models", appendix A1.1 — and C4's line-level
cleanup — Raffel et al. 2020, §2.2).  They extend the engine beyond
the reference's time-series surface the same way `operators/text.py`
and `operators/corpus.py` do.

Scale shape: every per-doc signal that needs distinct-element counts
(duplicate lines, top n-gram) goes through an explode → per-(doc,
element) pre-aggregation, so the shuffle gets map-side combine and no
single key ever exceeds one document's lines; the corpus-wide line
dedup shuffles once on the line hash and once on doc_id — both keys
are high-cardinality and skew-free.  Nothing collects to the driver;
nothing uses a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from opentsdb_aura_spark.operators.dedup_text import tokens
from opentsdb_aura_spark.operators.text import STOPWORDS

# Token cap for the bounded local LM paths (Laplace and interpolated-KN
# bigram, and the generic KN towers), read at call time by
# _kn_collect_tokens (0 keeps every LM on its distributed chain);
# rationale at the helper block above lm_kn_fit.
_KN_LOCAL_TOK_CAP = 500_000

#: line-start markers counted as bullets and line-end ellipsis shapes
#: (Gopher counts “lines starting with a bullet point” and “lines
#: ending in an ellipsis”)
BULLET_PREFIXES = ("- ", "* ", "• ")
ELLIPSIS_SUFFIXES = ("...", "…")


def _lines(text: Column, sep: str) -> Column:
    return F.split(text, F.lit(sep), -1)


def repetition_signals(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Per-doc repetition ratios: (doc_id, n_lines, dup_line_frac,
    dup_line_char_frac, top_bigram, top_bigram_char_frac).

    - ``dup_line_frac``: fraction of NON-EMPTY lines that are repeats
      of an earlier identical line (Gopher A1.1 "duplicate line
      fraction").  Blank separator lines are excluded from the ratio
      (review r9: ordinary paragraph-separated prose repeats the empty
      string once per paragraph and would flunk the 0.30 gate);
      ``n_lines`` still counts every line.
    - ``dup_line_char_frac``: fraction of characters sitting in those
      repeated lines (blank lines carry zero characters, so this was
      always blank-immune).
    - ``top_bigram_char_frac``: characters covered by the most
      frequent word 2-gram / total token characters (Gopher's
      "top n-gram character fraction" family, n=2); ties break to the
      lexicographically smallest bigram so the ranking is total.
      Overlapping occurrences double-count their shared token, so the
      raw ratio can exceed 1 ("a a a a"); it is clamped to 1.0 — the
      gate thresholds sit far below, and the clamp keeps the column a
      true fraction for downstream calibration (review r9).

    Two explode → pre-aggregate passes (lines, bigrams), each keyed by
    (doc_id, element): map-side combine bounds the shuffle and the
    hottest key is one doc's copy count — no corpus-wide hot key.
    """
    d = F.col(id_col)

    lines = docs.select(d.alias("doc_id"), F.posexplode(_lines(F.col(text_col), line_sep)).alias("pos", "line"))
    per_line = lines.groupBy("doc_id", "line").agg(F.count("*").alias("c"), F.length(F.first("line")).alias("len"))
    ne = (F.col("len") > 0).cast("int")  # blank lines sit outside the dup ratio
    line_sig = per_line.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_lines"),
        F.when(F.sum(F.col("c") * ne) == 0, F.lit(0.0))
        .otherwise(F.sum((F.col("c") - 1) * ne) / F.sum(F.col("c") * ne))
        .alias("dup_line_frac"),
        # all-empty-line docs (text='') have sum(c*len)=0: define the
        # char fraction as 0 rather than ANSI-crash the whole pass
        F.when(F.sum(F.col("c") * F.col("len")) == 0, F.lit(0.0))
        .otherwise(F.sum((F.col("c") - 1) * F.col("len")) / F.sum(F.col("c") * F.col("len")))
        .alias("dup_line_char_frac"),
    )

    toks = tokens(F.col(text_col))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)),
    )
    total_tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    bg = docs.select(
        d.alias("doc_id"),
        total_tok_chars.alias("_tok_chars"),
        F.explode(F.when(F.size(toks) >= 2, bigrams).otherwise(F.array())).alias("bigram"),
    )
    per_bg = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"), F.first("_tok_chars").alias("_tok_chars"))
    # most frequent bigram with smallest-bigram tie-break: restrict to
    # the per-doc max count (one extra hash agg with map-side combine
    # — cheaper and skew-safer than a window over all bigrams), then
    # min(bigram) among the tied
    mx = per_bg.groupBy("doc_id").agg(F.max("c").alias("_mx"), F.first("_tok_chars").alias("_tok_chars"))
    top_bg = (
        per_bg.select("doc_id", "bigram", "c")
        .join(mx, "doc_id")
        .where(F.col("c") == F.col("_mx"))
        .groupBy("doc_id")
        .agg(
            F.min("bigram").alias("top_bigram"),
            F.first("_mx").alias("_c"),
            F.first("_tok_chars").alias("_tc"),
        )
        .select(
            "doc_id",
            "top_bigram",
            # covered chars = count * (bigram chars minus the joining
            # space); clamped — overlapping occurrences share a token
            F.least(
                F.col("_c") * (F.length("top_bigram") - 1) / F.col("_tc"), F.lit(1.0)
            ).alias("top_bigram_char_frac"),
        )
    )
    return line_sig.join(top_bg, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        "top_bigram",
        F.coalesce("top_bigram_char_frac", F.lit(0.0)).alias("top_bigram_char_frac"),
    )


def gopher_quality_flags(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style per-doc quality gate: one row per doc with the raw
    signals, each rule's boolean, and ``keep`` = AND of all rules.

    Signals (Rae et al. 2021 appendix A1.1): token count in
    [min_tokens, max_tokens], mean word length in [3, 10], symbol/word
    ratio (``#`` and ellipsis) ≤ 0.1, ≤ 90% of lines starting with a
    bullet, ≤ 30% ending with an ellipsis, ≥ 80% of words containing
    an alphabetic character, and ≥ 2 distinct-position stopword hits.

    Pure Catalyst map stage — one projection, no shuffle, no Python;
    at 100 TB this pushes straight down onto the parquet scan.
    ``extra_cols`` pass through unchanged so downstream gates (e.g.
    the page-level link-density flag over html_to_text's counters)
    compose in the SAME projection instead of re-joining the frame.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    mean_wl = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / n_tok
    n_sym = F.aggregate(
        toks,
        F.lit(0),
        lambda a, x: a
        + F.length(x)
        - F.length(F.regexp_replace(x, r"#", ""))
        + F.when(x.contains("...") | x.contains("…"), 1).otherwise(0),
    )
    lines = _lines(t, line_sep)
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: F.substring(l, 1, 2).isin(*[p for p in BULLET_PREFIXES])))
    n_ellip = F.size(F.filter(lines, lambda l: F.endswith(l, F.lit("...")) | F.endswith(l, F.lit("…"))))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    sw = F.lit(list(STOPWORDS))
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))

    sig = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra_cols],
        n_tok.cast("bigint").alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        (n_sym.cast("double") / n_tok).alias("symbol_word_ratio"),
        (n_bullet.cast("double") / n_lines).alias("bullet_line_frac"),
        (n_ellip.cast("double") / n_lines).alias("ellipsis_line_frac"),
        (n_alpha.cast("double") / n_tok).alias("alpha_word_frac"),
        n_stop.cast("bigint").alias("n_stopword_hits"),
    )
    # zero-token docs have NaN ratio signals, and Spark orders NaN
    # ABOVE all doubles, so an unguarded `alpha_word_frac >= 0.8`
    # would read TRUE for an empty doc — every per-token rule is
    # anchored on n_tokens > 0 so its boolean is well-defined even
    # when a consumer relaxes the token-count rule (review r9)
    has_toks = F.col("n_tokens") > 0
    rules = {
        "ok_n_tokens": (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens),
        "ok_mean_word_len": has_toks
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "ok_symbol_ratio": has_toks & (F.col("symbol_word_ratio") <= max_symbol_word_ratio),
        "ok_bullet_lines": F.col("bullet_line_frac") <= max_bullet_line_frac,
        "ok_ellipsis_lines": F.col("ellipsis_line_frac") <= max_ellipsis_line_frac,
        "ok_alpha_words": has_toks & (F.col("alpha_word_frac") >= min_alpha_word_frac),
        "ok_stopwords": F.col("n_stopword_hits") >= min_stopword_hits,
    }
    keep = None
    for name, rule in rules.items():
        sig = sig.withColumn(name, rule)
        keep = rule if keep is None else (keep & rule)
    return sig.withColumn("keep", keep)


#: Deterministic fixture blocklist for tests/oracles: ``dup`` hits ~5%
#: of the synthetic corpus (realistic C4 selectivity), the other two
#: entries never occur (prove multi-entry list shape without nuking
#: the corpus).  Production swaps in a real blocklist (C4 used the
#: "List of Dirty, Naughty, Obscene..." list) — same code path.
FIXTURE_BADWORDS = ("dup", "obscene", "xxx-badword")


def badwords_exprs(blocklist, text_col: str = "text"):
    """(n_badword_hits, ok_badwords) Column pair for the C4 §2.2
    blocklist gate — THE single definition, shared by
    :func:`badwords_flags` and fused compositions so the match rule
    can never diverge.  A hit is a whole lowercase whitespace token
    equal to a blocklist entry (the same tokenizer every other gate
    here uses).  The blocklist is a LITERAL array (a few hundred
    entries at production size) evaluated per token JVM-side — no
    join, no shuffle, pushes down with the rest of the projection."""
    blocklist = tuple(blocklist)
    if not blocklist:
        # empty blocklist: zero hits, pass everything non-NULL — an
        # unguarded F.array() with no elements is an analysis error
        hits = F.when(F.col(text_col).isNotNull(), F.lit(0)).cast("bigint")
        return hits, F.coalesce(hits == 0, F.lit(False))
    bl = F.lit([str(w).lower() for w in blocklist])
    hits = F.size(F.filter(tokens(F.col(text_col)), lambda t: F.array_contains(bl, t)))
    ok = F.coalesce(hits == 0, F.lit(False))  # NULL text: nothing to keep
    return hits.cast("bigint"), ok


def badwords_flags(
    docs: DataFrame,
    blocklist=FIXTURE_BADWORDS,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style blocklist gate (Raffel et al. 2020 §2.2: pages
    containing any word on a blocklist are removed): per doc, the
    occurrence count of blocklisted tokens and the keep flag.  One
    codegen'd projection, zero shuffle at any scale.  Returns
    (doc_id, n_badword_hits, ok_badwords)."""
    hits, ok = badwords_exprs(blocklist, text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        hits.alias("n_badword_hits"),
        ok.alias("ok_badwords"),
    )


def link_density_exprs(
    link_col: str = "link_chars",
    text_col: str = "text_chars",
    max_link_density: float = 0.3,
):
    """The page-level link-density rule as a (link_density,
    ok_link_density) Column pair — THE single definition, shared by
    :func:`link_density_flags` and fused compositions
    (pipeline_crawl_curate) so the threshold and NULL handling can
    never diverge between the standalone gate and an inlined copy."""
    lk, tx = F.col(link_col).cast("double"), F.col(text_col).cast("double")
    density = F.when(tx > 0, lk / tx)
    ok = F.coalesce(density <= float(max_link_density), F.lit(False))
    return density, ok


def link_density_flags(
    pages: DataFrame,
    *,
    link_col: str = "link_chars",
    text_col: str = "text_chars",
    id_col: str = "doc_id",
    max_link_density: float = 0.3,
) -> DataFrame:
    """Page-level link-density gate over html_to_text output: pages
    whose visible characters are mostly anchor text are link farms /
    navigation hubs, not content (the page-level form of the
    block-level Kohlschütter rule html_to_text applies, with the
    ~0.3 threshold the C4/RefinedWeb-style web curation stacks use).

    Consumes the ``link_chars``/``text_chars`` counters the extractor
    already emits — no re-parse, just one codegen'd projection (at
    100 TB the HTML pass runs once and every downstream quality gate
    reuses its counters).  ``link_density`` is NULL for pages with no
    visible text (and such pages fail the gate: nothing to keep).
    Returns (doc_id, link_chars, text_chars, link_density,
    ok_link_density)."""
    density, ok = link_density_exprs(link_col, text_col, max_link_density)
    return pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(link_col).cast("bigint").alias("link_chars"),
        F.col(text_col).cast("bigint").alias("text_chars"),
        density.alias("link_density"),
        ok.alias("ok_link_density"),
    )


def corpus_line_dedup(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    max_occurrences: int = 1,
) -> DataFrame:
    """C4-style corpus-wide line dedup: every distinct line keeps its
    first ``max_occurrences`` occurrences (ordered by (doc_id,
    position)); later repeats are dropped and documents are
    reassembled in original line order.  Returns (doc_id,
    cleaned_text, n_lines_kept, n_lines_dropped).

    Two shuffles at scale: one Exchange on the line hash for the
    occurrence ranking (high-cardinality key; the hottest key's row
    count is the corpus-wide copy count of one line — the window only
    ranks, so Spark's WindowGroupLimit-style early pruning keeps
    memory bounded), then one on doc_id to reassemble.  Empty docs
    (all lines dropped) still surface with ``cleaned_text = ''``.
    """
    d = F.col(id_col)
    lines = docs.select(
        d.alias("doc_id"), F.posexplode(_lines(F.col(text_col), line_sep)).alias("pos", "line")
    )
    w = Window.partitionBy("line").orderBy("doc_id", "pos")
    ranked = lines.withColumn("_rn", F.row_number().over(w))
    kept = F.col("_rn") <= max_occurrences
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(kept, F.struct(F.col("pos"), F.col("line"))))
                    ),
                    lambda s: s["line"],
                ),
                line_sep,
            ).alias("cleaned_text"),
            F.count_if(kept).cast("bigint").alias("n_lines_kept"),
            F.count_if(~kept).cast("bigint").alias("n_lines_dropped"),
        )
    )


def lm_bigram_scores(
    docs: DataFrame,
    *,
    alpha: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained bigram LM
    → (doc_id, n_bigrams, avg_logprob).

    The CCNet-style filter signal (Wenzek et al. 2020 use a KenLM
    5-gram; a Laplace-smoothed bigram model is the same signal with a
    closed-form, engine-native fit): for every adjacent token pair,
    ``ln((B(w1,w2) + α) / (U(w1) + α·V))`` with corpus counts B/U and
    vocabulary size V, averaged per document.  Documents scoring far
    below the corpus norm are boilerplate/gibberish candidates; far
    above, near-duplicates of frequent content.

    Scale shape: two corpus count tables built with map-side combine,
    then the doc bigram stream equi-joins them (shuffle on the bigram /
    unigram keys, both high-cardinality); V joins in as a broadcast
    1-row literal.  Training IS the aggregation — no driver fit, no
    Python.  Under ``_KN_LOCAL_TOK_CAP`` tokens the whole fit+score
    runs driver-side off one bounded collect (same floats,
    libm-log/avg-order drift absorbed by the consumers' 4-decimal
    round).
    """
    a = float(alpha)

    def laplace(rows, ids, U, c):
        import numpy as np

        # elementwise-identical to the scalar log((c+α)/(U(w1)+α·V))
        tok_ids = np.fromiter((ids[w] for _, tk in rows for w in tk), np.int64)
        u1 = np.bincount(tok_ids, minlength=len(ids))[U[:, 0]].astype(np.float64)
        return np.log((c.astype(np.float64) + a) / (u1 + a * float(len(ids))))

    local = _kn_local_bigram_scores(docs, text_col, id_col, laplace)
    if local is not None:
        return local
    toks = tokens(F.col(text_col))
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.concat(t, F.lit(" "), F.element_at(toks, i + 2)),
    )
    doc_bg = docs.select(F.col(id_col).alias("doc_id"), F.explode(bigrams).alias("bigram"))
    doc_bg = doc_bg.withColumn("w1", F.split(F.col("bigram"), " ", 2)[0])

    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("_ucnt"))
    )
    vocab = uni.agg(F.count("*").cast("double").alias("_v"))
    big = doc_bg.groupBy("bigram").agg(F.count("*").alias("_bcnt"))

    scored = (
        doc_bg.join(big, "bigram")
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "_lp",
            F.log(
                (F.col("_bcnt") + F.lit(a))
                / (F.col("_ucnt") + F.lit(a) * F.col("_v"))
            ),
        )
    )
    # docs with <2 tokens produce no bigram rows — the spine surfaces
    # them as unscorable (review r9)
    return _per_doc_scores(docs, id_col, scored, "n_bigrams")


def perplexity_buckets(
    scored: DataFrame,
    *,
    lang_col: str = "lang",
    score_col: str = "avg_logprob",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020 §4.3: split each language's documents into head/middle/tail
    thirds by LM perplexity; training mixes prefer the head).  Input
    is a scored frame (e.g. :func:`lm_bigram_scores` output joined
    with the language column); HIGHER mean log-probability = lower
    perplexity = bucket 1 ("head").  NULL scores (un-scorable docs)
    sort last into the tail; ties break on doc id so the split is
    deterministic engine-to-engine.

    This is the exact-semantics form — one total order per language
    (a window sort whose skew is the largest language, CCNet's own
    cost).  At 100 TB swap the ntile for sample-trained cutoffs
    (percentile on a sample → broadcast threshold table → comparison
    assignment), the same substitution CCNet itself makes; the bucket
    CONTRACT (per-language thirds by score) is what this function
    pins.  Returns the input plus ``ppl_bucket`` (1..n_buckets)."""
    w = Window.partitionBy(lang_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col)
    )
    return scored.withColumn("ppl_bucket", F.ntile(int(n_buckets)).over(w))


def train_perplexity_cutoffs(
    scored: DataFrame,
    *,
    lang_col: str = "lang",
    score_col: str = "avg_logprob",
    n_buckets: int = 3,
    approx: bool = False,
) -> DataFrame:
    """The 100 TB half of CCNet bucketing: per-language score cutoffs
    as a TINY threshold table — (lang, cutoffs array<double>) with
    ``n_buckets - 1`` interior quantiles.  ``approx=True`` uses
    ``percentile_approx`` (mergeable sketch, no per-language sort —
    what a full-corpus run uses, typically over a sample); default is
    the exact percentile so tests can pin agreement with the
    ntile form."""
    k = int(n_buckets)
    probs = [i / k for i in range(1, k)]
    # bucket 1 holds the HIGHEST scores, so cutoffs descend
    probs = [1.0 - p for p in probs]
    pcts = F.array(*[F.lit(p) for p in probs])
    agg = (
        F.percentile_approx(F.col(score_col), pcts, 10000)
        if approx
        else F.percentile(F.col(score_col), pcts)
    )
    return scored.where(F.col(score_col).isNotNull()).groupBy(lang_col).agg(
        agg.alias("cutoffs")
    )


def assign_perplexity_buckets(
    scored: DataFrame,
    cutoffs: DataFrame,
    *,
    lang_col: str = "lang",
    score_col: str = "avg_logprob",
) -> DataFrame:
    """Assign CCNet buckets by comparison against a broadcast cutoff
    table (:func:`train_perplexity_cutoffs` output): bucket = 1 + the
    number of descending cutoffs the score falls strictly below; NULL
    scores land in the last bucket.  Pure Catalyst, no window, no
    per-language sort — the frontier-scale shape (the threshold table
    is O(languages), genuinely broadcast-sized).  With distinct scores
    and group sizes divisible by n_buckets this reproduces the exact
    ntile split; at boundaries it splits by VALUE where ntile splits
    by COUNT — the documented trade a sampled-cutoff deployment
    makes."""
    s = F.col(score_col)
    # a language missing from the cutoff table joins NULL cutoffs; an
    # empty cutoff list gives every branch the documented single-bucket
    # answer (n_last = 1) even when the score is ALSO NULL — without
    # the coalesce, size(NULL)+1 would send that row to bucket 0/NULL
    cuts = F.coalesce(F.col("cutoffs"), F.array().cast("array<double>"))
    below = F.size(F.filter(cuts, lambda c: s < c))
    n_last = F.size(cuts) + 1
    bucket = F.when(s.isNull(), n_last).otherwise(below + 1)
    return (
        scored.join(F.broadcast(cutoffs), lang_col, "left")
        .withColumn("ppl_bucket", bucket.cast("int"))
        .drop("cutoffs")
    )


# ------------------------------------------- trainable quality classifier
#
# The DCLM / FineWeb-Edu pattern (Li et al. 2024; Penedo et al. 2024):
# current pipelines rank documents with a TRAINED linear classifier
# over hashed token features (fastText-style), not only closed-form
# heuristics.  The engine-native form: features are hashed token
# counts (explode → hash → per-(doc, bucket) count with map-side
# combine), training is deterministic full-batch gradient descent on
# the logistic loss expressed as Spark aggregations — a fixed
# iteration count with one bounded O(n_features) collect per step
# (the text._train_merges loop discipline), so the fit is exactly reproducible
# in unrolled SQL and the corpus-wide scoring pass is pure Catalyst.

#: polynomial rolling-hash modulus for the feature hasher — small
#: enough that (acc * 31 + code) never overflows a BIGINT
FEATURE_HASH_MOD = 1_000_003


def feature_bucket(tok: Column, n_features: int) -> Column:
    """Hash bucket of one token: fold (acc*31 + codepoint) % MOD over
    its characters, then % n_features — chosen over xxhash64 because
    the identical fold is expressible in plain SQL on any engine
    (list_reduce in DuckDB), keeping the whole training loop
    oracle-able."""
    codes = F.transform(F.split(tok, ""), lambda c: F.ascii(c))
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + c) % F.lit(FEATURE_HASH_MOD),
    )
    return (h % F.lit(int(n_features))).cast("int")


def hashed_token_features(
    docs: DataFrame,
    *,
    n_features: int = 32,
    binary: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed bag-of-tokens features → (doc_id, bucket, cnt).  The
    fastText-style input representation: token → hash bucket → count
    (or 0/1 presence with ``binary=True`` — the better-conditioned
    form for GD when token counts vary widely).  Explode + hash +
    groupBy(doc, bucket) — map-side combined, no key wider than one
    document, no vector materialization (the sparse triple form IS
    the feature matrix)."""
    toks = tokens(F.col(text_col))
    agg = (
        F.least(F.count("*"), F.lit(1)).cast("double")
        if binary
        else F.count("*").cast("double")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("_tok"))
        .select("doc_id", feature_bucket(F.col("_tok"), n_features).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(agg.alias("cnt"))
    )


def _pack_label_features(
    labs: DataFrame, features: DataFrame, label_cols: list[str]
) -> DataFrame:
    """(doc_id, *label_cols, fx): each labeled doc's sparse feature
    vector packed bucket-ascending into one row.  The features are
    joined FIRST (left, so feature-less docs survive) and packed
    SECOND: only labeled docs' triples cross the exchange (guide
    §2.3 — project/filter before the shuffle), and the pack's groupBy
    is the last shuffle before any materialization, so AQE sizes the
    output partitions by bytes.  The null-skipping collect_list packs
    feature-less docs to the empty array — the same rows the old
    coalesce(fx, array()) produced."""
    return labs.join(features, "doc_id", "left").groupBy("doc_id").agg(
        *[F.first(c).alias(c) for c in label_cols],
        F.sort_array(
            F.collect_list(
                F.when(F.col("bucket").isNotNull(), F.struct("bucket", "cnt"))
            )
        ).alias("fx"),
    )


# Packed-row cap under which the GD trainers collect the (labels, fx)
# frame once and iterate driver-side in NumPy — the bounded-fit
# discipline the tokenizer trainers and resolve_duplicate_clusters
# (<=200k edges) already follow, with the distributed per-step passes
# unchanged above the cap.  A fixture-sized labeled set (thousands of
# docs x <=4k features) costs 6-8 Spark jobs to fit distributed — all
# orchestration — while the same arithmetic is microseconds of dgemm;
# at corpus scale (the sf1 BASELINE rows run 2M docs) the probe
# overflows the cap and the shared-pass distributed loop runs as
# before.  Float caveat is the one the engine already lives with: the
# gradient reduction order differs (BLAS vs hash-agg vs DuckDB's SQL
# chain), drift ~1e-13 over 8 steps, absorbed by the 1e-9-nudged
# rounding every consumer applies — the same tolerance that lets the
# DuckDB oracle re-run these chains with its own libm today.
_FIT_LOCAL_ROW_CAP = 100_000
_FIT_LOCAL_CELL_CAP = 16_777_216  # rows x n_features for the dense matrix



def _local_gd_fit(
    pdf,
    ycols: list[str],
    *,
    n_features: int,
    lr: float,
    n_iter: int,
    center: bool,
    l2: float,
) -> list[tuple[list[float], float]]:
    """Driver-side replica of the distributed GD loop over a
    _probe_packed frame — update formulas, populated-bucket-only l2,
    centering fold and returned effective intercept all mirror the
    engine path (local ≡ distributed pinned by test to 1e-9)."""
    import numpy as np

    n = len(pdf)
    D = int(n_features)
    X = _dense_fx(pdf, D)
    Y = pdf[ycols].to_numpy(dtype=np.float64)
    populated = np.asarray(X.any(axis=0), dtype=bool)
    mu = np.zeros(D)
    if center:
        mu[populated] = X[:, populated].sum(axis=0) / float(n)
    K = len(ycols)
    W = np.zeros((D, K))
    b = np.zeros(K)
    with np.errstate(over="ignore"):  # exp overflow -> inf -> sigma 0, the JVM rule
        for _ in range(int(n_iter)):
            const = b - mu @ W
            resid = 1.0 / (1.0 + np.exp(-(X @ W + const))) - Y
            rbar = resid.sum(axis=0) / float(n)
            G = (X.T @ resid) / float(n)
            b -= float(lr) * rbar
            W[populated] -= float(lr) * (
                G[populated] - np.outer(mu[populated], rbar) + float(l2) * W[populated]
            )
    eff_b = b - mu @ W
    return [(list(map(float, W[:, k])), float(eff_b[k])) for k in range(K)]


def train_logreg_weights(
    features: DataFrame,
    labels: DataFrame,
    *,
    n_features: int = 32,
    lr: float = 0.5,
    n_iter: int = 4,
    center: bool = False,
    l2: float = 0.0,
    label_col: str = "y",
    packed: DataFrame | None = None,
) -> tuple[list[float], float]:
    """Deterministic full-batch gradient descent on the logistic loss:
    ``n_iter`` steps of w ← w − lr·∇, ∇ = Σᵢ (σ(xᵢ·w + b) − yᵢ)xᵢ / N,
    from w = 0.  Returns (weights[n_features], intercept) such that
    the decision margin is ``w·x + intercept`` on the RAW features.

    ``l2 > 0`` adds ridge shrinkage: the weight gradient gains the
    ``+ l2·wⱼ`` term (the intercept stays unpenalized, the standard
    convention), the calibration knob that trades a little training
    fit for corpus-generalization when a gate consumer tunes
    precision/recall.  Pure driver-side arithmetic on the collected
    gradient rows — the distributed passes are unchanged.

    ``center=True`` trains on mean-centered features x − μ — the
    conditioning fix that stops GD from ringing along the
    every-doc-shares-these-tokens direction (its curvature dwarfs a
    rare class signal's).  Centering never densifies the sparse
    triples: ``w·(x−μ) = w·x − w·μ`` folds into the intercept, and
    ``∇ⱼ = (Σᵢ rᵢxᵢⱼ − μⱼΣᵢ rᵢ)/N`` needs only the sparse sums the
    uncentered pass already computes — all the μ arithmetic happens
    driver-side on the collected O(n_features) rows.

    Training runs on :func:`_gd_fit` with one label column: a bounded
    local NumPy fit under the fit caps, else ONE distributed pass per
    step over the lazily checkpointed packed frame.

    ``packed`` short-circuits the packing: a caller that also SCORES
    the same corpus builds the (doc_id, label…, fx) frame once with
    :func:`_pack_label_features`, checkpoints it, and shares it
    between this fit and :func:`logreg_scores_packed` — the corpus is
    then featurized and packed exactly once per query instead of once
    per consumer.  ``features``/``labels`` are ignored when given."""
    if packed is not None:
        base = packed.select(F.col(label_col).cast("double").alias("y"), "fx")
    else:
        labs = labels.select("doc_id", F.col(label_col).cast("double").alias("y"))
        base = _pack_label_features(labs, features, ["y"]).select("y", "fx")
        base = base.localCheckpoint(eager=False)
    ((w, b),) = _gd_fit(
        base, ["y"], "train_logreg_weights",
        n_features=n_features, lr=lr, n_iter=n_iter, center=center, l2=l2,
    )
    return w, b


def _fits_local(n_rows: int, n_features: int) -> bool:
    """The bounded-fit gate shared by the GD trainers and OvR scorers:
    a _probe_packed frame is handled driver-side iff its rows and its
    dense rows x n_features matrix fit the caps."""
    return (
        n_rows <= _FIT_LOCAL_ROW_CAP
        and n_rows * int(n_features) <= _FIT_LOCAL_CELL_CAP
    )


def _gd_fit(
    base: DataFrame,
    ycols: list[str],
    name: str,
    *,
    n_features: int,
    lr: float,
    n_iter: int,
    center: bool,
    l2: float,
) -> list[tuple[list[float], float]]:
    """The one GD core behind both trainers: K = len(ycols) logistic
    fits over a packed (y…, fx) frame, one (weights, intercept) per
    label column.  The K fits share every pass; each column's
    arithmetic is exactly that of an independent single-label fit.

    Under the fit caps the whole loop runs driver-side in NumPy off ONE
    bounded probe (which also materializes a shared checkpoint for the
    scoring pass).  Above them, each step is ONE distributed pass: the
    per-doc margins (weights ride along as literal arrays, no join)
    feed K residual columns, and the gradient groupBy covers the bias
    as a pseudo-bucket −1 carried by a unit-count row per doc, so
    weight and bias gradients for all K fits come back in a single
    bounded collect of ≤ n_features + 1 rows (the text._train_merges
    1-row-per-merge discipline, widened to the feature dim)."""
    K = len(ycols)
    probe = _probe_packed(base, ycols)
    if _fits_local(len(probe), n_features):
        if not len(probe):
            raise ValueError(f"{name}: empty label frame")
        return _local_gd_fit(
            probe,
            ycols,
            n_features=int(n_features),
            lr=float(lr),
            n_iter=int(n_iter),
            center=bool(center),
            l2=float(l2),
        )
    bias_entry = F.array(
        F.struct(F.lit(-1).cast("int").alias("bucket"), F.lit(1.0).alias("cnt"))
    )
    # ONE materializing pass returns n AND the per-bucket sums: the
    # bias pseudo-bucket's Σ1.0 is the row count (μ division happens
    # driver-side on the same doubles, bit-identical to the engine-side
    # sum/n)
    sums = (
        base.select(F.explode(F.concat("fx", bias_entry)).alias("f"))
        .groupBy(F.col("f.bucket").alias("bucket"))
        .agg(F.sum("f.cnt").alias("s"))
        .collect()  # bounded: <= n_features + 1 rows
    )
    n = next((float(r["s"]) for r in sums if r["bucket"] < 0), 0.0)
    if n == 0:
        raise ValueError(f"{name}: empty label frame")
    mu = [0.0] * int(n_features)
    if center:
        for r in sums:
            if r["bucket"] >= 0:
                mu[r["bucket"]] = float(r["s"]) / n
    w = [[0.0] * int(n_features) for _ in range(K)]
    b = [0.0] * K

    def _dot(w_arr):
        # factory closure: a default-arg binding would change the
        # lambda's visible arity and break F.aggregate's 2-arg contract
        return F.aggregate(
            F.col("fx"),
            F.lit(0.0),
            lambda acc, s: acc + s["cnt"] * F.element_at(w_arr, s["bucket"] + 1),
        )

    for _ in range(int(n_iter)):
        resid_cols = []
        for i in range(K):
            # margin on raw features, centering folded into the constant
            const = float(b[i]) - sum(wi * mi for wi, mi in zip(w[i], mu))
            dot = _dot(F.lit([float(x) for x in w[i]]))
            resid_cols.append(
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-(dot + F.lit(const))))
                    - F.col(ycols[i])
                ).alias(f"r_{i}")
            )
        grads = (
            base.select(*resid_cols, F.concat("fx", bias_entry).alias("fx"))
            .select(*[f"r_{i}" for i in range(K)], F.explode("fx").alias("f"))
            .groupBy(F.col("f.bucket").alias("bucket"))
            .agg(
                *[
                    (F.sum(F.col("f.cnt") * F.col(f"r_{i}")) / F.lit(float(n))).alias(
                        f"g_{i}"
                    )
                    for i in range(K)
                ]
            )
            .collect()  # bounded: <= n_features + 1 rows, K columns
        )
        for i in range(K):
            rbar = next((float(r[f"g_{i}"]) for r in grads if r["bucket"] < 0), 0.0)
            for r in grads:
                if r["bucket"] < 0:
                    b[i] -= float(lr) * rbar
                else:
                    j = r["bucket"]
                    # l2 touches only populated buckets — unpopulated
                    # ones never leave 0, so their decay term is
                    # identically 0; the intercept stays unpenalized
                    w[i][j] -= float(lr) * (
                        float(r[f"g_{i}"]) - mu[j] * rbar + float(l2) * w[i][j]
                    )
    return [
        (w[i], float(b[i]) - sum(wi * mi for wi, mi in zip(w[i], mu)))
        for i in range(K)
    ]


def logreg_scores(
    docs: DataFrame,
    weights: list[float],
    bias: float,
    *,
    n_features: int = 32,
    binary: bool = False,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide scoring pass with trained weights → (doc_id,
    margin, prob, pred): each doc's features packed bucket-ascending
    (``sort_array``), then :func:`logreg_scores_packed`'s literal-array
    fold — so the doubles never depend on how the input is partitioned.
    Docs with no tokens still surface (bias-only margin) via the left
    join against the id spine — the gate a curation run applies
    corpus-wide after a small-seed fit.

    ``threshold`` calibrates the keep gate: pred fires at probability
    ≥ threshold, compared in MARGIN space (margin ≥ logit(threshold))
    so the verdict never rides on a σ(·) rounding difference between
    engines — the precision/recall knob a gate consumer turns without
    retraining.  Default 0.5 is the classic margin ≥ 0 rule."""
    if len(weights) != int(n_features):
        raise ValueError(
            f"logreg_scores: {len(weights)} weights for n_features={n_features} — "
            "score with the SAME feature dim the model was trained on"
        )
    if not 0.0 < float(threshold) < 1.0:
        raise ValueError(f"logreg_scores: threshold must be in (0, 1), got {threshold}")
    feats = hashed_token_features(
        docs, n_features=n_features, binary=binary, text_col=text_col, id_col=id_col
    )
    packed = feats.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "cnt"))).alias("fx")
    )
    all_ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    empty = F.array().cast("array<struct<bucket:int,cnt:double>>")
    spine = all_ids.join(packed, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("fx"), empty).alias("fx")
    )
    return logreg_scores_packed(spine, weights, bias, threshold=threshold)


def logreg_scores_packed(
    packed: DataFrame,
    weights: list[float],
    bias: float,
    *,
    threshold: float = 0.5,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`logreg_scores` over an already-packed (doc_id, …, fx)
    frame — the train/score shared-materialization path: the margin is
    the SAME ascending-bucket literal-array fold the trainer ran (the
    association the oracle pins with ORDER BY bucket), so a query that
    fits and then scores one corpus reads the featurized pack once
    instead of re-deriving and re-shuffling the feature triples for
    the scoring pass.  ``keep_cols`` pass label columns through —
    feature-less docs are already empty-array rows, scoring bias-only
    without any id-spine join."""
    import math

    if not 0.0 < float(threshold) < 1.0:
        raise ValueError(
            f"logreg_scores_packed: threshold must be in (0, 1), got {threshold}"
        )
    thr_margin = math.log(float(threshold) / (1.0 - float(threshold)))
    w_arr = F.lit([float(x) for x in weights])
    dot = F.aggregate(
        F.col("fx"),
        F.lit(0.0),
        lambda acc, s: acc + s["cnt"] * F.element_at(w_arr, s["bucket"] + 1),
    )
    # margin evaluated ONCE into a real column — prob and pred then
    # read the column ref instead of re-running the literal-array fold
    # (3x inlined); same doubles
    mid = packed.select(
        "doc_id", *keep_cols, (dot + F.lit(float(bias))).alias("margin")
    )
    margin = F.col("margin")
    return mid.select(
        "doc_id",
        *keep_cols,
        "margin",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("prob"),
        (margin >= F.lit(thr_margin)).alias("pred"),
    )


def lm_kn_scores(
    docs: DataFrame,
    *,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated Kneser–Ney bigram scores → (doc_id, n_bigrams,
    avg_logprob) — the smoothing family CCNet's KenLM actually uses
    (Wenzek et al. 2020 filter by a modified-KN 5-gram; the bigram
    interpolated-KN form is the same estimator at the engine-native
    order), next to :func:`lm_bigram_scores`' Laplace proxy:

        p(w₂|w₁) = max(c(w₁w₂)−d, 0)/c(w₁·)
                   + d·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)

    — absolute discounting with the CONTINUATION-probability backoff
    (how many distinct contexts a word follows, not how often it
    occurs: the fix for high-count-but-single-context words like the
    'Francisco' in 'San Francisco').

    Scale shape: four corpus count tables (bigram counts, prefix
    totals + follower types, continuation types), all map-side
    combined; the doc bigram stream equi-joins them on its own keys
    and the 1-row type total broadcasts.  Training IS the
    aggregation — no driver fit, no Python."""
    d = float(discount)
    if not 0.0 < d < 1.0:
        raise ValueError(f"lm_kn_scores: discount must be in (0, 1), got {discount}")

    def interpolated(rows, ids, U, c):
        import numpy as np

        # per-type integer sums via bincount (exact in doubles); the
        # absolute-discount expression is elementwise-identical to the
        # scalar max(c−d,0)/ptot + d·nfollow/ptot·nprec/ntypes
        w1, w2 = U[:, 0], U[:, 1]
        ptot = np.bincount(w1, weights=c.astype(np.float64), minlength=len(ids))[w1]
        nfollow = np.bincount(w1, minlength=len(ids))[w1].astype(np.float64)
        nprec = np.bincount(w2, minlength=len(ids))[w2].astype(np.float64)
        cf = c.astype(np.float64)
        return np.log(
            np.maximum(cf - d, 0.0) / ptot + d * nfollow / ptot * nprec / float(len(U))
        )

    local = _kn_local_bigram_scores(docs, text_col, id_col, interpolated)
    if local is not None:
        return local
    toks = tokens(F.col(text_col))
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.concat(t, F.lit(" "), F.element_at(toks, i + 2)),
    )
    doc_bg = docs.select(F.col(id_col).alias("doc_id"), F.explode(bigrams).alias("bigram"))
    parts = F.split(F.col("bigram"), " ", 2)
    doc_bg = doc_bg.withColumn("w1", parts[0]).withColumn("w2", parts[1])

    bgc = doc_bg.groupBy("bigram").agg(F.count("*").alias("_bcnt"))
    pref = doc_bg.groupBy("w1").agg(
        F.count("*").alias("_ptot"),
        F.count_distinct("w2").alias("_nfollow"),
    )
    cont = doc_bg.groupBy("w2").agg(F.count_distinct("w1").alias("_nprec"))
    types = doc_bg.agg(F.count_distinct("bigram").cast("double").alias("_ntypes"))

    p = (
        F.greatest(F.col("_bcnt") - F.lit(d), F.lit(0.0)) / F.col("_ptot")
        + F.lit(d) * F.col("_nfollow") / F.col("_ptot")
        * F.col("_nprec") / F.col("_ntypes")
    )
    scored = (
        doc_bg.join(bgc, "bigram")
        .join(pref, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .withColumn("_lp", F.log(p))
    )
    return _per_doc_scores(docs, id_col, scored, "n_bigrams")


def hashed_char_ngram_features(
    docs: DataFrame,
    *,
    n: int = 3,
    n_features: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed character-n-gram PRESENCE features → (doc_id, bucket,
    cnt=1.0) — the fastText input representation for language ID
    (Joulin et al. 2017; CCNet ships exactly this model class): char
    n-grams carry orthography (die/der/und vs the/and/of) without any
    tokenizer, so the same featurizer works on unsegmented scripts.
    Lowercased text, window of ``n`` chars including spaces (word
    boundaries are signal), each gram hashed with the SAME polynomial
    fold as :func:`feature_bucket` — so the whole pipeline stays
    expressible in plain SQL (substr windows + list_reduce) and the
    trained model is oracle-able.

    Presence (DISTINCT doc,bucket), not counts: the better-conditioned
    form for GD, and the DISTINCT collapses the explode to ≤
    n_features rows per doc BEFORE any shuffle partner sees it.
    Docs shorter than ``n`` chars yield no rows (the trainer/scorer
    left-join against the id spine, so they surface bias-only)."""
    # One char-code array per DOC (materialized as a real column —
    # a lambda capturing the codes EXPRESSION would re-evaluate
    # split+ascii per position, O(len²)), each gram hashed as the
    # closed form of the fold: ((0*31+c1)%M*31+c2)%M... == (Σ c_j *
    # 31^(n-1-j)) % M, exact in longs for n <= 8 (max code point
    # 0x10FFFF * 31^7 * 8 < 2^63).  No per-gram string allocation
    # (the old form split every n-char substring into a fresh char
    # array — measured 2.2x slower), and per-doc array_distinct
    # replaces the global DISTINCT so the featurizer is shuffle-free.
    # Bucket values are bit-identical: ascii() over the same lowered
    # chars, the same polynomial mod.
    if n > 8:
        raise ValueError(f"hashed_char_ngram_features: n={n} > 8 overflows the closed-form hash")
    txt = F.lower(F.col(text_col))
    codes = F.transform(F.split(txt, ""), lambda c: F.ascii(c).cast("long"))
    stage = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(txt).alias("_len"),
        codes.alias("_codes"),
    )
    pows = [31 ** (n - 1 - j) for j in range(n)]

    def bucket_at(i):
        s = F.lit(0).cast("long")
        for j, p in enumerate(pows):
            s = s + F.element_at(F.col("_codes"), i + F.lit(j)) * F.lit(p)
        return ((s % F.lit(FEATURE_HASH_MOD)) % F.lit(int(n_features))).cast("int")

    buckets = F.when(
        F.col("_len") >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.col("_len") - (n - 1)), bucket_at)
        ),
    ).otherwise(F.array().cast("array<int>"))
    return stage.select(
        "doc_id", F.explode(buckets).alias("bucket")
    ).withColumn("cnt", F.lit(1.0))


def _probe_packed(frame: DataFrame, cols):
    """Bounded Arrow probe of a packed (…, fx) frame: limit(cap+1)
    then toPandas with the struct array split into PRIMITIVE parallel
    arrays (fx.bucket / fx.cnt) — a plain collect() materializes one
    Row object per struct element (millions for a few thousand docs,
    ~2 s of pure allocation); the Arrow path ships two primitive
    buffers per row instead.  Order within each row is the fx
    sort_array order, unchanged."""
    sel = frame.select(
        *cols,
        F.col("fx.bucket").alias("_b"),
        F.col("fx.cnt").alias("_c"),
    )
    return sel.limit(_FIT_LOCAL_ROW_CAP + 1).toPandas()


def _dense_fx(pdf, D: int):
    """Dense feature matrix from a _probe_packed frame: one vectorized
    scatter per row off the primitive bucket/cnt arrays."""
    import numpy as np

    bs = pdf["_b"].to_numpy()
    cs = pdf["_c"].to_numpy()
    X = np.zeros((len(bs), D), dtype=np.float64)
    for i in range(len(bs)):
        b = bs[i]
        if len(b):
            X[i, np.asarray(b, dtype=np.int64)] = cs[i]
    return X


def _ovr_margin_stage(
    name: str,
    features: DataFrame,
    models: dict[str, tuple[list[float], float]],
    id_spine: DataFrame,
    *,
    n_features: int,
    packed: DataFrame | None,
    keep_cols: tuple[str, ...],
):
    """The stage every one-vs-rest scorer shares → (classes, local, base,
    raw).  Validates the models; then EITHER ``local`` = (probe, M): a
    ``packed`` frame under the fit caps is re-read from its
    materialized checkpoint and scored driver-side (dense X@W + b — the
    bounded-fit discipline; interpreted literal-array folds over
    thousands of rows were the dominant scoring cost), with ``base`` /
    ``raw`` None; OR ``local`` is None, ``base`` is the (doc_id, …, fx)
    frame and ``raw`` maps each class to its margin Column: a fold over
    the doc's sort_array-packed vector (same summation order as
    training) plus the intercept, every model riding as a literal
    array over ONE pass — no join per class, no K-fold re-scan.

    ``packed`` shares the trainer's materialized frame (feature-less
    docs are already empty-array rows there); otherwise the feature
    triples are packed here and docs absent from them score bias-only
    via the id spine.  The dense margins' BLAS reduction order differs
    from the fold by ~1e-13 — the drift class the bounded fit already
    committed to for the weights themselves, absorbed by every
    consumer's nudged 4-decimal round."""
    classes = sorted(models)
    if not classes:
        raise ValueError(f"{name}: no models")
    for cls, (w, _) in models.items():
        if len(w) != int(n_features):
            raise ValueError(
                f"{name}[{cls}]: {len(w)} weights != n_features={n_features}"
            )
    if packed is not None:
        probe = _probe_packed(packed, ("doc_id",) + tuple(keep_cols))
        if _fits_local(len(probe), n_features):
            import numpy as np

            X = _dense_fx(probe, int(n_features))
            W = np.column_stack(
                [np.asarray(models[c][0], dtype=np.float64) for c in classes]
            )
            b = np.asarray([models[c][1] for c in classes], dtype=np.float64)
            return classes, (probe, X @ W + b), None, None
        base = packed
    else:
        docvec = features.groupBy("doc_id").agg(
            F.sort_array(F.collect_list(F.struct("bucket", "cnt"))).alias("fx")
        )
        base = id_spine.select(F.col(id_spine.columns[0]).alias("doc_id")).join(
            docvec, "doc_id", "left"
        )
    raw = {}
    for cls in classes:
        w, b = models[cls]
        w_arr = F.lit([float(x) for x in w])
        dot = F.aggregate(
            F.coalesce(
                F.col("fx"), F.array().cast("array<struct<bucket:int,cnt:double>>")
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["cnt"] * F.element_at(w_arr, s["bucket"] + 1),
        )
        raw[cls] = dot + F.lit(float(b))
    return classes, None, base, raw


def _ovr_local_frame(
    packed: DataFrame, probe, keep_cols, classes, values, prefix: str,
    floor: float | None = None, reject_label: str | None = None,
) -> DataFrame:
    """The driver-side output layer: one row per probed doc with its
    per-class ``values`` and the alphabetically-first argmax class —
    or ``reject_label`` when ``floor`` is set and the max falls below
    it.  Spark's NaN semantics are mirrored: NaN compares greater than
    everything and equal to itself in Spark SQL, so greatest + the
    when-chain route such a doc to its FIRST NaN class, never the
    reject bucket (a plain == scan would raise StopIteration)."""
    import numpy as np

    ids = probe["doc_id"].tolist()
    keeps = [probe[c].tolist() for c in keep_cols]
    out = []
    for i in range(len(ids)):
        vs = values[i]
        nan_mask = np.isnan(vs)
        if nan_mask.any():
            pred = classes[int(np.argmax(nan_mask))]
        else:
            best = vs.max()
            if floor is not None and not best >= floor:
                pred = str(reject_label)
            else:
                pred = next(classes[j] for j in range(len(classes)) if vs[j] == best)
        out.append(
            (ids[i],)
            + tuple(k[i] for k in keeps)
            + tuple(float(v) for v in vs)
            + (pred,)
        )
    fields = [StructField("doc_id", packed.schema["doc_id"].dataType)]
    fields += [StructField(c, packed.schema[c].dataType) for c in keep_cols]
    fields += [StructField(f"{prefix}_{c}", DoubleType()) for c in classes]
    fields.append(StructField("pred_lang", StringType()))
    return packed.sparkSession.createDataFrame(out, StructType(fields))


def _ovr_argmax(vals: dict, classes: list[str]) -> tuple[Column, Column]:
    """(best, pred) Columns: the greatest per-class value and the
    alphabetically-first class attaining it (a when-chain)."""
    best = F.greatest(*[vals[c] for c in classes]) if len(classes) > 1 else vals[classes[0]]
    pred = F.when(vals[classes[0]] == best, F.lit(classes[0]))
    for cls in classes[1:]:
        pred = pred.when(vals[cls] == best, F.lit(cls))
    return best, pred


def ovr_logreg_scores(
    features: DataFrame,
    models: dict[str, tuple[list[float], float]],
    id_spine: DataFrame,
    *,
    n_features: int,
    packed: DataFrame | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One-vs-rest scoring pass → (doc_id, margin_<class>... ,
    pred_<label>) with the alphabetically-first argmax on ties — the
    multi-class decision fastText's lang-id makes, over ANY feature
    triples (doc_id, bucket, cnt).  All K models ride as literal
    arrays over ONE packed pass (:func:`_ovr_margin_stage`); the
    argmax is a when-chain.  Docs absent from the feature triples
    score bias-only via the id spine."""
    classes, local, base, raw = _ovr_margin_stage(
        "ovr_logreg_scores", features, models, id_spine,
        n_features=n_features, packed=packed, keep_cols=keep_cols,
    )
    if local is not None:
        probe, M = local
        return _ovr_local_frame(packed, probe, keep_cols, classes, M, "margin")
    # each class's margin fold evaluated ONCE into a real column; the
    # argmax layer (greatest + when-chain) then reads column refs
    # instead of re-running the literal-array fold per reference (~3x
    # per class inlined).  Same doubles, same argmax.
    mid = base.select(
        "doc_id",
        *keep_cols,
        *[raw[c].alias(f"_m_{c}") for c in classes],
    )
    margins = {cls: F.col(f"_m_{cls}") for cls in classes}
    _best, pred = _ovr_argmax(margins, classes)
    return mid.select(
        "doc_id",
        *keep_cols,
        *[margins[c].alias(f"margin_{c}") for c in classes],
        pred.alias("pred_lang"),
    )


def lm_kn_scores_order(
    docs: DataFrame,
    *,
    order: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Modified Kneser–Ney at ARBITRARY order N → (doc_id, n_ngrams,
    avg_logprob) — the full Chen & Goodman 1999 recursion at the order
    production filters actually run (Wenzek et al. 2020 filter CCNet
    on a 5-gram modified-KN KenLM; ``order=5`` IS that estimator, and
    ``order=3`` the trigram form KenLM defaults to):

        p_k(w|ctx_k) = max(c_k − D_k(c_k), 0)/c_k(ctx_k·)
                       + γ_k(ctx_k)·p_{k−1}(w|ctx_{k−1})
        p_1(w)       = N₁₊(·w)/N₁₊(··)

    with COUNT-DEPENDENT discounts D₁/D₂/D₃₊ per level estimated from
    that level's count-of-counts (Y = n₁/(n₁+2n₂); D₁ = 1−2Y·n₂/n₁;
    D₂ = 2−3Y·n₃/n₂; D₃₊ = 3−4Y·n₄/n₃ — clamped at 0, falling back to
    0.5 when a count-of-count is empty so tiny corpora stay defined),
    γ the mass those discounts free per context, raw counts at the top
    level, and CONTINUATION counts — |{distinct left word}| — at every
    level below (each level-k table is one GROUP BY over level k+1's,
    so the whole tower derives from the single N-gram count table).

    Scale shape: the occurrence pass materializes once; each distinct
    N-gram is scored ONCE on the type table (k−1 context dims + k−1
    lower-level gram dims equi-joined, count-of-count discounts
    broadcast as 1-row frames); the occurrence frame then pays exactly
    one equi-join against the finished scores.  Docs shorter than N
    tokens surface with n_ngrams 0 and NULL score, never vanish."""
    N = int(order)
    if N < 2:
        raise ValueError(f"lm_kn_scores_order: order must be >= 2, got {order}")
    rows = _kn_collect_tokens(docs, text_col=text_col, id_col=id_col)
    if rows is not None:
        return docs.sparkSession.createDataFrame(
            _kn_local_scores_order(rows, N), _kn_scores_schema(docs, id_col)
        )
    cols = [f"w{j}" for j in range(1, N + 1)]
    occ = _kn_occurrences(docs, N, text_col, id_col).localCheckpoint(eager=False)
    g, x, ctx = _kn_tower(occ, N)
    joined = g[N]
    for k in range(N - 1, 0, -1):
        joined = joined.join(g[k], cols[N - k :])
    for k in range(N, 1, -1):
        joined = joined.join(x[k], cols[N - k : N - 1])
        dk = _discounts_from_ctx(ctx[k], k)  # 1-row discount triple
        joined = joined.crossJoin(F.broadcast(dk))
    u_total = g[2].agg(F.count("*").cast("double").alias("u"))
    joined = joined.crossJoin(F.broadcast(u_total))

    p = F.col("c1") / F.col("u")
    for k in range(2, N + 1):
        ck = F.col(f"c{k}")
        p = F.greatest(ck - _kn_d_of(ck, k), F.lit(0.0)) / F.col(f"tot{k}") + _kn_gamma(k) * p

    tri = joined.select(*cols, F.log(p).alias("_lp"))
    return _per_doc_scores(docs, id_col, occ.join(tri, cols), "n_ngrams")


def train_ovr_logreg_weights(
    features: DataFrame,
    labels: DataFrame,
    *,
    classes: list[str],
    n_features: int = 32,
    lr: float = 0.5,
    n_iter: int = 4,
    center: bool = False,
    l2: float = 0.0,
    class_col: str = "lang",
    packed: DataFrame | None = None,
) -> dict[str, tuple[list[float], float]]:
    """K one-vs-rest logistic fits sharing every distributed pass —
    arithmetic IDENTICAL to K independent :func:`train_logreg_weights`
    calls (same zero init, same per-class residual/gradient/update
    formulas, centering means are label-independent so the shared μ is
    the per-class μ), but each GD step runs ONE narrow margin pass
    computing all K residual columns and ONE explode → groupBy whose
    bounded collect carries K gradient columns — K·n_iter passes
    collapse to n_iter (5× fewer stage launches for the 5-language
    lang-id fit; the win grows with K).  Returns {class: (weights,
    intercept)} with margins on RAW features, exactly like the
    single-class trainer."""
    K = len(classes)
    if K == 0:
        raise ValueError("train_ovr_logreg_weights: no classes")
    ycols = [f"y_{i}" for i in range(K)]
    y_exprs = [
        (F.col(class_col) == c).cast("double").alias(y) for c, y in zip(classes, ycols)
    ]
    # A caller-supplied ``packed`` (doc_id, class_col, fx) is shared
    # with the scoring pass — the y_i indicators are derived inline.
    if packed is not None:
        base = packed.select(*y_exprs, "fx")
    else:
        labs = labels.select("doc_id", *y_exprs)
        base = _pack_label_features(labs, features, ycols).select(*ycols, "fx")
        base = base.localCheckpoint(eager=False)
    fitted = _gd_fit(
        base, ycols, "train_ovr_logreg_weights",
        n_features=n_features, lr=lr, n_iter=n_iter, center=center, l2=l2,
    )
    return dict(zip(classes, fitted))


# ------------------------------------------------------- KN train/apply

def _kn_discount_row(coc: DataFrame, k: int) -> DataFrame:
    """Count-of-count (n1..n4) 1-row frame → modified-KN discount
    triple (d{k}_1, d{k}_2, d{k}_3) for level k — the Chen & Goodman
    1999 eq. 26 rule: Y = n1/(n1+2n2) (fallback 0.5),
    D_i = max(i − (i+1)·Y·n_{i+1}/n_i, 0), each falling back to 0.5
    when its count-of-count denominator is empty."""
    y = F.when(
        F.col("n1") + 2 * F.col("n2") > 0,
        F.col("n1") / (F.col("n1") + 2 * F.col("n2")),
    ).otherwise(F.lit(0.5))
    withy = coc.select(y.alias("y"), "n1", "n2", "n3", "n4")
    return withy.select(
        F.when(
            F.col("n1") > 0,
            F.greatest(1 - 2 * F.col("y") * F.col("n2") / F.col("n1"), F.lit(0.0)),
        )
        .otherwise(F.lit(0.5))
        .alias(f"d{k}_1"),
        F.when(
            F.col("n2") > 0,
            F.greatest(2 - 3 * F.col("y") * F.col("n3") / F.col("n2"), F.lit(0.0)),
        )
        .otherwise(F.lit(0.5))
        .alias(f"d{k}_2"),
        F.when(
            F.col("n3") > 0,
            F.greatest(3 - 4 * F.col("y") * F.col("n4") / F.col("n3"), F.lit(0.0)),
        )
        .otherwise(F.lit(0.5))
        .alias(f"d{k}_3"),
    )


def _discounts_from_ctx(ctx_full: DataFrame, k: int) -> DataFrame:
    """Discount triple derived from the context dim's ride-along
    ==1/==2/==3/==4 cells: Σ over contexts of per-context counts is
    bit-identical to the direct count-of-counts over g[k] (exact
    integers in doubles), so this replaces a second full scan of the
    level table with a tiny agg over its context dim."""
    coc = ctx_full.agg(
        F.sum(f"n1f{k}").alias("n1"),
        F.sum(f"n2f{k}").alias("n2"),
        F.sum(f"_n3e{k}").alias("n3"),
        F.sum(f"_n4e{k}").alias("n4"),
    )
    return _kn_discount_row(coc, k)


# Bounded local fast path for the KN towers (the _FIT_LOCAL_ROW_CAP /
# suffix-array discipline): when the corpus holds at most this many
# TOKENS, the whole count tower + discount triples + scoring recursion
# run driver-side off ONE bounded collect of the engine-tokenized docs
# instead of ~60 groupBy/join stages of pure orchestration.  Above the
# cap the distributed tower is unchanged (sf1 and the kn scale benches
# keep exercising it).  Every float in the local chain mirrors the
# Column expression tree term for term (same literals, same
# association); the only tolerated drifts are libm log vs Math.log and
# the per-doc avg summation order — both already absorbed by the
# 1e-9-nudged 4-decimal round, the same tolerance that lets the DuckDB
# oracle re-run these chains with its own libm today.


#: the char-sum pre-gate's gray-zone width: ``tokens()`` yields
#: non-empty whitespace tokens, so n_tokens <= n_chars always; a corpus
#: whose char sum exceeds this multiple of the token cap is sent to the
#: distributed tower WITHOUT a tokenize probe (at scale the old probe
#: tokenized the full corpus, threw the pass away, and the distributed
#: tower re-tokenized — one entire wasted scan per KN query).  Corpora
#: in the gray zone (cap < chars <= factor*cap) still get the exact
#: token-sum probe, whose cost is bounded by the factor.  Path choice
#: only — both paths compute identical scores (parity-pinned in tests).
_KN_PROBE_CHAR_FACTOR = 8


def _kn_collect_tokens(docs, *, text_col: str, id_col: str):
    """[(doc_id, [token, ...]), ...] iff the corpus holds <=
    ``_KN_LOCAL_TOK_CAP`` tokens, else None (a cap of 0 skips the probe
    and keeps the distributed chain).  Tokenization stays in the ENGINE (the same
    ``tokens()`` column the distributed tower explodes), so the local
    path never re-implements split semantics.  NULL text coalesces to
    [] (the distributed chains surface such docs via the all_ids spine
    as n=0 / NULL — the local path must collect them, not crash).

    Gate order (guide §1.2 — don't compute things you throw away):
    first ONE narrow char-length aggregate (no tokenize, no explode);
    n_tokens <= n_chars makes ``chars <= cap`` a proof of eligibility
    and ``chars > factor*cap`` a cheap over-cap verdict, so the exact
    tokenize probe only ever runs on gray-zone corpora whose size the
    factor bounds."""
    cap = _KN_LOCAL_TOK_CAP
    if not cap:
        return None
    chars = docs.agg(F.sum(F.length(text_col))).first()[0]
    if chars is not None and chars > cap * _KN_PROBE_CHAR_FACTOR:
        return None
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(
            tokens(F.col(text_col)), F.array().cast("array<string>")
        ).alias("_t"),
    )
    if chars is not None and chars > cap:
        tot = t.agg(F.sum(F.size("_t"))).first()[0]
        if tot is not None and tot > cap:
            return None
    # Arrow probe, not collect(): a row-based collect of array<string>
    # materializes one Row object per element (~100k allocations at
    # sf0.1); toPandas ships two Arrow buffers and each cell unpacks
    # with one tolist()
    pdf = t.toPandas()
    return list(
        zip(
            pdf["doc_id"].tolist(),
            (x.tolist() if hasattr(x, "tolist") else list(x) for x in pdf["_t"]),
        )
    )


def _kn_local_discount(n1, n2, n3, n4):
    """Chen & Goodman eq. 26 triple — the _kn_discount_row expression
    in Python floats, identical literals and association."""
    n1, n2, n3, n4 = float(n1), float(n2), float(n3), float(n4)
    y = n1 / (n1 + 2.0 * n2) if (n1 + 2.0 * n2) > 0 else 0.5
    d1 = max(1.0 - 2.0 * y * n2 / n1, 0.0) if n1 > 0 else 0.5
    d2 = max(2.0 - 3.0 * y * n3 / n2, 0.0) if n2 > 0 else 0.5
    d3 = max(3.0 - 4.0 * y * n4 / n3, 0.0) if n3 > 0 else 0.5
    return (d1, d2, d3)


def _kn_scores_schema(
    docs: DataFrame, id_col: str, count_name: str = "n_ngrams"
) -> StructType:
    return StructType(
        [
            StructField("doc_id", docs.schema[id_col].dataType),
            StructField(count_name, LongType()),
            StructField("avg_logprob", DoubleType()),
        ]
    )


def _kn_gram_matrix(rows, N: int, ids: dict, grow: bool):
    """Per-occurrence n-gram ROW MATRIX: (doc_ids, doc_lens, M) where
    M is an int64 (total, N) matrix of token ids in position order
    (last word in the last column) — the one local n-gram encoding of
    every LM scorer, with no vocabulary-width limit (a packed int of N
    bit fields overflows int64 once a > 4096-token vocabulary meets
    order 5).  ``grow=True`` registers every token, short docs
    included; ``grow=False`` (held-out scoring) maps train-OOV tokens
    to the sentinel len(ids): an OOV-bearing gram is unseen at every
    level that covers it."""
    import numpy as np

    sentinel = len(ids)
    doc_ids = []
    doc_lens = []
    mats = []
    for did, tk in rows:
        doc_ids.append(did)
        if grow:
            # register EVERY token, short docs included: the vocabulary
            # size must match the distributed count_distinct over all
            # training tokens
            tids = np.fromiter(
                (ids.setdefault(w, len(ids)) for w in tk), np.int64, count=len(tk)
            )
        if len(tk) < N:
            doc_lens.append(0)
            continue
        if not grow:
            tids = np.fromiter(
                (ids.get(w, sentinel) for w in tk), np.int64, count=len(tk)
            )
        win = np.lib.stride_tricks.sliding_window_view(tids, N)
        mats.append(win)
        doc_lens.append(len(win))
    M = np.concatenate(mats) if mats else np.zeros((0, N), np.int64)
    return doc_ids, doc_lens, np.ascontiguousarray(M)


def _kn_rows_unique(M, want_counts: bool = True):
    """(rows, inverse[, counts]) of the distinct rows of an int64
    matrix — np.unique(axis=0) semantics without its void-view sort:
    columns chain into one dense int64 code (code·K_col + dense(col),
    1-D sorts only; products stay far under 2^63 because both factors
    are bounded by the row count under the token cap).  Row order is
    an implementation detail; every caller indexes by position."""
    import numpy as np

    n, k = M.shape
    if n == 0:
        return (M, np.zeros(0, np.int64), np.zeros(0, np.int64)) if want_counts else (M, np.zeros(0, np.int64))
    code = None
    for j in range(k):
        ucol, dcol = np.unique(M[:, j], return_inverse=True)
        dcol = dcol.ravel()
        if code is None:
            code = dcol
        else:
            _, code = np.unique(code * np.int64(len(ucol)) + dcol, return_inverse=True)
            code = code.ravel()
    uniq, first, inv, cnt = np.unique(
        code, return_index=True, return_inverse=True, return_counts=True
    )
    rows = M[first]
    if want_counts:
        return rows, inv.ravel(), cnt
    return rows, inv.ravel()


def _kn_mat_tower(M, N: int):
    """The count tower over the n-gram row matrix, all levels derived
    with np.unique(axis=0) + inverse chaining (integer-exact, vocab-
    width-free):

    - lv[k] = (rows, cnt): distinct level-k suffix rows (the last k
      tokens) with raw counts at N and continuation counts (distinct
      level-(k+1) extension types) below — the g[k] tables.
    - ctx[k] = (rows, tot, n1f, n2f, n3f): per-context totals and
      count-of-count masses over lv[k], grouped by the context (the
      suffix minus its last token) — the x[k] dims.
    - coc[k]: the discount-triple cells (n1f, n2f, n3e, n4e sums).
    - t2l[k]: for each level-N type, the index of its level-k suffix
      row; tctx[k]: the index of its level-k context row — the gather
      indices the in-corpus scorer chains through (every in-corpus
      type has all its counts and contexts, so these are total maps).
    - invN: per-occurrence type index into lv[N].
    """
    import numpy as np

    uniqN, invN, cntN = _kn_rows_unique(M)
    lv = {N: (uniqN, cntN)}
    ctx = {}
    coc = {}
    t2l = {N: np.arange(len(uniqN))}
    tctx = {}
    cur_rows, cur_cnt = uniqN, cntN
    for k in range(N, 1, -1):
        crows, cinv = _kn_rows_unique(np.ascontiguousarray(cur_rows[:, :-1]), want_counts=False)
        nctx = len(crows)
        cnt = cur_cnt
        # integer sums via bincount (weights ride as float64 but the
        # masses are far below 2^53, so the cast back is exact)
        tot = np.bincount(cinv, weights=cnt.astype(np.float64), minlength=nctx).astype(np.int64)
        n1f = np.bincount(cinv[cnt == 1], minlength=nctx).astype(np.int64)
        n2f = np.bincount(cinv[cnt == 2], minlength=nctx).astype(np.int64)
        n3f = np.bincount(cinv[cnt >= 3], minlength=nctx).astype(np.int64)
        n3e = np.bincount(cinv[cnt == 3], minlength=nctx).astype(np.int64)
        n4e = np.bincount(cinv[cnt == 4], minlength=nctx).astype(np.int64)
        ctx[k] = (crows, tot, n1f, n2f, n3f)
        coc[k] = (int(n1f.sum()), int(n2f.sum()), int(n3e.sum()), int(n4e.sum()))
        tctx[k] = cinv[t2l[k]]
        nrows, ninv, ncnt = _kn_rows_unique(np.ascontiguousarray(cur_rows[:, 1:]))
        lv[k - 1] = (nrows, ncnt)
        t2l[k - 1] = ninv[t2l[k]]
        cur_rows, cur_cnt = nrows, ncnt
    return lv, ctx, coc, t2l, tctx, invN


def _kn_row_lookup(table, q):
    """(idx, present) of each query row among the table's unique rows
    — one np.unique over the stacked rows, no order assumptions (the
    vectorized dict.get for row keys)."""
    import numpy as np

    if not len(table) or not len(q):
        return np.zeros(len(q), np.int64), np.zeros(len(q), bool)
    _, inv = _kn_rows_unique(np.vstack([table, q]), want_counts=False)
    n = len(table)
    mark = np.full(int(inv.max()) + 1, -1, np.int64)
    mark[inv[:n]] = np.arange(n)
    got = mark[inv[n:]]
    return np.maximum(got, 0), got >= 0


def _kn_np_per_doc(doc_ids, doc_lens, vals):
    """(doc_id, n_ngrams, avg_logprob) off the per-occurrence logprob
    vector — the running sum iterates each doc's occurrences left to
    right; rows sharing a doc_id merge into one (the distributed
    chain's groupBy + distinct id spine), and a doc with no n-gram
    scores NULL."""
    acc: dict = {}
    pos = 0
    vl = vals.tolist()
    for did, n in zip(doc_ids, doc_lens):
        ent = acc.setdefault(did, [0, 0.0])
        for v in vl[pos : pos + n]:
            ent[1] += v
        ent[0] += n
        pos += n
    return [(did, n, s / float(n) if n else None) for did, (n, s) in acc.items()]


def _kn_local_bigram_scores(docs, text_col: str, id_col: str, lp_of):
    """The bounded local path of the two bigram scorers → the finished
    (doc_id, n_bigrams, avg_logprob) frame, or None over the token cap.
    Bigram types come off the same row matrix as the KN towers; each
    scorer supplies ``lp_of(rows, ids, U, c)``: the log-probability of
    every distinct bigram row of ``U`` (token ids into ``ids``, the
    vocabulary of every collected token) with corpus count ``c``."""
    import numpy as np

    rows = _kn_collect_tokens(docs, text_col=text_col, id_col=id_col)
    if rows is None:
        return None
    ids: dict = {}
    doc_ids, doc_lens, M = _kn_gram_matrix(rows, 2, ids, grow=True)
    vals = np.zeros(0)
    if len(M):
        U, inv, c = _kn_rows_unique(M)
        vals = lp_of(rows, ids, U, c)[inv]
    return docs.sparkSession.createDataFrame(
        _kn_np_per_doc(doc_ids, doc_lens, vals),
        _kn_scores_schema(docs, id_col, "n_bigrams"),
    )


def _per_doc_scores(docs: DataFrame, id_col: str, scored: DataFrame, count_name: str):
    """The per-doc tail every distributed LM scorer ends with: count
    and mean ``_lp`` per doc over the scored occurrence frame, then a
    left join onto the distinct id spine so docs without an n-gram
    surface as unscorable (count 0, NULL score) instead of vanishing
    (review r9)."""
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias(count_name),
        F.avg("_lp").alias("avg_logprob"),
    )
    all_ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return all_ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(count_name, F.lit(0)).cast("bigint").alias(count_name),
        "avg_logprob",
    )


def _kn_occurrences(docs: DataFrame, N: int, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, w1..wN): one row per n-gram occurrence of the engine's
    ``tokens()`` split; docs shorter than N tokens yield no row."""
    toks = tokens(F.col(text_col))
    ng = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - (N - 1), F.lit(0))),
        lambda t, i: F.struct(
            t.alias("w1"),
            *[F.element_at(toks, i + j).alias(f"w{j}") for j in range(2, N + 1)],
        ),
    )
    return docs.select(F.col(id_col).alias("doc_id"), F.explode(ng).alias("g")).select(
        "doc_id", *[F.col(f"g.w{j}").alias(f"w{j}") for j in range(1, N + 1)]
    )


def _kn_tower(occ: DataFrame, N: int):
    """The distributed count tower over an occurrence frame → (g, x,
    ctx), every frame lazily checkpointed (each feeds several
    consumers: its context dim, the next level down, and the scoring
    joins):

    - g[k] (k=1..N): level-k count table — raw counts at N,
      continuation counts (distinct left-extension types) below, each
      level one GROUP BY over the level above.
    - ctx[k] (k=2..N): per-context totals and count-of-count masses
      (tot, n1f, n2f, n3f) plus ride-along ==3/==4 cells, so one
      groupBy serves both the context dim and the global discount
      triple (:func:`_discounts_from_ctx` — a tiny agg over the context
      table instead of a second full scan of g[k]).
    - x[k]: ctx[k] projected to the context dim's columns."""
    cols = [f"w{j}" for j in range(1, N + 1)]
    g = {
        N: occ.groupBy(*cols)
        .agg(F.count("*").cast("double").alias(f"c{N}"))
        .localCheckpoint(eager=False)
    }
    for k in range(N - 1, 0, -1):
        g[k] = (
            g[k + 1]
            .groupBy(*cols[N - k :])
            .agg(F.count("*").cast("double").alias(f"c{k}"))
            .localCheckpoint(eager=False)
        )
    x, ctx = {}, {}
    for k in range(N, 1, -1):
        ckeys = cols[N - k : N - 1]
        c = F.col(f"c{k}")
        ctx[k] = (
            g[k]
            .groupBy(*ckeys)
            .agg(
                F.sum(c).alias(f"tot{k}"),
                F.sum((c == 1).cast("double")).alias(f"n1f{k}"),
                F.sum((c == 2).cast("double")).alias(f"n2f{k}"),
                F.sum((c >= 3).cast("double")).alias(f"n3f{k}"),
                F.sum((c == 3).cast("double")).alias(f"_n3e{k}"),
                F.sum((c == 4).cast("double")).alias(f"_n4e{k}"),
            )
            .localCheckpoint(eager=False)
        )
        x[k] = ctx[k].select(*ckeys, f"tot{k}", f"n1f{k}", f"n2f{k}", f"n3f{k}")
    return g, x, ctx


def _kn_d_of(c: Column, k: int) -> Column:
    """D_k(c): the level-k modified discount for count ``c``."""
    return (
        F.when(c == 1, F.col(f"d{k}_1"))
        .when(c == 2, F.col(f"d{k}_2"))
        .otherwise(F.col(f"d{k}_3"))
    )


def _kn_gamma(k: int, total: str | None = None) -> Column:
    """γ_k: the mass the level-k discounts free per context, over the
    context total (``tot{k}``, or ``total`` for the unigram level)."""
    return (
        F.col(f"d{k}_1") * F.col(f"n1f{k}")
        + F.col(f"d{k}_2") * F.col(f"n2f{k}")
        + F.col(f"d{k}_3") * F.col(f"n3f{k}")
    ) / F.col(total or f"tot{k}")


def _kn_local_scores_order(rows, N: int):
    """lm_kn_scores_order's in-corpus recursion, vectorized — raw
    counts at N, continuation backoff, the type-diversity unigram
    p1 = c1/u — term-for-term the Column expression tree (inner joins:
    every in-corpus type has all its counts and contexts).  Each
    distinct N-gram's probability chain is the SAME elementwise IEEE
    expression the scalar loop evaluated (inverse-index gathers
    replace dict gets; no cross-type reassociation); the only drift
    class is np.log vs libm/Math.log ulps, already absorbed by the
    rounding contract."""
    import numpy as np

    ids: dict = {}
    doc_ids, doc_lens, M = _kn_gram_matrix(rows, N, ids, grow=True)
    if not len(M):
        return [(did, 0, None) for did in doc_ids]
    lv, ctx, coc, t2l, tctx, invN = _kn_mat_tower(M, N)
    dd = {k: _kn_local_discount(*coc[k]) for k in range(N, 1, -1)}
    u = float(len(lv[2][0]))
    p = lv[1][1][t2l[1]].astype(np.float64) / u
    for k in range(2, N + 1):
        dk1, dk2, dk3 = dd[k]
        ck = lv[k][1][t2l[k]].astype(np.float64)
        d_of = np.where(ck == 1.0, dk1, np.where(ck == 2.0, dk2, dk3))
        _crows, tot, n1f, n2f, n3f = ctx[k]
        ci = tctx[k]
        totv = tot[ci].astype(np.float64)
        gamma = (
            dk1 * n1f[ci].astype(np.float64)
            + dk2 * n2f[ci].astype(np.float64)
            + dk3 * n3f[ci].astype(np.float64)
        ) / totv
        p = np.maximum(ck - d_of, 0.0) / totv + gamma * p
    lp = np.log(p)
    return _kn_np_per_doc(doc_ids, doc_lens, lp[invN])


def _kn_local_fit(rows, N: int) -> dict:
    """lm_kn_fit's tower as row-matrix tables (the local model payload
    _kn_local_score gathers from and _kn_local_to_frames enumerates)
    — same integer counts the scalar dict tower held."""
    import numpy as np

    ids: dict = {}
    _doc_ids, _doc_lens, M = _kn_gram_matrix(rows, N, ids, grow=True)
    lv, ctx, coc, _t2l, _tctx, _invN = _kn_mat_tower(M, N)
    dd = {k: _kn_local_discount(*coc[k]) for k in range(N, 1, -1)}
    c1 = lv[1][1]
    n1 = int((c1 == 1).sum())
    n2 = int((c1 == 2).sum())
    n3 = int((c1 == 3).sum())
    n4 = int((c1 == 4).sum())
    ge3 = int((c1 >= 3).sum())
    dd[1] = _kn_local_discount(n1, n2, n3, n4)
    return {
        "lv": lv,
        "ctx": ctx,
        "dd": dd,
        "ids": ids,
        "u": float(len(lv[2][0])),
        "v": float(len(ids)),
        "n1f1": float(n1),
        "n2f1": float(n2),
        "n3f1": float(ge3),
    }


def _kn_local_score(local: dict, held_rows, N: int):
    """lm_kn_score's backoff recursion, vectorized — coalesced counts,
    unseen-context pass-through, discounted-unigram + uniform unknown
    floor — term-for-term the Column expression tree (row lookups
    with a 0 default replace dict gets; the pass-through is a where()
    that keeps p unchanged where the context row is absent)."""
    import numpy as np

    lv, ctx, dd = local["lv"], local["ctx"], local["dd"]
    u, v = local["u"], local["v"]
    doc_ids, doc_lens, M = _kn_gram_matrix(held_rows, N, local["ids"], grow=False)
    if u == 0.0:
        # degenerate train corpus (no doc reached 2 tokens): the
        # distributed chain's 0-denominator propagates NULL through
        # Spark SQL — mirror that (real n_ngrams, NULL score), don't
        # raise ZeroDivisionError
        return [(did, n, None) for did, n in zip(doc_ids, doc_lens)]
    if not len(M):
        return [(did, 0, None) for did in doc_ids]
    d1_1, d1_2, d1_3 = dd[1]
    gamma1 = (d1_1 * local["n1f1"] + d1_2 * local["n2f1"] + d1_3 * local["n3f1"]) / u
    unk = 1.0 / (v + 1.0)
    uniqH, invH = _kn_rows_unique(M, want_counts=False)
    li, lhit = _kn_row_lookup(lv[1][0], uniqH[:, N - 1 :])
    c1v = np.where(lhit, lv[1][1][li], 0).astype(np.float64)
    d_of1 = np.where(c1v == 1.0, d1_1, np.where(c1v == 2.0, d1_2, d1_3))
    p = np.maximum(c1v - d_of1, 0.0) / u + gamma1 * unk
    for k in range(2, N + 1):
        dk1, dk2, dk3 = dd[k]
        sfx = uniqH[:, N - k :]
        crows, tot, n1f, n2f, n3f = ctx[k]
        ci, present = _kn_row_lookup(crows, sfx[:, :-1])
        if not present.any():
            continue  # no known context anywhere: every type passes through
        gi, ghit = _kn_row_lookup(lv[k][0], sfx)
        ckv = np.where(ghit, lv[k][1][gi], 0).astype(np.float64)
        d_of = np.where(ckv == 1.0, dk1, np.where(ckv == 2.0, dk2, dk3))
        # totv is only read under `present`; clamp the absent slots to
        # 1.0 so the vector division never trips 0/0 warnings
        totv = np.where(present, tot[ci].astype(np.float64), 1.0)
        gamma = (
            dk1 * n1f[ci].astype(np.float64)
            + dk2 * n2f[ci].astype(np.float64)
            + dk3 * n3f[ci].astype(np.float64)
        ) / totv
        p = np.where(
            present, np.maximum(ckv - d_of, 0.0) / totv + gamma * p, p
        )
    with np.errstate(divide="ignore"):  # p = 0 scores -inf
        lp = np.log(p)
    return _kn_np_per_doc(doc_ids, doc_lens, lp[invH])


def _kn_local_to_frames(model: dict) -> dict:
    """Inflate a local KN model into the DataFrame shape lm_kn_save /
    the distributed lm_kn_score chain expect — same columns, counts as
    doubles, triples/totals as 1-row frames."""
    import pandas as pd

    N = int(model["order"])
    spark = model["spark"]
    loc = model["local"]
    cols = [f"w{j}" for j in range(1, N + 1)]
    rev = [None] * len(loc["ids"])
    for w, i in loc["ids"].items():
        rev[i] = w

    def unpack(row) -> list:
        return [rev[int(t)] for t in row]

    g = {}
    for k in range(1, N + 1):
        kcols = cols[N - k :]
        rows_k, cnt_k = loc["lv"][k]
        pdf = pd.DataFrame(
            [
                unpack(row) + [float(c)]
                for row, c in zip(rows_k.tolist(), cnt_k.tolist())
            ],
            columns=kcols + [f"c{k}"],
        )
        schema = StructType(
            [StructField(c, StringType()) for c in kcols]
            + [StructField(f"c{k}", DoubleType())]
        )
        g[k] = spark.createDataFrame(pdf, schema)
    x = {}
    for k in range(2, N + 1):
        ckeys = cols[N - k : N - 1]
        cxk, tot, n1f, n2f, n3f = loc["ctx"][k]
        pdf = pd.DataFrame(
            [
                unpack(row)
                + [float(t), float(a), float(b), float(c)]
                for row, t, a, b, c in zip(
                    cxk.tolist(), tot.tolist(), n1f.tolist(), n2f.tolist(), n3f.tolist()
                )
            ],
            columns=ckeys + [f"tot{k}", f"n1f{k}", f"n2f{k}", f"n3f{k}"],
        )
        schema = StructType(
            [StructField(c, StringType()) for c in ckeys]
            + [
                StructField(f"tot{k}", DoubleType()),
                StructField(f"n1f{k}", DoubleType()),
                StructField(f"n2f{k}", DoubleType()),
                StructField(f"n3f{k}", DoubleType()),
            ]
        )
        x[k] = spark.createDataFrame(pdf, schema)
    dd = {
        k: spark.createDataFrame(
            [tuple(loc["dd"][k])], f"d{k}_1 double, d{k}_2 double, d{k}_3 double"
        )
        for k in range(1, N + 1)
    }
    tot = spark.createDataFrame(
        [(loc["u"], loc["v"], loc["n1f1"], loc["n2f1"], loc["n3f1"])],
        "u double, v double, n1f1 double, n2f1 double, n3f1 double",
    )
    return {"order": N, "g": g, "x": x, "dd": dd, "tot": tot}


def lm_kn_fit(
    docs: DataFrame,
    *,
    order: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Fit the order-N modified Kneser–Ney tower on a TRAIN corpus and
    return it as a MODEL — the train half of CCNet's actual deployment
    (Wenzek et al. 2020 §4.3 train KenLM on Wikipedia and score Common
    Crawl; the train/apply split IS the operator, which the in-corpus
    :func:`lm_kn_scores_order` deliberately lacks).

    The model is a dict of narrow DataFrames, every piece a Parquet-
    persistable dim (:func:`lm_kn_save` / :func:`lm_kn_load`):

    - ``g[k]`` (k=1..N): level-k count table — raw counts at level N,
      continuation counts (distinct left-extension types) below, each
      level one GROUP BY over the level above.
    - ``x[k]`` (k=2..N): per-context totals + count-of-count masses
      (tot, n1f, n2f, n3f) — the denominator and γ numerator of the
      backoff at level k.
    - ``dd[k]`` (k=1..N): 1-row modified-discount triples.  Level 1
      gets its OWN triple (the in-corpus scorer stops at p₁ = c₁/u):
      held-out scoring discounts the unigram level too, releasing the
      reserved mass to the uniform unknown floor.
    - ``tot``: 1-row (u, v, n1f1, n2f1, n3f1) — the continuation-type
      grand total u = N₁₊(··), the TRAIN vocabulary size v (distinct
      tokens, for the 1/(v+1) unknown floor — the +1 reserves the
      <unk> slot), and the level-1 γ masses.

    Scale shape: one tokenize+explode pass over the train corpus, one
    GROUP BY per level (all map-side combined), four 1-row aggregates;
    every frame is localCheckpointed so fit → score never re-derives
    the tower."""
    N = int(order)
    if N < 2:
        raise ValueError(f"lm_kn_fit: order must be >= 2, got {order}")
    rows = _kn_collect_tokens(docs, text_col=text_col, id_col=id_col)
    if rows is not None:
        return {
            "order": N,
            "local": _kn_local_fit(rows, N),
            "spark": docs.sparkSession,
        }
    g, x, ctx = _kn_tower(_kn_occurrences(docs, N, text_col, id_col), N)
    dd = {
        k: _discounts_from_ctx(ctx[k], k).localCheckpoint(eager=False)
        for k in range(N, 1, -1)
    }
    # one agg over g[1] serves BOTH the level-1 discount triple and the
    # level-1 gamma masses (the old pair of separate scans)
    g1coc = g[1].agg(
        F.sum((F.col("c1") == 1).cast("double")).alias("n1"),
        F.sum((F.col("c1") == 2).cast("double")).alias("n2"),
        F.sum((F.col("c1") == 3).cast("double")).alias("n3"),
        F.sum((F.col("c1") == 4).cast("double")).alias("n4"),
        F.sum((F.col("c1") >= 3).cast("double")).alias("_ge3"),
    ).localCheckpoint(eager=False)
    dd[1] = _kn_discount_row(g1coc.select("n1", "n2", "n3", "n4"), 1).localCheckpoint(
        eager=False
    )
    u_total = g[2].agg(F.count("*").cast("double").alias("u"))
    v_total = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("_t"))
        .agg(F.count_distinct("_t").cast("double").alias("v"))
    )
    x1 = g1coc.select(
        F.col("n1").alias("n1f1"),
        F.col("n2").alias("n2f1"),
        F.col("_ge3").alias("n3f1"),
    )
    tot = (
        u_total.crossJoin(v_total).crossJoin(x1).localCheckpoint(eager=False)
    )  # 1-row × 1-row × 1-row
    return {"order": N, "g": g, "x": x, "dd": dd, "tot": tot}


def lm_kn_score(
    model: dict,
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score a HELD-OUT corpus against a fitted KN tower → (doc_id,
    n_ngrams, avg_logprob) — the apply half of the CCNet deployment,
    with full OOV backoff instead of the inner-join vanish:

    - level k ≥ 2, context seen in training:
        p_k = max(c_k − D_k(c_k), 0)/tot_k + γ_k(ctx)·p_{k−1}
      with c_k = 0 when the k-gram itself is unseen (first term 0,
      the backoff mass carries everything);
    - level k ≥ 2, context UNSEEN: p_k = p_{k−1} (pass-through — an
      unseen context reserves no mass of its own, the standard
      back-off rule);
    - level 1: p₁ = max(uc − D₁(uc), 0)/u + γ₁·(1/(v+1)) — the
      unigram level is discounted exactly like every other level and
      the released mass interpolates with the UNIFORM distribution
      over the train vocabulary + one <unk> slot (KenLM's unigram
      closure), so an OOV word scores γ₁/(v+1) > 0 instead of −inf.

    Scale shape: each DISTINCT held-out N-gram is scored once (N
    LEFT equi-joins against the count tables, N−1 LEFT joins against
    the context dims, all discount triples and totals broadcast as
    1-row frames); the held-out occurrence frame then pays exactly
    one equi-join against the finished scores.  Docs shorter than N
    tokens surface with n_ngrams 0 and NULL score, never vanish."""
    N = int(model["order"])
    if "local" in model:
        rows = _kn_collect_tokens(docs, text_col=text_col, id_col=id_col)
        if rows is not None:
            return docs.sparkSession.createDataFrame(
                _kn_local_score(model["local"], rows, N),
                _kn_scores_schema(docs, id_col),
            )
        # held-out corpus over the cap: inflate the local tower to the
        # DataFrame shape and fall through to the distributed chain
        model = _kn_local_to_frames(model)
    g, x, dd, tot = model["g"], model["x"], model["dd"], model["tot"]
    cols = [f"w{j}" for j in range(1, N + 1)]
    occ = _kn_occurrences(docs, N, text_col, id_col).localCheckpoint(eager=False)
    typ = occ.select(*cols).distinct()
    joined = typ
    for k in range(N, 0, -1):
        joined = joined.join(g[k], cols[N - k :], "left")
    for k in range(N, 1, -1):
        joined = joined.join(x[k], cols[N - k : N - 1], "left")
    for k in range(N, 0, -1):
        joined = joined.crossJoin(F.broadcast(dd[k]))
    joined = joined.crossJoin(F.broadcast(tot))

    c1v = F.coalesce(F.col("c1"), F.lit(0.0))
    unk = F.lit(1.0) / (F.col("v") + F.lit(1.0))
    p = F.greatest(c1v - _kn_d_of(c1v, 1), F.lit(0.0)) / F.col("u") + _kn_gamma(1, "u") * unk
    for k in range(2, N + 1):
        ckv = F.coalesce(F.col(f"c{k}"), F.lit(0.0))
        p = F.when(F.col(f"tot{k}").isNull(), p).otherwise(
            F.greatest(ckv - _kn_d_of(ckv, k), F.lit(0.0)) / F.col(f"tot{k}")
            + _kn_gamma(k) * p
        )

    # p = 0 (an n-gram unseen at every level whose discounts free no
    # backoff mass, γ = 0 — e.g. an OOV word under γ₁ = 0) scores −inf,
    # as the local path's np.log does: Spark's log(0) is NULL, which avg
    # would silently drop while n_ngrams still counts the n-gram
    lp = F.when(p == 0.0, F.lit(float("-inf"))).otherwise(F.log(p))
    tri = joined.select(*cols, lp.alias("_lp"))
    return _per_doc_scores(docs, id_col, occ.join(tri, cols), "n_ngrams")


def lm_kn_save(model: dict, path: str) -> None:
    """Persist a fitted KN tower as Parquet dims under ``path`` —
    the ANN persisted-index pattern (similarity.py build_pq_index):
    one directory per piece (g1..gN, x2..xN, dd1..ddN, tot) plus a
    1-row ``meta`` carrying the order.  Doubles round-trip Parquet
    bit-exactly, so load-then-score is float-identical to
    fit-then-score (pinned by the roundtrip query's shared oracle)."""
    if "local" in model:
        model = _kn_local_to_frames(model)
    N = int(model["order"])
    spark = model["tot"].sparkSession
    spark.range(1).select(F.lit(N).alias("order")).write.mode("overwrite").parquet(
        f"{path}/meta"
    )
    for k in range(1, N + 1):
        model["g"][k].write.mode("overwrite").parquet(f"{path}/g{k}")
        model["dd"][k].write.mode("overwrite").parquet(f"{path}/dd{k}")
    for k in range(2, N + 1):
        model["x"][k].write.mode("overwrite").parquet(f"{path}/x{k}")
    model["tot"].write.mode("overwrite").parquet(f"{path}/tot")


def lm_kn_load(spark, path: str) -> dict:
    """Load a persisted KN tower back into the :func:`lm_kn_score`
    model shape.  The count tables come back as partitioned Parquet
    scans (column-pruned, ready for the scoring equi-joins); the
    triples/totals stay 1-row broadcast dims."""
    N = int(spark.read.parquet(f"{path}/meta").head()["order"])
    g = {k: spark.read.parquet(f"{path}/g{k}") for k in range(1, N + 1)}
    dd = {k: spark.read.parquet(f"{path}/dd{k}") for k in range(1, N + 1)}
    x = {k: spark.read.parquet(f"{path}/x{k}") for k in range(2, N + 1)}
    tot = spark.read.parquet(f"{path}/tot")
    return {"order": N, "g": g, "x": x, "dd": dd, "tot": tot}


def ovr_softmax_scores(
    features: DataFrame,
    models: dict[str, tuple[list[float], float]],
    id_spine: DataFrame,
    *,
    n_features: int,
    temperature: float = 1.0,
    threshold: float = 0.5,
    reject_label: str = "und",
    packed: DataFrame | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """CALIBRATED multi-class scoring over one-vs-rest margins →
    (doc_id, prob_<class>..., pred_lang): a softmax layer with
    temperature turns the K raw margins into a normalized posterior,
    and a confidence threshold routes low-max-probability docs to a
    REJECT class — the CCNet move for mixed-language pages (Wenzek et
    al. 2020 §4.2 drop pages whose fastText top-language score is
    below a cutoff rather than mis-route them).

        p_c = exp(m_c/T) / Σ_k exp(m_k/T)
        pred = argmax_c p_c  if max_c p_c ≥ threshold  else reject

    Same margin stage as :func:`ovr_logreg_scores`
    (:func:`_ovr_margin_stage`); the softmax is a row-local
    expression, and the argmax is the alphabetically-first
    when-chain.  The denominator sums the class exponentials in
    sorted-class order so the float association is
    engine-reproducible."""
    if float(temperature) <= 0.0:
        raise ValueError(
            f"ovr_softmax_scores: temperature must be > 0, got {temperature}"
        )
    if not 0.0 < float(threshold) < 1.0:
        raise ValueError(
            f"ovr_softmax_scores: threshold must be in (0, 1), got {threshold}"
        )
    T = float(temperature)
    classes, local, base, raw = _ovr_margin_stage(
        "ovr_softmax_scores", features, models, id_spine,
        n_features=n_features, packed=packed, keep_cols=keep_cols,
    )
    if local is not None:
        import numpy as np

        probe, M = local
        with np.errstate(over="ignore"):
            E = np.exp(M / T)
        den = E[:, 0].copy()
        for j in range(1, len(classes)):  # sorted-class association
            den = den + E[:, j]
        with np.errstate(invalid="ignore"):
            P = E / den[:, None]
        # exp overflow gives inf/inf = NaN probs: the Spark-NaN argmax
        # routes such a doc to its first NaN class, not the reject bucket
        return _ovr_local_frame(
            packed, probe, keep_cols, classes, P, "prob",
            floor=float(threshold), reject_label=reject_label,
        )
    # each class's exponential evaluated ONCE into a real column.  The
    # softmax/argmax layer references every class exponential ~12x (own
    # prob, the shared denominator, greatest, the when-chain); inlined,
    # each reference re-runs the whole literal-array fold —
    # CollapseProject keeps the split because the folds are non-trivial
    # and multiply referenced.  Same doubles: the fold, exp, and
    # sorted-class denominator association are unchanged, only
    # evaluated via column refs.
    mid = base.select(
        "doc_id",
        *keep_cols,
        *[F.exp(raw[c] / F.lit(T)).alias(f"_e_{c}") for c in classes],
    )
    exps = {cls: F.col(f"_e_{cls}") for cls in classes}
    den = exps[classes[0]]
    for cls in classes[1:]:
        den = den + exps[cls]
    probs = {cls: exps[cls] / den for cls in classes}
    best, pred = _ovr_argmax(probs, classes)
    return mid.select(
        "doc_id",
        *keep_cols,
        *[probs[c].alias(f"prob_{c}") for c in classes],
        F.when(best >= F.lit(float(threshold)), pred)
        .otherwise(F.lit(str(reject_label)))
        .alias("pred_lang"),
    )
