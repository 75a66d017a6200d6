"""Quality-filter suite: repetition signals, Gopher-style gates, and
corpus-wide line dedup — hand-computed fixtures."""

import pytest
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.quality import (
    corpus_line_dedup,
    gopher_quality_flags,
    repetition_signals,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # doc 1: 4 lines, one exact repeat ("b b"); top bigram "b b" (3x)
        (1, "a b\nb b\nc d\nb b"),
        # doc 2: no repeats at all
        (2, "x y\nz w"),
        # doc 3: single line, single token — no bigrams
        (3, "solo"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_signals(spark, docs):
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    r1 = got[1]
    assert r1["n_lines"] == 4
    assert r1["dup_line_frac"] == pytest.approx(1 / 4)  # one repeated "b b"
    # chars: lines are 3,3,3,3 → repeated chars 3 of 12
    assert r1["dup_line_char_frac"] == pytest.approx(3 / 12)
    # tokens a b b b c d b b → bigrams: "a b","b b","b b","b c","c d","d b","b b"
    assert r1["top_bigram"] == "b b"
    # 3 occurrences × 2 chars over 8 single-char tokens
    assert r1["top_bigram_char_frac"] == pytest.approx(3 * 2 / 8)
    r2 = got[2]
    assert r2["dup_line_frac"] == 0.0
    assert r2["top_bigram"] in ("x y", "y z", "z w")  # all count 1 → min = "x y"
    assert r2["top_bigram"] == "x y"
    r3 = got[3]
    assert r3["n_lines"] == 1 and r3["top_bigram"] is None
    assert r3["top_bigram_char_frac"] == 0.0


def test_gopher_flags_keep_and_reject(spark):
    good = " ".join(["the quick brown fox jumps over the lazy dog near a tree and"] * 5)
    rows = [
        (1, good),  # 60 tokens, sane ratios → keep
        (2, "short doc only"),  # too few tokens
        (3, " ".join(["####"] * 60)),  # symbols, no alpha, no stopwords
        (4, "\n".join(["- bullet line"] * 30) + "\n" + " ".join(["the and of to is a in"] * 9)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_quality_flags(df, min_tokens=50).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False and got[2]["ok_n_tokens"] is False
    assert got[3]["keep"] is False
    assert got[3]["ok_symbol_ratio"] is False and got[3]["ok_alpha_words"] is False
    # doc 4: 30 of 31 lines start with "- " → bullet frac > 0.9
    assert got[4]["ok_bullet_lines"] is False


def test_gopher_signal_values(spark):
    df = spark.createDataFrame([(1, "the cat... sat\n- on the mat")], "doc_id long, text string")
    r = gopher_quality_flags(df, min_tokens=1).collect()[0]
    assert r["n_tokens"] == 7
    assert r["n_stopword_hits"] == 2  # "the" twice
    assert r["bullet_line_frac"] == pytest.approx(1 / 2)
    assert r["ellipsis_line_frac"] == 0.0  # "sat" ends the line, not "..."
    assert r["symbol_word_ratio"] == pytest.approx(1 / 7)  # one "..." token hit


def test_corpus_line_dedup_first_occurrence_wins(spark):
    rows = [
        (1, "keep one\nshared line\nkeep two"),
        (2, "shared line\nunique here"),
        (3, "shared line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in corpus_line_dedup(df).collect()}
    assert got[1]["cleaned_text"] == "keep one\nshared line\nkeep two"
    assert got[1]["n_lines_dropped"] == 0
    assert got[2]["cleaned_text"] == "unique here"
    assert got[2]["n_lines_dropped"] == 1
    assert got[3]["cleaned_text"] == ""
    assert got[3]["n_lines_kept"] == 0 and got[3]["n_lines_dropped"] == 1


def test_corpus_line_dedup_max_occurrences(spark):
    rows = [(1, "dup\ndup\ndup"), (2, "dup")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in corpus_line_dedup(df, max_occurrences=2).collect()}
    assert got[1]["cleaned_text"] == "dup\ndup"
    assert got[2]["n_lines_kept"] == 0


def test_repetition_no_shuffle_hotkey_shape(spark, docs):
    # structural: the plan is two aggregate chains + a join — no
    # cartesian, no python UDF
    plan = repetition_signals(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("distributed", [False, True], ids=["local", "distributed"])
def test_lm_bigram_scores(spark, monkeypatch, distributed):
    """Hand-computed Laplace bigram LM scores on a 2-doc corpus —
    both paths pinned (_KN_LOCAL_TOK_CAP = 0 = the distributed chain)."""
    import math

    from opentsdb_aura_spark.operators import quality as q

    if distributed:
        monkeypatch.setattr(q, "_KN_LOCAL_TOK_CAP", 0)
    df = spark.createDataFrame([(0, "a b a b"), (1, "z z")], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
           for r in q.lm_bigram_scores(df, alpha=0.1).collect()}
    # U: a=2 b=2 z=2, V=3; B: "a b"=2, "b a"=1, "z z"=1
    lp_ab = math.log(2.1 / 2.3)
    lp_ba = math.log(1.1 / 2.3)
    lp_zz = math.log(1.1 / 2.3)
    assert got[0][0] == 3
    assert abs(got[0][1] - (2 * lp_ab + lp_ba) / 3) < 1e-9
    assert got[1][0] == 1
    assert abs(got[1][1] - lp_zz) < 1e-9


def test_link_density_flags_edges(spark):
    """link_density_flags: hand-computed density, the 0.3 boundary is
    inclusive, and a zero-text page gets NULL density + a False flag
    (3VL must not leak a NULL keep decision)."""
    from opentsdb_aura_spark.operators.quality import link_density_flags

    pages = spark.createDataFrame(
        [(0, 30, 100), (1, 30, 300), (2, 31, 100), (3, 0, 0), (4, 0, 50)],
        "doc_id long, link_chars long, text_chars long",
    )
    got = {r["doc_id"]: r for r in link_density_flags(pages).collect()}
    assert got[0]["link_density"] == 0.3 and got[0]["ok_link_density"] is True
    assert got[1]["ok_link_density"] is True
    assert got[2]["ok_link_density"] is False
    assert got[3]["link_density"] is None and got[3]["ok_link_density"] is False
    assert got[4]["link_density"] == 0.0 and got[4]["ok_link_density"] is True


def test_badwords_flags_rule_and_totality(spark):
    """C4 §2.2 gate: whole-lowercase-token matching (substrings never
    hit), occurrence counting, case folding, and NULL-text totality
    (nothing to keep)."""
    from opentsdb_aura_spark.operators.quality import badwords_flags

    rows = [
        (1, "clean text only"),
        (2, "has dup token"),
        (3, "DUP Dup dup"),            # case folds, 3 occurrences
        (4, "duplicate duped"),         # substrings do NOT match
        (5, None),
        (6, "obscene dup mix"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in badwords_flags(df).collect()}
    assert out[1]["n_badword_hits"] == 0 and out[1]["ok_badwords"]
    assert out[2]["n_badword_hits"] == 1 and not out[2]["ok_badwords"]
    assert out[3]["n_badword_hits"] == 3 and not out[3]["ok_badwords"]
    assert out[4]["n_badword_hits"] == 0 and out[4]["ok_badwords"]
    assert not out[5]["ok_badwords"]  # NULL text fails the gate
    assert out[6]["n_badword_hits"] == 2 and not out[6]["ok_badwords"]


def test_perplexity_buckets_terciles_and_null_tail(spark):
    """Per-language terciles: higher score -> head; NULL scores sort
    last into the tail; ties break on doc_id deterministically."""
    from opentsdb_aura_spark.operators.quality import perplexity_buckets

    rows = [
        # lang a: 6 docs, scores descending by doc_id for clarity
        (1, "a", -1.0), (2, "a", -2.0), (3, "a", -3.0),
        (4, "a", -4.0), (5, "a", -5.0), (6, "a", None),
        # lang b: 3 docs with TIED scores -> doc_id order decides
        (7, "b", -1.0), (8, "b", -1.0), (9, "b", -1.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, avg_logprob double")
    out = {r["doc_id"]: r["ppl_bucket"] for r in perplexity_buckets(df).collect()}
    assert (out[1], out[2]) == (1, 1)      # head third
    assert (out[3], out[4]) == (2, 2)      # middle
    assert (out[5], out[6]) == (3, 3)      # tail; NULL lands tail
    assert (out[7], out[8], out[9]) == (1, 2, 3)  # tie -> doc_id order


def test_cutoff_buckets_agree_with_ntile_on_clean_splits(spark):
    """The 100 TB cutoff path reproduces the exact ntile split when
    scores are distinct and group sizes divide evenly; NULL scores
    land in the last bucket; a language absent from the cutoff table
    falls into bucket 1 (single-bucket default)."""
    from opentsdb_aura_spark.operators.quality import (
        assign_perplexity_buckets,
        perplexity_buckets,
        train_perplexity_cutoffs,
    )

    rows = [(i, "a", -float(i)) for i in range(1, 7)]  # 6 distinct scores
    rows += [(10, "a", None), (11, "zz", -1.0), (12, "zz", None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, avg_logprob double")
    cuts = train_perplexity_cutoffs(df.where("lang = 'a'"))
    by_cut = {r["doc_id"]: r["ppl_bucket"]
              for r in assign_perplexity_buckets(df, cuts).collect()}
    by_ntile = {r["doc_id"]: r["ppl_bucket"]
                for r in perplexity_buckets(
                    df.where("lang = 'a' AND avg_logprob IS NOT NULL")
                ).collect()}
    for d in range(1, 7):
        assert by_cut[d] == by_ntile[d], d
    assert by_cut[10] == 3          # NULL -> last bucket
    assert by_cut[11] == 1          # unknown language -> single bucket
    assert by_cut[12] == 1          # NULL score AND unknown language -> that single bucket
    # approx path produces the same tiny threshold-table shape
    approx = train_perplexity_cutoffs(df.where("lang = 'a'"), approx=True).collect()
    assert len(approx) == 1 and len(approx[0]["cutoffs"]) == 2


def test_hashed_token_features_count_vs_presence(spark):
    """Feature-hasher contracts: count mode sums token multiplicity
    per bucket; presence mode caps at 1.0; both agree on which buckets
    are populated; n_features bounds every bucket index."""
    from opentsdb_aura_spark.operators.quality import hashed_token_features

    docs = spark.createDataFrame(
        [(0, "dup dup dup word"), (1, "")], "doc_id long, text string"
    )
    cnt = {(r["doc_id"], r["bucket"]): r["cnt"]
           for r in hashed_token_features(docs, n_features=16).collect()}
    pres = {(r["doc_id"], r["bucket"]): r["cnt"]
            for r in hashed_token_features(docs, n_features=16, binary=True).collect()}
    assert set(cnt) == set(pres)
    assert all(v == 1.0 for v in pres.values())
    assert sorted(cnt.values(), reverse=True)[0] == 3.0  # 'dup' multiplicity
    assert sum(cnt.values()) == 4.0
    assert all(0 <= b < 16 for (_d, b) in cnt)
    assert not [k for k in cnt if k[0] == 1]  # empty doc -> no feature rows


def test_hashed_char_ngram_features_presence_and_hash(spark):
    """Trigram presence triples: window extraction, the polynomial
    hash fold matching feature_bucket on the gram string, DISTINCT
    presence, and the <n-chars guard."""
    from opentsdb_aura_spark.operators.quality import (
        FEATURE_HASH_MOD,
        hashed_char_ngram_features,
    )
    d = spark.createDataFrame(
        [(1, "abcd"), (2, "ab"), (3, "aaaa")],
        "doc_id long, text string",
    )
    rows = hashed_char_ngram_features(d, n=3, n_features=64).collect()

    def bucket(g):
        h = 0
        for c in g:
            h = (h * 31 + ord(c)) % FEATURE_HASH_MOD
        return h % 64

    got = {(r["doc_id"], r["bucket"]) for r in rows}
    # doc 1: grams abc, bcd; doc 2: too short → none; doc 3: aaa twice
    # but presence collapses to one row
    assert got == {(1, bucket("abc")), (1, bucket("bcd")), (3, bucket("aaa"))}
    assert all(r["cnt"] == 1.0 for r in rows)


def test_ovr_logreg_scores_argmax_and_spine(spark):
    """Multi-class argmax with alphabetical tie-break, bias-only
    scoring for docs absent from the feature triples, and the weight
    dim check."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators.quality import ovr_logreg_scores
    feats = spark.createDataFrame(
        [(1, 0, 1.0), (1, 1, 1.0), (2, 1, 1.0)],
        "doc_id long, bucket int, cnt double",
    )
    spine = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    models = {
        "aa": ([1.0, 0.0], 0.0),   # margin = x0
        "bb": ([0.0, 1.0], 0.0),   # margin = x1
        "cc": ([0.0, 0.0], 0.5),   # margin = 0.5 everywhere
    }
    got = {
        r["doc_id"]: r
        for r in ovr_logreg_scores(feats, models, spine, n_features=2).collect()
    }
    # doc 1: margins aa=1, bb=1, cc=0.5 → tie aa/bb → alphabetical 'aa'
    assert got[1]["pred_lang"] == "aa"
    # doc 2: aa=0, bb=1, cc=0.5 → 'bb'
    assert got[2]["pred_lang"] == "bb"
    # doc 3: no features → bias-only: aa=0, bb=0, cc=0.5 → 'cc'
    assert got[3]["pred_lang"] == "cc"
    assert got[3]["margin_cc"] == 0.5
    with _pytest.raises(ValueError, match="weights"):
        ovr_logreg_scores(feats, {"x": ([1.0], 0.0)}, spine, n_features=2).collect()


def test_lang_id_trained_seam_recovers_planted_langs(spark):
    """text.lang_id with models= runs the trained path and recovers a
    tiny planted two-language corpus; without models it stays the
    marker heuristic (the fallback seam)."""
    from opentsdb_aura_spark.operators.quality import (
        hashed_char_ngram_features,
        train_logreg_weights,
    )
    from opentsdb_aura_spark.operators.text import lang_id
    rows = []
    for i in range(20):
        lang = "de" if i % 2 == 0 else "en"
        marker = "der die und ist das" if lang == "de" else "the and of to is"
        rows.append((i, lang, f"filler words here {marker}"))
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    feats = hashed_char_ngram_features(d, n=3, n_features=64)
    models = {}
    for L in ("de", "en"):
        labels = d.select("doc_id", (F.col("lang") == L).cast("double").alias("y"))
        models[L] = train_logreg_weights(
            feats, labels, n_features=64, lr=10.0, n_iter=6, center=True
        )
    got = lang_id(d, models=models, n_features=64).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    assert got.where(F.col("pred_lang") != F.col("lang")).count() == 0
    # fallback seam unchanged: heuristic output schema, no models arg
    heur = lang_id(d)
    assert heur.columns == ["doc_id", "pred_lang", "score"]


def test_logreg_l2_shrinks_weights_and_threshold_gates(spark):
    """The two calibration knobs: l2 > 0 strictly shrinks the learned
    weight norm on the same data (ridge), and a higher scoring
    threshold can only turn keeps into rejects (monotone gate).
    Training stays deterministic under l2 (same call → same model)."""
    from opentsdb_aura_spark.operators.quality import (
        hashed_token_features,
        logreg_scores,
        train_logreg_weights,
    )

    rows = [
        (i, ("spam spam eggs" if i % 2 == 0 else "ham words only") + f" t{i}")
        for i in range(24)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    labels = d.select("doc_id", (F.col("doc_id") % 2 == 0).cast("double").alias("y"))
    feats = hashed_token_features(d, n_features=32, binary=True)
    w0, b0 = train_logreg_weights(feats, labels, n_features=32, lr=5.0, n_iter=6, center=True)
    w1, b1 = train_logreg_weights(
        feats, labels, n_features=32, lr=5.0, n_iter=6, center=True, l2=0.1
    )
    w1b, b1b = train_logreg_weights(
        feats, labels, n_features=32, lr=5.0, n_iter=6, center=True, l2=0.1
    )
    assert (w1, b1) == (w1b, b1b)  # deterministic under l2
    assert sum(x * x for x in w1) < sum(x * x for x in w0)  # ridge shrinkage
    # default threshold reproduces margin >= 0; raising it only removes keeps
    s50 = {r["doc_id"]: r for r in logreg_scores(d, w0, b0, n_features=32, binary=True).collect()}
    s90 = {
        r["doc_id"]: r
        for r in logreg_scores(d, w0, b0, n_features=32, binary=True, threshold=0.9).collect()
    }
    assert all((r["margin"] >= 0) == r["pred"] for r in s50.values())
    assert all(s50[k]["pred"] or not s90[k]["pred"] for k in s50)
    assert any(s50[k]["pred"] and not s90[k]["pred"] for k in s50) or all(
        s90[k]["prob"] >= 0.9 for k in s90 if s90[k]["pred"]
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        logreg_scores(d, w0, b0, n_features=32, binary=True, threshold=1.0)


def test_logreg_scores_independent_of_input_partitioning(spark):
    """The margin is a bucket-ascending fold of the doc's packed
    features, so the same docs score to the same doubles whether the
    input arrives hash-partitioned by doc_id (a dropDuplicates output,
    where the planner skips the (doc_id, bucket) exchange) or not."""
    from opentsdb_aura_spark.operators.quality import logreg_scores

    D = 64
    w = [((i * 37) % 11 - 5) / 7.0 for i in range(D)]
    docs = spark.createDataFrame(
        [
            (1, "neue seite der die und ist das"),
            (2, "new page the and of to is"),
            (3, "filler words here der die und ist das the and of to is a b c d e f g h i j k"),
        ],
        "doc_id long, text string",
    )

    def scored(d):
        return sorted(
            (r["doc_id"], r["margin"], r["prob"])
            for r in logreg_scores(d, w, 0.25, n_features=D, binary=True).collect()
        )

    assert scored(docs.dropDuplicates(["doc_id"])) == scored(docs)


def test_lm_kn_scores_order_edges(spark):
    """Generic-order modified KN: short docs surface n_ngrams=0 with
    NULL score; occurrence counts equal len-N+1 per doc; order < 2
    rejected; log-probs are negative (probabilities < 1)."""
    from opentsdb_aura_spark.operators.quality import lm_kn_scores_order

    rows = [
        (1, "a b c d e f g"),          # 3 5-grams
        (2, "a b c d"),                # too short for order 5
        (3, "a b c d e a b c d e"),    # repeated content, 6 5-grams
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in lm_kn_scores_order(d, order=5).collect()}
    assert got[1]["n_ngrams"] == 3
    assert got[2]["n_ngrams"] == 0 and got[2]["avg_logprob"] is None
    assert got[3]["n_ngrams"] == 6
    assert got[1]["avg_logprob"] < 0 and got[3]["avg_logprob"] < 0
    import math

    assert math.isfinite(got[1]["avg_logprob"]) and math.isfinite(got[3]["avg_logprob"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="order"):
        lm_kn_scores_order(d, order=1)


def test_lm_local_scores_merge_duplicate_doc_ids(spark, monkeypatch):
    """Rows sharing a doc_id score as ONE doc on the bounded local
    paths, as the distributed chains' groupBy + distinct id spine do:
    one row, the n-gram counts summed, the mean over all of them."""
    from opentsdb_aura_spark.operators import quality as q

    d = spark.createDataFrame(
        [(1, "a b c a"), (1, "b c a b"), (2, "c a b c")], "doc_id long, text string"
    )

    def run():
        return {
            "order3": sorted(tuple(r) for r in q.lm_kn_scores_order(d, order=3).collect()),
            "bigram": sorted(tuple(r) for r in q.lm_bigram_scores(d).collect()),
        }

    loc = run()
    monkeypatch.setattr(q, "_KN_LOCAL_TOK_CAP", 0)
    dist = run()
    for name in loc:
        assert [r[:2] for r in loc[name]] == [r[:2] for r in dist[name]] == [
            (1, 4 if name == "order3" else 6),
            (2, 2 if name == "order3" else 3),
        ]
        for a, b in zip(loc[name], dist[name]):
            assert abs(a[2] - b[2]) < 1e-12, (name, a, b)


def test_train_ovr_matches_per_class_fits(spark):
    """train_ovr_logreg_weights (all classes sharing each distributed
    pass) reproduces K independent train_logreg_weights fits — same
    zero init, same updates — to float tolerance."""
    from opentsdb_aura_spark.operators.quality import (
        hashed_char_ngram_features,
        train_logreg_weights,
        train_ovr_logreg_weights,
    )

    rows = []
    for i in range(30):
        cls = ["aa", "bb", "cc"][i % 3]
        marker = {"aa": "alpha beta", "bb": "gamma delta", "cc": "omega psi"}[cls]
        rows.append((i, cls, f"common filler {marker} tail{i}"))
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    feats = hashed_char_ngram_features(d, n=3, n_features=32).localCheckpoint(
        eager=False
    )
    classes = ["aa", "bb", "cc"]
    shared = train_ovr_logreg_weights(
        feats, d.select("doc_id", "lang"), classes=classes,
        n_features=32, lr=5.0, n_iter=4, center=True,
    )
    for c in classes:
        labels = d.select("doc_id", (F.col("lang") == c).cast("double").alias("y"))
        w, b = train_logreg_weights(
            feats, labels, n_features=32, lr=5.0, n_iter=4, center=True
        )
        ws, bs = shared[c]
        assert abs(b - bs) < 1e-9
        assert all(abs(x - y) < 1e-9 for x, y in zip(w, ws))
    # l2 parity: the shared-pass ridge matches per-class ridge fits too
    shared_l2 = train_ovr_logreg_weights(
        feats, d.select("doc_id", "lang"), classes=classes,
        n_features=32, lr=5.0, n_iter=4, center=True, l2=0.05,
    )
    for c in classes:
        labels = d.select("doc_id", (F.col("lang") == c).cast("double").alias("y"))
        w, b = train_logreg_weights(
            feats, labels, n_features=32, lr=5.0, n_iter=4, center=True, l2=0.05
        )
        ws, bs = shared_l2[c]
        assert abs(b - bs) < 1e-9
        assert all(abs(x - y) < 1e-9 for x, y in zip(w, ws))


def _kn2_reference(train_tokens, score_tokens_by_doc):
    """Pure-Python order-2 reference of lm_kn_fit + lm_kn_score: the
    modified-discount tower, the unseen-context pass-through, and the
    discounted-unigram + uniform unknown floor, computed from token
    lists — the independent cross-check for the Spark operators."""
    import math
    from collections import Counter

    c2 = Counter()
    for toks in train_tokens:
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] += 1
    c1 = Counter()
    for (_, b) in c2:
        c1[b] += 1

    def discounts(counts):
        n = Counter()
        for c in counts:
            if 1 <= c <= 4:
                n[c] += 1
        y = n[1] / (n[1] + 2 * n[2]) if (n[1] + 2 * n[2]) > 0 else 0.5
        d1 = max(1 - 2 * y * n[2] / n[1], 0.0) if n[1] > 0 else 0.5
        d2 = max(2 - 3 * y * n[3] / n[2], 0.0) if n[2] > 0 else 0.5
        d3 = max(3 - 4 * y * n[4] / n[3], 0.0) if n[3] > 0 else 0.5
        return d1, d2, d3

    dd2 = discounts(c2.values())
    dd1 = discounts(c1.values())
    u = float(len(c2))
    v = float(len({t for toks in train_tokens for t in toks}))
    n1f1 = float(sum(1 for c in c1.values() if c == 1))
    n2f1 = float(sum(1 for c in c1.values() if c == 2))
    n3f1 = float(sum(1 for c in c1.values() if c >= 3))
    gamma1 = (dd1[0] * n1f1 + dd1[1] * n2f1 + dd1[2] * n3f1) / u
    ctx = {}
    for (a, _), c in c2.items():
        tot, n1f, n2f, n3f = ctx.get(a, (0.0, 0.0, 0.0, 0.0))
        ctx[a] = (
            tot + c,
            n1f + (c == 1),
            n2f + (c == 2),
            n3f + (c >= 3),
        )

    def d_of(dd, c):
        return dd[0] if c == 1 else dd[1] if c == 2 else dd[2]

    def p1(w):
        c = float(c1.get(w, 0))
        return max(c - d_of(dd1, c), 0.0) / u + gamma1 * (1.0 / (v + 1.0))

    def p2(a, b):
        if a not in ctx:
            return p1(b)
        tot, n1f, n2f, n3f = ctx[a]
        c = float(c2.get((a, b), 0))
        gamma2 = (dd2[0] * n1f + dd2[1] * n2f + dd2[2] * n3f) / tot
        return max(c - d_of(dd2, c), 0.0) / tot + gamma2 * p1(b)

    def log(p):
        # p = 0 (discounts that free no backoff mass) scores -inf
        return math.log(p) if p > 0 else -math.inf

    out = {}
    for doc_id, toks in score_tokens_by_doc.items():
        lps = [log(p2(a, b)) for a, b in zip(toks, toks[1:])]
        out[doc_id] = (len(lps), sum(lps) / len(lps) if lps else None)
    return out


def test_lm_kn_heldout_matches_python_reference(spark):
    """lm_kn_fit + lm_kn_score at order 2 against the independent
    Python reference, with every OOV path exercised by construction:
    a fully-seen bigram, an unseen bigram under a SEEN context (backoff
    mass only), an unseen CONTEXT (pass-through to the unigram), and
    an OOV word (uniform unknown floor) — all finite, all equal to
    the reference within float tolerance."""
    from opentsdb_aura_spark.operators.quality import lm_kn_fit, lm_kn_score

    train_rows = [
        (1, "a b c a b d a b"),
        (2, "c d e c d a"),
        (3, "e a b e c d"),
    ]
    held_rows = [
        (10, "a b c d"),       # seen bigrams
        (11, "a e"),           # unseen bigram, seen context 'a'
        (12, "zz a"),          # unseen context 'zz' (also OOV word)
        (13, "b qq"),          # OOV continuation word 'qq'
        (14, "solo"),          # too short: n_ngrams 0, NULL score
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    held = spark.createDataFrame(held_rows, "doc_id long, text string")
    model = lm_kn_fit(train, order=2)
    got = {r["doc_id"]: r for r in lm_kn_score(model, held).collect()}

    ref = _kn2_reference(
        [r[1].split() for r in train_rows],
        {r[0]: r[1].split() for r in held_rows},
    )
    import math

    for doc_id, (n, lp) in ref.items():
        assert got[doc_id]["n_ngrams"] == n
        if lp is None:
            assert got[doc_id]["avg_logprob"] is None
        else:
            assert math.isfinite(got[doc_id]["avg_logprob"])
            assert abs(got[doc_id]["avg_logprob"] - lp) < 1e-9, (
                doc_id,
                got[doc_id]["avg_logprob"],
                lp,
            )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="order"):
        lm_kn_fit(train, order=1)


def test_lm_kn_save_load_roundtrip(spark, tmp_path, monkeypatch):
    """lm_kn_save → lm_kn_load → score is float-IDENTICAL to scoring
    from the in-memory fit (Parquet doubles round-trip bit-exactly),
    and the loaded model carries the same tower shapes."""
    from opentsdb_aura_spark.operators.quality import (
        lm_kn_fit,
        lm_kn_load,
        lm_kn_save,
        lm_kn_score,
    )

    train = spark.createDataFrame(
        [(1, "a b c a b d a b"), (2, "c d e c d a"), (3, "e a b e c d")],
        "doc_id long, text string",
    )
    held = spark.createDataFrame(
        [(10, "a b c d zz"), (11, "b qq a")], "doc_id long, text string"
    )
    model = lm_kn_fit(train, order=3)
    path = str(tmp_path / "kn3_model")
    lm_kn_save(model, path)
    loaded = lm_kn_load(spark, path)
    assert loaded["order"] == 3
    # the bounded LOCAL scorer, on the default cap
    loc = {r["doc_id"]: r for r in lm_kn_score(model, held).collect()}
    # distributed chain both sides: in-memory tower (a zero cap
    # inflates a bounded-fit model to its DataFrame shape) vs the
    # Parquet roundtrip — THESE must be bit-exact
    from opentsdb_aura_spark.operators import quality as q

    monkeypatch.setattr(q, "_KN_LOCAL_TOK_CAP", 0)
    mem = {r["doc_id"]: r for r in lm_kn_score(model, held).collect()}
    dsk = {r["doc_id"]: r for r in lm_kn_score(loaded, held).collect()}
    assert set(mem) == set(dsk)
    for i in mem:
        assert mem[i]["n_ngrams"] == dsk[i]["n_ngrams"]
        a, b = mem[i]["avg_logprob"], dsk[i]["avg_logprob"]
        assert (a is None) == (b is None)
        if a is not None:
            assert a == b, (i, a, b)  # bit-exact through Parquet
    # the bounded LOCAL scorer agrees within the documented tolerance
    # (libm log vs Math.log + per-doc avg order — absorbed by every
    # consumer's 1e-9-nudged 4-decimal round)
    assert set(loc) == set(mem)
    for i in mem:
        assert loc[i]["n_ngrams"] == mem[i]["n_ngrams"]
        a, b = loc[i]["avg_logprob"], mem[i]["avg_logprob"]
        assert (a is None) == (b is None)
        if a is not None:
            assert abs(a - b) < 1e-12, (i, a, b)


def test_lm_kn_local_vocab_counts_short_docs(spark, monkeypatch):
    """Local ≡ distributed when a vocabulary word appears ONLY in a doc
    shorter than the model order: the bounded local fit must register
    that doc's tokens, so its vocabulary v (the 1/(v+1) unknown floor)
    equals the distributed count_distinct over every train token."""
    from opentsdb_aura_spark.operators.quality import lm_kn_fit, lm_kn_score

    train = spark.createDataFrame(
        [(1, "a b c a b d a b"), (2, "c d e c d a"), (3, "zz yy")],
        "doc_id long, text string",
    )
    held = spark.createDataFrame(
        [(10, "a b c d qq"), (11, "b zz a yy c")], "doc_id long, text string"
    )
    local_model = lm_kn_fit(train, order=3)
    assert "local" in local_model  # the bounded local path served the fit
    assert local_model["local"]["v"] == 7.0  # a b c d e zz yy
    loc = {r["doc_id"]: r for r in lm_kn_score(local_model, held).collect()}
    from opentsdb_aura_spark.operators import quality as q

    monkeypatch.setattr(q, "_KN_LOCAL_TOK_CAP", 0)
    dist = {
        r["doc_id"]: r for r in lm_kn_score(lm_kn_fit(train, order=3), held).collect()
    }
    assert set(loc) == set(dist) == {10, 11}
    for i in dist:
        assert loc[i]["n_ngrams"] == dist[i]["n_ngrams"]
        a, b = loc[i]["avg_logprob"], dist[i]["avg_logprob"]
        assert a is not None and b is not None
        assert abs(a - b) < 1e-12, (i, a, b)


def test_lm_kn_zero_probability_scores_neg_inf_on_both_paths(spark, monkeypatch):
    """A held-out n-gram of probability exactly 0 scores -inf on the
    local AND the distributed scorer.  Every training word has 3 or 4
    distinct left contexts, so the unigram count-of-counts give
    n1 = n2 = 0, D3+ = 0 and gamma1 = 0: an OOV word keeps no mass.
    Spark's log(0) is NULL, which avg would silently drop while
    n_ngrams still counted it."""
    import math

    from opentsdb_aura_spark.operators import quality as q

    # word -> the words that precede it, one two-token doc per bigram
    left = {"a": "bcd", "b": "acd", "c": "abde", "d": "abce", "e": "abcd"}
    pairs = [(u, w) for w, us in left.items() for u in us]
    train = spark.createDataFrame(
        [(i, f"{u} {w}") for i, (u, w) in enumerate(pairs)], "doc_id long, text string"
    )
    held = spark.createDataFrame(
        [(100, "a zzz"), (101, "a b c"), (102, "zzz yyy a b")],
        "doc_id long, text string",
    )
    ref = _kn2_reference(
        [r["text"].split() for r in train.collect()],
        {r["doc_id"]: r["text"].split() for r in held.collect()},
    )
    assert ref[100] == (1, -math.inf) and ref[102][1] == -math.inf
    local_model = q.lm_kn_fit(train, order=2)
    assert "local" in local_model
    loc = {r["doc_id"]: r for r in q.lm_kn_score(local_model, held).collect()}
    monkeypatch.setattr(q, "_KN_LOCAL_TOK_CAP", 0)
    dist_model = q.lm_kn_fit(train, order=2)
    assert "local" not in dist_model  # the zero cap reaches the fit
    dist = {r["doc_id"]: r for r in q.lm_kn_score(dist_model, held).collect()}
    for got in (loc, dist):
        assert set(got) == set(ref)
        for doc_id, (n, lp) in ref.items():
            assert got[doc_id]["n_ngrams"] == n
            if math.isinf(lp):
                assert got[doc_id]["avg_logprob"] == lp, (doc_id, got[doc_id])
            else:
                assert abs(got[doc_id]["avg_logprob"] - lp) < 1e-9


def test_kn5_heldout_oracle_scores_zero_probability_neg_inf(spark, tmp_path, monkeypatch):
    """The seed-12 benchmark corpus (600 docs) holds out a 5-gram of
    probability exactly 0: doc 400, "query group order merge dup" —
    level 2 has D3+ = 0, so the seen context frees no backoff mass.
    lm_kn_score gives it -inf on both paths; the DuckDB held-out oracle
    must agree (it raised on ln(0)) and tools/check_oracle must compare
    the infinities (it raised OverflowError on int(-inf))."""
    import importlib.util
    import math
    import os

    import duckdb
    import pyarrow.parquet as pq

    from opentsdb_aura_spark.catalog import ORACLES, SPARK_QUERIES
    from opentsdb_aura_spark.operators import quality as q
    from perfbench.gen import corpus

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)

    pq.write_table(corpus(12), str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    res = con.sql(ORACLES["quality_kn5_apply_heldout"])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert [r[2] for r in orows if r[0] == 400] == [-math.inf]
    want = check.norm_rows(ocols, orows)
    for cap in (q._KN_LOCAL_TOK_CAP, 0):
        monkeypatch.setattr(q, "_KN_LOCAL_TOK_CAP", cap)
        df = SPARK_QUERIES["quality_kn5_apply_heldout"](spark, str(tmp_path))
        rows = df.collect()
        assert {r["doc_id"]: r["avg_logprob"] for r in rows}[400] == -math.inf, cap
        assert check.norm_rows(df.columns, rows) == want, cap


def test_no_operator_takes_a_local_cap_parameter():
    """The driver-local twins are chosen by their module constants
    alone: no public operator carries a test-only ``local_cap`` or
    ``driver_threshold`` knob."""
    import importlib
    import inspect
    import pkgutil

    import opentsdb_aura_spark.operators as ops

    hits = []
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ != mod.__name__ or name.startswith("_"):
                continue
            params = inspect.signature(fn).parameters
            if "local_cap" in params or "driver_threshold" in params:
                hits.append(f"{info.name}.{name}")
    assert not hits, hits


def test_artifact_roundtrips(spark, tmp_path):
    """operators/artifacts.py: OvR models, merge tables, and unigram
    vocabularies survive the Parquet roundtrip EXACTLY — the loaded
    artifact is bit-identical to the in-memory one (weights as
    doubles, merges as strings, micro-nat log-probs re-derived from
    integer counts)."""
    from opentsdb_aura_spark.operators.artifacts import (
        merge_pairs,
        merges_load,
        merges_save,
        ovr_model_load,
        ovr_model_save,
        unigram_vocab_load,
        unigram_vocab_save,
    )
    from opentsdb_aura_spark.operators.text import (
        bpe_train,
        unigram_train,
        unigram_train_vocab,
    )

    # OvR model: adversarial doubles (subnormal-ish, negative zero,
    # many-digit) must come back bit-exact
    models = {
        "aa": ([0.1 + 0.2, -3.3333333333333335e-07, 0.0], 1.9999999999999998),
        "bb": ([5e-324, -0.0, 123456.78901234567], -2.718281828459045),
    }
    p1 = str(tmp_path / "ovr")
    ovr_model_save(spark, models, p1)
    loaded = ovr_model_load(spark, p1)
    assert set(loaded) == set(models)
    for cls in models:
        assert loaded[cls][1] == models[cls][1]
        assert loaded[cls][0] == models[cls][0]

    d = spark.createDataFrame(
        [(1, "low lower lowest new newer newest wide wider widest")],
        "doc_id long, text string",
    )
    merges = bpe_train(d, n_merges=4)
    p2 = str(tmp_path / "merges")
    merges_save(merges, p2)
    assert merge_pairs(merges_load(spark, p2)) == merge_pairs(merges)

    vr = unigram_train(d, seed_max_len=3, keep_multi=4, n_rounds=1)
    p3 = str(tmp_path / "uni")
    unigram_vocab_save(vr, p3)
    assert unigram_vocab_load(spark, p3) == unigram_train_vocab(
        d, seed_max_len=3, keep_multi=4, n_rounds=1
    )


def test_ovr_softmax_scores_reject_and_temperature(spark):
    """ovr_softmax_scores: posteriors sum to 1, a confident doc routes
    to its argmax, an ambiguous doc (two equal margins) falls below
    the threshold and lands in the reject class, temperature flattens
    the posterior without moving the argmax, and parameters are
    validated at the boundary."""
    import math

    import pytest as _pytest

    from opentsdb_aura_spark.operators.quality import ovr_softmax_scores

    # hand-built features: doc 1 fires bucket 0 (class aa's feature),
    # doc 2 fires buckets 0 AND 1 equally (ambiguous aa/bb)
    feats = spark.createDataFrame(
        [(1, 0, 1.0), (2, 0, 1.0), (2, 1, 1.0)],
        "doc_id long, bucket int, cnt double",
    )
    spine = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    models = {
        "aa": ([4.0, 0.0], 0.0),
        "bb": ([0.0, 4.0], 0.0),
        "cc": ([0.0, 0.0], -1.0),
    }
    got = {
        r["doc_id"]: r
        for r in ovr_softmax_scores(
            feats, models, spine, n_features=2, threshold=0.6
        ).collect()
    }
    for i in got:
        assert abs(sum(got[i][f"prob_{c}"] for c in models) - 1.0) < 1e-12
    # doc 1: margin aa=4, bb=0, cc=-1 -> p_aa = e^4/(e^4+1+e^-1) ≈ .97
    assert got[1]["pred_lang"] == "aa" and got[1]["prob_aa"] > 0.9
    # doc 2: aa=bb=4 -> p_aa = p_bb ≈ .49 < .6 -> reject
    assert got[2]["pred_lang"] == "und"
    assert abs(got[2]["prob_aa"] - got[2]["prob_bb"]) < 1e-12
    # doc 3 (no features): margins = biases; cc loses to aa/bb ties at 0
    assert got[3]["prob_cc"] < got[3]["prob_aa"] == got[3]["prob_bb"]
    # temperature flattens: doc 1's max posterior drops, argmax stays
    hot = {
        r["doc_id"]: r
        for r in ovr_softmax_scores(
            feats, models, spine, n_features=2, threshold=0.2, temperature=8.0
        ).collect()
    }
    assert hot[1]["pred_lang"] == "aa"
    assert hot[1]["prob_aa"] < got[1]["prob_aa"]
    e4, e0, em1 = math.exp(0.5), math.exp(0.0), math.exp(-0.125)
    assert abs(hot[1]["prob_aa"] - e4 / (e4 + e0 + em1)) < 1e-12
    with _pytest.raises(ValueError, match="temperature"):
        ovr_softmax_scores(feats, models, spine, n_features=2, temperature=0.0)
    with _pytest.raises(ValueError, match="threshold"):
        ovr_softmax_scores(feats, models, spine, n_features=2, threshold=1.0)
    with _pytest.raises(ValueError, match="no models"):
        ovr_softmax_scores(feats, {}, spine, n_features=2)


def test_gd_local_fit_matches_distributed(spark, monkeypatch):
    """The r14 bounded-fit path: under _FIT_LOCAL_ROW_CAP the GD
    trainers collect the packed frame once and iterate in NumPy.
    Pin local ≈ distributed (1e-9, the cross-engine tolerance every
    consumer's nudged rounding absorbs) for the binary and OvR
    trainers, with centering and ridge on."""
    from opentsdb_aura_spark.operators import quality as q

    rows = []
    for i in range(40):
        cls = ["aa", "bb", "cc"][i % 3]
        marker = {"aa": "alpha beta", "bb": "gamma delta", "cc": "omega psi"}[cls]
        rows.append((i, cls, f"common filler {marker} tail{i}"))
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    feats = q.hashed_char_ngram_features(d, n=3, n_features=32).localCheckpoint(
        eager=False
    )
    labels = d.select("doc_id", (F.col("lang") == "aa").cast("double").alias("y"))
    kw = dict(n_features=32, lr=5.0, n_iter=5, center=True, l2=0.05)
    w_loc, b_loc = q.train_logreg_weights(feats, labels, **kw)
    ovr_loc = q.train_ovr_logreg_weights(
        feats, d.select("doc_id", "lang"), classes=["aa", "bb", "cc"], **kw
    )
    monkeypatch.setattr(q, "_FIT_LOCAL_ROW_CAP", 0)
    w_dist, b_dist = q.train_logreg_weights(feats, labels, **kw)
    ovr_dist = q.train_ovr_logreg_weights(
        feats, d.select("doc_id", "lang"), classes=["aa", "bb", "cc"], **kw
    )
    assert abs(b_loc - b_dist) < 1e-9
    assert all(abs(x - y) < 1e-9 for x, y in zip(w_loc, w_dist))
    for c in ["aa", "bb", "cc"]:
        assert abs(ovr_loc[c][1] - ovr_dist[c][1]) < 1e-9
        assert all(abs(x - y) < 1e-9 for x, y in zip(ovr_loc[c][0], ovr_dist[c][0]))
