"""Corpus-curation operators: splits, vocab/TF-IDF, stratified
sampling, connected components, duplicate-cluster retention."""

import pytest
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators import corpus
from opentsdb_aura_spark.operators.corpus import (
    bigram_counts,
    connected_components,
    dedup_keep_best,
    resolve_duplicate_clusters,
    split_assign,
    stratified_sample,
    tfidf_top_terms,
    vocab_stats,
)


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = [
        (i, f"tok{i % 4} common word number {i}", "en" if i % 3 else "de", 20 + i)
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars long")


def test_split_assign_fractions_and_stability(corpus_df):
    out = split_assign(corpus_df).collect()
    by_split = {}
    for r in out:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by_split) <= {"train", "val", "test"}
    assert len(out) == 60
    # train dominates at 80/10/10
    assert len(by_split["train"]) > len(by_split.get("val", set()))
    # pure function of (id, salt): a second run and a subset run agree
    again = {r["doc_id"]: r["split"] for r in split_assign(corpus_df).collect()}
    subset = {
        r["doc_id"]: r["split"]
        for r in split_assign(corpus_df.where(F.col("doc_id") < 10)).collect()
    }
    for did, s in subset.items():
        assert again[did] == s


def test_vocab_and_tfidf(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c")], "doc_id long, text string"
    )
    vocab = {r["token"]: (r["tf"], r["df"]) for r in vocab_stats(df).collect()}
    assert vocab == {"a": (3, 2), "b": (1, 1), "c": (4, 2)}

    top = tfidf_top_terms(df, k=1).collect()
    by_doc = {r["doc_id"]: r["token"] for r in top}
    # doc 1: 'a' tc=2 beats 'b' tc=1 only if idf doesn't flip it;
    # idf(a) = ln(4/3)+1 ≈ 1.288, idf(b) = ln(4/2)+1 ≈ 1.693
    # score(a)=2.575 > score(b)=1.693 → 'a' wins
    assert by_doc[1] == "a"
    assert by_doc[3] == "c"


def test_stratified_sample_exact_counts(corpus_df):
    out = stratified_sample(corpus_df, 0.25, strata_col="lang").collect()
    per = {}
    for r in out:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    # en has 40 docs → ceil(10)=10; de has 20 → ceil(5)=5
    assert per == {"en": 10, "de": 5}
    # deterministic: same sample on re-run
    again = sorted(r["doc_id"] for r in stratified_sample(corpus_df, 0.25, strata_col="lang").collect())
    assert again == sorted(r["doc_id"] for r in out)


def test_stratified_sample_approx_is_narrow(corpus_df):
    res = stratified_sample(corpus_df, 0.5, exact=False)
    assert 10 < res.count() < 50  # binomial around 30
    # the 100 TB path must not shuffle: no Exchange in the plan
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dedup_keep_best_normalized_clusters(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello, World!", 13),
            (2, "hello world", 11),
            (3, "HELLO  world?!", 14),
            (4, "something else", 14),
        ],
        "doc_id long, text string, n_chars long",
    )
    out = {r["doc_id"]: r["kept_doc_id"] for r in dedup_keep_best(df).collect()}
    # cluster {1,2,3}: doc 3 has max n_chars → keeper; 1 and 2 dropped
    assert out == {1: 3, 2: 3}


def test_connected_components_chain(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    labels = {r["doc_id"]: r["label"] for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    # distributed propagation path (driver fast-path disabled) agrees
    monkeypatch.setattr(corpus, "_CC_LOCAL_EDGE_CAP", 0)
    dist = {r["doc_id"]: r["label"] for r in connected_components(pairs).collect()}
    assert dist == labels


def test_connected_components_paths_agree_on_long_chain(spark, monkeypatch):
    """Driver union-find and distributed min-label propagation produce
    identical labels on a graph mixing a long chain (worst case for
    propagation rounds) with cliques and singleton pairs."""
    import random

    rng = random.Random(3)
    edges = [(i, i + 1) for i in range(40)]  # one 41-node chain
    edges += [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]  # clique
    edges += [(200 + 2 * i, 201 + 2 * i) for i in range(20)]  # pairs
    rng.shuffle(edges)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {r["doc_id"]: r["label"] for r in connected_components(pairs).collect()}
    monkeypatch.setattr(corpus, "_CC_LOCAL_EDGE_CAP", 0)
    dist = {
        r["doc_id"]: r["label"] for r in connected_components(pairs, max_iters=50).collect()
    }
    assert fast == dist
    assert all(fast[i] == 0 for i in range(41))
    assert all(fast[100 + i] == 100 for i in range(6))


def test_resolve_duplicate_clusters(spark):
    docs = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 30), (3, "z", 20), (5, "u", 7), (6, "v", 7), (9, "w", 1)],
        "doc_id long, text string, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r["kept_doc_id"] for r in resolve_duplicate_clusters(docs, pairs).collect()}
    # cluster {1,2,3}: 2 wins (n_chars 30); cluster {5,6}: tie → min id 5
    assert out == {1: 2, 3: 2, 6: 5}


def test_bigram_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")], "doc_id long, text string"
    )
    out = [(r["bigram"], r["cnt"]) for r in bigram_counts(df, k=2).collect()]
    assert out == [("a b", 3), ("b a", 1)]


def test_chunk_documents(spark):
    from opentsdb_aura_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "solo")], "doc_id long, text string"
    )
    # non-overlapping: 7 tokens / chunk 3 → chunks of 3, 3, 1
    out = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
           for r in chunk_documents(df, chunk_tokens=3).collect()}
    assert out[(1, 0)] == ("a b c", 3)
    assert out[(1, 1)] == ("d e f", 3)
    assert out[(1, 2)] == ("g", 1)
    assert out[(2, 0)] == ("x y", 2)
    assert out[(3, 0)] == ("solo", 1)
    # overlapping stride: windows share their second half
    ov = {r["chunk_idx"]: r["chunk_text"]
          for r in chunk_documents(df.where(F.col("doc_id") == 1), chunk_tokens=4, stride=2).collect()}
    assert ov[0] == "a b c d"
    assert ov[1] == "c d e f"
    assert ov[2] == "e f g"
    assert ov[3] == "g"


def test_contamination_check(spark):
    from opentsdb_aura_spark.operators.corpus import contamination_check

    probe_text = "alpha beta gamma delta epsilon zeta"  # 4 distinct 3-grams
    docs = spark.createDataFrame(
        [
            (0, probe_text),  # the probe itself (excluded by id)
            (1, "x " + probe_text),  # contains all 4 probe shingles
            (2, "alpha beta gamma nothing else here"),  # 1 of 4 = 0.25
            (3, "totally unrelated text about spark"),
        ],
        "doc_id long, text string",
    )
    probes = docs.where(F.col("doc_id") == 0)
    res = contamination_check(docs, probes, n=3, min_overlap_frac=0.5)
    got = {(r["doc_id"], r["probe_id"]): r["overlap_frac"] for r in res.collect()}
    assert got == {(1, 0): 1.0}
    # probe side must be broadcast — the corpus never shuffles on text
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_shard_assign_deterministic_and_stable(spark, corpus_df):
    from opentsdb_aura_spark.operators.corpus import shard_assign

    out = shard_assign(corpus_df, 4)
    rows = [(r["doc_id"], r["shard_id"], r["shard_pos"]) for r in out.collect()]
    assert len(rows) == 60
    # every shard's positions are 1..n with no gaps
    by_shard = {}
    for _, s, p in rows:
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) <= set(range(4))
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # reproducible
    assert set(rows) == {(r["doc_id"], r["shard_id"], r["shard_pos"])
                         for r in shard_assign(corpus_df, 4).collect()}
    # appending docs never moves an existing doc to another shard and
    # never swaps the relative order of two surviving docs
    bigger = corpus_df.union(
        spark.createDataFrame([(100 + i, "new doc", "en", 30) for i in range(20)],
                              corpus_df.schema)
    )
    after = {r["doc_id"]: (r["shard_id"], r["shard_pos"]) for r in shard_assign(bigger, 4).collect()}
    before = {d: (s, p) for d, s, p in rows}
    for d, (s, _) in before.items():
        assert after[d][0] == s
    for s, ps in by_shard.items():
        old_order = [d for d, (sh, p) in sorted(before.items(), key=lambda kv: kv[1][1]) if sh == s]
        new_order = [d for d, (sh, p) in sorted(after.items(), key=lambda kv: kv[1][1])
                     if sh == s and d in before]
        assert old_order == new_order


def test_token_budget_sample(spark):
    from opentsdb_aura_spark.operators.corpus import token_budget_sample

    rows = [
        (0, "a b c d e", "s1"),      # 5 tokens
        (1, "a b c", "s1"),          # 3 tokens
        (2, "a b", "s1"),            # 2 tokens
        (3, "x " * 50, "s2"),        # 50 tokens (trailing space trimmed)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in token_budget_sample(df, 8, domain_col="source").collect()}
    # s1 greedy by length: doc0 (5) then doc1 (cum 8) fit; doc2 would hit
    # 10.  s2's only doc is 50 tokens — over budget on its own, dropped.
    assert set(out) == {0, 1}
    assert out[0]["cum_tokens"] == 5 and out[1]["cum_tokens"] == 8


def test_bm25_search_ranking(spark):
    import math

    from opentsdb_aura_spark.operators.text import bm25_search

    rows = [
        (0, "data data data filler filler filler"),   # high tf for 'data'
        (1, "data model"),                             # short doc, both terms
        (2, "filler filler filler filler"),            # no query terms
        (3, "model"),                                  # rare term only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_search(df, ["data", "model"], k=4).collect()
    ids = [r["doc_id"] for r in out]
    assert 2 not in ids  # no query term → no score row
    assert ids[0] == 1  # both terms + shortest length wins
    # every score positive and descending
    scores = [r["score"] for r in out]
    assert all(s > 0 for s in scores) and scores == sorted(scores, reverse=True)
    # spot-check doc 3: single term 'model', tf=1, df=2, N=4, dl=1
    n_docs, avgdl = 4.0, (6 + 2 + 4 + 1) / 4.0
    idf = math.log(1 + (n_docs - 2 + 0.5) / (2 + 0.5))
    expect = idf * (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * 1.0 / avgdl))
    got3 = next(r["score"] for r in out if r["doc_id"] == 3)
    assert abs(got3 - expect) < 1e-9


def test_global_shuffle_is_global_rank(spark):
    """Blocked distributed rank == naive global row_number: positions
    form a permutation of [0, N) and agree with a direct sort of the
    md5 keys, across multiple input partitions."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.corpus import global_shuffle

    docs = spark.range(0, 700, 1, 8).select(F.col("id").alias("doc_id"))
    out = global_shuffle(docs, seed="7").collect()
    assert sorted(r["shuffle_pos"] for r in out) == list(range(700))
    naive = sorted(out, key=lambda r: (r["shuffle_key"], r["doc_id"]))
    assert [r["shuffle_pos"] for r in naive] == list(range(700))
    # deterministic across runs
    again = {r["doc_id"]: r["shuffle_pos"] for r in global_shuffle(docs, seed="7").collect()}
    assert all(again[r["doc_id"]] == r["shuffle_pos"] for r in out)


def test_cap_per_domain_matches_naive(spark):
    """Two-phase per-domain top-k == one-shot window top-k, with a hot
    domain spread over many input partitions."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from opentsdb_aura_spark.operators.corpus import cap_per_domain

    rows = [(i, "hot" if i % 4 != 3 else f"d{i % 16}", (i * 37) % 101) for i in range(600)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long").repartition(16)
    got = {
        (r["source"], r["doc_id"]): r["rank"]
        for r in cap_per_domain(docs, 5).collect()
    }
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    naive = {
        (r["source"], r["doc_id"]): r["rank"]
        for r in docs.withColumn("rank", F.row_number().over(w)).where("rank <= 5").collect()
    }
    assert got == naive


def test_dsir_weights_separate_domains(spark):
    """Docs from the target domain score higher than off-domain docs;
    a doc with no bigrams is absent."""
    from opentsdb_aura_spark.operators.corpus import dsir_weights

    tgt = "the theory of general relativity describes gravity as curvature"
    off = "buy cheap pills online now discount offer limited time deal"
    rows = (
        [(i, tgt + f" variant {i}", "wiki") for i in range(10)]
        + [(100 + i, off + f" promo {i}", "spam") for i in range(10)]
        + [(999, "single", "spam")]  # 1 token → no bigrams
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in dsir_weights(docs, "wiki").collect()}
    assert 999 not in out
    wiki_avg = sum(out[i]["weight"] for i in range(10)) / 10
    spam_avg = sum(out[100 + i]["weight"] for i in range(10)) / 10
    assert wiki_avg > 0 > spam_avg
    assert out[0]["n_grams"] == len(tgt.split()) + 1  # bigrams of n+2 tokens


def test_connected_components_string_ids_driver_path(spark):
    """The driver union-find path must accept non-integer doc ids just
    like the distributed loop does."""
    from opentsdb_aura_spark.operators.corpus import connected_components

    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u2", "u3"), ("x1", "x2")], "doc_a string, doc_b string"
    )
    labels = {r["doc_id"]: r["label"] for r in connected_components(pairs).collect()}
    assert labels == {"u1": "u1", "u2": "u1", "u3": "u1", "x1": "x1", "x2": "x1"}


def test_pack_sequences_rejects_string_ids(spark):
    import pytest

    from opentsdb_aura_spark.operators.corpus import pack_sequences

    df = spark.createDataFrame([("a", "one two")], "doc_id string, text string")
    with pytest.raises(ValueError):
        pack_sequences(df, seq_len=8)


# ------------------------------------------------------------- BPE training


def _bpe_reference(word_counts, n_merges, eow="</w>"):
    """Pure-Python Sennrich BPE trainer (independent of the Spark
    implementation): greedy left-to-right merge application, argmax
    with (count DESC, lhs, rhs) tie-break."""
    vocab = {tuple(list(w) + [eow]): c for w, c in word_counts.items()}
    out = []
    for rank in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((rank, a, b, a + b, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            merged, i = [], 0
            for s in syms:
                if merged and merged[-1] == a and s == b:
                    merged[-1] = a + b
                else:
                    merged.append(s)
            new_vocab[tuple(merged)] = new_vocab.get(tuple(merged), 0) + c
        vocab = new_vocab
    return out


def test_bpe_train_matches_reference(spark):
    """bpe_train golden check: the distributed trainer reproduces an
    independent pure-Python BPE on a corpus with ties, repeated
    adjacent symbols ('aaa' greedy case), and multi-round merge
    chains."""
    from opentsdb_aura_spark.operators.text import bpe_train

    texts = [
        "low lower lowest low low",
        "newest newer new news",
        "aaa aa aaaa banana bandana",
        "lower newest banana aaa",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    counts = {}
    for t in texts:
        for w in t.lower().split():
            counts[w] = counts.get(w, 0) + 1
    want = _bpe_reference(counts, 12)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, n_merges=12).orderBy("rank").collect()
    ]
    assert got == want, (got, want)


def test_bpe_train_greedy_and_exhaustion(spark):
    """'aaaa' under merge (a,a) must yield [aa, aa] (greedy pairs, not
    overlapping), and training stops early when no pairs remain."""
    from opentsdb_aura_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(0, "aaaa")], "doc_id long, text string")
    rows = bpe_train(docs, n_merges=50).orderBy("rank").collect()
    got = [(r["lhs"], r["rhs"], r["pair_count"]) for r in rows]
    # round 0: (a,a)x3 -> [aa, aa, </w>] (greedy, non-overlapping);
    # round 1: (aa,</w>) and (aa,aa) tie at 1 — binary order picks
    # (aa,</w>) ('<' 0x3C < 'a' 0x61) -> [aa, aa</w>];
    # round 2: (aa, aa</w>); then no pairs remain -> early stop at 3 rows
    assert got == [("a", "a", 3), ("aa", "</w>", 1), ("aa", "aa</w>", 1)]


def test_bpe_apply_matches_reference_segmentation(spark):
    """bpe_apply golden check: per-doc subword counts equal segmenting
    each word with the reference trainer's final vocabulary."""
    from opentsdb_aura_spark.operators.text import bpe_apply, bpe_train

    texts = ["low lower lowest", "newest newer new", "low low banana", ""]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [
        (r["lhs"], r["rhs"]) for r in bpe_train(docs, n_merges=6).orderBy("rank").collect()
    ]

    def segment(word):
        syms = list(word) + ["</w>"]
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return len(syms)

    want = {
        i: sum(segment(w) for w in t.lower().split()) for i, t in enumerate(texts)
    }
    got = {
        r["doc_id"]: r["n_subwords"] for r in bpe_apply(docs, merges).collect()
    }
    assert got == want  # doc 3 is empty -> 0, not a dropped row


def test_pagerank_dangling_and_conservation(spark):
    """PageRank semantics the fixture's uniform-degree graph can't
    exercise: dangling nodes redistribute mass uniformly, ranks sum to
    1 every iteration, and a sink-heavy star concentrates rank on the
    hub."""
    from opentsdb_aura_spark.operators.corpus import pagerank

    # star: 1..4 all point at 0; node 0 is DANGLING (no out-edges)
    edges = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src long, dst long")
    out = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=10).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9        # mass conserved
    assert out[0] > 0.5                                # hub dominates
    leaves = [out[i] for i in range(1, 5)]
    assert max(leaves) - min(leaves) < 1e-12           # symmetric leaves
    # empty edge list: empty result, no crash
    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty, n_iter=2).count() == 0


def test_harmonic_centrality_exact(spark):
    """Hand-computed radius-bounded harmonic centrality on a path
    graph a→b→c→d plus x→d: H(d) = 1 (c) + 1 (x) + 1/2 (b) + 1/3 (a);
    unreached nodes report 0 with a row; a shorter radius truncates
    the sum; self-loops and duplicate edges are inert."""
    from opentsdb_aura_spark.operators.corpus import harmonic_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "d"),
         ("a", "b"), ("d", "d")],  # dup edge + self-loop: both inert
        "src string, dst string",
    )
    out = {r["node"]: (r["harmonic"], r["n_within"])
           for r in harmonic_centrality(edges, max_dist=3).collect()}
    assert out["a"] == (0.0, 0) and out["x"] == (0.0, 0)
    assert out["b"] == (1.0, 1)
    assert out["c"] == (1.5, 2)
    assert abs(out["d"][0] - (1 + 1 + 0.5 + 1 / 3)) < 1e-12 and out["d"][1] == 4
    # radius 1 truncates: d sees only its direct endorsers c and x
    r1 = {r["node"]: r["harmonic"]
          for r in harmonic_centrality(edges, max_dist=1).collect()}
    assert r1["d"] == 2.0 and r1["b"] == 1.0
    # a cycle never yields self-distances: 2-cycle nodes see ONLY each other
    cyc = spark.createDataFrame([("p", "q"), ("q", "p")], "src string, dst string")
    cy = {r["node"]: (r["harmonic"], r["n_within"])
          for r in harmonic_centrality(cyc, max_dist=3).collect()}
    assert cy == {"p": (1.0, 1), "q": (1.0, 1)}
    # a node whose ONLY edge is a self-loop still exists: row with 0
    lonely = spark.createDataFrame(
        [("s", "s"), ("a", "b")], "src string, dst string"
    )
    lo = {r["node"]: r["harmonic"]
          for r in harmonic_centrality(lonely, max_dist=2).collect()}
    assert lo == {"s": 0.0, "a": 0.0, "b": 1.0}
    import pytest
    with pytest.raises(ValueError):
        harmonic_centrality(lonely, max_dist=0)
    # empty edge list: empty result, no crash
    empty = spark.createDataFrame([], "src string, dst string")
    assert harmonic_centrality(empty, max_dist=2).count() == 0
    # NULL endpoints are no node at all: no NULL row in the output
    nl = spark.createDataFrame(
        [("a", None), (None, "b"), ("a", "b")], "src string, dst string"
    )
    got = {r["node"] for r in harmonic_centrality(nl, max_dist=2).collect()}
    assert got == {"a", "b"}


def test_hyperball_harmonic_star_and_validation(spark):
    """HyperBall tracks the exact operator on a 50-leaf star (the hub's
    incoming ball is all 50 leaves; leaves have none), the hub is the
    top node by estimated centrality, and the register width must be a
    power of two."""
    import pytest

    from opentsdb_aura_spark.operators.corpus import hyperball_harmonic

    edges = spark.createDataFrame(
        [(f"leaf{i}", "hub") for i in range(50)], "src string, dst string"
    )
    rows = hyperball_harmonic(edges, max_dist=3).collect()
    out = {r["node"]: (r["harmonic"], r["ball_est"]) for r in rows}
    hub_h, hub_b = out["hub"]
    assert abs(hub_b - 50) / 50 < 0.2          # ball estimate near truth
    assert abs(hub_h - 50) / 50 < 0.2          # all at distance 1
    assert all(h == 0.0 for n, (h, _) in out.items() if n != "hub")
    assert max(out, key=lambda n: out[n][0]) == "hub"
    with pytest.raises(ValueError):
        hyperball_harmonic(edges, m=48)
    with pytest.raises(ValueError):
        hyperball_harmonic(edges, m=8)
    with pytest.raises(ValueError):
        hyperball_harmonic(edges, max_dist=0)
    # self-loop-only node: parity with the exact operator (0-row)
    lonely = hyperball_harmonic(
        spark.createDataFrame([("s", "s"), ("a", "b")], "src string, dst string"),
        max_dist=2,
    )
    assert {r["node"] for r in lonely.collect()} == {"s", "a", "b"}
    # empty edge list: empty result, no crash
    empty = spark.createDataFrame([], "src string, dst string")
    assert hyperball_harmonic(empty, max_dist=2).count() == 0
    # NULL endpoints route to the distributed chain (pandas would
    # float-coerce them); exact-operator parity on the node universe
    nl = hyperball_harmonic(
        spark.createDataFrame(
            [("a", None), (None, "b"), ("a", "b")], "src string, dst string"
        ),
        max_dist=2,
    )
    assert {r["node"] for r in nl.collect()} == {"a", "b"}


def test_hyperball_local_matches_distributed(spark, monkeypatch):
    """The bounded local register loop is value-equal to the
    distributed chain (_HB_LOCAL_EDGE_CAP = 0) on a mixed graph — same
    registers (engine xxhash64), same estimate fold, same per-round
    deltas; the only tolerated drift is libm-vs-Math.log ulps in the
    linear-counting branch."""
    from opentsdb_aura_spark.operators import corpus
    from opentsdb_aura_spark.operators.corpus import hyperball_harmonic

    rows = [(i, (i * 7 + 1) % 40) for i in range(40)]
    rows += [(i, (i * 13 + 2) % 40) for i in range(40)]
    rows += [(5, 5), (7, 7)]  # self-loops: node exists, edge dropped
    edges = spark.createDataFrame(rows, "src long, dst long")
    loc = {r["node"]: r for r in hyperball_harmonic(edges, max_dist=3).collect()}
    monkeypatch.setattr(corpus, "_HB_LOCAL_EDGE_CAP", 0)
    dist = {r["node"]: r for r in hyperball_harmonic(edges, max_dist=3).collect()}
    assert set(loc) == set(dist) and len(loc) == 40
    for n in loc:
        for c in ("harmonic", "ball_est", "sum_dist_est"):
            a, b = loc[n][c], dist[n][c]
            assert abs(a - b) <= 1e-9 * max(1.0, abs(b)), (n, c, a, b)


def test_pagerank_weighted_and_host_graph(spark):
    """Weighted PageRank splits rank proportionally to edge weight
    (hand-computed 3-node chain); zero-weight edges carry no mass and
    a node left with only zero-weight out-edges dangles; host_graph
    lowercases, strips ports, drops self-loops, counts links."""
    from opentsdb_aura_spark.operators.corpus import host_graph, pagerank

    # a -> b (w=3), a -> c (w=1): after 1 iteration from uniform 1/3,
    # b = 0.15/3 + 0.85*( (1/3)*(3/4) + dangling (b,c mass=2/3)/3 )
    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0)], "src string, dst string, w double"
    )
    out = {r["node"]: r["rank"]
           for r in pagerank(edges, n_iter=1, weight_col="w").collect()}
    dang = (2 / 3) / 3  # b and c have no out-edges; their mass spreads
    assert abs(out["b"] - (0.05 + 0.85 * ((1 / 3) * 0.75 + dang))) < 1e-12
    assert abs(out["c"] - (0.05 + 0.85 * ((1 / 3) * 0.25 + dang))) < 1e-12
    assert abs(sum(out.values()) - 1.0) < 1e-9

    # zero-weight edge == absent edge: src of ONLY zero-weight edges dangles
    z = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 0.0)], "src string, dst string, w double"
    )
    wz = {r["node"]: r["rank"] for r in pagerank(z, n_iter=3, weight_col="w").collect()}
    nz = {r["node"]: r["rank"] for r in pagerank(
        spark.createDataFrame([("a", "b")], "src string, dst string"), n_iter=3
    ).collect()}
    assert wz == nz

    hg = {(r["src_host"], r["dst_host"]): r["n_links"] for r in host_graph(
        spark.createDataFrame(
            [
                ("http://A.example/p1", "http://b.example:8080/x"),
                ("http://a.example/p2", "HTTP://B.EXAMPLE/y"),
                ("http://a.example/p3", "http://a.example/p4"),  # self-loop drops
                ("relative/no-host", "http://b.example/z"),      # no src host drops
            ],
            "src_url string, dst_url string",
        )
    ).collect()}
    assert hg == {("a.example", "b.example"): 2}


def test_unigram_viterbi_exactness_and_tiebreak(spark):
    """The unigram Viterbi encoder's contracts: integer micro-nat
    scores make the argmax exact; ties resolve (score, FEWEST pieces,
    lexicographic seg); chars cover out-of-vocab stretches; and a
    higher-prob multi-char piece beats the char path."""
    from opentsdb_aura_spark.operators.text import _USEG_SEP, _viterbi_expr

    from pyspark.sql import functions as F

    # vocab: 'ab' scores better than 'a'+'b' (−1 vs −4−4)
    vocab = {"a": -4, "b": -4, "c": -10, "ab": -1, "bc": -8}
    df = spark.createDataFrame([("abc",), ("cab",), ("aaaa",)], "w string")
    rows = {r["w"]: r["best"] for r in df.select(
        "w", _viterbi_expr(F.col("w"), vocab, 2).alias("best")).collect()}
    # abc: ab|c (−11) beats a|bc (−12) and a|b|c (−18)
    assert rows["abc"]["score"] == -11
    assert rows["abc"]["seg"] == _USEG_SEP + "ab" + _USEG_SEP + "c"
    # cab: c|ab = −11
    assert rows["cab"]["seg"] == _USEG_SEP + "c" + _USEG_SEP + "ab"
    assert rows["aaaa"]["n"] == 4  # only chars available
    # exact tie: 'xy' = −8 equals 'x'+'y' = −8 → FEWER pieces wins
    tie = {"x": -4, "y": -4, "xy": -8}
    r = spark.createDataFrame([("xy",)], "w string").select(
        _viterbi_expr(F.col("w"), tie, 2).alias("b")).collect()[0]["b"]
    assert (r["score"], r["n"]) == (-8, 1)
    # equal score AND n: lexicographically smallest seg wins
    tie2 = {"x": -4, "y": -6, "xy": -5, "yx": -5, "xyx": -20}
    r2 = spark.createDataFrame([("xyxy",)], "w string").select(
        _viterbi_expr(F.col("w"), tie2, 3).alias("b")).collect()[0]["b"]
    # xy|xy (−10) vs x|yx|y (−15): score picks xy|xy
    assert r2["seg"] == _USEG_SEP + "xy" + _USEG_SEP + "xy"


def test_unigram_train_prune_and_coverage(spark):
    """Training invariants: single chars survive pruning even at zero
    final count; multi-char pieces prune to top-K by (count, lex);
    unigram_apply counts = Viterbi piece count × word multiplicity."""
    from opentsdb_aura_spark.operators.text import (
        unigram_apply,
        unigram_train,
        unigram_train_vocab,
    )

    docs = spark.createDataFrame(
        [(0, "aaab aaab aaab cd"), (1, "aaab cd cd")],
        "doc_id long, text string",
    )
    out = {r["piece"]: r["cnt"] for r in unigram_train(
        docs, seed_max_len=3, keep_multi=2, n_rounds=2).collect()}
    # every corpus char kept, even when a multi-char piece absorbs it
    for ch in "abcd":
        assert ch in out
    # at most 2 multi-char survivors
    assert sum(1 for p in out if len(p) > 1) <= 2
    # counts are non-negative integers that sum over the corpus pieces
    assert all(isinstance(c, int) and c >= 0 for c in out.values())
    vocab = unigram_train_vocab(docs, seed_max_len=3, keep_multi=2, n_rounds=2)
    got = {r["doc_id"]: r["n_pieces"] for r in unigram_apply(
        docs, vocab, max_piece_len=3).collect()}
    # doc 0 = 4 words, doc 1 = 3 words; each word segments to >= 1 piece
    assert got[0] >= 4 and got[1] >= 3


def test_unigram_apply_unknown_char_coverage(spark):
    """Applying a trained vocab to NEW text with never-seen characters
    must stay total: the unknown char scores as an <unk> piece below
    every real piece instead of poisoning the DP, and known pieces
    around it still win."""
    from opentsdb_aura_spark.operators.text import _USEG_SEP, _viterbi_expr, unigram_apply

    from pyspark.sql import functions as F

    vocab = {"a": -4, "b": -4, "ab": -1}
    r = spark.createDataFrame([("aZb",)], "w string").select(
        _viterbi_expr(F.col("w"), vocab, 2).alias("b")).collect()[0]["b"]
    assert r["n"] == 3 and r["seg"] == _USEG_SEP.join(["", "a", "Z", "b"])
    assert r["score"] == -4 + (-4 - 1_000_000) + -4
    docs = spark.createDataFrame([(0, "ab aZb")], "doc_id long, text string")
    got = unigram_apply(docs, vocab, max_piece_len=2).collect()[0]
    assert got["n_pieces"] == 1 + 3


def test_unigram_apply_empty_doc_surfaces_zero(spark):
    """A token-less document reports n_pieces = 0 instead of silently
    vanishing (the lm_bigram_scores contract); mismatched weights dim
    is rejected loudly by logreg_scores."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators.quality import logreg_scores
    from opentsdb_aura_spark.operators.text import unigram_apply

    docs = spark.createDataFrame(
        [(0, "ab ab"), (1, ""), (2, "   ")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_pieces"]
           for r in unigram_apply(docs, {"a": -2, "b": -2, "ab": -1}, max_piece_len=2).collect()}
    assert got == {0: 2, 1: 0, 2: 0}
    with _pytest.raises(ValueError, match="SAME feature dim"):
        logreg_scores(docs, [0.0] * 8, 0.0, n_features=16)


def test_unigram_viterbi_matches_python_reference(spark):
    """Randomized cross-check of the Catalyst DP fold against an
    independent Python Viterbi with the same (score, fewest-pieces,
    lexicographic) tie-break: 200 seeded random words over a random
    vocab, ONE Spark job.  Also pins the reconstruction invariant —
    the winning segmentation's pieces concatenate back to the word."""
    import random

    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.text import _USEG_SEP, _viterbi_expr

    rng = random.Random(12)
    alphabet = "abcd"
    pieces = {"a", "b", "c", "d"}
    while len(pieces) < 14:
        pieces.add("".join(rng.choice(alphabet) for _ in range(rng.randint(2, 3))))
    vocab = {p: -rng.randint(1, 50) for p in sorted(pieces)}
    words = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
             for _ in range(200)]

    def ref(word):
        best = [(0, 0, "")] + [None] * len(word)
        for i in range(1, len(word) + 1):
            cands = []
            for ln in range(1, min(3, i) + 1):
                piece = word[i - ln:i]
                if piece in vocab and best[i - ln] is not None:
                    s, n, seg = best[i - ln]
                    cands.append((s + vocab[piece], n + 1, seg + _USEG_SEP + piece))
            best[i] = min(cands, key=lambda c: (-c[0], c[1], c[2]))
        return best[len(word)]

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: (r["b"]["score"], r["b"]["n"], r["b"]["seg"])
           for r in df.select("w", _viterbi_expr(F.col("w"), vocab, 3).alias("b")).collect()}
    for w in set(words):
        assert got[w] == ref(w), (w, got[w], ref(w))
        assert got[w][2].replace(_USEG_SEP, "") == w  # reconstruction


def test_wordpiece_likelihood_beats_raw_count(spark):
    """The WordPiece rule merges rare-but-cohesive pairs before
    frequent-but-independent ones: 'qz' occurs only inside 'qz' words
    (count 4, both symbols rare) while 'a'+'b' co-occur 6 times but
    each also appears independently many times — BPE picks (a,b)
    first, WordPiece picks the cohesive pair."""
    from opentsdb_aura_spark.operators.text import bpe_train, wordpiece_train

    #   counts WITH the </w> marker: (a,</w>) ties at 10 with (x,a),
    #   (b,x), (x,</w>) -> BPE tie-break picks (a,</w>);
    #   (q,z) count 4 but q and z occur NOWHERE else ->
    #   score 4/(4*4)=0.25 dwarfs every frequent pair's
    text = " ".join(["ab"] * 6 + ["qz"] * 4 + ["xa"] * 10 + ["bx"] * 10)
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    bpe_first = bpe_train(d, n_merges=1).collect()[0]
    wp_first = wordpiece_train(d, n_merges=1).collect()[0]
    assert (bpe_first["lhs"], bpe_first["rhs"]) == ("a", "</w>")  # raw-count argmax
    assert (wp_first["lhs"], wp_first["rhs"]) == ("q", "z")       # cohesion argmax
    assert wp_first["score"] == pytest.approx(4 / (4 * 4))


def test_tokenizer_appliers_merge_duplicate_doc_ids(spark):
    """The three appliers share one per-doc tail on the DISTINCT doc-id
    spine: a doc id that occurs on two rows comes back once with the
    merged count, and a token-less doc reports 0."""
    from opentsdb_aura_spark.operators.text import (
        bpe_apply,
        unigram_apply,
        wordpiece_greedy_apply,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab"), (1, "ab"), (2, "")], "doc_id long, text string"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(bpe_apply(docs, [("a", "b")])) == [(1, 6), (2, 0)]
    vocab = ["a", "b", "</w>", "ab</w>"]
    assert rows(wordpiece_greedy_apply(docs, vocab)) == [(1, 3, 0), (2, 0, 0)]
    assert rows(unigram_apply(docs, {"a": -2, "b": -2, "ab": -1}, max_piece_len=2)) == [
        (1, 3),
        (2, 0),
    ]


def test_wordpiece_greedy_apply_longest_match_and_unk(spark):
    """Greedy longest-match-first: with vocab {a, b, ab, ab</w>, </w>}
    the word 'abab' segments [ab, ab</w>] (2 pieces — the longest
    candidate wins at every position, and ab</w> beats ab + </w>);
    a word with a char outside the vocab collapses to ONE [UNK]
    piece (the all-or-nothing rule)."""
    from opentsdb_aura_spark.operators.text import wordpiece_greedy_apply

    d = spark.createDataFrame(
        [(1, "abab ab a"), (2, "abq")], "doc_id long, text string"
    )
    vocab = ["a", "b", "ab", "ab</w>", "</w>"]
    got = {r["doc_id"]: r for r in wordpiece_greedy_apply(d, vocab).collect()}
    # doc 1: abab -> [ab, ab</w>] = 2; ab -> [ab</w>] = 1; a -> [a, </w>] = 2
    assert got[1]["n_subwords"] == 2 + 1 + 2
    assert got[1]["n_unk_words"] == 0
    # doc 2: 'abq' hits unmatchable 'q' -> whole word one [UNK] piece
    assert got[2]["n_subwords"] == 1 and got[2]["n_unk_words"] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty vocabulary"):
        wordpiece_greedy_apply(d, [])


def test_wordpiece_pieces_continuation_convention(spark):
    """wordpiece_pieces emits BERT's ## continuation convention over
    the SAME segmentation the counting apply produces: first piece
    bare, continuations ##-prefixed, unmatchable words collapsing to
    the single piece [UNK]; piece counts agree with
    wordpiece_greedy_apply on every word."""
    from opentsdb_aura_spark.operators.text import (
        wordpiece_greedy_apply,
        wordpiece_pieces,
    )

    d = spark.createDataFrame(
        [(1, "abab ab a"), (2, "abq")], "doc_id long, text string"
    )
    vocab = ["a", "b", "ab", "ab</w>", "</w>"]
    got = {r["w"]: r for r in wordpiece_pieces(d, vocab).collect()}
    assert got["abab"]["pieces"] == "ab ##ab</w>"
    assert got["abab"]["n_pieces"] == 2 and not got["abab"]["is_unk"]
    assert got["ab"]["pieces"] == "ab</w>"
    assert got["a"]["pieces"] == "a ##</w>"  # eow matched as its own piece
    assert got["abq"]["pieces"] == "[UNK]"
    assert got["abq"]["n_pieces"] == 1 and got["abq"]["is_unk"]
    # the segmentation is the SAME fold as the counting apply
    counts = {r["doc_id"]: r for r in wordpiece_greedy_apply(d, vocab).collect()}
    assert counts[1]["n_subwords"] == sum(
        got[w]["n_pieces"] for w in ("abab", "ab", "a")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty vocabulary"):
        wordpiece_pieces(d, [])


def test_bloom_decontaminate_planted(spark):
    """Probe docs drawn from the corpus must score flag_frac 1.0 (no
    false negatives — structural), a half-overlapping doc must flag
    exactly its shared grams modulo FPs (>= the true fraction, never
    below), and a disjoint-vocab doc can only carry the filter's FP
    rate."""
    from opentsdb_aura_spark.operators.corpus import bloom_decontaminate

    bench = "alpha beta gamma delta epsilon zeta eta theta"
    half = "alpha beta gamma delta qqq www eee rrr"
    clean = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, bench), (2, half), (3, clean)], "doc_id long, text string"
    )
    probes = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    got = {r.doc_id: r for r in bloom_decontaminate(
        docs, probes, n=3, n_bits=63 * 1024, k=4, threshold=0.5
    ).collect()}
    assert got[1].flag_frac == 1.0 and got[1].contaminated
    # half shares its first two 3-grams ("alpha beta gamma",
    # "beta gamma delta") of six
    assert got[2].n_grams == 6 and got[2].n_flagged >= 2
    # 8 clean grams against a 64 Kbit filter holding 6 grams: the FP
    # chance per gram is ~(6*4/64512)^4 ~ 1e-14 — deterministic zero
    # for this fixed fixture
    assert got[3].n_flagged == 0 and not got[3].contaminated


def test_temperature_mixture_limits(spark):
    """alpha = 1 reduces to uniform down-sampling (every domain keeps
    target_frac); alpha = 0 targets EQUAL doc counts per domain, so a
    domain smaller than the equal share keeps everything (rate capped
    at 1) and large domains keep ~share/n."""
    from opentsdb_aura_spark.operators.corpus import temperature_mixture

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    d = spark.createDataFrame(rows, "doc_id long, source string")

    r1 = {r.dom: r for r in temperature_mixture(d, alpha=1.0, target_frac=0.5).collect()}
    assert abs(r1["big"].keep_rate - 0.5) < 1e-12
    assert abs(r1["small"].keep_rate - 0.5) < 1e-12

    r0 = {r.dom: r for r in temperature_mixture(d, alpha=0.0, target_frac=0.5).collect()}
    # q = 1/2 each, T = 50: big keeps 25/80, small capped at min(1, 25/20) = 1
    assert abs(r0["big"].keep_rate - 25.0 / 80.0) < 1e-12
    assert r0["small"].keep_rate == 1.0 and r0["small"].n_kept == 20

    # flattening is monotone: alpha 0.3 rate for the small domain is
    # >= the alpha 1.0 rate, and vice versa for the big one
    r3 = {r.dom: r for r in temperature_mixture(d, alpha=0.3, target_frac=0.5).collect()}
    assert r3["small"].keep_rate > r1["small"].keep_rate
    assert r3["big"].keep_rate < r1["big"].keep_rate


def test_temperature_mixture_token_weighted(spark):
    """weight_col: equal DOC counts but skewed token mass — doc-count
    mode sees symmetric domains (equal rates), token mode up-samples
    the light-token domain (XLM-R's rule is over token mass)."""
    from opentsdb_aura_spark.operators.corpus import temperature_mixture

    rows = [(i, "big", 100) for i in range(50)] + [
        (50 + i, "small", 10) for i in range(50)
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")

    by_docs = {r.dom: r.keep_rate for r in temperature_mixture(
        d, alpha=0.3, target_frac=0.5
    ).collect()}
    assert abs(by_docs["big"] - by_docs["small"]) < 1e-12  # symmetric

    by_tok = {r.dom: r.keep_rate for r in temperature_mixture(
        d, alpha=0.3, target_frac=0.5, weight_col="n_tokens"
    ).collect()}
    assert by_tok["small"] > by_tok["big"]
    # closed form: masses 5000/500, q = m^.3/sum, T = 2750,
    # rate_i = min(1, q_i*T/m_i)
    import math
    pw = [math.pow(5000.0, 0.3), math.pow(500.0, 0.3)]
    tot = (0.0 + pw[0]) + pw[1]
    t_w = 0.5 * 5500.0
    assert abs(by_tok["big"] - min(1.0, (pw[0] / tot) * t_w / 5000.0)) < 1e-12
    assert abs(by_tok["small"] - min(1.0, (pw[1] / tot) * t_w / 500.0)) < 1e-12


def test_temperature_mixture_drops_null_domains(spark):
    from opentsdb_aura_spark.operators.corpus import temperature_mixture

    d = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "doc_id long, source string"
    )
    rows = temperature_mixture(d, alpha=0.5, target_frac=1.0).collect()
    assert sorted(r.dom for r in rows) == ["a", "b"]
    # target_frac 1.0 -> every non-null doc kept
    assert {r.dom: r.n_kept for r in rows} == {"a": 2, "b": 1}


def test_tokenizer_train_local_fold_matches_distributed(spark, monkeypatch):
    """The r14 scale-adaptive local fit: under _TRAIN_LOCAL_CAP the
    BPE/WordPiece merge loops collect the word table once and fold
    driver-side.  Pin local ≡ distributed row-for-row on a corpus with
    ties, repeated-symbol greedy cases, AND non-ASCII words including
    an astral-plane char (U+1D49E) — the UTF-8-byte argmax tie-break
    must match the engine's UTF8String order, which differs from
    Python's code-point order exactly in that range."""
    from opentsdb_aura_spark.operators import text as text_mod

    texts = [
        "low lower lowest low low",
        "aaa aa aaaa banana bandana",
        "ſs ſſs s\U0001D49Es \U0001D49E\U0001D49E été étés",
        "lower banana aaa été",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def rows(df, cols):
        return [tuple(r[c] for c in cols) for r in df.orderBy("rank").collect()]

    bcols = ["rank", "lhs", "rhs", "merged", "pair_count"]
    wcols = bcols + ["score"]
    local_b = rows(text_mod.bpe_train(docs, n_merges=10), bcols)
    local_w = rows(text_mod.wordpiece_train(docs, n_merges=10), wcols)
    monkeypatch.setattr(text_mod, "_TRAIN_LOCAL_CAP", 0)
    dist_b = rows(text_mod.bpe_train(docs, n_merges=10), bcols)
    dist_w = rows(text_mod.wordpiece_train(docs, n_merges=10), wcols)
    assert local_b == dist_b, (local_b, dist_b)
    assert local_w == dist_w, (local_w, dist_w)


def test_unigram_train_local_fit_matches_distributed(spark, monkeypatch):
    """The r14 bounded-fit path for the unigram-LM trainer: under
    _TRAIN_LOCAL_CAP the seed top-K and both hard-EM rounds run
    driver-side (integer micro-nat Viterbi — exact).  Pin local ≡
    distributed row-for-row, non-ASCII included."""
    from opentsdb_aura_spark.operators import text as text_mod

    texts = [
        "low lower lowest low low",
        "aaa aa aaaa banana bandana",
        "été étés ſſs lower banana",
        "internationalization nation nationalization",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def rows(df):
        return [(r["piece"], r["cnt"], r["prob"]) for r in df.orderBy("piece").collect()]

    local = rows(text_mod.unigram_train(docs, seed_max_len=4, keep_multi=6, n_rounds=2))
    monkeypatch.setattr(text_mod, "_TRAIN_LOCAL_CAP", 0)
    dist = rows(text_mod.unigram_train(docs, seed_max_len=4, keep_multi=6, n_rounds=2))
    assert local == dist, (local, dist)
