"""Unit tests for the distributed suffix-array family
(operators/suffix.py): the global dense-rank primitive, the
prefix-doubling suffix array, adjacent LCP, and the per-doc
duplicated-span rollup.  The catalog twins (dedup_suffix_array,
dedup_suffix_spans) pin the same chain against DuckDB over the
fixture corpus; these cover the hand-checkable semantics and the
edge cases the fixture can't force."""

import pytest
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators import suffix
from opentsdb_aura_spark.operators.suffix import (
    adjacent_lcp,
    duplicated_spans,
    global_dense_rank,
    suffix_array,
)


def test_global_dense_rank_matches_window_semantics(spark):
    # 1000 rows, heavy ties -> dense rank must match the single-window
    # definition exactly, with ranks dense from 1
    df = spark.range(1000).select(
        (F.col("id") * 37 % 10).alias("a"), (F.col("id") % 7).alias("b")
    )
    got = global_dense_rank(df, ["a", "b"], out="r").collect()
    keys = sorted({(r.a, r.b) for r in got})
    expect = {k: i + 1 for i, k in enumerate(keys)}
    assert all(r.r == expect[(r.a, r.b)] for r in got)
    assert {r.r for r in got} == set(range(1, len(keys) + 1))


def test_global_dense_rank_more_partitions_than_keys(spark):
    # fewer distinct keys than requested partitions: empty ranges must
    # not shift the offsets
    df = spark.range(100).select((F.col("id") % 3).alias("k"))
    got = global_dense_rank(df, ["k"], out="r", num_partitions=16).collect()
    assert {(r.k, r.r) for r in got} == {(0, 1), (1, 2), (2, 3)}


def test_suffix_array_known_order(spark):
    df = spark.createDataFrame([(1, "banana")], "doc_id long, text string")
    got = {r.off: r.rank for r in suffix_array(df, init_prefix=2).collect()}
    # suffixes of banana sorted: a(5) ana(3) anana(1) banana(0) na(4) nana(2)
    assert got == {5: 1, 3: 2, 1: 3, 0: 4, 4: 5, 2: 6}


def test_suffix_array_equal_tails_tie_break(spark):
    # identical docs: equal tails must order by (doc_id, off)
    df = spark.createDataFrame(
        [(7, "aba"), (3, "aba")], "doc_id long, text string"
    )
    rows = sorted(suffix_array(df, init_prefix=1).collect(), key=lambda r: r.rank)
    # sorted suffixes: a(3,2) a(7,2) aba(3,0) aba(7,0) ba(3,1) ba(7,1)
    assert [(r.doc_id, r.off) for r in rows] == [
        (3, 2), (7, 2), (3, 0), (7, 0), (3, 1), (7, 1)
    ]


def test_suffix_array_skips_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "ab")], "doc_id long, text string"
    )
    rows = suffix_array(df, init_prefix=4).collect()
    assert {(r.doc_id, r.off, r.rank) for r in rows} == {(2, 0, 1), (2, 1, 2)}


def test_adjacent_lcp_edges_are_zero(spark):
    # first and last suffix have no neighbor on one side -> explicit 0
    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    rows = {r.rank: r for r in adjacent_lcp(df, cap=8, init_prefix=2).collect()}
    assert rows[1].lcp_prev == 0 and rows[len(rows)].lcp_next == 0


@pytest.mark.parametrize("distributed", [False, True], ids=["local", "distributed"])
def test_duplicated_spans_planted_duplicate(spark, monkeypatch, distributed):
    # one 30-char sentence shared by docs 1 and 3; doc 2 disjoint —
    # pinned on BOTH paths (_SA_LOCAL_POS_CAP = 0 keeps the distributed
    # chain's fixture-scale coverage now that small corpora default local)
    if distributed:
        monkeypatch.setattr(suffix, "_SA_LOCAL_POS_CAP", 0)
    shared = "the quick brown fox jumps over"
    df = spark.createDataFrame(
        [(1, shared + " xqz"), (2, "zzz yyy www vvv uuu"), (3, "kkk " + shared)],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.dup_positions, r.max_dup_len) for r in duplicated_spans(
        df, min_len=20, cap=40, init_prefix=4
    ).collect()}
    assert set(got) == {1, 3}
    # positions 0..10 of the shared span in each doc carry >=20-char dups
    assert got[1] == (11, 30) and got[3] == (11, 30)


def test_duplicated_spans_no_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "abcdefg"), (2, "hijklmn")], "doc_id long, text string"
    )
    assert duplicated_spans(df, min_len=3, cap=10, init_prefix=2).count() == 0


@pytest.mark.parametrize("distributed", [False, True], ids=["local", "distributed"])
def test_excise_duplicated_spans_keeps_canonical(spark, monkeypatch, distributed):
    """Two copies of a 30-char sentence: the (smaller doc_id, off)
    occurrence survives, the other loses its full 30-char span (the
    11 member windows' union reconstructs the whole region, not fixed
    20-char windows); a disjoint doc is untouched (absent).  Both
    paths pinned (_SA_LOCAL_POS_CAP = 0 = the distributed chain)."""
    from opentsdb_aura_spark.operators.suffix import excise_duplicated_spans

    if distributed:
        monkeypatch.setattr(suffix, "_SA_LOCAL_POS_CAP", 0)
    shared = "the quick brown fox jumps over"  # 30 chars
    df = spark.createDataFrame(
        [(1, shared + " xqz"), (2, "zzz yyy www vvv uuu"), (3, "kkk " + shared)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in excise_duplicated_spans(
        df, min_len=20, cap=40, init_prefix=4
    ).collect()}
    # doc 1 holds every canonical (min doc_id) occurrence -> nothing excised
    assert set(got) == {3}
    # doc 3: 11 member windows starting at offs 4..14, union = [4, 34) = 30 chars
    assert got[3].n_spans_excised == 11
    assert got[3].removed_chars == 30
    assert got[3].kept_chars == len("kkk " + shared) - 30


def test_excise_within_doc_duplicate(spark):
    """A substring repeated INSIDE one doc: first occurrence kept,
    second excised — per-doc union must not double-count the
    overlapping member windows."""
    from opentsdb_aura_spark.operators.suffix import excise_duplicated_spans

    block = "abcdefghijklmnopqrstuvwxy"  # 25 chars, appears twice in doc 1
    df = spark.createDataFrame(
        [(1, block + "0123456789" + block)], "doc_id long, text string"
    )
    got = excise_duplicated_spans(df, min_len=20, cap=30, init_prefix=4).collect()
    assert len(got) == 1
    r = got[0]
    # second occurrence spans [35, 60): 6 member windows, union 25 chars
    assert r.n_spans_excised == 6 and r.removed_chars == 25
    assert r.kept_chars == 60 - 25


def test_dup_index_probe_incremental(spark, tmp_path, monkeypatch):
    """Index built on an existing corpus, persisted, reloaded, and a
    disjoint new batch screened: a new doc quoting the indexed
    duplicate flags exactly the quoted span; a clean new doc is
    absent.  The roundtrip through Parquet must not change a row."""
    from opentsdb_aura_spark.operators.suffix import build_dup_index, probe_dup_index

    shared = "the quick brown fox jumps over"  # 30 chars, duplicated in corpus
    corpus = spark.createDataFrame(
        [(1, shared + " xqz"), (2, "kkk " + shared), (3, "unrelated words only here")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(suffix, "_SA_LOCAL_POS_CAP", 0)
    idx = build_dup_index(corpus, min_len=20, cap=40, init_prefix=4)
    rows = {r.gram: (r.n_occ, r.canon_doc_id, r.canon_off) for r in idx.collect()}
    # 11 member windows of the shared 30-char span, each occurring
    # twice, canonical always doc 1 (offsets 0..10)
    assert len(rows) == 11
    assert all(n == 2 and d == 1 for n, d, _ in rows.values())
    assert sorted(off for _, _, off in rows.values()) == list(range(11))
    assert set(rows) == {shared[i : i + 20] for i in range(11)}

    path = str(tmp_path / "dup_idx")
    idx.write.parquet(path)
    loaded = spark.read.parquet(path)
    assert {tuple(r) for r in loaded.collect()} == {tuple(r) for r in idx.collect()}

    new = spark.createDataFrame(
        [(10, "prefix words " + shared + " suffix"), (11, "completely novel text q")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in probe_dup_index(new, loaded, min_len=20).collect()}
    assert set(got) == {10}
    assert got[10].n_hit_positions == 11 and got[10].covered_chars == 30
    assert abs(got[10].dup_frac - 30 / len("prefix words " + shared + " suffix")) < 1e-9
