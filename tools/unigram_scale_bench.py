"""Unigram-LM tokenizer training at corpus scale — the planted-
artifact evidence for text_unigram_train (oracle-proven at fixture
scale): the trainer's cost is bounded by the DISTINCT-WORD table, so
a 2 M-doc corpus with a 10k-word vocabulary trains in near-constant
time after the one corpus word-count pass, and a PLANTED
super-frequent marker word must be RECOVERED as a single vocabulary
piece.

Corpus: ~30 tokens/doc from the 10k-word "w<k>" vocabulary plus the
4-char marker word "zqzx" appended 4× to EVERY doc — its substring
frequency (4/doc) beats the strongest natural substrings (the "w<d>"
prefixes at ~3.3/doc), so it must (a) enter the seed top-K, (b) win
its own segmentation in round 1 (ONE piece beats two half-pieces of
equal probability), starving its sub-pieces to count 0 so pruning
drops them, and (c) survive both rounds as a vocabulary piece.

Usage: python tools/unigram_scale_bench.py [n_docs_million=2]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.text import (
        unigram_apply,
        unigram_train,
        unigram_train_vocab,
    )

    spark = get_spark("unigram_scale_bench")
    out: dict = {"metric": "unigram_scale_bench", "unit": "sec", "n_docs": n_docs}

    words = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(10000))),
    )
    text = F.concat(F.array_join(words, " "), F.lit(" zqzx zqzx zqzx zqzx"))
    docs = (
        spark.range(n_docs, numPartitions=64)
        .select(F.col("id").alias("doc_id"), text.alias("text"))
        .localCheckpoint()
    )

    t0 = time.perf_counter()
    vocab_rows = unigram_train(docs, seed_max_len=4, keep_multi=8, n_rounds=2).collect()
    out["train_sec"] = round(time.perf_counter() - t0, 2)
    out["train_docs_per_sec"] = round(n_docs / out["train_sec"])
    pieces = {r["piece"]: r["cnt"] for r in vocab_rows}
    out["n_pieces"] = len(pieces)
    # planted marker recovered as ONE piece at its full 4/doc count —
    # and its sub-pieces (zq/qz/zx/zqz/qzx, equally seed-frequent)
    # must have been starved and pruned, proving the Viterbi actually
    # reassigned mass rather than keeping the seed
    assert "zqzx" in pieces, sorted(pieces)
    assert pieces["zqzx"] == 4 * n_docs, pieces["zqzx"]
    assert not ({"zq", "qz", "zx", "zqz", "qzx"} & set(pieces)), sorted(pieces)
    out["marker_piece_recovered"] = True

    t0 = time.perf_counter()
    vocab = unigram_train_vocab(docs, seed_max_len=4, keep_multi=8, n_rounds=2)
    counts = unigram_apply(docs, vocab, max_piece_len=4)
    stats = counts.agg(
        F.count("*").alias("n"),
        F.sum("n_pieces").alias("total_pieces"),
        F.min("n_pieces").alias("min_pieces"),
    ).collect()[0]
    out["apply_sec"] = round(time.perf_counter() - t0, 2)
    out["apply_docs_per_sec"] = round(n_docs / out["apply_sec"])
    assert stats["n"] == n_docs, stats["n"]
    # every doc has 31 words; the marker is 1 piece and each w-word is
    # >= 2 pieces ('w' + digits), so per-doc counts live in [62, ...]
    # and the marker's single-piece segmentation shows up as a strict
    # upper bound: < 31 words x 5 chars
    assert stats["min_pieces"] >= 31, stats["min_pieces"]
    assert stats["total_pieces"] < n_docs * 31 * 5, stats["total_pieces"]
    out["per_doc_counts_bounded"] = True

    print(json.dumps(out))


if __name__ == "__main__":
    main()
