"""Suffix-array scale bench: ExactSubstr at millions of positions,
with EXACT planted-duplicate recovery asserted every run.

The corpus is md5-hex word soup — effectively random strings, so
organic 20-char duplicates have ~0 probability and the ONLY
duplicated substrings are the planted ones: every doc_id % plant_mod
== 0 carries one fixed 60-char sentence at a fixed offset.  Doc-level
recovery is then closed-form and asserted EXACTLY: the flagged set
must equal the planted set (zero false positives, zero false
negatives), every planted doc must carry >= 41 duplicated positions
(the 60-20+1 member windows) with max_dup_len >= 60 (the span fully
recovered).  Position counts may exceed 41 by a few: among n/100
planted docs sorted into suffix order, ADJACENT docs agree on the
next hex character past the span with probability ~1 - 16/n_planted,
so the duplicated region legitimately extends a character or two —
a real property of bounded-alphabet corpora, not noise, so it is
bounded (max_dup_len <= the 64-char cap) rather than pinned.

Reports one JSON line: docs, positions (total chars), suffix-array +
span wall, chars/s, and the recovery check.

Usage: python tools/suffix_scale_bench.py [n_docs_thousands]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHARED = "the quick brown fox jumps over the lazy dog again and again."  # 60 chars
assert len(SHARED) == 60
PLANT_MOD = 100
MIN_LEN = 20


def main() -> None:
    n_docs = int(sys.argv[1]) * 1000 if len(sys.argv) > 1 else 50_000

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.suffix import duplicated_spans

    spark = get_spark("suffix_scale_bench")

    # 7 md5 blocks = 224 hex chars per doc; planted docs get the
    # 60-char sentence spliced in at offset 100 (doc stays 224 chars)
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    blocks = [F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{i}"))) for i in range(7)]
    text = F.concat(*blocks)
    planted = F.concat(
        F.substring(text, 1, 100), F.lit(SHARED), F.substring(text, 161, 64)
    )
    docs = base.select(
        "doc_id",
        F.when(F.col("doc_id") % PLANT_MOD == 0, planted).otherwise(text).alias("text"),
    ).localCheckpoint()
    n_chars = docs.agg(F.sum(F.length("text"))).first()[0]

    t0 = time.perf_counter()
    res = duplicated_spans(docs, min_len=MIN_LEN, cap=64).localCheckpoint()
    n_flagged = res.count()
    wall = time.perf_counter() - t0

    expect_docs = (n_docs + PLANT_MOD - 1) // PLANT_MOD
    expect_pos = len(SHARED) - MIN_LEN + 1  # 41 member windows
    bad = res.where(
        (F.col("dup_positions") < expect_pos) | (F.col("max_dup_len") < len(SHARED))
        | (F.col("max_dup_len") > 64)
    ).count()
    only_planted = res.where(F.col("doc_id") % PLANT_MOD != 0).count()

    ok = n_flagged == expect_docs and bad == 0 and only_planted == 0
    print(json.dumps({
        "metric": "suffix_scale_bench",
        "n_docs": n_docs,
        "n_chars": int(n_chars),
        "wall_sec": round(wall, 2),
        "chars_per_sec": int(n_chars / wall),
        "flagged_docs": n_flagged,
        "expected_docs": expect_docs,
        "recovery_exact": ok,
    }))
    if not ok:
        raise SystemExit(f"planted recovery FAILED: flagged={n_flagged} expected={expect_docs} bad_rows={bad} non_planted={only_planted}")


if __name__ == "__main__":
    main()
