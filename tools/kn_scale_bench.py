"""Scale bench for the modified Kneser–Ney estimator family
(quality.lm_kn_scores_order at the production order 5): synthesize a
Zipf-ish corpus at two tiers 10× apart, fit + score the full 5-gram
tower at each, and record wall growth vs the 10× linear line.

The per-doc outputs are invariant-checked (n_ngrams == len−4 exactly,
scores negative and finite) — the fixture-scale twin
`quality_kn5_scores` value-hashes the same operator against the
unrolled DuckDB re-fit, so this tool only has to prove the SCALE
shape, not correctness.

Usage: python tools/kn_scale_bench.py [n_docs_millions=1]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOKS_PER_DOC = 12
VOCAB = 10_000


def build_docs(spark, n_docs: int):
    from pyspark.sql import functions as F

    words = F.transform(
        F.sequence(F.lit(1), F.lit(TOKS_PER_DOC)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(VOCAB))
        ),
    )
    return (
        spark.range(n_docs, numPartitions=64)
        .select(F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
        .localCheckpoint()
    )


def run_tier(spark, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.quality import lm_kn_scores_order

    docs = build_docs(spark, n_docs)
    t0 = time.perf_counter()
    res = lm_kn_scores_order(docs, order=5)
    chk = res.agg(
        F.count("*").alias("n"),
        F.sum((F.col("n_ngrams") != TOKS_PER_DOC - 4).cast("long")).alias("bad_counts"),
        F.sum(
            (~(F.col("avg_logprob") < 0) | F.isnan("avg_logprob")).cast("long")
        ).alias("bad_scores"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 2)
    assert chk["n"] == n_docs, f"row count {chk['n']} != {n_docs}"
    assert chk["bad_counts"] == 0, f"{chk['bad_counts']} docs with wrong n_ngrams"
    assert chk["bad_scores"] == 0, f"{chk['bad_scores']} docs with non-negative/NaN score"
    return {"n_docs": n_docs, "wall_sec": wall, "docs_per_sec": round(n_docs / wall)}


def main() -> None:
    n_docs = int(float(sys.argv[1] if len(sys.argv) > 1 else 1) * 1_000_000)

    from opentsdb_aura_spark import get_spark

    spark = get_spark("kn_scale_bench")
    small = run_tier(spark, n_docs // 10)
    big = run_tier(spark, n_docs)
    ratio = round(big["wall_sec"] / small["wall_sec"], 2)
    out = {
        "metric": "kn5_scale_bench",
        "unit": "sec",
        "order": 5,
        "small": small,
        "big": big,
        "wall_ratio_10x_docs": ratio,
    }
    # pass line: 10× the documents must cost at most ~linear (20× with
    # container-variance slack) — the tower is hash-agg + equi-joins,
    # so super-linear growth means a plan regression
    assert ratio <= 20, f"10x docs cost {ratio}x wall — super-linear"
    out["sublinear_10x"] = ratio <= 10
    print(json.dumps(out))


if __name__ == "__main__":
    main()
