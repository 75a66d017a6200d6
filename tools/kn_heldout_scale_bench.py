"""Scale bench for the KN train/apply split (lm_kn_fit + lm_kn_score):
fit the 5-gram modified-KN tower ONCE on a fixed train corpus, then
score held-out corpora at two tiers 10× apart against the SAME model
— the CCNet deployment shape (train on Wikipedia, score Common
Crawl), where scoring cost must scale with the SCORED corpus, not the
model.

The held-out tiers draw from a vocabulary 20% larger than the train
corpus's, so OOV words (and through them the unseen-context
pass-through and the uniform unknown floor) are exercised at scale,
not just in the fixture tests.  Invariant checks per tier: row count,
n_ngrams == len−N exactly, every score finite and negative (all
probabilities < 1, including the OOV floor).  The fixture-scale twin
`quality_kn5_apply_heldout` value-hashes the same operators against
the unrolled DuckDB re-fit, so this tool only proves the SCALE shape.

Usage: python tools/kn_heldout_scale_bench.py [n_docs_millions=1]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOKS_PER_DOC = 12
TRAIN_VOCAB = 10_000
HELD_VOCAB = 12_000  # ~1/6 of held-out tokens are OOV by construction
TRAIN_DOCS = 200_000
ORDER = 5


def build_docs(spark, n_docs: int, vocab: int, salt: int):
    from pyspark.sql import functions as F

    words = F.transform(
        F.sequence(F.lit(1), F.lit(TOKS_PER_DOC)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id"), i, F.lit(salt)), F.lit(vocab)),
        ),
    )
    return (
        spark.range(n_docs, numPartitions=64)
        .select(F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
        .localCheckpoint()
    )


def score_tier(spark, model, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.quality import lm_kn_score

    held = build_docs(spark, n_docs, HELD_VOCAB, salt=7)
    t0 = time.perf_counter()
    res = lm_kn_score(model, held)
    chk = res.agg(
        F.count("*").alias("n"),
        F.sum((F.col("n_ngrams") != TOKS_PER_DOC - (ORDER - 1)).cast("long")).alias(
            "bad_counts"
        ),
        F.sum(
            (~(F.col("avg_logprob") < 0) | F.isnan("avg_logprob")).cast("long")
        ).alias("bad_scores"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 2)
    assert chk["n"] == n_docs, f"row count {chk['n']} != {n_docs}"
    assert chk["bad_counts"] == 0, f"{chk['bad_counts']} docs with wrong n_ngrams"
    assert chk["bad_scores"] == 0, (
        f"{chk['bad_scores']} docs with non-negative/NaN score — the OOV "
        "floor must keep every held-out doc finite"
    )
    return {"n_docs": n_docs, "wall_sec": wall, "docs_per_sec": round(n_docs / wall)}


def main() -> None:
    n_docs = int(float(sys.argv[1] if len(sys.argv) > 1 else 1) * 1_000_000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.quality import lm_kn_fit, lm_kn_score

    spark = get_spark("kn_heldout_scale_bench")
    train = build_docs(spark, TRAIN_DOCS, TRAIN_VOCAB, salt=0)
    t0 = time.perf_counter()
    model = lm_kn_fit(train, order=ORDER)
    # materialize the tower OUTSIDE the scoring timers (a real
    # deployment fits/persists once), and count OOV coverage while
    # at it: the held-out vocab is 20% wider than the train vocab
    n_types = model["g"][1].count()
    fit_wall = round(time.perf_counter() - t0, 2)
    # warm pass: a 1k-doc score absorbs the one-time codegen cost so
    # tier walls measure scoring, not JIT
    lm_kn_score(model, build_docs(spark, 1_000, HELD_VOCAB, salt=7)).agg(
        F.count("*")
    ).collect()

    small = score_tier(spark, model, n_docs // 10)
    big = score_tier(spark, model, n_docs)
    ratio = round(big["wall_sec"] / small["wall_sec"], 2)
    out = {
        "metric": "kn5_heldout_scale_bench",
        "unit": "sec",
        "order": ORDER,
        "train_docs": TRAIN_DOCS,
        "fit_wall_sec": fit_wall,
        "unigram_types": n_types,
        "small": small,
        "big": big,
        "wall_ratio_10x_docs": ratio,
        "sub_linear": ratio < 10.0,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
