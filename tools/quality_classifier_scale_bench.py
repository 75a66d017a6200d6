"""Trained quality classifier at corpus scale — the planted-artifact
evidence for pipeline_quality_classifier (which is oracle-proven at
fixture scale): train the hashed-feature logistic gate on 2 M
synthetic docs with a PLANTED separable class and assert the class is
RECOVERED, not just that the loop ran.

Corpus: ~30 tokens/doc from a 10k-word vocabulary, deterministic from
doc_id; every 20th doc is the planted "high-quality" class carrying
three marker tokens (qx0 qx1 qx2).  With D=1024 hash buckets each
marker bucket also collects ~10 colliding vocabulary words, so
single-marker presence is NOISY — only a fit that weights all three
marker buckets together separates the class (false positives require
a doc to collide on ALL THREE buckets at once, ~2e-5 of docs).
Closed-form bounds asserted: recall >= 0.999, precision >= 0.98.

Usage: python tools/quality_classifier_scale_bench.py [n_docs_million=2]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

D = 1024
LR = 20.0
ITERS = 8


def main() -> None:
    n_docs = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.quality import (
        hashed_token_features,
        logreg_scores,
        train_logreg_weights,
    )

    spark = get_spark("quality_classifier_scale_bench")
    out: dict = {"metric": "quality_classifier_scale_bench", "unit": "sec", "n_docs": n_docs}

    planted = F.col("id") % 20 == 0
    words = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(10000))),
    )
    text = F.concat(
        F.array_join(words, " "),
        F.when(planted, F.lit(" qx0 qx1 qx2")).otherwise(F.lit("")),
    )
    docs = (
        spark.range(n_docs, numPartitions=64)
        .select(F.col("id").alias("doc_id"), text.alias("text"), planted.alias("label"))
        .localCheckpoint()
    )

    t0 = time.perf_counter()
    feats = hashed_token_features(docs, n_features=D, binary=True)
    w, b = train_logreg_weights(
        feats,
        docs.select("doc_id", F.col("label").cast("double").alias("y")),
        n_features=D,
        lr=LR,
        n_iter=ITERS,
        center=True,
    )
    out["train_sec"] = round(time.perf_counter() - t0, 2)
    out["train_docs_per_sec_per_iter"] = round(n_docs * ITERS / out["train_sec"])

    t0 = time.perf_counter()
    scored = logreg_scores(docs, w, b, n_features=D, binary=True).join(
        docs.select("doc_id", "label"), "doc_id"
    )
    conf = (
        scored.groupBy("label", "pred").count().collect()
    )  # bounded: 4 rows
    out["score_sec"] = round(time.perf_counter() - t0, 2)
    out["score_docs_per_sec"] = round(n_docs / out["score_sec"])

    c = {(r["label"], r["pred"]): r["count"] for r in conf}
    tp = c.get((True, True), 0)
    fp = c.get((False, True), 0)
    fn = c.get((True, False), 0)
    recall = tp / max(tp + fn, 1)
    precision = tp / max(tp + fp, 1)
    out["tp"], out["fp"], out["fn"] = tp, fp, fn
    out["recall"] = round(recall, 6)
    out["precision"] = round(precision, 6)
    assert recall >= 0.999, f"planted class NOT recovered: recall {recall}"
    assert precision >= 0.98, f"planted class NOT recovered: precision {precision}"
    out["planted_class_recovered"] = True

    print(json.dumps(out))


if __name__ == "__main__":
    main()
