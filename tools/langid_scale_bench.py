"""Trained language-ID at corpus scale — the planted-artifact evidence
for text_lang_id_trained (oracle-proven at fixture scale): fit the
one-vs-rest char-trigram classifier on 2 M synthetic docs whose
language is PLANTED through marker-word distributions, and assert the
distribution is RECOVERED (per-class accuracy), not just that the
five GD loops ran.

Corpus: ~12 tokens/doc from a 10k-word vocabulary, deterministic from
doc_id; language = langs[doc_id % 5]; each doc carries its language's
5-word marker sentence plus ONE cross-language noise marker keyed by
xxhash — so single-marker presence is ambiguous (the noise word is a
genuine marker of another language) and only a fit that weights
marker combinations separates the classes.  Bounds asserted:
overall accuracy >= 0.999 and every language recovered at >= 0.995.

Usage: python tools/langid_scale_bench.py [n_docs_million=2]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

D = 256
LR = 10.0
ITERS = 6


def main() -> None:
    n_docs = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.quality import (
        hashed_char_ngram_features,
        ovr_logreg_scores,
        train_ovr_logreg_weights,
    )
    from opentsdb_aura_spark.operators.text import LANG_MARKERS

    spark = get_spark("langid_scale_bench")
    out: dict = {"metric": "langid_scale_bench", "unit": "sec", "n_docs": n_docs}

    langs = sorted(LANG_MARKERS)
    lang = F.element_at(F.array(*[F.lit(x) for x in langs]), (F.col("id") % 5 + 1).cast("int"))
    marker = F.element_at(
        F.array(*[F.lit(" ".join(LANG_MARKERS[x])) for x in langs]),
        (F.col("id") % 5 + 1).cast("int"),
    )
    noise = F.element_at(
        F.array(*[F.lit(LANG_MARKERS[x][0]) for x in langs]),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(5)) + 1).cast("int"),
    )
    words = F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(10000))),
    )
    text = F.concat_ws(" ", F.array_join(words, " "), marker, noise)
    docs = (
        spark.range(n_docs, numPartitions=64)
        .select(F.col("id").alias("doc_id"), lang.alias("lang"), text.alias("text"))
        .localCheckpoint()
    )

    t0 = time.perf_counter()
    feats = hashed_char_ngram_features(docs, n=3, n_features=D)
    models = train_ovr_logreg_weights(
        feats,
        docs.select("doc_id", "lang"),
        classes=langs,
        n_features=D,
        lr=LR,
        n_iter=ITERS,
        center=True,
    )
    out["train_sec"] = round(time.perf_counter() - t0, 2)
    out["train_doc_fits_per_sec"] = round(n_docs * len(langs) * ITERS / out["train_sec"])

    t0 = time.perf_counter()
    scored = ovr_logreg_scores(feats, models, docs.select("doc_id"), n_features=D)
    conf = (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .count()
        .collect()
    )  # bounded: <= 25 rows
    out["score_sec"] = round(time.perf_counter() - t0, 2)
    out["score_docs_per_sec"] = round(n_docs / out["score_sec"])

    per_lang_total = {L: 0 for L in langs}
    per_lang_hit = {L: 0 for L in langs}
    for r in conf:
        per_lang_total[r["lang"]] += r["count"]
        if r["lang"] == r["pred_lang"]:
            per_lang_hit[r["lang"]] += r["count"]
    acc = sum(per_lang_hit.values()) / max(sum(per_lang_total.values()), 1)
    out["accuracy"] = round(acc, 6)
    out["per_lang_accuracy"] = {
        L: round(per_lang_hit[L] / max(per_lang_total[L], 1), 6) for L in langs
    }
    assert acc >= 0.999, f"planted langs NOT recovered: accuracy {acc}"
    for L in langs:
        a = per_lang_hit[L] / max(per_lang_total[L], 1)
        assert a >= 0.995, f"lang {L} NOT recovered: accuracy {a}"
    out["planted_langs_recovered"] = True

    print(json.dumps(out))


if __name__ == "__main__":
    main()
