"""Trained-artifact persistence: write/load surfaces for tokenizer
and classifier models, mirroring the ANN persisted-index pattern
(similarity.py build_pq_index / pq_search_index).

A real curation pipeline trains ONCE and tokenizes/scores EVERYWHERE
— the model must outlive the query that fit it.  Every artifact here
is "model as rows": a small Parquet table whose schema doubles as the
cross-engine exchange format (the text_lang_id_trained_weights shape
for classifiers; the merge table for BPE/WordPiece; the piece-count
table for the unigram LM).  Doubles round-trip Parquet bit-exactly,
so load-then-apply is float-identical to fit-then-apply — each family
has a catalog roundtrip query pinned to the in-memory query's oracle
to prove exactly that.

Scale shape: all artifacts are driver-sized BY CONSTRUCTION (merges ≤
n_merges rows, unigram vocab ≤ alphabet + keep_multi, classifier
K·(D+1) weights), so the bounded collect on load follows the same
codebook rule the ANN loaders use.  The KN LM tower — whose count
tables are corpus-sized, NOT driver-sized — persists through its own
lm_kn_save/lm_kn_load (operators/quality.py), which keeps the counts
as distributed Parquet scans and never collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merges_save(merges: DataFrame, path: str) -> None:
    """Persist a trained merge table (BPE or WordPiece — both emit
    (rank, lhs, rhs, merged, pair_count[, score]) rows, rank 0 first)
    as a single Parquet dim."""
    merges.write.mode("overwrite").parquet(path)


def merges_load(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted merge table, rank-ordered — ready for
    ``bpe_apply``'s (lhs, rhs) list or ``wordpiece_greedy_apply``'s
    vocabulary construction."""
    return spark.read.parquet(path).orderBy("rank")


def merge_pairs(merges: DataFrame) -> list[tuple[str, str]]:
    """The rank-ordered (lhs, rhs) pairs ``bpe_apply`` consumes —
    bounded collect (≤ n_merges rows by construction)."""
    return [(r["lhs"], r["rhs"]) for r in merges.orderBy("rank").collect()]


def unigram_vocab_save(vocab_rows: DataFrame, path: str) -> None:
    """Persist ``unigram_train``'s (piece, cnt, prob) table.  The
    integer counts are the canonical artifact: the micro-nat log-probs
    ``unigram_apply`` consumes re-derive EXACTLY from them (Laplace
    over integers), so persisting counts loses nothing."""
    vocab_rows.write.mode("overwrite").parquet(path)


def unigram_vocab_load(spark: SparkSession, path: str) -> dict:
    """Load a persisted unigram vocabulary back into the piece →
    integer micro-nat log-prob dict ``unigram_apply`` consumes —
    the same ``text._laplace_log_probs`` rule ``unigram_train_vocab``
    applies to the in-memory counts (integer-exact, so loaded ≡ in-memory).
    Bounded collect: ≤ alphabet + keep_multi rows by construction."""
    from opentsdb_aura_spark.operators.text import _laplace_log_probs

    rows = spark.read.parquet(path).select("piece", "cnt").collect()
    counts = {r["piece"]: int(r["cnt"]) for r in rows}
    if not counts:
        raise ValueError(f"unigram_vocab_load: empty vocabulary at {path}")
    return _laplace_log_probs(counts)


def ovr_model_save(
    spark: SparkSession, models: dict[str, tuple[list[float], float]], path: str
) -> None:
    """Persist a one-vs-rest linear model as FULL-PRECISION rows
    (class, bucket, weight) with the intercept at pseudo-bucket −1 —
    the text_lang_id_trained_weights exchange schema, unrounded so
    load-then-score is float-identical to fit-then-score."""
    rows = []
    for cls in sorted(models):
        w, b = models[cls]
        rows.extend((cls, j, float(x)) for j, x in enumerate(w))
        rows.append((cls, -1, float(b)))
    spark.createDataFrame(
        rows, "class string, bucket int, weight double"
    ).write.mode("overwrite").parquet(path)


def ovr_model_load(
    spark: SparkSession, path: str
) -> dict[str, tuple[list[float], float]]:
    """Load a persisted OvR model back into the {class: (weights,
    intercept)} dict ``ovr_logreg_scores`` consumes.  Bounded collect:
    K·(n_features+1) rows by construction (the codebook rule)."""
    rows = spark.read.parquet(path).collect()
    by_cls: dict[str, dict[int, float]] = {}
    for r in rows:
        by_cls.setdefault(r["class"], {})[int(r["bucket"])] = float(r["weight"])
    models = {}
    for cls, buckets in by_cls.items():
        b = buckets.pop(-1, 0.0)
        n = (max(buckets) + 1) if buckets else 0
        w = [0.0] * n
        for j, x in buckets.items():
            w[j] = x
        models[cls] = (w, b)
    return models
