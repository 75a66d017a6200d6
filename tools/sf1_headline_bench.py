"""sf1 headline tier: headline queries at 10× the sf0.1 row count,
vs the same queries at sf0.1 in the SAME session — the scale-up
evidence BASELINE.md records (VERDICT r8 item 1d; r9 item 4 extends
it to the crawl/dedup headliners).

The sf1 events table is synthesized from sf0.1 by unioning 10 copies
with disjoint user_id/event_id ranges: 10× the points AND 10× the
series over the same 30-day window, so scans, group-bys, and the
store build all do honest 10× work (a pure ts-shift would let
partition pruning skip the extra rows).

With --crawl, the sf1 DOCUMENTS table is synthesized instead (10
copies, disjoint doc_id ranges) and the crawl/dedup headliners run.
Copy texts get a per-copy token prefix (stopwords exempt so the
quality gates still read them): a verbatim copy would pair every doc
with its 9 clones at Jaccard 1.0 — a quadratic cross-copy pair
explosion, not a 10× workload — while prefixed tokens keep each
copy's WITHIN-copy near-dup structure isomorphic to the original and
drive cross-copy shingle Jaccard to ~0, so pair/cluster counts scale
linearly like a real 10× corpus.

Usage: python tools/sf1_headline_bench.py [--crawl]
Prints one JSON line: per-query seconds at sf1 and sf0.1, the ratio,
and the store/synth times.  Pass criterion (recorded, not asserted):
ratio ≤ 2 × the 10× linear scale, i.e. sf1_sec ≤ 20 × sf01_sec.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/spark_graft_sf1"
COPIES = 10

HEADLINE = [
    "ds_sum_daily",
    "sketch_countmin_user_freq",
    "ds_avg_hourly",
    "ds_spine_hourly_purchase",
    "rate_purchase",
    "fused_rate_ds_gb",
    "rollup_sum_daily",
    "splice_mixed_resolution_sum",
    "topn_metrics_by_sum",
    "gb_sum_by_user_daily",
    "gb_two_keys_daily",
    "timeshift_sum_daily_purchase",
    "rollup_hist_p90_daily",
]

CRAWL_HEADLINE = [
    "dedup_minhash_lsh_exact",
    "pipeline_curate_to_wet",
    "corpus_warc_gzip_html_text",
    "dedup_cluster_resolve",
    # round 12: the CCNet-fused curate (the catalog's most expensive
    # query — extraction + corpus LM fit + tercile window) and the
    # trained classifier (8 GD steps + corpus scoring)
    "pipeline_ccnet_curate",
    "pipeline_quality_classifier",
    # round 13: the heavy trained-model additions — KN at orders 3/5
    # (count towers + type-table scoring), the kn5-driven curate keep,
    # the OvR-trained lang-id, and WordPiece training
    "quality_kn3_scores",
    "quality_kn5_scores",
    "pipeline_ccnet_curate_kn",
    "text_lang_id_trained",
    "text_wordpiece_train_merges",
    # round 14: the train/apply split (fit on the 90% slice, score the
    # held-out 10% with OOV backoff) and the softmax reject gate (the
    # same 6-step GD chains + a mixed-corpus scoring pass)
    "quality_kn5_apply_heldout",
    "text_lang_id_softmax",
    # round 14 session 2: the exact suffix-array dedup (SA rounds scale
    # with corpus chars; the 10x line proves the doubling holds) and
    # the Bloom decontamination single-pass
    "dedup_suffix_spans",
    "contamination_bloom",
]


def build_sf1(spark) -> None:
    from pyspark.sql import functions as F

    marker = os.path.join(SF1, "_BUILT")
    if os.path.exists(marker):
        return
    shutil.rmtree(SF1, ignore_errors=True)
    os.makedirs(SF1, exist_ok=True)
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    # strides derived from the actual id ranges — fixed offsets would
    # silently collide copies if the driver ever grows the sf0.1 id
    # space, deflating the claimed 10× series count (ADVICE r9)
    bounds = ev.agg(
        F.max("event_id").alias("max_eid"), F.max("user_id").alias("max_uid")
    ).first()
    eid_stride = int(bounds["max_eid"]) + 1
    uid_stride = int(bounds["max_uid"]) + 1
    parts = [
        ev.select(
            (F.col("event_id") + k * eid_stride).alias("event_id"),
            "ts",
            (F.col("user_id") + k * uid_stride).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for k in range(COPIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{SF1}/events.parquet")
    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        src = f"{SF01}/{t}.parquet"
        if os.path.exists(src):
            shutil.copy(src, f"{SF1}/{t}.parquet")
    open(marker, "w").write("ok")


def build_sf1_docs(spark) -> None:
    """10× documents with disjoint doc_id ranges and per-copy token
    prefixes (stopwords exempt) — linear near-dup scaling, not a
    quadratic cross-copy clone explosion (module docstring)."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.quality import STOPWORDS

    marker = os.path.join(SF1, "_DOCS_BUILT")
    if os.path.exists(marker):
        return
    os.makedirs(SF1, exist_ok=True)
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    stride = int(docs.agg(F.max("doc_id").alias("m")).first()["m"]) + 1
    sw = F.array(*[F.lit(s) for s in STOPWORDS])

    other_cols = [c for c in docs.columns if c not in ("doc_id", "text")]

    def copy_k(k: int):
        if k == 0:
            return docs.select("doc_id", "text", *other_cols)
        pre = F.lit(f"c{k}x")
        toks = F.split(F.col("text"), " ")
        rewritten = F.array_join(
            F.transform(
                toks,
                lambda t: F.when(F.array_contains(sw, t), t).otherwise(F.concat(pre, t)),
            ),
            " ",
        )
        cols = [
            (F.col("doc_id") + k * stride).alias("doc_id"),
            rewritten.alias("text"),
        ]
        # derived metadata columns follow the rewritten text where the
        # derivation is known; others pass through unchanged
        for c in other_cols:
            if c == "n_chars":
                cols.append(F.length(rewritten).cast("bigint").alias("n_chars"))
            else:
                cols.append(F.col(c))
        return docs.select(*cols)

    out = copy_k(0)
    for k in range(1, COPIES):
        out = out.unionByName(copy_k(k))
    out.repartition(32).write.mode("overwrite").parquet(f"{SF1}/documents.parquet.tmp10x")
    # swap in atomically over the verbatim copy build_sf1 may have made
    shutil.rmtree(f"{SF1}/documents.parquet", ignore_errors=True)
    if os.path.isfile(f"{SF1}/documents.parquet"):
        os.remove(f"{SF1}/documents.parquet")
    os.rename(f"{SF1}/documents.parquet.tmp10x", f"{SF1}/documents.parquet")
    open(marker, "w").write("ok")


def main() -> None:
    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.catalog import SPARK_QUERIES
    from opentsdb_aura_spark.sources.batch import ensure_event_store

    crawl = "--crawl" in sys.argv[1:]
    headline = CRAWL_HEADLINE if crawl else HEADLINE
    spark = get_spark("sf1_headline_bench")
    out: dict = {
        "metric": "sf1_crawl_headline_bench" if crawl else "sf1_headline_bench",
        "unit": "sec",
        "copies": COPIES,
    }

    t0 = time.perf_counter()
    build_sf1(spark)
    if crawl:
        build_sf1_docs(spark)
    out["sf1_synth_sec"] = round(time.perf_counter() - t0, 2)

    # store builds timed separately so query timings measure queries
    # (the crawl headliners read only documents, but pipeline queries
    # may touch the store through shared fixtures — build both anyway)
    t0 = time.perf_counter()
    ensure_event_store(spark, SF01)
    out["store_build_sf01_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    ensure_event_store(spark, SF1)
    out["store_build_sf1_sec"] = round(time.perf_counter() - t0, 2)

    def run(name: str, sf_dir: str) -> float:
        best = None
        for _ in range(2):  # min-of-2: container variance (memory note)
            t = time.perf_counter()
            SPARK_QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.perf_counter() - t
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    q01, q1, ratio = {}, {}, {}
    worst = 0.0
    for name in headline:
        q01[name] = run(name, SF01)
        q1[name] = run(name, SF1)
        ratio[name] = round(q1[name] / q01[name], 2)
        worst = max(worst, ratio[name])
        print(
            f"# {name}: sf0.1 {q01[name]}s -> sf1 {q1[name]}s ({ratio[name]}x)",
            file=sys.stderr,
        )
    out["sf01"] = q01
    out["sf1"] = q1
    out["ratio_sf1_over_sf01"] = ratio
    out["worst_ratio"] = worst
    out["linear_scale"] = COPIES
    print(json.dumps(out))


if __name__ == "__main__":
    main()
