"""Scale validation: build a reference-shaped store (24 h of data,
2 h segments, 4 501 series, one deliberately skewed hot series) at
~50 M points and run the flagship query shapes against it.

This is the 100×-the-test-data check: partition pruning, the
series_id shuffle, AQE skew handling, and the spine all at a scale
where a wrong plan would be minutes, not milliseconds.

Usage: python tools/scale_validation.py [n_million=50]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = 1704067200  # segment-aligned


def main() -> None:
    n = int(float(sys.argv[1] if len(sys.argv) > 1 else 50) * 1_000_000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.filters import MetricLiteral, TagLiteralOr, Chain
    from opentsdb_aura_spark.model import normalize_points
    from opentsdb_aura_spark.operators.rate import RateOptions
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query
    from opentsdb_aura_spark.sources.batch import write_metrics_store

    spark = get_spark("scale_validation")
    out = tempfile.mkdtemp(prefix="scale_store_")
    timings: dict[str, float] = {}

    try:
        # ---- build: 24 h, 4 501 series: host = id % 5000 also fixes
        # the metric and the dc, and the rows with id % 10 == 0 (10% of
        # them) are funneled into ONE hot series (skew) instead
        t0 = time.perf_counter()
        hot = F.col("id") % 10 == 0
        raw = spark.range(n).select(
            F.lit("bench").alias("namespace"),
            F.when(hot, F.lit("metric_0")).otherwise(
                F.concat(F.lit("metric_"), (F.col("id") % 20).cast("string"))
            ).alias("metric"),
            F.map_from_arrays(
                F.array(F.lit("host"), F.lit("dc")),
                F.array(
                    F.when(hot, F.lit("h0")).otherwise(
                        F.concat(F.lit("h"), (F.col("id") % 5000).cast("string"))
                    ),
                    F.element_at(F.array(F.lit("east"), F.lit("west")), (F.col("id") % 2 + 1).cast("int")),
                ),
            ).alias("tags"),
            (F.lit(BASE) + (F.col("id") % 86400)).cast("long").alias("ts"),
            (F.rand(seed=7) * 100).alias("value"),
            F.col("id").alias("ingest_seq"),
        )
        # ingest without dedupe — measures the write path at volume.
        # Points are NOT unique per (series, ts): the hot series puts
        # n/10 rows on 8 640 timestamps (ts = id % 86400 with
        # id % 10 == 0), about 579 rows per timestamp at n = 50 M, and
        # every other series repeats a timestamp once every 2.16 M ids
        # (lcm of its 5 000-id host cycle and the 86 400-id ts cycle)
        pts = normalize_points(raw, width=7200)
        write_metrics_store(pts, f"{out}/metrics", reshuffle=False)
        timings["ingest_sec"] = round(time.perf_counter() - t0, 1)
        timings["ingest_pts_per_sec"] = round(n / timings["ingest_sec"])

        store = spark.read.parquet(f"{out}/metrics")

        def bench(name, df):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            timings[name] = round(time.perf_counter() - t0, 2)
            print(f"# {name}: {timings[name]}s", file=sys.stderr)

        # 1. pruned 2 h window, per-series 1 m downsample (hot-path read)
        q1 = MetricQuery(
            start=BASE + 43200, end=BASE + 50400, interval=60, ds_agg="sum",
            filter=MetricLiteral("metric_7"), fill="none",
        )
        bench("q_pruned_2h_per_series_1m", run_metric_query(store, q1, dedupe=False))

        # 2. full 24 h: rate → 5 m downsample → group-by dc (incl. the
        # skewed series; AQE skew-join/agg handling)
        q2 = MetricQuery(
            start=BASE, end=BASE + 86400, interval=300, ds_agg="avg",
            filter=Chain("AND", [MetricLiteral("metric_0")]),
            rate_options=RateOptions(interval_seconds=60),
            group_tag_keys=["dc"], gb_agg="sum", fill="none",
        )
        bench("q_24h_rate_ds_groupby_skewed", run_metric_query(store, q2, dedupe=False))
        # the same query over deduped points: one row per (series, ts),
        # so the hot series' rate window holds at most 86 400 rows.
        # This line measures the queries that run with dedupe on; a
        # query run with dedupe=False (q2 above, and catalog queries
        # such as fused_rate_ds_gb) keeps a hot-series window bounded
        # only by its raw row count
        bench("q_24h_rate_ds_groupby_skewed_dedupe", run_metric_query(store, q2, dedupe=True))

        # 3. group-all daily sum over everything (full-scan aggregate)
        q3 = MetricQuery(
            start=BASE, end=BASE + 86400, interval=3600, ds_agg="sum",
            group_tag_keys=[], gb_agg="sum", fill="nan",
        )
        bench("q_24h_hourly_group_all", run_metric_query(store, q3, dedupe=False))

        # 4. meta: distinct-series cardinality (HLL)
        t0 = time.perf_counter()
        card = store.agg(F.approx_count_distinct("series_id").alias("c")).collect()[0]["c"]
        timings["q_cardinality_hll"] = round(time.perf_counter() - t0, 2)
        timings["approx_series"] = int(card)

        # 5. histogram-sketch percentile path: build hourly DDSketch
        # bins once (the ingest-time cost), then serve a day of hourly
        # p99 per metric WITHOUT rescanning the points — the mergeable
        # percentile the aggregate chain can't provide
        from opentsdb_aura_spark.operators.rollup import (
            build_rollup_histogram,
            percentile_from_rollup_histogram,
        )

        t0 = time.perf_counter()
        hist = build_rollup_histogram(store, 3600, group_cols=("metric",)).localCheckpoint()
        hist_rows = hist.count()
        timings["hist_rollup_build_1h_bins"] = round(time.perf_counter() - t0, 2)
        timings["hist_rows"] = int(hist_rows)
        bench(
            "q_p99_hourly_from_hist",
            percentile_from_rollup_histogram(
                hist, 0.99, BASE, BASE + 86400, 3600, group_cols=["metric"]
            ),
        )

        # 5b. mergeable HLL presence rollup: build hourly sketches once
        # (ingest-time cost), then serve arbitrary-range cardinality
        # from ~(metrics × 24) sketch rows with no raw re-distinct;
        # record the estimate error vs one exact count for the report
        from opentsdb_aura_spark.operators.meta import (
            build_presence_hll,
            cardinality_from_presence_hll,
        )

        t0 = time.perf_counter()
        phll = build_presence_hll(store, 3600, group_cols=("metric",)).localCheckpoint()
        timings["presence_hll_rows"] = int(phll.count())
        timings["presence_hll_build_1h"] = round(time.perf_counter() - t0, 2)
        bench(
            "q_range_cardinality_from_hll",
            cardinality_from_presence_hll(phll, BASE, BASE + 86400, group_cols=("metric",)),
        )
        est_total = (
            cardinality_from_presence_hll(phll, BASE, BASE + 86400, group_cols=())
            .first()["active_series"]
        )
        exact_total = store.select("series_id").distinct().count()
        timings["hll_est_vs_exact_pct"] = round(100.0 * abs(est_total - exact_total) / exact_total, 2)

        # 5c. Misra-Gries heavy hitters over the host tag (5k distinct,
        # one hot host owning 10% of rows): the shuffle is
        # O(partitions × capacity) rows regardless of tag cardinality,
        # and the planted hot host must surface with its estimate
        # inside the n/(capacity+1) bound
        from opentsdb_aura_spark.operators.sketch import mg_heavy_hitters

        hosts = store.select(F.col("tags")["host"].alias("host"))
        t0 = time.perf_counter()
        hh = mg_heavy_hitters(hosts, "host", 10, capacity=256).collect()
        timings["q_heavy_hitter_hosts_mg"] = round(time.perf_counter() - t0, 2)
        top = {r["item"]: r for r in hh}
        assert "h0" in top and top["h0"]["est_count"] >= n // 10 - top["h0"]["err_bound"], top.get("h0")

        # 5d. MG vs exact on a LONG-TAIL stream: n values over ~1M
        # distinct items (the 5k-host stage above barely exercises the
        # bound) with 3 planted heavies at 5%/3%/1%.  This is the
        # regime the sketch exists for — the exact top-k must shuffle
        # O(distinct) rows, MG shuffles O(partitions × capacity) —
        # and the planted ranking must survive the trims.
        heavy = (
            F.when(F.col("id") % 20 == 0, F.lit("hot_a"))
            .when(F.col("id") % 33 == 1, F.lit("hot_b"))
            .when(F.col("id") % 100 == 2, F.lit("hot_c"))
            .otherwise(F.concat(F.lit("w"), F.pmod(F.xxhash64("id"), F.lit(1_000_000)).cast("string")))
        )
        tail = spark.range(n).select(heavy.alias("item"))
        t0 = time.perf_counter()
        hh2 = mg_heavy_hitters(tail, "item", 10, capacity=256).collect()
        timings["q_heavy_hitters_1m_distinct_mg"] = round(time.perf_counter() - t0, 2)
        ranked = [r["item"] for r in hh2[:3]]
        assert ranked == ["hot_a", "hot_b", "hot_c"], ranked
        t0 = time.perf_counter()
        exact_top = (
            tail.groupBy("item").count().orderBy(F.col("count").desc(), "item").limit(10).collect()
        )
        timings["q_heavy_hitters_1m_distinct_exact"] = round(time.perf_counter() - t0, 2)
        assert [r["item"] for r in exact_top[:3]] == ranked

        # 6. hot-key-bounded sessionization: a bot key owning 10% of all
        # events must NOT become one giant sort task.  Events: 90%
        # spread over 1M normal users, 10% on user 0, dense (~1.7 s
        # spacing over 24 h at n=50M → a single day-long session).  The
        # blocked path's largest window task is a (key, 2h-block) slice
        # — bounded — and the stitch runs over ≤ blocks+sessions rows.
        n_ev = n // 10
        ev = (
            spark.range(n_ev, numPartitions=256)
            .select(
                F.when(F.col("id") % 10 == 0, F.lit(0))
                .otherwise(F.pmod(F.xxhash64("id"), F.lit(1_000_000)) + 1)
                .alias("user_id"),
                (F.lit(BASE) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(86400))).alias("ts"),
                F.col("id").alias("event_id"),
            )
        )
        from opentsdb_aura_spark.operators.events import sessionize

        bench(
            "q_sessionize_hot_bot_key",
            sessionize(ev, 1800, key_col="user_id", block_seconds=7200),
        )

        # ---- round-4 pipeline stages: global shuffle rank at 2M docs
        # (distributed prefix-sum — no single-partition window), DSIR
        # weights at 2M docs (explode + two bounded aggs), and WAV
        # decode throughput over 100k real payloads inside mapInPandas
        from opentsdb_aura_spark.operators.av import attach_audio_media, extract_audio_features
        from opentsdb_aura_spark.operators.corpus import dsir_weights, global_shuffle

        n_docs = max(n // 25, 1000)
        fake_docs = spark.range(n_docs, numPartitions=128).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("token "),
                (F.col("id") % 997).cast("string"),
                F.lit(" filler words for the synthetic corpus body "),
                (F.col("id") % 31).cast("string"),
            ).alias("text"),
            F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias("source"),
        )
        shuffled = global_shuffle(fake_docs)
        bench("q_global_shuffle_2m_docs", shuffled)
        # rank sanity at scale: positions are exactly [0, n_docs)
        stats = shuffled.agg(
            F.count_distinct("shuffle_pos").alias("d"),
            F.max("shuffle_pos").alias("m"),
        ).collect()[0]
        assert stats["d"] == n_docs and stats["m"] == n_docs - 1, stats

        bench("q_dsir_weights_2m_docs", dsir_weights(fake_docs, "src3"))

        audio_docs = fake_docs.where(F.col("doc_id") < 100_000)
        bench(
            "q_audio_decode_100k",
            extract_audio_features(attach_audio_media(audio_docs)),
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)

    timings["input_points"] = n
    print(json.dumps({"metric": "scale_validation", "unit": "sec", **timings}))


if __name__ == "__main__":
    main()
