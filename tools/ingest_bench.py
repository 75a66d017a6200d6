"""Ingest throughput microbench: synthesize N million points on the
executors (no I/O on the input side), run the full write path —
normalize (series_id, segment_time) → last-write-wins dedupe →
partitioned sorted Parquet — and report points/second.

The reference's design anchor is ~1 M pts/s/host for the in-memory
ingest (BASELINE.md); this measures the Spark engine's batch
equivalent on local[N].

Usage: python tools/ingest_bench.py [n_million]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(float(sys.argv[1] if len(sys.argv) > 1 else 5) * 1_000_000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.model import normalize_points
    from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins
    from opentsdb_aura_spark.sources.batch import write_metrics_store

    spark = get_spark("ingest_bench")
    base = 1704067200

    raw = spark.range(n).select(
        F.lit("bench").alias("namespace"),
        F.concat(F.lit("metric_"), (F.col("id") % 100).cast("string")).alias("metric"),
        F.map_from_arrays(
            F.array(F.lit("host"), F.lit("dc")),
            F.array(
                F.concat(F.lit("h"), (F.col("id") % 5000).cast("string")),
                F.element_at(F.array(F.lit("east"), F.lit("west")), (F.col("id") % 2 + 1).cast("int")),
            ),
        ).alias("tags"),
        (F.lit(base) + (F.col("id") % 86400)).cast("long").alias("ts"),
        (F.rand(seed=42) * 100).alias("value"),
        F.col("id").alias("ingest_seq"),
    )
    raw.count()  # warm

    out = tempfile.mkdtemp(prefix="ingest_bench_")
    try:
        t0 = time.perf_counter()
        pts = dedupe_last_write_wins(normalize_points(raw, width=7200))
        write_metrics_store(pts, f"{out}/metrics", reshuffle=False)
        dt = time.perf_counter() - t0
        rows = spark.read.parquet(f"{out}/metrics").count()
    finally:
        shutil.rmtree(out, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "ingest_pts_per_sec",
                "value": round(n / dt),
                "unit": "pts/s",
                "input_points": n,
                "stored_rows": rows,
                "wall_sec": round(dt, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
