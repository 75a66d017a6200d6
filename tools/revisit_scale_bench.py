"""WARC revisit dedup at crawl scale: plan → write → re-read →
resolve over millions of captures, with EXACT planted assertions and
the measured storage saving (the operator's reason to exist).

Captures: n docs in groups of 3 fetching the same page with identical
bytes (the catalog fixture's rule at scale), so exactly
n - ceil(n/3) captures plan as revisits, every re-read revisit record
is payload-less, and the deduplicated artifact is measurably smaller
than the naive one.

Usage: python tools/revisit_scale_bench.py [n_captures_million=2]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.containers import (
        mark_revisits,
        resolve_revisits,
        warc_records,
        write_revisit_warc_files,
    )

    spark = get_spark("revisit_scale_bench")
    out: dict = {"metric": "revisit_scale_bench", "unit": "sec", "n_captures": n}

    ids = spark.range(n, numPartitions=64)
    k = (F.col("id") - F.col("id") % 3).cast("long")
    caps = ids.select(
        F.expr("CAST(id DIV 2000 AS LONG)").alias("file_id"),
        F.col("id").alias("offset"),
        F.concat(F.lit("urn:uuid:cap-"), F.col("id")).alias("record_id"),
        F.concat(F.lit("http://example.com/page/"), k).alias("target_uri"),
        # ~2 KB bodies (a small real page): the revisit record's extra
        # headers (~150 B) must be dwarfed by the payload it elides
        F.concat(
            F.lit("payload body bytes for group "), k, F.lit(" "),
            F.repeat(F.lit("lorem ipsum dolor sit amet crawl body "), 50),
        ).cast("binary").alias("payload"),
    ).withColumn("payload_md5", F.md5(F.col("payload")))

    n_groups = (n + 2) // 3
    t0 = time.perf_counter()
    marked = mark_revisits(caps).localCheckpoint()
    n_revisits = marked.where(F.col("revisit_of").isNotNull()).count()
    out["plan_sec"] = round(time.perf_counter() - t0, 2)
    assert n_revisits == n - n_groups, n_revisits  # exact planted count

    t0 = time.perf_counter()
    files = write_revisit_warc_files(marked, content_type="text/plain").localCheckpoint()
    dedup_bytes = files.agg(F.sum(F.length("content"))).collect()[0][0]
    out["write_sec"] = round(time.perf_counter() - t0, 2)

    # the naive artifact re-encodes EVERY capture in full
    naive = write_revisit_warc_files(
        marked.withColumn("revisit_of", F.lit(None).cast("string")),
        content_type="text/plain",
    )
    naive_bytes = naive.agg(F.sum(F.length("content"))).collect()[0][0]
    out["dedup_artifact_mb"] = round(dedup_bytes / 1e6, 1)
    out["naive_artifact_mb"] = round(naive_bytes / 1e6, 1)
    out["bytes_saved_pct"] = round(100.0 * (1 - dedup_bytes / naive_bytes), 1)
    assert dedup_bytes < naive_bytes

    t0 = time.perf_counter()
    reread = warc_records(files, with_payload=True).localCheckpoint()
    by_type = {
        r["warc_type"]: (r["cnt"], r["payload_bytes"])
        for r in reread.groupBy("warc_type")
        .agg(F.count("*").alias("cnt"), F.sum("content_length").alias("payload_bytes"))
        .collect()
    }
    out["reread_sec"] = round(time.perf_counter() - t0, 2)
    assert by_type["revisit"][0] == n - n_groups, by_type
    assert by_type["revisit"][1] == 0, by_type       # payload-less on the wire
    assert by_type["response"][0] == n_groups, by_type

    t0 = time.perf_counter()
    resolved = resolve_revisits(reread)
    bad = resolved.where(
        F.col("payload_md5").isNull() | (F.col("content_length") <= 0)
    ).count()
    n_resolved = resolved.count()
    out["resolve_sec"] = round(time.perf_counter() - t0, 2)
    assert n_resolved == n - n_groups and bad == 0, (n_resolved, bad)
    out["captures_per_sec"] = int(
        n / (out["plan_sec"] + out["write_sec"] + out["reread_sec"])
    )
    out["planted_exact"] = True
    print(json.dumps(out))


if __name__ == "__main__":
    main()
