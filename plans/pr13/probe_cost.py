"""What the one-partition size probe costs a dashboard query.

Usage (from the checkout root, with PYTHONPATH set to it):

    python plans/pr13/probe_cost.py <checkout> <dash_store> <out.jsonl>

``<dash_store>`` is the seed-0 store that ``tools/plan_diff.py dump``
builds.  The session runs the first pass of ``perfbench.gen.query_pool(0)``
(7 metric and 2 meta templates) through ``QueryRunner.run`` once
unmeasured, then 10 times with ``sources.batch.pruned_scan_rows`` timed
per call: its median and mean, and the most rows one read held.  Then,
for the 7 metric templates 10 times over, it times the probe on the
raw read as ``run_metric_query`` builds it (filter, time range and
partition predicate) against the probe on the partition predicate
alone, which prunes to the same files.  Two JSON lines.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def main() -> None:
    checkout, store, out = os.path.abspath(sys.argv[1]), sys.argv[2].rstrip("/"), sys.argv[3]
    for sub in ("perfbench", ""):
        sys.path.insert(0, os.path.join(checkout, sub))
    os.environ["PYTHONPATH"] = checkout
    import gen
    from pyspark.sql import functions as F
    from tracing import NullTracer
    from workloads import QueryRunner

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.filters import compile_filter, time_range
    from opentsdb_aura_spark.plans.opentsdb_json import translate_query
    from opentsdb_aura_spark.sources import batch

    spark = get_spark("probe_cost")
    read = spark.read.parquet
    points = read(f"{store}/metrics")
    runner = QueryRunner(
        NullTracer(), points, read(f"{store}/series_dim"),
        {"rollups": {gen.HOUR: read(f"{store}/rollup_3600")},
         "hist_rollups": {gen.HOUR: read(f"{store}/rollup_hist_3600")}},
    )
    head = gen.T0 + gen.DASH["span"]

    def window_end(spec) -> int:
        end = head - spec.end_back
        return end - end % spec.interval

    probe = batch.pruned_scan_rows
    calls: list[tuple[float, int | None]] = []

    def timed(df):
        t0 = time.perf_counter()
        rows = probe(df)
        calls.append((time.perf_counter() - t0, rows))
        return rows

    pool = gen.query_pool(0)[: len(gen.TEMPLATES)]
    batch.pruned_scan_rows = timed
    try:
        for spec in pool:
            runner.run(spec, window_end(spec))
        calls.clear()
        for _ in range(10):
            for spec in pool:
                runner.run(spec, window_end(spec))
    finally:
        batch.pruned_scan_rows = probe
    ms = [c[0] * 1e3 for c in calls]
    lines = [{
        "what": "probe per call, 10 warm passes", "calls": len(ms),
        "median_ms": round(statistics.median(ms), 2), "mean_ms": round(statistics.mean(ms), 2),
        "max_rows": max(c[1] for c in calls if c[1] is not None),
    }]

    whole, partition = [], []
    for _ in range(10):
        for spec in pool:
            if spec.template.startswith("meta_"):
                continue
            end = window_end(spec)
            q = translate_query(gen.query_json(spec, end), now=end, segment_width=gen.SEGMENT_WIDTH)
            lo, hi = q.start - (q.shift_seconds or 0), q.end - (q.shift_seconds or 0)
            seg = (F.col("segment_time") >= F.lit(lo - lo % q.segment_width)) & (F.col("segment_time") < F.lit(int(hi)))
            t0 = time.perf_counter()
            a = probe(points.where(compile_filter(q.filter) & time_range(lo, hi) & seg))
            t1 = time.perf_counter()
            b = probe(points.where(seg))
            t2 = time.perf_counter()
            assert a == b, (a, b)
            whole.append((t1 - t0) * 1e3)
            partition.append((t2 - t1) * 1e3)
    lines.append({
        "what": "raw probe: the read as built vs the partition predicate alone", "calls": len(whole),
        "read_median_ms": round(statistics.median(whole), 2),
        "partition_only_median_ms": round(statistics.median(partition), 2),
    })
    with open(out, "w") as f:
        for line in lines:
            f.write(json.dumps(line) + "\n")


if __name__ == "__main__":
    main()
