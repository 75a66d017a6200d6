"""Where a one-partition metric plan stops paying: time one dashboard
query over stores of growing size on both plans, in one session.

Usage: python crossover.py <work_dir> [<kind>:<points> ...]

Each argument names a store (default: ``dense`` and ``noisy`` at
64 000, 96 000, 128 000, 192 000 points, and ``dense`` at 480 000 and
1 150 000).  A store holds 48 series over 24 h (12 two-hour segments),
written through ``write_metrics_store``.  ``dense`` values are a
counter that grows with noise (about 3.7 B per point once written);
``noisy`` values are hashed doubles (about 13 B per point, like the
dashboard store).  For each store, ``ds_sum`` (sum by dc, 15-minute
buckets) and ``rate_ds_gb`` (rate → avg → sum by dc) over the whole
store are planned and collected with the bound forced to one partition
(``sources.batch._SINGLE_PARTITION_MAX_ROWS`` raised) and forced
distributed (-1): one unmeasured run of each, then 5 runs of each,
alternating.  One JSON line per (store, query): the store's bytes and
rows, the plan the module's own bound picks, both medians and their
ratio.  Run it from the checkout root with ``PYTHONPATH`` set to it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F

from opentsdb_aura_spark import get_spark
from opentsdb_aura_spark.filters import MetricLiteral
from opentsdb_aura_spark.model import normalize_points
from opentsdb_aura_spark.operators.rate import RateOptions
from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query
from opentsdb_aura_spark.sources import batch
from opentsdb_aura_spark.sources.batch import pruned_scan_rows, write_metrics_store

T0 = 1767225600
SPAN = 86400
SERIES = 48
DEFAULT = [f"{k}:{n}" for n in (64_000, 96_000, 128_000, 192_000) for k in ("dense", "noisy")] + [
    "dense:480000", "dense:1150000",
]


def build(spark, path: str, kind: str, n: int) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    per = n // SERIES
    step = SPAN / per
    s = F.col("id") % SERIES
    i = F.floor(F.col("id") / SERIES)
    if kind == "dense":
        # a counter that grows with noise, so rate and sums see varied values
        value = (i * 10 + F.abs(F.xxhash64("id")) % 100).cast("double")
    else:
        value = (F.abs(F.xxhash64("id")) % 1_000_000_007) / F.lit(7.0) + i
    raw = spark.range(per * SERIES).select(
        F.lit("ns").alias("namespace"),
        F.lit("m").alias("metric"),
        F.create_map(
            F.lit("host"), F.format_string("h%03d", s), F.lit("dc"), F.format_string("dc%d", s % 4)
        ).alias("tags"),
        (F.lit(T0) + F.floor(i * step)).cast("long").alias("ts"),
        value.alias("value"),
        F.col("id").alias("ingest_seq"),
    )
    write_metrics_store(normalize_points(raw), path)


QUERIES = {
    "ds_sum": dict(ds_agg="sum", gb_agg="sum"),
    "rate_ds_gb": dict(ds_agg="avg", gb_agg="sum", rate_options=RateOptions(interval_seconds=1)),
}


def run(pts, q, bound: int | None) -> tuple[float, str]:
    """One planned and collected run with the bound set to ``bound``
    (None: the module's own); its time and the plan taken."""
    own = batch._SINGLE_PARTITION_MAX_ROWS
    if bound is not None:
        batch._SINGLE_PARTITION_MAX_ROWS = bound
    try:
        t0 = time.perf_counter()
        df = run_metric_query(pts, q)
        df.collect()
        took = time.perf_counter() - t0
        plan = df._jdf.queryExecution().executedPlan().toString()
        return took, ("single" if "Coalesce 1" in plan else "distributed")
    finally:
        batch._SINGLE_PARTITION_MAX_ROWS = own


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def main() -> None:
    work = sys.argv[1]
    spark = get_spark("crossover")
    for arg in sys.argv[2:] or DEFAULT:
        kind, n = arg.split(":")
        path = os.path.join(work, f"store_{kind}_{n}")
        build(spark, path, kind, int(n))
        pts = spark.read.parquet(path)
        for name, kw in QUERIES.items():
            q = MetricQuery(
                start=T0, end=T0 + SPAN, interval=900, filter=MetricLiteral("m"),
                group_tag_keys=["dc"], **kw,
            )
            _, picked = run(pts, q, None)
            times: dict[int, list[float]] = {1 << 62: [], -1: []}
            for rep in range(6):
                for b in times if rep % 2 else reversed(list(times)):
                    took, _ = run(pts, q, b)
                    if rep:
                        times[b].append(took)
            single, dist = statistics.median(times[1 << 62]), statistics.median(times[-1])
            print(json.dumps({
                "store": kind, "points": pruned_scan_rows(pts), "scan_bytes": _dir_bytes(path),
                "query": name, "default_bound_picks": picked, "single_s": round(single, 4),
                "distributed_s": round(dist, 4), "single_over_distributed": round(single / dist, 3),
            }), flush=True)


if __name__ == "__main__":
    main()
