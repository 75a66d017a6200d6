"""Rate over a week with a 1 Hz hot series: a parent/change A/B.

The store holds 7 days in 2 h segments: one hot series at 1 Hz
(604 800 points) and 2 000 series at 60 s (20.16 M points), 20.8 M
points in all, one metric, four ``dc`` values.  The query is the
dashboard flagship over the whole week: dedupe → rate (1 s) → 5 min
``avg`` downsample → ``sum`` by ``dc``.

Usage, from any directory:

    python plans/pr14/hot_series_week.py ab <before_checkout> <after_checkout> <work_dir> [pairs=5]
    python plans/pr14/hot_series_week.py run <checkout> <work_dir>

``ab`` builds ``<work_dir>/store`` once (with the after checkout) and
then runs ``run`` in a new process per side, alternating which side
goes first in each pair.  ``run`` times the query once unmeasured and
once measured (collect of the 8 064 result rows) and prints one JSON
line; its rows go to ``<work_dir>/rows_<side>.json`` so ``ab`` can check
that both sides give the same rows (values to 1e-9, relative).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

BASE = 1704067200  # segment-aligned
DAYS = 7
HOT = DAYS * 86400  # 1 Hz
SERIES = 2000
STEP = 60


def _session(checkout: str):
    sys.path.insert(0, os.path.abspath(checkout))
    os.environ["PYTHONPATH"] = os.path.abspath(checkout)
    from opentsdb_aura_spark import get_spark

    return get_spark("hot_series_week")


def build(checkout: str, store: str) -> None:
    spark = _session(checkout)
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.model import normalize_points
    from opentsdb_aura_spark.sources.batch import write_metrics_store

    n = HOT + SERIES * (DAYS * 86400 // STEP)
    hot = F.col("id") < HOT
    j = F.col("id") - HOT
    sid = j % SERIES
    ts = F.when(hot, F.lit(BASE) + F.col("id")).otherwise(F.lit(BASE) + (j / SERIES).cast("long") * STEP)
    raw = spark.range(n).select(
        F.lit("bench").alias("namespace"),
        F.lit("net.bytes").alias("metric"),
        F.map_from_arrays(
            F.array(F.lit("host"), F.lit("dc")),
            F.array(
                F.when(hot, F.lit("hot")).otherwise(F.concat(F.lit("h"), sid.cast("string"))),
                F.when(hot, F.lit("dc0")).otherwise(F.concat(F.lit("dc"), (sid % 4).cast("string"))),
            ),
        ).alias("tags"),
        ts.cast("long").alias("ts"),
        # a counter with noise: rates are positive and vary
        ((ts - F.lit(BASE)) * 3.0 + F.rand(seed=7) * 2.0).alias("value"),
        F.col("id").alias("ingest_seq"),
    )
    write_metrics_store(normalize_points(raw, width=7200), store)


def run(checkout: str, work_dir: str, side: str) -> dict:
    spark = _session(checkout)
    from opentsdb_aura_spark.filters import MetricLiteral
    from opentsdb_aura_spark.operators.rate import RateOptions
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    store = spark.read.parquet(os.path.join(work_dir, "store"))
    q = MetricQuery(
        start=BASE, end=BASE + DAYS * 86400, interval=300, ds_agg="avg",
        filter=MetricLiteral("net.bytes"), rate_options=RateOptions(interval_seconds=1),
        group_tag_keys=["dc"], gb_agg="sum", fill="none",
    )
    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        rows = run_metric_query(store, q).collect()
        times.append(time.perf_counter() - t0)
    with open(os.path.join(work_dir, f"rows_{side}.json"), "w") as fh:
        json.dump(sorted((r["tag_dc"], r["bucket_ts"], r["value"]) for r in rows), fh)
    return {"side": side, "warm_s": round(times[0], 2), "query_s": round(times[1], 2), "rows": len(rows)}


def _same(a: list, b: list) -> bool:
    def eq(x, y):
        if isinstance(x, float) and isinstance(y, float):
            if math.isnan(x) or math.isnan(y):
                return math.isnan(x) and math.isnan(y)
            return abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
        return x == y

    return len(a) == len(b) and all(eq(x, y) for ra, rb in zip(a, b) for x, y in zip(ra, rb))


def ab(before: str, after: str, work_dir: str, pairs: int) -> None:
    store = os.path.join(work_dir, "store")
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        subprocess.run([sys.executable, __file__, "build", after, store], check=True)
    sides = {"before": before, "after": after}
    for i in range(pairs):
        order = ("before", "after") if i % 2 == 0 else ("after", "before")
        for side in order:
            out = subprocess.run(
                [sys.executable, __file__, "run", sides[side], work_dir, side],
                check=True, capture_output=True, text=True,
            ).stdout.strip().splitlines()[-1]
            print(json.dumps({"pair": i, **json.loads(out)}), flush=True)
        rows = [json.load(open(os.path.join(work_dir, f"rows_{s}.json"))) for s in sides]
        print(json.dumps({"pair": i, "rows_equal": _same(*rows)}), flush=True)


def main() -> None:
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "ab":
        ab(args[0], args[1], args[2], int(args[3]) if len(args) > 3 else 5)
    elif cmd == "build":
        build(args[0], args[1])
    elif cmd == "run":
        print(json.dumps(run(args[0], args[1], args[2] if len(args) > 2 else "run")))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
