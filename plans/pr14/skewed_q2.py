"""q2 of ``tools/scale_validation.py`` alone: a parent/change A/B.

The store is the one ``tools/scale_validation.py`` builds (24 h, 2 h
segments, 4 501 series; the rows with ``id % 10 == 0`` all go to one
hot series, about 579 rows on each of its 8 640 timestamps at 50 M).
The query is that script's q2: rate (60 s) → 5 min ``avg`` downsample
→ ``sum`` by ``dc`` over metric_0, timed as is (``dedupe=False``) and
over deduped points.

Usage, from any directory:

    python plans/pr14/skewed_q2.py ab <before_checkout> <after_checkout> <work_dir> [pairs=5] [n_million=50]
    python plans/pr14/skewed_q2.py run <checkout> <work_dir> [side]

``ab`` builds ``<work_dir>/store`` once (with the after checkout), then
runs ``run`` in a new process per side, alternating which side goes
first in each pair.  ``run`` runs each variant once unmeasured and once
measured (a ``noop`` write, as ``tools/scale_validation.py`` times it)
and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

BASE = 1704067200  # segment-aligned


def _session(checkout: str):
    sys.path.insert(0, os.path.abspath(checkout))
    os.environ["PYTHONPATH"] = os.path.abspath(checkout)
    from opentsdb_aura_spark import get_spark

    return get_spark("skewed_q2")


def build(checkout: str, store: str, n: int) -> None:
    spark = _session(checkout)
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.model import normalize_points
    from opentsdb_aura_spark.sources.batch import write_metrics_store

    # the same rows as tools/scale_validation.py
    hot = F.col("id") % 10 == 0
    raw = spark.range(n).select(
        F.lit("bench").alias("namespace"),
        F.when(hot, F.lit("metric_0")).otherwise(
            F.concat(F.lit("metric_"), (F.col("id") % 20).cast("string"))
        ).alias("metric"),
        F.map_from_arrays(
            F.array(F.lit("host"), F.lit("dc")),
            F.array(
                F.when(hot, F.lit("h0")).otherwise(F.concat(F.lit("h"), (F.col("id") % 5000).cast("string"))),
                F.element_at(F.array(F.lit("east"), F.lit("west")), (F.col("id") % 2 + 1).cast("int")),
            ),
        ).alias("tags"),
        (F.lit(BASE) + (F.col("id") % 86400)).cast("long").alias("ts"),
        (F.rand(seed=7) * 100).alias("value"),
        F.col("id").alias("ingest_seq"),
    )
    write_metrics_store(normalize_points(raw, width=7200), store, reshuffle=False)


def run(checkout: str, work_dir: str, side: str) -> dict:
    spark = _session(checkout)
    from opentsdb_aura_spark.filters import Chain, MetricLiteral
    from opentsdb_aura_spark.operators.rate import RateOptions
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    store = spark.read.parquet(os.path.join(work_dir, "store"))
    q2 = MetricQuery(
        start=BASE, end=BASE + 86400, interval=300, ds_agg="avg",
        filter=Chain("AND", [MetricLiteral("metric_0")]),
        rate_options=RateOptions(interval_seconds=60),
        group_tag_keys=["dc"], gb_agg="sum", fill="none",
    )
    out = {"side": side}
    for name, dedupe in (("q2_as_is_s", False), ("q2_dedupe_s", True)):
        for _ in range(2):
            t0 = time.perf_counter()
            run_metric_query(store, q2, dedupe=dedupe).write.mode("overwrite").format("noop").save()
            out[name] = round(time.perf_counter() - t0, 2)
    return out


def ab(before: str, after: str, work_dir: str, pairs: int, n: int) -> None:
    store = os.path.join(work_dir, "store")
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        subprocess.run([sys.executable, __file__, "build", after, store, str(n)], check=True)
    sides = {"before": before, "after": after}
    for i in range(pairs):
        for side in ("before", "after") if i % 2 == 0 else ("after", "before"):
            line = subprocess.run(
                [sys.executable, __file__, "run", sides[side], work_dir, side],
                check=True, capture_output=True, text=True,
            ).stdout.strip().splitlines()[-1]
            print(json.dumps({"pair": i, **json.loads(line)}), flush=True)


def main() -> None:
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "ab":
        pairs = int(args[3]) if len(args) > 3 else 5
        n = int(float(args[4]) * 1_000_000) if len(args) > 4 else 50_000_000
        ab(args[0], args[1], args[2], pairs, n)
    elif cmd == "build":
        build(args[0], args[1], int(args[2]))
    elif cmd == "run":
        print(json.dumps(run(args[0], args[1], args[2] if len(args) > 2 else "run")))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
