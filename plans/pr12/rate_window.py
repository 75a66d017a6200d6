"""Count the Window nodes of a grouped rate plan and hash its rows.

Usage (from the checkout root, with PYTHONPATH set to it):

    python plans/pr12/rate_window.py <checkout>

Six series (two dc groups of three hosts), 30 one-minute points each,
one NaN and one counter reset among them; the query is rate → avg
downsample (5 min) → sum group-by dc, run once over the points as
normalised (the store's ``segment_time`` column, so the segmented rate
path) and once without it (the global path).  Prints, per path, the
executed plan's ``Window`` node count, the row count and a sha256 of
the sorted rows (values to 12 significant digits).
"""

from __future__ import annotations

import hashlib
import os
import sys


def main() -> None:
    sys.path.insert(0, os.path.abspath(sys.argv[1]))
    from pyspark.sql import Row

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.filters import MetricLiteral
    from opentsdb_aura_spark.model import POINT_SCHEMA, normalize_points
    from opentsdb_aura_spark.operators.rate import RateOptions
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    spark = get_spark("rate_window")
    base = 1704067200
    rows = []
    for h in range(6):
        for i in range(30):
            v = float("nan") if (h, i) == (2, 7) else float((i % 17) * (h + 1))
            rows.append(Row(namespace="t", metric="m", tags={"host": f"h{h}", "dc": f"dc{h % 2}"},
                            ts=base + 60 * i, value=v, ingest_seq=len(rows)))
    pts = normalize_points(spark.createDataFrame(rows, POINT_SCHEMA), width=900)
    q = MetricQuery(start=base, end=base + 1800, interval=300, filter=MetricLiteral("m"), ds_agg="avg",
                    rate_options=RateOptions(interval_seconds=60), group_tag_keys=["dc"], gb_agg="sum",
                    segment_width=900)
    for path, df in (("segmented", pts), ("global", pts.drop("segment_time"))):
        res = run_metric_query(df, q)
        # 12 significant digits: the group sum's addition order is not fixed
        got = sorted(repr(tuple(f"{v:.12g}" if isinstance(v, float) else v for v in r)) for r in res.collect())
        # after the collect the adaptive plan prints its final plan first
        plan = res._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        digest = hashlib.sha256("\n".join(got).encode()).hexdigest()[:16]
        print(f"{path}: Window nodes {plan.count('Window [')}, rows {len(got)}, sha256 {digest}", flush=True)


if __name__ == "__main__":
    main()
