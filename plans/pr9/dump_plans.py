"""Dump the normalised physical plan of every catalog query and of every
dash_small metric pool entry, one file per plan.

Usage (from the checkout to dump):

    PYTHONPATH=<checkout> python plans/pr9/dump_plans.py <checkout> <out_dir> <dash_store>

Catalog: every ``SPARK_QUERIES`` entry at ``$SPARK_GRAFT_SF_DIR``
(default sf0.1).  dash_small: the metric entries of
``perfbench.gen.query_pool(0)`` planned through ``translate_query`` →
``run_metric_query`` with the rollup and histogram tables, with and
without the series dimension (the rate plans, the flagship
``rate_ds_gb`` among them, are in this set).  ``<dash_store>`` is built
on first use and reused, so two checkouts plan over the same files.
Store paths print as ``<sf_dir>``, ``<event_store>`` and ``<store>``;
compare two dumps with ``compare_plans.py``.
"""

from __future__ import annotations

import os
import sys

checkout, out_dir, store = sys.argv[1], sys.argv[2], sys.argv[3].rstrip("/")
sys.path.insert(0, checkout)
sys.path.insert(0, os.path.join(checkout, "tools"))
sys.path.insert(0, os.path.join(checkout, "perfbench"))

from explain_dump import SF_DIR, normalized_plan  # noqa: E402

from opentsdb_aura_spark import get_spark  # noqa: E402
from opentsdb_aura_spark.catalog import SPARK_QUERIES  # noqa: E402
from opentsdb_aura_spark.sources.batch import STORE_ROOT  # noqa: E402

os.makedirs(out_dir, exist_ok=True)
spark = get_spark("dump_plans")


def write(name: str, df_fn) -> None:
    try:
        plan = normalized_plan(df_fn())
    except Exception as ex:  # noqa: BLE001 - record the failure in place
        plan = f"EXPLAIN FAILED: {ex}"
    plan = plan.replace(store, "<store>").replace(STORE_ROOT, "<event_store>").replace(SF_DIR, "<sf_dir>")
    with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
        fh.write(plan)


names = sorted(SPARK_QUERIES)
for n in names:
    write(f"catalog_{n}", lambda n=n: SPARK_QUERIES[n](spark, SF_DIR))
print(f"catalog: {len(names)} plans", flush=True)

# ------------------------------------------------------------ dash_small pool
import gen  # noqa: E402
from workloads import _raw_to_points  # noqa: E402

from opentsdb_aura_spark.plans.opentsdb_json import translate_query  # noqa: E402
from opentsdb_aura_spark.plans.query import run_metric_query  # noqa: E402

paths = {k: os.path.join(store, k) for k in ("metrics", "series_dim", "rollup_3600", "rollup_hist_3600")}
if not os.path.exists(os.path.join(paths["rollup_hist_3600"], "_SUCCESS")):
    import pyarrow.parquet as pq

    from opentsdb_aura_spark.model import normalize_points
    from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins
    from opentsdb_aura_spark.operators.meta import build_series_dim
    from opentsdb_aura_spark.operators.rollup import build_rollup, build_rollup_histogram
    from opentsdb_aura_spark.sources.batch import write_metrics_store

    os.makedirs(store, exist_ok=True)
    raw = os.path.join(store, "raw.parquet")
    pq.write_table(gen.dash_points(0), raw)
    pts = normalize_points(_raw_to_points(spark.read.parquet(raw)), width=gen.SEGMENT_WIDTH)
    write_metrics_store(dedupe_last_write_wins(pts), paths["metrics"])
    stored = spark.read.parquet(paths["metrics"])
    build_series_dim(stored).write.parquet(paths["series_dim"])
    build_rollup(stored, gen.HOUR).write.parquet(paths["rollup_3600"])
    build_rollup_histogram(stored, gen.HOUR).write.parquet(paths["rollup_hist_3600"])

points = spark.read.parquet(paths["metrics"])
dim = spark.read.parquet(paths["series_dim"])
preaggs = {
    "rollups": {gen.HOUR: spark.read.parquet(paths["rollup_3600"])},
    "hist_rollups": {gen.HOUR: spark.read.parquet(paths["rollup_hist_3600"])},
}
head = gen.T0 + gen.DASH["span"]
n = 0
for i, spec in enumerate(gen.query_pool(0)):
    if spec.template.startswith("meta_"):
        continue
    end = head - spec.end_back
    end -= end % spec.interval
    q = translate_query(gen.query_json(spec, end), now=end, segment_width=gen.SEGMENT_WIDTH)
    for tag, sd in (("dim", dim), ("nodim", None)):
        write(f"dash_{i:02d}_{spec.template}_{tag}", lambda q=q, sd=sd: run_metric_query(points, q, series_dim=sd, **preaggs))
        n += 1
print(f"dash_small: {n} plans", flush=True)
