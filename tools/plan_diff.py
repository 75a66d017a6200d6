"""Dump and compare the normalised physical plans of two checkouts.

Usage:

    python tools/plan_diff.py dump <checkout> <out_dir> <dash_store> [plan ...]
    python tools/plan_diff.py compare <before_dir> <after_dir> \\
        <before_checkout> <after_checkout> <dash_store>

``dump`` plans, in one session, every ``SPARK_QUERIES`` entry at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1) as ``catalog_<name>.txt`` and
every metric entry of ``perfbench.gen.query_pool(0)`` through
``translate_query`` → ``run_metric_query`` with the rollup and histogram
tables, with and without the series dimension, as
``dash_<i>_<template>_<dim|nodim>.txt`` (331 + 140 plans).  Given plan
names (file names without ``.txt``) it dumps only those.  The plan text
is ``explain_dump.normalized_plan`` with the store paths printed as
``<sf_dir>``, ``<event_store>`` and ``<store>``, and the bucketed
table's name (an md5 of its path) as ``aura_bucketed_<md5>``.
``<dash_store>`` is built from the seed-0 dash points on first use and
reused, so two checkouts plan over the same files.

``compare`` diffs two dumps.  Some plan text depends on what the
session planned before (a multi-distinct ``Expand`` lists its
projections in expression-id order), so each plan that differs is
planned again alone, in a fresh session of each checkout, and only the
diffs that remain are reported: a summary line, the names, then one
unified diff per plan.  The exit status is 1 when a diff remains.
"""

from __future__ import annotations

import difflib
import os
import re
import subprocess
import sys
import tempfile


def dump(checkout: str, out_dir: str, store: str, only: list[str]) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from explain_dump import SF_DIR, normalized_plan

    checkout = os.path.abspath(checkout)
    for sub in ("perfbench", ""):
        sys.path.insert(0, os.path.join(checkout, sub))
    # the Python workers a query starts while it is built import the
    # package too; they inherit PYTHONPATH, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [checkout, os.environ.get("PYTHONPATH")]))
    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.catalog import SPARK_QUERIES
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    store = store.rstrip("/")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_diff")
    wanted = set(only)

    def write(name: str, df_fn) -> bool:
        if wanted and name not in wanted:
            return False
        try:
            plan = normalized_plan(df_fn())
        except Exception as ex:  # noqa: BLE001 - record the failure in place
            plan = f"EXPLAIN FAILED: {ex}"
        plan = plan.replace(store, "<store>").replace(STORE_ROOT, "<event_store>").replace(SF_DIR, "<sf_dir>")
        # the bucketed table's catalog name is a hash of its store path
        plan = re.sub(r"aura_bucketed_[0-9a-f]{10}", "aura_bucketed_<md5>", plan)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        return True

    n = sum(write(f"catalog_{q}", lambda q=q: SPARK_QUERIES[q](spark, SF_DIR)) for q in sorted(SPARK_QUERIES))
    print(f"catalog: {n} plans", flush=True)
    if wanted and not any(w.startswith("dash_") for w in wanted):
        return

    import gen
    from workloads import _raw_to_points

    from opentsdb_aura_spark.plans.opentsdb_json import translate_query
    from opentsdb_aura_spark.plans.query import run_metric_query

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
            n += write(
                f"dash_{i:02d}_{spec.template}_{tag}",
                lambda q=q, sd=sd: run_metric_query(points, q, series_dim=sd, **preaggs),
            )
    print(f"dash_small: {n} plans", flush=True)


def _read(d: str, name: str) -> str:
    with open(os.path.join(d, name)) as fh:
        return fh.read()


def _differing(before: str, after: str, names: list[str]) -> list[str]:
    return [n for n in names if _read(before, n) != _read(after, n)]


def compare(before: str, after: str, before_co: str, after_co: str, store: str) -> int:
    a_names, b_names = set(os.listdir(before)), set(os.listdir(after))
    names = sorted(a_names & b_names)
    differ = _differing(before, after, names)
    remain = differ
    if differ:
        fresh = tempfile.mkdtemp(prefix="plan_diff_fresh_")
        for side, co in (("before", before_co), ("after", after_co)):
            for n in differ:
                subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "dump", co,
                     os.path.join(fresh, side), store, n[: -len(".txt")]],
                    check=True, stdout=subprocess.DEVNULL,
                )
        before, after = os.path.join(fresh, "before"), os.path.join(fresh, "after")
        remain = _differing(before, after, differ)
    print(f"plans in both dumps: {len(names)}; in one only: {sorted(a_names ^ b_names)}")
    print(f"differ in the dumps: {len(differ)}; differ when planned alone in a fresh session: {len(remain)}")
    for n in differ:
        print(f"  {n}: {'differs' if n in remain else 'session history only'}")
    for n in remain:
        print()
        sys.stdout.writelines(
            difflib.unified_diff(
                _read(before, n).splitlines(True), _read(after, n).splitlines(True),
                f"before/{n}", f"after/{n}", n=0,
            )
        )
    return 1 if remain or a_names ^ b_names else 0


def main() -> int:
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "dump":
        dump(args[0], args[1], args[2], args[3:])
        return 0
    if cmd == "compare":
        return compare(*args[:5])
    raise SystemExit(__doc__)


if __name__ == "__main__":
    sys.exit(main())
