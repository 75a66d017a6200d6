"""Count codegen compiles over a dashboard session, phase by phase.

Usage (from the checkout root, with PYTHONPATH set to it):

    python plans/pr12/compile_counts.py <checkout> <dash_store>

``<dash_store>`` is the seed-0 store that ``tools/plan_diff.py dump``
builds.  The session runs the metric entries of
``perfbench.gen.query_pool(0)`` through ``QueryRunner.run`` (translate →
plan → render), in these phases:

- ``first pass``: the first pass's metric templates (7 queries);
- ``identical pass``: the same 7 queries again;
- ``moved pass``: the same 7 with every window moved by one interval;
- ``pool sweep``: the pool's other metric entries;
- ``first pass again``: the first 7 once more.

Per phase it prints the compile count (``CodegenMetrics`` compilation
histogram) in all and by template, the compile time and the wall
time; at the end the session's
total compiles, the entries the codegen cache holds (total − held =
entries evicted), its size bound and the JVM's Metaspace use.  One JSON
line per phase and one for the session.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    checkout, store = os.path.abspath(sys.argv[1]), sys.argv[2].rstrip("/")
    for sub in ("perfbench", ""):
        sys.path.insert(0, os.path.join(checkout, sub))
    os.environ["PYTHONPATH"] = checkout
    import gen
    from tracing import NullTracer
    from workloads import QueryRunner

    from opentsdb_aura_spark import get_spark

    spark = get_spark("compile_counts")
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def cache_size() -> int:
        cls = jvm.java.lang.Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
        field = cls.getDeclaredField("cache")
        field.setAccessible(True)
        return field.get(cls.getField("MODULE$").get(None)).size()

    def metaspace_mb() -> float:
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
            if pool.getName() == "Metaspace":
                return pool.getUsage().getUsed() / 2**20
        return float("nan")

    read = spark.read.parquet
    runner = QueryRunner(
        NullTracer(), read(f"{store}/metrics"), read(f"{store}/series_dim"),
        {"rollups": {gen.HOUR: read(f"{store}/rollup_3600")},
         "hist_rollups": {gen.HOUR: read(f"{store}/rollup_hist_3600")}},
    )
    head = gen.T0 + gen.DASH["span"]

    def window_end(spec, moved: int = 0) -> int:
        end = head - spec.end_back
        return end - end % spec.interval - moved * spec.interval

    pool = [s for s in gen.query_pool(0) if not s.template.startswith("meta_")]
    n_first = len(gen.TEMPLATES) - 2  # the pool is filtered to metric templates above
    first, rest = pool[:n_first], pool[n_first:]

    def phase(name: str, specs, moved: int = 0) -> None:
        n0, ns0, t0 = hist.getCount(), codegen.compileTime(), time.perf_counter()
        by_template: dict[str, int] = {}
        for s in specs:
            n = hist.getCount()
            runner.run(s, window_end(s, moved))
            by_template[s.template] = by_template.get(s.template, 0) + hist.getCount() - n
        print(json.dumps({
            "phase": name, "queries": len(specs), "compiles": hist.getCount() - n0,
            "compile_ms": round((codegen.compileTime() - ns0) / 1e6, 1),
            "wall_s": round(time.perf_counter() - t0, 2), "by_template": by_template,
        }), flush=True)

    phase("first pass", first)
    phase("identical pass", first)
    phase("moved pass", first, moved=1)
    phase("pool sweep", rest)
    phase("first pass again", first)
    total = hist.getCount()
    held = cache_size()
    print(json.dumps({
        "session_compiles": total, "cache_entries": held, "evicted": total - held,
        "cache_max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries", "100"),
        "compile_ms": round(codegen.compileTime() / 1e6, 1), "metaspace_mb": round(metaspace_mb(), 1),
    }), flush=True)


if __name__ == "__main__":
    main()
