"""Dump .explain("formatted") for catalog queries to plans/<tag>/.

Usage: python tools/explain_dump.py <tag> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix from $PLAN_SUFFIX,
default "before").  With no query list, dumps every bench query.
Expression ids (``#123``), lambda-variable counters (``lambda x_12``)
and the per-session counters (``plan_id=``, RDD ids) are replaced by
``N``, and RDD creation call sites (which depend on the session's
history, not the plan) by ``<call site>``, so dumps of two checkouts
diff cleanly.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_SESSION_IDS = re.compile(r"(#|plan_id=|RDD\[|lambda \w+?_)\d+")
_CALL_SITES = re.compile(r"(RDD\[N\] at \w+ at )\S+:\d+")


def normalized_plan(df) -> str:
    """Formatted physical plan with expression ids, lambda-variable
    counters, per-session counters and RDD call sites normalised."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return _CALL_SITES.sub(r"\1<call site>", _SESSION_IDS.sub(r"\1N", plan))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    names = sys.argv[2:]
    suffix = os.environ.get("PLAN_SUFFIX", "before")

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.catalog import SPARK_QUERIES

    if not names:
        import bench

        names = bench.BENCH_QUERIES

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain_dump")
    for name in names:
        try:
            plan = normalized_plan(SPARK_QUERIES[name](spark, SF_DIR))
        except Exception as ex:  # noqa: BLE001 - record the failure in place
            plan = f"EXPLAIN FAILED: {ex}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")


if __name__ == "__main__":
    main()
