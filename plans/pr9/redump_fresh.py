"""Dump the normalised plans of a few catalog queries in a fresh session.

Usage (from the checkout to dump):

    PYTHONPATH=<checkout> python plans/pr9/redump_fresh.py <checkout> <out_dir> <query> [...]

``dump_plans.py`` plans every catalog query in one session.  A few
plans (the ``Expand`` of a multi-distinct aggregate) order their
projections by expression ids, so their text depends on what the
session planned before.  Planning them alone in a new session of each
checkout separates that from a change of the code.
"""

from __future__ import annotations

import os
import sys

checkout, out_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, checkout)
sys.path.insert(0, os.path.join(checkout, "tools"))

from explain_dump import SF_DIR, normalized_plan  # noqa: E402

from opentsdb_aura_spark import get_spark  # noqa: E402
from opentsdb_aura_spark.catalog import SPARK_QUERIES  # noqa: E402
from opentsdb_aura_spark.sources.batch import STORE_ROOT  # noqa: E402

os.makedirs(out_dir, exist_ok=True)
spark = get_spark("redump_fresh")
for n in sys.argv[3:]:
    plan = normalized_plan(SPARK_QUERIES[n](spark, SF_DIR))
    plan = plan.replace(STORE_ROOT, "<event_store>").replace(SF_DIR, "<sf_dir>")
    with open(os.path.join(out_dir, f"catalog_{n}.txt"), "w") as fh:
        fh.write(plan)
