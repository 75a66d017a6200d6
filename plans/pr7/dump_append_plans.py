"""Dump the normalised physical plans of the frontier, capture-index and
sidecar appends that ``streaming_crawl_ingest`` makes.

Usage (from the checkout to dump, so Python workers import the same code):

    PYTHONPATH=<checkout> python plans/pr7/dump_append_plans.py <checkout> <suffix> <work_dir>

Two micro-batches run (``maxFilesPerTrigger=1``); the plans of the
SECOND batch's appends are written next to this script as
``<sink>_append_<suffix>.txt``, so the anti-join against the stored
table is in them.  ``<work_dir>`` is wiped first and printed as
``<work>``.
"""

from __future__ import annotations

import os
import shutil
import sys

checkout, suffix, work = sys.argv[1], sys.argv[2], sys.argv[3].rstrip("/")
sys.path.insert(0, checkout)
sys.path.insert(0, os.path.join(checkout, "tools"))

from explain_dump import normalized_plan  # noqa: E402
from pyspark.sql.readwriter import DataFrameWriter  # noqa: E402

from opentsdb_aura_spark import get_spark  # noqa: E402
from opentsdb_aura_spark.operators import containers as C  # noqa: E402
from opentsdb_aura_spark.operators.htmltext import render_fixture_html  # noqa: E402
from opentsdb_aura_spark.operators.robots import parse_robots_files  # noqa: E402
from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest  # noqa: E402

SINKS = {"frontier": "frontier", "cdx": "cdx", "docs_quality": "quality", "docs_lang": "lang"}
plans: dict[str, str] = {}
_parquet = DataFrameWriter.parquet


def _recording_parquet(self, path, *args, **kwargs):
    name = os.path.basename(str(path).rstrip("/"))
    if name in SINKS and getattr(self, "_df", None) is not None:
        plans[SINKS[name]] = normalized_plan(self._df).replace(work, "<work>")
    return _parquet(self, path, *args, **kwargs)


DataFrameWriter.parquet = _recording_parquet
shutil.rmtree(work, ignore_errors=True)
os.makedirs(work + "/in")
spark = get_spark("dump_append_plans")


def rec(doc_id):
    payload = C.encode_http_response(
        doc_id, render_fixture_html(doc_id, f"page {doc_id} words enough here").encode()
    )
    return C.encode_warc_record(
        "response", f"urn:uuid:doc-{doc_id}", payload,
        target_uri=f"http://example.com/doc/{doc_id}",
        content_type="application/http;msgtype=response",
    )


rules = work + "/robots_rules"
parse_robots_files(
    spark.createDataFrame(
        [("example.com", "User-agent: *\nDisallow: /next\n")], "host string, content string"
    )
).write.parquet(rules)
schema = "file_id long, content binary"
for i, ids in enumerate([(0, 1), (1, 2)]):  # batch 2 redelivers doc-1
    spark.createDataFrame(
        [(i, b"".join(rec(d) for d in ids))], schema
    ).coalesce(1).write.parquet(f"{work}/in/b{i}")
D = 16
stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(work + "/in/*")
streaming_crawl_ingest(
    stream, work + "/index", work + "/docs", work + "/ckpt",
    http_html=True, frontier_path=work + "/frontier", robots_rules_path=rules,
    url_prefilter_gate=True, xml_discovery=True, cdx_path=work + "/cdx",
    quality_model={"weights": [0.1] * D, "bias": 0.0, "n_features": D, "binary": True},
    lang_models={"models": {"a": ([0.1] * D, 0.0), "b": ([0.0] * D, 1.0)}, "n_features": D, "n": 3},
).awaitTermination(300)
out_dir = os.path.dirname(os.path.abspath(__file__))
for sink, plan in sorted(plans.items()):
    with open(os.path.join(out_dir, f"{sink}_append_{suffix}.txt"), "w") as fh:
        fh.write(plan)
    print(f"wrote {sink}_append_{suffix}.txt ({len(plan)} chars)")
spark.stop()
