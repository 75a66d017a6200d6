"""One partition for a dashboard-sized read (``sources.batch.single_partition_read``).

A metric, pre-aggregate or meta read whose pruned files hold at most
``sources.batch._SINGLE_PARTITION_MAX_ROWS`` rows is coalesced to one
partition, so the whole answer plans with no ``Exchange``.  The rule is
turned off by lowering that bound (a negative value: no read is that
small), which these tests do inside try/finally.
"""

from __future__ import annotations

import math
import re
from contextlib import contextmanager

import pytest

from conftest import BASE
from opentsdb_aura_spark.filters import Chain, MetricLiteral, TagLiteralOr
from opentsdb_aura_spark.operators.meta import cardinality, distinct_tag_values
from opentsdb_aura_spark.operators.rate import RateOptions
from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query
from opentsdb_aura_spark.sources import batch
from opentsdb_aura_spark.sources.batch import pruned_scan_rows

HOUR = 3600
SEG = 7200
SPAN = 6 * HOUR  # three segments


@contextmanager
def bound(value: int):
    """Run the block with the single-partition bound set to ``value`` rows."""
    own = batch._SINGLE_PARTITION_MAX_ROWS
    batch._SINGLE_PARTITION_MAX_ROWS = value
    try:
        yield
    finally:
        batch._SINGLE_PARTITION_MAX_ROWS = own


def distributed():
    return bound(-1)


def _points(spark, rows):
    from opentsdb_aura_spark.model import POINT_SCHEMA

    return spark.createDataFrame(rows, POINT_SCHEMA)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A small store written by two ``process_batch`` appends, with:
    a NaN, a NULL value, a (series, ts) pair written in both appends
    (the later one must win), a series with no ``dc`` tag (a NULL
    group key), a hot series holding half the gauge points, a counter
    with a reset, and the hourly rollup and histogram tables."""
    from opentsdb_aura_spark.operators.rollup import build_rollup, build_rollup_histogram
    from opentsdb_aura_spark.streaming.ingest import StreamingIngest

    root = tmp_path_factory.mktemp("single_partition")
    ing = StreamingIngest(
        str(root / "metrics"), str(root / "dim"), retention_seconds=30 * 86400,
        segment_width=SEG, now_fn=lambda: BASE + SPAN,
    )
    rows, seq = [], 0

    def add(metric, tags, ts, value):
        nonlocal seq
        rows.append(("t", metric, tags, int(ts), value, seq))
        seq += 1

    hosts = [("h0", "dc0"), ("h1", "dc0"), ("h2", "dc1"), ("h3", "dc1"), ("h4", None)]
    for h, dc in hosts:
        tags = {"host": h, **({"dc": dc} if dc else {})}
        step = 15 if h == "h0" else 120  # h0 is the hot series
        for i, ts in enumerate(range(BASE, BASE + SPAN, step)):
            add("cpu", tags, ts, float((i * 7 + len(h)) % 50))
            add("lat", tags, ts, float((i * 13) % 97) + 0.5)
        for i, ts in enumerate(range(BASE, BASE + SPAN, 60)):
            add("ctr", tags, ts, float(i * 3 if i < 200 else (i - 200) * 2))
    add("cpu", {"host": "h1", "dc": "dc0"}, BASE + 601, float("nan"))
    add("cpu", {"host": "h2", "dc": "dc1"}, BASE + 602, None)
    ing.process_batch(_points(spark, rows), 0)
    # the same (series, ts) again with a later arrival: it must replace
    # the first append's value
    ing.process_batch(_points(spark, [("t", "cpu", {"host": "h1", "dc": "dc0"}, BASE + 1200, 999.0, seq)]), 1)

    stored = spark.read.parquet(str(root / "metrics"))
    build_rollup(stored, HOUR).write.parquet(str(root / "rollup"))
    build_rollup_histogram(stored, HOUR).write.parquet(str(root / "hist"))
    return {
        "points": str(root / "metrics"), "dim": str(root / "dim"),
        "rollup": str(root / "rollup"), "hist": str(root / "hist"),
    }


def _reads(spark, store):
    pts = spark.read.parquet(store["points"])
    dim = spark.read.parquet(store["dim"])
    preaggs = {
        "rollups": {HOUR: spark.read.parquet(store["rollup"])},
        "hist_rollups": {HOUR: spark.read.parquet(store["hist"])},
    }
    return pts, dim, preaggs


_DC = ["dc"]
#: the seven dashboard template shapes: (ds_agg, gb_agg, group keys, rate, shift, interval)
SHAPES = {
    "ds_sum": dict(ds_agg="sum", gb_agg="sum", group_tag_keys=_DC, metric="cpu"),
    "gb_avg_avg": dict(ds_agg="avg", gb_agg="avg", group_tag_keys=_DC, metric="cpu"),
    "rate_ds_gb": dict(ds_agg="avg", gb_agg="sum", group_tag_keys=_DC, metric="ctr",
                       rate_options=RateOptions(interval_seconds=1)),
    "per_series": dict(ds_agg="avg", group_tag_keys=None, metric="cpu"),
    "shift": dict(ds_agg="sum", gb_agg="sum", group_tag_keys=_DC, metric="cpu", shift_seconds=HOUR),
    "rollup_hourly": dict(ds_agg="sum", gb_agg="sum", group_tag_keys=_DC, metric="cpu", interval=HOUR),
    "p90_hist": dict(ds_agg="p90", gb_agg="max", group_tag_keys=_DC, metric="lat", interval=HOUR),
}
GROUPED_RAW = ("ds_sum", "gb_avg_avg", "rate_ds_gb", "shift")


def _query(shape: str, start: int, end: int, *, dcs=None) -> MetricQuery:
    kw = dict(SHAPES[shape])
    flt = MetricLiteral(kw.pop("metric"))
    if dcs:
        flt = Chain("AND", [flt, TagLiteralOr("dc", list(dcs))])
    kw.setdefault("interval", 900)
    return MetricQuery(start=start, end=end, filter=flt, **kw)


def _norm(rows) -> list[tuple]:
    """Order-free rows; values to 10 significant digits (a sum's
    addition order follows the partitioning)."""

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else float(f"{v:.10g}")
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs(spark, df, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dashboard_read_plans_without_exchange_and_runs_one_job(spark, store):
    pts, dim, _ = _reads(spark, store)
    df = run_metric_query(pts, _query("ds_sum", BASE, BASE + HOUR), series_dim=dim)
    plan = _plan(df)
    assert "Coalesce 1" in plan, plan
    assert "Exchange" not in plan, plan
    assert _jobs(spark, df, "single_partition_ds_sum") == 1


def test_lowered_bound_keeps_the_distributed_plan(spark, store):
    pts, dim, _ = _reads(spark, store)
    with distributed():
        df = run_metric_query(pts, _query("ds_sum", BASE, BASE + HOUR), series_dim=dim)
    plan = _plan(df)
    assert "Coalesce" not in plan, plan
    assert "Exchange hashpartitioning" in plan, plan


def test_probe_reads_the_pruned_scan(spark, store):
    from pyspark.sql import functions as F

    pts, _, _ = _reads(spark, store)
    seg = pts.where(F.col("segment_time") == F.lit(BASE))
    one, whole = pruned_scan_rows(seg), pruned_scan_rows(pts)
    # the footers' counts are the files' rows
    assert (one, whole) == (seg.count(), pts.count())
    assert 0 < one < whole
    # a bound between one segment's files and the whole store's
    with bound((one + whole) // 2):
        small = run_metric_query(pts, _query("ds_sum", BASE, BASE + HOUR))
        large = run_metric_query(pts, _query("ds_sum", BASE, BASE + SPAN))
    assert "Coalesce 1" in _plan(small) and "Exchange" not in _plan(small)
    assert "Coalesce" not in _plan(large) and "Exchange hashpartitioning" in _plan(large)


def test_in_memory_or_non_parquet_frame_keeps_its_plan(spark, make_points, tmp_path):
    pts = make_points([("cpu", {"host": "a", "dc": "x"}, BASE + i, float(i)) for i in range(10)])
    assert pruned_scan_rows(pts) is None
    plan = _plan(run_metric_query(pts, _query("ds_sum", BASE, BASE + HOUR)))
    assert "Coalesce" not in plan, plan
    pts.write.json(str(tmp_path / "json"))
    assert pruned_scan_rows(spark.read.schema(pts.schema).json(str(tmp_path / "json"))) is None


def test_unreadable_footer_counts_nothing(tmp_path):
    """A file pyarrow cannot read gives no count, so the read keeps the
    distributed plan rather than failing the query."""
    assert batch._parquet_rows((tmp_path / "gone.parquet").as_uri()) is None
    assert batch._parquet_rows("nosuchfs://host/part-0.parquet") is None


@pytest.mark.parametrize("shape", GROUPED_RAW)
def test_grouped_raw_dedupe_is_a_hash_aggregate(spark, store, shape):
    """The group keys are dedupe keys, so the dedupe carries no map-typed
    ``max_by(tags)`` and plans as a hash aggregate on both paths."""
    pts, dim, _ = _reads(spark, store)
    for gate in (True, False):
        if gate:
            plan = _plan(run_metric_query(pts, _query(shape, BASE, BASE + SPAN), series_dim=dim))
        else:
            with distributed():
                plan = _plan(run_metric_query(pts, _query(shape, BASE, BASE + SPAN), series_dim=dim))
        assert "SortAggregate" not in plan, plan
        assert re.search(r"HashAggregate\(keys=\[series_id#\d+L?, ts#\d+L?, tag_dc", plan), plan


WINDOWS = {
    "whole": (BASE, BASE + SPAN),
    "late": (BASE + 2 * HOUR, BASE + 5 * HOUR),
    "empty": (BASE - 2 * 86400, BASE - 86400),
}


def _answers(spark, store):
    pts, dim, preaggs = _reads(spark, store)
    out = {}
    for shape in SHAPES:
        for wname, (start, end) in WINDOWS.items():
            for dcs in (None, ("dc1",)):
                q = _query(shape, start, end, dcs=dcs)
                out[(shape, wname, dcs)] = _norm(run_metric_query(pts, q, series_dim=dim, **preaggs).collect())
    for dcs in (None, ("dc1",)):
        flt = Chain("AND", [MetricLiteral("cpu"), *([TagLiteralOr("dc", list(dcs))] if dcs else [])])
        out[("tag_values", dcs)] = _norm(distinct_tag_values(dim, "host", flt).collect())
        out[("cardinality", dcs)] = _norm(cardinality(dim, flt).collect())
    return out


def test_single_partition_parity(spark, store):
    """Every template shape and both meta calls give the same rows on
    the one-partition path and the distributed one."""
    single = _answers(spark, store)
    with distributed():
        dist = _answers(spark, store)
    assert single.keys() == dist.keys()
    for k in single:
        assert single[k] == dist[k], k
    # the fixture's edges reach the answers
    assert single[("ds_sum", "empty", None)] == []
    per_series = single[("per_series", "whole", None)]
    assert len({r[0] for r in per_series}) == 5
    groups = {r[0] for r in single[("ds_sum", "whole", None)]}
    assert groups == {None, "dc0", "dc1"}
    assert single[("cardinality", None)] == [(5,)]

    # the second append's value replaced the first one's (other values are < 50)
    pts, _, _ = _reads(spark, store)
    h1 = Chain("AND", [MetricLiteral("cpu"), TagLiteralOr("host", ["h1"])])
    q = MetricQuery(start=BASE, end=BASE + HOUR, filter=h1, interval=900, ds_agg="max", fill="none")
    got = {r["bucket_ts"]: r["value"] for r in run_metric_query(pts, q).collect()}
    assert got[BASE + 900] == 999.0, got


def test_meta_reads_take_one_partition(spark, store):
    _, dim, _ = _reads(spark, store)
    flt = MetricLiteral("cpu")
    for df in (distinct_tag_values(dim, "host", flt), cardinality(dim, flt)):
        plan = _plan(df)
        assert "Coalesce 1" in plan and "Exchange" not in plan, plan


def test_rate_plans_one_window_over_one_scan(spark, store):
    """Rate is one window per series over the query's one scan, also on
    the distributed path and over a store of several segments: no
    second scan feeds a per-segment boundary table."""
    pts, _, _ = _reads(spark, store)
    assert pts.select("segment_time").distinct().count() >= 2
    with distributed():
        plan = _plan(run_metric_query(pts, _query("rate_ds_gb", BASE, BASE + SPAN)))
    assert len(re.findall(r"FileScan parquet .*" + re.escape(store["points"]), plan)) == 1, plan
    windows = re.findall(r"Window \[.*?\], \[(.*?)\], \[", plan)
    assert len(windows) == 1, plan
    assert re.fullmatch(r"series_id#\d+L?", windows[0]), windows
