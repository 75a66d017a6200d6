"""A10 rollup substitution + U3×A10 mixed-resolution tiered splice.

Golden invariant throughout: serving a query from pre-aggregates must
be value-identical to running the same downsample over raw points
(the reference guarantees this by construction — the rollup stream IS
the downsample output, AerospikeBatchQueryNode.java:200-224).
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import BASE

HOUR = 3600
DAY = 86400


def _mixed_fleet(make_points):
    """Two metrics × two tag values, gappy, with a NaN point."""
    rows = []
    for m in ("cpu", "mem"):
        for h in ("a", "b"):
            for i in range(0, 40, 3):  # every 3 h over ~5 days
                val = float(i) if (m, h, i) != ("cpu", "a", 6) else float("nan")
                rows.append((m, {"h": h}, BASE + i * HOUR + 17, val))
    return make_points(rows)


def _collect(df):
    out = {}
    for r in df.collect():
        key = tuple(r[c] for c in df.columns if c not in ("value",))
        out[key] = r["value"]
    return out


def _assert_same(a, b):
    assert set(a) == set(b)
    for k, va in a.items():
        vb = b[k]
        if isinstance(va, float) and math.isnan(va):
            assert isinstance(vb, float) and math.isnan(vb), (k, va, vb)
        else:
            assert va == pytest.approx(vb, abs=1e-9), (k, va, vb)


@pytest.mark.parametrize("agg", ["sum", "count", "min", "max", "avg", "sumsq", "stddev", "var"])
def test_rollup_serves_same_values_as_raw(spark, make_points, agg):
    from opentsdb_aura_spark.operators.downsample import downsample
    from opentsdb_aura_spark.operators.rollup import build_rollup, downsample_from_rollup

    pts = _mixed_fleet(make_points)
    rollup = build_rollup(pts, HOUR, group_cols=("metric",))
    start, end = BASE, BASE + 2 * DAY
    direct = downsample(pts, start, end, DAY, agg, group_cols=["metric"], fill="none")
    served = downsample_from_rollup(rollup, start, end, DAY, agg, group_cols=["metric"])
    _assert_same(_collect(direct), _collect(served))


def _tiered_vs_direct(pts, boundary, agg):
    """(direct per-series downsample, per-series run over a TieredStore
    whose cold tier carries the hourly rollup) over [BASE, BASE+4d)."""
    from opentsdb_aura_spark.operators.downsample import downsample
    from opentsdb_aura_spark.operators.rollup import build_rollup
    from opentsdb_aura_spark.plans.query import MetricQuery, TieredStore, run_tiered_metric_query

    start, end = BASE, BASE + 4 * DAY
    store = TieredStore(hot=pts, cold=pts, boundary_ts=boundary, cold_rollups={HOUR: build_rollup(pts, HOUR)})
    q = MetricQuery(start=start, end=end, interval=DAY, ds_agg=agg, fill="none")
    direct = downsample(pts, start, end, DAY, agg, group_cols=["series_id"], fill="none")
    return _collect(direct), _collect(run_tiered_metric_query(store, q, dedupe=False))


@pytest.mark.parametrize("agg", ["sum", "avg", "max"])
def test_spliced_equals_direct_full_range(spark, make_points, agg):
    """Mixed-resolution splice: the cold half served from the rollup,
    the hot half from raw points, equals the raw full-range run."""
    from opentsdb_aura_spark.operators.rollup import build_rollup
    from opentsdb_aura_spark.plans.query import MetricQuery, _preagg_substitution

    pts = _mixed_fleet(make_points)
    boundary = BASE + 2 * DAY  # on the daily bucket grid
    cold_q = MetricQuery(start=BASE, end=boundary, interval=DAY, ds_agg=agg, fill="none")
    assert _preagg_substitution(pts, cold_q, rollups={HOUR: build_rollup(pts, HOUR)}) is not None
    _assert_same(*_tiered_vs_direct(pts, boundary, agg))


def test_spliced_degenerate_boundaries(spark, make_points):
    """Boundary at the range start (all hot), mid-range, and the range
    end (all cold, rollup-served) all equal the raw run."""
    pts = _mixed_fleet(make_points)
    for boundary in (BASE, BASE + DAY, BASE + 4 * DAY):
        direct, tiered = _tiered_vs_direct(pts, boundary, "sum")
        assert direct, boundary
        _assert_same(direct, tiered)


def test_two_stage_gb_avg_equals_raw(make_points):
    """avg→avg served from the rollup equals the raw two-stage path."""
    from opentsdb_aura_spark.filters import MetricLiteral
    from opentsdb_aura_spark.operators.rollup import build_rollup
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    pts = make_points(
        [("m", {"u": "a"}, BASE + i * 600, float(i % 7)) for i in range(24)]
        + [("m", {"u": "b"}, BASE + i * 600, float(i % 3)) for i in range(24)]
        + [("m", {"u": "b", "x": "2"}, BASE + i * 3600, 10.0 + i) for i in range(4)]
    )
    q = MetricQuery(start=BASE, end=BASE + 4 * 3600, interval=7200, ds_agg="avg",
                    filter=MetricLiteral("m"), group_tag_keys=["u"], gb_agg="avg",
                    fill="none")
    raw = {(r["tag_u"], r["bucket_ts"]): r["value"] for r in run_metric_query(pts, q).collect()}
    rolled = {(r["tag_u"], r["bucket_ts"]): r["value"] for r in run_metric_query(
        pts, q, rollups={3600: build_rollup(pts, 3600)}).collect()}
    assert raw.keys() == rolled.keys()
    for k in raw:
        assert abs(raw[k] - rolled[k]) < 1e-9, k


def test_histogram_rollup_percentile_bound(spark):
    """DDSketch bound: the histogram-rollup percentile is within eps
    relative error of the exact DISCRETE quantile (value at rank
    ceil(q*n)), for every (group, bucket) and several q."""
    import math
    import random

    from opentsdb_aura_spark.operators.rollup import (
        HIST_EPS,
        build_rollup_histogram,
        percentile_from_rollup_histogram,
    )

    rng = random.Random(5)
    rows = [("m", i, rng.uniform(0.5, 500.0)) for i in range(20000)]
    rows += [("m", i, -rng.uniform(0.1, 10.0)) for i in range(20000, 22000)]
    rows += [("m", 22000, 0.0)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    hist = build_rollup_histogram(df, 3600, group_cols=["metric"])
    vals = sorted(v for _, _, v in rows)
    for q in (0.05, 0.5, 0.9, 0.99):
        approx = percentile_from_rollup_histogram(
            hist, q, 0, 30000, 30000, group_cols=["metric"]
        ).first()["value"]
        exact = vals[max(0, math.ceil(q * len(vals)) - 1)]
        assert abs(approx - exact) <= HIST_EPS * abs(exact) + 1e-12, (q, approx, exact)


def test_histogram_rollup_merges_across_windows(spark):
    """Merging hourly bins into a daily bucket must equal binning the
    day directly — the mergeability property the plain percentile
    lacks."""
    from opentsdb_aura_spark.operators.rollup import (
        build_rollup_histogram,
        percentile_from_rollup_histogram,
    )

    rows = [("m", h * 3600 + s, float(h * 60 + s % 60 + 1)) for h in range(24) for s in range(0, 3600, 60)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    hourly = build_rollup_histogram(df, 3600, group_cols=["metric"])
    daily_direct = build_rollup_histogram(df, 86400, group_cols=["metric"])
    p_merged = percentile_from_rollup_histogram(hourly, 0.9, 0, 86400, 86400, group_cols=["metric"]).first()["value"]
    p_direct = percentile_from_rollup_histogram(daily_direct, 0.9, 0, 86400, 86400, group_cols=["metric"]).first()["value"]
    assert p_merged == p_direct


def test_hist_substitution_per_series_percentile(spark, make_points):
    """Planner sketch-percentile substitution: run_metric_query with
    ``hist_rollups`` serves a per-series p90 from the DDSketch bins
    within HIST_EPS of the raw-scan answer, for both the raw-series
    (G4) and grouped two-stage shapes."""
    import random

    from opentsdb_aura_spark.operators.rollup import HIST_EPS, build_rollup_histogram
    from opentsdb_aura_spark.plans.query import (
        MetricQuery,
        _preagg_substitution,
        run_metric_query,
    )

    rng = random.Random(11)
    rows = []
    for host in ("a", "b"):
        for i in range(500):
            rows.append(("cpu", {"host": host}, BASE + i * 60, rng.uniform(1.0, 100.0)))
    pts = make_points(rows)
    hist = {3600: build_rollup_histogram(pts, 3600)}

    # G4 per-series result
    q = MetricQuery(start=BASE, end=BASE + 10 * 3600, interval=3600 * 5, ds_agg="p90", fill="none")
    assert _preagg_substitution(pts, q, hist_rollups=hist) is not None
    exact = {
        (r["series_id"], r["bucket_ts"]): r["value"]
        for r in run_metric_query(pts, q).collect()
    }
    approx = {
        (r["series_id"], r["bucket_ts"]): r["value"]
        for r in run_metric_query(pts, q, hist_rollups=hist).collect()
    }
    assert set(exact) == set(approx) and exact
    for k, e in exact.items():
        assert abs(approx[k] - e) <= HIST_EPS * abs(e) + 1e-12, (k, approx[k], e)

    # grouped: per-series p90 then group max — two-stage merge
    qg = MetricQuery(
        start=BASE, end=BASE + 10 * 3600, interval=3600 * 5, ds_agg="p90",
        group_tag_keys=["host"], gb_agg="max", fill="none",
    )
    exact_g = {
        (r["tag_host"], r["bucket_ts"]): r["value"]
        for r in run_metric_query(pts, qg).collect()
    }
    approx_g = {
        (r["tag_host"], r["bucket_ts"]): r["value"]
        for r in run_metric_query(pts, qg, hist_rollups=hist).collect()
    }
    assert set(exact_g) == set(approx_g) and exact_g
    for k, e in exact_g.items():
        assert abs(approx_g[k] - e) <= HIST_EPS * abs(e) + 1e-12


def test_hist_substitution_falls_back(spark, make_points):
    """Rate stages, non-percentile aggs, and off-grid windows must NOT
    substitute (None -> raw scan serves)."""
    from opentsdb_aura_spark.operators.rate import RateOptions
    from opentsdb_aura_spark.operators.rollup import build_rollup_histogram
    from opentsdb_aura_spark.plans.query import MetricQuery, _preagg_substitution

    pts = make_points([("m", {"h": "a"}, BASE + i * 60, float(i)) for i in range(120)])
    hist = {3600: build_rollup_histogram(pts, 3600)}
    ok = MetricQuery(start=BASE, end=BASE + 7200, interval=3600, ds_agg="p90", fill="none")
    assert _preagg_substitution(pts, ok, hist_rollups=hist) is not None
    for bad in (
        MetricQuery(start=BASE, end=BASE + 7200, interval=3600, ds_agg="sum", fill="none"),
        MetricQuery(start=BASE, end=BASE + 7200, interval=3600, ds_agg="p90",
                    rate_options=RateOptions(), fill="none"),
        MetricQuery(start=BASE + 60, end=BASE + 7260, interval=3600, ds_agg="p90", fill="none"),
        MetricQuery(start=BASE, end=BASE + 7200, interval=1800, ds_agg="p90", fill="none"),
    ):
        assert _preagg_substitution(pts, bad, hist_rollups=hist) is None


def test_tiered_percentile_composes_with_hist_substitution(spark, make_points):
    """kw passthrough: a straddling percentile query on a TieredStore
    with hist_rollups serves BOTH tier sub-queries from the sketch
    bins, and the spliced result stays within eps of the raw tiered
    answer."""
    import random

    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.rollup import HIST_EPS, build_rollup_histogram
    from opentsdb_aura_spark.plans.query import (
        MetricQuery,
        TieredStore,
        run_tiered_metric_query,
    )

    rng = random.Random(3)
    rows = [
        ("cpu", {"host": h}, BASE + i * 60, rng.uniform(1.0, 50.0))
        for h in ("a", "b")
        for i in range(240)  # 4 hours
    ]
    pts = make_points(rows)
    boundary = BASE + 2 * 3600
    store = TieredStore(
        hot=pts.where(F.col("ts") >= boundary),
        cold=pts.where(F.col("ts") < boundary),
        boundary_ts=boundary,
    )
    hist = {3600: build_rollup_histogram(pts, 3600)}
    q = MetricQuery(
        start=BASE, end=BASE + 4 * 3600, interval=3600, ds_agg="p90",
        group_tag_keys=["host"], gb_agg="max", fill="none",
    )
    exact = {
        (r["tag_host"], r["bucket_ts"]): r["value"]
        for r in run_tiered_metric_query(store, q).collect()
    }
    approx = {
        (r["tag_host"], r["bucket_ts"]): r["value"]
        for r in run_tiered_metric_query(store, q, hist_rollups=hist).collect()
    }
    assert set(exact) == set(approx) and len(exact) == 8
    for k, e in exact.items():
        assert abs(approx[k] - e) <= HIST_EPS * abs(e) + 1e-12, (k, approx[k], e)


def test_hist_substitution_p999_and_custom_eps(spark, make_points):
    """p999 must hist-substitute (the 3-digit percentile is the shape
    sketches exist for), and a table built with non-default eps decodes
    correctly when hist_eps is passed — and garbage when it is not."""
    import random

    from opentsdb_aura_spark.operators.downsample import percentile_fraction as _percentile_fraction
    from opentsdb_aura_spark.operators.rollup import build_rollup_histogram
    from opentsdb_aura_spark.plans.query import (
        MetricQuery,
        _preagg_substitution,
        run_metric_query,
    )

    assert _percentile_fraction("p999") == 0.999
    assert _percentile_fraction("p90") == 0.9

    rng = random.Random(4)
    rows = [("cpu", {"h": "a"}, BASE + i * 30, rng.uniform(10.0, 1000.0)) for i in range(600)]
    pts = make_points(rows)
    q = MetricQuery(start=BASE, end=BASE + 5 * 3600, interval=5 * 3600, ds_agg="p999", fill="none")

    hist_01 = {3600: build_rollup_histogram(pts, 3600)}
    assert _preagg_substitution(pts, q, hist_rollups=hist_01) is not None

    hist_05 = {3600: build_rollup_histogram(pts, 3600, eps=0.05)}
    vals = sorted(r[3] for r in rows)
    import math

    exact = vals[max(0, math.ceil(0.999 * len(vals)) - 1)]
    good = run_metric_query(pts, q, hist_rollups=hist_05, hist_eps=0.05).first()["value"]
    assert abs(good - exact) <= 0.05 * abs(exact) + 1e-9, (good, exact)
    # decoding 0.05-eps bins with the default 0.01 gamma is garbage —
    # the hist_eps parameter exists because this failure is silent
    bad = run_metric_query(pts, q, hist_rollups=hist_05).first()["value"]
    assert abs(bad - exact) > 0.5 * abs(exact), (bad, exact)


def test_hist_substitution_picks_coarsest_aligned_interval(spark, make_points, tmp_path):
    """One interval chooser for every pre-aggregate kind: with sketch
    tables at 3600 and 86400, a day-aligned daily p90 reads the daily
    table and a 5-hour p90 the hourly one (86400 does not divide 5 h);
    both stay within eps of the raw nearest-rank answer."""
    import random

    from opentsdb_aura_spark.operators.rollup import HIST_EPS, build_rollup_histogram
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    rng = random.Random(7)
    rows = [
        ("cpu", {"host": h}, BASE + i * 600, rng.uniform(1.0, 100.0))
        for h in ("a", "b")
        for i in range(2 * DAY // 600)
    ]
    pts = make_points(rows)
    hist = {}
    for riv in (HOUR, DAY):
        path = str(tmp_path / f"hist_{riv}")
        build_rollup_histogram(pts, riv).write.parquet(path)
        hist[riv] = spark.read.parquet(path)
    ids = {r["host"]: r["series_id"] for r in pts.select("series_id", pts.tags["host"].alias("host")).distinct().collect()}

    for end, interval, want, other in (
        (BASE + 2 * DAY, DAY, f"hist_{DAY}", f"hist_{HOUR}"),
        (BASE + 5 * HOUR, 5 * HOUR, f"hist_{HOUR}", f"hist_{DAY}"),
    ):
        q = MetricQuery(start=BASE, end=end, interval=interval, ds_agg="p90", fill="none")
        res = run_metric_query(pts, q, hist_rollups=hist)
        files = " ".join(res.inputFiles())
        assert f"/{want}/" in files and f"/{other}/" not in files, (interval, files)
        got = {(r["series_id"], r["bucket_ts"]): r["value"] for r in res.collect()}
        exact = {}
        for host, sid in ids.items():
            for b in range(BASE, end, interval):
                vals = sorted(v for _, t, ts, v in rows if t["host"] == host and b <= ts < b + interval)
                exact[(sid, b)] = vals[math.ceil(0.9 * len(vals)) - 1]
        assert set(got) == set(exact), interval
        for k, e in exact.items():
            assert abs(got[k] - e) <= HIST_EPS * abs(e) + 1e-12, (interval, k, got[k], e)
