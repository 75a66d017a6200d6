"""Group-by merge + meta query tests — AerospikeGBTimeSeriesTest /
NewDocStore meta scenarios."""

import math

from conftest import BASE, assert_close, two_stage_reference

from opentsdb_aura_spark.filters import MetricLiteral
from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins
from opentsdb_aura_spark.operators.meta import (
    build_series_dim,
    cardinality,
    distinct_metrics,
    distinct_tag_keys,
    distinct_tag_values,
    tag_keys_and_values,
)
from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

NAN = float("nan")


def _fleet(make_points):
    # 4 series: host×dc, 1/min for 4 min, value = host index
    rows = []
    for i, (host, dc) in enumerate([("a", "e"), ("b", "e"), ("c", "w"), ("d", "w")]):
        for m in range(4):
            rows.append(("cpu", {"host": host, "dc": dc}, BASE + 60 * m, float(i + 1)))
    return make_points(rows)


def test_group_by_tag_sum(make_points):
    pts = _fleet(make_points)
    q = MetricQuery(start=BASE, end=BASE + 240, interval=60, ds_agg="sum", group_tag_keys=["dc"], gb_agg="sum")
    res = run_metric_query(pts, q)
    vals = {(r["tag_dc"], r["bucket_ts"]): r["value"] for r in res.collect()}
    for m in range(4):
        assert_close(vals[("e", BASE + 60 * m)], 3.0)  # 1+2
        assert_close(vals[("w", BASE + 60 * m)], 7.0)  # 3+4


def test_group_all_avg(make_points):
    pts = _fleet(make_points)
    q = MetricQuery(start=BASE, end=BASE + 240, interval=60, ds_agg="avg", group_tag_keys=[], gb_agg="avg")
    res = run_metric_query(pts, q)
    vals = {r["bucket_ts"]: r["value"] for r in res.collect()}
    for m in range(4):
        assert_close(vals[BASE + 60 * m], 2.5)


def test_group_count_contributing_series(make_points):
    # series c has no point in minute 2 → count drops to 3 there
    rows = []
    for i, host in enumerate(["a", "b", "c"]):
        for m in range(3):
            if host == "c" and m == 1:
                continue
            rows.append(("cpu", {"host": host}, BASE + 60 * m, 1.0))
    pts = make_points(rows)
    q = MetricQuery(start=BASE, end=BASE + 180, interval=60, ds_agg="sum", group_tag_keys=[], gb_agg="count")
    vals = {r["bucket_ts"]: r["value"] for r in run_metric_query(pts, q).collect()}
    assert_close(vals[BASE], 3.0)
    assert_close(vals[BASE + 60], 2.0)
    assert_close(vals[BASE + 120], 3.0)


def test_group_nan_interval_spine(make_points):
    # nobody has data in minute 1 → group interval NaN via spine
    rows = [("cpu", {"host": h}, BASE, 1.0) for h in "ab"] + [
        ("cpu", {"host": h}, BASE + 120, 1.0) for h in "ab"
    ]
    pts = make_points(rows)
    q = MetricQuery(start=BASE, end=BASE + 180, interval=60, ds_agg="sum", group_tag_keys=[], gb_agg="sum")
    vals = {r["bucket_ts"]: r["value"] for r in run_metric_query(pts, q).collect()}
    assert_close(vals[BASE], 2.0)
    assert math.isnan(vals[BASE + 60])
    assert_close(vals[BASE + 120], 2.0)


def test_two_stage_avg_differs_from_flat(make_points):
    # series a: 2 points (1, 3); series b: 1 point (10) in same bucket
    pts = make_points(
        [("m", {"h": "a"}, BASE, 1.0), ("m", {"h": "a"}, BASE + 10, 3.0), ("m", {"h": "b"}, BASE + 20, 10.0)]
    )
    q = MetricQuery(start=BASE, end=BASE + 60, interval=60, ds_agg="avg", group_tag_keys=[], gb_agg="avg")
    vals = {r["bucket_ts"]: r["value"] for r in run_metric_query(pts, q).collect()}
    assert_close(vals[BASE], 6.0)  # avg(avg(1,3), 10) = avg(2,10) — NOT flat avg 14/3


def test_series_dim_and_meta(make_points):
    pts = dedupe_last_write_wins(_fleet(make_points))
    dim = build_series_dim(pts)
    assert dim.count() == 4
    assert {r["metric"] for r in distinct_metrics(dim).collect()} == {"cpu"}
    keys = {r["tag_key"]: r["series_count"] for r in distinct_tag_keys(dim).collect()}
    assert keys == {"host": 4, "dc": 4}
    vals = {r["tag_value"]: r["series_count"] for r in distinct_tag_values(dim, "dc").collect()}
    assert vals == {"e": 2, "w": 2}
    kv = {(r["tag_key"], r["tag_value"]): r["series_count"] for r in tag_keys_and_values(dim).collect()}
    assert kv[("dc", "e")] == 2 and kv[("host", "a")] == 1
    card = cardinality(dim, MetricLiteral("cpu")).collect()[0]["cardinality"]
    assert card == 4


def test_last_value_in_series_dim(make_points):
    pts = make_points(
        [("m", {}, BASE, 1.0, 0), ("m", {}, BASE + 60, 2.0, 1), ("m", {}, BASE + 60, 7.0, 2)]
    )
    dim = build_series_dim(dedupe_last_write_wins(pts))
    row = dim.collect()[0]
    assert row["last_ts"] == BASE + 60
    assert_close(row["last_value"], 7.0)  # last write wins on the dupe
    assert row["first_seen"] == BASE


# ------------------------------------------- fused ds+gb fast path


def _gnarly_fleet(make_points):
    """NaNs, gaps, a missing grouped tag, uneven series lengths."""
    rows = []
    fleet = [("a", "e"), ("b", "e"), ("c", "w"), ("d", None)]
    for i, (host, dc) in enumerate(fleet):
        tags = {"host": host} if dc is None else {"host": host, "dc": dc}
        for m in range(6):
            if (i, m) in {(0, 2), (2, 4)}:
                continue  # gaps
            val = NAN if (i, m) in {(1, 1), (3, 3), (0, 4), (2, 1)} else float(i * 10 + m)
            rows.append(("cpu", tags, BASE + 60 * m + 7 * i, val))
    return make_points(rows)


def _vals(df):
    out = {}
    for r in df.collect():
        out[(r["tag_dc"], r["bucket_ts"])] = r["value"]
    return out


def test_fused_group_agg_matches_two_stage(make_points):
    """(sum,sum) / (count,sum) / (min,min) / (max,max), with and
    without infectious NaN, must be value-identical between the
    planner's single-shot plan and the per-series-then-merge
    composition of the public operators."""
    pts = _gnarly_fleet(make_points)
    for ds_agg, gb_agg in [("sum", "sum"), ("count", "sum"), ("min", "min"), ("max", "max"),
                           ("zimsum", "zimsum"), ("mimmax", "mimmax")]:
        for infectious in (False, True):
            q = MetricQuery(
                start=BASE, end=BASE + 360, interval=120, ds_agg=ds_agg,
                group_tag_keys=["dc"], gb_agg=gb_agg, infectious_nan=infectious,
            )
            fused = _vals(run_metric_query(pts, q))
            twostage = _vals(two_stage_reference(pts, q))
            assert set(fused) == set(twostage), (ds_agg, gb_agg, infectious)
            for k, v in twostage.items():
                got = fused[k]
                if isinstance(v, float) and math.isnan(v):
                    assert math.isnan(got), (ds_agg, gb_agg, infectious, k, got, v)
                else:
                    assert_close(got, v)


def test_fused_group_agg_with_rate_and_shift(make_points):
    pts = _gnarly_fleet(make_points)
    from opentsdb_aura_spark.operators.rate import RateOptions

    q = MetricQuery(
        start=BASE + 60, end=BASE + 360, interval=60, ds_agg="sum",
        group_tag_keys=["dc"], gb_agg="sum", shift_seconds=60,
        rate_options=RateOptions(interval_seconds=60),
    )
    fused = _vals(run_metric_query(pts, q))
    twostage = _vals(two_stage_reference(pts, q))
    assert set(fused) == set(twostage)
    for k, v in twostage.items():
        got = fused[k]
        if isinstance(v, float) and math.isnan(v):
            assert math.isnan(got)
        else:
            assert_close(got, v)


def test_fused_group_agg_saves_a_shuffle(make_points):
    pts = _fleet(make_points)
    q = MetricQuery(start=BASE, end=BASE + 240, interval=60, ds_agg="sum",
                    group_tag_keys=["dc"], gb_agg="sum", fill="none")
    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")
    fused = exchanges(run_metric_query(pts, q))
    twostage = exchanges(two_stage_reference(pts, q))
    assert fused < twostage, (fused, twostage)


def test_unfusable_combo_goes_two_stage(make_points):
    """avg must NOT fuse (group avg-of-avgs != flat avg): verify the
    planner's result equals the two-stage operator composition."""
    pts = _gnarly_fleet(make_points)
    q = MetricQuery(start=BASE, end=BASE + 360, interval=120, ds_agg="avg",
                    group_tag_keys=["dc"], gb_agg="avg")
    a = _vals(run_metric_query(pts, q))
    b = _vals(two_stage_reference(pts, q))
    assert set(a) == set(b)
    for k, v in b.items():
        got = a[k]
        if isinstance(v, float) and math.isnan(v):
            assert math.isnan(got)
        else:
            assert_close(got, v)


# ------------------------------------------- M4 + U3 unit coverage


def test_list_timeseries_filter_and_cap(make_points):
    from opentsdb_aura_spark.operators.meta import list_timeseries

    pts = _fleet(make_points)
    dim = build_series_dim(dedupe_last_write_wins(pts))
    rows = list_timeseries(dim, MetricLiteral("cpu")).collect()
    assert len(rows) == 4
    assert {r["tags"]["host"] for r in rows} == {"a", "b", "c", "d"}
    assert len(list_timeseries(dim, MetricLiteral("cpu"), limit=2).collect()) == 2
    assert list_timeseries(dim, MetricLiteral("nope")).count() == 0


def test_splice_hot_cold_routes_by_boundary(make_points):
    from opentsdb_aura_spark.plans.query import splice_hot_cold

    hot = _fleet(make_points)  # values 1..4
    cold = hot.withColumn("value", hot["value"] * 100)  # distinguishable
    boundary = BASE + 120
    out = splice_hot_cold(hot=hot, cold=cold, boundary_ts=boundary)
    got = {(r["tags"]["host"], r["ts"]): r["value"] for r in out.collect()}
    assert len(got) == 16  # no duplicates at the boundary
    for (host, ts), v in got.items():
        if ts < boundary:
            assert v >= 100.0, (host, ts, v)  # cold side
        else:
            assert v < 100.0, (host, ts, v)  # hot side


def test_epoch_presence_and_active_series(make_points):
    """T6 — presence table: one row per (series, epoch) with data;
    active_series counts from presence only."""
    from opentsdb_aura_spark.operators.meta import active_series, build_epoch_presence

    pts = make_points(
        [("m1", {"h": "a"}, BASE + off, 1.0) for off in (0, 10, 7200)]  # epochs 0,1
        + [("m1", {"h": "b"}, BASE + 3 * 7200, 1.0)]  # epoch 3 only
        + [("m2", {"h": "a"}, BASE, 1.0)]
    )
    pres = build_epoch_presence(pts, epoch_width=7200)
    rows = {(r["metric"], r["epoch"]): r["n_points"] for r in pres.collect()}
    assert rows[("m1", BASE)] == 2  # two points in first epoch
    assert rows[("m1", BASE + 7200)] == 1
    assert len(rows) == 4

    # window covering epochs 0-1: series a active, b not
    act = {r["metric"]: r["active_series"] for r in
           active_series(pres, BASE, BASE + 2 * 7200, epoch_width=7200).collect()}
    assert act == {"m1": 1, "m2": 1}
    # window covering epoch 3 only
    act = {r["metric"]: r["active_series"] for r in
           active_series(pres, BASE + 3 * 7200, BASE + 4 * 7200, epoch_width=7200).collect()}
    assert act == {"m1": 1}


def test_presence_pruning_preserves_results(make_points):
    """Presence semi-join is pure pruning: identical result values."""
    from opentsdb_aura_spark.filters import MetricLiteral
    from opentsdb_aura_spark.operators.meta import build_epoch_presence
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    pts = make_points(
        [("m", {"h": "a"}, BASE + i * 60, float(i)) for i in range(10)]
        + [("m", {"h": "b"}, BASE - 7200, 99.0)]  # outside the scanned range
    )
    pres = build_epoch_presence(pts, epoch_width=7200)
    q = MetricQuery(start=BASE, end=BASE + 600, interval=300, ds_agg="sum",
                    filter=MetricLiteral("m"), group_tag_keys=[], gb_agg="sum")
    plain = {r["bucket_ts"]: r["value"] for r in run_metric_query(pts, q).collect()}
    pruned = {r["bucket_ts"]: r["value"] for r in
              run_metric_query(pts, q, presence=pres, presence_epoch_width=7200).collect()}
    assert plain == pruned


def test_presence_hll_merges_across_epochs(make_points):
    """The HLL presence rollup is MERGEABLE: unioning hourly sketches
    over a range gives (estimate-wise) the same cardinality as the
    exact distinct count — the property plain COUNT(DISTINCT)
    pre-aggregates lack, and the reason the table can serve arbitrary
    query ranges at 100 TB without raw rescans."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.meta import (
        build_presence_hll,
        cardinality_from_presence_hll,
    )

    # 6 series x 5 hours, plus 2 series present only in hour 0
    rows = []
    for s in range(6):
        for h in range(5):
            rows.append(("cpu", {"host": f"h{s}"}, BASE + 3600 * h + 60 * s, 1.0))
    for s in range(6, 8):
        rows.append(("cpu", {"host": f"h{s}"}, BASE + 60 * s, 1.0))
    pts = make_points(rows)
    hll = build_presence_hll(pts, 3600, group_cols=("metric",))
    assert hll.columns == ["metric", "epoch", "hll", "n_points"]
    # 5 hourly sketch rows for cpu
    assert hll.count() == 5

    # full range: all 8 series
    full = cardinality_from_presence_hll(
        hll, BASE, BASE + 5 * 3600, group_cols=("metric",)
    ).collect()
    assert len(full) == 1 and full[0]["active_series"] == 8
    # hours 1-4 only: the two hour-0-only series drop out
    tail = cardinality_from_presence_hll(
        hll, BASE + 3600, BASE + 5 * 3600, group_cols=("metric",)
    ).collect()
    assert tail[0]["active_series"] == 6


def test_presence_hll_bucketed_estimates(make_points):
    """bucket_width splits the range into query-grid buckets, each
    estimated from its own union of finer sketch epochs."""
    from opentsdb_aura_spark.operators.meta import (
        build_presence_hll,
        cardinality_from_presence_hll,
    )

    rows = []
    for s in range(4):
        for h in range(4):
            rows.append(("cpu", {"host": f"h{s}"}, BASE + 3600 * h, 1.0))
    pts = make_points(rows)
    hll = build_presence_hll(pts, 3600, group_cols=("metric",))
    out = cardinality_from_presence_hll(
        hll, BASE, BASE + 4 * 3600, bucket_width=7200, group_cols=("metric",)
    )
    assert out.columns == ["metric", "bucket_ts", "active_series"]
    got = {r["bucket_ts"]: r["active_series"] for r in out.collect()}
    assert got == {BASE: 4, BASE + 7200: 4}

    # a bucket_width that is not a multiple of the epoch width would
    # floor-assign straddling epochs and skew per-bucket estimates —
    # must raise when epoch_width is declared
    import pytest

    with pytest.raises(ValueError, match="multiple of epoch_width"):
        cardinality_from_presence_hll(
            hll, BASE, BASE + 4 * 3600, bucket_width=5400,
            group_cols=("metric",), epoch_width=3600,
        )
