"""Downsample golden tests — the scenario matrix of
AuraMetricsNumericArrayIteratorTest (agg × interval × run-all ×
infectious-NaN), hand-computed expectations."""

import math

from conftest import BASE, assert_close, rows_by

from opentsdb_aura_spark.operators.downsample import downsample

NAN = float("nan")


def test_constant_series_minute_sums(make_points):
    # 1 point/second, value 1.0, for 10 minutes → every 60 s bucket sums to 60
    pts = make_points([("m", {"h": "a"}, BASE + i, 1.0) for i in range(600)])
    res = downsample(pts, BASE, BASE + 600, 60, "sum")
    vals = rows_by(res, "bucket_ts")
    assert len(vals) == 10
    for b in range(10):
        assert_close(vals[BASE + b * 60], 60.0)


def test_avg_min_max_count_last(make_points):
    # values 1..5 at 10 s spacing inside one bucket
    pts = make_points([("m", {"h": "a"}, BASE + 10 * i, i + 1) for i in range(5)])
    for agg, want in [("avg", 3.0), ("min", 1.0), ("max", 5.0), ("count", 5.0), ("last", 5.0), ("sum", 15.0)]:
        res = downsample(pts, BASE, BASE + 60, 60, agg)
        assert_close(rows_by(res, "bucket_ts")[BASE], want), agg


def test_gappy_series_nan_spine(make_points):
    # points at +0, +60, +180, +240 s; 1-minute buckets over 5 minutes
    pts = make_points([("m", {}, BASE + off, 2.0) for off in (0, 60, 180, 240)])
    res = downsample(pts, BASE, BASE + 300, 60, "sum")
    vals = rows_by(res, "bucket_ts")
    assert len(vals) == 5
    assert_close(vals[BASE], 2.0)
    assert_close(vals[BASE + 60], 2.0)
    assert_close(vals[BASE + 120], NAN)  # empty interval → NaN, not absent
    assert_close(vals[BASE + 180], 2.0)
    assert_close(vals[BASE + 240], 2.0)


def test_start_aligned_buckets(make_points):
    # query start NOT aligned to the interval: buckets align to start
    pts = make_points([("m", {}, BASE + i * 30, 1.0) for i in range(8)])  # 0..210 s
    res = downsample(pts, BASE + 30, BASE + 210, 60, "sum")
    vals = rows_by(res, "bucket_ts")
    # buckets: [30,90) [90,150) [150,210) each holding 2 points
    assert set(vals) == {BASE + 30, BASE + 90, BASE + 150}
    for v in vals.values():
        assert_close(v, 2.0)


def test_run_all_single_bucket(make_points):
    pts = make_points([("m", {}, BASE + i * 3600, 2.5) for i in range(24)])
    res = downsample(pts, BASE, BASE + 86400, None, "sum", run_all=True)
    vals = rows_by(res, "bucket_ts")
    assert list(vals) == [BASE]
    assert_close(vals[BASE], 60.0)


def test_nan_values_skipped(make_points):
    pts = make_points(
        [("m", {}, BASE, 1.0), ("m", {}, BASE + 10, float("nan")), ("m", {}, BASE + 20, 3.0)]
    )
    res = downsample(pts, BASE, BASE + 60, 60, "sum")
    assert_close(rows_by(res, "bucket_ts")[BASE], 4.0)
    res = downsample(pts, BASE, BASE + 60, 60, "count")
    assert_close(rows_by(res, "bucket_ts")[BASE], 2.0)
    res = downsample(pts, BASE, BASE + 60, 60, "last")
    assert_close(rows_by(res, "bucket_ts")[BASE], 3.0)


def test_infectious_nan(make_points):
    pts = make_points(
        [("m", {}, BASE, 1.0), ("m", {}, BASE + 10, float("nan")), ("m", {}, BASE + 70, 3.0)]
    )
    res = downsample(pts, BASE, BASE + 120, 60, "sum", infectious_nan=True)
    vals = rows_by(res, "bucket_ts")
    assert_close(vals[BASE], NAN)  # poisoned interval
    assert_close(vals[BASE + 60], 3.0)  # clean interval unaffected


def test_reporting_average(make_points):
    # sum=15 over the interval, reporting dps=60 → 0.25
    pts = make_points([("m", {}, BASE + 10 * i, i + 1) for i in range(5)])
    res = downsample(pts, BASE, BASE + 60, 60, "sum", reporting_dps=60)
    assert_close(rows_by(res, "bucket_ts")[BASE], 0.25)


def test_end_exclusive(make_points):
    pts = make_points([("m", {}, BASE, 1.0), ("m", {}, BASE + 60, 100.0)])
    res = downsample(pts, BASE, BASE + 60, 60, "sum")
    vals = rows_by(res, "bucket_ts")
    assert list(vals) == [BASE]
    assert_close(vals[BASE], 1.0)


def test_percentile_and_sumsq(make_points):
    pts = make_points([("m", {}, BASE + i, v) for i, v in enumerate([1.0, 2.0, 3.0, 4.0])])
    res = downsample(pts, BASE, BASE + 60, 60, "sumsq")
    assert_close(rows_by(res, "bucket_ts")[BASE], 30.0)
    res = downsample(pts, BASE, BASE + 60, 60, "median")
    assert_close(rows_by(res, "bucket_ts")[BASE], 2.5)


def test_custom_aggregator_registry(make_points):
    """UD1 — pluggable downsample aggregator looked up by name."""
    import pyspark.sql.functions as F

    from opentsdb_aura_spark.operators.downsample import register_aggregator

    register_aggregator("gmean", lambda v: F.exp(F.avg(F.log(v))))
    pts = make_points([("m", {}, BASE + i, v) for i, v in enumerate([2.0, 8.0])])
    res = downsample(pts, BASE, BASE + 60, 60, "gmean")
    assert_close(rows_by(res, "bucket_ts")[BASE], 4.0)


def test_fill_policies(make_points):
    """A8 — spine fill policies: NaN (default), zero, null."""
    pts = make_points([("m", {}, BASE + off, 2.0) for off in (0, 120)])
    for fill, want_mid in [("nan", float("nan")), ("zero", 0.0), ("null", None)]:
        res = downsample(pts, BASE, BASE + 180, 60, "sum", fill=fill)
        vals = rows_by(res, "bucket_ts")
        assert len(vals) == 3
        assert_close(vals[BASE + 60], want_mid)


def test_spine_from_dim_emits_all_nan_groups(make_points):
    """A8 meta-driven spine: a filter-matched series with zero
    in-range points emits all-NaN rows when the spine universe comes
    from the meta index (spine_from_dim=True), and nothing by default
    (the round-1 result-derived contract)."""
    from opentsdb_aura_spark.filters import MetricLiteral
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    # user a has points inside [BASE, BASE+120); user b only BEFORE it
    pts = make_points(
        [("m", {"user": "a"}, BASE + off, 1.0) for off in (0, 60)]
        + [("m", {"user": "b"}, BASE - 600, 5.0)]
    )
    q = MetricQuery(
        start=BASE, end=BASE + 120, interval=60, ds_agg="sum",
        filter=MetricLiteral("m"), group_tag_keys=["user"], gb_agg="sum",
    )
    default = run_metric_query(pts, q)
    assert {r["tag_user"] for r in default.collect()} == {"a"}

    from_dim = run_metric_query(pts, q, spine_from_dim=True)
    rows = {(r["tag_user"], r["bucket_ts"]): r["value"] for r in from_dim.collect()}
    assert {u for u, _ in rows} == {"a", "b"}
    assert all(math.isnan(rows[("b", BASE + i * 60)]) for i in range(2))
    assert rows[("a", BASE)] == 1.0


def test_spine_from_dim_raw_per_series(make_points):
    """Same contract on the raw per-series (G4) path, dim supplied."""
    from opentsdb_aura_spark.filters import MetricLiteral
    from opentsdb_aura_spark.operators.meta import build_series_dim
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    pts = make_points(
        [("m", {"user": "a"}, BASE, 1.0), ("m", {"user": "b"}, BASE - 600, 5.0)]
    )
    dim = build_series_dim(pts)
    q = MetricQuery(start=BASE, end=BASE + 60, interval=60, ds_agg="sum",
                    filter=MetricLiteral("m"))
    res = run_metric_query(pts, q, series_dim=dim, spine_from_dim=True)
    vals = {r["series_id"]: r["value"] for r in res.collect()}
    assert len(vals) == 2
    assert sorted(v for v in vals.values() if not math.isnan(v)) == [1.0]
    assert sum(1 for v in vals.values() if math.isnan(v)) == 1


def test_fill_spine_preserves_null_group_values(make_points):
    """A series missing the grouped tag forms a NULL-keyed group; the
    spine join must be null-safe or the whole group's computed values
    silently become the fill value."""
    import math

    from pyspark.sql import functions as F

    rows = [
        ("m", {"host": "a"}, BASE, 5.0),
        ("m", {}, BASE, 10.0),  # no host tag -> NULL group
        ("m", {}, BASE + 30, 20.0),
    ]
    pts = make_points(rows).withColumn("tag_host", F.col("tags")["host"])
    res = downsample(pts, BASE, BASE + 120, 60, "sum", group_cols=["tag_host"], fill="nan")
    got = {(r["tag_host"], r["bucket_ts"]): r["value"] for r in res.collect()}
    assert got[("a", BASE)] == 5.0
    assert got[(None, BASE)] == 30.0  # NOT NaN: the null group's values survive
    assert math.isnan(got[(None, BASE + 60)])
    assert math.isnan(got[("a", BASE + 60)])


def test_custom_aggregator_name_starting_with_p(make_points):
    """Registry names are arbitrary: a custom aggregator called
    'pmean' must dispatch to the registry, not the percentile parser."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.downsample import register_aggregator

    register_aggregator("pmean", lambda v: F.avg(v))
    pts = make_points([("m", {}, BASE + i, float(i)) for i in range(4)])
    res = downsample(pts, BASE, BASE + 60, 60, "pmean", group_cols=[], fill="none")
    assert res.collect()[0]["value"] == 1.5


# ---------------------------------------------------------------- fill_spine edges
# One pass (cells gathered per group, then the bucket sequence exploded)
# must give the same grid the spine-join form gave on every edge below.

_G_SCHEMA = "g string, bucket_ts long, value double"
_A_SCHEMA = "bucket_ts long, value double"
_GRID = [BASE + 60 * i for i in range(5)]  # [BASE, BASE + 300) at 60 s


def _spine_rows(df):
    """Sorted rows with NaN spelled "NaN" so grids compare with ==."""
    out = [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r) for r in df.collect()]
    return sorted(out, key=repr)


def _edge_result(spark):
    """One row per (group, bucket), the fill_spine input contract; every
    edge at once: a NULL group, a NaN and a NULL value on the grid,
    off-grid / before-window / at-end rows, a NULL bucket."""
    return spark.createDataFrame(
        [("a", BASE, 1.0), (None, BASE + 60, 2.0), (None, BASE + 120, NAN), ("a", BASE + 240, None),
         ("b", BASE + 30, 9.0), ("b", BASE - 60, 8.0), ("b", BASE + 300, 7.0), ("c", None, 5.0)],
        _G_SCHEMA,
    )


def test_fill_spine_empty_group_all_is_full_grid(spark):
    from opentsdb_aura_spark.operators.downsample import fill_spine

    res = fill_spine(spark.createDataFrame([], _A_SCHEMA), BASE, BASE + 300, 60, [])
    assert res.columns == ["bucket_ts", "value"]
    assert _spine_rows(res) == [(b, "NaN") for b in _GRID]


def test_fill_spine_empty_grouped_is_empty(spark):
    from opentsdb_aura_spark.operators.downsample import fill_spine

    res = fill_spine(spark.createDataFrame([], _G_SCHEMA), BASE, BASE + 300, 60, ["g"])
    assert res.columns == ["g", "bucket_ts", "value"]
    assert res.collect() == []


def test_fill_spine_edges_per_fill(spark):
    """NULL group key kept; off-grid, out-of-window and NULL-bucket rows
    add no cell but their group still gets its grid; a NULL value takes
    the fill, a NaN value stays NaN; zero / null fills."""
    from opentsdb_aura_spark.operators.downsample import fill_spine

    for fill, f in (("nan", "NaN"), ("zero", 0.0), ("null", None)):
        res = fill_spine(_edge_result(spark), BASE, BASE + 300, 60, ["g"], fill=fill)
        assert res.columns == ["g", "bucket_ts", "value"]
        want = {(g, b): f for g in ("a", "b", "c", None) for b in _GRID}
        want[("a", BASE)], want[(None, BASE + 60)], want[(None, BASE + 120)] = 1.0, 2.0, "NaN"
        assert _spine_rows(res) == sorted(((g, b, v) for (g, b), v in want.items()), key=repr), fill


def test_fill_spine_group_all_edges(spark):
    from opentsdb_aura_spark.operators.downsample import fill_spine

    rows = [(BASE, 1.0), (BASE + 30, 9.0), (BASE - 60, 8.0), (BASE + 300, 7.0), (None, 5.0), (BASE + 120, None)]
    res = fill_spine(spark.createDataFrame(rows, _A_SCHEMA), BASE, BASE + 300, 60, [], fill="zero")
    assert _spine_rows(res) == [(BASE, 1.0)] + [(b, 0.0) for b in _GRID[1:]]


def test_fill_spine_spine_groups_universe(spark):
    """The meta-driven universe decides the groups: a group with no
    points is all-NaN, a result group outside it is dropped, and a NULL
    universe key matches the NULL result group."""
    from opentsdb_aura_spark.operators.downsample import fill_spine

    groups = spark.createDataFrame([("a",), ("d",), (None,)], "g string")
    res = fill_spine(_edge_result(spark), BASE, BASE + 300, 60, ["g"], spine_groups=groups)
    want = {(g, b): "NaN" for g in ("a", "d", None) for b in _GRID}
    want[("a", BASE)], want[(None, BASE + 60)] = 1.0, 2.0
    assert _spine_rows(res) == sorted(((g, b, v) for (g, b), v in want.items()), key=repr)
