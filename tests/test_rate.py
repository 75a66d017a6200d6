"""Rate family golden tests — AuraMetricsNumericArrayIteratorRateTest
scenarios: plain rate, counter resets/rollover, dropResets,
resetValue, delta, rate-to-count, NaN pass-through."""

import math

from conftest import BASE, assert_close

from opentsdb_aura_spark.operators.rate import RateOptions, estimate_data_interval, rate


def _vals(df):
    return {r["ts"]: r["value"] for r in df.collect()}


def test_plain_rate(make_points):
    # counter at 10 s spacing rising by 50 → rate (per second) = 5
    pts = make_points([("m", {}, BASE + 10 * i, 50 * i) for i in range(4)])
    out = _vals(rate(pts, RateOptions(interval_seconds=1)))
    assert math.isnan(out[BASE])  # first point
    for i in range(1, 4):
        assert_close(out[BASE + 10 * i], 5.0)


def test_rate_interval_normalization(make_points):
    pts = make_points([("m", {}, BASE, 0.0), ("m", {}, BASE + 60, 120.0)])
    out = _vals(rate(pts, RateOptions(interval_seconds=60)))  # per-minute rate
    assert_close(out[BASE + 60], 120.0)


def test_delta_only(make_points):
    pts = make_points([("m", {}, BASE, 10.0), ("m", {}, BASE + 30, 25.0), ("m", {}, BASE + 60, 5.0)])
    out = _vals(rate(pts, RateOptions(delta_only=True)))
    assert_close(out[BASE + 30], 15.0)
    assert_close(out[BASE + 60], -20.0)


def test_counter_rollover(make_points):
    # reset: 100 → 2 with counter_max 128 → delta = 128-100+2 = 30, dt=10
    pts = make_points([("m", {}, BASE, 100.0), ("m", {}, BASE + 10, 2.0)])
    out = _vals(rate(pts, RateOptions(interval_seconds=1, counter=True, counter_max=128)))
    assert_close(out[BASE + 10], 3.0)


def test_counter_drop_resets(make_points):
    pts = make_points([("m", {}, BASE, 100.0), ("m", {}, BASE + 10, 2.0), ("m", {}, BASE + 20, 12.0)])
    out = _vals(rate(pts, RateOptions(interval_seconds=1, counter=True, drop_resets=True)))
    assert math.isnan(out[BASE + 10])  # reset dropped
    assert_close(out[BASE + 20], 1.0)  # next delta unaffected


def test_counter_reset_value_zeroes_spike(make_points):
    # rollover delta (1e9-100+2) exceeds reset_value 1000 → rate 0
    pts = make_points([("m", {}, BASE, 100.0), ("m", {}, BASE + 10, 2.0)])
    out = _vals(
        rate(pts, RateOptions(interval_seconds=1, counter=True, counter_max=1e9, reset_value=1000))
    )
    assert_close(out[BASE + 10], 0.0)


def test_rate_to_count(make_points):
    # dt=10, rate_interval=1 → dr=10; data_interval=5 → v * min(10, 5)
    pts = make_points([("m", {}, BASE, 7.0), ("m", {}, BASE + 10, 3.0)])
    out = _vals(rate(pts, RateOptions(rate_to_count=True, data_interval=5)))
    assert_close(out[BASE + 10], 15.0)


def test_rate_to_count_mode_estimation(make_points):
    # spacings: 10,10,30 → mode 10 (most frequent)
    pts = make_points(
        [("m", {}, BASE, 1.0), ("m", {}, BASE + 10, 1.0), ("m", {}, BASE + 20, 1.0), ("m", {}, BASE + 50, 2.0)]
    )
    est = {tuple([r["series_id"]]): r["data_interval"] for r in estimate_data_interval(pts).collect()}
    assert list(est.values()) == [10]
    out = _vals(rate(pts, RateOptions(interval_seconds=1, rate_to_count=True)))
    # last point: dr = 30, data_interval = 10 → 2 * 10 = 20
    assert_close(out[BASE + 50], 20.0)


def test_nan_passthrough_and_skip(make_points):
    # NaN point: stays NaN, does not update previous pair
    pts = make_points(
        [("m", {}, BASE, 10.0), ("m", {}, BASE + 10, float("nan")), ("m", {}, BASE + 20, 30.0)]
    )
    out = _vals(rate(pts, RateOptions(interval_seconds=1)))
    assert math.isnan(out[BASE + 10])
    assert_close(out[BASE + 20], 1.0)  # (30-10)/20, NaN invisible


def test_null_value_is_no_data_like_nan(make_points):
    # a NULL value is "no data" for the lag pair exactly like NaN: it
    # updates neither the previous ts nor the previous value
    from pyspark.sql import functions as F

    pts = make_points(
        [("m", {}, BASE, 10.0), ("m", {}, BASE + 10, float("nan")), ("m", {}, BASE + 20, 30.0)]
    ).withColumn("value", F.when(~F.isnan("value"), F.col("value")))
    out = _vals(rate(pts, RateOptions(interval_seconds=1)))
    assert out[BASE + 10] is None
    assert_close(out[BASE + 20], 1.0)  # (30-10)/20, NULL invisible


def test_per_series_isolation(make_points):
    pts = make_points(
        [("m", {"h": "a"}, BASE, 0.0), ("m", {"h": "b"}, BASE + 5, 100.0), ("m", {"h": "a"}, BASE + 10, 20.0)]
    )
    out = rate(pts, RateOptions(interval_seconds=1))
    by_series = {(r["tags"]["h"], r["ts"]): r["value"] for r in out.collect()}
    assert_close(by_series[("a", BASE + 10)], 2.0)
    assert math.isnan(by_series[("b", BASE + 5)])  # other series' first point


def test_duplicate_ts_without_dedupe_yields_nan(make_points):
    """Undeduped duplicate timestamps: dt=0 must give NaN, not an
    ANSI divide-by-zero error."""
    pts = make_points([("m", {}, BASE, 1.0, 0), ("m", {}, BASE, 2.0, 1), ("m", {}, BASE + 10, 3.0, 2)])
    out = rate(pts, RateOptions(interval_seconds=1)).collect()
    vals = [r["value"] for r in sorted(out, key=lambda r: (r["ts"], r["ingest_seq"]))]
    assert math.isnan(vals[0])
    assert math.isnan(vals[1])  # dt=0 → NaN
    assert not math.isnan(vals[2])


# ------------------------------------------------- series across segments


def _seg_cases():
    """Multi-segment fleet: previous points in an earlier segment, a
    multi-segment gap, NaNs at segment edges, three series (segments
    are 7200 s wide)."""
    rows = []
    # series a: points straddling 3 segments, incl. a NaN as the last
    # point of segment 0 (boundary must skip it)
    rows += [
        ("m", {"h": "a"}, BASE + 100, 1.0),
        ("m", {"h": "a"}, BASE + 7000, 5.0),
        ("m", {"h": "a"}, BASE + 7100, float("nan")),
        ("m", {"h": "a"}, BASE + 7300, 9.0),  # segment 1: prev = (7000, 5)
        ("m", {"h": "a"}, BASE + 7200 * 3 + 50, 11.0),  # gap: prev in segment 1
    ]
    # series b: single point per segment
    rows += [("m", {"h": "b"}, BASE + 7200 * i + 10, 10.0 * i) for i in range(4)]
    # series c: NaN-only first segment
    rows += [("m", {"h": "c"}, BASE + 20, float("nan")), ("m", {"h": "c"}, BASE + 7200 + 20, 3.0)]
    return rows


def test_rate_across_segments_values(make_points):
    pts = make_points(_seg_cases())
    out = rate(pts, RateOptions(interval_seconds=1))
    got = {(r["tags"]["h"], r["ts"]): r["value"] for r in out.collect()}
    # segment-1 first point: prev is (7000, 5) — NaN at 7100 skipped
    assert_close(got[("a", BASE + 7300)], (9.0 - 5.0) / 300.0)
    # multi-segment gap: prev = (7300, 9) two segments back
    assert_close(got[("a", BASE + 7200 * 3 + 50)], (11.0 - 9.0) / (7200 * 3 + 50 - 7300))
    # NaN-only first segment: series c's 2nd point still has no prev
    assert math.isnan(got[("c", BASE + 7200 + 20)])
    assert math.isnan(got[("a", BASE + 7100)])  # NaN passes through
