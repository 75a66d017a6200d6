"""Metric-store queries, base family: downsample (A1-A11), as-of
join, rate (R1-R5), and group-by (G1-G4).

Split from the monolithic catalog.py (round 5) and again from the
1,361-line metric.py (round 7): registration side-effects only —
query names, oracles, behavior, and registration order unchanged
(catalog.py imports metric → metric_analytic → metric_serving).
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import (  # shared underscore helpers
    _bucket_sql,
    _ds_by_metric,
    _ds_by_metric_sql,
    _mq,
    _r,
)


# ============================================================ downsample (A1-A11)


@register("ds_sum_daily", _ds_by_metric_sql(DAY, "sum(value)", "sum_value", 4))
def ds_sum_daily(spark, sf_dir):
    """A1 — downsample SUM, daily buckets per metric."""
    return _ds_by_metric(spark, sf_dir, DAY, "sum", "sum_value", 4)


@register("ds_avg_hourly", _ds_by_metric_sql(HOUR, "avg(value)", "avg_value", 6))
def ds_avg_hourly(spark, sf_dir):
    """A2 — downsample AVG (sum/count), hourly buckets per metric."""
    return _ds_by_metric(spark, sf_dir, HOUR, "avg", "avg_value", 6)


@register("ds_count_daily", _ds_by_metric_sql(DAY, "CAST(count(value) AS DOUBLE)", "count_value", 4))
def ds_count_daily(spark, sf_dir):
    """A3 — downsample COUNT of non-NaN values."""
    return _ds_by_metric(spark, sf_dir, DAY, "count", "count_value", 4)


@register("ds_min_daily", _ds_by_metric_sql(DAY, "min(value)", "min_value", 4))
def ds_min_daily(spark, sf_dir):
    """A4 — downsample MIN (alias mimmin)."""
    return _ds_by_metric(spark, sf_dir, DAY, "mimmin", "min_value", 4)


@register("ds_max_daily", _ds_by_metric_sql(DAY, "max(value)", "max_value", 4))
def ds_max_daily(spark, sf_dir):
    """A4 — downsample MAX (alias mimmax)."""
    return _ds_by_metric(spark, sf_dir, DAY, "mimmax", "max_value", 4)


@register("ds_p90_daily", _ds_by_metric_sql(DAY, "quantile_cont(value, 0.90)", "p90_value", 6))
def ds_p90_daily(spark, sf_dir):
    """A6 — NON_OPTIMIZED aggregator (exact interpolated percentile)."""
    return _ds_by_metric(spark, sf_dir, DAY, "p90", "p90_value", 6)


@register("ds_median_daily", _ds_by_metric_sql(DAY, "quantile_cont(value, 0.5)", "median_value", 6))
def ds_median_daily(spark, sf_dir):
    """A6 — NON_OPTIMIZED aggregator (median)."""
    return _ds_by_metric(spark, sf_dir, DAY, "median", "median_value", 6)


@register("ds_stddev_daily", _ds_by_metric_sql(DAY, "stddev_samp(value)", "stddev_value", 6))
def ds_stddev_daily(spark, sf_dir):
    """A6 — NON_OPTIMIZED aggregator (sample stddev)."""
    return _ds_by_metric(spark, sf_dir, DAY, "stddev", "stddev_value", 6)


def _lossy_oracle():
    from opentsdb_aura_spark.operators.compression import lossy_sql_expr

    return f"""{ORACLE_PTS}
SELECT metric, {_bucket_sql(DAY)} AS bucket_ts,
       round(sum({lossy_sql_expr("value", 8)}), 4) AS lossy_sum
FROM dpts WHERE ts >= {START} AND ts < {END}
GROUP BY 1, 2"""


@register("lossy_gorilla_sum_daily", _lossy_oracle())
def lossy_gorilla_sum_daily(spark, sf_dir):
    """X4 — lossy value storage: mantissa truncation applied on the
    write path (the reference's Gorilla LOSS_MASK,
    GorillaSegmentEncoder.java:29,103 — arithmetically exact
    re-expression, see operators/compression.py), then a daily SUM
    over the truncated doubles.  keep_bits=8 here so the loss is
    visible at round(4) — the reference's mask keeps 28 bits
    (GORILLA_KEEP_BITS), invisible after rounding by design."""
    from opentsdb_aura_spark.operators.compression import lossy_encode_values

    pts = lossy_encode_values(points(spark, sf_dir), keep_bits=8)
    res = downsample(pts, START, END, DAY, "sum", group_cols=["metric"], fill="none")
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("lossy_sum"))


@register("ds_sumsq_daily", _ds_by_metric_sql(DAY, "sum(value*value)", "sumsq_value", 4))
def ds_sumsq_daily(spark, sf_dir):
    """A11 — SUM-OF-SQUARES aggregator."""
    return _ds_by_metric(spark, sf_dir, DAY, "sumsq", "sumsq_value", 4)


@register(
    "metric_value_histogram",
    f"""{ORACLE_PTS}
SELECT metric,
       CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS cnt
FROM dpts WHERE ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def metric_value_histogram(spark, sf_dir):
    """Value-distribution histogram (the heatmap panel behind every
    TSDB UI): fixed-width bins with clamped edges, one hash aggregate —
    the exact-count complement of the DDSketch log-bin rollup (which
    serves percentiles; this serves the shape)."""
    pts = points(spark, sf_dir).where((F.col("ts") >= START) & (F.col("ts") < END))
    bin_ = F.least(F.greatest(F.floor(F.col("value") / 25.0), F.lit(0)), F.lit(19)).cast("bigint")
    return (
        pts.groupBy("metric", bin_.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "ds_runall_sum",
    f"""{ORACLE_PTS}
SELECT metric, {START} AS bucket_ts, round(sum(value), 4) AS sum_value
FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1""",
)
def ds_runall_sum(spark, sf_dir):
    """A7 — run-all: single bucket spanning the whole query range."""
    return _ds_by_metric(spark, sf_dir, None, "zimsum", "sum_value", 4, run_all=True)


@register(
    "ds_last_daily_purchase",
    f"""{ORACLE_PTS}
SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts,
       round(arg_max(value, ts), 4) AS last_value
FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
GROUP BY 1, 2, 3""",
)
def ds_last_daily_purchase(spark, sf_dir):
    """A5 — downsample LAST per series (ts order, post-dedupe)."""
    pts = points(spark, sf_dir).where(F.col("metric") == "purchase")
    res = downsample(pts, START, END, DAY, "last", group_cols=["tag_user", "tag_k"], fill="none")
    return res.select("tag_user", "tag_k", "bucket_ts", _r(denan(F.col("value")), 4).alias("last_value"))


@register(
    "bucketed_series_sum_daily",
    f"""{ORACLE_PTS}
SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts,
       round(sum(value), 4) AS sum_value
FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
GROUP BY 1, 2, 3""",
)
def bucketed_series_sum_daily(spark, sf_dir):
    """Per-series daily SUM from the series-bucketed cold layout
    (sources/bucketed.py): the aggregation keys include series_id,
    which the bucket spec already hash-partitions, so the plan carries
    NO shuffle Exchange (asserted in tests/test_plans.py) — series
    tags come from a dim join AQE resolves to broadcast at this size
    (no forced hint: the dim is O(series) under match-all filters)."""
    from opentsdb_aura_spark.sources.batch import bucketed_metrics

    pts = bucketed_metrics(spark, sf_dir).where(F.col("metric") == "purchase")
    res = downsample(pts, START, END, DAY, "sum", group_cols=["series_id"], fill="none")
    dim = series_dim(spark, sf_dir).select(
        "series_id",
        F.col("tags")["user"].alias("tag_user"),
        F.col("tags")["k"].alias("tag_k"),
    )
    return res.join(dim, "series_id").select(
        "tag_user", "tag_k", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value")
    )


@register(
    "ds_spine_hourly_purchase",
    f"""{ORACLE_PTS},
agg AS (
  SELECT {_bucket_sql(HOUR, SPINE_START)} AS bucket_ts, round(sum(value), 4) AS sum_value
  FROM dpts WHERE metric = 'purchase' AND ts >= {SPINE_START} AND ts < {SPINE_END}
  GROUP BY 1)
SELECT r.range AS bucket_ts, a.sum_value
FROM range({SPINE_START}, {SPINE_END}, {HOUR}) r
LEFT JOIN agg a ON r.range = a.bucket_ts""",
)
def ds_spine_hourly_purchase(spark, sf_dir):
    """A8 — dense interval spine: empty hourly buckets surface (as
    NULL here; NaN in the engine contract) rather than vanishing."""
    q = _mq(
        start=SPINE_START,
        end=SPINE_END,
        interval=HOUR,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=[],
        gb_agg="sum",
        fill="nan",
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "ds_spine_from_dim_daily",
    f"""{ORACLE_PTS},
u AS (SELECT DISTINCT tag_user FROM dpts WHERE metric = 'purchase'),
agg AS (
  SELECT tag_user, {_bucket_sql(DAY, SPINE_START)} AS bucket_ts,
         round(sum(value), 4) AS sum_value
  FROM dpts WHERE metric = 'purchase' AND ts >= {SPINE_START} AND ts < {SPINE_END}
  GROUP BY 1, 2)
SELECT u.tag_user, r.range AS bucket_ts, a.sum_value
FROM u CROSS JOIN range({SPINE_START}, {SPINE_END}, {DAY}) r
LEFT JOIN agg a ON a.tag_user = u.tag_user AND a.bucket_ts = r.range""",
)
def ds_spine_from_dim_daily(spark, sf_dir):
    """A8 meta-driven spine: the group universe comes from the filtered
    series_dim (the reference's meta-index selection,
    TimeSeriesShard.java:677-758), so a user whose purchase series has
    zero points inside the 2-day window still emits its all-NaN daily
    rows — the result-derived spine would drop that group entirely."""
    q = _mq(
        start=SPINE_START,
        end=SPINE_END,
        interval=DAY,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=["user"],
        gb_agg="sum",
        fill="nan",
    )
    res = run_metric_query(
        points(spark, sf_dir), q, dedupe=False,
        series_dim=series_dim(spark, sf_dir), spine_from_dim=True,
    )
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "asof_last_error_event",
    f"""{ORACLE_PTS},
l AS (SELECT tag_user, tag_k, ts, value FROM dpts
      WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}),
re AS (SELECT CAST(user_id AS VARCHAR) AS tag_user,
              CAST(floor(epoch(ts)) AS BIGINT) AS ets,
              CAST(max(event_id) AS BIGINT) AS last_error_id
       FROM events WHERE event_type = 'error' GROUP BY 1, 2)
SELECT l.tag_user, l.tag_k, l.ts, round(l.value, 6) AS value,
       re.last_error_id, re.ets AS error_ts
FROM l ASOF LEFT JOIN re ON l.tag_user = re.tag_user AND l.ts >= re.ets""",
)
def asof_last_error_event(spark, sf_dir):
    """Backward as-of join (operators/asof.py): every purchase point
    picks up the most recent error event at-or-before it for the same
    user — the "state at measurement time" enrichment.  Union +
    running-last: ONE shuffle on the user key, no range probe; the
    oracle is DuckDB's native ASOF LEFT JOIN."""
    from opentsdb_aura_spark.operators.asof import asof_join

    pts = points(spark, sf_dir)
    left = pts.where(
        (F.col("metric") == "purchase") & (F.col("ts") >= START) & (F.col("ts") < END)
    ).select("tag_user", "tag_k", "ts", "value")
    right = (
        pts.where(F.col("metric") == "error")
        .groupBy("tag_user", "ts")
        .agg(F.max("ingest_seq").cast("bigint").alias("last_error_id"))
    )
    res = asof_join(left, right, on=["tag_user"], right_cols=["last_error_id"])
    return res.select(
        "tag_user", "tag_k", "ts", _r(F.col("value"), 6).alias("value"),
        F.col("last_error_id_asof").alias("last_error_id"),
        F.col("ts_asof").alias("error_ts"),
    )
# ============================================================ rate family (R1-R5)

_RATE_PRELUDE = f"""{ORACLE_PTS},
r AS (
  SELECT tag_user, tag_k, ts, value,
         lag(value) OVER w AS pv, lag(ts) OVER w AS pt
  FROM dpts
  WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
  WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts)
)"""


@register(
    "rate_purchase",
    f"""{_RATE_PRELUDE}
SELECT tag_user, tag_k, ts,
       round((value - pv) / ((ts - pt) / 3600.0), 6) AS rate_value
FROM r WHERE pv IS NOT NULL""",
)
def rate_purchase(spark, sf_dir):
    """R1 — rate of change per series (per-hour normalization)."""
    pts = points(spark, sf_dir).where((F.col("metric") == "purchase") & (F.col("ts") >= START) & (F.col("ts") < END))
    res = rate(pts, RateOptions(interval_seconds=3600))
    return res.where(~F.isnan("value")).select(
        "tag_user", "tag_k", "ts", _r(F.col("value"), 6).alias("rate_value")
    )


@register(
    "delta_purchase",
    f"""{_RATE_PRELUDE}
SELECT tag_user, tag_k, ts, round(value - pv, 6) AS delta_value
FROM r WHERE pv IS NOT NULL""",
)
def delta_purchase(spark, sf_dir):
    """R3 — delta-only (no time normalization)."""
    pts = points(spark, sf_dir).where((F.col("metric") == "purchase") & (F.col("ts") >= START) & (F.col("ts") < END))
    res = rate(pts, RateOptions(delta_only=True))
    return res.where(~F.isnan("value")).select(
        "tag_user", "tag_k", "ts", _r(F.col("value"), 6).alias("delta_value")
    )


@register(
    "rate_counter_drop_purchase",
    f"""{_RATE_PRELUDE}
SELECT tag_user, tag_k, ts,
       round((value - pv) / ((ts - pt) / 3600.0), 6) AS rate_value
FROM r WHERE pv IS NOT NULL AND value >= pv""",
)
def rate_counter_drop_purchase(spark, sf_dir):
    """R2 — counter semantics with dropResets: negative deltas → NaN
    (dropped from output)."""
    pts = points(spark, sf_dir).where((F.col("metric") == "purchase") & (F.col("ts") >= START) & (F.col("ts") < END))
    res = rate(pts, RateOptions(interval_seconds=3600, counter=True, drop_resets=True))
    return res.where(~F.isnan("value")).select(
        "tag_user", "tag_k", "ts", _r(F.col("value"), 6).alias("rate_value")
    )


@register(
    "rate_to_count_purchase",
    f"""{_RATE_PRELUDE},
est AS (
  SELECT tag_user, tag_k,
         greatest(first(ts - pt ORDER BY cnt DESC, ts - pt ASC) // 3600, 1)
           AS di_units
  FROM (SELECT tag_user, tag_k, ts, pt,
               count(*) OVER (PARTITION BY tag_user, tag_k, ts - pt) AS cnt
        FROM r WHERE pt IS NOT NULL)
  GROUP BY 1, 2
)
SELECT r.tag_user, r.tag_k, ts,
       round(value * least((ts - pt) / 3600.0, di_units), 6) AS count_value
FROM r JOIN est ON r.tag_user = est.tag_user AND r.tag_k = est.tag_k
WHERE pv IS NOT NULL""",
)
def rate_to_count_purchase(spark, sf_dir):
    """R4 — rate-to-count.  The configured 300 s interval floor-divides
    by the 3600 s rate interval to 0 (< 1), so — exactly as the
    reference does (AuraMetricsNumericArrayIterator.java:226-229, 294)
    — the data interval is re-estimated per series as the mode of point
    spacing in rate-interval units, clamped to >= 1."""
    pts = points(spark, sf_dir).where((F.col("metric") == "purchase") & (F.col("ts") >= START) & (F.col("ts") < END))
    res = rate(pts, RateOptions(interval_seconds=3600, rate_to_count=True, data_interval=300))
    return res.where(~F.isnan("value")).select(
        "tag_user", "tag_k", "ts", _r(F.col("value"), 6).alias("count_value")
    )


@register(
    "timeshift_sum_daily_purchase",
    f"""{ORACLE_PTS}
SELECT {_bucket_sql(DAY, START, f"(ts + {SHIFT})")} AS bucket_ts,
       round(sum(value), 4) AS sum_value
FROM dpts
WHERE metric = 'purchase' AND ts >= {START - SHIFT} AND ts < {END - SHIFT}
GROUP BY 1""",
)
def timeshift_sum_daily_purchase(spark, sf_dir):
    """R5 — time shift: evaluate over [start-Δ, end-Δ), relabel +Δ."""
    q = _mq(
        start=START,
        end=END,
        interval=DAY,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=[],
        gb_agg="sum",
        shift_seconds=SHIFT,
        fill="none",
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))
# ============================================================ group-by (G1-G4)


@register(
    "gb_sum_by_user_daily",
    f"""{ORACLE_PTS}
SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, round(sum(value), 4) AS sum_value
FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def gb_sum_by_user_daily(spark, sf_dir):
    """G1 — group-by tag key (sum○sum decomposes to a flat sum)."""
    q = _mq(
        start=START,
        end=END,
        interval=DAY,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=["user"],
        gb_agg="sum",
        fill="none",
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "gb_avg_by_user_daily",
    f"""{ORACLE_PTS},
per_series AS (
  SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts, avg(value) AS v
  FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
  GROUP BY 1, 2, 3)
SELECT tag_user, bucket_ts, round(avg(v), 6) AS avg_value
FROM per_series GROUP BY 1, 2""",
)
def gb_avg_by_user_daily(spark, sf_dir):
    """G1 — two-stage semantics: per-series downsample AVG, then AVG
    across the series of each group (≠ flat avg — load-bearing)."""
    q = _mq(
        start=START,
        end=END,
        interval=DAY,
        ds_agg="avg",
        filter=MetricLiteral("purchase"),
        group_tag_keys=["user"],
        gb_agg="avg",
        fill="none",
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 6).alias("avg_value"))


@register(
    "gb_series_count_daily",
    f"""{ORACLE_PTS},
per_series AS (
  SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts
  FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
  GROUP BY 1, 2, 3)
SELECT tag_user, bucket_ts, CAST(count(*) AS DOUBLE) AS series_count
FROM per_series GROUP BY 1, 2""",
)
def gb_series_count_daily(spark, sf_dir):
    """G1 — group COUNT: number of series contributing per interval."""
    q = _mq(
        start=START,
        end=END,
        interval=DAY,
        ds_agg="avg",
        filter=MetricLiteral("purchase"),
        group_tag_keys=["user"],
        gb_agg="count",
        fill="none",
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("tag_user", "bucket_ts", denan(F.col("value")).alias("series_count"))


@register(
    "gb_all_min_daily",
    f"""{ORACLE_PTS},
per_series AS (
  SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts, min(value) AS v
  FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1, 2, 3)
SELECT bucket_ts, round(min(v), 4) AS min_value
FROM per_series GROUP BY 1""",
)
def gb_all_min_daily(spark, sf_dir):
    """G2 — group-all: every series merged into a single group."""
    q = _mq(
        start=START, end=END, interval=DAY, ds_agg="min", group_tag_keys=[], gb_agg="min", fill="none"
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("bucket_ts", _r(denan(F.col("value")), 4).alias("min_value"))
