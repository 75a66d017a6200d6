"""Metric-store queries, analytic family: the 3.x processor graph
(movavg/EWMA/ratio/sliding window/bucket-quantile/fill).

Split from queries/metric.py (round 7, it had reached 1,361 lines):
registration side-effects only — query names, oracles, behavior, and
REGISTRATION ORDER unchanged (catalog.py imports metric →
metric_analytic → metric_serving, matching the old in-file order).
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import (  # shared underscore helpers
    _bucket_sql,
    _mq,
    _r,
)

# ==================================================== analytic processors (3.x graph)


def _purchase_sums(spark, sf_dir, start, end, interval, group_tag_keys, fill="nan"):
    """The purchase sums per ``interval`` bucket (and group) that the
    processors post-process: run_metric_query over the store, no
    dedupe pass (the store is already deduped)."""
    q = _mq(
        start=start,
        end=end,
        interval=interval,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=group_tag_keys,
        gb_agg="sum",
        fill=fill,
    )
    return run_metric_query(points(spark, sf_dir), q, dedupe=False)


# the oracle side: purchase sums per user and day, and the same on the
# dense (user × day) spine the windowed processors run over
_USER_DAILY = f"""{ORACLE_PTS},
agg AS (SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
        FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
        GROUP BY 1, 2)"""
_USER_DAILY_DENSE = _USER_DAILY + f""",
users AS (SELECT DISTINCT tag_user FROM agg),
days AS (SELECT unnest(generate_series({START}, {END - 1}, {DAY})) AS bucket_ts),
dense AS (SELECT u.tag_user, d.bucket_ts, a.v
          FROM users u CROSS JOIN days d
          LEFT JOIN agg a ON a.tag_user = u.tag_user AND a.bucket_ts = d.bucket_ts)"""


@register(
    "movavg3_by_user_daily",
    f"""{_USER_DAILY_DENSE}
SELECT tag_user, bucket_ts,
       round(avg(v) OVER (PARTITION BY tag_user ORDER BY bucket_ts
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma_value
FROM dense""",
)
def movavg3_by_user_daily(spark, sf_dir):
    """Upstream ``movingaverage`` node: trailing 3-bucket simple
    moving average over the dense daily spine per user (NaN buckets
    contribute nothing; NULL-ignoring AVG on the oracle side matches
    exactly)."""
    from opentsdb_aura_spark.operators.analytic import moving_average

    res = _purchase_sums(spark, sf_dir, START, END, DAY, ["user"])
    res = moving_average(res, 3)
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("ma_value"))


@register(
    "ewma3_by_user_daily",
    f"""{_USER_DAILY_DENSE},
win AS (SELECT tag_user, bucket_ts,
               list(v) OVER (PARTITION BY tag_user ORDER BY bucket_ts
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS arr
        FROM dense)
SELECT tag_user, bucket_ts,
       round(list_sum(list_transform(arr, (x, i) -> CASE WHEN x IS NOT NULL
                 THEN pow(0.5, len(arr) - i) * x END))
             / list_sum(list_transform(arr, (x, i) -> CASE WHEN x IS NOT NULL
                 THEN pow(0.5, len(arr) - i) END)), 6) AS ewma_value
FROM win""",
)
def ewma3_by_user_daily(spark, sf_dir):
    """Upstream ``movingaverage`` node, exponential mode: trailing
    3-bucket EWMA per user (alpha = 2/(3+1) = 0.5, weights normalized
    over the reported buckets in the window; NaN buckets drop out of
    both numerator and denominator)."""
    from opentsdb_aura_spark.operators.analytic import moving_average

    res = _purchase_sums(spark, sf_dir, START, END, DAY, ["user"])
    res = moving_average(res, 3, exponential=True)
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 6).alias("ewma_value"))


@register(
    "ratio_pct_by_user_daily",
    f"""{_USER_DAILY}
SELECT tag_user, bucket_ts,
       round(100.0 * v / sum(v) OVER (PARTITION BY bucket_ts), 6) AS pct_value
FROM agg""",
)
def ratio_pct_by_user_daily(spark, sf_dir):
    """Upstream ``ratio`` node: each user's percent share of the
    all-user total per day."""
    from opentsdb_aura_spark.operators.analytic import ratio

    res = _purchase_sums(spark, sf_dir, START, END, DAY, ["user"], fill="none")
    res = ratio(res, as_percent=True)
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 6).alias("pct_value"))


@register(
    "slide3d_sum_by_user_daily",
    f"""{_USER_DAILY_DENSE}
SELECT tag_user, bucket_ts,
       round(sum(v) OVER (PARTITION BY tag_user ORDER BY bucket_ts
                          RANGE BETWEEN {3 * DAY - 1} PRECEDING AND CURRENT ROW), 4) AS sw_value
FROM dense""",
)
def slide3d_sum_by_user_daily(spark, sf_dir):
    """Upstream ``slidingwindow`` node: trailing 3-day sum per user
    over the dense daily spine — a time-RANGE frame, not a row count,
    so the window is stride-independent (NULL-skipping SUM on the
    oracle side matches the NaN-skipping window exactly)."""
    from opentsdb_aura_spark.operators.analytic import sliding_window

    res = _purchase_sums(spark, sf_dir, START, END, DAY, ["user"])
    res = sliding_window(res, 3 * DAY, "sum")
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("sw_value"))


#: histogram bounds for the bucket-quantile query (all purchase values
#: land in [0, 500); the top bound stays finite so the midpoint is too)
_BQ_BOUNDS = (0, 10, 50, 100, 250, 500)


@register(
    "bucketq_purchase_daily",
    f"""{ORACLE_PTS},
v AS (SELECT {_bucket_sql(DAY)} AS bucket_ts, value
      FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}),
b AS (SELECT bucket_ts,
             CASE {" ".join(f"WHEN value < {hi} THEN {lo}" for lo, hi in zip(_BQ_BOUNDS[:-2], _BQ_BOUNDS[1:-1]))} ELSE {_BQ_BOUNDS[-2]} END AS lo,
             CASE {" ".join(f"WHEN value < {hi} THEN {hi}" for hi in _BQ_BOUNDS[1:-1])} ELSE {_BQ_BOUNDS[-1]} END AS hi
      FROM v),
h AS (SELECT bucket_ts, lo, hi, CAST(count(*) AS DOUBLE) AS c FROM b GROUP BY 1, 2, 3),
cum AS (SELECT bucket_ts, lo, hi,
               sum(c) OVER (PARTITION BY bucket_ts ORDER BY lo) AS cum,
               sum(c) OVER (PARTITION BY bucket_ts) AS tot
        FROM h),
q AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS quantile)
SELECT c.bucket_ts, q.quantile, round(min((lo + hi) / 2), 4) AS q_value
FROM cum c JOIN q ON c.cum >= q.quantile * c.tot
GROUP BY 1, 2""",
)
def bucketq_purchase_daily(spark, sf_dir):
    """Upstream ``bucketquantile`` node: daily p50/p90/p99 of purchase
    values estimated from histogram-bucket counts (midpoint mode).
    The raw points reduce to per-day bucket counts in one hash
    aggregate; the quantile walk then runs over output-sized data."""
    from opentsdb_aura_spark.operators.analytic import bucket_quantile

    pts = points(spark, sf_dir)
    v = F.col("value")
    lo, hi = F.lit(float(_BQ_BOUNDS[-2])), F.lit(float(_BQ_BOUNDS[-1]))
    for b_lo, b_hi in zip(reversed(_BQ_BOUNDS[:-2]), reversed(_BQ_BOUNDS[1:-1])):
        lo = F.when(v < b_hi, float(b_lo)).otherwise(lo)
        hi = F.when(v < b_hi, float(b_hi)).otherwise(hi)
    hist = (
        pts.where((F.col("metric") == "purchase") & (F.col("ts") >= START) & (F.col("ts") < END))
        .groupBy(
            bucket_expr(F.col("ts"), START, DAY).alias("bucket_ts"),
            lo.alias("bucket_lower"),
            hi.alias("bucket_upper"),
        )
        .agg(F.count("*").cast("double").alias("value"))
    )
    res = bucket_quantile(hist, [0.5, 0.9, 0.99])
    return res.select("bucket_ts", "quantile", _r(F.col("value"), 4).alias("q_value"))


_FILL_DENSE = f"""{ORACLE_PTS},
agg AS (
  SELECT {_bucket_sql(HOUR, SPINE_START)} AS bucket_ts, sum(value) AS v
  FROM dpts WHERE metric = 'purchase' AND ts >= {SPINE_START} AND ts < {SPINE_END}
  GROUP BY 1),
dense AS (
  SELECT r.range AS bucket_ts, a.v
  FROM range({SPINE_START}, {SPINE_END}, {HOUR}) r
  LEFT JOIN agg a ON r.range = a.bucket_ts)"""


@register(
    "fill_previous_hourly",
    f"""{_FILL_DENSE}
SELECT bucket_ts,
       round(coalesce(v, last_value(v IGNORE NULLS) OVER (
         ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 4) AS filled_value
FROM dense""",
)
def fill_previous_hourly(spark, sf_dir):
    """Previous-value gap fill over the dense hourly spine (OpenTSDB
    fill policy: carry last reported value forward; leading gaps stay
    NaN)."""
    from opentsdb_aura_spark.operators.analytic import fill_gaps

    res = _purchase_sums(spark, sf_dir, SPINE_START, SPINE_END, HOUR, [])
    res = fill_gaps(res, "previous")
    return res.select("bucket_ts", _r(denan(F.col("value")), 4).alias("filled_value"))


@register(
    "fill_linear_hourly",
    f"""{_FILL_DENSE},
ctx AS (
  SELECT bucket_ts, v,
    last_value(CASE WHEN v IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER (
      ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
    last_value(v IGNORE NULLS) OVER (
      ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
    first_value(CASE WHEN v IS NOT NULL THEN bucket_ts END IGNORE NULLS) OVER (
      ORDER BY bucket_ts ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt,
    first_value(v IGNORE NULLS) OVER (
      ORDER BY bucket_ts ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
  FROM dense)
SELECT bucket_ts,
       round(coalesce(v, pv + (nv - pv) * (bucket_ts - pt) / (nt - pt)), 6) AS filled_value
FROM ctx""",
)
def fill_linear_hourly(spark, sf_dir):
    """Linear-interpolation gap fill (lerp) over the dense hourly
    spine: interior gaps interpolate between the surrounding reported
    values, edges stay NaN."""
    from opentsdb_aura_spark.operators.analytic import fill_gaps

    res = _purchase_sums(spark, sf_dir, SPINE_START, SPINE_END, HOUR, [])
    res = fill_gaps(res, "linear")
    return res.select("bucket_ts", _r(denan(F.col("value")), 6).alias("filled_value"))
