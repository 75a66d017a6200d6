"""Metric-domain extras: the fused flagship pipeline, filter/
group-by/rollup-planner variants, the OpenTSDB 3.x JSON wire surface,
and anomaly analytics.

Split from queries/extras.py (round 6): registration side-effects
only -- query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import (  # shared underscore helpers
    _bucket_sql,
    _ds_by_metric_sql,
    _mq,
    _r,
    _rollup,
)




# ============================================================ fused pipeline + extras


@register(
    "fused_rate_ds_gb",
    f"""{ORACLE_PTS},
rated AS (
  SELECT tag_user, tag_k, ts,
         (value - lag(value) OVER w) / (((ts - lag(ts) OVER w)) / 3600.0) AS r
  FROM dpts
  WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
  WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts)),
per_series AS (
  SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts, avg(r) AS v
  FROM rated WHERE r IS NOT NULL GROUP BY 1, 2, 3)
SELECT tag_user, bucket_ts, round(avg(v), 6) AS avg_rate
FROM per_series GROUP BY 1, 2""",
)
def fused_rate_ds_gb(spark, sf_dir):
    """§3.1 full pipeline: filter → rate → per-series daily AVG →
    group-by-user AVG merge (the flagship entry() query, with oracle)."""
    q = _mq(
        start=START,
        end=END,
        interval=DAY,
        ds_agg="avg",
        filter=MetricLiteral("purchase"),
        rate_options=RateOptions(interval_seconds=3600),
        group_tag_keys=["user"],
        gb_agg="avg",
        fill="none",
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    # the engine emits NaN group-intervals (all contributing rates
    # NaN); the SQL oracle can't express the NaN contract, so the
    # oracle-facing projection keeps defined intervals only
    return res.where(~F.isnan("value")).select(
        "tag_user", "bucket_ts", _r(F.col("value"), 6).alias("avg_rate")
    )


@register(
    "gb_two_keys_daily",
    f"""{ORACLE_PTS}
SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts, round(sum(value), 4) AS sum_value
FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1, 2, 3""",
)
def gb_two_keys_daily(spark, sf_dir):
    """G1 — group-by on two tag keys (sum decomposes flat)."""
    q = _mq(
        start=START, end=END, interval=DAY, ds_agg="sum",
        group_tag_keys=["user", "k"], gb_agg="sum", fill="none",
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("tag_user", "tag_k", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "meta_keys_and_values",
    f"""{ORACLE_PTS},
kv AS (
  SELECT 'user' AS tag_key, tag_user AS tag_value FROM series
  UNION ALL
  SELECT 'k' AS tag_key, tag_k AS tag_value FROM series)
SELECT tag_key, tag_value, CAST(count(*) AS BIGINT) AS series_count
FROM kv GROUP BY 1, 2""",
)
def meta_keys_and_values(spark, sf_dir):
    """M3 — full key→value→series-count breakdown (BASIC meta query)."""
    from opentsdb_aura_spark.operators.meta import tag_keys_and_values

    return tag_keys_and_values(series_dim(spark, sf_dir)).select(
        "tag_key", "tag_value", F.col("series_count").cast("bigint").alias("series_count")
    )


@register(
    "infectious_nan_sum_daily",
    f"""{ORACLE_PTS}
SELECT metric, {_bucket_sql(DAY)} AS bucket_ts,
       round(CASE WHEN count(CASE WHEN value < 20 THEN 1 END) > 0
                  THEN NULL ELSE sum(value) END, 4) AS sum_value
FROM dpts WHERE ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def infectious_nan_sum_daily(spark, sf_dir):
    """A9 — infectious NaN: values < 20 are recast as NaN on both
    sides; any NaN in an interval poisons it (NULL in the oracle
    projection).  Exercises the infectious path against real data."""
    pts = points(spark, sf_dir).withColumn(
        "value", F.when(F.col("value") < 20, F.lit(float("nan"))).otherwise(F.col("value"))
    )
    res = downsample(pts, START, END, DAY, "sum", group_cols=["metric"], infectious_nan=True, fill="none")
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "filter_any_field",
    f"""{ORACLE_PTS}
SELECT metric, CAST(count(*) AS BIGINT) AS n_points
FROM dpts
WHERE (regexp_matches(tag_user, '^1$') OR regexp_matches(tag_k, '^1$'))
  AND ts >= {START} AND ts < {END}
GROUP BY 1""",
)
def filter_any_field(spark, sf_dir):
    """F6 — any-field match: value regex against EVERY tag key."""
    from opentsdb_aura_spark.filters import AnyFieldRegexp, compile_filter, time_range

    pts = points(spark, sf_dir)
    df = pts.where(compile_filter(AnyFieldRegexp("^1$")) & time_range(START, END))
    return df.groupBy("metric").agg(F.count("*").cast("bigint").alias("n_points"))


@register(
    "filter_tag_key_present",
    f"""{ORACLE_PTS}
SELECT metric, CAST(count(*) AS BIGINT) AS n_points
FROM dpts
WHERE tag_k IS NOT NULL AND ts >= {START} AND ts < {END}
GROUP BY 1""",
)
def filter_tag_key_present(spark, sf_dir):
    """F5 — tag-key presence: series carrying tag key 'k' at all
    (value irrelevant) — the reference's key-existence filter."""
    from opentsdb_aura_spark.filters import TagKeyPresent, compile_filter, time_range

    pts = points(spark, sf_dir)
    df = pts.where(compile_filter(TagKeyPresent("k")) & time_range(START, END))
    return df.groupBy("metric").agg(F.count("*").cast("bigint").alias("n_points"))


@register(
    "filter_match_all_series_count",
    f"""{ORACLE_PTS}
SELECT CAST(count(*) AS BIGINT) AS n_series FROM series""",
)
def filter_match_all_series_count(spark, sf_dir):
    """F9 — match-all: the wildcard-everything filter through the meta
    path counts every series (the `.*` fast path compiles to `true`,
    no regex evaluation)."""
    from opentsdb_aura_spark.filters import MatchAll, compile_filter

    dim = series_dim(spark, sf_dir).where(compile_filter(MatchAll()))
    return dim.agg(F.count("*").cast("bigint").alias("n_series"))


@register(
    "filter_explicit_tags",
    f"""{ORACLE_PTS}
SELECT metric, tag_user, CAST(count(*) AS BIGINT) AS n_points
FROM dpts
WHERE tag_user = '1' AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def filter_explicit_tags(spark, sf_dir):
    """F8 — explicit-tags: filter on {user, k} requires series with
    exactly those two tag keys — which is every series here, so the
    result equals the plain filter (the count gate is exercised; its
    exclusion path is covered by unit tests)."""
    from opentsdb_aura_spark.filters import (
        Chain,
        ExplicitTags,
        TagLiteralOr,
        TagRegexp,
        compile_filter,
        time_range,
    )

    flt = ExplicitTags(Chain("AND", [TagLiteralOr("user", ("1",)), TagRegexp("k", ".*")]))
    pts = points(spark, sf_dir)
    df = pts.where(compile_filter(flt) & time_range(START, END))
    return df.groupBy("metric", "tag_user").agg(F.count("*").cast("bigint").alias("n_points"))


@register(
    "semi_join_series_points",
    f"""{ORACLE_PTS}
SELECT metric, {_bucket_sql(DAY)} AS bucket_ts, round(sum(value), 4) AS sum_value
FROM dpts
WHERE metric = 'purchase' AND CAST(tag_user AS BIGINT) < 5
  AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def semi_join_series_points(spark, sf_dir):
    """J1 — meta→data semi-join: series selected on the dimension
    table, then a left_semi join restricts the fact scan to those
    series ids (the doc-store search → series-table lookup fusion,
    TimeSeriesShard.java:677-758)."""
    sd = series_dim(spark, sf_dir).where(
        (F.col("metric") == "purchase") & (F.col("tags")["user"].cast("bigint") < 5)
    )
    pts = points(spark, sf_dir).join(
        sd.select("series_id"), "series_id", "left_semi"
    )
    res = downsample(pts, START, END, DAY, "sum", group_cols=["metric"], fill="none")
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "opentsdb_json_query",
    f"""{ORACLE_PTS}
SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, round(max(value), 4) AS max_value
FROM dpts
WHERE metric = 'purchase' AND tag_user IN ('1', '2', '3')
  AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def opentsdb_json_query(spark, sf_dir):
    """API-surface parity: an OpenTSDB 3.x semantic-query JSON graph
    translated and executed unchanged (source + filter + downsample +
    group-by pushdown fold, §3.1)."""
    from opentsdb_aura_spark.plans.opentsdb_json import translate_query

    query = {
        "start": START,
        "end": END,
        "filters": [
            {"id": "f1", "filter": {"type": "TagValueLiteralOr", "tagKey": "user", "filter": "1|2|3"}}
        ],
        "executionGraph": [
            {
                "id": "m1",
                "type": "TimeSeriesDataSource",
                "metric": {"type": "MetricLiteral", "metric": "purchase"},
                "filterId": "f1",
            },
            {"id": "ds", "type": "downsample", "aggregator": "max", "interval": "1d", "sources": ["m1"]},
            {"id": "gb", "type": "groupby", "aggregator": "max", "tagKeys": ["user"], "sources": ["ds"]},
        ],
    }
    q = translate_query(query, now=END, segment_width=EVENT_STORE_SEGMENT_WIDTH)
    q.fill = "none"
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("max_value"))


@register(
    "opentsdb_json_expr",
    f"""{ORACLE_PTS},
p AS (SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
      FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END} GROUP BY 1, 2),
s AS (SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
      FROM dpts WHERE metric = 'signup' AND ts >= {START} AND ts < {END} GROUP BY 1, 2),
diff AS (SELECT COALESCE(p.tag_user, s.tag_user) AS tag_user, p.v - s.v AS d
         FROM p FULL JOIN s ON p.tag_user = s.tag_user AND p.bucket_ts = s.bucket_ts)
SELECT tag_user, round(avg(d), 6) AS avg_value, CAST(count(d) AS DOUBLE) AS count_value
FROM diff GROUP BY 1""",
)
def opentsdb_json_expr(spark, sf_dir):
    """API-surface parity for expression+summarizer graphs: a
    reference-era JSON DAG — two grouped branches, an expression node
    (NATURAL_OUTER join, purchase − signup) and a summarizer sink —
    runs unchanged through run_semantic_graph.  A user-day present on
    one side only is NaN and skipped by the summarizer, matching the
    SQL NULL arithmetic."""
    from opentsdb_aura_spark.plans.opentsdb_json import run_semantic_graph

    graph = {
        "start": START,
        "end": END,
        "executionGraph": [
            {"id": "p_src", "type": "TimeSeriesDataSource",
             "metric": {"type": "MetricLiteral", "metric": "purchase"}},
            {"id": "s_src", "type": "TimeSeriesDataSource",
             "metric": {"type": "MetricLiteral", "metric": "signup"}},
            {"id": "p_ds", "type": "downsample", "aggregator": "sum", "interval": "1d", "sources": ["p_src"]},
            {"id": "s_ds", "type": "downsample", "aggregator": "sum", "interval": "1d", "sources": ["s_src"]},
            {"id": "p", "type": "groupby", "tagKeys": ["user"], "aggregator": "sum", "sources": ["p_ds"]},
            {"id": "s", "type": "groupby", "tagKeys": ["user"], "aggregator": "sum", "sources": ["s_ds"]},
            {"id": "e", "type": "expression", "expression": "p - s", "sources": ["p", "s"]},
            {"id": "sm", "type": "summarizer", "summaries": ["avg", "count"], "sources": ["e"]},
        ],
    }
    res = run_semantic_graph(points(spark, sf_dir), graph, segment_width=EVENT_STORE_SEGMENT_WIDTH)
    return res.select(
        "tag_user",
        _r(denan(F.col("avg")), 6).alias("avg_value"),
        F.col("count").alias("count_value"),
    )


@register(
    "opentsdb_json_topn",
    f"""{ORACLE_PTS},
agg AS (SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
        FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END} GROUP BY 1, 2),
winners AS (SELECT tag_user FROM agg GROUP BY 1
            ORDER BY sum(v) DESC, tag_user LIMIT 5),
days AS (SELECT unnest(generate_series({START}, {END - 1}, {DAY})) AS bucket_ts)
SELECT w.tag_user, d.bucket_ts, round(agg.v, 4) AS sum_value
FROM winners w CROSS JOIN days d
LEFT JOIN agg ON agg.tag_user = w.tag_user AND agg.bucket_ts = d.bucket_ts""",
)
def opentsdb_json_topn(spark, sf_dir):
    """API-surface parity for the upstream ``topn`` node: JSON graph
    source → daily SUM downsample → group-by user → top-5 users by
    total, returning the winners' full (dense NaN-spine) series."""
    from opentsdb_aura_spark.plans.opentsdb_json import run_semantic_graph

    graph = {
        "start": START,
        "end": END,
        "executionGraph": [
            {"id": "m", "type": "TimeSeriesDataSource",
             "metric": {"type": "MetricLiteral", "metric": "purchase"}},
            {"id": "ds", "type": "downsample", "aggregator": "sum", "interval": "1d", "sources": ["m"]},
            {"id": "gb", "type": "groupby", "tagKeys": ["user"], "aggregator": "sum", "sources": ["ds"]},
            {"id": "top", "type": "topn", "count": 5, "top": True, "aggregator": "sum", "sources": ["gb"]},
        ],
    }
    res = run_semantic_graph(points(spark, sf_dir), graph, segment_width=EVENT_STORE_SEGMENT_WIDTH)
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "gb_min_by_k_daily",
    f"""{ORACLE_PTS},
per_series AS (
  SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts, min(value) AS v
  FROM dpts WHERE metric = 'error' AND ts >= {START} AND ts < {END}
  GROUP BY 1, 2, 3)
SELECT tag_k, bucket_ts, round(min(v), 4) AS min_value
FROM per_series GROUP BY 1, 2""",
)
def gb_min_by_k_daily(spark, sf_dir):
    """G1 — group-by on the k tag with MIN○MIN merge."""
    q = _mq(
        start=START, end=END, interval=DAY, ds_agg="min",
        filter=MetricLiteral("error"), group_tag_keys=["k"], gb_agg="min", fill="none",
    )
    res = run_metric_query(points(spark, sf_dir), q, dedupe=False)
    return res.select("tag_k", "bucket_ts", _r(denan(F.col("value")), 4).alias("min_value"))


@register(
    "anomaly_zscore_daily",
    f"""{ORACLE_PTS},
agg AS (
  SELECT metric, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS sum_value
  FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1, 2)
SELECT metric, bucket_ts, round(sum_value, 4) AS sum_value,
       round(CASE WHEN count(sum_value) OVER w >= 3
                   AND stddev_samp(sum_value) OVER w > 0
             THEN (sum_value - avg(sum_value) OVER w) / stddev_samp(sum_value) OVER w
             END, 6) AS zscore
FROM agg
WINDOW w AS (PARTITION BY metric ORDER BY bucket_ts ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)""",
)
def anomaly_zscore_daily(spark, sf_dir):
    """Trailing-window anomaly scoring: each daily bucket's sum scored
    against the mean/stddev of its previous 7 buckets (current
    excluded) — the Spark-first baseline of the upstream 3.x anomaly
    processors (observed vs expected from recent history).  The window
    runs over the already-downsampled result, so its state is 7 rows
    per metric regardless of raw volume."""
    from opentsdb_aura_spark.operators.analytic import rolling_zscore

    pts = points(spark, sf_dir)
    res = downsample(pts, START, END, DAY, "sum", group_cols=["metric"], fill="none")
    out = rolling_zscore(res, lookback=7, min_history=3, group_cols=["metric"])
    return out.select(
        "metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"), _r("zscore", 6).alias("zscore")
    )


@register(
    "anomaly_seasonal_hourly",
    f"""{ORACLE_PTS},
agg AS (
  SELECT metric, {_bucket_sql(HOUR)} AS bucket_ts, sum(value) AS v
  FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1, 2)
SELECT a.metric, a.bucket_ts,
       round(a.v, 4) AS sum_value,
       round(b.v, 4) AS baseline,
       round(a.v - b.v, 4) AS deviation
FROM agg a LEFT JOIN agg b
  ON b.metric = a.metric AND b.bucket_ts = a.bucket_ts - {DAY}""",
)
def anomaly_seasonal_hourly(spark, sf_dir):
    """Seasonal anomaly baseline: each hourly bucket vs the SAME hour
    one day earlier — the periodic complement of the trailing z-score
    (for a daily-cycled metric the previous 7 hours are the wrong
    expectation).  Equi-self-join on (metric, bucket − 1d), not a
    per-series lag window: shuffles on the composite key, so no
    per-series sort task and no hot-series straggler."""
    from opentsdb_aura_spark.operators.analytic import seasonal_baseline_deviation

    pts = points(spark, sf_dir)
    res = downsample(pts, START, END, HOUR, "sum", group_cols=["metric"], fill="none")
    out = seasonal_baseline_deviation(res, DAY, group_cols=["metric"])
    return out.select(
        "metric",
        "bucket_ts",
        _r(denan(F.col("value")), 4).alias("sum_value"),
        _r("baseline", 4).alias("baseline"),
        _r("deviation", 4).alias("deviation"),
    )


@register("rollup_coarsest_pick", _ds_by_metric_sql(DAY, "sum(value)", "sum_value", 4))
def rollup_coarsest_pick(spark, sf_dir):
    """A10 planner — with hourly AND 2-hourly rollups available, a
    daily query picks the coarsest (7200); result identical to raw
    (equivalence of the hourly path is oracle-checked separately)."""
    from opentsdb_aura_spark.operators.rollup import (
        build_rollup,
        choose_downsample_source,
        downsample_from_rollup,
    )

    pts = points(spark, sf_dir)
    rollups = {
        3600: _rollup(spark, sf_dir),
        7200: build_rollup(pts, 7200, group_cols=("series_id", "metric")),
    }
    src, riv = choose_downsample_source(rollups, "sum", DAY, START, END)
    assert riv == 7200, f"expected coarsest rollup, got {riv}"
    res = downsample_from_rollup(src, START, END, DAY, "sum", group_cols=["metric"])
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "rollup_auto_substitution",
    f"""{ORACLE_PTS}
SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, round(sum(value), 4) AS sum_value
FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def rollup_auto_substitution(spark, sf_dir):
    """A10 — rollup substitution inside the query node: the MetricQuery
    never mentions rollups; ``run_metric_query(..., rollups=...)``
    routes the scan to the hourly pre-aggregate automatically
    (AerospikeBatchQueryNode.java:200-224 — selection happens in the
    node, not the caller).  Oracle is the flat raw-point computation;
    tests/test_plans.py asserts the physical plan reads rollup_3600,
    not the metrics store."""
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
    res = run_metric_query(
        points(spark, sf_dir),
        q,
        rollups={3600: _rollup(spark, sf_dir)},
        series_dim=series_dim(spark, sf_dir),
    )
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "rollup_gb_avg_daily",
    f"""{ORACLE_PTS},
ps AS (
  SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts, avg(value) AS v
  FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
  GROUP BY 1, 2, 3)
SELECT tag_user, bucket_ts, round(avg(v), 4) AS avg_value
FROM ps GROUP BY 1, 2""",
)
def rollup_gb_avg_daily(spark, sf_dir):
    """A10 two-stage substitution: avg→avg does not flat-fuse (group
    avg-of-series-avgs ≠ flat avg), yet the planner still serves it
    from the hourly pre-aggregate — per-series daily avg re-aggregated
    from the rollup chain (Σsum/Σcount), then the normal group merge,
    the exact shape of the reference's rollup read
    (AerospikeDSTimeSeriesEncoder.java:69-110 stream →
    NumericArrayAggregator accumulate).  Oracle is the raw two-stage
    computation; the plan reads rollup_3600 (asserted in
    tests/test_plans.py)."""
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
    res = run_metric_query(
        points(spark, sf_dir),
        q,
        rollups={3600: _rollup(spark, sf_dir)},
        series_dim=series_dim(spark, sf_dir),
    )
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("avg_value"))




@register(
    "gb_user_global_rank",
    f"""{ORACLE_PTS}
, tot AS (SELECT tag_user, round(1e-9 + sum(value), 4) AS total
          FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
          GROUP BY 1)
SELECT tag_user, total,
       CAST(dense_rank() OVER (ORDER BY total DESC, tag_user) AS BIGINT) AS rank
FROM tot""",
)
def gb_user_global_rank(spark, sf_dir):
    """Corpus-wide user leaderboard — the serving op the reference's
    topn node cannot express beyond its k cutoff (a FULL ranking of
    every series), done scale-safe: per-user totals (one map-side-
    combined groupBy), then `suffix.global_dense_rank` — the
    range-partitioned dense rank with broadcast per-partition offsets
    — instead of Spark's single-partition unpartitioned window, so
    the ranking stage is all-executor at any user count.  The rank
    key is the ROUNDED total (descending via negation, tag_user
    tie-break): cross-engine float summation order must not flip a
    rank, so both engines rank the same 4-decimal value the row
    displays."""
    from opentsdb_aura_spark.operators.suffix import global_dense_rank

    tot = (
        points(spark, sf_dir)
        .where((F.col("metric") == "purchase") & (F.col("ts") >= START) & (F.col("ts") < END))
        .groupBy("tag_user")
        .agg(_r(F.sum("value"), 4).alias("total"))
    )
    ranked = global_dense_rank(
        tot.withColumn("_neg", -F.col("total")), ["_neg", "tag_user"], out="rank"
    )
    return ranked.select("tag_user", "total", "rank")
