"""Metric-store queries, serving family: filters (F1-F10), meta
(M1-M5), joins / hot-cold splice / tier routing, rollups (A10),
top-n, the 3.x expression graph, and summarizers.

Split from queries/metric.py (round 7, it had reached 1,361 lines):
registration side-effects only — query names, oracles, behavior, and
REGISTRATION ORDER unchanged (catalog.py imports metric →
metric_analytic → metric_serving, matching the old in-file order).
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

# ============================================================ filters (F1-F10)


@register(
    "filter_chain_not",
    f"""{ORACLE_PTS}
SELECT metric, {_bucket_sql(DAY)} AS bucket_ts, round(sum(value), 4) AS sum_value
FROM dpts
WHERE metric IN ('purchase', 'error') AND NOT (tag_user IN ('3', '7', '11'))
  AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def filter_chain_not(spark, sf_dir):
    """F2+F7 — literal-OR over metric, AND NOT literal-OR over a tag."""
    flt = Chain(
        "AND",
        [
            Chain("OR", [MetricLiteral("purchase"), MetricLiteral("error")]),
            Not(TagLiteralOr("user", ("3", "7", "11"))),
        ],
    )
    pts = points(spark, sf_dir)
    from opentsdb_aura_spark.filters import compile_filter, time_range

    df = pts.where(compile_filter(flt) & time_range(START, END))
    res = downsample(df, START, END, DAY, "sum", group_cols=["metric"], fill="none")
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "filter_regex_wildcard",
    f"""{ORACLE_PTS}
SELECT metric, tag_user, CAST(count(*) AS BIGINT) AS n_points
FROM dpts
WHERE regexp_matches(tag_k, '^[1-3]') AND metric LIKE 's%'
  AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def filter_regex_wildcard(spark, sf_dir):
    """F3+F4 — tag-value regexp (find semantics) + metric wildcard."""
    from opentsdb_aura_spark.filters import TagRegexp, compile_filter, time_range

    flt = Chain("AND", [TagRegexp("k", "^[1-3]")])
    pts = points(spark, sf_dir)
    df = pts.where(compile_filter(flt) & F.col("metric").rlike("^s") & time_range(START, END))
    return df.groupBy("metric", "tag_user").agg(F.count("*").cast("bigint").alias("n_points"))
# ============================================================ meta (M1-M5)


@register("meta_distinct_metrics", "SELECT DISTINCT event_type AS metric FROM events")
def meta_distinct_metrics(spark, sf_dir):
    """M1 — distinct metrics."""
    return distinct_metrics(series_dim(spark, sf_dir))


@register(
    "meta_tag_keys",
    """WITH series AS (SELECT DISTINCT event_type, user_id,
                        json_extract_string(props, '$.k') AS k FROM events)
SELECT 'k' AS tag_key, CAST(count(*) AS BIGINT) AS series_count FROM series
UNION ALL
SELECT 'user' AS tag_key, CAST(count(*) AS BIGINT) AS series_count FROM series""",
)
def meta_tag_keys(spark, sf_dir):
    """M2 — distinct tag keys with series counts."""
    return distinct_tag_keys(series_dim(spark, sf_dir)).select(
        "tag_key", F.col("series_count").cast("bigint").alias("series_count")
    )


@register(
    "meta_tag_values_user_purchase",
    f"""{ORACLE_PTS}
SELECT tag_user AS tag_value, CAST(count(*) AS BIGINT) AS series_count
FROM series WHERE metric = 'purchase' GROUP BY 1""",
)
def meta_tag_values_user_purchase(spark, sf_dir):
    """M2 — distinct values of one tag key over filtered series."""
    sd = series_dim(spark, sf_dir)
    return distinct_tag_values(sd, "user", MetricLiteral("purchase")).select(
        "tag_value", F.col("series_count").cast("bigint").alias("series_count")
    )


@register(
    "meta_cardinality",
    f"""{ORACLE_PTS}
SELECT CAST(count(*) AS BIGINT) AS cardinality
FROM series WHERE metric IN ('purchase', 'error')""",
)
def meta_cardinality(spark, sf_dir):
    """M5 — matching-series cardinality (exact)."""
    flt = Chain("OR", [MetricLiteral("purchase"), MetricLiteral("error")])
    return cardinality(series_dim(spark, sf_dir), flt).select(F.col("cardinality").cast("bigint").alias("cardinality"))


@register(
    "meta_active_series_window",
    f"""{ORACLE_PTS}
SELECT metric, count(DISTINCT (tag_user, tag_k)) AS active_series
FROM dpts WHERE ts >= {START + 7 * DAY} AND ts < {START + 14 * DAY}
GROUP BY metric""",
)
def meta_active_series_window(spark, sf_dir):
    """T6 — per-metric active-series count over a day-aligned week,
    served ENTIRELY from the STORED epoch-presence table written at
    flush (the Spark shape of Myst's per-series epoch bitmaps,
    MetaTimeSeriesQueryResult.java:89-94): no raw point is read — the
    plan's only scan is the presence parquet.  The window is
    day-aligned (a multiple of the table's hourly epochs) so epoch
    granularity equals exact range semantics and the raw-scan oracle
    hash-matches."""
    from opentsdb_aura_spark.operators.meta import active_series
    from opentsdb_aura_spark.sources.batch import ensure_event_store, presence_path

    ensure_event_store(spark, sf_dir)
    pres = spark.read.parquet(presence_path(sf_dir, 3600))
    return active_series(pres, START + 7 * DAY, START + 14 * DAY, epoch_width=3600)


@register(
    "meta_series_churn_daily",
    f"""{ORACLE_PTS},
act AS (SELECT DISTINCT metric, tag_user, tag_k, ts - ts % {DAY} AS day
        FROM dpts WHERE ts >= {START} AND ts < {END}),
new AS (SELECT a.metric, a.day, CAST(count(*) AS BIGINT) AS n
        FROM act a
        WHERE a.day >= {START + DAY} AND NOT EXISTS (
              SELECT 1 FROM act p WHERE p.metric = a.metric
                AND p.tag_user = a.tag_user AND p.tag_k = a.tag_k
                AND p.day = a.day - {DAY})
        GROUP BY 1, 2),
chn AS (SELECT p.metric, p.day + {DAY} AS day, CAST(count(*) AS BIGINT) AS n
        FROM act p
        WHERE p.day + {DAY} < {END} AND NOT EXISTS (
              SELECT 1 FROM act a WHERE a.metric = p.metric
                AND a.tag_user = p.tag_user AND a.tag_k = p.tag_k
                AND a.day = p.day + {DAY})
        GROUP BY 1, 2)
SELECT coalesce(new.metric, chn.metric) AS metric,
       coalesce(new.day, chn.day) AS bucket_ts,
       coalesce(new.n, 0) AS new_series,
       coalesce(chn.n, 0) AS churned_series
FROM new FULL OUTER JOIN chn ON new.metric = chn.metric AND new.day = chn.day""",
)
def meta_series_churn_daily(spark, sf_dir):
    """Series churn (T6 applied): per metric per day, how many series
    appeared (active today, not yesterday) and how many churned
    (active yesterday, not today) — the ops question behind retention
    dashboards and cardinality-explosion alerts.  Served ENTIRELY from
    the STORED epoch-presence table (presence_3600): the day-distinct
    projection and both anti-joins run over |series|x|epochs| presence
    rows, never the fact table — at 100 TB that is the difference
    between a metadata query and a full scan.  The raw-scan oracle
    proves the presence bitmaps are exact."""
    from opentsdb_aura_spark.sources.batch import ensure_event_store, presence_path

    ensure_event_store(spark, sf_dir)
    pres = spark.read.parquet(presence_path(sf_dir, 3600))
    day = (F.col("epoch") - F.col("epoch") % F.lit(DAY)).alias("day")
    daily = (
        pres.where((F.col("epoch") >= F.lit(START)) & (F.col("epoch") < F.lit(END)))
        .select("metric", "series_id", day)
        .distinct()
    )
    prev = daily.select("metric", "series_id", (F.col("day") + F.lit(DAY)).alias("day"))
    new_cnt = (
        daily.where(F.col("day") >= F.lit(START + DAY))
        .join(prev, ["metric", "series_id", "day"], "left_anti")
        .groupBy("metric", "day")
        .agg(F.count("*").alias("new_series"))
    )
    chn_cnt = (
        prev.where(F.col("day") < F.lit(END))
        .join(daily, ["metric", "series_id", "day"], "left_anti")
        .groupBy("metric", "day")
        .agg(F.count("*").alias("churned_series"))
    )
    return (
        new_cnt.join(chn_cnt, ["metric", "day"], "full_outer")
        .na.fill(0, ["new_series", "churned_series"])
        .select(
            "metric",
            F.col("day").alias("bucket_ts"),
            "new_series",
            "churned_series",
        )
    )


@register(
    "meta_list_series_signup",
    f"""{ORACLE_PTS}
SELECT metric, tag_user, tag_k FROM series WHERE metric = 'signup'""",
)
def meta_list_series_signup(spark, sf_dir):
    """M4 — list matching series (tags resolved)."""
    sd = series_dim(spark, sf_dir).where(F.col("metric") == "signup")
    return sd.select("metric", F.col("tags")["user"].alias("tag_user"), F.col("tags")["k"].alias("tag_k"))
# ============================================================ joins / set ops (J1-J2, U3)


@register(
    "join_series_enrich",
    f"""{ORACLE_PTS},
daily AS (
  SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS sv
  FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
  GROUP BY 1, 2, 3),
last_per_series AS (
  SELECT tag_user, tag_k, arg_max(value, ts * 1000000 + ingest_seq) AS lv
  FROM dpts WHERE metric = 'purchase' GROUP BY 1, 2)
SELECT d.tag_user, d.tag_k, d.bucket_ts, round(d.sv, 4) AS sum_value,
       round(l.lv, 4) AS last_value
FROM daily d JOIN last_per_series l USING (tag_user, tag_k)""",
)
def join_series_enrich(spark, sf_dir):
    """J2 — per-series result enriched via a join with series_dim
    (tag/last-value resolution); AQE size-picks broadcast at runtime —
    no forced hint, the dim is O(series).  The dim side reads the
    STORED series_dim table (the meta index written at flush, S7) —
    re-deriving it from points would re-aggregate the whole fact table
    through a sort aggregate just to recover what the store already
    has."""
    pts = points(spark, sf_dir).where(F.col("metric") == "purchase")
    daily = downsample(pts, START, END, DAY, "sum", group_cols=["tag_user", "tag_k"], fill="none")
    sd = series_dim(spark, sf_dir).where(F.col("metric") == "purchase").select(
        F.col("tags")["user"].alias("tag_user"),
        F.col("tags")["k"].alias("tag_k"),
        F.col("last_value"),
    )
    return daily.join(sd, ["tag_user", "tag_k"]).select(
        "tag_user",
        "tag_k",
        "bucket_ts",
        _r(denan(F.col("value")), 4).alias("sum_value"),
        _r(F.col("last_value"), 4).alias("last_value"),
    )


@register(
    "splice_hot_cold_sum",
    f"""{ORACLE_PTS}
SELECT metric, {_bucket_sql(DAY)} AS bucket_ts, round(sum(value), 4) AS spliced_sum
FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1, 2""",
)
def splice_hot_cold_sum(spark, sf_dir):
    """U3 — hot/cold time-splice: union of non-overlapping ranges
    equals the full-range scan."""
    pts = points(spark, sf_dir)
    boundary = START + 15 * DAY
    spliced = splice_hot_cold(hot=pts, cold=pts, boundary_ts=boundary)
    res = downsample(spliced, START, END, DAY, "sum", group_cols=["metric"], fill="none")
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("spliced_sum"))


@register(
    "splice_bucketed_cold_sum",
    f"""{ORACLE_PTS}
SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts,
       round(sum(value), 4) AS sum_value
FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
GROUP BY 1, 2, 3""",
)
def splice_bucketed_cold_sum(spark, sf_dir):
    """U3 with the series-bucketed COLD tier: one per-series
    ``run_tiered_metric_query`` over ``TieredStore(hot, cold=bucketed)``
    — the cold range is served by the bucketed layout (per-series
    aggregation Exchange-free — the bucket spec hash-partitions
    series_id), the hot range by the segment-partitioned store (its
    small recent shuffle), and the per-tier results are unioned on the
    shared day grid, then joined to the series dimension for the tag
    columns.  Equals the full-range scan; the reference analogue is the
    shard scan merged with series-keyed LTS reads
    (aerospike/.../LTSAerospike.java)."""
    from opentsdb_aura_spark.plans.query import TieredStore, run_tiered_metric_query
    from opentsdb_aura_spark.sources.batch import bucketed_metrics

    store = TieredStore(
        hot=points(spark, sf_dir),
        cold=bucketed_metrics(spark, sf_dir),
        boundary_ts=START + 15 * DAY,
    )
    q = _mq(start=START, end=END, interval=DAY, ds_agg="sum", filter=MetricLiteral("purchase"), fill="none")
    res = run_tiered_metric_query(store, q, dedupe=False)
    dim = series_dim(spark, sf_dir).select(
        "series_id",
        F.col("tags")["user"].alias("tag_user"),
        F.col("tags")["k"].alias("tag_k"),
    )
    return res.join(dim, "series_id").select(
        "tag_user", "tag_k", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value")
    )


@register(
    "tiered_auto_route_gb_sum",
    f"""{ORACLE_PTS}
SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, round(sum(value), 4) AS sum_value
FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def tiered_auto_route_gb_sum(spark, sf_dir):
    """U3 + automatic routing: ONE `run_tiered_metric_query` call spans
    both tiers — the PLANNER consults the store's retention boundary
    (day 15) and splices the bucketed cold tier (per-series/group
    aggregation Exchange-free) with the hot segment store, the way its
    rollup substitution already picks tables (the reference's
    AuraMetricsClusterConfig range routing).  Equals the full-range
    scan."""
    from opentsdb_aura_spark.plans.query import TieredStore, run_tiered_metric_query
    from opentsdb_aura_spark.sources.batch import bucketed_metrics

    store = TieredStore(
        hot=points(spark, sf_dir),
        cold=bucketed_metrics(spark, sf_dir),
        boundary_ts=START + 15 * DAY,
    )
    q = _mq(
        start=START, end=END, interval=DAY, ds_agg="sum",
        filter=MetricLiteral("purchase"), group_tag_keys=["user"],
        gb_agg="sum", fill="none",
    )
    res = run_tiered_metric_query(store, q, dedupe=False)
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "tiered_cold_rollup_gb_sum",
    f"""{ORACLE_PTS}
SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, round(sum(value), 4) AS sum_value
FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END}
GROUP BY 1, 2""",
)
def tiered_cold_rollup_gb_sum(spark, sf_dir):
    """Per-tier pre-aggregates: the COLD tier carries its own hourly
    rollup table (``TieredStore.cold_rollups`` — only rows below the
    retention boundary, the way the reference's LTS is the tier that
    stores downsampled streams, AerospikeBatchQueryNode.java:200-224)
    while the hot tier has none and scans raw.  One
    ``run_tiered_metric_query`` call: the planner routes the cold
    sub-range through rollup substitution and the hot sub-range
    through the raw segment scan, then splices on the day grid.
    Equals the full-range raw scan; tests/test_plans.py asserts the
    cold side reads rollup_3600 and the hot side the metrics store."""
    from opentsdb_aura_spark.plans.query import TieredStore, run_tiered_metric_query
    from opentsdb_aura_spark.sources.batch import bucketed_metrics

    boundary = START + 15 * DAY
    store = TieredStore(
        hot=points(spark, sf_dir),
        cold=bucketed_metrics(spark, sf_dir),
        boundary_ts=boundary,
        cold_rollups={3600: _rollup(spark, sf_dir).where(F.col("window_start") < boundary)},
    )
    q = _mq(
        start=START, end=END, interval=DAY, ds_agg="sum",
        filter=MetricLiteral("purchase"), group_tag_keys=["user"],
        gb_agg="sum", fill="none",
    )
    res = run_tiered_metric_query(store, q, dedupe=False, series_dim=series_dim(spark, sf_dir))
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))
# ============================================================ rollups (A10)


@register("rollup_sum_daily", _ds_by_metric_sql(DAY, "sum(value)", "rollup_sum", 4))
def rollup_sum_daily(spark, sf_dir):
    """A10 — daily SUM served from the hourly rollup table; oracle is
    the raw-point computation, proving substitution equivalence."""
    from opentsdb_aura_spark.operators.rollup import downsample_from_rollup

    res = downsample_from_rollup(_rollup(spark, sf_dir), START, END, DAY, "sum", group_cols=["metric"])
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("rollup_sum"))


@register("rollup_avg_daily", _ds_by_metric_sql(DAY, "avg(value)", "rollup_avg", 4))
def rollup_avg_daily(spark, sf_dir):
    """A10 — AVG from the rollup chain (Σsum/Σcount)."""
    from opentsdb_aura_spark.operators.rollup import downsample_from_rollup

    res = downsample_from_rollup(_rollup(spark, sf_dir), START, END, DAY, "avg", group_cols=["metric"])
    # 4 dp: Σ(hourly sums)/Σ(hourly counts) associates differently
    # from the oracle's flat avg — identical to ~1e-12 relative, but a
    # 6 dp round can straddle a boundary
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("rollup_avg"))


@register("rollup_stddev_daily", _ds_by_metric_sql(DAY, "stddev_samp(value)", "rollup_stddev", 4))
def rollup_stddev_daily(spark, sf_dir):
    """A11's purpose — sample stddev derived from the stored
    sum/count/sumsq chain ((Σv² − (Σv)²/n)/(n−1)); oracle is the flat
    raw-point stddev_samp."""
    from opentsdb_aura_spark.operators.rollup import downsample_from_rollup

    res = downsample_from_rollup(_rollup(spark, sf_dir), START, END, DAY, "stddev", group_cols=["metric"])
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("rollup_stddev"))


@register("rollup_planner_max", _ds_by_metric_sql(DAY, "max(value)", "max_value", 4))
def rollup_planner_max(spark, sf_dir):
    """A10 planner rule: choose_downsample_source picks the hourly
    rollup for a daily MAX (agg servable, 86400 % 3600 == 0, aligned
    start); result must equal the raw scan."""
    from opentsdb_aura_spark.operators.rollup import choose_downsample_source, downsample_from_rollup

    rollups = {3600: _rollup(spark, sf_dir)}
    src, riv = choose_downsample_source(rollups, "max", DAY, START, END)
    assert riv == 3600, "planner must substitute the rollup"
    res = downsample_from_rollup(src, START, END, DAY, "max", group_cols=["metric"])
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("max_value"))


@register("splice_mixed_resolution_sum", _ds_by_metric_sql(DAY, "sum(value)", "spliced_sum", 4))
def splice_mixed_resolution_sum(spark, sf_dir):
    """U3 × A10 — mixed-resolution splice: the cold tier carries the
    hourly rollup table (``TieredStore.cold_rollups``), so one per-series
    ``run_tiered_metric_query`` serves the cold half of the range from
    the rollup and the hot half from raw points, unioned at the
    daily-bucket grid; the per-series buckets are then summed by
    metric.  Oracle is the flat raw-point computation, proving tier
    routing is value-invisible."""
    from opentsdb_aura_spark.operators.groupby import group_merge
    from opentsdb_aura_spark.plans.query import TieredStore, run_tiered_metric_query

    pts = points(spark, sf_dir)
    store = TieredStore(
        hot=pts, cold=pts, boundary_ts=START + 15 * DAY, cold_rollups={3600: _rollup(spark, sf_dir)}
    )
    q = _mq(start=START, end=END, interval=DAY, ds_agg="sum", fill="none")
    dim = series_dim(spark, sf_dir)
    per_series = run_tiered_metric_query(store, q, dedupe=False, series_dim=dim)
    res = group_merge(per_series.join(dim.select("series_id", "metric"), "series_id"), "sum", group_cols=["metric"])
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("spliced_sum"))


@register(
    "topn_metrics_by_sum",
    f"""{ORACLE_PTS},
daily AS (
  SELECT metric, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS sv
  FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1, 2
),
top3 AS (
  SELECT metric FROM daily GROUP BY metric
  ORDER BY sum(sv) DESC, metric LIMIT 3
)
SELECT d.metric, d.bucket_ts, round(d.sv, 4) AS sum_value
FROM daily d JOIN top3 USING (metric)""",
)
def topn_metrics_by_sum(spark, sf_dir):
    """topn node (OpenTSDB 3.x upstream): rank series by the SUM
    summary of their daily values, keep the top 3, return their full
    interval rows."""
    from opentsdb_aura_spark.operators.summarizer import topn

    daily = downsample(points(spark, sf_dir), START, END, DAY, "sum", group_cols=["metric"], fill="none")
    keep = topn(daily, 3, "sum", group_cols=["metric"])
    return keep.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))


@register(
    "topn_other_bucket",
    f"""{ORACLE_PTS},
daily AS (
  SELECT metric, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS sv
  FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1, 2
),
top2 AS (
  SELECT metric FROM daily GROUP BY metric
  ORDER BY sum(sv) DESC, metric LIMIT 2
)
SELECT d.metric, d.bucket_ts, round(d.sv, 4) AS sum_value
FROM daily d JOIN top2 USING (metric)
UNION ALL
SELECT '__other__' AS metric, d.bucket_ts, round(sum(d.sv), 4) AS sum_value
FROM daily d ANTI JOIN top2 USING (metric)
GROUP BY 2""",
)
def topn_other_bucket(spark, sf_dir):
    """topn with the dashboard "other" bucket: top-2 metrics keep
    their rows, all remaining metrics fold into one synthetic
    '__other__' series per bucket — the chart accounts for 100% of
    the data with k+1 series."""
    from opentsdb_aura_spark.operators.summarizer import topn_with_other

    daily = downsample(points(spark, sf_dir), START, END, DAY, "sum", group_cols=["metric"], fill="none")
    res = topn_with_other(daily, 2, "sum", group_cols=["metric"])
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), 4).alias("sum_value"))
# ===================================================== expressions (§2.8 / 3.x graph)


@register(
    "expr_ratio_purchase_total_daily",
    f"""{ORACLE_PTS},
days AS (SELECT unnest(generate_series({START}, {END - 1}, {DAY})) AS bucket_ts),
p AS (SELECT {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
      FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END} GROUP BY 1),
t AS (SELECT {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
      FROM dpts WHERE ts >= {START} AND ts < {END} GROUP BY 1)
SELECT d.bucket_ts, round(p.v / nullif(t.v, 0) * 100, 6) AS pct_value
FROM days d LEFT JOIN p ON p.bucket_ts = d.bucket_ts
            LEFT JOIN t ON t.bucket_ts = d.bucket_ts""",
)
def expr_ratio_purchase_total_daily(spark, sf_dir):
    """Expression node via the FULL JSON graph runner: daily purchase
    share of total, ``p / t * 100`` over two group-all branches with
    the dense NaN spine (missing day → NULL)."""
    from opentsdb_aura_spark.plans.opentsdb_json import run_semantic_graph

    graph = {
        "start": START,
        "end": END,
        "executionGraph": [
            {"id": "p_src", "type": "TimeSeriesDataSource",
             "metric": {"type": "MetricLiteral", "metric": "purchase"}},
            {"id": "t_src", "type": "TimeSeriesDataSource"},
            {"id": "p_ds", "type": "downsample", "aggregator": "sum", "interval": "1d", "sources": ["p_src"]},
            {"id": "t_ds", "type": "downsample", "aggregator": "sum", "interval": "1d", "sources": ["t_src"]},
            {"id": "p", "type": "groupby", "tagKeys": [], "aggregator": "sum", "sources": ["p_ds"]},
            {"id": "t", "type": "groupby", "tagKeys": [], "aggregator": "sum", "sources": ["t_ds"]},
            {"id": "ratio", "type": "expression", "expression": "p / t * 100", "sources": ["p", "t"]},
        ],
    }
    res = run_semantic_graph(points(spark, sf_dir), graph, segment_width=EVENT_STORE_SEGMENT_WIDTH)
    return res.select("bucket_ts", _r(denan(F.col("value")), 6).alias("pct_value"))


@register(
    "expr_diff_by_user_daily",
    f"""{ORACLE_PTS},
p AS (SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
      FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END} GROUP BY 1, 2),
s AS (SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
      FROM dpts WHERE metric = 'signup' AND ts >= {START} AND ts < {END} GROUP BY 1, 2)
SELECT COALESCE(p.tag_user, s.tag_user) AS tag_user,
       COALESCE(p.bucket_ts, s.bucket_ts) AS bucket_ts,
       round(p.v - s.v, 4) AS diff_value
FROM p FULL JOIN s ON p.tag_user = s.tag_user AND p.bucket_ts = s.bucket_ts""",
)
def expr_diff_by_user_daily(spark, sf_dir):
    """Expression over two per-user branches, NATURAL_OUTER join:
    purchase − signup; a user-day present on one side only → NaN
    (surfaced as NULL)."""
    from opentsdb_aura_spark.operators.expression import evaluate_expression

    pts = points(spark, sf_dir)

    def branch(metric):
        q = _mq(start=START, end=END, interval=DAY, ds_agg="sum",
                filter=MetricLiteral(metric), group_tag_keys=["user"], gb_agg="sum", fill="none")
        return run_metric_query(pts, q, dedupe=False)

    res = evaluate_expression({"p": branch("purchase"), "s": branch("signup")}, "p - s")
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("diff_value"))


@register(
    "expr_affine_purchase_daily",
    f"""{ORACLE_PTS}
SELECT {_bucket_sql(DAY)} AS bucket_ts, round(sum(value) * 2 + 10, 4) AS scaled_value
FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END} GROUP BY 1""",
)
def expr_affine_purchase_daily(spark, sf_dir):
    """Single-source scalar expression: ``p * 2 + 10`` (literal
    arithmetic folds into the same codegen stage as the aggregation)."""
    from opentsdb_aura_spark.operators.expression import evaluate_expression

    pts = points(spark, sf_dir)
    q = _mq(start=START, end=END, interval=DAY, ds_agg="sum",
            filter=MetricLiteral("purchase"), group_tag_keys=[], gb_agg="sum", fill="none")
    res = evaluate_expression({"p": run_metric_query(pts, q, dedupe=False)}, "p * 2 + 10")
    return res.select("bucket_ts", _r(denan(F.col("value")), 4).alias("scaled_value"))


@register(
    "summarizer_user_purchase",
    f"""{ORACLE_PTS},
agg AS (SELECT tag_user, {_bucket_sql(DAY)} AS bucket_ts, sum(value) AS v
        FROM dpts WHERE metric = 'purchase' AND ts >= {START} AND ts < {END} GROUP BY 1, 2)
SELECT tag_user, round(avg(v), 6) AS avg_value, round(max(v), 4) AS max_value,
       CAST(count(v) AS DOUBLE) AS count_value
FROM agg GROUP BY 1""",
)
def summarizer_user_purchase(spark, sf_dir):
    """Summarizer node: per-user avg/max/count over the daily purchase
    sums (the graph-footer table)."""
    from opentsdb_aura_spark.operators.summarizer import summarize

    pts = points(spark, sf_dir)
    q = _mq(start=START, end=END, interval=DAY, ds_agg="sum",
            filter=MetricLiteral("purchase"), group_tag_keys=["user"], gb_agg="sum", fill="none")
    res = summarize(run_metric_query(pts, q, dedupe=False), ["avg", "max", "count"], group_cols=["tag_user"])
    return res.select(
        "tag_user",
        _r(denan(F.col("avg")), 6).alias("avg_value"),
        _r(denan(F.col("max")), 4).alias("max_value"),
        F.col("count").alias("count_value"),
    )

