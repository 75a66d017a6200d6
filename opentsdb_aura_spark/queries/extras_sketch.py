"""Sketch-serving extras: HLL cardinality/presence estimates,
DDSketch percentile serving, and Misra-Gries heavy hitters.

Split from queries/extras.py (round 6): registration side-effects
only -- query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import (  # shared underscore helpers
    _bucket_sql,
    _mq,
    _r,
)



@register("meta_cardinality_approx")  # HLL sketch differs per engine: rows-only
def meta_cardinality_approx(spark, sf_dir):
    """M5 scale path — HLL cardinality (exact variant is oracle-checked
    in meta_cardinality)."""
    return cardinality(series_dim(spark, sf_dir), None, approx=True)


# DDSketch closed forms, shared by the three histogram-rollup oracles
# below: the log-bin index and the bin midpoint estimate are exact
# expressions of (value, gamma), so DuckDB re-derives the ENTIRE
# sketch pipeline — bin assignment, window merge, cumulative walk,
# rank pick — from raw deduped points (empirically bit-identical to
# Spark's Math.log/pow at both fixture SFs; the _r nudge covers the
# round-4 boundary).  gamma spelled exactly as operators/rollup.py
# computes it: (1+eps)/(1-eps) with eps=0.01.
_G = "((1.0+0.01)/(1.0-0.01))"
_HIST_SIGN = "CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END"
_HIST_BIN = (
    "CASE WHEN value = 0 THEN 0 "
    f"ELSE CAST(ceil(ln(abs(value))/ln({_G})) AS INTEGER) END"
)
_HIST_EST = f"CASE WHEN sign = 0 THEN 0.0 ELSE sign * 2.0 * pow({_G}, bin) / ({_G} + 1.0) END"
_HIST_PTS = (
    f"FROM dpts WHERE ts >= {START} AND ts < {END} "
    "AND NOT isnan(value) AND abs(value) <> 'infinity'::DOUBLE"
)


@register(
    "rollup_hist_bins_daily",
    f"""{ORACLE_PTS}
SELECT metric, {_bucket_sql(DAY)} AS bucket_ts,
       {_HIST_SIGN} AS sign, {_HIST_BIN} AS bin,
       CAST(count(*) AS BIGINT) AS cnt
{_HIST_PTS}
GROUP BY 1, 2, 3, 4""",
)
def rollup_hist_bins_daily(spark, sf_dir):
    """A6 sketch STATE, fully oracle-checked: the daily-merged DDSketch
    bin table per metric, served from the hourly histogram rollup
    (groupBy-SUM merge of pre-aggregated bins — raw points never
    scanned on the Spark side).  The oracle recomputes every
    (sign, bin, cnt) row from raw deduped points with the closed-form
    index ceil(log_γ|v|), so the hash compare proves write-side bin
    assignment AND the mergeability contract (hourly → daily merge
    equals direct daily build) — the sketch itself, not just the
    interpolated percentile."""
    from opentsdb_aura_spark.sources.batch import ensure_event_store, rollup_hist_path

    ensure_event_store(spark, sf_dir)
    hist = spark.read.parquet(rollup_hist_path(sf_dir, 3600))
    w = F.col("window_start")
    bucket = (F.lit(START) + F.floor((w - F.lit(START)) / F.lit(DAY)) * F.lit(DAY)).cast("long")
    return (
        hist.where((w >= START) & (w < END))
        .withColumn("bucket_ts", bucket)
        .groupBy("metric", "bucket_ts", "sign", "bin")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


@register(
    "rollup_hist_p90_daily",
    f"""{ORACLE_PTS},
b AS (
  SELECT metric, {_bucket_sql(DAY)} AS bucket_ts,
         {_HIST_SIGN} AS sign, {_HIST_BIN} AS bin, count(*) AS cnt
  {_HIST_PTS}
  GROUP BY 1, 2, 3, 4),
r AS (
  SELECT *, sum(cnt) OVER (PARTITION BY metric, bucket_ts ORDER BY sign, sign*bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY metric, bucket_ts) AS total
  FROM b),
hit AS (
  SELECT metric, bucket_ts, {_HIST_EST} AS est,
         row_number() OVER (PARTITION BY metric, bucket_ts ORDER BY sign, sign*bin) AS rn
  FROM r WHERE cum >= ceil(0.9 * total))
SELECT metric, bucket_ts, round(1e-9 + est, 4) AS p90_hist FROM hit WHERE rn = 1""",
)
def rollup_hist_p90_daily(spark, sf_dir):
    """A6 scale path, pre-aggregate edition: daily p90 per metric
    served ENTIRELY from the hourly histogram rollup table (DDSketch
    bins written at ingest, operators/rollup.py) — the raw points are
    never scanned.  FULL oracle since r8: the whole serving pipeline
    (bin merge, sign-ordered cumulative walk, rank ⌈q·n⌉ pick, bin
    midpoint estimate) is closed-form, so DuckDB recomputes the exact
    served value from raw points — the ±eps error bound in
    tests/test_rollup.py now complements a value-hash identity, not
    replaces it."""
    from opentsdb_aura_spark.operators.rollup import percentile_from_rollup_histogram
    from opentsdb_aura_spark.sources.batch import ensure_event_store, rollup_hist_path

    ensure_event_store(spark, sf_dir)
    hist = spark.read.parquet(rollup_hist_path(sf_dir, 3600))
    res = percentile_from_rollup_histogram(hist, 0.9, START, END, DAY, group_cols=["metric"])
    return res.select("metric", "bucket_ts", _r("value", 4).alias("p90_hist"))


@register(
    "corpus_heavy_tokens_mg",
    """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '')) AS item
                   FROM documents),
cnt AS (SELECT item, CAST(count(*) AS BIGINT) AS est_count FROM toks GROUP BY 1),
r AS (SELECT *, row_number() OVER (ORDER BY est_count DESC, item) AS rn FROM cnt)
SELECT item, est_count FROM r WHERE rn <= 15""",
)
def corpus_heavy_tokens_mg(spark, sf_dir):
    """Heavy-hitter tokens via a mergeable Misra–Gries sketch
    (operators/sketch.py): per-partition bounded summaries merge in one
    hash aggregate — O(partitions × capacity) shuffle rows regardless
    of vocabulary size, vs O(distinct tokens) for the exact groupBy
    top-k.  At this corpus's vocabulary the capacity exceeds the
    distinct count, no trim fires, and the counts are provably exact —
    hence the exact-SQL oracle; the undercount guarantee when trims DO
    fire is bound-tested with a planted long-tail corpus in
    tests/test_sketch.py."""
    from opentsdb_aura_spark.operators.dedup_text import tokens
    from opentsdb_aura_spark.operators.sketch import mg_heavy_hitters

    toks = docs(spark, sf_dir).select(F.explode(tokens(F.col("text"))).alias("item"))
    out = mg_heavy_hitters(toks, "item", 15, capacity=4096)
    return out.select("item", "est_count")


@register(
    "corpus_heavy_tokens_by_lang_mg",
    """WITH toks AS (SELECT lang, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '')) AS item
                   FROM documents),
cnt AS (SELECT lang, item, CAST(count(*) AS BIGINT) AS est_count FROM toks GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY est_count DESC, item) AS rn
      FROM cnt)
SELECT lang, item, est_count FROM r WHERE rn <= 5""",
)
def corpus_heavy_tokens_by_lang_mg(spark, sf_dir):
    """Grouped Misra–Gries: independent bounded summaries per language
    (sketch.mg_heavy_hitters group_cols path) — per-group state stays
    O(capacity) so a thousand languages cost the same per-partition
    memory budget as one.  Exact at this vocabulary (capacity ≥
    distinct), hence the SQL oracle."""
    from opentsdb_aura_spark.operators.dedup_text import tokens
    from opentsdb_aura_spark.operators.sketch import mg_heavy_hitters

    toks = docs(spark, sf_dir).select("lang", F.explode(tokens(F.col("text"))).alias("item"))
    out = mg_heavy_hitters(toks, "item", 5, capacity=4096, group_cols=["lang"])
    return out.select("lang", "item", "est_count")


@register("meta_daily_active_hll")  # HLL sketch estimates: rows-only
def meta_daily_active_hll(spark, sf_dir):
    """T6/M5 scale path — daily active-series counts per metric served
    ENTIRELY from the hourly HLL presence rollup (DataSketches HLL
    written at ingest, operators/meta.build_presence_hll): sketches
    merge with hll_union_agg, so any range/bucket re-aggregates the
    rollup table without touching raw points — plain distinct counts
    cannot do this (COUNT DISTINCT is not mergeable across windows).
    ~1.6% relative error at lg_k=12; bound-tested against the exact
    count in tests/test_rows_only_bounds.py."""
    from opentsdb_aura_spark.operators.meta import cardinality_from_presence_hll
    from opentsdb_aura_spark.sources.batch import ensure_event_store, presence_hll_path

    ensure_event_store(spark, sf_dir)
    hll = spark.read.parquet(presence_hll_path(sf_dir, 3600))
    res = cardinality_from_presence_hll(hll, START, START + 7 * DAY, bucket_width=DAY, group_cols=("metric",))
    return res.select("metric", "bucket_ts", "active_series")


@register("ds_p90_approx_daily")  # sketch-based: rows-only
def ds_p90_approx_daily(spark, sf_dir):
    """A6 scale path — approx_percentile; at 100 TB the exact
    percentile's per-group value buffer is the bottleneck, the sketch
    is mergeable map-side."""
    pts = points(spark, sf_dir).where((F.col("ts") >= START) & (F.col("ts") < END))
    bucket = (F.lit(START) + F.floor((F.col("ts") - F.lit(START)) / F.lit(DAY)) * F.lit(DAY)).cast("long")
    return (
        pts.withColumn("bucket_ts", bucket)
        .groupBy("metric", "bucket_ts")
        .agg(F.expr("approx_percentile(value, 0.9, 1000)").alias("p90_approx"))
    )


@register("ev_wau_hll")  # HLL sketch estimates: rows-only
def ev_wau_hll(spark, sf_dir):
    """WAU from mergeable sketches: one HLL per day, each output day
    unions its trailing 7 — per-day work is 7 sketch rows instead of 7
    days of user-days, and the daily sketches are exactly what
    streaming ingest emits at window close (streaming_presence_hll),
    so the dashboard never recomputes distincts.  ±5% bound-tested
    against ev_wau_rolling in tests/test_rows_only_bounds.py."""
    from opentsdb_aura_spark.operators.events import rolling_active_users

    ev = events_seconds(spark, sf_dir)
    res = rolling_active_users(ev, START, START + 14 * DAY, 7, hll=True)
    return res.select("day_ts", F.col("active_users").cast("bigint").alias("active_users"))


@register(
    "rollup_hist_p90_planner",
    f"""{ORACLE_PTS},
b AS (
  SELECT tag_user, tag_k, {_bucket_sql(DAY)} AS bucket_ts,
         {_HIST_SIGN} AS sign, {_HIST_BIN} AS bin, count(*) AS cnt
  {_HIST_PTS} AND metric = 'purchase'
  GROUP BY 1, 2, 3, 4, 5),
r AS (
  SELECT *, sum(cnt) OVER (PARTITION BY tag_user, tag_k, bucket_ts ORDER BY sign, sign*bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY tag_user, tag_k, bucket_ts) AS total
  FROM b),
hit AS (
  SELECT tag_user, tag_k, bucket_ts, {_HIST_EST} AS est,
         row_number() OVER (PARTITION BY tag_user, tag_k, bucket_ts
                            ORDER BY sign, sign*bin) AS rn
  FROM r WHERE cum >= ceil(0.9 * total)),
ser AS (SELECT tag_user, tag_k, bucket_ts, est FROM hit WHERE rn = 1)
SELECT tag_user, bucket_ts, round(1e-9 + max(est), 4) AS p90_max
FROM ser GROUP BY 1, 2""",
)
def rollup_hist_p90_planner(spark, sf_dir):
    """A6 scale path, planner edition: the MetricQuery asks for a plain
    per-series p90 + group max; ``run_metric_query(...,
    hist_rollups=...)`` routes it to the DDSketch histogram rollup
    automatically (plans/query._preagg_substitution) — per-series
    percentile from pre-aggregated bins (exact series distribution,
    eps-coarse values), then the ordinary two-stage group merge.  No
    raw point is scanned.  FULL oracle since r8 (same closed-form
    re-derivation as rollup_hist_p90_daily, per series then max by
    tag); the ±1% bound test in tests/test_rollup.py stays as the
    semantic complement."""
    from opentsdb_aura_spark.sources.batch import ensure_event_store, rollup_hist_path

    ensure_event_store(spark, sf_dir)
    hist = spark.read.parquet(rollup_hist_path(sf_dir, 3600))
    q = _mq(
        start=START,
        end=END,
        interval=DAY,
        ds_agg="p90",
        filter=MetricLiteral("purchase"),
        group_tag_keys=["user"],
        gb_agg="max",
        fill="none",
    )
    res = run_metric_query(
        points(spark, sf_dir),
        q,
        hist_rollups={3600: hist},
        series_dim=series_dim(spark, sf_dir),
    )
    return res.select("tag_user", "bucket_ts", _r(denan(F.col("value")), 4).alias("p90_max"))




# ------------------------------------------------------------- Count-Min
# Point-frequency sketch (Cormode & Muthukrishnan) — the "how often is
# THIS item" complement of the Misra-Gries top-k summary.  md5-derived
# slots make the sketch ENGINE-EXACT: the oracle rebuilds the full
# depth×width counter table and every estimate bit-for-bit, so unlike
# the HLL/DDSketch families this sketch needs no rows-only escape.

_CMS_D, _CMS_W = 4, 64


def _cms_slot_sql(key: str, j: int) -> str:
    return (
        f"(CAST(concat('0x', substr(md5('{j}:' || {key}), 1, 8)) AS BIGINT) % {_CMS_W})"
    )


_CMS_ORACLE = f"""
WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE user_id IS NOT NULL),
slots AS (
  {' UNION ALL '.join(f"SELECT {j} AS j, {_cms_slot_sql('k', j)} AS slot FROM keyed" for j in range(_CMS_D))}
),
sketch AS (SELECT j, slot, CAST(count(*) AS BIGINT) AS cnt FROM slots GROUP BY 1, 2),
probes AS (
  {' UNION ALL '.join(f"SELECT k, {j} AS j, {_cms_slot_sql('k', j)} AS slot FROM (SELECT DISTINCT k FROM keyed)" for j in range(_CMS_D))}
),
est AS (SELECT k, CAST(min(cnt) AS BIGINT) AS est_count
        FROM probes JOIN sketch USING (j, slot) GROUP BY 1),
exact AS (SELECT k, CAST(count(*) AS BIGINT) AS exact_count FROM keyed GROUP BY 1)
SELECT k AS tag_user, est_count, exact_count,
       CAST(est_count - exact_count AS BIGINT) AS overcount
FROM est JOIN exact USING (k)"""


@register("sketch_countmin_user_freq", _CMS_ORACLE)
def sketch_countmin_user_freq(spark, sf_dir):
    """Count-Min point-frequency serving: build a 4×64 sketch over
    every event's user key (one map-side-combined groupBy; counters
    merge by + across partitions/shards), then estimate each distinct
    user's event count from the sketch and join the exact count —
    ``overcount`` (est − exact, ≥ 0 always) is the materialized
    collision error the CM bound caps at 2n/w w.h.p.  At fixture SF
    150 keys share 64 slots, so genuine collisions are exercised;
    the oracle rebuilds sketch and estimates bit-for-bit."""
    from opentsdb_aura_spark.operators.sketch import countmin_estimate, countmin_sketch

    ev = load_events(spark, sf_dir)
    sk = countmin_sketch(ev, "user_id", depth=_CMS_D, width=_CMS_W)
    est = countmin_estimate(sk, ev, "user_id", depth=_CMS_D, width=_CMS_W)
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").cast("string").alias("user_id"))
        .agg(F.count("*").cast("long").alias("exact_count"))
    )
    return est.join(exact, "user_id").select(
        F.col("user_id").alias("tag_user"),
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count")).cast("long").alias("overcount"),
    )


# ------------------------------------------------------------- md5-HLL
# The HLL family's graduation to a FULL value-hash oracle:
# meta_cardinality_approx (approx_count_distinct) stays rows-only
# because Spark's internal hash is not replayable; this variant swaps
# the hash for the engine-portable md5 construction (the CMS trick),
# so DuckDB re-derives every register and the exact estimate.

_HLL_FOLD = (
    "CAST(concat('0x', substr(md5(skey), 1, 8)) AS BIGINT)"
)


@register(
    "meta_cardinality_hll_md5",
    f"""{{ORACLE_PTS}}
, keys AS (SELECT DISTINCT metric || '|' || tag_user || '|' || coalesce(tag_k, '') AS skey FROM pts),
h AS (SELECT {_HLL_FOLD} AS hv FROM keys),
parts AS (SELECT hv % 256 AS bucket, hv // 256 AS w FROM h),
regs AS (SELECT bucket,
                max(CASE WHEN w = 0 THEN 25
                         ELSE CAST(round(ln(CAST(w & (-w) AS DOUBLE)) / 0.6931471805599453, 0) AS INTEGER) + 1 END) AS rho
         FROM parts GROUP BY 1),
folded AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(pow(2.0, -CAST(rho AS DOUBLE)) ORDER BY bucket)),
                              (a, b) -> a + b) AS s_occ,
                  CAST(count(*) AS BIGINT) AS occ
           FROM regs),
est AS (SELECT CASE WHEN (0.7213 / (1.0 + 1.079 / 256) * 256 * 256) / (s_occ + (256 - occ)) <= 2.5 * 256
                         AND (256 - occ) > 0
                    THEN 256.0 * ln(256.0 / CAST(256 - occ AS DOUBLE))
                    ELSE (0.7213 / (1.0 + 1.079 / 256) * 256 * 256) / (s_occ + (256 - occ)) END AS n_est
        FROM folded),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM keys)
SELECT round(n_est, 4) AS n_est, n_exact,
       round(abs(n_est - n_exact) / n_exact, 6) AS rel_err
FROM est, ex""".replace("{ORACLE_PTS}", ORACLE_PTS),
)
def meta_cardinality_hll_md5(spark, sf_dir):
    """M5's approximate cardinality GRADUATED to a full value-hash
    oracle: series cardinality by md5-HLL (engine-portable registers,
    operators/sketch.hll_md5_registers) next to the exact count and
    the realized relative error.  approx_count_distinct's internal
    hash is not replayable by any oracle (meta_cardinality_approx
    stays rows-only + bound test); this construction is — DuckDB
    re-derives all 256 registers, the order-pinned harmonic fold, and
    the bias/linear-counting branch, so even the ERROR of the sketch
    is part of the hash."""
    from opentsdb_aura_spark.operators.sketch import hll_md5_estimate, hll_md5_registers

    pts = points(spark, sf_dir)
    keys = pts.select(
        F.concat_ws(
            "|", F.col("metric"), F.col("tag_user"), F.coalesce(F.col("tag_k"), F.lit(""))
        ).alias("skey")
    ).distinct()
    regs = hll_md5_registers(keys, "skey")
    est = hll_md5_estimate(regs)
    exact = keys.agg(F.count("*").cast("long").alias("n_exact"))
    return est.crossJoin(exact).select(
        _r(F.col("n_est"), 4).alias("n_est"),
        "n_exact",
        _r(F.abs(F.col("n_est") - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_err"),
    )
