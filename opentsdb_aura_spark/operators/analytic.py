"""Post-aggregation analytic nodes from the upstream OpenTSDB 3.x
processor set: moving average (``movingaverage`` /
``MovingAverageConfig``) and ratio / percent-of-total (``ratio`` /
``RatioConfig``).  The aura reference feeds its results into these
upstream graph nodes, so dashboards routinely contain them; supporting
them here lets that query JSON run unchanged.

Both operate on the downsampled/grouped result (bucket_ts, group
tags, value) — OUTPUT-cardinality data, not raw points — so the
analytic windows run over per-series bucket vectors whose length is
bounded by the query range / interval, never by ingest volume.  That
keeps the per-partition work O(buckets) at any corpus scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from opentsdb_aura_spark.model import NAN
from opentsdb_aura_spark.operators.downsample import non_nan


def moving_average(
    df: DataFrame,
    samples: int,
    *,
    exponential: bool = False,
    alpha: float | None = None,
    value_col: str = "value",
    order_col: str = "bucket_ts",
) -> DataFrame:
    """Moving average over the trailing ``samples`` buckets per series
    (current bucket included) — upstream ``MovingAverageConfig``.

    ``exponential=False``: simple (unweighted) average.
    ``exponential=True``: exponentially weighted — bucket at age ``a``
    (0 = current) carries weight ``(1-alpha)^a``, normalized over the
    reported buckets in the window; ``alpha`` defaults to the standard
    EMA smoothing constant ``2/(samples+1)``.

    NaN buckets (the empty-interval spine) contribute nothing to the
    window; a window with no real values stays NaN, matching the
    infectious-empty contract of the downsample spine.  All columns
    other than (order, value) are treated as the series identity."""
    group_cols = [c for c in df.columns if c not in (value_col, order_col)]
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy(order_col)
        .rowsBetween(-(samples - 1), 0)
    )
    if not exponential:
        avg = F.avg(non_nan(F.col(value_col))).over(w)
        return df.withColumn(value_col, F.coalesce(avg, NAN()))

    a = alpha if alpha is not None else 2.0 / (samples + 1)
    decay = F.lit(1.0 - a)
    # collect_list drops NULL scalars (breaking age positions), so wrap
    # each value in a struct — struct elements are never dropped and
    # the frame order gives each element its age
    arr = F.collect_list(F.struct(non_nan(F.col(value_col)).alias("v"))).over(w)
    age = lambda i: F.size(arr) - 1 - i  # noqa: E731 — 0 = current bucket
    num = F.aggregate(
        F.transform(arr, lambda x, i: F.when(x["v"].isNotNull(), F.pow(decay, age(i)) * x["v"])),
        F.lit(0.0),
        lambda acc, x: acc + F.coalesce(x, F.lit(0.0)),
    )
    den = F.aggregate(
        F.transform(arr, lambda x, i: F.when(x["v"].isNotNull(), F.pow(decay, age(i)))),
        F.lit(0.0),
        lambda acc, x: acc + F.coalesce(x, F.lit(0.0)),
    )
    ewma = F.when(den > 0, num / den).otherwise(NAN())
    return df.withColumn(value_col, ewma)


def fill_gaps(
    df: DataFrame,
    policy: str,
    *,
    value_col: str = "value",
    order_col: str = "bucket_ts",
) -> DataFrame:
    """Gap-filling over the dense NaN spine, per series:

    - ``previous`` — carry the last reported value forward (leading
      gaps stay NaN); OpenTSDB's previous-value fill policy.
    - ``linear`` — interpolate interior gaps between the surrounding
      reported values, weighted by bucket distance; leading/trailing
      gaps stay NaN (there is nothing to interpolate toward);
      OpenTSDB's linear interpolation (`lerp`).

    Both are one window pass per direction over the bucket vector —
    output-cardinality data, same scale envelope as moving_average.
    All columns other than (order, value) form the series identity."""
    group_cols = [c for c in df.columns if c not in (value_col, order_col)]
    v = non_nan(F.col(value_col))  # NaN → NULL so ignorenulls applies
    part = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(order_col)
    before = part.rowsBetween(Window.unboundedPreceding, -1)

    if policy == "previous":
        filled = F.coalesce(v, F.last(v, ignorenulls=True).over(before))
        return df.withColumn(value_col, F.coalesce(filled, NAN()))

    if policy == "linear":
        after = part.rowsBetween(1, Window.unboundedFollowing)
        tagged = F.when(v.isNotNull(), F.struct(F.col(order_col).alias("t"), v.alias("v")))
        prev = F.last(tagged, ignorenulls=True).over(before)
        nxt = F.first(tagged, ignorenulls=True).over(after)
        lerp = prev["v"] + (nxt["v"] - prev["v"]) * (
            (F.col(order_col) - prev["t"]) / (nxt["t"] - prev["t"])
        )
        filled = F.coalesce(v, F.when(prev.isNotNull() & nxt.isNotNull(), lerp))
        return df.withColumn(value_col, F.coalesce(filled, NAN()))

    raise ValueError(f"unknown fill policy {policy!r} (expected 'previous' or 'linear')")


def sliding_window(
    df: DataFrame,
    window_seconds: int,
    agg: str = "avg",
    *,
    value_col: str = "value",
    order_col: str = "bucket_ts",
) -> DataFrame:
    """Trailing time-window aggregation per series — the upstream
    ``slidingwindow`` processor (net.opentsdb.query.processor
    .slidingwindow, ``SlidingWindowConfig``: ``windowSize`` duration +
    ``aggregator``): every output bucket reports the aggregate of its
    series' values over ``(bucket_ts - window, bucket_ts]``.

    A RANGE window frame on the numeric bucket timestamp — time-based,
    so it is stride-independent (a sparse or irregular bucket vector
    aggregates the same values a dense one would).  NaN buckets (the
    empty-interval spine) contribute nothing; a window with no real
    values stays NaN, including for ``count`` — matching the
    infectious-empty contract of the downsample spine.  All columns
    other than (order, value) form the series identity."""
    aggs = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}
    if agg not in aggs:
        raise ValueError(f"unknown sliding-window aggregator {agg!r} (expected one of {sorted(aggs)})")
    group_cols = [c for c in df.columns if c not in (value_col, order_col)]
    # integer-second timestamps: [ts-w+1, ts] ≡ the upstream (ts-w, ts]
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy(F.col(order_col))
        .rangeBetween(-(int(window_seconds) - 1), 0)
    )
    v = non_nan(F.col(value_col))
    out = aggs[agg](v).over(w).cast("double")
    if agg == "count":
        out = F.when(out > 0, out)  # count() yields 0, not NULL, on an empty window
    return df.withColumn(value_col, F.coalesce(out, NAN()))


def bucket_quantile(
    hist: DataFrame,
    quantiles: list[float],
    *,
    mode: str = "mean",
    lower_col: str = "bucket_lower",
    upper_col: str = "bucket_upper",
    count_col: str = "value",
) -> DataFrame:
    """Quantile estimation from histogram-bucket counts — the upstream
    ``bucketquantile`` processor (net.opentsdb.query.processor
    .bucketquantile, ``BucketQuantileConfig``): per group/timestamp,
    walk the buckets in ascending bound order accumulating counts; the
    first bucket whose cumulative count reaches ``q × total`` reports
    the quantile.  ``mode`` picks the reported value per upstream
    ``OUTPUT_OF_BUCKET``: ``mean`` (midpoint, the default), ``top``
    (upper bound), ``bottom`` (lower bound).

    Input: one row per (group…, bucket) with ``lower/upper`` bounds
    and the bucket's count in ``count_col``; every other column is the
    group identity (typically tags + bucket_ts).  Output: one row per
    (group…, quantile).

    Scale shape: two window passes over rows whose cardinality is
    output-sized (groups × buckets), then a hash aggregate — the raw
    points were already reduced to bucket counts upstream.  The
    reported value is monotone in the bucket order, so the "first
    qualifying bucket" is a plain ``min`` over qualifying rows — no
    ranking window."""
    reps = {
        "mean": (F.col(lower_col) + F.col(upper_col)) / 2,
        "top": F.col(upper_col),
        "bottom": F.col(lower_col),
    }
    if mode not in reps:
        raise ValueError(f"unknown bucket-quantile mode {mode!r} (expected one of {sorted(reps)})")
    group_cols = [c for c in hist.columns if c not in (lower_col, upper_col, count_col)]
    part = [F.col(c) for c in group_cols]
    cum_w = Window.partitionBy(*part).orderBy(F.col(lower_col)).rowsBetween(Window.unboundedPreceding, 0)
    tot_w = Window.partitionBy(*part)
    cnt = F.coalesce(non_nan(F.col(count_col)), F.lit(0.0))
    staged = hist.select(
        *group_cols,
        reps[mode].cast("double").alias("_rep"),
        F.sum(cnt).over(cum_w).alias("_cum"),
        F.sum(cnt).over(tot_w).alias("_tot"),
    ).withColumn("quantile", F.explode(F.array(*[F.lit(float(q)) for q in quantiles])))
    return (
        staged.where((F.col("_tot") > 0) & (F.col("_cum") >= F.col("quantile") * F.col("_tot")))
        .groupBy(*group_cols, "quantile")
        .agg(F.min("_rep").alias("value"))
    )


def ratio(
    df: DataFrame,
    *,
    as_percent: bool = False,
    value_col: str = "value",
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Each series' share of the all-series total per timestamp —
    upstream ``RatioConfig`` (``as_percent`` multiplies by 100).

    The per-bucket total ignores NaN series; a NaN input value stays
    NaN in the output (its share is undefined, not zero).  Window
    partitions are time buckets, so parallelism scales with the query
    range regardless of series count skew within a bucket."""
    w = Window.partitionBy(bucket_col)
    total = F.sum(non_nan(F.col(value_col))).over(w)
    # a bucket whose values sum to exactly 0 (signed metrics) has no
    # defined shares: NaN, not an ANSI divide-by-zero abort
    share = F.when(total == 0.0, NAN()).otherwise(F.col(value_col) / total)
    if as_percent:
        share = share * F.lit(100.0)
    return df.withColumn(value_col, F.coalesce(share, NAN()))


def rolling_zscore(
    df: DataFrame,
    *,
    lookback: int = 7,
    min_history: int = 3,
    group_cols: Sequence[str] = ("metric",),
    value_col: str = "value",
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Trailing-window anomaly score: each bucket's value vs the mean/
    sample-stddev of the PREVIOUS ``lookback`` buckets of its group
    (current bucket excluded — a spike must not mask itself).

    Adds ``zscore`` (NULL while history < ``min_history`` buckets or
    the trailing window is flat).  The upstream 3.x anomaly processors
    score "observed vs expected from recent history" the same way;
    a trailing z-score is the Spark-first baseline of that family.
    Scale: one window per group over the (small) downsampled result —
    the heavy reduction already happened in the downsample; state per
    group is ``lookback`` rows, never raw points."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(bucket_col)
        .rowsBetween(-int(lookback), -1)
    )
    # NaN spine buckets are "no data", not data: they drop out of the
    # baseline (NaN→NULL, aggregates skip NULL) and score NULL
    # themselves rather than poisoning the window with NaN arithmetic
    v = non_nan(F.col(value_col))
    mu = F.avg(v).over(w)
    sd = F.stddev_samp(v).over(w)
    n = F.count(v).over(w)
    z = F.when(
        v.isNotNull() & (n >= int(min_history)) & (sd > 0), (v - mu) / sd
    )
    return df.withColumn("zscore", z)


def seasonal_baseline_deviation(
    df: DataFrame,
    period: int,
    *,
    group_cols: Sequence[str] = ("metric",),
    value_col: str = "value",
    bucket_col: str = "bucket_ts",
) -> DataFrame:
    """Seasonal anomaly baseline: compare each bucket to the SAME slot
    one period earlier (hour-vs-same-hour-yesterday, day-vs-same-day-
    last-week) — the complement of :func:`rolling_zscore`'s trailing
    window for strongly periodic series, where "the last 7 points"
    are the wrong expectation for a daily-cycled metric.

    Adds ``baseline`` (the value at bucket_ts − period, NULL when that
    slot is absent) and ``deviation`` (value − baseline).

    Implemented as an equi-self-join on (group, bucket_ts − period)
    rather than a per-group ordered lag window: the join shuffles on
    the composite key so every (group, bucket) pair is independent —
    no per-series sort task, no hot-series straggler — and a NaN spine
    slot is "no data" on either side (NULL baseline / NULL deviation),
    not arithmetic poison."""
    v = non_nan(F.col(value_col))
    gcols = list(group_cols)
    cur = df.withColumn("_v", v)
    prev = df.select(
        *gcols,
        (F.col(bucket_col) + F.lit(int(period))).alias(bucket_col),
        non_nan(F.col(value_col)).alias("baseline"),
    )
    return (
        cur.join(prev, gcols + [bucket_col], "left")
        .withColumn("deviation", F.col("_v") - F.col("baseline"))
        .drop("_v")
    )
