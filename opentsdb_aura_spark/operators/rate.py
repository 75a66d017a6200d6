"""Per-point rate family (SURVEY.md §2.4, R1-R5).

Re-expression of the rate stage of the fused kernel
(opentsdb/src/main/java/net/opentsdb/aura/metrics/storage/
AuraMetricsNumericArrayIterator.java:432-463; duplicated for the
long-term path at AerospikeBatchGroupAggregator.java:371-404).

Semantics preserved exactly:
- rate is computed **per point, before downsampling**, over the
  deduped, time-ordered points of each series;
- NaN input values are passed through untouched and do NOT update the
  previous (ts, value) pair — lag must skip NaNs;
- the first point of a series has no previous → rate NaN;
- ``dr = (ts - prev_ts) / rate_interval``;
- plain rate      = (v - prev) / dr                       (R1)
- delta-only      = v - prev                              (R3)
- rate-to-count   = v * min(dr, data_interval_units)      (R4)
  where data_interval_units is the data interval converted to
  rate-interval units by **long division** (kernel 226-229:
  ``(dataIntervalMs/1000) / rateIntervalSeconds``).  If the configured
  interval floor-divides to < 1 (or none is configured) the interval
  is auto-estimated as the mode of observed point spacing, converted
  the same way and clamped to >= 1 (kernel 292-297, 410-419);
- counter mode (R2): delta < 0 →
    drop_resets → NaN,
    else delta = counter_max - prev + v, rate = delta/dr,
         and if reset_value set and delta > reset_value → rate = 0.

Implemented as window-function expressions over
``partitionBy(series_id) orderBy(ts)`` — one shuffle by series_id,
which the downstream per-series downsample reuses.  The window is
global per series (crosses segment/partition boundaries), fixing the
reference's own limitation of NaN-ing the first point of each scan.

Scale path (``segment_col``): a per-series window is ONE task per
series no matter how many points it has — a high-frequency "hot"
series becomes the straggler of the whole stage.  When the input
carries the store's ``segment_time`` column the window instead
partitions by (series, segment) — bounded work per task (the
reference caps a series-segment at 32,767 points,
GorillaRawTimeSeriesEncoder.java:132-136) — and the cross-segment
previous point is recovered from a tiny per-(series, segment)
last-point table (one row per series-segment, map-side combined)
lag-joined back.  Results are bit-identical to the global window;
``run_metric_query`` enables it automatically.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from opentsdb_aura_spark.model import NAN
from opentsdb_aura_spark.operators.downsample import non_nan



@dataclass(frozen=True)
class RateOptions:
    """Mirror of the pushdown RateConfig surface."""

    interval_seconds: float = 1.0  # rateInterval ("1s" default)
    delta_only: bool = False
    rate_to_count: bool = False
    counter: bool = False
    counter_max: float = float("inf")
    drop_resets: bool = False
    reset_value: float = 0.0  # 0 = unset (RateConfig.DEFAULT_RESET_VALUE)
    data_interval: int = 0  # 0 = auto-estimate (mode of spacings)


def estimate_data_interval(
    points: DataFrame,
    group_cols: Sequence[str] = ("series_id",),
    segment_col: str | None = None,
) -> DataFrame:
    """Mode of observed point spacing per series (kernel 364-420).

    Returns (group_cols…, data_interval).  Ties break toward the
    smaller spacing for determinism (the reference iterates a hash map
    — unspecified order; smallest-wins is the stable choice).

    ``segment_col`` — partition the lag window by (series, segment)
    instead of series alone, the same hot-series straggler bound as the
    rate window itself: without it, one bot series re-serializes the
    whole stage through a single sort task.  The cross-segment spacing
    samples this loses are |segments| per series — noise for a mode
    estimate over the in-segment population.
    """
    keys = [*group_cols, segment_col] if segment_col else list(group_cols)
    w = Window.partitionBy(*keys).orderBy("ts")
    spaced = points.withColumn("_dt", F.col("ts") - F.lag("ts").over(w)).where(F.col("_dt").isNotNull())
    counted = spaced.groupBy(*group_cols, "_dt").agg(F.count("*").alias("_n"))
    best = counted.groupBy(*group_cols).agg(
        F.max_by(F.col("_dt"), F.struct(F.col("_n"), -F.col("_dt"))).alias("data_interval")
    )
    return best


def _with_prev_global(df: DataFrame, group_cols: list, value_col: str, ts_col: str) -> DataFrame:
    """_prev_ts/_prev_v via one window per series (crosses segments)."""
    v, ts = F.col(value_col), F.col(ts_col)
    # lag over non-NaN points only: NaNs don't update previous (ts, value)
    w = Window.partitionBy(*group_cols).orderBy(ts).rowsBetween(Window.unboundedPreceding, -1)
    prev_ts = F.last(F.when(non_nan(v).isNotNull(), ts), ignorenulls=True).over(w)
    prev_v = F.last(non_nan(v), ignorenulls=True).over(w)
    # one withColumns: both columns share the spec, so one Window node
    return df.withColumns({"_prev_ts": prev_ts, "_prev_v": prev_v})


def _with_prev_segmented(
    df: DataFrame, group_cols: list, value_col: str, ts_col: str, segment_col: str
) -> DataFrame:
    """_prev_ts/_prev_v via per-(series, segment) windows plus a
    boundary handoff: for each series-segment, the last non-NaN point
    of the nearest EARLIER segment with data (lag over the tiny
    per-segment-last table, so multi-segment gaps resolve correctly).
    """
    v, ts = F.col(value_col), F.col(ts_col)
    seg_keys = [*group_cols, segment_col]

    # one row per series-segment (map-side combined before the shuffle)
    seg_last = (
        df.where(non_nan(v).isNotNull())
        .groupBy(*seg_keys)
        .agg(F.max(ts).alias("_bnd_ts0"), F.max_by(v, ts).alias("_bnd_v0"))
    )
    w_seg = Window.partitionBy(*group_cols).orderBy(segment_col)
    boundary = seg_last.select(
        *seg_keys,
        F.lag("_bnd_ts0").over(w_seg).alias("_bnd_ts"),
        F.lag("_bnd_v0").over(w_seg).alias("_bnd_v"),
    )

    # join partitioning (seg_keys) is exactly the window partitioning,
    # so the big side shuffles once; AQE broadcasts `boundary` when small
    out = df.join(boundary, on=seg_keys, how="left")
    w = Window.partitionBy(*seg_keys).orderBy(ts).rowsBetween(Window.unboundedPreceding, -1)
    in_seg_ts = F.last(F.when(non_nan(v).isNotNull(), ts), ignorenulls=True).over(w)
    in_seg_v = F.last(non_nan(v), ignorenulls=True).over(w)
    return out.withColumns(
        {"_prev_ts": F.coalesce(in_seg_ts, F.col("_bnd_ts")), "_prev_v": F.coalesce(in_seg_v, F.col("_bnd_v"))}
    ).drop("_bnd_ts", "_bnd_v")


def rate(
    points: DataFrame,
    opts: RateOptions,
    *,
    group_cols: Sequence[str] = ("series_id",),
    value_col: str = "value",
    ts_col: str = "ts",
    segment_col: str | None = None,
) -> DataFrame:
    """Replace ``value`` with its rate transform, preserving all other
    columns.  NaN inputs stay NaN and are invisible to neighbours.

    ``segment_col``: partition the lag window by (series, segment)
    instead of series alone — identical results, bounded task size
    (see module docstring).
    """
    group_cols = list(group_cols)
    v = F.col(value_col)
    ts = F.col(ts_col)

    df = points
    data_interval_col = None
    estimated_interval = False
    if opts.rate_to_count:
        # kernel 226-229: long division of seconds by rate-interval
        # seconds; a result < 1 (incl. configured-but-small) falls
        # back to the per-series estimate (kernel 294).
        iv_long = max(int(opts.interval_seconds), 1)
        cfg_units = int(opts.data_interval) // iv_long if opts.data_interval > 0 else 0
        if cfg_units >= 1:
            data_interval_col = F.lit(float(cfg_units))
        else:
            estimated_interval = True
            # est is one row per series in the scan — O(series), so no
            # forced broadcast: AQE picks broadcast at small sizes, and
            # at dimension scale the sort-merge join lands on the same
            # (group_cols) partitioning the lag window shuffles to
            # anyway, so the fact table is not re-shuffled either way.
            seg = segment_col if (segment_col is not None and segment_col in points.columns) else None
            est = estimate_data_interval(points, group_cols, segment_col=seg)
            df = df.join(est, on=group_cols, how="left")
            # kernel 416-419: long division, clamped to >= 1 (also the
            # empty-distribution default; greatest() skips the NULL of
            # a single-point series, whose only point is NaN anyway)
            data_interval_col = F.greatest(
                F.floor(F.col("data_interval") / F.lit(iv_long)).cast("double"), F.lit(1.0)
            )

    if segment_col is not None and segment_col in df.columns:
        df = _with_prev_segmented(df, group_cols, value_col, ts_col, segment_col)
    else:
        df = _with_prev_global(df, group_cols, value_col, ts_col)

    dr = (ts - F.col("_prev_ts")).cast("double") / F.lit(float(opts.interval_seconds))
    delta = v - F.col("_prev_v")

    if opts.rate_to_count:
        di = data_interval_col
        rate_expr = v * F.least(dr, di)
    elif opts.delta_only:
        rate_expr = delta
    elif opts.counter:
        rollover = F.lit(float(opts.counter_max)) - F.col("_prev_v") + v
        if opts.drop_resets:
            on_reset = NAN()
        elif opts.reset_value > 0.0:
            on_reset = F.when(rollover > F.lit(float(opts.reset_value)), F.lit(0.0)).otherwise(rollover / dr)
        else:
            on_reset = rollover / dr
        rate_expr = F.when(delta < 0, on_reset).otherwise(delta / dr)
    else:
        rate_expr = delta / dr

    new_value = (
        F.when(F.isnan(v), v)  # NaN passes through untouched
        .when(F.col("_prev_v").isNull(), NAN())  # first point → NaN
        # dt == 0 cannot happen after dedupe (ts unique per series);
        # guard anyway so undeduped input yields NaN, not an ANSI
        # divide-by-zero error
        .when(ts == F.col("_prev_ts"), NAN())
        .otherwise(rate_expr)
    )
    out = df.withColumn(value_col, new_value.cast("double"))
    drop = ["_prev_ts", "_prev_v"] + (["data_interval"] if estimated_interval else [])
    return out.drop(*drop)


def time_shift(points: DataFrame, shift_seconds: int, ts_col: str = "ts") -> DataFrame:
    """R5 — evaluate over [start-Δ, end-Δ) then relabel ts +Δ
    (AuraMetricsQueryNode.java:72-75,137-148).  The caller shifts the
    scan range; this relabels so results align with the query range."""
    return points.withColumn(ts_col, (F.col(ts_col) + F.lit(int(shift_seconds))).cast("long"))
