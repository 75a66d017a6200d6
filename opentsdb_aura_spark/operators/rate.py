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
After dedupe a series holds at most one point per second, so one
series' window is bounded by the query range in seconds (86 400 rows
per day), however hot the series.  Without dedupe the window holds
every raw row of the series.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, Window
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
) -> DataFrame:
    """Mode of observed point spacing per series (kernel 364-420).

    Returns (group_cols…, data_interval).  Ties break toward the
    smaller spacing for determinism (the reference iterates a hash map
    — unspecified order; smallest-wins is the stable choice).
    """
    w = Window.partitionBy(*group_cols).orderBy("ts")
    spaced = points.withColumn("_dt", F.col("ts") - F.lag("ts").over(w)).where(F.col("_dt").isNotNull())
    counted = spaced.groupBy(*group_cols, "_dt").agg(F.count("*").alias("_n"))
    best = counted.groupBy(*group_cols).agg(
        F.max_by(F.col("_dt"), F.struct(F.col("_n"), -F.col("_dt"))).alias("data_interval")
    )
    return best


def rate(
    points: DataFrame,
    opts: RateOptions,
    *,
    group_cols: Sequence[str] = ("series_id",),
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Replace ``value`` with its rate transform, preserving all other
    columns.  NaN inputs stay NaN and are invisible to neighbours."""
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
            est = estimate_data_interval(points, group_cols)
            df = df.join(est, on=group_cols, how="left")
            # kernel 416-419: long division, clamped to >= 1 (also the
            # empty-distribution default; greatest() skips the NULL of
            # a single-point series, whose only point is NaN anyway)
            data_interval_col = F.greatest(
                F.floor(F.col("data_interval") / F.lit(iv_long)).cast("double"), F.lit(1.0)
            )

    # lag over non-NaN points only: NaNs don't update previous (ts, value);
    # one window per series, crossing segments.  One withColumns: both
    # columns share the spec, so one Window node
    w = Window.partitionBy(*group_cols).orderBy(ts).rowsBetween(Window.unboundedPreceding, -1)
    df = df.withColumns(
        {
            "_prev_ts": F.last(F.when(non_nan(v).isNotNull(), ts), ignorenulls=True).over(w),
            "_prev_v": F.last(non_nan(v), ignorenulls=True).over(w),
        }
    )

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
