"""Temporal downsample (SURVEY.md §2.3a, A1-A11).

Re-expression of the fused per-segment kernel
(opentsdb/src/main/java/net/opentsdb/aura/metrics/storage/
AuraMetricsNumericArrayIterator.java:285-670) as a declarative Spark
aggregation.  Semantics preserved:

- buckets are **query-start-aligned** tumbling intervals:
  bucket i covers [start + i*interval, start + (i+1)*interval)
  (intervalOffset walks seconds from startTime; partial tail buckets
  close early — AuraMetricsNumericArrayIterator.java:500-559,
  core/.../downsample/DownSampler.java:47).
- NaN input values are *skipped* unless ``infectious_nan``; an
  interval containing any NaN with the flag set yields NaN and all its
  other values are ignored (kernel lines 465-473).
- an interval with no (surviving) values yields **NaN**, not 0 and not
  an absent row — the dense interval "spine" is the single most
  visible semantic difference from a plain GROUP BY (A8).
- AVG is sum/count; reporting-average divides SUM by a configured
  expected point count (kernel lines 502-536, avg→sum rewrite 151-157).
- LAST is the last non-NaN value in timestamp order (post-dedupe).
- run-all: one bucket spanning [start, end) (kernel lines 199-202).

Aggregator names follow the reference registry, including OpenTSDB
aliases zimsum/mimmin/mimmax
(core/.../downsample/AggregatorType.java:20-116).

This module also holds the engine's one NumericAggregator chain
(core/.../downsample/Aggregator.java:45-132, avg = sum/count as in
AverageAggregator.java:40-43): ``non_nan`` (the NaN-skipping mask),
``accumulate`` (the partials) and ``select_value`` (agg → value, then
empty → NaN, then infectious NaN).  ``downsample``, ``groupby.group_merge``,
``rollup.build_rollup`` / ``downsample_from_rollup``,
``summarizer.summarize`` and the streaming window-close rollup are
front ends of it, so a NaN point means the same thing on every path.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.model import NAN


#: canonical name → alias set (AggregatorType.java:20-116)
AGG_ALIASES = {
    "zimsum": "sum",
    "mimmin": "min",
    "mimmax": "max",
}

SUPPORTED_AGGS = {
    "sum",
    "avg",
    "count",
    "min",
    "max",
    "last",
    "median",
    "stddev",
    "var",
    "sumsq",
    "p50",
    "p75",
    "p90",
    "p95",
    "p99",
    "p999",
}


#: UD1 — pluggable aggregator registry (the NumericAggregatorFactory
#: lookup-by-name, AuraMetricsNumericArrayIterator.java:182-195):
#: name → fn(masked_value_column) -> aggregate Column expression.
CUSTOM_AGGS: dict[str, object] = {}


def register_aggregator(name: str, fn) -> None:
    """Register a custom downsample aggregator usable by name, e.g.
    ``register_aggregator("gmean", lambda v: F.exp(F.avg(F.log(v))))``."""
    CUSTOM_AGGS[name.lower().strip()] = fn


def normalize_agg(agg: str) -> str:
    agg = agg.lower().strip()
    agg = AGG_ALIASES.get(agg, agg)
    if agg not in SUPPORTED_AGGS and agg not in CUSTOM_AGGS:
        raise ValueError(f"unsupported downsample aggregator: {agg}")
    return agg


def bucket_expr(ts: Column, start: int, interval: int) -> Column:
    """Start-aligned tumbling bucket: start + floor((ts-start)/interval)*interval."""
    return (F.lit(int(start)) + F.floor((ts - F.lit(int(start))) / F.lit(int(interval))) * F.lit(int(interval))).cast(
        "long"
    )


def non_nan(v: Column) -> Column:
    """NaN → NULL: the one NaN-skipping value mask (``NAN``'s sibling).
    Every aggregate of the chain and every window of ``analytic`` reads
    values through it, so a NaN point is "no data" everywhere (kernel
    lines 465-473)."""
    return F.when(F.isnan(v), F.lit(None).cast("double")).otherwise(v)


def percentile_fraction(agg: str) -> float | None:
    """The quantile a percentile aggregator names: median → 0.5,
    p90 → 0.90, p999 → 0.999 (the digits are the decimals); else None."""
    if agg == "median":
        return 0.5
    m = re.fullmatch(r"p(\d{1,3})", agg)
    return float("0." + m.group(1)) if m else None


def _exact(agg: str | None) -> list[Column]:
    """The non-mergeable aggregate a raw-point ``agg`` needs beside the
    partials (none for the mergeable ones)."""
    if agg in ("stddev", "var"):
        return [(F.stddev_samp if agg == "stddev" else F.var_samp)("_v").alias(f"_{agg}")]
    if agg == "median":
        return [F.expr("median(_v)").alias("_exact")]
    if agg in CUSTOM_AGGS:
        # registry names are arbitrary — check BEFORE the percentile
        # parse or a custom agg named "p..." would be read as one
        return [CUSTOM_AGGS[agg](F.col("_v")).alias("_exact")]
    q = percentile_fraction(agg or "")
    return [] if q is None else [F.expr(f"percentile(_v, {q})").alias("_exact")]


def accumulate(
    df: DataFrame,
    keys: Sequence,
    value_col: str = "value",
    *,
    agg: str | None = None,
    bucket: tuple[str, Column] | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """The chain's accumulate step (Aggregator.java:45-132): group by
    ``keys`` the masked value ``_v`` into ``_sum, _cnt, _min, _max,
    _sumsq, _has_nan``; with ``order_col`` also ``_first``/``_last``
    (non-NaN, in that order); with ``agg`` its non-mergeable aggregate.
    ``bucket`` = (name, Column) derives a key beside ``_v``.  The
    optimizer prunes the partials no parent selects."""
    v = F.col(value_col)
    cols = {"_v": non_nan(v), "_isnan": F.isnan(v)}
    if bucket is not None:
        cols[bucket[0]] = bucket[1]
    df = df.withColumns(cols)
    aggs = [
        F.sum("_v").alias("_sum"),
        F.count("_v").alias("_cnt"),
        F.min("_v").alias("_min"),
        F.max("_v").alias("_max"),
        F.sum(F.col("_v") * F.col("_v")).alias("_sumsq"),
    ]
    if order_col is not None:
        at = F.when(F.col("_v").isNotNull(), F.col(order_col))
        aggs += [F.min_by("_v", at).alias("_first"), F.max_by("_v", at).alias("_last")]
    aggs.append(F.max("_isnan").alias("_has_nan"))
    return df.groupBy(*keys).agg(*aggs, *_exact(agg))


def select_value(
    agg: str, *, reporting_dps: float | None = None, infectious_nan: bool = False
) -> Column:
    """The chain's select step over ``accumulate``'s partials: ``agg``
    → value (the interval-close switch, kernel lines 502-536), then an
    empty interval (no non-NaN value) → NaN, then infectious NaN."""
    if agg == "sum" and reporting_dps:  # reporting-average: sum / expected dps (kernel 506-511)
        value = F.col("_sum") / F.lit(float(reporting_dps))
    elif agg == "avg":
        value = F.col("_sum") / F.col("_cnt")
    elif agg == "count":
        value = F.col("_cnt").cast("double")
    elif agg in ("stddev", "var"):
        # n=1 → NaN (not the SQL NULL)
        value = F.coalesce(F.col(f"_{agg}"), NAN())
    elif agg in ("sum", "min", "max", "sumsq", "first", "last"):
        value = F.col(f"_{agg}")
    else:
        value = F.col("_exact")
    value = F.when(F.col("_cnt") == 0, NAN()).otherwise(value)
    if infectious_nan:
        value = F.when(F.col("_has_nan"), NAN()).otherwise(value)
    return value


def downsample(
    points: DataFrame,
    start: int,
    end: int,
    interval: int | None,
    agg: str,
    *,
    group_cols: Sequence[str] = ("series_id",),
    infectious_nan: bool = False,
    reporting_dps: float | None = None,
    run_all: bool = False,
    fill: str = "nan",  # "nan" | "zero" | "null" | "none"
    value_col: str = "value",
    ts_col: str = "ts",
    spine_groups: DataFrame | None = None,
) -> DataFrame:
    """Downsample ``points`` into (group_cols…, bucket_ts, value).

    ``fill="nan"`` emits the dense interval spine with NaN for empty /
    NaN-infected intervals (the reference contract); ``fill="none"``
    emits only non-empty intervals (a plain GROUP BY, cheaper when the
    caller immediately group-merges with a NaN-skipping aggregator).
    """
    agg = normalize_agg(agg)
    group_cols = list(group_cols)
    if run_all or interval is None:
        interval = int(end) - int(start)
    interval = int(interval)

    ts = F.col(ts_col)
    df = points.where((ts >= F.lit(int(start))) & (ts < F.lit(int(end))))
    grouped = accumulate(
        df, [*group_cols, "bucket_ts"], value_col, agg=agg,
        bucket=("bucket_ts", bucket_expr(ts, start, interval)), order_col=ts_col,
    )
    value = select_value(agg, reporting_dps=reporting_dps, infectious_nan=infectious_nan)
    result = grouped.select(*group_cols, "bucket_ts", value.alias("value"))
    if fill != "none":
        result = fill_spine(
            result, start, end, interval, group_cols, fill=fill, spine_groups=spine_groups
        )
    return result


def fill_spine(
    result: DataFrame,
    start: int,
    end: int,
    interval: int,
    group_cols: Sequence[str],
    fill: str = "nan",
    spine_groups: DataFrame | None = None,
) -> DataFrame:
    """Dense interval spine (A8): every (group, bucket) in
    [start, end) surfaces a row; missing buckets carry the fill value
    — NaN (reference default), 0 (the rollup count fill,
    GorillaDownSampledTimeSeriesEncoder.java:171), or NULL.

    One pass over ``result``, as the reference's fused iterator fills
    its dense per-series array while it aggregates
    (AuraMetricsNumericArrayIterator.java:285-670): one aggregate
    gathers each group's observed cells into a ``bucket_ts → value``
    map, then an explode of ``sequence(0, n_buckets - 1)`` reads
    ``coalesce(cell, fill)`` per bucket.  The spine is |groups| ×
    |buckets| — the *output* cardinality, not a scale hazard.  Cells
    off the grid or outside [start, end) are never read; a row with a
    NULL ``bucket_ts`` adds no cell but still names its group.  Group
    keys compare null-safely: a series missing a grouped tag forms a
    NULL-keyed group (``with_group_keys``) whose values survive.
    Group-all (no ``group_cols``) is a global aggregate, which yields
    one row on empty input, so it always emits the full fill grid.

    Input contract: at most one ``result`` row per (group, bucket).
    Every caller meets it — the downsample / group-merge / rollup
    aggregates output one row per key, and the hot/cold splice unions
    tier-disjoint buckets; a duplicate raises at the map build.

    ``spine_groups`` — optional meta-driven group universe (one row per
    group, exactly ``group_cols`` columns), left-joined to the cells.
    By default the spine derives from the *result*, so a series the
    filter matched that has zero in-range points emits nothing; the
    reference's meta index selects series independently of the scanned
    range and such a series yields an all-NaN vector
    (TimeSeriesShard.java:677-758 selection vs
    AuraMetricsNumericArrayIterator missing-segment NaN fill).  Pass the
    filtered ``series_dim`` projection to reproduce that contract.
    """
    group_cols = list(group_cols)
    fill_value = {
        "nan": NAN(),
        "zero": F.lit(0.0),
        "null": F.lit(None).cast("double"),
    }[fill]
    n_buckets = max(0, -(-(int(end) - int(start)) // int(interval)))  # ceil
    if n_buckets == 0:
        # empty range: no spine rows (and sequence(0, -1) would step
        # BACKWARD, inventing buckets)
        return result.where(F.lit(False))
    b = F.col("bucket_ts")
    cells = result.groupBy(*group_cols).agg(
        F.map_from_entries(F.collect_list(F.when(b.isNotNull(), F.struct(b, F.col("value"))))).alias("_cells")
    )
    keys = [F.col(c) for c in group_cols]
    if spine_groups is not None and group_cols:
        g, c = spine_groups.select(*group_cols).distinct().alias("_g"), cells.alias("_c")
        cond = reduce(Column.__and__, [F.col(f"_g.{k}").eqNullSafe(F.col(f"_c.{k}")) for k in group_cols])
        cells, keys = g.join(c, cond, "left"), [F.col(f"_g.{k}") for k in group_cols]
    ts = (F.lit(int(start)) + F.col("_i") * F.lit(int(interval))).cast("long")
    return cells.select(*keys, "_cells", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("_i")).select(
        *group_cols, ts.alias("bucket_ts"), F.coalesce(F.col("_cells")[ts], fill_value).alias("value")
    )
