"""A10 — rollup pre-aggregation and query-time substitution.

The reference computes chained aggregates (avg/sum/count/min/max/
sumofsquare) per interval at flush time
(core/src/main/java/net/opentsdb/aura/metrics/core/downsample/
DownSampler.java:32-56, chain core/.../downsample/Aggregator.java:45-132)
and serves a later query from the stored aggregate stream when the
requested aggregator is available and the downsample interval is
compatible (opentsdb/.../AerospikeBatchQueryNode.java:195-225).

Spark re-expression: a ``rollup_<interval>`` Parquet table
(series keys, window_start, sum, count, min, max, sumsq) holding the
partials of the downsample chain (``downsample.accumulate``), built by
one hash aggregation — ``streaming.ingest.streaming_rollup`` emits the
same rows at window close.  Query-time substitution only adds the
partial merge — sum of sums, min of mins, etc., and the sample
variance from sumsq — before the chain's ``select_value``, so avg =
Σsum/Σcount as on raw points.  The planner picks the rollup iff:

  - the downsample aggregator is derivable from the stored chain,
  - ds_interval % rollup_interval == 0,
  - both ends of the query range are aligned to the rollup grid
    (buckets are query-start-aligned; rollup windows are epoch-aligned).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.downsample import accumulate, bucket_expr, select_value


#: aggregators answerable from the stored chain (avg via sum/count;
#: variance/stddev via sum/count/sumsq — the downstream use the
#: reference stores sumofsquare FOR, SumOfSquareAggregator.java:20-40)
ROLLUP_SERVABLE = {"sum", "count", "min", "max", "avg", "sumsq", "var", "stddev"}


#: the stored chain: rollup column → (the chain partial it keeps, how
#: windows merge into a coarser bucket)
ROLLUP_CHAIN = {
    "sum": ("_sum", F.sum),
    "count": ("_cnt", F.sum),
    "min": ("_min", F.min),
    "max": ("_max", F.max),
    "sumsq": ("_sumsq", F.sum),
}


def rollup_partials(
    df: DataFrame, keys: Sequence, value_col: str = "value", bucket: tuple[str, Column] | None = None
) -> DataFrame:
    """(keys…, sum, count, min, max, sumsq): the chain's partials under
    their stored names — the aggregate of ``build_rollup`` and of its
    window-close twin ``streaming_rollup``."""
    p = accumulate(df, keys, value_col, bucket=bucket)
    return p.select(*p.columns[: len(keys)], *(F.col(src).alias(c) for c, (src, _) in ROLLUP_CHAIN.items()))


def build_rollup(
    points: DataFrame,
    rollup_interval: int,
    *,
    group_cols: Sequence[str] = ("series_id",),
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Write-side downsample: epoch-aligned windows, NaN-skipping
    chained aggregates (one pass, map-side partial agg)."""
    w = (F.col(ts_col) - F.col(ts_col) % F.lit(int(rollup_interval))).cast("long")
    return rollup_partials(points, [*group_cols, "window_start"], value_col, bucket=("window_start", w))


def downsample_from_rollup(
    rollup: DataFrame,
    start: int,
    end: int,
    interval: int,
    agg: str,
    *,
    group_cols: Sequence[str] = ("series_id",),
) -> DataFrame:
    """Serve a downsample query from the rollup table: merge the stored
    partials into query-start-aligned buckets (Σsum, Σcount, min of
    mins, max of maxes, Σsumsq, and the sample variance from them),
    then the chain's ``select_value``.  Output schema matches
    ``downsample(..., fill='none')``: (group_cols…, bucket_ts, value)."""
    agg = agg.lower()
    if agg not in ROLLUP_SERVABLE:
        raise ValueError(f"aggregator {agg} not servable from rollups")
    group_cols = list(group_cols)
    df = rollup.where((F.col("window_start") >= F.lit(int(start))) & (F.col("window_start") < F.lit(int(end))))
    bucket = bucket_expr(F.col("window_start"), start, interval)
    grouped = df.withColumn("bucket_ts", bucket).groupBy(*group_cols, "bucket_ts").agg(
        *(merge(c).alias(p) for c, (p, merge) in ROLLUP_CHAIN.items())
    )
    # sample variance from the chain: (Σv² − (Σv)²/n) / (n−1), NULL
    # below two points; the clamp keeps tiny negative fp residue from
    # turning stddev NaN on near-constant data
    n = F.col("_cnt")
    var = F.when(n >= 2, F.greatest((F.col("_sumsq") - F.col("_sum") * F.col("_sum") / n) / (n - 1), F.lit(0.0)))
    grouped = grouped.withColumn("_var", var).withColumn("_stddev", F.sqrt(var))
    return grouped.select(*group_cols, "bucket_ts", select_value(agg).alias("value"))


def choose_rollup_interval(
    intervals: Iterable[int], ds_interval: int | None, start: int, end: int
) -> int | None:
    """Planner rule shared by every pre-aggregate kind: the coarsest
    table interval (fewest rows scanned) that divides the downsample
    interval and sits on the grid at BOTH ends of [start, end) — a
    table window starting before ``end`` extends past it when ``end``
    is off the grid, so its pre-aggregate would include points in
    [end, window_start + rollup_interval) that a raw-point downsample
    excludes.  None → the caller serves from raw points."""
    if ds_interval:
        for riv in sorted(intervals, reverse=True):
            if ds_interval % riv == 0 and start % riv == 0 and (end - start) % riv == 0:
                return riv
    return None


def choose_downsample_source(
    rollups: dict[int, DataFrame],
    ds_agg: str,
    ds_interval: int | None,
    start: int,
    end: int,
) -> tuple[DataFrame | None, int | None]:
    """The rollup table serving ``ds_agg`` per ``choose_rollup_interval``
    (the substitution predicate of AerospikeBatchQueryNode.java:200-224);
    (None, None) → the caller falls back to its raw table."""
    riv = choose_rollup_interval(rollups, ds_interval, start, end) if ds_agg in ROLLUP_SERVABLE else None
    return (None, None) if riv is None else (rollups[riv], riv)


# ------------------------------------------------- histogram rollups (sketch)

#: default relative accuracy of the histogram rollup bins
HIST_EPS = 0.01


def _hist_gamma(eps: float) -> float:
    return (1.0 + eps) / (1.0 - eps)


def build_rollup_histogram(
    points: DataFrame,
    rollup_interval: int,
    *,
    eps: float = HIST_EPS,
    group_cols: Sequence[str] = ("series_id",),
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Write-side log-bucketed value histogram per rollup window — the
    MERGEABLE percentile path the plain sum/count/min/max chain can't
    provide (A6: the reference buffers raw values per interval for
    percentiles, AuraMetricsNumericArrayIterator.java:488-498 — fine
    per segment, impossible across pre-aggregates).

    DDSketch-style bins (relative accuracy ``eps``): for v≠0,
    idx = ceil(log_γ(|v|)) with γ = (1+eps)/(1−eps); sign carried
    separately; v = 0 in its own bin.  Output is LONG format —
    (group…, window_start, sign, bin, cnt) — so query-time merging is
    a plain groupBy SUM with full map-side combine; no map-typed
    columns, no UDAF.  Rows per (series, window) are bounded by the
    value dynamic range (~log_γ spread ≈ tens), not the point count —
    the storage multiplier that makes sketch rollups viable at 100 TB.

    Non-finite values (NaN and ±Inf) are skipped (no-data, consistent
    with the aggregate chain): an Inf would make log(|v|) = inf and the
    bin cast null/overflowed (an error under ANSI mode), silently
    corrupting the sketch for that window.
    """
    import math

    gamma = _hist_gamma(float(eps))
    v = F.col(value_col)
    w = (F.col(ts_col) - F.col(ts_col) % F.lit(int(rollup_interval))).cast("long")
    sign = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0)).cast("int")
    idx = F.when(
        v == 0, F.lit(0)
    ).otherwise(F.ceil(F.log(F.abs(v)) / F.lit(math.log(gamma)))).cast("int")
    return (
        points.where(~F.isnan(v) & (F.abs(v) != float("inf")))
        .withColumn("window_start", w)
        .withColumn("sign", sign)
        .withColumn("bin", idx)
        .groupBy(*group_cols, "window_start", "sign", "bin")
        .agg(F.count("*").alias("cnt"))
    )


def percentile_from_rollup_histogram(
    hist: DataFrame,
    q: float,
    start: int,
    end: int,
    interval: int,
    *,
    eps: float = HIST_EPS,
    group_cols: Sequence[str] = ("metric",),
) -> DataFrame:
    """Serve a percentile downsample from the histogram rollup:
    re-bucket windows onto the query grid, merge bins (groupBy SUM),
    walk the cumulative distribution, return the bin estimate at rank
    ⌈q·n⌉ — within ``eps`` relative error of the exact value by the
    DDSketch bound.  Output: (group…, bucket_ts, value).

    Every step is a hash aggregate or a bounded window over bin rows
    (tens per group-bucket), so the plan touches pre-aggregates only —
    the raw points are never scanned.
    """
    import math

    from pyspark.sql.window import Window

    gamma = _hist_gamma(float(eps))
    bucket = bucket_expr(F.col("window_start"), start, interval)
    in_range = (F.col("window_start") >= F.lit(int(start))) & (F.col("window_start") < F.lit(int(end)))
    merged = (
        hist.where(in_range)
        .withColumn("bucket_ts", bucket)
        .groupBy(*group_cols, "bucket_ts", "sign", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    # total value order across signs: negatives by descending |v|,
    # then zero, then positives by ascending |v| — (sign, sign·bin)
    sidx = (F.col("sign") * F.col("bin")).alias("_sidx")
    part = Window.partitionBy(*group_cols, "bucket_ts")
    walk = part.orderBy("sign", "_sidx").rowsBetween(Window.unboundedPreceding, 0)
    est = F.when(F.col("sign") == 0, F.lit(0.0)).otherwise(
        F.col("sign")
        * (F.lit(2.0) * F.pow(F.lit(gamma), F.col("bin")) / F.lit(gamma + 1.0))
    )
    ranked = (
        merged.withColumn("_sidx", sidx)
        .withColumn("_cum", F.sum("cnt").over(walk))
        .withColumn("_total", F.sum("cnt").over(part))
        .withColumn("_est", est)
    )
    hit = ranked.where(F.col("_cum") >= F.ceil(F.lit(float(q)) * F.col("_total")))
    # the first qualifying row in the value order — min over the
    # (sign, sign·bin, estimate) struct picks it without a second sort
    return hit.groupBy(*group_cols, "bucket_ts").agg(
        F.min(F.struct("sign", "_sidx", "_est")).getField("_est").alias("value")
    )
