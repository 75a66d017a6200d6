"""Spatial group-by (SURVEY.md §2.3b, G1-G4): merge series into groups
by a tag-key subset, combining their downsampled vectors element-wise.

Reference: pushdown capture at
opentsdb/src/main/java/net/opentsdb/aura/metrics/storage/
AerospikeBatchQueryNode.java:162-193, accumulation at
AerospikeBatchGroupAggregator.java:477,753 (per-interval
``combinedAggregator.accumulate(v, intervalIndex)`` — the OpenTSDB
NumericArrayAggregator family: sum/zimsum/avg/min/mimmin/max/mimmax/count).

Spark shape: the per-series downsampled frame (series keys, bucket_ts,
value) is aggregated again by (group-tag values, bucket_ts).  Spark
plans this as partial+final hash aggregation — the exact analogue of
the reference's per-job partial group maps + pairwise merge
(AerospikeBatchQueryNode.java:388-447).

NaN handling: the array aggregators skip NaN inputs (a NaN per-series
interval simply doesn't contribute); a group-interval with no non-NaN
contributions is NaN.  With ``infectious_nan`` set the NaN poisons the
group interval instead.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.model import NAN
from opentsdb_aura_spark.operators.downsample import AGG_ALIASES


GROUP_AGGS = {"sum", "avg", "min", "max", "count"}


def normalize_group_agg(agg: str) -> str:
    """Canonical group-by aggregator name (OpenTSDB aliases resolved)."""
    agg = agg.lower().strip()
    agg = AGG_ALIASES.get(agg, agg)
    if agg not in GROUP_AGGS:
        raise ValueError(f"unsupported group-by aggregator: {agg}")
    return agg


def group_merge(
    per_series: DataFrame,
    agg: str,
    *,
    group_cols: Sequence[str] = (),
    bucket_col: str = "bucket_ts",
    value_col: str = "value",
    infectious_nan: bool = False,
) -> DataFrame:
    """Merge per-series interval values into per-group interval values.

    ``group_cols`` are the resolved group-key columns (e.g. tag-value
    columns); empty = group-all (G2, MetaTimeSeriesQueryResult.java:97-111).
    """
    agg = normalize_group_agg(agg)
    group_cols = list(group_cols)
    v = F.col(value_col)
    masked = F.when(F.isnan(v), F.lit(None).cast("double")).otherwise(v)

    grouped = per_series.withColumn("_v", masked).groupBy(*group_cols, bucket_col).agg(
        F.sum("_v").alias("_sum"),
        F.count("_v").alias("_cnt"),
        F.min("_v").alias("_min"),
        F.max("_v").alias("_max"),
        F.max(F.isnan(v)).alias("_has_nan"),
    )
    if agg == "sum":
        out = F.col("_sum")
    elif agg == "avg":
        out = F.col("_sum") / F.col("_cnt")
    elif agg == "min":
        out = F.col("_min")
    elif agg == "max":
        out = F.col("_max")
    else:  # count of contributing (non-NaN) series per interval
        out = F.col("_cnt").cast("double")

    out = F.when(F.col("_cnt") == 0, NAN()).otherwise(out)
    if infectious_nan:
        out = F.when(F.col("_has_nan"), NAN()).otherwise(out)
    return grouped.select(*group_cols, bucket_col, out.alias(value_col))


def with_group_keys(points: DataFrame, tag_keys: Sequence[str], tags_col: str = "tags") -> DataFrame:
    """Materialize group-key columns from the tag map (G1).

    A series missing a grouped key gets NULL — such series form their
    own NULL-keyed group, matching the reference where group ids are
    the joined tag-value strings resolved by the meta layer
    (MystQueryBuilder.java:38-89)."""
    df = points
    for k in tag_keys:
        df = df.withColumn(f"tag_{k}", F.col(tags_col)[k])
    return df
