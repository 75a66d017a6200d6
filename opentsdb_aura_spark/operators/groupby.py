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

NaN handling is the downsample chain's (``downsample.accumulate`` →
``select_value``): a NaN per-series interval simply doesn't
contribute; a group-interval with no non-NaN contributions is NaN.
With ``infectious_nan`` set the NaN poisons the group interval instead.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.downsample import AGG_ALIASES, accumulate, select_value


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
    grouped = accumulate(per_series, [*group_cols, bucket_col], value_col)
    value = select_value(agg, infectious_nan=infectious_nan)
    return grouped.select(*group_cols, bucket_col, value.alias(value_col))


def with_group_keys(points: DataFrame, tag_keys: Sequence[str], tags_col: str = "tags") -> DataFrame:
    """Materialize group-key columns from the tag map (G1).

    A series missing a grouped key gets NULL — such series form their
    own NULL-keyed group, matching the reference where group ids are
    the joined tag-value strings resolved by the meta layer
    (MystQueryBuilder.java:38-89)."""
    return points.withColumns({f"tag_{k}": F.col(tags_col)[k] for k in tag_keys})
