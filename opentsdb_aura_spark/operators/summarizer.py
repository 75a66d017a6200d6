"""Summarizer (OpenTSDB 3.x ``summarizer`` node).

Reduces each output time series to scalar summaries — the node that
backs "show me the avg/max over the graphed window" table footers.
Upstream OpenTSDB (``net.opentsdb.query.processor.summarizer``)
iterates the final per-series interval array and folds it with the
same NumericAggregator family the reference wires in
(AuraMetricsNumericArrayIterator.java:182-195 — SURVEY.md §2.11 UD1);
supported summaries there: avg, sum, count, min, max, first, last.

Spark shape: the downsample chain (``downsample.accumulate`` →
``select_value``) over the already-aggregated result, keyed by the
group keys only (the bucket_ts axis folds away).  NaN intervals are
skipped (they mean "no data in this bucket"), matching the upstream
summarizer's NaN guard; a series with no non-NaN buckets summarizes
to NaN (count: 0).  first/last are the chain's first/last non-NaN
value in bucket_ts order.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.downsample import accumulate, select_value
from opentsdb_aura_spark.operators.groupby import group_merge

__all__ = ["SUMMARIES", "summarize", "topn"]

SUMMARIES = ("avg", "sum", "count", "min", "max", "first", "last")


def summarize(
    df: DataFrame,
    summaries: Sequence[str],
    *,
    group_cols: Sequence[str] = (),
    bucket_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """(group keys…, bucket_ts, value) → (group keys…, one column per
    requested summary).  Output columns are named after the summary."""
    summaries = [s.lower() for s in summaries]
    bad = [s for s in summaries if s not in SUMMARIES]
    if bad:
        raise ValueError(f"unsupported summaries {bad}; one of {SUMMARIES}")
    group_cols = list(group_cols)

    grouped = accumulate(df, group_cols, value_col, order_col=bucket_col)
    # count is the number of non-NaN buckets (0, never NaN)
    out = [
        (F.col("_cnt").cast("double") if s == "count" else select_value(s)).alias(s)
        for s in summaries
    ]
    return grouped.select(*group_cols, *out)


def _winners(df, k, summary, top, group_cols, bucket_col, value_col) -> DataFrame:
    """The ``k`` groups ranked first by ``summary`` (NaN never wins,
    ties break by group key)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    ranked = summarize(df, [summary], group_cols=group_cols, bucket_col=bucket_col, value_col=value_col)
    s = F.col(summary)
    return (
        ranked.where(~F.isnan(s))
        .orderBy(s.desc() if top else s.asc(), *group_cols)
        .limit(int(k))
        .select(*group_cols)
    )


def topn(
    df: DataFrame,
    k: int,
    summary: str = "avg",
    *,
    top: bool = True,
    group_cols: Sequence[str] = ("series_id",),
    bucket_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """OpenTSDB 3.x ``topn`` node (upstream of the reference — the
    survey notes the metric path has no in-repo top-k, SURVEY.md §2.5):
    rank output series by a scalar summary of their interval values,
    keep the top (bottom, with ``top=False``) ``k``, and return the
    surviving series' full interval rows.

    Scale shape: the ranking input is one row per series (the
    summarize() output), so the global order-by-limit is a
    TakeOrderedAndProject over |series| rows — no full sort shuffle —
    and the k winners broadcast back as a semi-join.  Ties break by
    group key for determinism; NaN summaries (series with no data)
    never win.
    """
    group_cols = list(group_cols)
    winners = _winners(df, k, summary, top, group_cols, bucket_col, value_col)
    return df.join(F.broadcast(winners), group_cols, "left_semi")


def topn_with_other(
    df: DataFrame,
    k: int,
    summary: str = "avg",
    *,
    top: bool = True,
    merge_agg: str = "sum",
    other_label: str = "__other__",
    group_cols: Sequence[str] = ("series_id",),
    bucket_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """``topn`` plus the dashboard "other" bucket: the k winning
    groups keep their own rows; every losing group folds into ONE
    synthetic group labeled ``other_label`` whose per-bucket value is
    the ``merge_agg`` of the losers — so the chart still accounts for
    100% of the data with k+1 series.

    Same scale shape as topn (series-count ranking, broadcast winner
    set); the losers' fold is one hash aggregate over the anti-join
    remainder.  Group columns become strings (the label must inhabit
    them)."""
    group_cols = list(group_cols)
    winners = _winners(df, k, summary, top, group_cols, bucket_col, value_col)
    as_str = [F.col(c).cast("string").alias(c) for c in group_cols]
    kept = df.join(F.broadcast(winners), group_cols, "left_semi").select(
        *as_str, F.col(bucket_col), F.col(value_col)
    )
    losers = df.join(F.broadcast(winners), group_cols, "left_anti")
    other = group_merge(
        losers, merge_agg, group_cols=[], bucket_col=bucket_col, value_col=value_col
    ).select(
        *[F.lit(other_label).alias(c) for c in group_cols], F.col(bucket_col), F.col(value_col)
    )
    return kept.unionByName(other)
