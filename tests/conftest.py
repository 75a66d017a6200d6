"""Shared fixtures: one local SparkSession + point-builder helpers.

Scenario fixtures mirror the reference's unit-test corpus
(FIXTURES.md / SURVEY.md §5): constant, gappy, OOO+dupes, counter
with resets, NaN values, multi-series fleet.
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

BASE = 1704067200  # 2024-01-01 00:00:00 UTC, segment-aligned


@pytest.fixture(scope="session")
def spark():
    from opentsdb_aura_spark import get_spark

    return get_spark("tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def make_points(spark):
    """rows: (metric, tags, ts, value[, seq]) → normalized points DF."""

    def _make(rows):
        from pyspark.sql import Row

        from opentsdb_aura_spark.model import POINT_SCHEMA, normalize_points

        data = []
        for i, r in enumerate(rows):
            metric, tags, ts, value = r[0], r[1], r[2], r[3]
            seq = r[4] if len(r) > 4 else i
            data.append(
                Row(
                    namespace="test",
                    metric=metric,
                    tags=tags,
                    ts=int(ts),
                    value=float(value),
                    ingest_seq=int(seq),
                )
            )
        df = spark.createDataFrame(data, POINT_SCHEMA)
        return normalize_points(df)

    return _make


def rows_by(df, *cols):
    """Collect into {key_tuple: value} (or {key: value} for 1 col)."""
    out = {}
    for r in df.collect():
        key = tuple(r[c] for c in cols)
        if len(cols) == 1:
            key = key[0]
        out[key] = r["value"]
    return out


def assert_close(got, want, tol=1e-9):
    if want is None:
        assert got is None, f"expected None, got {got}"
    elif isinstance(want, float) and math.isnan(want):
        assert got is not None and math.isnan(got), f"expected NaN, got {got}"
    else:
        assert got is not None and abs(got - want) <= tol, f"expected {want}, got {got}"


def two_stage_reference(points, q):
    """A grouped MetricQuery composed from the public operators the
    unfused way — per-series ``downsample(fill="none")`` →
    ``group_merge`` → ``fill_spine`` — the reference the planner's
    single-shot group aggregation must match."""
    from opentsdb_aura_spark.filters import compile_filter, time_range
    from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins
    from opentsdb_aura_spark.operators.downsample import downsample, fill_spine
    from opentsdb_aura_spark.operators.groupby import group_merge, with_group_keys
    from opentsdb_aura_spark.operators.rate import rate, time_shift

    shift = q.shift_seconds
    df = points.where(compile_filter(q.filter) & time_range(q.start - shift, q.end - shift))
    df = time_shift(dedupe_last_write_wins(df), shift)
    if q.rate_options is not None:
        df = rate(df, q.rate_options)
    keys = [f"tag_{k}" for k in q.group_tag_keys]
    per_series = downsample(
        with_group_keys(df, q.group_tag_keys), q.start, q.end, q.interval, q.ds_agg,
        group_cols=["series_id", *keys], infectious_nan=q.infectious_nan, fill="none",
    )
    merged = group_merge(per_series, q.gb_agg, group_cols=keys, infectious_nan=q.infectious_nan)
    if q.fill == "none":
        return merged
    return fill_spine(merged, q.start, q.end, q.interval, keys, fill=q.fill)
