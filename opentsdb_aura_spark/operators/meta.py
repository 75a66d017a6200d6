"""Meta / catalog queries (SURVEY.md §2.3c, M1-M5) over the series
dimension table.

The reference serves these from the per-shard inverted index
(core/src/main/java/net/opentsdb/aura/metrics/meta/NewDocStore.java:1038-1067):
distinct namespaces/metrics, tag keys, tag values (with counts),
key→value→count maps, matching-series listings, and cardinality.  In
Spark the ``series_dim`` table (one row per live series) answers all
of them with plain aggregations; it is tiny relative to the fact
table, so every one of these is a broadcast-scale query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.filters import Filter, compile_filter


def _filtered(series_dim: DataFrame, flt: Filter | None) -> DataFrame:
    return series_dim.where(compile_filter(flt))


def distinct_metrics(series_dim: DataFrame, flt: Filter | None = None) -> DataFrame:
    """M1 — distinct metrics matching the filter (NewDocStore.java:1038-1054)."""
    return _filtered(series_dim, flt).select("metric").distinct()


def distinct_tag_keys(series_dim: DataFrame, flt: Filter | None = None) -> DataFrame:
    """M2 — distinct tag keys over matching series, with series counts."""
    return (
        _filtered(series_dim, flt)
        .select(F.explode(F.map_keys("tags")).alias("tag_key"))
        .groupBy("tag_key")
        .agg(F.count("*").alias("series_count"))
    )


def distinct_tag_values(series_dim: DataFrame, key: str, flt: Filter | None = None) -> DataFrame:
    """M2 — distinct values of one tag key, with series counts
    (NewDocStore.java:1045-1067,1709-1727)."""
    return (
        _filtered(series_dim, flt)
        .select(F.col("tags")[key].alias("tag_value"))
        .where(F.col("tag_value").isNotNull())
        .groupBy("tag_value")
        .agg(F.count("*").alias("series_count"))
    )


def tag_keys_and_values(series_dim: DataFrame, flt: Filter | None = None) -> DataFrame:
    """M3 — full key→value→count breakdown (BASIC meta query,
    NewDocStore.java:948-952,1057-1067)."""
    return (
        _filtered(series_dim, flt)
        .select(F.explode("tags").alias("tag_key", "tag_value"))
        .groupBy("tag_key", "tag_value")
        .agg(F.count("*").alias("series_count"))
    )


def list_timeseries(series_dim: DataFrame, flt: Filter | None = None, limit: int = 4096) -> DataFrame:
    """M4 — list matching series up to the container limit
    (MetaQuery.java:123-135 defensive cap)."""
    return _filtered(series_dim, flt).select("series_id", "namespace", "metric", "tags").limit(limit)


def cardinality(series_dim: DataFrame, flt: Filter | None = None, approx: bool = False) -> DataFrame:
    """M5 — matching-series cardinality; ``approx`` uses HLL for the
    100 TB path (exact bitmap cardinality in the reference,
    NewDocStore.java:822,1062-1063)."""
    agg: Column = (
        F.approx_count_distinct("series_id") if approx else F.count_distinct(F.col("series_id"))
    ).alias("cardinality")
    return _filtered(series_dim, flt).agg(agg)


def build_epoch_presence(points: DataFrame, epoch_width: int = 7200) -> DataFrame:
    """T6 — per-series epoch presence: one row per (series_id, metric,
    epoch) where the series has at least one point, with the point
    count.  The Spark shape of Myst's per-series RoaringBitmap of
    epochs (MetaTimeSeriesQueryResult.java:89-94), which the reference
    uses to skip record windows that hold no data.

    Built at flush time alongside the rollups (one extra map-side
    combine over data already being aggregated); the result is
    ~|points|/points-per-series-epoch smaller than the fact table, so
    meta questions like "how many series were active last week" never
    touch raw points at 100 TB.
    """
    epoch = (F.col("ts") - F.col("ts") % F.lit(int(epoch_width))).cast("long")
    return points.groupBy("series_id", "metric", epoch.alias("epoch")).agg(
        F.count("*").alias("n_points")
    )


def active_series(presence: DataFrame, start: int, end: int, epoch_width: int = 7200) -> DataFrame:
    """Per-metric count of series with any data in [start, end),
    answered entirely from the presence table.  Epoch granularity: the
    first epoch is floored, so a range that starts mid-epoch includes
    series whose only points fall earlier in that epoch — exactly the
    reference's bitmap-granular skip semantics; align start/end to the
    epoch width for exact range counts."""
    lo = int(start) - int(start) % int(epoch_width)
    return (
        presence.where((F.col("epoch") >= F.lit(lo)) & (F.col("epoch") < F.lit(int(end))))
        .groupBy("metric")
        .agg(F.count_distinct("series_id").alias("active_series"))
    )


def presence_active_ids(
    presence: DataFrame, start: int, end: int, epoch_width: int = 7200
) -> DataFrame:
    """Distinct series_ids with any data in [start, end) — the
    broadcast side of the meta→data semi-join (J1) when a query wants
    to skip series the epoch bitmaps prove empty."""
    lo = int(start) - int(start) % int(epoch_width)
    return (
        presence.where((F.col("epoch") >= F.lit(lo)) & (F.col("epoch") < F.lit(int(end))))
        .select("series_id")
        .distinct()
    )


def build_series_dim(points: DataFrame) -> DataFrame:
    """Derive the series dimension from normalized points (S2/S7):
    one row per series with first/last observation and last value
    (last value/ts mirror OffHeapTimeSeriesRecord.java:109-127)."""
    return points.groupBy("series_id").agg(
        F.first("namespace").alias("namespace"),
        F.first("metric").alias("metric"),
        F.first("tags").alias("tags"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_ts"),
        F.max_by("value", F.struct(F.col("ts"), F.col("ingest_seq"))).alias("last_value"),
        # the winning point's arrival order: incremental dim merges
        # (streaming _merge_dim) need it to arbitrate a same-last_ts
        # rewrite arriving in a later batch — max_by on last_ts alone
        # ties nondeterministically
        F.max_by("ingest_seq", F.struct(F.col("ts"), F.col("ingest_seq"))).alias("last_seq"),
    )


def build_presence_hll(
    points: DataFrame,
    epoch_width: int = 3600,
    *,
    group_cols: tuple[str, ...] = ("metric",),
    id_col: str = "series_id",
    lg_k: int = 12,
) -> DataFrame:
    """T6/M5 scale path — per-(group, epoch) HyperLogLog sketch of
    distinct ``id_col`` values, written at flush time like the other
    rollups.  The exact presence table (build_epoch_presence) answers
    "how many series were active" with a COUNT(DISTINCT) whose state is
    O(active series); the HLL table answers it from pre-aggregates in
    O(2^lg_k) per group-epoch, and — unlike plain distinct counts —
    the sketches MERGE: daily/weekly/arbitrary-range cardinality is a
    groupBy hll_union_agg over hourly sketch rows, no raw rescan, no
    re-distinct.  This is the cardinality analogue of the reference's
    epoch bitmaps (MetaTimeSeriesQueryResult.java:89-94) at a fixed
    ~(1.04/sqrt(2^lg_k)) relative error (~1.6% at lg_k=12).

    Sketches are Spark's built-in Apache DataSketches HLL (JVM-side,
    map-side combinable); stored as binary, unioned with
    allowDifferentLgConfigK so tables written at different lg_k still
    merge.
    """
    epoch = (F.col("ts") - F.col("ts") % F.lit(int(epoch_width))).cast("long")
    return presence_hll_partials(points, [*group_cols, epoch.alias("epoch")], id_col=id_col, lg_k=lg_k)


def presence_hll_partials(
    df: DataFrame, keys: list, *, id_col: str = "series_id", lg_k: int = 12
) -> DataFrame:
    """(keys…, hll, n_points): the aggregate of ``build_presence_hll``
    and of its window-close twin ``streaming_presence_hll``."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(id_col), F.lit(int(lg_k))).alias("hll"),
        F.count("*").alias("n_points"),
    )


def cardinality_from_presence_hll(
    hll: DataFrame,
    start: int,
    end: int,
    *,
    bucket_width: int | None = None,
    group_cols: tuple[str, ...] = ("metric",),
    epoch_width: int | None = None,
) -> DataFrame:
    """Distinct-id estimate over [start, end) served entirely from the
    HLL presence table: filter epochs, union sketches per group (and
    per time bucket when ``bucket_width`` is given), estimate.  Epoch
    granularity matches active_series(): pass the table's
    ``epoch_width`` so a mid-epoch ``start`` FLOORS to include the
    partial first epoch (active_series' semantics — without the floor,
    series active only in that partial epoch silently vanish); with
    ``epoch_width`` omitted, ``start`` must already be epoch-aligned.

    ``bucket_width`` must be a whole multiple of the table's epoch
    width: an epoch is the atomic sketch unit, so an epoch straddling
    a bucket boundary cannot be split — it would be floor-assigned to
    the earlier bucket, silently skewing per-bucket estimates.
    Validated when ``epoch_width`` is supplied (mirroring the
    start-floor guard).

    Output: (group…, [bucket_ts,] active_series).  The whole plan is
    one hash aggregate over sketch rows — at 100 TB the input is the
    rollup table (|groups| × epochs rows), never the fact table.
    """
    start = int(start)
    if epoch_width is not None:
        start -= start % int(epoch_width)
        if bucket_width is not None and int(bucket_width) % int(epoch_width) != 0:
            raise ValueError(
                f"bucket_width {bucket_width} must be a multiple of epoch_width "
                f"{epoch_width}: epochs are the atomic sketch unit and cannot "
                "straddle bucket boundaries"
            )
    in_range = (F.col("epoch") >= F.lit(int(start))) & (F.col("epoch") < F.lit(int(end)))
    df = hll.where(in_range)
    keys = [F.col(c) for c in group_cols]
    if bucket_width is not None:
        bucket = (
            F.lit(int(start))
            + F.floor((F.col("epoch") - F.lit(int(start))) / F.lit(int(bucket_width)))
            * F.lit(int(bucket_width))
        ).cast("long")
        df = df.withColumn("bucket_ts", bucket)
        keys.append(F.col("bucket_ts"))
    return df.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("hll"), F.lit(True))).alias("active_series")
    )
