"""Metric query planner — the Spark analogue of the reference's query
lifecycle (SURVEY.md §3.1/§3.2).

Reference pipeline (fused in
opentsdb/src/main/java/net/opentsdb/aura/metrics/storage/
AuraMetricsNumericArrayIterator.java:285-670, pushdown declaration
AuraMetricsSourceFactory.java:120-128):

  scan(filter, [start-Δ, end-Δ)) → dedupe → rate → downsample
      → group-by merge → relabel(+Δ)

Here each stage is declarative; Catalyst fuses filter+project into the
Parquet scan (with partition pruning on ``segment_time``).  A read
whose pruned files hold at most 96 000 rows
(``sources.batch.single_partition_read``) is coalesced to one
partition, so dedupe, rate, downsample, group-by and spine all run in
that one task with no ``Exchange`` — the dashboard case, and the
reference's one fused pass per shard.  Above the bound each of those
keys its own hash exchange (dedupe on (series_id, ts, group keys), the
rate window on series and segment, the aggregate on (group, bucket),
the spine on the group keys).  Operator order is load-bearing: rate is
per-point and runs BEFORE downsample, exactly as the reference kernel
does.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.filters import Filter, compile_filter, time_range
from opentsdb_aura_spark.model import SEGMENT_WIDTH_SECONDS
from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins
from opentsdb_aura_spark.operators.downsample import downsample, fill_spine, normalize_agg, percentile_fraction
from opentsdb_aura_spark.operators.groupby import group_merge, normalize_group_agg, with_group_keys
from opentsdb_aura_spark.operators.rate import RateOptions, rate, time_shift
from opentsdb_aura_spark.operators.rollup import (
    ROLLUP_CHAIN,
    ROLLUP_SERVABLE,
    choose_rollup_interval,
    downsample_from_rollup,
    percentile_from_rollup_histogram,
)
from opentsdb_aura_spark.sources.batch import single_partition_read


@dataclass
class MetricQuery:
    """Declarative metric query (the MetricQuery/DownsampleConfig/
    RateConfig/GroupByConfig surface, flattened)."""

    start: int  # epoch seconds, inclusive
    end: int  # epoch seconds, exclusive (LongTermStorage.java:26-33)
    filter: Filter | None = None
    # downsample
    interval: int | None = None  # seconds; None collapses to one run-all bucket over [start, end)
    ds_agg: str = "avg"
    run_all: bool = False
    infectious_nan: bool = False
    reporting_dps: float | None = None
    fill: str = "nan"
    # rate (applied before downsample)
    rate_options: RateOptions | None = None
    # group-by
    group_tag_keys: Sequence[str] | None = None  # None = raw per-series (G4); [] = group-all (G2)
    gb_agg: str = "sum"
    # time shift (R5)
    shift_seconds: int = 0
    # partition width of the store being queried (prune granularity)
    segment_width: int = SEGMENT_WIDTH_SECONDS

    def __post_init__(self) -> None:
        if self.end <= self.start:
            raise ValueError(f"empty query range: [{self.start}, {self.end})")
        if self.interval is not None and self.interval <= 0:
            raise ValueError(f"downsample interval must be positive, got {self.interval}")
        if self.segment_width <= 0:
            raise ValueError(f"segment width must be positive, got {self.segment_width}")
        if self.fill not in ("nan", "zero", "null", "none"):
            raise ValueError(f"fill must be one of nan/zero/null/none, got {self.fill!r}")


#: (ds_agg, gb_agg) pairs whose two-stage downsample→group-merge
#: composes into ONE aggregation over (group keys, bucket): the
#: element-wise group combine of per-series partials equals the flat
#: aggregate of all points.  Saves a full shuffle on the most common
#: query shape (one hash-agg by (keys, bucket) instead of
#: (series, bucket) then (keys, bucket)).  Infectious-NaN composes
#: too: any NaN point ⇒ its series-interval is NaN ⇒ the group
#: interval is NaN — identical either way.  avg/last do NOT fuse
#: (group avg-of-avgs ≠ flat avg).
_FUSABLE_DS_GB: dict[tuple[str, str], str] = {
    ("sum", "sum"): "sum",
    ("count", "sum"): "count",
    ("min", "min"): "min",
    ("max", "max"): "max",
}


def _substitution_blocked(q: MetricQuery) -> bool:
    """Shared pre-aggregate eligibility guard: rate is per-point,
    infectious-NaN / reporting-average are invisible in pre-aggregates,
    run-all needs the tail bucket, and no interval means no grid."""
    return (
        q.rate_options is not None
        or q.run_all
        or q.interval is None
        or q.infectious_nan
        or q.reporting_dps is not None
    )


def _matched_series(
    points: DataFrame, q: MetricQuery, series_dim: DataFrame | None
) -> tuple[DataFrame, list[str], list[str]]:
    """Meta-side series selection shared by the pre-aggregate
    substitution and the meta-driven spine: the filtered series
    dimension (or a distinct projection of points) with the query's
    group-key columns attached.  Returns
    (matched, group_keys, out_groups).  `matched` is O(total series)
    under a match-all filter — never force-broadcast it; AQE
    size-picks the join strategy at runtime."""
    dim = series_dim
    if dim is None:
        dim = points.select("series_id", "metric", "tags").dropDuplicates(["series_id"])
    dim = dim.where(compile_filter(q.filter))
    group_keys: list[str] = []
    if q.group_tag_keys:
        dim = with_group_keys(dim, q.group_tag_keys)
        group_keys = [f"tag_{k}" for k in q.group_tag_keys]
    out_groups = group_keys if q.group_tag_keys is not None else ["series_id"]
    return dim.select("series_id", *group_keys), group_keys, out_groups


_ROLLUP_COLS = ("series_id", "window_start", *ROLLUP_CHAIN)
_HIST_COLS = ("series_id", "window_start", "sign", "bin", "cnt")


def _rollup_reader(ds: str, gb: str | None):
    """A10 eligibility for the sum/count/min/max/sumsq chain: returns
    (reader, two_stage) or None.  Grouped pairs that flat-fuse
    (``_FUSABLE_DS_GB``) re-aggregate the rollup straight into group
    buckets; other grouped shapes (e.g. avg→avg: group
    avg-of-series-avgs ≠ flat avg) read per-series buckets, then the
    normal group merge — the reference's rollup read (per-series
    AerospikeDSTimeSeriesEncoder stream → NumericArrayAggregator group
    accumulate)."""
    fused = _FUSABLE_DS_GB.get((ds, gb))
    agg = fused or ds
    if agg not in ROLLUP_SERVABLE:
        return None

    def read(table, start, end, interval, group_cols):
        return downsample_from_rollup(table, start, end, interval, agg, group_cols=group_cols)

    return read, gb is not None and fused is None


def _hist_reader(ds: str, gb: str | None, hist_eps: float | None):
    """A6 eligibility for the DDSketch histogram rollup
    (``build_rollup_histogram``): percentile/median downsamples only,
    always served per series (bins are per series, so each series'
    distribution is intact, only value resolution is eps-coarse), then
    the normal group merge.  Tables built with a non-default ``eps``
    MUST pass it as ``hist_eps`` — bins are decoded with the
    build-time gamma, and a mismatched eps decodes garbage.

    Accuracy caveat: the eps bound holds vs the NEAREST-RANK quantile
    (value at rank ⌈q·n⌉), while the raw path's ``percentile()``
    INTERPOLATES between ranks — with many points per bucket the two
    converge, but a 2-point bucket can differ by the gap between its
    values, far beyond eps."""
    frac = percentile_fraction(ds)
    if frac is None:
        return None
    eps_kw = {"eps": float(hist_eps)} if hist_eps is not None else {}

    def read(table, start, end, interval, group_cols):
        return percentile_from_rollup_histogram(
            table, frac, start, end, interval, group_cols=group_cols, **eps_kw
        )

    return read, gb is not None


def _preagg_substitution(
    points: DataFrame,
    q: MetricQuery,
    *,
    rollups: dict[int, DataFrame] | None = None,
    hist_rollups: dict[int, DataFrame] | None = None,
    hist_eps: float | None = None,
    series_dim: DataFrame | None = None,
    spine_from_dim: bool = False,
) -> DataFrame | None:
    """A10 — automatic pre-aggregate substitution inside the query node,
    mirroring the reference's selection of a stored aggregate stream
    over a raw scan (AerospikeBatchQueryNode.java:200-224: the node,
    not the caller, decides).  Returns None when raw points must serve.

    Each table kind (``rollups`` first, then the eps-approximate
    ``hist_rollups`` — passing those is the opt-in to the
    approximation) supplies only its eligibility test and its reader;
    the rest is shared.  The coarsest table whose interval divides the
    downsample interval and the un-shifted range wins
    (``choose_rollup_interval``).  Series selection runs on the meta
    side — ``series_dim`` (or a distinct-series projection of the
    points table) filtered by the query's filter algebra, then joined
    into the table — the reference's meta-index → series-keys →
    fetch-streams flow.  Rate / infectious-NaN / reporting-average /
    run-all / no-interval queries always fall back to raw.
    """
    if not (rollups or hist_rollups) or _substitution_blocked(q):
        return None
    ds = normalize_agg(q.ds_agg)
    gb = normalize_group_agg(q.gb_agg) if q.group_tag_keys is not None else None
    shift = int(q.shift_seconds)
    scan_start, scan_end = q.start - shift, q.end - shift
    for tables, cols, plan in (
        (rollups, _ROLLUP_COLS, _rollup_reader(ds, gb)),
        (hist_rollups, _HIST_COLS, _hist_reader(ds, gb, hist_eps)),
    ):
        if not tables or plan is None:
            continue
        riv = choose_rollup_interval(tables, q.interval, scan_start, scan_end)
        if riv is None:
            continue
        read, two_stage = plan
        matched, group_keys, out_groups = _matched_series(points, q, series_dim)
        table = single_partition_read(tables[riv].select(*cols)).join(matched, on="series_id", how="inner")
        if two_stage:
            per_series = read(table, scan_start, scan_end, q.interval, ["series_id", *group_keys])
            res = group_merge(per_series, gb, group_cols=group_keys)
        else:
            res = read(table, scan_start, scan_end, q.interval, out_groups)
        if shift:
            res = res.withColumn("bucket_ts", (F.col("bucket_ts") + F.lit(shift)).cast("long"))
        if q.fill != "none":
            res = fill_spine(
                res, q.start, q.end, q.interval, out_groups, fill=q.fill,
                spine_groups=matched.select(*out_groups) if spine_from_dim else None,
            )
        return res
    return None


def run_metric_query(
    points: DataFrame,
    q: MetricQuery,
    *,
    dedupe: bool = True,
    rollups: dict[int, DataFrame] | None = None,
    hist_rollups: dict[int, DataFrame] | None = None,
    hist_eps: float | None = None,
    series_dim: DataFrame | None = None,
    spine_from_dim: bool = False,
    presence: DataFrame | None = None,
    presence_epoch_width: int = SEGMENT_WIDTH_SECONDS,
) -> DataFrame:
    """Execute a MetricQuery over a normalized points DataFrame.

    Returns (group keys | series_id, bucket_ts, value) with the dense
    NaN spine when ``q.fill == 'nan'``.

    ``rollups`` — optional {interval: rollup DataFrame} handles (built
    by ``build_rollup`` at flush time, post-dedupe).  When given, the
    planner substitutes the coarsest servable pre-aggregate for the raw
    scan automatically (see ``_preagg_substitution``); the query itself
    never mentions rollups, exactly as in the reference.
    ``hist_rollups`` (DDSketch tables, ``build_rollup_histogram``) opt
    in to eps-approximate percentile serving the same way.  ``series_dim``
    optionally serves the filter→series resolution (the meta index);
    without it a distinct-series projection of ``points`` is used.

    ``spine_from_dim`` — derive the NaN-spine group universe from the
    meta index (filtered ``series_dim``) rather than from the result:
    filter-matched series/groups with zero in-range points then emit
    all-NaN rows, the reference's behavior (its meta selection runs
    before any segment is read).  Default off: the result-derived spine
    is what the round-1 oracles encode.

    ``presence`` — optional epoch-presence table
    (``build_epoch_presence``): the scan semi-joins against the series
    active in the scanned range (broadcast, J1), skipping series the
    epoch bitmaps prove empty — the reference's Myst epoch-bitmap
    record skipping (MetaTimeSeriesQueryResult.java:89-94).  Pure
    pruning: series without in-range points contribute no rows anyway.
    """
    served = _preagg_substitution(
        points, q, rollups=rollups, hist_rollups=hist_rollups, hist_eps=hist_eps,
        series_dim=series_dim, spine_from_dim=spine_from_dim,
    )
    if served is not None:
        return served
    shift = int(q.shift_seconds)
    scan_start, scan_end = q.start - shift, q.end - shift

    pred = compile_filter(q.filter) & time_range(scan_start, scan_end)
    if "segment_time" in points.columns:
        # S4 segment-range planning: the ts predicate restated on the
        # partition column so Catalyst prunes partitions (the
        # reference's [start,end) → segment-list mapping,
        # core/.../LongRunningStorage.java:66-93)
        lo = scan_start - scan_start % q.segment_width
        pred = pred & (F.col("segment_time") >= F.lit(lo)) & (F.col("segment_time") < F.lit(int(scan_end)))
    df = single_partition_read(points.where(pred))

    if presence is not None:
        from opentsdb_aura_spark.operators.meta import presence_active_ids

        active = presence_active_ids(presence, scan_start, scan_end, presence_epoch_width)
        # `active` is O(series alive in the window) — unbounded at scale;
        # let AQE pick broadcast vs shuffled semi-join by its runtime size.
        df = df.join(active, "series_id", "left_semi")

    # the group keys ride along as dedupe keys: a series' tags are fixed
    # by its series_id, so the groups are the same, and the dedupe then
    # carries no map-typed max_by (which forces a sort aggregate)
    group_keys: list[str] = []
    if q.group_tag_keys is not None:
        group_keys = [f"tag_{k}" for k in q.group_tag_keys]
        df = with_group_keys(df, q.group_tag_keys)
    if dedupe:
        df = dedupe_last_write_wins(df, ("series_id", "ts", *group_keys))

    if shift:
        df = time_shift(df, shift)

    if q.rate_options is not None:
        # segment-parallel lag window when the store's partition column
        # is present: bounded task size even for hot series (the shift,
        # if any, moved ts by a constant, so segment order still holds)
        seg = "segment_time" if "segment_time" in df.columns else None
        df = rate(df, q.rate_options, segment_col=seg)

    spine_groups = None
    if spine_from_dim and q.fill != "none":
        # meta-driven spine universe: the series (or tag groups) the
        # filter matches, independent of the scanned time range — the
        # reference's meta-index selection (TimeSeriesShard.java:677-758)
        matched, _, out_groups = _matched_series(points, q, series_dim)
        spine_groups = matched.select(*out_groups)

    # the shape picks (agg, group columns, fill) of the one downsample:
    # raw per-series (G4); fused — one hash aggregation by (group keys,
    # bucket) replaces per-series downsample + group merge (SURVEY §2.3b
    # G1 "one shot" note), same values, one fewer shuffle; or two-stage
    # — per-series downsample (sparse), then group merge, then the NaN
    # spine once at group granularity, cheaper than densifying every
    # series first
    ds_agg, ds_groups, fill, merge_agg = q.ds_agg, ["series_id"], q.fill, None
    if q.group_tag_keys is not None:
        fused = _FUSABLE_DS_GB.get((normalize_agg(q.ds_agg), normalize_group_agg(q.gb_agg)))
        if fused is not None:
            ds_agg, ds_groups = fused, group_keys
        else:
            ds_groups, fill, merge_agg = ["series_id", *group_keys], "none", q.gb_agg
    res = downsample(
        df,
        q.start,
        q.end,
        q.interval,
        ds_agg,
        group_cols=ds_groups,
        infectious_nan=q.infectious_nan,
        reporting_dps=q.reporting_dps,
        run_all=q.run_all,
        fill=fill,
        spine_groups=spine_groups,
    )
    if merge_agg is None:
        return res
    merged = group_merge(res, merge_agg, group_cols=group_keys, infectious_nan=q.infectious_nan)
    if q.fill != "none":
        interval = (q.end - q.start) if (q.run_all or q.interval is None) else q.interval
        merged = fill_spine(
            merged, q.start, q.end, interval, group_keys,
            fill=q.fill, spine_groups=spine_groups,
        )
    return merged


def splice_hot_cold(hot: DataFrame, cold: DataFrame, boundary_ts: int) -> DataFrame:
    """U3 — route recent range to the hot table, older to cold, with
    non-overlapping time predicates (AuraMetricsClusterConfig routing).
    Both sides keep their partition pruning."""
    return cold.where(F.col("ts") < F.lit(int(boundary_ts))).unionByName(
        hot.where(F.col("ts") >= F.lit(int(boundary_ts)))
    )


@dataclass(frozen=True)
class TieredStore:
    """Hot/cold tier pair with its retention boundary — the store-side
    metadata the reference's query router consults
    (AuraMetricsClusterConfig.java range routing +
    AuraMetricsHealthChecker gating which tier serves a range): rows
    with ``ts >= boundary_ts`` live in the hot tier, older rows in the
    long-term tier.  ``cold`` is expected to be the series-bucketed
    long-term table (sources/bucketed.py) so per-series aggregation on
    it is Exchange-free, but any points table works.

    Each tier may carry its OWN pre-aggregate tables
    (``hot_rollups``/``cold_rollups`` and the DDSketch
    ``*_hist_rollups``): in production the tiers are different systems
    — a hot memory store typically has no rollups while the long-term
    store is where downsampled streams live — and the reference picks
    rollup streams per store, cold-side-specific
    (AerospikeBatchQueryNode.java:200-224 reads the LTS aggregate
    streams; the hot shard scan never does).  A tier-specific table
    set overrides any shared ``rollups=``/``hist_rollups=`` kwarg for
    that tier's sub-query; ``None`` means "use the shared kwarg".
    """

    hot: DataFrame
    cold: DataFrame
    boundary_ts: int
    hot_rollups: dict[int, DataFrame] | None = None
    cold_rollups: dict[int, DataFrame] | None = None
    hot_hist_rollups: dict[int, DataFrame] | None = None
    cold_hist_rollups: dict[int, DataFrame] | None = None

    def tier_kwargs(self, tier: str, kw: dict) -> dict:
        """Per-tier run_metric_query kwargs: this tier's rollup/sketch
        tables override the shared ones where set."""
        out = dict(kw)
        rollups = self.hot_rollups if tier == "hot" else self.cold_rollups
        hist = self.hot_hist_rollups if tier == "hot" else self.cold_hist_rollups
        if rollups is not None:
            out["rollups"] = rollups
        if hist is not None:
            out["hist_rollups"] = hist
        return out


def run_tiered_metric_query(store: TieredStore, q: MetricQuery, **kw) -> DataFrame:
    """`run_metric_query` with AUTOMATIC tier routing: the caller names
    the store, not the tier — the planner consults the store's
    retention boundary and routes the scan, exactly as its rollup
    substitution already picks the table to read.

    Routing (on the SCAN range, i.e. after un-shifting):
    - entirely inside one tier → that tier serves alone (cold-only
      queries keep the bucketed layout's Exchange-free aggregation);
    - straddling, downsample-only, boundary on the output bucket grid →
      per-tier sub-queries spliced by unionByName: buckets are
      tier-disjoint, so ANY ds/gb agg is exact per tier and the cold
      side stays Exchange-free — splicing raw rows first would destroy
      the cold table's bucket partitioning at the union and shuffle the
      (large) cold range (the reference merges series-keyed LTS reads
      with the hot shard scan, aerospike/.../LTSAerospike.java:187-260);
    - otherwise (rate crossing the boundary needs the previous point
      from the other tier; run-all spans both; misaligned boundary
      splits a bucket) → row-level splice with per-tier time
      predicates, both sides keeping their partition pruning.
    """
    from dataclasses import replace

    shift = int(q.shift_seconds)
    scan_start, scan_end = q.start - shift, q.end - shift
    b = int(store.boundary_ts)
    hot_kw, cold_kw = store.tier_kwargs("hot", kw), store.tier_kwargs("cold", kw)
    if scan_start >= b:
        return run_metric_query(store.hot, q, **hot_kw)
    if scan_end <= b:
        return run_metric_query(store.cold, q, **cold_kw)

    out_b = b + shift  # boundary expressed in output (post-shift) time
    splice_ok = (
        q.rate_options is None
        and not q.run_all
        and q.interval is not None
        and (out_b - q.start) % q.interval == 0
        and not kw.get("spine_from_dim")
    )
    if not splice_ok:
        # row-level splice: one merged scan — per-tier pre-aggregates
        # cannot serve it, only the caller's shared tables apply
        return run_metric_query(splice_hot_cold(store.hot, store.cold, b), q, **kw)

    cold_res = run_metric_query(store.cold, replace(q, end=out_b, fill="none"), **cold_kw)
    hot_res = run_metric_query(store.hot, replace(q, start=out_b, fill="none"), **hot_kw)
    res = cold_res.unionByName(hot_res)
    if q.fill != "none":
        group_cols = [c for c in res.columns if c not in ("bucket_ts", "value")]
        res = fill_spine(res, q.start, q.end, q.interval, group_cols, fill=q.fill)
    return res
