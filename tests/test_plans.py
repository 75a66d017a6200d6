"""Plan-shape regression guards: the scale-critical plan properties
(partition pruning, predicate pushdown, broadcast joins) asserted from
the explain output — a wrong plan at 100 TB is a correctness bug for
the wall clock."""

import re

import pytest
from pyspark.sql import functions as F

from opentsdb_aura_spark import catalog as C
from opentsdb_aura_spark.filters import MetricLiteral
from opentsdb_aura_spark.plans.query import run_metric_query

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def final_plan_of(df) -> str:
    """Execute the frame and return the FINAL adaptive plan: joins whose
    build side is only sized at runtime (aggregate-derived dims with no
    forced broadcast hint) reach their real strategy only under AQE."""
    df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_partition_pruning(spark):
    """S4/T6 — a 2-day query must scan only the matching segment
    partitions, not the whole store."""
    q = C._mq(
        start=C.START,
        end=C.START + 2 * C.DAY,
        interval=C.HOUR,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=[],
        gb_agg="sum",
        fill="none",
    )
    plan = plan_of(run_metric_query(C.points(spark, SF), q, dedupe=False))
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m, plan
    assert "segment_time" in m.group(1)
    assert str(C.START + 2 * C.DAY) in m.group(1)  # upper bound present


@pytest.mark.parametrize("group_tag_keys", [["user"], None], ids=["grouped", "per_series"])
def test_nan_spine_scans_points_once(spark, group_tag_keys):
    """A8 — the dense NaN spine is built from the query's own aggregate
    output, so a fill="nan" query reads the points table once (no second
    scan and dedupe to feed a distinct group universe)."""
    q = C._mq(
        start=C.START,
        end=C.START + 2 * C.DAY,
        interval=C.HOUR,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=group_tag_keys,
        gb_agg="sum",
    )
    df = run_metric_query(C.points(spark, SF), q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan


def test_predicate_pushdown(spark):
    """F-filters and the time range must reach the Parquet scan."""
    plan = plan_of(C.SPARK_QUERIES["gb_sum_by_user_daily"](spark, SF))
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "EqualTo(metric,purchase)" in pushed
    assert "GreaterThanOrEqual(ts" in pushed


def test_broadcast_join_for_dim(spark):
    """J2 — the series_dim enrichment must come out a broadcast join
    WITHOUT a forced hint (the dim is O(series), so the hint is banned;
    AQE must size-pick broadcast from the runtime build-side size)."""
    plan = final_plan_of(C.SPARK_QUERIES["join_series_enrich"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_column_pruning(spark):
    """P1 — a two-column projection must not read the full schema."""
    df = C.points(spark, SF).select("series_id", "value")
    plan = plan_of(df)
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    assert "tags" not in m.group(1)  # widest column pruned away


def test_sql_surface(spark):
    """Plain spark.sql over the registered views produces the same
    result as the DataFrame path."""
    from opentsdb_aura_spark.sql import register_views

    names = register_views(spark, SF)
    assert {"metrics", "series_dim", "events", "rollup_3600"} <= set(names)
    sql_res = {
        r["metric"]: r["n"]
        for r in spark.sql("SELECT metric, count(*) AS n FROM metrics GROUP BY 1").collect()
    }
    df_res = {
        r["metric"]: r["n"]
        for r in C.points(spark, SF).groupBy("metric").agg(__import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()
    }
    assert sql_res == df_res and len(sql_res) == 5
    # the sketch view answers range cardinality in pure SQL, and the
    # estimate agrees with the exact distinct count at this SF
    est = spark.sql(
        "SELECT hll_sketch_estimate(hll_union_agg(hll, true)) AS n FROM presence_hll_3600"
    ).first()["n"]
    exact = spark.sql("SELECT count(DISTINCT series_id) AS n FROM metrics").first()["n"]
    assert abs(est - exact) <= max(2, 0.05 * exact), (est, exact)


def test_rollup_substitution_reads_rollup_table(spark):
    """A10 — with rollup handles passed, the planner must serve the
    daily SUM from the hourly pre-aggregate: the scan reads the
    rollup_3600 files (24× fewer rows), not the raw metrics store."""
    df = C.SPARK_QUERIES["rollup_auto_substitution"](spark, SF)
    plan = plan_of(df)
    files = re.findall(r"Location: \S*\[(.*?)\]", plan)
    scanned = " ".join(files) + plan
    assert "rollup_3600" in scanned, plan
    # the point-data scan is gone; the only touch of the metrics store
    # is the tiny meta-side series projection — raw `value`/`ts`
    # columns must not be read anywhere
    m = re.findall(r"ReadSchema: (.*)", plan)
    assert m and not any("value" in s and "ts" in s for s in m), plan


def test_rollup_substitution_declined_on_misalignment(spark):
    """A misaligned query end must fall back to the raw scan (a rollup
    window extending past `end` would over-count the last bucket)."""
    q = C._mq(
        start=C.START,
        end=C.END - 1800,  # off the hourly rollup grid
        interval=C.DAY,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=["user"],
        gb_agg="sum",
        fill="none",
    )
    df = run_metric_query(
        C.points(spark, SF), q, rollups={3600: C._rollup(spark, SF)}
    )
    assert "rollup_3600" not in plan_of(df)


def test_bucketed_store_aggregates_without_shuffle(spark):
    """The series-bucketed layout must serve per-series aggregation
    with zero shuffle: the scan is already hash-partitioned on
    series_id (Bucketed: true), so the only Exchange in the plan is
    the broadcast of the tiny series dim."""
    df = C.SPARK_QUERIES["bucketed_series_sum_daily"](spark, SF)
    plan = plan_of(df)
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_topn_rank_avoids_global_sort(spark):
    """topn's ranking over per-series summaries must plan as
    TakeOrderedAndProject (bounded top-k), not a single-partition
    global Sort."""
    plan = plan_of(C.SPARK_QUERIES["topn_metrics_by_sum"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_presence_pruning_broadcast_semi_join(spark):
    """T6/J1 — the epoch-presence prune must plan as a broadcast
    left-semi join (the active-id side is meta-sized), never a
    sort-merge shuffle of the fact table."""
    from opentsdb_aura_spark.operators.meta import build_epoch_presence

    pts = C.points(spark, SF)
    pres = build_epoch_presence(pts, epoch_width=C.DAY)
    q = C._mq(
        start=C.START,
        end=C.START + 2 * C.DAY,
        interval=C.HOUR,
        ds_agg="sum",
        filter=MetricLiteral("purchase"),
        group_tag_keys=[],
        gb_agg="sum",
        fill="none",
    )
    plan = final_plan_of(
        run_metric_query(pts, q, dedupe=False, presence=pres, presence_epoch_width=C.DAY)
    )
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rollup_two_stage_gb_avg_reads_rollup_table(spark):
    """A10 — avg→avg (not flat-fusable) still substitutes: per-series
    buckets from the pre-aggregate chain, then group merge; the plan
    reads rollup_3600 and never the raw point columns."""
    df = C.SPARK_QUERIES["rollup_gb_avg_daily"](spark, SF)
    plan = plan_of(df)
    files = re.findall(r"Location: \S*\[(.*?)\]", plan)
    scanned = " ".join(files) + plan
    assert "rollup_3600" in scanned, plan
    m = re.findall(r"ReadSchema: (.*)", plan)
    assert m and not any("value" in s and "ts" in s for s in m), plan


def test_tpch_customer_join_broadcast_by_size_not_hint(spark):
    """The TPC-H queries must NOT force-broadcast customer (O(SF) —
    several GB at sf100); at test SF, AQE/autoBroadcastJoinThreshold
    still size-picks BroadcastHashJoin for it on its own."""
    for name, n_joins in (("tpch_revenue_by_nation", 3), ("tpch_shipping_priority", 2)):
        df = C.SPARK_QUERIES[name](spark, SF)
        plan = plan_of(df)
        # The nation join broadcasts regardless; the customer join is the
        # one that could silently degrade — demand EVERY join in the plan
        # is a broadcast hash join (no SortMergeJoin / ShuffledHashJoin
        # fallback) and that all expected joins are present.
        assert len(re.findall(r"BroadcastHashJoin", plan)) >= n_joins, f"{name}: {plan}"
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, f"{name}: {plan}"


def test_splice_bucketed_cold_side_has_no_exchange(spark):
    """U3 over the bucketed cold tier: the cold-side per-series
    aggregate must come up Exchange-free (bucket spec pre-partitions
    series_id), and the full spliced plan's only shuffle Exchange is
    the hot side's own."""
    from opentsdb_aura_spark.operators.downsample import downsample
    from opentsdb_aura_spark.sources.batch import bucketed_metrics

    START_, DAY_ = C.START, 86400
    cold = bucketed_metrics(spark, SF).where(F.col("metric") == "purchase")
    cold_agg = downsample(
        cold.where(F.col("ts") < START_ + 15 * DAY_),
        START_, START_ + 15 * DAY_, DAY_, "sum", group_cols=["series_id"], fill="none",
    )
    plan = plan_of(cold_agg)
    assert "Exchange hashpartitioning" not in plan, plan

    df = C.SPARK_QUERIES["splice_bucketed_cold_sum"](spark, SF)
    full = plan_of(df)
    assert len(re.findall(r"Exchange hashpartitioning", full)) <= 1, full


def test_rollup_substitution_dim_join_broadcasts_without_hint(spark):
    """A10 — the rollup-table ⋈ matched-series join must come out a
    broadcast join at this scale WITHOUT a forced hint (`matched` is the
    filtered series dimension — O(total series) under match-all, so the
    hint is banned and AQE size-picks at runtime)."""
    plan = final_plan_of(C.SPARK_QUERIES["rollup_auto_substitution"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _tiered_store(spark):
    from opentsdb_aura_spark.plans.query import TieredStore
    from opentsdb_aura_spark.sources.batch import bucketed_metrics

    return TieredStore(
        hot=C.points(spark, SF),
        cold=bucketed_metrics(spark, SF),
        boundary_ts=C.START + 15 * C.DAY,
    )


def _tiered_q(**kw):
    kw.setdefault("start", C.START)
    kw.setdefault("end", C.END)
    kw.setdefault("interval", C.DAY)
    kw.setdefault("ds_agg", "sum")
    kw.setdefault("filter", MetricLiteral("purchase"))
    kw.setdefault("fill", "none")
    return C._mq(**kw)


def test_tiered_routing_single_tier_reads_one_table(spark):
    """Auto-routing: a range entirely inside one tier must scan ONLY
    that tier's table — the other tier never appears in the plan."""
    from opentsdb_aura_spark.plans.query import run_tiered_metric_query

    store = _tiered_store(spark)
    hot_plan = plan_of(
        run_tiered_metric_query(
            store, _tiered_q(start=C.START + 20 * C.DAY, end=C.END), dedupe=False
        )
    )
    assert "metrics_bucketed" not in hot_plan, hot_plan
    cold_plan = plan_of(
        run_tiered_metric_query(
            store, _tiered_q(start=C.START, end=C.START + 10 * C.DAY), dedupe=False
        )
    )
    locations = re.findall(r"Location: \S+ ?\[(.*?)\]", cold_plan)
    assert locations and all("metrics_bucketed" in loc for loc in locations), cold_plan


def test_tiered_straddle_cold_side_exchange_free(spark):
    """A straddling per-series query splices per tier: the cold half is
    served by the bucketed layout with NO shuffle Exchange, so the
    whole plan's only hash Exchange is the hot side's own."""
    from opentsdb_aura_spark.plans.query import run_tiered_metric_query

    df = run_tiered_metric_query(_tiered_store(spark), _tiered_q(), dedupe=False)
    plan = plan_of(df)
    assert "metrics_bucketed" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1, plan


def test_tiered_cold_rollup_routes_per_tier(spark):
    """Per-tier pre-aggregates: with cold_rollups set on the store, a
    straddling query must serve the cold sub-range from rollup_3600
    (no bucketed point scan of value/ts) while the hot sub-range still
    scans the raw metrics store — substitution is per tier, like the
    reference's cold-store-specific rollup stream selection."""
    df = C.SPARK_QUERIES["tiered_cold_rollup_gb_sum"](spark, SF)
    plan = plan_of(df)
    files = re.findall(r"Location: \S+ ?\[(.*?)\]", plan)
    scanned = " ".join(files)
    assert "rollup_3600" in scanned, plan
    # cold POINTS are not read: the bucketed table appears nowhere
    assert "metrics_bucketed" not in scanned, plan
    # hot side still scans raw points (value+ts read from the store)
    m = re.findall(r"ReadSchema: (.*)", plan)
    assert any("value" in s and "ts" in s for s in m), plan


def test_tiered_cold_hist_rollup_routes_per_tier(spark):
    """Per-tier DDSketch tables: with cold_hist_rollups set, a
    straddling per-series p90 serves the cold sub-range from the
    sketch (no cold point scan in the plan; values within the sketch
    eps of raw) while the hot sub-range scans raw points (values
    EXACTLY equal to the raw run)."""
    from opentsdb_aura_spark.operators.rollup import HIST_EPS, build_rollup_histogram
    from opentsdb_aura_spark.plans.query import TieredStore, run_tiered_metric_query
    from opentsdb_aura_spark.sources.batch import bucketed_metrics

    boundary = C.START + 15 * C.DAY
    cold = bucketed_metrics(spark, SF)
    store = TieredStore(
        hot=C.points(spark, SF),
        cold=cold,
        boundary_ts=boundary,
        # materialized, as a flush-time sketch table would be — a lazy
        # derivation would drag the cold point scan into the plan
        cold_hist_rollups={
            3600: build_rollup_histogram(
                cold.where(F.col("ts") < boundary), 3600
            ).localCheckpoint()
        },
    )
    q = _tiered_q(ds_agg="p90")
    dim = C.series_dim(spark, SF)
    df = run_tiered_metric_query(store, q, dedupe=False, series_dim=dim)
    plan = plan_of(df)
    # cold POINTS are not scanned: the sketch (in-memory) serves them,
    # series selection comes from the meta index
    files = re.findall(r"Location: \S+ ?\[(.*?)\]", plan)
    assert "metrics_bucketed" not in " ".join(files), plan

    raw = {
        (r["series_id"], r["bucket_ts"]): r["value"]
        for r in run_tiered_metric_query(
            TieredStore(hot=store.hot, cold=cold, boundary_ts=boundary),
            q, dedupe=False, series_dim=dim,
        ).collect()
    }
    got = {(r["series_id"], r["bucket_ts"]): r["value"] for r in df.collect()}
    assert set(got) == set(raw) and got
    for (sid, ts), v in got.items():
        if ts >= boundary:  # hot side: raw scan, bit-equal
            e = raw[(sid, ts)]
            assert v == e or (v != v and e != e), (sid, ts, v, e)
    # cold side is sketch-served: nearest-rank vs interpolated slack on
    # sparse buckets exceeds eps pointwise, so bound the MEDIAN error
    import statistics

    errs = [
        abs(got[k] - raw[k]) / max(abs(raw[k]), 1e-9)
        for k in got
        if k[1] < boundary and raw[k] == raw[k] and got[k] == got[k]
    ]
    assert errs and statistics.median(errs) <= 2 * HIST_EPS, statistics.median(errs)


def test_tiered_rate_straddle_falls_back_to_row_splice_exactly(spark):
    """Rate needs the previous point across the tier boundary, so the
    planner must row-splice; the result equals the single-store run."""
    from opentsdb_aura_spark.operators.rate import RateOptions
    from opentsdb_aura_spark.plans.query import run_metric_query, run_tiered_metric_query

    q = _tiered_q(rate_options=RateOptions(interval_seconds=60), group_tag_keys=[], gb_agg="sum")
    got = {
        (r["bucket_ts"],): r["value"]
        for r in run_tiered_metric_query(_tiered_store(spark), q, dedupe=False).collect()
    }
    want = {
        (r["bucket_ts"],): r["value"]
        for r in run_metric_query(C.points(spark, SF), q, dedupe=False).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        a, b = got[k], want[k]
        assert (a != a and b != b) or abs(a - b) < 1e-6, (k, a, b)


def test_active_series_reads_stored_presence_only(spark):
    """T6 — meta_active_series_window's only scan must be the stored
    presence table: no metrics-store value/ts column is read."""
    df = C.SPARK_QUERIES["meta_active_series_window"](spark, SF)
    plan = plan_of(df)
    files = re.findall(r"Location: \S+ \[(.*?)\]", plan)
    scanned = " ".join(files)
    assert "presence_3600" in scanned, plan
    assert "metrics" not in scanned.replace("metrics_bucketed", ""), plan
    m = re.findall(r"ReadSchema: (.*)", plan)
    assert m and not any("value" in s for s in m), plan


def _codegen_compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_metric_plan_compiles_nothing(spark, make_points):
    """Spark keys generated classes by (class loader, source), so a
    dashboard session's working set is a few hundred entries; the
    session's codegen cache must hold it, or a repeated plan recompiles
    every whole-stage class after a handful of other query shapes."""
    from opentsdb_aura_spark.operators.rate import RateOptions
    from opentsdb_aura_spark.plans.query import MetricQuery

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    base = 1704067200
    pts = make_points(
        [
            ("m", {"host": f"h{h}", "dc": f"dc{h % 2}"}, base + 60 * i, float(i * (h + 1)))
            for h in range(6)
            for i in range(30)
        ]
    )

    def run(**kw) -> None:
        q = MetricQuery(start=base, end=base + 1800, interval=300, filter=MetricLiteral("m"), **kw)
        run_metric_query(pts, q).collect()

    first = dict(rate_options=RateOptions(interval_seconds=60), ds_agg="avg", group_tag_keys=["dc"], gb_agg="sum")
    run(**first)
    run(**first)
    for agg in ("sum", "avg", "max", "p90", "last"):
        for keys in (["dc"], None, ["host"]):
            run(ds_agg=agg, group_tag_keys=keys, gb_agg="sum")
    before = _codegen_compiles(spark)
    run(**first)
    assert _codegen_compiles(spark) == before
