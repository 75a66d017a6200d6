"""Streaming ingest tests (T1-T4, W2, S1/S2) using a file source with
availableNow trigger — fully offline Structured Streaming."""

import os
import shutil
import time

import pytest

from pyspark.sql import functions as F

from opentsdb_aura_spark.model import POINT_SCHEMA, normalize_points
from opentsdb_aura_spark.streaming.ingest import StreamingIngest, streaming_rollup

BASE = 1704067200


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "store", "dim", "ckpt", "ckpt2", "ckpt3", "out")}
    os.makedirs(d["in"])
    return d


def _write_input(spark, path, rows, name):
    from pyspark.sql import Row

    data = [
        Row(namespace="test", metric=m, tags=t, ts=int(ts), value=float(v), ingest_seq=int(seq))
        for (m, t, ts, v, seq) in rows
    ]
    spark.createDataFrame(data, POINT_SCHEMA).coalesce(1).write.mode("overwrite").parquet(f"{path}/{name}")


def test_streaming_ingest_with_drops(spark, tmpdirs):
    now = BASE + 7200  # frozen wall clock
    rows = [
        ("m", {"h": "a"}, BASE + 100, 1.0, 1),  # valid
        ("m", {"h": "a"}, BASE + 200, 2.0, 2),  # valid
        ("m", {"h": "a"}, BASE + 200, 9.0, 3),  # dupe, later write wins
        ("m", {"h": "a"}, BASE - 90000, 5.0, 4),  # too old (T1)
        ("m", {"h": "a"}, now + 999, 5.0, 5),  # future (T2)
    ]
    _write_input(spark, tmpdirs["in"], rows, "batch0")

    ing = StreamingIngest(
        store_path=tmpdirs["store"],
        dim_path=tmpdirs["dim"],
        retention_seconds=24 * 3600,
        now_fn=lambda: now,
    )
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    q = ing.start(stream, tmpdirs["ckpt"])
    q.awaitTermination(120)

    assert ing.stats.dropped_late == 1
    assert ing.stats.dropped_early == 1
    assert ing.stats.appended == 3

    stored = spark.read.parquet(tmpdirs["store"])
    vals = {r["ts"]: r["value"] for r in stored.collect()}
    assert vals == {BASE + 100: 1.0, BASE + 200: 9.0}  # dedupe kept last write

    dim = spark.read.parquet(tmpdirs["dim"]).collect()
    assert len(dim) == 1
    assert dim[0]["last_ts"] == BASE + 200 and dim[0]["last_value"] == 9.0


def test_streaming_incremental_dim_merge(spark, tmpdirs):
    now = BASE + 7200
    ing = StreamingIngest(store_path=tmpdirs["store"], dim_path=tmpdirs["dim"], now_fn=lambda: now)

    _write_input(spark, tmpdirs["in"], [("m", {"h": "a"}, BASE + 100, 1.0, 1)], "b0")
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)

    _write_input(spark, tmpdirs["in"], [("m", {"h": "a"}, BASE + 500, 7.0, 2)], "b1")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)

    dim = spark.read.parquet(tmpdirs["dim"]).collect()
    assert len(dim) == 1
    assert dim[0]["first_seen"] == BASE + 100
    assert dim[0]["last_ts"] == BASE + 500 and dim[0]["last_value"] == 7.0


def test_dim_merge_rewrites_only_touched_buckets(spark, tmpdirs):
    """The bucketed dim merge must leave partitions whose series the
    batch didn't touch byte-identical (per-batch cost O(batch), not
    O(all series)) — and the table root must never vanish mid-swap."""
    import glob

    now = BASE + 7200
    ing = StreamingIngest(store_path=tmpdirs["store"], dim_path=tmpdirs["dim"], now_fn=lambda: now)

    rows = [("m", {"h": str(i)}, BASE + 100 + i, 1.0, i) for i in range(8)]
    _write_input(spark, tmpdirs["in"], rows, "b0")
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)

    def snapshot():
        return {
            p: os.stat(p).st_mtime_ns
            for p in glob.glob(tmpdirs["dim"] + "/dim_bucket=*/*.parquet")
        }

    before = snapshot()
    buckets_before = {p.split("dim_bucket=")[1].split("/")[0] for p in before}
    assert len(buckets_before) >= 2, "fixture must span multiple buckets"

    # update exactly one series
    _write_input(spark, tmpdirs["in"], [("m", {"h": "0"}, BASE + 900, 9.0, 100)], "b1")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)

    after = snapshot()
    from opentsdb_aura_spark.model import series_id as _sid

    touched = (
        spark.createDataFrame([("m", {"h": "0"})], "metric string, tags map<string,string>")
        .select((F.pmod(_sid(F.col("metric"), F.col("tags")), F.lit(ing.dim_buckets))).cast("int").alias("b"))
        .first()["b"]
    )
    untouched_before = {p: m for p, m in before.items() if f"dim_bucket={touched}/" not in p}
    untouched_after = {p: m for p, m in after.items() if f"dim_bucket={touched}/" not in p}
    assert untouched_before == untouched_after  # byte-identical files
    # and the merge itself took: the updated series carries the new last value
    dim = spark.read.parquet(tmpdirs["dim"])
    row = dim.where(F.col("tags")["h"] == "0").first()
    assert row["last_ts"] == BASE + 900 and row["last_value"] == 9.0
    assert row["first_seen"] == BASE + 100


def test_dim_merge_reader_never_sees_partial_table(spark, tmpdirs):
    """Stale-read guard for the dynamic-partition-overwrite dim merge:
    (1) a reader concurrent with an IN-FLIGHT write (before commit)
    sees the complete OLD snapshot — uncommitted staging/_temporary
    files must be invisible; (2) a reader that plans after the commit
    sees the complete NEW table, every bucket present."""
    now = BASE + 7200
    ing = StreamingIngest(store_path=tmpdirs["store"], dim_path=tmpdirs["dim"], now_fn=lambda: now)

    rows = [("m", {"h": str(i)}, BASE + 100 + i, 1.0, i) for i in range(8)]
    _write_input(spark, tmpdirs["in"], rows, "b0")
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)

    base_rows = spark.read.parquet(tmpdirs["dim"]).collect()
    n_series = len(base_rows)
    assert n_series == 8

    # simulate the writer's pre-commit window: an in-flight task has
    # landed bytes under _temporary inside a partition dir (exactly
    # where FileOutputCommitter stages them) — a concurrent reader
    # must not surface them
    bucket_dir = next(
        e for e in os.listdir(tmpdirs["dim"]) if e.startswith("dim_bucket=")
    )
    staging = os.path.join(tmpdirs["dim"], bucket_dir, "_temporary", "0")
    os.makedirs(staging)
    spark.createDataFrame(
        [("GHOST", BASE)], "metric string, last_ts long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, "task0"))
    seen = spark.read.parquet(tmpdirs["dim"]).collect()
    assert len(seen) == n_series  # complete old snapshot, no ghost rows
    assert not any(r["metric"] == "GHOST" for r in seen)
    shutil.rmtree(os.path.join(tmpdirs["dim"], bucket_dir, "_temporary"))

    # after a real merge commits, a fresh reader sees the complete new
    # table: all 8 series, updated bucket merged, every bucket present
    _write_input(spark, tmpdirs["in"], [("m", {"h": "0"}, BASE + 900, 9.0, 100)], "b1")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)
    after = spark.read.parquet(tmpdirs["dim"]).collect()
    assert len(after) == n_series
    upd = next(r for r in after if r["tags"]["h"] == "0")
    assert upd["last_ts"] == BASE + 900 and upd["last_value"] == 9.0


def test_retention_purge(spark, tmpdirs):
    now = BASE + 10 * 86400
    ing = StreamingIngest(
        store_path=tmpdirs["store"],
        dim_path=tmpdirs["dim"],
        retention_seconds=86400,
        segment_width=7200,
        now_fn=lambda: now,
    )
    # land two segments: one ancient, one fresh
    _write_input(
        spark,
        tmpdirs["in"],
        [("m", {}, BASE, 1.0, 1), ("m", {}, now - 100, 2.0, 2)],
        "b0",
    )
    ing.retention_seconds = 20 * 86400  # accept both at ingest
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)

    ing.retention_seconds = 86400  # then purge with 1-day retention
    purged = ing.purge_expired()
    assert purged == [BASE - BASE % 7200]
    left = spark.read.parquet(tmpdirs["store"])
    assert [r["value"] for r in left.collect()] == [2.0]


def test_streaming_rollup_window_close(spark, tmpdirs):
    # two hourly windows of data + a late sentinel far ahead that
    # advances the watermark, closing the first windows; hour 0 also
    # holds one NaN point, which the chain skips (no data)
    rows0 = [("m", {"h": "a"}, BASE + i * 600, 1.0, i) for i in range(6)]  # hour 0
    rows0.append(("m", {"h": "a"}, BASE + 300, float("nan"), 6))
    rows1 = [("m", {"h": "a"}, BASE + 3600 + i * 600, 2.0, 10 + i) for i in range(6)]  # hour 1
    _write_input(spark, tmpdirs["in"], rows0, "b0")
    _write_input(spark, tmpdirs["in"], rows1, "b1")
    _write_input(spark, tmpdirs["in"], [("m", {"h": "a"}, BASE + 5 * 3600, 0.0, 99)], "b2")

    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    stream = normalize_points(stream)
    rolled = streaming_rollup(stream, 3600, watermark="30 minutes")
    q = (
        rolled.writeStream.format("parquet")
        .option("path", tmpdirs["out"])
        .option("checkpointLocation", tmpdirs["ckpt2"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(tmpdirs["out"])
    rows = {r["window_start"]: r for r in out.collect()}
    # hour-0 and hour-1 windows must have closed and emitted
    assert BASE in rows and rows[BASE]["sum"] == 6.0 and rows[BASE]["count"] == 6
    assert BASE + 3600 in rows and rows[BASE + 3600]["sum"] == 12.0
    # twin parity: the streamed window row IS build_rollup's row over
    # the same points
    from opentsdb_aura_spark.operators.rollup import build_rollup

    batch = normalize_points(spark.read.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/b0"))
    (want,) = build_rollup(batch, 3600).collect()
    assert rows[BASE].asDict() == want.asDict()


def test_streamed_store_files_sorted_by_series_ts(spark, tmpdirs):
    """Micro-batch appends land through the store's one writer: every
    file under segment_time=* reads back in (series_id, ts) order (the
    row-group min/max pruning contract), batch after batch.  Partition
    coalescing is off so the deduped batch reaches the writer as
    several sorted runs, as it does once a batch outgrows one
    partition."""
    import glob
    import random

    from pyspark.sql import Row

    now = BASE + 7200
    ing = StreamingIngest(store_path=tmpdirs["store"], dim_path=tmpdirs["dim"], now_fn=lambda: now)
    rnd = random.Random(7)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for b in range(2):
            rows = [
                ("m", {"h": f"h{h}"}, BASE + 10 * i + b * 3600, float(i), b * 10_000 + h * 1000 + i)
                for h in range(12)
                for i in range(40)
            ]
            rnd.shuffle(rows)
            df = spark.createDataFrame(
                [Row(namespace="test", metric=m, tags=t, ts=ts, value=v, ingest_seq=q) for m, t, ts, v, q in rows],
                POINT_SCHEMA,
            ).repartition(4)
            ing.process_batch(df, b)
    finally:
        spark.conf.set(key, prev)
    files = glob.glob(os.path.join(tmpdirs["store"], "segment_time=*", "*.parquet"))
    assert len(files) >= 2
    import pyarrow.parquet as pq

    for f in files:
        t = pq.read_table(f, columns=["series_id", "ts"])
        keys = list(zip(t["series_id"].to_pylist(), t["ts"].to_pylist()))
        assert keys == sorted(keys), f


def test_streaming_last_value_state(spark, tmpdirs):
    """W2 — keyed state survives across micro-batches."""
    from opentsdb_aura_spark.streaming.state import streaming_last_value

    latest: dict = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            latest[r["series_id"]] = r

    def run_once():
        stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
        snap = streaming_last_value(normalize_points(stream))
        q = (
            snap.writeStream.foreachBatch(sink)
            .option("checkpointLocation", tmpdirs["ckpt"])
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_input(spark, tmpdirs["in"], [("m", {"h": "a"}, BASE + 100, 1.0, 1)], "b0")
    run_once()

    # second batch updates the same series — state must carry over
    # across restarts via the checkpointed state store
    _write_input(spark, tmpdirs["in"], [("m", {"h": "a"}, BASE + 900, 4.0, 2)], "b1")
    run_once()

    assert len(latest) == 1
    row = next(iter(latest.values()))
    assert row["last_ts"] == BASE + 900
    assert row["last_value"] == 4.0
    assert row["n_points"] == 2  # state counted across batches


def test_parse_kafka_points(spark):
    """S1 — kafka JSON payload → canonical point schema (static df,
    no broker needed)."""
    from opentsdb_aura_spark.streaming.ingest import parse_kafka_points

    payload = '{"namespace":"ns","metric":"cpu","tags":{"h":"a"},"ts":1704067200,"value":1.5}'
    df = spark.createDataFrame(
        [(payload.encode(), 0, 7), (b"not json", 0, 8)],
        "value binary, partition int, offset long",
    )
    out = parse_kafka_points(df).collect()
    assert len(out) == 1  # malformed row filtered
    r = out[0]
    assert r["metric"] == "cpu" and r["tags"]["h"] == "a" and r["value"] == 1.5
    assert r["ingest_seq"] == 7


def test_compact_store(spark, tmpdirs):
    """Maintenance compaction: many small files per segment → one
    sorted file, same rows."""
    import glob

    from opentsdb_aura_spark.sources.batch import compact_store, write_metrics_store

    rows = [("m", {"h": str(i % 7)}, BASE + i * 400, float(i), i) for i in range(100)]
    _write_input(spark, tmpdirs["in"], rows, "b0")
    pts = normalize_points(spark.read.parquet(tmpdirs["in"] + "/b0").repartition(8))
    store = tmpdirs["store"] + "/m"
    write_metrics_store(pts, store, reshuffle=False)
    before = len(glob.glob(store + "/segment_time=*/*.parquet"))

    n = compact_store(spark, store)
    after = len(glob.glob(store + "/segment_time=*/*.parquet"))
    assert n >= 1 and after < before
    assert spark.read.parquet(store).count() == 100


def test_streaming_sessionize(spark, tmpdirs):
    """Session state survives micro-batches: batch 2 extends the open
    session when within the gap, or closes it and opens a new one."""
    from opentsdb_aura_spark.streaming.state import streaming_sessionize

    rows1 = [("m", {"h": "x"}, BASE + 0, 1.0, 1), ("m", {"h": "x"}, BASE + 600, 1.0, 2)]
    _write_input(spark, tmpdirs["in"], rows1, "s0")

    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ev = stream.selectExpr("CAST(ingest_seq % 2 AS LONG) AS user_id", "ts")
    out = []

    def sink(df, _bid):
        out.extend(df.collect())

    q = (
        streaming_sessionize(ev, 1800)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tmpdirs["ckpt"])
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # two users (seq 1→1, seq 2→0), one open session each
    assert {(r["user_id"], r["closed"]) for r in out} == {(0, False), (1, False)}

    out.clear()
    # user 1: an event 2h after its session end → closes it, opens new
    rows2 = [("m", {"h": "x"}, BASE + 600 + 7200, 5.0, 3)]
    _write_input(spark, tmpdirs["in"], rows2, "s1")
    q = (
        streaming_sessionize(ev, 1800)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tmpdirs["ckpt"])
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by_state = {(r["user_id"], r["closed"]): r for r in out}
    closed = by_state[(1, True)]
    assert closed["session_start"] == BASE and closed["n_events"] == 1
    reopened = by_state[(1, False)]
    assert reopened["session_start"] == BASE + 600 + 7200 and reopened["n_events"] == 1


def test_streaming_dedup_across_batches(spark, tmpdirs):
    """D1 at the stream edge: re-delivery of the same (series_id, ts)
    in a later micro-batch is dropped by the watermark-bounded state;
    genuinely new timestamps pass."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.streaming.state import streaming_dedup

    seen: list = []

    def sink(batch_df, batch_id):
        seen.extend(batch_df.collect())

    def run_once():
        stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
        pts = normalize_points(stream).withColumn("event_time", F.timestamp_seconds(F.col("ts")))
        deduped = streaming_dedup(pts, watermark_delay="1 hour")
        q = (
            deduped.writeStream.foreachBatch(sink)
            .option("checkpointLocation", tmpdirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    rows0 = [
        ("m", {"h": "a"}, BASE + 100, 1.0, 1),
        ("m", {"h": "a"}, BASE + 100, 1.0, 2),  # in-batch duplicate
        ("m", {"h": "a"}, BASE + 200, 2.0, 3),
    ]
    _write_input(spark, tmpdirs["in"], rows0, "b0")
    run_once()
    assert len(seen) == 2  # in-batch duplicate collapsed

    rows1 = [
        ("m", {"h": "a"}, BASE + 100, 1.0, 4),  # cross-batch re-delivery → dropped
        ("m", {"h": "a"}, BASE + 300, 3.0, 5),  # new → passes
    ]
    _write_input(spark, tmpdirs["in"], rows1, "b1")
    run_once()
    ts_seen = sorted(r["ts"] for r in seen)
    assert ts_seen == [BASE + 100, BASE + 200, BASE + 300]


def test_streaming_presence_hll_window_close(spark, tmpdirs):
    """T4/T6 — window-close HLL flush: closed windows emit one sketch
    per (metric, epoch) whose estimate equals the exact distinct-series
    count, and the emitted sketches MERGE with hll_union_agg — the
    property that lets ingest keep the batch presence_hll table
    current."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.streaming.ingest import streaming_presence_hll

    # hour 0: series a,b,c; hour 1: series a only; sentinel advances WM
    rows0 = [("m", {"h": h}, BASE + i * 600, 1.0, i) for i, h in enumerate("abcabc")]
    rows1 = [("m", {"h": "a"}, BASE + 3600 + i * 600, 1.0, 10 + i) for i in range(3)]
    _write_input(spark, tmpdirs["in"], rows0, "b0")
    _write_input(spark, tmpdirs["in"], rows1, "b1")
    _write_input(spark, tmpdirs["in"], [("m", {"h": "z"}, BASE + 5 * 3600, 0.0, 99)], "b2")

    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    hll = streaming_presence_hll(normalize_points(stream), 3600, watermark="30 minutes")
    q = (
        hll.writeStream.format("parquet")
        .option("path", tmpdirs["out"])
        .option("checkpointLocation", tmpdirs["ckpt2"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(tmpdirs["out"])
    est = {
        r["epoch"]: r["n"]
        for r in out.select("epoch", F.hll_sketch_estimate("hll").alias("n"), "n_points").collect()
    }
    assert est[BASE] == 3 and est[BASE + 3600] == 1
    # emitted sketches union across epochs like the at-rest table
    merged = out.where(F.col("epoch") < BASE + 7200).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll", F.lit(True))).alias("n")
    ).first()["n"]
    assert merged == 3


def test_streaming_heavy_hitters_state(spark, tmpdirs):
    """MG summary state survives micro-batches: counts accumulate
    across triggers and the bounded summary keeps the planted heavy
    item on top."""
    from opentsdb_aura_spark.streaming.state import streaming_heavy_hitters

    latest: dict = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            latest[(r["metric"], r["item"])] = r

    def run_once():
        stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
        pts = normalize_points(stream).withColumn("item", F.col("tags")["h"])
        hh = streaming_heavy_hitters(pts, "item", 2, capacity=8, group_cols=("metric",))
        q = (
            hh.writeStream.foreachBatch(sink)
            .option("checkpointLocation", tmpdirs["ckpt"])
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    from pyspark.sql import functions as F

    rows0 = [("m", {"h": "hot"}, BASE + i, 1.0, i) for i in range(5)]
    rows0 += [("m", {"h": f"x{i}"}, BASE + 100 + i, 1.0, 50 + i) for i in range(3)]
    _write_input(spark, tmpdirs["in"], rows0, "b0")
    run_once()
    assert latest[("m", "hot")]["est_count"] == 5
    assert latest[("m", "hot")]["n_total"] == 8

    # second trigger: state carries over, counts accumulate
    rows1 = [("m", {"h": "hot"}, BASE + 200 + i, 1.0, 100 + i) for i in range(4)]
    _write_input(spark, tmpdirs["in"], rows1, "b1")
    run_once()
    assert latest[("m", "hot")]["est_count"] == 9
    assert latest[("m", "hot")]["n_total"] == 12
    assert latest[("m", "hot")]["err_bound"] == 12 // 9


def test_purge_idle_series_dim_cleanup(spark, tmpdirs):
    """T3 — series whose last activity predates retention + 1 segment
    are removed from the dim (the PurgeJob's meta cleanup); active
    series survive untouched, including ones sharing a bucket with
    idle ones."""
    now = BASE + 10 * 86400
    ing = StreamingIngest(
        store_path=tmpdirs["store"],
        dim_path=tmpdirs["dim"],
        retention_seconds=20 * 86400,  # accept everything at ingest
        segment_width=7200,
        now_fn=lambda: now,
    )
    rows = [
        ("m", {"h": "idle_a"}, BASE, 1.0, 1),
        ("m", {"h": "idle_b"}, BASE + 50, 1.0, 2),
        ("m", {"h": "live"}, now - 100, 2.0, 3),
    ]
    _write_input(spark, tmpdirs["in"], rows, "b0")
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)
    assert spark.read.parquet(tmpdirs["dim"]).count() == 3

    ing.retention_seconds = 86400
    ing.purge_expired()
    removed = ing.purge_idle_series()
    assert removed == 2
    left = spark.read.parquet(tmpdirs["dim"]).collect()
    assert len(left) == 1 and left[0]["tags"]["h"] == "live"
    # idempotent: nothing more to remove
    assert ing.purge_idle_series() == 0


def test_ingest_presence_hll_sidecar_appends_and_merges(spark, tmpdirs):
    """With presence_hll_path set, each ingest batch appends its epoch
    sketches; duplicate epoch rows from different batches MERGE at
    query time (hll_union_agg), so the sidecar needs no
    read-modify-write and range cardinality stays exact-at-this-scale."""
    from opentsdb_aura_spark.operators.meta import cardinality_from_presence_hll

    now = BASE + 7200
    hll_path = tmpdirs["out"] + "_hll"
    ing = StreamingIngest(
        store_path=tmpdirs["store"],
        dim_path=tmpdirs["dim"],
        retention_seconds=10 * 86400,
        segment_width=7200,
        presence_hll_path=hll_path,
        now_fn=lambda: now,
    )
    # batch 1: series a, b in hour 0; batch 2: series b, c in hour 0
    # (same epoch re-appended) and series a in hour 1
    _write_input(spark, tmpdirs["in"], [
        ("m", {"h": "a"}, BASE + 10, 1.0, 1), ("m", {"h": "b"}, BASE + 20, 1.0, 2),
    ], "b0")
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)
    _write_input(spark, tmpdirs["in"], [
        ("m", {"h": "b"}, BASE + 30, 1.0, 3), ("m", {"h": "c"}, BASE + 40, 1.0, 4),
        ("m", {"h": "a"}, BASE + 3700, 1.0, 5),
    ], "b1")
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)

    hll = spark.read.parquet(hll_path)
    # two appends for hour 0 (one per batch), one for hour 1
    assert hll.where(F.col("epoch") == BASE).count() == 2
    got = {
        r["metric"]: r["active_series"]
        for r in cardinality_from_presence_hll(hll, BASE, BASE + 3600).collect()
    }
    assert got == {"m": 3}  # a, b, c — unioned across the duplicate rows
    full = cardinality_from_presence_hll(hll, BASE, BASE + 7200).collect()[0]["active_series"]
    assert full == 3


def test_merge_dim_same_ts_rewrite_across_batches(spark, tmpdirs):
    """A same-timestamp rewrite arriving in a LATER micro-batch must
    win the dim's last_value (the store's LWW rule): the merge
    tiebreaks on (last_ts, last_seq), not last_ts alone."""
    now = BASE + 7200
    ing = StreamingIngest(
        store_path=tmpdirs["store"],
        dim_path=tmpdirs["dim"],
        retention_seconds=10 * 86400,
        segment_width=7200,
        now_fn=lambda: now,
    )
    _write_input(spark, tmpdirs["in"], [("m", {"h": "a"}, BASE + 100, 1.0, 1)], "b0")
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)
    # batch 2: SAME series, SAME ts, new value, higher seq
    _write_input(spark, tmpdirs["in"], [("m", {"h": "a"}, BASE + 100, 9.0, 2)], "b1")
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(tmpdirs["in"] + "/*")
    ing.start(stream, tmpdirs["ckpt"]).awaitTermination(120)
    row = spark.read.parquet(tmpdirs["dim"]).collect()[0]
    assert row["last_ts"] == BASE + 100
    assert row["last_value"] == 9.0 and row["last_seq"] == 2


def test_streaming_near_dup_cross_batch(spark, tmpdirs):
    """Cross-batch near-dup over a fingerprint stream: batch 1's
    intra-batch pair is reported immediately; batch 2's member of a
    cross-batch pair is reported when IT arrives (probed against the
    persisted index, which by then holds batch 1); re-running the
    stream with no new input adds nothing; far fingerprints never
    pair."""
    from opentsdb_aura_spark.streaming.state import streaming_near_dup

    fp_schema = "media_id long, fp long"
    base = 0x7123456789ABCDE0

    def write_batch(rows, name):
        spark.createDataFrame(rows, fp_schema).coalesce(1).write.parquet(
            f"{tmpdirs['in']}/{name}"
        )

    def run_once():
        stream = spark.readStream.schema(fp_schema).parquet(tmpdirs["in"] + "/*")
        q = streaming_near_dup(
            stream,
            tmpdirs["store"],
            tmpdirs["out"],
            tmpdirs["ckpt"],
            max_hamming=3,
        )
        q.awaitTermination(120)

    def pairs():
        try:
            return {
                (r["probe_id"], r["index_id"]): r["hamming"]
                for r in spark.read.parquet(tmpdirs["out"]).collect()
            }
        except Exception:
            return {}

    # batch 1: 0 and 1 are near (Hamming 1); 2 is far
    write_batch([(0, base), (1, base ^ 2), (2, -base)], "b1")
    run_once()
    assert pairs() == {(0, 1): 1}

    # batch 2: 10 near both 0 and 1 (cross-batch via the index), 11 far
    write_batch([(10, base ^ 1), (11, 0x0F0F0F0F)], "b2")
    run_once()
    got = pairs()
    assert got == {(0, 1): 1, (10, 0): 1, (10, 1): 2}

    # replaying with no new files adds nothing
    run_once()
    assert pairs() == got

    # batch 3: id 0 RE-DELIVERED alongside a new near-dup 20 — the
    # replayed id is dropped before pairing, so exactly ONE row
    # appears, oriented (new, old), never the flipped intra twin
    write_batch([(0, base), (20, base ^ 4)], "b3")
    run_once()
    got3 = pairs()
    assert got3[(20, 0)] == 1 and (0, 20) not in got3
    assert got3[(20, 1)] == 2 and got3[(20, 10)] == 2
    assert set(got) <= set(got3) and len(got3) == len(got) + 3


def test_streaming_near_dup_compaction_bounds_index_files(spark, tmpdirs):
    """Sustained streaming appends must NOT accumulate one file per
    band per batch forever: with the compact_max_files hook, after a
    long simulated run (8 micro-batches) every band= directory of the
    fingerprint index holds at most the bound, the hook demonstrably
    fired (file count far below the batch count), and probe results
    are identical to the uncompacted layout's (ADVICE r8 parity with
    streaming_crawl_ingest's MinHash hook)."""
    from opentsdb_aura_spark.sources.maintenance import partition_file_counts
    from opentsdb_aura_spark.streaming.state import streaming_near_dup

    fp_schema = "media_id long, fp long"
    base = 0x7123456789ABCDE0

    def run_batch(rows, name):
        spark.createDataFrame(rows, fp_schema).coalesce(1).write.parquet(
            f"{tmpdirs['in']}/{name}"
        )
        stream = spark.readStream.schema(fp_schema).parquet(tmpdirs["in"] + "/*")
        streaming_near_dup(
            stream, tmpdirs["store"], tmpdirs["out"], tmpdirs["ckpt"],
            max_hamming=3, compact_max_files=3,
        ).awaitTermination(120)

    # 8 batches; batch k's id 100+k is near the original id 0
    run_batch([(0, base), (1, -base)], "b0")
    for k in range(1, 8):
        run_batch([(100 + k, base ^ (1 << (k % 4))), (200 + k, -base ^ (1 << k))], f"b{k}")

    counts = partition_file_counts(spark, tmpdirs["store"], "band")
    assert max(counts.values()) <= 3, counts   # bound held across the run
    # the hook actually compacted: without it every band would hold
    # one file per batch (8)
    assert max(counts.values()) < 8
    got = {
        (r["probe_id"], r["index_id"]): r["hamming"]
        for r in spark.read.parquet(tmpdirs["out"]).collect()
    }
    for k in range(1, 8):
        assert got[(100 + k, 0)] == 1  # every cross-batch pair survived compactions


def test_streaming_crawl_ingest_warc_to_index(spark, tmpdirs):
    """Streaming crawl ingestion: WARC file batches (gzip, one corrupt)
    stream through record extraction into the documents table and the
    incremental MinHash index; the corrupt file lands in the errors
    sidecar, recrawled ids stay deduped in the index, and a replay
    with no new files adds nothing."""
    from opentsdb_aura_spark.operators.containers import encode_warc_file
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    file_schema = "file_id long, content binary"
    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]

    def write_files(rows, name):
        spark.createDataFrame(rows, file_schema).coalesce(1).write.parquet(
            f"{tmpdirs['in']}/{name}"
        )

    def run_once():
        stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
        q = streaming_crawl_ingest(
            stream, idx_path, docs_path, tmpdirs["ckpt"], compact_max_files=4
        )
        q.awaitTermination(120)

    mk = lambda fid, docs, **kw: encode_warc_file(fid, docs, gzip_records=True, **kw)
    # batch 1: two good files + one truncated download
    write_files(
        [
            (0, mk(0, [(0, "alpha doc zero"), (1, "beta doc one")])),
            (1, mk(1, [(2, "gamma doc two")])),
            (2, mk(2, [(3, "delta doc three")])[:-7]),
        ],
        "b1",
    )
    run_once()
    docs = {r["doc_id"]: r["text"] for r in spark.read.parquet(docs_path).collect()}
    assert docs == {0: "alpha doc zero", 1: "beta doc one", 2: "gamma doc two"}
    errs = spark.read.parquet(docs_path + "_errors").collect()
    assert len(errs) == 1 and errs[0]["file_id"] == 2
    assert spark.read.parquet(idx_path).count() == 3

    # batch 2: doc 1 RE-CRAWLED + one new doc — index dedupes, docs append
    write_files([(3, mk(3, [(1, "beta doc one"), (9, "epsilon doc nine")]))], "b2")
    run_once()
    sig_ids = sorted(r["doc_id"] for r in spark.read.parquet(idx_path).select("doc_id").collect())
    assert sig_ids == [0, 1, 2, 9]  # the recrawl did not re-sign
    assert spark.read.parquet(docs_path).count() == 5  # at-least-once docs append

    # replay with no new input: nothing changes
    run_once()
    assert spark.read.parquet(idx_path).count() == 4
    assert spark.read.parquet(docs_path).count() == 5


def test_streaming_crawl_ingest_uuid_ids_routed_to_errors(spark, tmpdirs):
    """Real-crawl record ids are RFC-4122 UUIDs, not the synthesized
    ``urn:uuid:doc-<n>`` fixture form: the default extractor must
    route those rows to the errors sidecar (doc_id_extract_failed)
    instead of appending NULL/garbage doc_ids to the docs table and
    MinHash index, and a caller-supplied ``doc_id_expr`` must ingest
    them (ADVICE r7)."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    raw = (
        C.encode_warc_record(
            "warcinfo",
            "urn:uuid:warcinfo-0",
            C.WARCINFO_PAYLOAD,
            content_type="application/warc-fields",
        )
        + C.encode_warc_record(
            "response", "urn:uuid:doc-7", b"fixture-id doc with enough words to shingle", target_uri="http://example.com/7"
        )
        + C.encode_warc_record(
            "response",
            "urn:uuid:0f1e2d3c-9a8b-4c5d-8e6f-1234567890ab",
            b"production uuid doc with enough words to shingle",
            target_uri="http://example.com/u",
        )
    )
    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, raw)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )

    docs_path = tmpdirs["out"] + "/docs"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream, tmpdirs["store"], docs_path, tmpdirs["ckpt"]
    ).awaitTermination(120)

    docs = spark.read.parquet(docs_path).collect()
    assert [(r["doc_id"], r["text"]) for r in docs] == [
        (7, "fixture-id doc with enough words to shingle")
    ]
    errs = spark.read.parquet(docs_path + "_errors").collect()
    assert len(errs) == 1 and errs[0]["error"] == "doc_id_extract_failed"
    # the sidecar row must identify WHICH record failed (ADVICE r8)
    assert errs[0]["record_id"] == "urn:uuid:0f1e2d3c-9a8b-4c5d-8e6f-1234567890ab"
    assert errs[0]["target_uri"] == "http://example.com/u"
    assert spark.read.parquet(tmpdirs["store"]).count() == 1

    # caller-supplied extractor ingests the production ids
    docs2, idx2, ckpt2 = (
        tmpdirs["out"] + "/docs2",
        tmpdirs["out"] + "/idx2",
        tmpdirs["out"] + "/ckpt2",
    )
    stream2 = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream2,
        idx2,
        docs2,
        ckpt2,
        doc_id_expr=F.xxhash64("record_id"),
    ).awaitTermination(120)
    assert spark.read.parquet(docs2).count() == 2
    assert spark.read.parquet(idx2).count() == 2


def test_streaming_crawl_ingest_http_html_end_to_end(spark, tmpdirs):
    """The full crawl front half as ONE stream: WARC files whose
    response payloads are HTTP envelopes around fixture HTML pages
    flow through record extraction → HTTP envelope split → HTML
    boilerplate-stripped text → docs table → MinHash index.  A record
    with an unparseable HTTP payload lands in the errors sidecar; the
    extracted text matches extract_html_text's closed form (title
    dropped, nav/footer dropped, entities decoded)."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import encode_http_response
    from opentsdb_aura_spark.operators.htmltext import extract_html_text, render_fixture_html
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    texts = {
        0: "alpha page words enough to shingle nicely today",
        1: "beta page words enough to shingle nicely today",
        9: "completely different content about gardens and rivers flowing",
        # gzip-coded latin-1 page (r9): the production shape — body
        # compressed AND non-utf8 — must inflate + decode in-stream
        10: "café crème niño words enough to shingle nicely today",
    }

    def rec(doc_id):
        if doc_id == 10:  # 10%5==0 -> gzip coding; charset declared latin-1
            payload = encode_http_response(
                doc_id,
                render_fixture_html(doc_id, texts[doc_id]).encode("iso-8859-1"),
                content_encoding=True,
                charset_param="ISO-8859-1",
            )
        else:
            payload = encode_http_response(
                doc_id, render_fixture_html(doc_id, texts[doc_id]).encode()
            )
        return C.encode_warc_record(
            "response",
            f"urn:uuid:doc-{doc_id}",
            payload,
            target_uri=f"http://example.com/doc/{doc_id}",
            content_type="application/http;msgtype=response",
        )

    broken = C.encode_warc_record(
        "response", "urn:uuid:doc-500", b"THIS IS NOT HTTP",
        target_uri="http://example.com/500",
    )
    raw = rec(0) + rec(1) + broken + rec(9) + rec(10)

    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, raw)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream, idx_path, docs_path, tmpdirs["ckpt"], http_html=True
    ).awaitTermination(120)

    docs = {r["doc_id"]: r["text"] for r in spark.read.parquet(docs_path).collect()}
    want = {
        d: extract_html_text(render_fixture_html(d, t))[1] for d, t in texts.items()
    }
    assert docs == want
    # extraction really stripped chrome: no nav/footer text, entities decoded
    assert "Home" not in docs[0] and "Privacy" not in docs[0]
    assert docs[0].endswith("content here!")
    # the gzip-coded latin-1 page inflated AND decoded correctly (no mojibake)
    assert "café crème niño" in docs[10] and "�" not in docs[10]
    errs = spark.read.parquet(docs_path + "_errors").collect()
    assert len(errs) == 1 and "HTTP" in errs[0]["error"]
    assert errs[0]["record_id"] == "urn:uuid:doc-500"  # record-level diagnosis (ADVICE r8)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(idx_path).select("doc_id").collect()
    ) == [0, 1, 9, 10]


def test_streaming_crawl_ingest_upgrades_legacy_errors_sidecar(spark, tmpdirs):
    """A pre-r9 deployment's errors sidecar holds (file_id, error)
    rows; resuming ingestion with the widened writer must NOT create a
    mixed-schema directory (a plain parquet read would resolve the
    schema from whichever footer it samples) — legacy rows are widened
    once with NULL record fields, then the new rows append."""
    from opentsdb_aura_spark.operators.containers import encode_warc_file
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    docs_path = tmpdirs["out"] + "/docs"
    # legacy sidecar from the old deployment
    spark.createDataFrame(
        [(99, "old truncated download")], "file_id long, error string"
    ).write.parquet(docs_path + "_errors")

    file_schema = "file_id long, content binary"
    good = encode_warc_file(0, [(0, "alpha doc zero words")], gzip_records=True)
    bad = encode_warc_file(1, [(1, "beta doc one words")], gzip_records=True)[:-7]
    spark.createDataFrame([(0, good), (1, bad)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream, tmpdirs["store"], docs_path, tmpdirs["ckpt"]
    ).awaitTermination(120)

    errs = spark.read.parquet(docs_path + "_errors").collect()
    assert len(errs) == 2
    assert set(errs[0].asDict()) == {"file_id", "record_id", "target_uri", "error"}
    legacy = [r for r in errs if r["file_id"] == 99][0]
    assert legacy["error"] == "old truncated download" and legacy["record_id"] is None
    fresh = [r for r in errs if r["file_id"] == 1][0]
    assert "terminated" in fresh["error"] or "gzip" in fresh["error"]


def test_streaming_crawl_ingest_frontier_index(spark, tmpdirs):
    """fetch → extract → DISCOVER → schedule as one stream: the
    frontier index accumulates canonicalized outgoing-link edges
    across micro-batches, counts rank the next wave, and a direct
    re-delivery of an already-ingested batch re-contributes nothing
    (doc_id anti-join idempotence).  frontier_path without http_html
    raises at the API boundary."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import (
        encode_http_response,
        frontier_counts,
        update_frontier_index,
    )
    from opentsdb_aura_spark.operators.htmltext import render_fixture_html
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    def rec(doc_id):
        payload = encode_http_response(
            doc_id, render_fixture_html(doc_id, f"page {doc_id} words enough here").encode()
        )
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", payload,
            target_uri=f"http://example.com/doc/{doc_id}",
            content_type="application/http;msgtype=response",
        )

    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, rec(0) + rec(1))], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    spark.createDataFrame([(1, rec(2))], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b2"
    )
    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]
    frontier = tmpdirs["out"] + "/frontier"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    with _pytest.raises(ValueError, match="requires http_html"):
        streaming_crawl_ingest(stream, idx_path, docs_path, tmpdirs["ckpt2"],
                               frontier_path=frontier)
    streaming_crawl_ingest(
        stream, idx_path, docs_path, tmpdirs["ckpt"],
        http_html=True, frontier_path=frontier,
    ).awaitTermination(120)

    counts = {r["frontier_url"]: r["n_refs"] for r in frontier_counts(spark, frontier).collect()}
    # every fixture page links the same 5 chrome targets; '/' canonicalizes
    # to the bare origin (trailing slash dropped)
    assert counts == {
        "http://example.com": 3,
        "http://example.com/about": 3,
        "http://example.com/next": 3,
        "http://example.com/terms": 3,
        "http://example.com/privacy": 3,
    }
    # redelivery idempotence: re-appending batch 1's edges is a no-op
    redelivered = spark.createDataFrame(
        [("http://example.com/about", 0), ("http://example.com/new", 1)],
        "frontier_url string, doc_id long",
    )
    update_frontier_index(redelivered, frontier)
    counts2 = {r["frontier_url"]: r["n_refs"] for r in frontier_counts(spark, frontier).collect()}
    assert counts2 == counts  # both edges keyed by already-ingested docs


def test_streaming_crawl_ingest_politeness_gates_frontier(spark, tmpdirs):
    """With robots_rules_path, a disallowed URL never enters the
    frontier index — the politeness gate runs between discovery and
    scheduling inside the stream."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import (
        encode_http_response,
        frontier_counts,
    )
    from opentsdb_aura_spark.operators.htmltext import render_fixture_html
    from opentsdb_aura_spark.operators.robots import parse_robots_files
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    def rec(doc_id):
        payload = encode_http_response(
            doc_id, render_fixture_html(doc_id, f"page {doc_id} words enough here").encode()
        )
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", payload,
            target_uri=f"http://example.com/doc/{doc_id}",
            content_type="application/http;msgtype=response",
        )

    rules_path = tmpdirs["out"] + "/robots_rules"
    robots = "User-agent: *\nDisallow: /next\nDisallow: /terms\n"
    parse_robots_files(
        spark.createDataFrame([("example.com", robots)], "host string, content string")
    ).write.parquet(rules_path)

    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, rec(0) + rec(1))], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    frontier = tmpdirs["out"] + "/frontier"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pass frontier_path"):
        streaming_crawl_ingest(
            stream, tmpdirs["store"], tmpdirs["out"] + "/docs", tmpdirs["ckpt2"],
            http_html=True, robots_rules_path=rules_path,
        )
    streaming_crawl_ingest(
        stream, tmpdirs["store"], tmpdirs["out"] + "/docs", tmpdirs["ckpt"],
        http_html=True, frontier_path=frontier, robots_rules_path=rules_path,
    ).awaitTermination(120)

    counts = {r["frontier_url"]: r["n_refs"] for r in frontier_counts(spark, frontier).collect()}
    assert counts == {
        "http://example.com": 2,
        "http://example.com/about": 2,
        "http://example.com/privacy": 2,
    }  # /next and /terms disallowed -> never scheduled


def test_streaming_crawl_ingest_url_prefilter_gates_frontier(spark, tmpdirs):
    """With url_prefilter_gate, media-extension and calendar-trap-deep
    links never enter the frontier index — the string-only fetch-budget
    gate runs between discovery and politeness inside the stream."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import (
        encode_http_response,
        frontier_counts,
    )
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    html = (
        "<html><head><title>t</title></head><body><p>enough content words here</p>"
        '<a href="/keep/page">Keep</a><a href="/logo.png">Logo</a>'
        '<a href="' + "/d" * 15 + '">Deep</a></body></html>'
    )
    payload = encode_http_response(1, html.encode())
    rec = C.encode_warc_record(
        "response", "urn:uuid:doc-1", payload,
        target_uri="http://example.com/doc/1",
        content_type="application/http;msgtype=response",
    )
    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, rec)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    frontier = tmpdirs["out"] + "/frontier"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pass frontier_path"):
        streaming_crawl_ingest(
            stream, tmpdirs["store"], tmpdirs["out"] + "/docs", tmpdirs["ckpt2"],
            http_html=True, url_prefilter_gate=True,
        )
    streaming_crawl_ingest(
        stream, tmpdirs["store"], tmpdirs["out"] + "/docs", tmpdirs["ckpt"],
        http_html=True, frontier_path=frontier, url_prefilter_gate=True,
    ).awaitTermination(120)

    counts = {r["frontier_url"]: r["n_refs"] for r in frontier_counts(spark, frontier).collect()}
    assert counts == {"http://example.com/keep/page": 1}  # .png and 15-deep gated


def test_streaming_crawl_ingest_follows_redirects(spark, tmpdirs):
    """A 301 capture's Location resolves against the fetch URI and
    enters the frontier index alongside extracted links; the
    politeness gate still applies to redirect targets."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import (
        encode_http_response,
        frontier_counts,
    )
    from opentsdb_aura_spark.operators.robots import parse_robots_files
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    html = ('<html><body><p>words here</p><a href="/keep">K</a></body></html>')
    page = C.encode_warc_record(
        "response", "urn:uuid:doc-1", encode_http_response(1, html.encode()),
        target_uri="http://example.com/doc/1",
        content_type="application/http;msgtype=response",
    )
    redirect_payload = (
        b"HTTP/1.1 301 Moved Permanently\r\n"
        b"Location: /moved/here\r\nContent-Length: 0\r\n\r\n"
    )
    redirect = C.encode_warc_record(
        "response", "urn:uuid:doc-2", redirect_payload,
        target_uri="http://example.com/doc/2",
        content_type="application/http;msgtype=response",
    )
    disallowed = C.encode_warc_record(
        "response", "urn:uuid:doc-3",
        b"HTTP/1.1 302 Found\r\nLocation: /tmp/secret\r\nContent-Length: 0\r\n\r\n",
        target_uri="http://example.com/doc/3",
        content_type="application/http;msgtype=response",
    )
    rules_path = tmpdirs["out"] + "/robots_rules"
    parse_robots_files(
        spark.createDataFrame(
            [("example.com", "User-agent: *\nDisallow: /tmp/\n")],
            "host string, content string",
        )
    ).write.parquet(rules_path)

    file_schema = "file_id long, content binary"
    spark.createDataFrame(
        [(0, page + redirect + disallowed)], file_schema
    ).coalesce(1).write.parquet(tmpdirs["in"] + "/b1")
    frontier = tmpdirs["out"] + "/frontier"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream, tmpdirs["store"], tmpdirs["out"] + "/docs", tmpdirs["ckpt"],
        http_html=True, frontier_path=frontier, robots_rules_path=rules_path,
    ).awaitTermination(120)

    counts = {r["frontier_url"]: r["n_refs"] for r in frontier_counts(spark, frontier).collect()}
    assert counts == {
        "http://example.com/keep": 1,
        "http://example.com/moved/here": 1,  # the 301 target, discovered
    }  # the 302 -> /tmp/secret target is politeness-gated out


def test_streaming_crawl_ingest_incremental_cdx(spark, tmpdirs):
    """cdx_path maintains the capture index across micro-batches:
    rows accumulate per batch, a redelivered record re-contributes
    nothing (record_id anti-join), and the indexed digest is the
    DECODED body's."""
    import hashlib

    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import encode_http_response
    from opentsdb_aura_spark.operators.htmltext import render_fixture_html
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    def rec(doc_id):
        body = render_fixture_html(doc_id, f"page {doc_id} body words").encode()
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", encode_http_response(doc_id, body),
            target_uri=f"http://example.com/doc/{doc_id}",
            content_type="application/http;msgtype=response",
        ), body

    r1, b1 = rec(1)
    r2, b2 = rec(2)
    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, r1)], file_schema).coalesce(1).write.parquet(tmpdirs["in"] + "/b1")
    # batch 2 redelivers doc-1 alongside the new doc-2
    spark.createDataFrame([(1, r1 + r2)], file_schema).coalesce(1).write.parquet(tmpdirs["in"] + "/b2")

    cdx_path = tmpdirs["out"] + "/cdx"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="http_html"):
        streaming_crawl_ingest(
            stream, tmpdirs["store"], tmpdirs["out"] + "/docs", tmpdirs["ckpt2"],
            cdx_path=cdx_path,
        )
    streaming_crawl_ingest(
        stream, tmpdirs["store"], tmpdirs["out"] + "/docs", tmpdirs["ckpt"],
        http_html=True, cdx_path=cdx_path,
    ).awaitTermination(120)

    rows = spark.read.parquet(cdx_path).collect()
    by_id = {r["record_id"]: r for r in rows}
    assert len(rows) == 2 and set(by_id) == {"urn:uuid:doc-1", "urn:uuid:doc-2"}
    assert by_id["urn:uuid:doc-1"]["digest"] == hashlib.md5(b1).hexdigest()
    assert by_id["urn:uuid:doc-1"]["urlkey"] == "http://example.com/doc/1"
    assert by_id["urn:uuid:doc-2"]["status"] == 200


def test_streaming_frontier_rank_refresh(spark, tmpdirs):
    """The authority feedback loop inside the stream: with
    rank_refresh_every, each Nth batch recomputes PageRank over the
    accumulated doc→url endorsement graph and overwrites the ranks
    table.  Ranks are a pure function of the frontier index state, so
    a redelivered (anti-joined-away) batch followed by another refresh
    leaves them byte-identical; parameter validation at the API
    boundary."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import (
        encode_http_response,
        refresh_frontier_ranks,
        update_frontier_index,
    )
    from opentsdb_aura_spark.operators.htmltext import render_fixture_html
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    def rec(doc_id):
        payload = encode_http_response(
            doc_id, render_fixture_html(doc_id, f"page {doc_id} words enough here").encode()
        )
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", payload,
            target_uri=f"http://example.com/doc/{doc_id}",
            content_type="application/http;msgtype=response",
        )

    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, rec(0) + rec(1))], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    spark.createDataFrame([(1, rec(2))], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b2"
    )
    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]
    frontier = tmpdirs["out"] + "/frontier"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    with _pytest.raises(ValueError, match="pass frontier_path too"):
        streaming_crawl_ingest(stream, idx_path, docs_path, tmpdirs["ckpt2"],
                               http_html=True, rank_refresh_every=1)
    with _pytest.raises(ValueError, match="must be >= 1"):
        streaming_crawl_ingest(stream, idx_path, docs_path, tmpdirs["ckpt2"],
                               http_html=True, frontier_path=frontier,
                               rank_refresh_every=0)
    streaming_crawl_ingest(
        stream, idx_path, docs_path, tmpdirs["ckpt"],
        http_html=True, frontier_path=frontier, rank_refresh_every=1,
    ).awaitTermination(120)

    ranks = {r["frontier_url"]: r["rank"]
             for r in spark.read.parquet(frontier + "_ranks").collect()}
    # all 3 docs endorse the same 5 chrome targets -> 5 equal-rank URLs
    assert len(ranks) == 5 and "http://example.com/about" in ranks
    vals = sorted(ranks.values())
    assert vals[-1] - vals[0] < 1e-12
    # URLs hold most of the node space's unit mass (they receive from
    # every doc; the 3 doc nodes keep only base + dangling-return mass)
    assert 0.5 < sum(vals) < 1.0

    # redelivery: re-appending an already-ingested doc's edges no-ops
    # the index, so a fresh refresh reproduces identical ranks
    update_frontier_index(
        spark.createDataFrame(
            [("http://example.com/about", 0), ("http://example.com/new", 1)],
            "frontier_url string, doc_id long",
        ),
        frontier,
    )
    refresh_frontier_ranks(spark, frontier)
    again = {r["frontier_url"]: r["rank"]
             for r in spark.read.parquet(frontier + "_ranks").collect()}
    assert again == ranks


def test_streaming_crawl_ingest_cdx_validators(spark, tmpdirs):
    """cdx_validators widens the LIVE capture index with ETag /
    Last-Modified, so conditional refetch planning runs off the
    stream's own index; the flag requires cdx_path."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import (
        conditional_fetch_plan,
        encode_http_response,
    )
    from opentsdb_aura_spark.operators.htmltext import render_fixture_html
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    def rec(doc_id, extra=()):
        payload = encode_http_response(
            doc_id,
            render_fixture_html(doc_id, f"page {doc_id} words enough here").encode(),
            extra_headers=extra,
        )
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", payload,
            target_uri=f"http://example.com/doc/{doc_id}",
            content_type="application/http;msgtype=response",
        )

    file_schema = "file_id long, content binary"
    spark.createDataFrame(
        [(0, rec(1, ('ETag: "s1"',)) + rec(2))], file_schema
    ).coalesce(1).write.parquet(tmpdirs["in"] + "/b1")
    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]
    cdx = tmpdirs["out"] + "/cdx"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    with _pytest.raises(ValueError, match="pass cdx_path too"):
        streaming_crawl_ingest(stream, idx_path, docs_path, tmpdirs["ckpt2"],
                               http_html=True, cdx_validators=True)
    streaming_crawl_ingest(
        stream, idx_path, docs_path, tmpdirs["ckpt"],
        http_html=True, cdx_path=cdx, cdx_validators=True,
    ).awaitTermination(120)

    idx = spark.read.parquet(cdx)
    plan = conditional_fetch_plan(
        idx.select("url", F.col("cdx_ts").cast("double").alias("capture_ts"),
                   "etag", "last_modified")
    )
    got = {r["url"]: (r["if_none_match"], r["conditional"]) for r in plan.collect()}
    assert got["http://example.com/doc/1"] == ('"s1"', True)
    assert got["http://example.com/doc/2"] == (None, False)

    # the flag is per-INDEX: re-attaching with cdx_validators=False to
    # an index written WITH validators must fail loudly instead of
    # appending a narrower schema that a later read/compaction would
    # silently resolve against (ADVICE r11)
    spark.createDataFrame([(1, rec(3))], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b2"
    )
    stream2 = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    q = streaming_crawl_ingest(
        stream2, idx_path, docs_path, tmpdirs["ckpt3"],
        http_html=True, cdx_path=cdx, cdx_validators=False,
    )
    with _pytest.raises(Exception, match="per-index"):
        q.awaitTermination(120)
        raise AssertionError("mismatched cdx_validators append was not rejected")


def test_streaming_crawl_ingest_xml_discovery(spark, tmpdirs):
    """The loop eats its own discoveries: a fetched XML sitemap's
    entry URLs enter the frontier through the SAME politeness gate as
    extracted links (a planted /tmp/ loc never schedules); requires
    frontier_path."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import (
        encode_http_response,
        frontier_counts,
    )
    from opentsdb_aura_spark.operators.htmltext import render_fixture_html
    from opentsdb_aura_spark.operators.robots import (
        parse_robots_files,
        synthesize_robots,
    )
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    def page_rec(doc_id):
        payload = encode_http_response(
            doc_id, render_fixture_html(doc_id, f"page {doc_id} words enough").encode()
        )
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", payload,
            target_uri=f"http://h1.example/doc/{doc_id}",
            content_type="application/http;msgtype=response",
        )

    def xml_rec(doc_id, xml, ct="application/xml", uri="http://h1.example/sitemap.xml"):
        body = xml.encode()
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ct.encode() + b"\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
        )
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", payload,
            target_uri=uri,
            content_type="application/http;msgtype=response",
        )

    sitemap = (
        '<urlset><url><loc>http://h1.example/fresh/1</loc></url>'
        "<url><loc>http://h1.example/tmp/trap</loc></url></urlset>"
    )
    # real servers mislabel: a sitemap shipped as octet-stream at an
    # .xml path must still be discovered (ADVICE r11)
    sitemap2 = "<urlset><url><loc>http://h1.example/fresh/2</loc></url></urlset>"
    file_schema = "file_id long, content binary"
    spark.createDataFrame(
        [(0, page_rec(1) + xml_rec(2, sitemap) + xml_rec(
            3, sitemap2, ct="application/octet-stream",
            uri="http://h1.example/sitemap2.xml",
        ))],
        file_schema,
    ).coalesce(1).write.parquet(tmpdirs["in"] + "/b1")

    rules_path = tmpdirs["out"] + "/rules"
    parse_robots_files(
        synthesize_robots(spark.createDataFrame([("h1.example",)], "host string"))
    ).write.parquet(rules_path)

    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]
    frontier = tmpdirs["out"] + "/frontier"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    with _pytest.raises(ValueError, match="pass frontier_path too"):
        streaming_crawl_ingest(stream, idx_path, docs_path, tmpdirs["ckpt2"],
                               http_html=True, xml_discovery=True)
    streaming_crawl_ingest(
        stream, idx_path, docs_path, tmpdirs["ckpt"],
        http_html=True, frontier_path=frontier,
        robots_rules_path=rules_path, xml_discovery=True,
    ).awaitTermination(120)

    counts = {r["frontier_url"]: r["n_refs"]
              for r in frontier_counts(spark, frontier).collect()}
    assert counts.get("http://h1.example/fresh/1") == 1      # sitemap entry in
    assert counts.get("http://h1.example/fresh/2") == 1      # mislabeled .xml admitted
    assert "http://h1.example/tmp/trap" not in counts        # politeness-gated
    assert counts.get("http://h1.example/about") == 1        # page links still flow


def test_streaming_crawl_ingest_quality_gate(spark, tmpdirs):
    """A PRETRAINED hashed-feature classifier scores each batch inline
    with ingestion: quality_model appends (doc_id, prob, keep) to the
    {docs_path}_quality sidecar without touching the docs schema."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    D = 64

    def bucket(tok):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % 1000003
        return h % D

    words = ["keepme", "alpha", "beta", "gamma"]
    assert len({bucket(w) for w in words}) == len(words)  # no collisions
    w = [0.0] * D
    w[bucket("keepme")] = 10.0
    model = {"weights": w, "bias": -5.0, "n_features": D, "binary": True}

    def rec(doc_id, text):
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", text.encode(),
            target_uri=f"http://example.com/doc/{doc_id}",
        )

    file_schema = "file_id long, content binary"
    spark.createDataFrame(
        [(0, rec(1, "keepme alpha beta") + rec(2, "alpha beta gamma"))], file_schema
    ).coalesce(1).write.parquet(tmpdirs["in"] + "/b1")
    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream, idx_path, docs_path, tmpdirs["ckpt"], quality_model=model,
    ).awaitTermination(120)

    got = {r["doc_id"]: (r["keep"], r["prob"])
           for r in spark.read.parquet(docs_path + "_quality").collect()}
    assert got[1][0] is True and got[1][1] > 0.99   # margin +5
    assert got[2][0] is False and got[2][1] < 0.01  # margin -5
    # docs table schema untouched
    assert set(spark.read.parquet(docs_path).columns) == {"doc_id", "text", "file_id"}


def test_streaming_quality_gate_matches_batch_twin(spark, tmpdirs):
    """The streaming quality sidecar and the batch twin
    (pipeline_quality_gate's scoring leg) are the SAME rule: scoring
    the ingested docs table with the identical pretrained model in
    batch reproduces the sidecar's probs and keeps byte-identically —
    no drift between the per-micro-batch path and the corpus pass."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.quality import logreg_scores
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    D = 64
    w = [((i * 37) % 11 - 5) / 7.0 for i in range(D)]  # dense, irregular
    model = {"weights": w, "bias": 0.25, "n_features": D, "binary": True}

    def rec(doc_id, text):
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", text.encode(),
            target_uri=f"http://example.com/doc/{doc_id}",
        )

    file_schema = "file_id long, content binary"
    spark.createDataFrame(
        [
            (0, rec(1, "alpha beta gamma delta") + rec(2, "the quick brown fox")),
            (1, rec(3, "lorem ipsum dolor sit amet") + rec(4, "x")),
        ],
        file_schema,
    ).coalesce(1).write.parquet(tmpdirs["in"] + "/b1")
    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream, idx_path, docs_path, tmpdirs["ckpt"],
        quality_model=model, quality_threshold=0.6,
    ).awaitTermination(120)

    sidecar = {
        r["doc_id"]: (r["prob"], r["keep"])
        for r in spark.read.parquet(docs_path + "_quality").collect()
    }
    batch = logreg_scores(
        spark.read.parquet(docs_path).select("doc_id", "text"),
        list(model["weights"]), float(model["bias"]),
        n_features=D, binary=True,
    )
    twin = {
        r["doc_id"]: (r["prob"], bool(r["prob"] >= 0.6))
        for r in batch.collect()
    }
    assert set(sidecar) == {1, 2, 3, 4} and sidecar == twin  # byte-identical


def test_streaming_lang_gate_matches_batch_twin(spark, tmpdirs):
    """The pretrained one-vs-rest lang-id scores each batch inline:
    lang_models appends (doc_id, pred_lang) to the {docs_path}_lang
    sidecar, and scoring the ingested docs table with the identical
    models in batch (text_lang_id_trained's scoring pass) reproduces
    the predictions byte-identically."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.quality import (
        hashed_char_ngram_features,
        ovr_logreg_scores,
        train_ovr_logreg_weights,
    )
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    D = 64
    seed_rows = []
    for i in range(20):
        lang = "de" if i % 2 == 0 else "en"
        marker = "der die und ist das" if lang == "de" else "the and of to is"
        seed_rows.append((i, lang, f"filler words here {marker}"))
    seed = spark.createDataFrame(seed_rows, "doc_id long, lang string, text string")
    feats = hashed_char_ngram_features(seed, n=3, n_features=D)
    models = train_ovr_logreg_weights(
        feats, seed.select("doc_id", "lang"), classes=["de", "en"],
        n_features=D, lr=10.0, n_iter=6, center=True,
    )

    def rec(doc_id, text):
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", text.encode(),
            target_uri=f"http://example.com/doc/{doc_id}",
        )

    file_schema = "file_id long, content binary"
    spark.createDataFrame(
        [(0, rec(1, "neue seite der die und ist das") + rec(2, "new page the and of to is"))],
        file_schema,
    ).coalesce(1).write.parquet(tmpdirs["in"] + "/b1")
    docs_path, idx_path = tmpdirs["out"] + "/docs", tmpdirs["store"]
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream, idx_path, docs_path, tmpdirs["ckpt"],
        lang_models={"models": models, "n_features": D, "n": 3},
    ).awaitTermination(120)

    sidecar = {
        r["doc_id"]: r["pred_lang"]
        for r in spark.read.parquet(docs_path + "_lang").collect()
    }
    assert sidecar == {1: "de", 2: "en"}  # planted languages recovered
    ingested = spark.read.parquet(docs_path).select("doc_id", "text")
    twin = {
        r["doc_id"]: r["pred_lang"]
        for r in ovr_logreg_scores(
            hashed_char_ngram_features(ingested, n=3, n_features=D),
            models, ingested.select("doc_id"), n_features=D,
        ).collect()
    }
    assert sidecar == twin  # byte-identical to the batch scoring pass
    # docs table schema untouched by the sidecar
    assert set(spark.read.parquet(docs_path).columns) == {"doc_id", "text", "file_id"}


def test_streaming_quality_lang_sidecars_redelivery_idempotent(spark, tmpdirs):
    """A replayed record must not duplicate sidecar rows: batch 2
    redelivers doc-1 alongside the new doc-2, and both the quality
    and lang sidecars end with exactly ONE row per doc_id (anti-join
    on the existing sidecar — the minhash/cdx/frontier redelivery
    discipline, VERDICT r13 item 4).  The scores themselves stay
    byte-identical to the batch twins."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.quality import (
        hashed_char_ngram_features,
        logreg_scores,
        ovr_logreg_scores,
        train_ovr_logreg_weights,
    )
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    D = 64
    seed_rows = []
    for i in range(20):
        lang = "de" if i % 2 == 0 else "en"
        marker = "der die und ist das" if lang == "de" else "the and of to is"
        seed_rows.append((i, lang, f"filler words here {marker}"))
    seed = spark.createDataFrame(seed_rows, "doc_id long, lang string, text string")
    models = train_ovr_logreg_weights(
        hashed_char_ngram_features(seed, n=3, n_features=D),
        seed.select("doc_id", "lang"), classes=["de", "en"],
        n_features=D, lr=10.0, n_iter=6, center=True,
    )
    w = [((i * 37) % 11 - 5) / 7.0 for i in range(D)]
    qmodel = {"weights": w, "bias": 0.25, "n_features": D, "binary": True}

    def rec(doc_id, text):
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", text.encode(),
            target_uri=f"http://example.com/doc/{doc_id}",
        )

    r1 = rec(1, "neue seite der die und ist das")
    r2 = rec(2, "new page the and of to is")
    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, r1)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    # batch 2 REDELIVERS doc-1 alongside the new doc-2
    spark.createDataFrame([(1, r1 + r2)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b2"
    )
    docs_path = tmpdirs["out"] + "/docs"
    # maxFilesPerTrigger=1 forces b1 and b2 into SEPARATE micro-batches
    # so the cross-batch anti-join is genuinely exercised (without it
    # availableNow folds both files into one trigger, which only tests
    # the in-batch distinct)
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmpdirs["in"] + "/*")
    )
    streaming_crawl_ingest(
        stream, tmpdirs["store"], docs_path, tmpdirs["ckpt"],
        quality_model=qmodel, quality_threshold=0.6,
        lang_models={"models": models, "n_features": D, "n": 3},
    ).awaitTermination(120)

    qrows = spark.read.parquet(docs_path + "_quality").collect()
    lrows = spark.read.parquet(docs_path + "_lang").collect()
    assert sorted(r["doc_id"] for r in qrows) == [1, 2]  # no duplicates
    assert sorted(r["doc_id"] for r in lrows) == [1, 2]
    assert {r["doc_id"]: r["pred_lang"] for r in lrows} == {1: "de", 2: "en"}
    # the docs table itself keeps at-least-once appends (doc-1 twice);
    # the sidecars are the deduped surface
    ingested = spark.read.parquet(docs_path).select("doc_id", "text").distinct()
    twin_q = {
        r["doc_id"]: (r["prob"], bool(r["prob"] >= 0.6))
        for r in logreg_scores(
            ingested, w, 0.25, n_features=D, binary=True
        ).collect()
    }
    assert {r["doc_id"]: (r["prob"], r["keep"]) for r in qrows} == twin_q
    twin_l = {
        r["doc_id"]: r["pred_lang"]
        for r in ovr_logreg_scores(
            hashed_char_ngram_features(ingested, n=3, n_features=D),
            models, ingested.select("doc_id"), n_features=D,
        ).collect()
    }
    assert {r["doc_id"]: r["pred_lang"] for r in lrows} == twin_l


def test_streaming_lang_sidecar_scores_in_trigger_duplicate_once(spark, tmpdirs):
    """A doc delivered twice in ONE trigger scores once in the lang
    sidecar.  hashed_char_ngram_features de-duplicates buckets per
    row, not per doc_id, so featurizing both copies would double the
    doc's dot product: "abcdefgh" hits 6 of D=16 buckets, the batch
    twin gives margin_a = 0.6 < margin_b = 1.0 (pred 'b'), the doubled
    features margin_a = 1.2 (pred 'a').  The sidecar must match the
    twin."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.quality import (
        hashed_char_ngram_features,
        ovr_logreg_scores,
    )
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    D = 16
    models = {"a": ([0.1] * D, 0.0), "b": ([0.0] * D, 1.0)}
    rec = C.encode_warc_record(
        "response", "urn:uuid:doc-1", b"abcdefgh",
        target_uri="http://example.com/doc/1",
    )
    file_schema = "file_id long, content binary"
    # one WARC file carrying doc-1 twice: both copies land in one trigger
    spark.createDataFrame([(0, rec + rec)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    docs_path = tmpdirs["out"] + "/docs"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    streaming_crawl_ingest(
        stream, tmpdirs["store"], docs_path, tmpdirs["ckpt"],
        lang_models={"models": models, "n_features": D, "n": 3},
    ).awaitTermination(120)

    ingested = spark.read.parquet(docs_path).select("doc_id", "text")
    assert ingested.count() == 2  # the docs table keeps both deliveries
    spine = ingested.distinct()
    twin = ovr_logreg_scores(
        hashed_char_ngram_features(spine, n=3, n_features=D),
        models, spine.select("doc_id"), n_features=D,
    ).collect()
    assert [(r["doc_id"], r["margin_b"], r["pred_lang"]) for r in twin] == [(1, 1.0, "b")]
    assert twin[0]["margin_a"] == pytest.approx(0.6)
    sidecar = spark.read.parquet(docs_path + "_lang").collect()
    assert [(r["doc_id"], r["pred_lang"]) for r in sidecar] == [(1, "b")]


def test_streaming_gates_consume_persisted_models(spark, tmpdirs):
    """The streaming quality/lang gates consume PERSISTED model dims
    (quality_model_path / lang_models_path — the ovr_model_save
    Parquet schema): a stream started from the saved artifacts
    produces sidecars byte-identical to the in-memory-dict batch
    twins — train once, ship the artifact, score everywhere.
    Parameter validation at the boundary."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.artifacts import ovr_model_save
    from opentsdb_aura_spark.operators.quality import (
        hashed_char_ngram_features,
        logreg_scores,
        ovr_logreg_scores,
        train_ovr_logreg_weights,
    )
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    D = 64
    seed_rows = []
    for i in range(20):
        lang = "de" if i % 2 == 0 else "en"
        marker = "der die und ist das" if lang == "de" else "the and of to is"
        seed_rows.append((i, lang, f"filler words here {marker}"))
    seed = spark.createDataFrame(seed_rows, "doc_id long, lang string, text string")
    models = train_ovr_logreg_weights(
        hashed_char_ngram_features(seed, n=3, n_features=D),
        seed.select("doc_id", "lang"), classes=["de", "en"],
        n_features=D, lr=10.0, n_iter=6, center=True,
    )
    w = [((i * 37) % 11 - 5) / 7.0 for i in range(D)]
    qpath = tmpdirs["dim"] + "/qmodel"
    lpath = tmpdirs["dim"] + "/lmodel"
    ovr_model_save(spark, {"keep": (w, 0.25)}, qpath)
    ovr_model_save(spark, models, lpath)

    def rec(doc_id, text):
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", text.encode(),
            target_uri=f"http://example.com/doc/{doc_id}",
        )

    file_schema = "file_id long, content binary"
    spark.createDataFrame(
        [(0, rec(1, "neue seite der die und ist das") + rec(2, "new page the and of to is"))],
        file_schema,
    ).coalesce(1).write.parquet(tmpdirs["in"] + "/b1")
    docs_path = tmpdirs["out"] + "/docs"
    stream = spark.readStream.schema(file_schema).parquet(tmpdirs["in"] + "/*")
    with _pytest.raises(ValueError, match="not both"):
        streaming_crawl_ingest(
            stream, tmpdirs["store"], docs_path, tmpdirs["ckpt2"],
            quality_model={"weights": w, "bias": 0.25, "n_features": D},
            quality_model_path=qpath,
        )
    with _pytest.raises(ValueError, match="exactly"):
        streaming_crawl_ingest(
            stream, tmpdirs["store"], docs_path, tmpdirs["ckpt2"],
            quality_model_path=lpath,  # two classes: not a binary model
        )
    streaming_crawl_ingest(
        stream, tmpdirs["store"], docs_path, tmpdirs["ckpt"],
        quality_model_path=qpath, quality_threshold=0.6,
        lang_models_path=lpath,
    ).awaitTermination(120)

    ingested = spark.read.parquet(docs_path).select("doc_id", "text")
    twin_q = {
        r["doc_id"]: (r["prob"], bool(r["prob"] >= 0.6))
        for r in logreg_scores(
            ingested, w, 0.25, n_features=D, binary=True
        ).collect()
    }
    got_q = {
        r["doc_id"]: (r["prob"], r["keep"])
        for r in spark.read.parquet(docs_path + "_quality").collect()
    }
    assert got_q == twin_q  # byte-identical through the Parquet model
    twin_l = {
        r["doc_id"]: r["pred_lang"]
        for r in ovr_logreg_scores(
            hashed_char_ngram_features(ingested, n=3, n_features=D),
            models, ingested.select("doc_id"), n_features=D,
        ).collect()
    }
    got_l = {
        r["doc_id"]: r["pred_lang"]
        for r in spark.read.parquet(docs_path + "_lang").collect()
    }
    assert got_l == twin_l == {1: "de", 2: "en"}


def test_streaming_kn_ppl_gate_consumes_persisted_tower(spark, tmpdirs):
    """kn_model_path: the stream scores each batch against a
    PERSISTED modified-KN tower (lm_kn_save output), appending
    (doc_id, n_ngrams, avg_logprob) to {docs_path}_ppl — byte-
    identical to scoring the ingested docs with the loaded model in
    batch, OOV docs finite through the backoff, redelivered records
    appending nothing (same anti-join as the other sidecars)."""
    import math

    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.quality import (
        lm_kn_fit,
        lm_kn_load,
        lm_kn_save,
        lm_kn_score,
    )
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    train = spark.createDataFrame(
        [(100, "a b c a b d a b c d"), (101, "c d e c d a b e"),
         (102, "e a b e c d a b")],
        "doc_id long, text string",
    )
    kn_path = tmpdirs["dim"] + "/kn2"
    lm_kn_save(lm_kn_fit(train, order=2), kn_path)

    def rec(doc_id, text):
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", text.encode(),
            target_uri=f"http://example.com/doc/{doc_id}",
        )

    r1 = rec(1, "a b c d")
    r2 = rec(2, "zz qq a b")  # OOV-heavy: unknown floor exercised
    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, r1)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    # second trigger REDELIVERS doc-1 alongside the OOV doc-2
    spark.createDataFrame([(1, r1 + r2)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b2"
    )
    docs_path = tmpdirs["out"] + "/docs"
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmpdirs["in"] + "/*")
    )
    streaming_crawl_ingest(
        stream, tmpdirs["store"], docs_path, tmpdirs["ckpt"],
        kn_model_path=kn_path,
    ).awaitTermination(120)

    rows = spark.read.parquet(docs_path + "_ppl").collect()
    got = {r["doc_id"]: (r["n_ngrams"], r["avg_logprob"]) for r in rows}
    assert sorted(r["doc_id"] for r in rows) == [1, 2]  # replay appended nothing
    assert all(math.isfinite(v[1]) and v[1] < 0 for v in got.values())
    ingested = (
        spark.read.parquet(docs_path)
        .select("doc_id", "text")
        .dropDuplicates(["doc_id"])
    )
    twin = {
        r["doc_id"]: (r["n_ngrams"], r["avg_logprob"])
        for r in lm_kn_score(lm_kn_load(spark, kn_path), ingested).collect()
    }
    assert got == twin  # byte-identical to the batch scoring pass


def test_streaming_countmin_matches_batch_sketch(spark, tmpdirs):
    """countmin_sketch is a narrow projection + sum-groupBy, so the
    SAME operator body runs on a streaming frame unchanged — Spark's
    native stateful aggregation maintains the counters across
    micro-batches (partial aggregation IS the per-shard sketch merge).
    Draining two file micro-batches in complete mode must equal the
    single-pass batch sketch bit-for-bit."""
    from opentsdb_aura_spark.operators.sketch import countmin_sketch

    rows1 = [(f"k{i % 37}",) for i in range(400)]
    rows2 = [(f"k{(i * 7) % 53}",) for i in range(300)]
    spark.createDataFrame(rows1, "item string").coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    spark.createDataFrame(rows2, "item string").coalesce(1).write.parquet(
        tmpdirs["in"] + "/b2"
    )

    stream = spark.readStream.schema("item string").option(
        "maxFilesPerTrigger", 1
    ).parquet(tmpdirs["in"] + "/*")
    q = (
        countmin_sketch(stream, "item", depth=4, width=32)
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .option("checkpointLocation", tmpdirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.j, r.slot): r.cnt for r in spark.sql("SELECT * FROM cms_stream").collect()
    }
    batch = spark.createDataFrame(rows1 + rows2, "item string")
    want = {
        (r.j, r.slot): r.cnt
        for r in countmin_sketch(batch, "item", depth=4, width=32).collect()
    }
    assert got == want


def test_streaming_dup_screen_consumes_persisted_index(spark, tmpdirs):
    """dup_index_path: the stream screens each batch against a
    PERSISTED duplicate-gram index (suffix.build_dup_index output),
    appending (doc_id, n_hit_positions, covered_chars, dup_frac) to
    {docs_path}_dup — byte-identical to probing the ingested docs
    with the loaded index in batch, clean docs absent, and a
    redelivered record appending nothing (the sidecar anti-join)."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.suffix import build_dup_index, probe_dup_index
    from opentsdb_aura_spark.streaming.state import streaming_crawl_ingest

    shared = "the quick brown fox jumps over"
    corpus = spark.createDataFrame(
        [(100, shared + " xqz"), (101, "kkk " + shared)],
        "doc_id long, text string",
    )
    idx_path = tmpdirs["dim"] + "/dup_idx"
    build_dup_index(corpus, min_len=20, cap=40, init_prefix=4).write.parquet(idx_path)

    def rec(doc_id, text):
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", text.encode(),
            target_uri=f"http://example.com/doc/{doc_id}",
        )

    r1 = rec(1, "prefix words " + shared + " suffix")
    r2 = rec(2, "completely novel text with no quoted span at all")
    file_schema = "file_id long, content binary"
    spark.createDataFrame([(0, r1)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b1"
    )
    # second trigger REDELIVERS doc-1 alongside the clean doc-2
    spark.createDataFrame([(1, r1 + r2)], file_schema).coalesce(1).write.parquet(
        tmpdirs["in"] + "/b2"
    )
    docs_path = tmpdirs["out"] + "/docs"
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmpdirs["in"] + "/*")
    )
    streaming_crawl_ingest(
        stream, tmpdirs["store"], docs_path, tmpdirs["ckpt"],
        dup_index_path=idx_path,
    ).awaitTermination(120)

    rows = spark.read.parquet(docs_path + "_dup").collect()
    # exactly one row: doc 1 once (replay appended nothing), doc 2 clean
    assert [r["doc_id"] for r in rows] == [1]
    got = (rows[0]["n_hit_positions"], rows[0]["covered_chars"], rows[0]["dup_frac"])

    batch = probe_dup_index(
        spark.read.parquet(docs_path).select("doc_id", "text").dropDuplicates(["doc_id"]),
        spark.read.parquet(idx_path),
        min_len=20,
    ).collect()
    assert len(batch) == 1 and batch[0]["doc_id"] == 1
    assert got == (
        batch[0]["n_hit_positions"], batch[0]["covered_chars"], batch[0]["dup_frac"]
    )
    assert got[0] == 11 and got[1] == 30
