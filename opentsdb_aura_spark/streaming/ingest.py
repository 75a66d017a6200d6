"""Streaming ingest pipeline (S1/S2 + T1-T4 + W2).

Reference behavior re-expressed on Structured Streaming:

- S1 ingest: Kafka/Pulsar consumer → shard queue
  (opentsdb/.../AuraMetricsService.java:150-154).  Here: any
  ``readStream`` source (kafka/file/socket) parsed to the point
  schema; the "shard" is the hash partitioning Spark applies on write.
- T1 late-data drop: points older than retention vs wall clock are
  dropped and counted (core/.../BaseStorage.java:106-114).  Spark:
  event-time watermark — rows later than the watermark are dropped by
  the engine; we additionally filter + count explicitly so the policy
  also applies in foreachBatch (watermarks only gate stateful ops).
- T2 early-data drop: future timestamps dropped
  (BaseStorage.java:116-124).
- S2 point write: normalize (series_id, segment_time) → per-batch
  last-write-wins dedupe → append through the store's one writer
  (``sources.batch.write_metrics_store``: files sorted by
  (series_id, ts), series_id bloom filter).
- W2 last-value state: series_dim merged per batch with
  max_by(last_ts/value) — the streaming analogue of the per-series
  lastTimestamp/lastValue fields
  (core/.../OffHeapTimeSeriesRecord.java:109-127).
- T3 retention purge: drop partitions older than retention
  (TimeSeriesShard.java:446-645 purge job → partition expiry).
- T4 window-close rollup: streaming windowed aggregation with
  watermark in append mode — windows emit once closed
  (TimeSeriesShard flush → rollup on segment close).  The rollup and
  HLL presence windows aggregate with ``build_rollup``'s and
  ``build_presence_hll``'s own aggregates through one window-close
  tail, so a streamed window row equals the batch row.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.model import normalize_points
from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins
from opentsdb_aura_spark.operators.meta import build_presence_hll, build_series_dim, presence_hll_partials
from opentsdb_aura_spark.operators.rollup import rollup_partials
from opentsdb_aura_spark.sources.batch import write_metrics_store


@dataclass
class IngestStats:
    """Per-batch drop accounting (the reference counts late/early
    drops per shard)."""

    batches: int = 0
    appended: int = 0
    dropped_late: int = 0
    dropped_early: int = 0
    dropped_invalid: int = 0  # NULL-ts rows: neither late nor early


@dataclass
class StreamingIngest:
    store_path: str
    dim_path: str
    retention_seconds: int = 24 * 3600
    early_slack_seconds: int = 0
    segment_width: int = 7200
    #: series-dim hash-partition count: a micro-batch touching k series
    #: rewrites at most min(k, dim_buckets) partitions, so the per-batch
    #: dim-merge cost is O(batch), not O(all series)
    dim_buckets: int = 64
    #: optional HLL presence sidecar: when set, each batch APPENDS its
    #: per-(metric, epoch) distinct-series sketches here.  Append-only
    #: is correct because the read path
    #: (meta.cardinality_from_presence_hll) unions sketches per epoch
    #: anyway — duplicate epoch rows from different batches merge at
    #: query time, no read-modify-write needed at ingest
    presence_hll_path: str | None = None
    presence_hll_epoch_width: int = 3600
    #: wall-clock source, injectable for tests
    now_fn: object = field(default=None)
    stats: IngestStats = field(default_factory=IngestStats)

    def _now(self) -> int:
        import time

        return int(self.now_fn()) if self.now_fn else int(time.time())

    # ---------------------------------------------------------------- write path

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: validity windows → normalize → dedupe →
        append to store; merge series_dim."""
        now = self._now()
        lo = now - self.retention_seconds
        hi = now + self.early_slack_seconds

        # single-pass accounting: one aggregate job computes all three
        # drop counters (the old three count() actions recomputed the
        # batch source 3×)
        c = batch_df.agg(
            F.count(F.lit(1)).alias("total"),
            F.count_if(F.col("ts") < F.lit(lo)).alias("late"),
            F.count_if(F.col("ts") > F.lit(hi)).alias("early"),
            # count what the write ACTUALLY keeps: NULL-ts rows are
            # neither late nor early under three-valued logic, and
            # total-late-early would claim them as appended
            F.count_if((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))).alias("valid"),
        ).first()
        n_valid = c["valid"]
        self.stats.batches += 1
        self.stats.appended += n_valid
        self.stats.dropped_late += c["late"]
        self.stats.dropped_early += c["early"]
        self.stats.dropped_invalid += c["total"] - c["valid"] - c["late"] - c["early"]
        if n_valid == 0:
            return
        valid = batch_df.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))

        pts = dedupe_last_write_wins(normalize_points(valid, width=self.segment_width))
        write_metrics_store(pts, self.store_path, mode="append")
        self._merge_dim(pts)
        if self.presence_hll_path:
            build_presence_hll(
                pts, self.presence_hll_epoch_width, group_cols=("metric",)
            ).write.mode("append").parquet(self.presence_hll_path)

    def _merge_dim(self, new_points: DataFrame) -> None:
        """W2 — upsert last_ts/last_value/first_seen per series.

        The dim table is hash-partitioned on ``dim_bucket =
        pmod(series_id, dim_buckets)``; a batch only reads and rewrites
        the buckets its series fall into (partition-pruned read +
        dynamic partition overwrite), so per-batch cost is O(batch
        series × table/bucket fraction), not O(all series).  Dynamic
        overwrite also never removes the table root, so concurrent
        readers always see a complete table (no rmtree/rename window).
        On Delta/Iceberg this whole method is a single MERGE.
        """
        spark = new_points.sparkSession
        bucket = F.pmod(F.col("series_id"), F.lit(int(self.dim_buckets))).cast("int")
        batch_dim = build_series_dim(new_points).withColumn("dim_bucket", bucket)
        # bounded collect: at most dim_buckets values (metadata-scale)
        affected = [r["dim_bucket"] for r in batch_dim.select("dim_bucket").distinct().collect()]
        # dynamic partition overwrite commits per-partition (no root
        # _SUCCESS marker): detect an existing table by its partitions
        has_dim = os.path.isdir(self.dim_path) and any(
            e.startswith("dim_bucket=") for e in os.listdir(self.dim_path)
        )
        if has_dim:
            old = spark.read.parquet(self.dim_path).where(F.col("dim_bucket").isin(affected))
            merged = (
                old.unionByName(batch_dim)
                .groupBy("series_id")
                .agg(
                    F.first("namespace").alias("namespace"),
                    F.first("metric").alias("metric"),
                    F.first("tags").alias("tags"),
                    F.min("first_seen").alias("first_seen"),
                    F.max("last_ts").alias("last_ts"),
                    # (last_ts, last_seq) tiebreak: a same-ts rewrite in a
                    # later batch carries a higher ingest_seq and must win
                    # (the store's LWW rule); last_ts alone ties
                    # nondeterministically
                    F.max_by("last_value", F.struct(F.col("last_ts"), F.col("last_seq"))).alias("last_value"),
                    F.max_by("last_seq", F.struct(F.col("last_ts"), F.col("last_seq"))).alias("last_seq"),
                    F.first("dim_bucket").alias("dim_bucket"),
                )
            )
        else:
            merged = batch_dim
        self._overwrite_buckets(merged, len(affected))

    def _overwrite_buckets(self, dim: DataFrame, n_buckets: int) -> None:
        """Rewrite exactly the dim buckets present in ``dim`` (dynamic
        partition overwrite, one task per bucket); the others stay."""
        (
            dim.repartition(max(n_buckets, 1), "dim_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dim_bucket")
            .parquet(self.dim_path)
        )

    # ---------------------------------------------------------------- queries/jobs

    def start(self, stream_points: DataFrame, checkpoint: str, trigger_available_now: bool = True):
        """Attach the pipeline to a streaming point DataFrame
        (columns: namespace, metric, tags, ts, value[, ingest_seq])."""
        writer = (
            stream_points.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def purge_expired(self) -> list[int]:
        """T3 — drop store partitions entirely older than retention
        (with the reference's slack built into retention choice).
        Returns the purged segment_time values."""
        if not os.path.isdir(self.store_path):
            return []
        cutoff = self._now() - self.retention_seconds
        purged = []
        for entry in os.listdir(self.store_path):
            if not entry.startswith("segment_time="):
                continue
            seg = int(entry.split("=", 1)[1])
            if seg + self.segment_width <= cutoff:
                shutil.rmtree(os.path.join(self.store_path, entry))
                purged.append(seg)
        return sorted(purged)


    def purge_idle_series(self) -> int:
        """T3 — delete series idle longer than retention + one segment
        width (the reference's PurgeJob removes the series record and
        its meta once no live segment references it,
        TimeSeriesShard.java:446-645; the +1-segment slack mirrors its
        "idle > retention + 1 segment" rule).  The dim's ``last_ts`` IS
        the refcount proxy: after purge_expired has dropped every
        segment that could hold the series' points, nothing references
        it.  Only dim buckets containing idle rows are rewritten
        (partition-pruned read, dynamic partition overwrite); buckets
        whose every series is idle are removed outright.  Returns the
        number of series removed."""
        from pyspark.sql import SparkSession

        if not os.path.isdir(self.dim_path):
            return 0
        spark = SparkSession.getActiveSession()
        cutoff = self._now() - self.retention_seconds - self.segment_width
        dim = spark.read.parquet(self.dim_path)
        idle = F.col("last_ts") < F.lit(int(cutoff))
        # bounded collects: at most dim_buckets rows each (metadata-scale)
        affected = {
            r["dim_bucket"]
            for r in dim.where(idle).select("dim_bucket").distinct().collect()
        }
        if not affected:
            return 0
        in_affected = dim.where(F.col("dim_bucket").isin(list(affected)))
        removed = in_affected.where(idle).count()
        survivors = in_affected.where(~idle)
        surviving_buckets = {
            r["dim_bucket"]
            for r in survivors.select("dim_bucket").distinct().collect()
        }
        if surviving_buckets:
            self._overwrite_buckets(survivors, len(surviving_buckets))
        # dynamic overwrite never touches partitions absent from the
        # output — fully-idle buckets must be dropped explicitly
        for bucket in affected - surviving_buckets:
            shutil.rmtree(os.path.join(self.dim_path, f"dim_bucket={bucket}"), ignore_errors=True)
        return removed


def _window_close(
    stream_points: DataFrame, width: int, watermark: str, keys: list[str], start_col: str, aggregate
) -> DataFrame:
    """The one watermark/window-close tail: tumbling event-time windows
    of ``width`` seconds over ``ts``, emitted once the watermark passes
    (append mode), aggregated by ``aggregate(frame, keys)`` — the batch
    builder's own aggregate, so a window row equals the batch row over
    the same points.  → (keys…, start_col = window start, aggregates…)."""
    timed = stream_points.withColumn("event_time", F.col("ts").cast("timestamp")).withWatermark(
        "event_time", watermark
    )
    rows = aggregate(timed, [*keys, F.window("event_time", f"{int(width)} seconds").alias("w")])
    return rows.select(
        *keys,
        F.unix_timestamp(F.col("w.start")).cast("long").alias(start_col),
        *rows.columns[len(keys) + 1:],
    )


def streaming_rollup(
    stream_points: DataFrame,
    interval_seconds: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """T4 — window-close rollup: ``build_rollup``'s NaN-skipping
    partials per (series_id, window), emitted once the watermark
    passes.  Equivalent of the flush-time DownSampler chain,
    continuously."""
    return _window_close(stream_points, interval_seconds, watermark, ["series_id"], "window_start", rollup_partials)


def streaming_presence_hll(
    stream_points: DataFrame,
    epoch_width: int = 3600,
    watermark: str = "1 hour",
    *,
    group_col: str = "metric",
    id_col: str = "series_id",
    lg_k: int = 12,
) -> DataFrame:
    """T4/T6 — window-close HLL presence flush: the streaming twin of
    the batch ``meta.build_presence_hll`` rollup.  Tumbling event-time
    windows emit one DataSketches HLL sketch of distinct ``id_col``
    per (group, window) once the watermark passes; appended to the
    ``presence_hll_*`` table they keep range-cardinality queries
    (``meta.cardinality_from_presence_hll``) current without any
    batch re-distinct — the sketches from ingest merge with the ones
    already at rest via ``hll_union_agg``."""
    return _window_close(
        stream_points, epoch_width, watermark, [group_col], "epoch",
        lambda df, keys: presence_hll_partials(df, keys, id_col=id_col, lg_k=lg_k),
    )


POINT_JSON_SCHEMA = (
    "namespace string, metric string, tags map<string,string>, "
    "ts long, value double"
)


def parse_kafka_points(kafka_df: DataFrame) -> DataFrame:
    """S1 — parse a Kafka stream (key/value binary) into the canonical
    point schema: JSON payloads like
    ``{"namespace":..,"metric":..,"tags":{..},"ts":..,"value":..}``.

    Works on any DataFrame with a binary/string ``value`` column, so
    the parse logic is unit-testable without a broker; attach with
    ``spark.readStream.format("kafka")...load()`` in production.
    Kafka's (partition, offset) pair supplies the arrival order for
    last-write-wins dedupe.
    """
    parsed = kafka_df.select(
        F.from_json(F.col("value").cast("string"), POINT_JSON_SCHEMA).alias("p"),
        (F.col("partition").cast("long") * F.lit(1 << 40) + F.col("offset")).alias("ingest_seq")
        if "offset" in kafka_df.columns
        else F.monotonically_increasing_id().alias("ingest_seq"),
    )
    return parsed.select("p.namespace", "p.metric", "p.tags", "p.ts", "p.value", "ingest_seq").where(
        F.col("metric").isNotNull() & F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
