"""Batch ingest: normalized points → time-partitioned Parquet store.

The Spark analogue of the reference's write path (S2/S5): points are
normalized (series_id, segment_time), de-duplicated last-write-wins,
sorted within partitions by (series_id, ts), and landed as Parquet
partitioned by ``segment_time`` — the 2-hour segment ring becomes the
partition directory layout, so time-range predicates prune segments
exactly like the reference's segment planning
(core/.../LongRunningStorage.java:66-93), and per-series reads stay
row-group-local thanks to the sort (the reference's flush rewrite
dedupes/sorts the same way, core/.../TSFlusherImp.java:374-405).

At 100 TB the same layout holds: partition = (segment_time[, namespace]),
files sized by ``spark.sql.files.maxPartitionBytes``, and the writer
adds ``repartition(n, segment_time, pmod(series_id, k))`` so each
partition lands k co-sorted files of bounded size.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from opentsdb_aura_spark.model import any_ts_to_epoch_seconds, events_as_points, normalize_points
from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins
from opentsdb_aura_spark.operators.meta import build_series_dim

STORE_ROOT = os.environ.get("SPARK_GRAFT_STORE", "/tmp/opentsdb_aura_store")

#: partition width for the events-derived store: the test data is
#: sparse (~3 points/s across all series), so daily partitions give
#: well-sized files; a dense 1 s-resolution deployment would use the
#: reference's 2 h segments.  The width is recorded next to the store
#: so query planning prunes with the right granularity.
EVENT_STORE_SEGMENT_WIDTH = 86400

#: bump when the store layout/schema changes — stale caches rebuild
STORE_LAYOUT_VERSION = 14  # v14: events carry parent_id links; v13: writer sort leads with segment_time


def _store_version_tag(sf_dir: str) -> str:
    """Layout version + source fingerprint: a regenerated
    events.parquet invalidates the cached store even when the code
    layout is unchanged.  Nanosecond mtimes (same-second regeneration
    still differs), and for a parquet DIRECTORY the fingerprint covers
    the contained data files (name+size+mtime_ns) — an in-place
    rewrite inside the directory changes the tag even when the
    directory entry's own mtime does not."""
    src = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(src)
        if os.path.isdir(src):
            parts = []
            for name in sorted(os.listdir(src)):
                try:
                    fst = os.stat(os.path.join(src, name))
                    parts.append(f"{name}:{fst.st_size}:{fst.st_mtime_ns}")
                except OSError:
                    continue
            import hashlib

            fp = hashlib.md5(";".join(parts).encode()).hexdigest()[:16]
        else:
            fp = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        fp = "nosrc"
    return f"{STORE_LAYOUT_VERSION}:{fp}"


#: expected-NDV hint for the parquet bloom filters on probe-key
#: columns (~80 KB/filter at the default 1% FPP).  A production
#: deployment sizes this to its per-file distinct-key count; the
#: filters close the point-lookup gap the reference serves with its
#: RoaringBitmap doc index (NewDocStore.java:779-828) — row-group
#: stats prune RANGES, blooms prune individual groups for selective
#: `series_id IN (...)` / band-key probes that land inside a range.
BLOOM_NDV = None  # adaptive sizing by default — see bloom_options


def bloom_options(writer, *cols, ndv: int | None = BLOOM_NDV, plain_encoding: tuple = ()):
    """Attach parquet bloom-filter write options for ``cols`` to a
    DataFrameWriter (shared by the metrics store and the incremental
    index writers).

    parquet-mr only materializes a bloom once the column chunk stops
    being fully dictionary-encoded (a dictionary already IS an exact
    row-group filter), so low-NDV chunks (few series per file, 16-bit
    band keys) carry a dictionary instead and the bloom self-activates
    exactly when NDV outgrows the dictionary page — the 100 TB case.
    For keys that are UNIQUE PER ROW by construction (``vec_id``),
    dictionary encoding is pure overhead; list them in
    ``plain_encoding`` to force plain pages so the bloom always
    materializes.

    Adaptive sizing (round 9): by default NO expected NDV is written —
    an explicit per-column NDV makes parquet-mr build a FIXED-size
    bloom and bypass the adaptive candidate builder, and the old
    64 Ki default measured ~20% false positives on 200 k-distinct
    segment files (no rejection power; foreign-probe positives drop
    11/56 → ~1/56 once adaptive sizing from the chunk's actual
    distinct count takes over — tools/index_maintenance_bench.py).
    Pass ``ndv`` only when the writer genuinely knows a better bound
    than the data (e.g. tiny fixed-cardinality keys)."""
    writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
    for c in cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if ndv is not None:
            writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv)))
    for c in plain_encoding:
        writer = writer.option(f"parquet.enable.dictionary#{c}", "false")
    return writer


def write_metrics_store(
    points: DataFrame, path: str, files_per_partition: int = 1, reshuffle: bool = True, mode: str = "overwrite"
) -> None:
    """Land normalized (and already deduped) points, partitioned by
    segment_time, sorted within files by (series_id, ts), with a
    parquet bloom filter on ``series_id`` (point-lookup pruning for
    selective series scans — the sort gives row-group MIN/MAX ranges,
    the bloom rejects groups whose range covers a probed id that is
    not actually present).

    ``reshuffle=True`` repartitions by segment value (one full, sorted
    file per partition × files_per_partition, salted by series) — best
    file layout, costs an extra exchange.  ``reshuffle=False`` writes
    from the input's existing partitioning (e.g. straight out of the
    dedupe shuffle) — ~1.6× faster ingest, more files per partition;
    the right default when a compaction pass follows anyway.

    ``mode="append"`` adds files beside the existing ones (streaming
    micro-batches); the default replaces the store (bulk load,
    compaction)."""
    from pyspark.sql import functions as F

    df = points
    if reshuffle:
        if files_per_partition > 1:
            df = df.repartition(F.col("segment_time"), F.pmod(F.col("series_id"), F.lit(files_per_partition)))
        else:
            df = df.repartition(F.col("segment_time"))
    # segment_time MUST lead the sort even though the shuffle keys on
    # it: the file writer requires ordering on the partition column,
    # and [series_id, ts] alone makes Spark plan its own
    # Sort(segment_time), which replaces this one and leaves the files
    # out of the (series_id, ts) order the row-group pruning contract
    # depends on (review r9).  With the prefix, the writer reuses this
    # single sort.
    df = df.sortWithinPartitions("segment_time", "series_id", "ts")
    bloom_options(df.write.mode(mode), "series_id").partitionBy(
        "segment_time"
    ).parquet(path)


#: the largest read, in rows of its pruned files, that is planned as
#: one partition.  A one-task plan's time follows the rows it reads,
#: not their bytes: ``plans/pr13/crossover.py`` (4 cores) measured it
#: ahead of the distributed plan at 64 000 points, even at 96 000 and
#: behind at 128 000, on stores of 3.8 and 7 B per point alike.  Read
#: at call time; a negative value turns the rule off.
_SINGLE_PARTITION_MAX_ROWS = 96_000


@functools.lru_cache(maxsize=4096)
def _parquet_rows(url: str) -> int | None:
    """Rows of one parquet file, from its footer, or None when pyarrow
    cannot read it (a file system it does not know, a file gone since
    planning).  Spark never writes two files under one name, so the
    count is cached by path; a stale or missing count could only pick
    the other plan, never change an answer."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    try:
        fs, path = pafs.FileSystem.from_uri(url)
        with fs.open_input_file(path) as f:
            return pq.read_metadata(f).num_rows
    except (OSError, ValueError):  # pyarrow's IO and invalid-URI errors
        return None


def pruned_scan_rows(df: DataFrame) -> int | None:
    """Rows of the parquet files ``df``'s scans read after partition
    pruning, or None when a leaf of its plan is not a parquet file scan
    (an in-memory frame, say) or a footer cannot be read.  Read from
    the planned scans: a
    path-based table is pruned only at physical planning, so the
    optimizer's estimate is the whole table's whatever the window."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    total = 0
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() != "FileSourceScanExec"
            or leaf.relation().fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        ):
            return None
        files = leaf.selectedPartitions().toPartitionArray()
        for j in range(len(files)):
            rows = _parquet_rows(files[j].urlEncodedPath())
            if rows is None:
                return None
            total += rows
    return total


def single_partition_read(df: DataFrame) -> DataFrame:
    """``df`` as one partition when its pruned input holds at most
    ``_SINGLE_PARTITION_MAX_ROWS`` rows; else ``df`` unchanged.

    A one-partition scan reports ``SinglePartition``, which satisfies
    every clustered distribution above it, so the dedupe, rate,
    downsample, group-by and spine plan with no ``Exchange`` and the
    answer runs as one stage.  Larger reads, and frames whose leaves
    are not parquet scans, keep the distributed plan."""
    rows = pruned_scan_rows(df)
    return df.coalesce(1) if rows is not None and rows <= _SINGLE_PARTITION_MAX_ROWS else df


def _atomic_build(build_fn, final_path: str) -> None:
    if os.path.exists(os.path.join(final_path, "_SUCCESS")):
        return
    tmp = f"{final_path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        build_fn(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, final_path)
    except OSError:
        # another writer won the race; keep theirs
        shutil.rmtree(tmp, ignore_errors=True)


def ensure_event_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the driver's events table as a (metrics, series_dim)
    store under STORE_ROOT; idempotent and race-safe.  Returns the two
    paths."""
    base = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(STORE_ROOT, base)
    # the store outlives the process (it's a cache under /tmp): a
    # layout change in newer code must invalidate older builds.  The
    # invalidation check + rmtree + rebuild section is serialized by a
    # file lock (two processes racing here could otherwise rmtree each
    # other's in-flight tmp builds), and LAYOUT_VERSION is written only
    # AFTER the builds complete — a half-built store never carries a
    # current tag, so a crashed build is rebuilt, not trusted.
    version_file = os.path.join(root, "LAYOUT_VERSION")
    version_tag = _store_version_tag(sf_dir)
    os.makedirs(STORE_ROOT, exist_ok=True)
    lock_path = os.path.join(STORE_ROOT, f".{base}.lock")
    lock_fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
    try:
        import fcntl

        fcntl.flock(lock_fd, fcntl.LOCK_EX)
    except (ImportError, OSError):
        pass  # non-POSIX: fall back to the _SUCCESS/rename guards
    try:
        if os.path.isdir(root):
            try:
                ok = open(version_file).read().strip() == version_tag
            except OSError:
                ok = False
            if not ok:
                shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        metrics_path, dim_path = _build_event_store(spark, sf_dir, root)
        with open(version_file, "w") as f:
            f.write(version_tag)
    finally:
        try:
            import fcntl

            fcntl.flock(lock_fd, fcntl.LOCK_UN)
        except (ImportError, OSError):
            pass
        os.close(lock_fd)
    return metrics_path, dim_path


def _build_event_store(spark: SparkSession, sf_dir: str, root: str) -> tuple[str, str]:
    """Build the store tables under ``root`` (idempotent per-table via
    the _SUCCESS/rename guards).  Split from ensure_event_store so the
    version-tag commit happens strictly after every build."""
    metrics_path = os.path.join(root, "metrics")
    dim_path = os.path.join(root, "series_dim")

    def build_points(tmp: str) -> None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        pts = dedupe_last_write_wins(events_as_points(ev, width=EVENT_STORE_SEGMENT_WIDTH))
        pts = pts.withColumn("tag_user", F.col("tags")["user"]).withColumn("tag_k", F.col("tags")["k"])
        # reshuffled layout (one file per day): the store is read by
        # ~60 queries, so paying one extra exchange at build time for
        # a compact file layout wins; bulk ingest pipelines use
        # reshuffle=False + a later compaction instead
        write_metrics_store(pts, tmp)

    _atomic_build(build_points, metrics_path)

    def build_dim(tmp: str) -> None:
        pts = spark.read.parquet(metrics_path)
        build_series_dim(pts).write.mode("overwrite").parquet(tmp)

    _atomic_build(build_dim, dim_path)

    # hourly rollup (A10): chained aggregates per series, written at
    # ingest exactly like the reference's downsample-on-flush
    rollup_path = os.path.join(root, "rollup_3600")

    def build_rollup_tbl(tmp: str) -> None:
        from opentsdb_aura_spark.operators.rollup import build_rollup

        pts = spark.read.parquet(metrics_path)
        build_rollup(
            pts, 3600, group_cols=("series_id", "metric", "tag_user", "tag_k")
        ).write.mode("overwrite").parquet(tmp)

    _atomic_build(build_rollup_tbl, rollup_path)

    # hourly histogram rollup: mergeable sketch percentiles served from
    # pre-aggregates (operators/rollup.build_rollup_histogram) — the
    # A6 scale path the plain aggregate chain cannot provide
    hist_path = os.path.join(root, "rollup_hist_3600")

    def build_hist_tbl(tmp: str) -> None:
        from opentsdb_aura_spark.operators.rollup import build_rollup_histogram

        pts = spark.read.parquet(metrics_path)
        build_rollup_histogram(
            pts, 3600, group_cols=("series_id", "metric", "tag_user", "tag_k")
        ).write.mode("overwrite").parquet(tmp)

    _atomic_build(build_hist_tbl, hist_path)

    # hourly exact presence table (T6): one row per (series, epoch)
    # with data — the Spark shape of Myst's per-series epoch bitmaps,
    # written at flush so presence queries and scan pruning never
    # touch raw points
    presence_path = os.path.join(root, "presence_3600")

    def build_presence_tbl(tmp: str) -> None:
        from opentsdb_aura_spark.operators.meta import build_epoch_presence

        pts = spark.read.parquet(metrics_path)
        build_epoch_presence(pts, 3600).write.mode("overwrite").parquet(tmp)

    _atomic_build(build_presence_tbl, presence_path)

    # hourly HLL presence rollup: mergeable distinct-series sketches
    # (operators/meta.build_presence_hll) — cardinality over arbitrary
    # ranges from pre-aggregates; plain distinct counts don't merge
    hll_path = os.path.join(root, "presence_hll_3600")

    def build_hll_tbl(tmp: str) -> None:
        from opentsdb_aura_spark.operators.meta import build_presence_hll

        pts = spark.read.parquet(metrics_path)
        build_presence_hll(pts, 3600, group_cols=("metric",)).write.mode("overwrite").parquet(tmp)

    _atomic_build(build_hll_tbl, hll_path)

    # E3 — events table partitioned by day (the reference's daily
    # Lucene indices named yyyy-MM-dd); date-ranged event queries
    # prune partitions
    events_path = os.path.join(root, "events")

    def build_events(tmp: str) -> None:
        from pyspark.sql import functions as F

        from opentsdb_aura_spark.operators.events import daily_partition

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev = ev.withColumn("ts", any_ts_to_epoch_seconds("ts", dict(ev.dtypes)["ts"]))
        # E2 — the reference's event docs carry endtimestamp/ongoing
        # (LuceneQueryBuilder.getTimeRangeQuery); the driver table has
        # no duration fields, so derive both deterministically from
        # event_id so range+ongoing queries are exercisable end-to-end
        ev = ev.withColumn("end_ts", (F.col("ts") + F.col("event_id") % F.lit(7200)).cast("long"))
        ev = ev.withColumn("ongoing", F.col("event_id") % F.lit(29) == F.lit(0))
        # parentId/childId link fields (Event.java:63-79): derived
        # closed-form from event_id like end_ts/ongoing above — see
        # operators/events.py parent_link_expr for the rule
        from opentsdb_aura_spark.operators.events import parent_link_expr

        ev = ev.withColumn("parent_id", parent_link_expr())
        ev = ev.withColumn("event_date", daily_partition(F.col("ts")))
        (
            ev.repartition(F.col("event_date"))
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(tmp)
        )

    _atomic_build(build_events, events_path)

    # series-bucketed cold layout (sources/bucketed.py): per-series
    # aggregations read it shuffle-free; the analogue of the
    # reference's long-term store keying a series' whole history
    # together (aerospike/.../LTSAerospike.java)
    bucketed_path = os.path.join(root, "metrics_bucketed")

    def build_bucketed(tmp: str) -> None:
        from opentsdb_aura_spark.sources.bucketed import write_bucketed_metrics

        pts = spark.read.parquet(metrics_path)
        tmp_table = write_bucketed_metrics(pts, tmp, n_buckets=8)
        # drop only the catalog entry pointing at the tmp path; the
        # files move to bucketed_path and are re-declared on first read
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")

    _atomic_build(build_bucketed, bucketed_path)
    return metrics_path, dim_path


def _store_subpath(sf_dir: str, name: str) -> str:
    """<STORE_ROOT>/<basename(sf_dir)>/<name> — the single place the
    store layout is derived; every table path helper goes through it."""
    return os.path.join(STORE_ROOT, os.path.basename(os.path.normpath(sf_dir)), name)


def bucketed_metrics_path(sf_dir: str) -> str:
    return _store_subpath(sf_dir, "metrics_bucketed")


def bucketed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The series-bucketed metrics table for ``sf_dir`` (building the
    store on first use), with its bucket spec declared in this
    session's catalog so scans come up hash-partitioned on
    series_id."""
    from opentsdb_aura_spark.sources.bucketed import register_bucketed_metrics

    ensure_event_store(spark, sf_dir)
    return register_bucketed_metrics(spark, bucketed_metrics_path(sf_dir), n_buckets=8)


def events_store_path(sf_dir: str) -> str:
    return _store_subpath(sf_dir, "events")


def rollup_path(sf_dir: str, interval: int = 3600) -> str:
    return _store_subpath(sf_dir, f"rollup_{interval}")


def rollup_hist_path(sf_dir: str, interval: int = 3600) -> str:
    return _store_subpath(sf_dir, f"rollup_hist_{interval}")


def presence_hll_path(sf_dir: str, epoch_width: int = 3600) -> str:
    """Store location of the hourly HLL presence sketch table."""
    return _store_subpath(sf_dir, f"presence_hll_{epoch_width}")


def presence_path(sf_dir: str, epoch_width: int = 3600) -> str:
    """Store location of the hourly exact presence table."""
    return _store_subpath(sf_dir, f"presence_{epoch_width}")


def compact_store(spark: SparkSession, path: str, files_per_partition: int = 1) -> int:
    """Compaction pass for stores written with ``reshuffle=False``:
    rewrite each segment partition into ``files_per_partition`` sorted
    files (the reference's flush-time segment rewrite,
    core/.../TSFlusherImp.java:281-417, as a maintenance job).
    Returns the number of partitions compacted."""
    import glob

    parts = sorted(glob.glob(os.path.join(path, "segment_time=*")))
    df = spark.read.parquet(path)
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    write_metrics_store(df, tmp, files_per_partition=files_per_partition, reshuffle=True)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        # roll the live store back rather than leave ``path`` missing;
        # a hard kill between the two renames still loses the name (two
        # directories cannot swap atomically without renameat2) — the
        # compacted data survives under ``tmp`` and the original under
        # ``old`` for manual recovery
        os.rename(old, path)
        raise
    shutil.rmtree(old, ignore_errors=True)
    return len(parts)
