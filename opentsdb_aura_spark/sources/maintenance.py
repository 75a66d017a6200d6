"""Index maintenance for the persisted incremental indexes: the one
append rule every incremental writer shares, and small-file
compaction.

Five append paths grow a table on disk one micro-batch at a time:
``dedup_text.update_minhash_index``, ``dedup_text.update_fingerprint_index``,
``containers.update_frontier_index``, ``similarity.append_to_ivfpq_index``
and the capture-index sink of ``streaming.state.streaming_crawl_ingest``
(whose quality/lang/ppl/dup sidecars and ``streaming_near_dup``'s
pre-pair filter follow the same rule).  The rule: a batch row is NEW
when its key is not yet in the table on disk.  It is written once,
here — :func:`read_parquet_if_exists` reads the stored table (only a
missing path reads as "nothing stored"; every other read error
propagates) and :func:`new_rows` anti-joins the batch against its key
column — so an at-least-once redelivery appends nothing and a storage
error can never read as an empty index.

Each append writes one range-partitioned file set per micro-batch.
At crawl cadence that accumulates thousands of small parquet files
per band/list directory, which erodes exactly the row-group-stat and
partition pruning those indexes exist for — every probe then opens
thousands of footers to skip the same key ranges one footer used to
skip.  The fix is the standard LSM discipline: a compaction job that
rewrites a partition directory's many sorted runs into few,
preserving the sort so pruning survives.

The job is warehouse-agnostic: file listing and the directory swap go
through the Hadoop FileSystem API of whatever scheme ``path`` lives
on (local, HDFS, S3A), never ``os.path``.  Single-writer discipline:
run it from the ingest owner between batches (the same place the
appends run) — the swap is two renames, atomic on HDFS/local, and on
object stores a production deployment would layer a manifest/table
format (Iceberg/Delta) for reader isolation; the INDEX LAYOUT this
repo defines is unchanged by that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet_if_exists(spark, path: str):
    """Read a parquet table that may not exist yet, distinguishing
    'not created' from real failures: only a missing path returns
    None — any OTHER read error (storage hiccup, corrupted footer,
    permissions) propagates.  A bare except here would silently turn
    a transient failure into 'empty corpus', making an index append
    skip its anti-join (duplicate rows forever) or a probe report
    zero pairs (near-dups lost for good)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def new_rows(rows: DataFrame, stored: DataFrame | None, key: str, index_key: str) -> DataFrame:
    """The rows of a batch whose ``key`` is not yet in the ``stored``
    table's ``index_key`` column (``stored=None``: nothing is stored
    yet, every row is new).  No distinct() on the index side: anti-join
    semantics do not need it, and it would shuffle the whole stored key
    column on every batch."""
    if stored is None:
        return rows
    have = stored.select(index_key)
    return rows.join(have, rows[key] == have[index_key], "left_anti")


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def partition_file_counts(
    spark: SparkSession, path: str, partition_col: str | None
) -> dict[str, int]:
    """Data-file count per ``{partition_col}=...`` directory under
    ``path`` (Hadoop FS listing — works on any warehouse scheme).
    ``partition_col=None`` counts the table's root-level data files
    under the single key ``"."`` (unpartitioned layout).  Empty dict
    when the index does not exist yet."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return {}
    if partition_col is None:
        n = 0
        for f in fs.listStatus(hpath):
            if f.isFile() and f.getPath().getName().endswith(".parquet"):
                n += 1
        return {".": n}
    counts: dict[str, int] = {}
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(partition_col + "="):
            n = 0
            for f in fs.listStatus(st.getPath()):
                if f.isFile() and f.getPath().getName().endswith(".parquet"):
                    n += 1
            counts[name] = n
    return counts


def compact_partitioned_parquet(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str | None,
    sort_cols: tuple[str, ...] = (),
    max_files_per_partition: int = 16,
    target_files_per_partition: int = 2,
    bloom_cols: tuple[str, ...] = (),
    bloom_plain: tuple[str, ...] = (),
) -> bool:
    """Rewrite a Hive-partitioned parquet table into few sorted files
    per partition directory when ANY partition exceeds
    ``max_files_per_partition`` data files (``partition_col=None``
    compacts an unpartitioned table the same way).

    The rewrite range-partitions on (partition_col, *sort_cols) and
    sorts within partitions, so each output file covers a disjoint
    sorted key range — parquet row-group stats keep skipping
    untouched ranges exactly as after a fresh build (a range split
    can straddle one partition boundary, so the per-directory bound
    is target + 1).  The swap is rename(live→old), rename(tmp→live),
    delete(old): one full-table rewrite, no read amplification
    between compactions.  Returns True iff a compaction ran.

    Crash recovery (ADVICE r7): the two renames are individually but
    not jointly atomic — a crash between rename(live→old) and
    rename(tmp→live) leaves NO live table.  On entry, if the live
    path is missing but ``.compact-old`` or ``.compact-tmp`` survives,
    the table is restored first (old preferred — it is the last state
    known complete; tmp only if old is gone, i.e. the crash happened
    after the promote but before delete(old) cleanup of a previous
    half-renamed layout) before deciding whether to compact, so a
    post-crash run self-heals instead of silently returning False."""
    base = path.rstrip("/")
    fs, live_p, jvm = _fs(spark, base)
    old_p = jvm.org.apache.hadoop.fs.Path(base + ".compact-old")
    tmp_p = jvm.org.apache.hadoop.fs.Path(base + ".compact-tmp")
    if not fs.exists(live_p):
        if fs.exists(old_p):
            if not fs.rename(old_p, live_p):
                raise IOError(f"crash recovery failed: cannot restore {base}")
            fs.delete(tmp_p, True)
        elif fs.exists(tmp_p):
            if not fs.rename(tmp_p, live_p):
                raise IOError(f"crash recovery failed: cannot promote {tmp_p}")
    else:
        # live exists → any surviving sidecar is leftover from a crash
        # AFTER the promote (old not yet deleted) or a dead tmp write;
        # reap it now rather than leaking a full table copy until the
        # next compaction happens to trigger (ADVICE r8)
        fs.delete(old_p, True)
        fs.delete(tmp_p, True)

    counts = partition_file_counts(spark, path, partition_col)
    if not counts or max(counts.values()) <= max_files_per_partition:
        return False

    base = path.rstrip("/")
    tmp, old = base + ".compact-tmp", base + ".compact-old"
    n_out = max(1, len(counts) * target_files_per_partition)
    cols = ([partition_col] if partition_col else []) + list(sort_cols)
    df = spark.read.parquet(path)
    out = df.repartitionByRange(n_out, *[F.col(c) for c in cols]) if cols else df.coalesce(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*cols)
    writer = out.write.mode("overwrite")
    if bloom_cols:
        # the rewrite must preserve the probe-key bloom filters the
        # incremental writers attach, or compaction would silently
        # degrade point-lookup pruning
        from opentsdb_aura_spark.sources.batch import bloom_options

        writer = bloom_options(writer, *bloom_cols, plain_encoding=bloom_plain)
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)

    fs, live_p, jvm = _fs(spark, base)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    old_p = jvm.org.apache.hadoop.fs.Path(old)
    fs.delete(old_p, True)
    if not fs.rename(live_p, old_p):
        raise IOError(f"compaction swap failed: cannot move {base} aside")
    if not fs.rename(tmp_p, live_p):
        # restore the live table before surfacing the failure
        fs.rename(old_p, live_p)
        raise IOError(f"compaction swap failed: cannot promote {tmp}")
    fs.delete(old_p, True)
    return True


def compact_fingerprint_index(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_band: int = 16,
    target_files_per_band: int = 2,
) -> bool:
    """Compact a :func:`update_fingerprint_index` index: few files per
    ``band=`` directory, rows re-sorted by (band, bh) so the probe's
    band-key isin filter keeps skipping row groups after thousands of
    streaming appends.  Probe results are IDENTICAL before/after
    (asserted in tests — compaction only moves rows)."""
    return compact_partitioned_parquet(
        spark,
        path,
        partition_col="band",
        sort_cols=("bh",),
        max_files_per_partition=max_files_per_band,
        target_files_per_partition=target_files_per_band,
        bloom_cols=("bh",),
    )


def compact_minhash_index(
    spark: SparkSession,
    path: str,
    *,
    max_files: int = 16,
    target_files: int = 4,
) -> bool:
    """Compact an :func:`update_minhash_index` signature table
    (unpartitioned — one narrow (doc_id, h0..h{k-1}) row set per
    append): few doc_id-sorted files, so the incremental path's
    anti-join on doc_id keeps its row-group stats after sustained
    streaming appends."""
    return compact_partitioned_parquet(
        spark,
        path,
        partition_col=None,
        sort_cols=("doc_id",),
        max_files_per_partition=max_files,
        target_files_per_partition=target_files,
    )


def compact_ivfpq_index(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_list: int = 16,
    target_files_per_list: int = 2,
) -> bool:
    """Compact the codes table of a :func:`build_ivfpq_index` /
    :func:`append_to_ivfpq_index` index: few files per ``list_id=``
    directory, rows re-sorted by vec_id (the column the append path's
    anti-join reads, so its row-group stats stay useful).  Centroids,
    codebooks, and the meta marker are tiny single files and never
    need compaction; search results are identical before/after."""
    return compact_partitioned_parquet(
        spark,
        f"{path.rstrip('/')}/codes",
        partition_col="list_id",
        sort_cols=("vec_id",),
        max_files_per_partition=max_files_per_list,
        target_files_per_partition=target_files_per_list,
        bloom_cols=("vec_id",),
        bloom_plain=("vec_id",),
    )


def compact_capture_index(
    spark: SparkSession,
    path: str,
    *,
    max_files: int = 16,
    target_files: int = 4,
) -> bool:
    """Compact the streaming CAPTURE index (streaming_crawl_ingest
    ``cdx_path`` — one small file per micro-batch): few
    urlkey-sorted files, so the append path's anti-join on record_id
    and the replay/lookup side's urlkey range scans keep bounded file
    counts under sustained crawling — the same LSM posture as the
    minhash/frontier indexes, and the order the batch CDXJ/ZipNum
    exporters want the rows in anyway."""
    return compact_partitioned_parquet(
        spark,
        path,
        partition_col=None,
        sort_cols=("urlkey", "cdx_ts"),
        max_files_per_partition=max_files,
        target_files_per_partition=target_files,
    )


def compact_frontier_index(
    spark: SparkSession,
    path: str,
    *,
    max_files: int = 16,
    target_files: int = 4,
) -> bool:
    """Compact a :func:`containers.update_frontier_index` edge table
    (unpartitioned (frontier_url, doc_id) rows, one small file per
    micro-batch): few doc_id-sorted files, so the append path's
    anti-join on doc_id keeps its row-group stats and the read-side
    groupBy scans a bounded file count after sustained crawling."""
    return compact_partitioned_parquet(
        spark,
        path,
        partition_col=None,
        sort_cols=("doc_id",),
        max_files_per_partition=max_files,
        target_files_per_partition=target_files,
    )
