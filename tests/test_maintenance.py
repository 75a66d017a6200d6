"""Compaction job for the persisted incremental indexes: file-count
bounds hold after compaction and probe/search results are IDENTICAL
before/after (compaction only moves rows — it must never change what
a probe finds)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentsdb_aura_spark.sources.maintenance import (
    compact_fingerprint_index,
    compact_ivfpq_index,
    compact_partitioned_parquet,
    partition_file_counts,
)


def _fp_batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("media_id"), F.xxhash64(F.col("id")).alias("fp")
    )


def test_fingerprint_index_compaction_bounds_and_identical_probe(spark, tmp_path):
    from opentsdb_aura_spark.operators.dedup_text import (
        probe_fingerprint_index,
        update_fingerprint_index,
    )

    path = str(tmp_path / "fpidx")
    # 12 streaming appends -> one file set per band per batch
    for i in range(12):
        update_fingerprint_index(_fp_batch(spark, i * 50, (i + 1) * 50), path)
    before = partition_file_counts(spark, path, "band")
    assert len(before) == 4 and max(before.values()) >= 12

    # NEW ids carrying already-indexed fingerprints → Hamming-0 matches
    probe = spark.range(100, 140).select(
        (F.col("id") + 10_000).alias("media_id"), F.xxhash64(F.col("id")).alias("fp")
    )
    want = sorted(
        (r["probe_id"], r["index_id"], r["hamming"])
        for r in probe_fingerprint_index(spark, path, probe, id_col="media_id").collect()
    )
    assert want  # Hamming-0 self-fingerprint matches exist (other ids excluded)

    assert compact_fingerprint_index(spark, path, max_files_per_band=8, target_files_per_band=2)
    after = partition_file_counts(spark, path, "band")
    assert set(after) == set(before)
    assert max(after.values()) <= 3  # target + 1 boundary straddle
    assert spark.read.parquet(path).count() == 600 * 4  # 4 band rows per fingerprint

    got = sorted(
        (r["probe_id"], r["index_id"], r["hamming"])
        for r in probe_fingerprint_index(spark, path, probe, id_col="media_id").collect()
    )
    assert got == want
    # below threshold now → no-op
    assert not compact_fingerprint_index(spark, path, max_files_per_band=8)


def test_fingerprint_index_auto_compact_kwarg(spark, tmp_path):
    from opentsdb_aura_spark.operators.dedup_text import update_fingerprint_index

    path = str(tmp_path / "fpidx_auto")
    for i in range(10):
        update_fingerprint_index(
            _fp_batch(spark, i * 20, (i + 1) * 20), path, compact_max_files=4
        )
    counts = partition_file_counts(spark, path, "band")
    assert counts and max(counts.values()) <= 5  # bound enforced during the stream
    assert spark.read.parquet(path).count() == 200 * 4


def test_ivfpq_index_compaction_identical_search(spark, tmp_path):
    from opentsdb_aura_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_search_index,
    )

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) / 500.0 - 1.0).cast(
                    "float"
                ),
            ).alias("embedding"),
        )

    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(vecs(0, 200), path, n_centroids=4, m=4, pq_k=8)
    for i in range(8):
        append_to_ivfpq_index(vecs(200 + i * 25, 200 + (i + 1) * 25), path)
    before = partition_file_counts(spark, f"{path}/codes", "list_id")
    assert max(before.values()) >= 5

    q = vecs(0, 5)
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["pq_score"], 9))
        for r in ivfpq_search_index(spark, path, q, k=10, nprobe=4).collect()
    )
    assert len(want) == 50

    assert compact_ivfpq_index(spark, path, max_files_per_list=4, target_files_per_list=1)
    after = partition_file_counts(spark, f"{path}/codes", "list_id")
    assert max(after.values()) <= 2
    assert spark.read.parquet(f"{path}/codes").count() == 400

    got = sorted(
        (r["query_id"], r["neighbor_id"], round(r["pq_score"], 9))
        for r in ivfpq_search_index(spark, path, q, k=10, nprobe=4).collect()
    )
    assert got == want
    # append after compaction still works and stays deduped
    append_to_ivfpq_index(vecs(0, 410), path)
    assert spark.read.parquet(f"{path}/codes").count() == 410


def test_compaction_noop_on_missing_table(spark, tmp_path):
    assert not compact_partitioned_parquet(
        spark, str(tmp_path / "nope"), partition_col="band"
    )
    assert partition_file_counts(spark, str(tmp_path / "nope"), "band") == {}


def test_minhash_index_compaction_identical_candidates(spark, tmp_path):
    from opentsdb_aura_spark.operators.dedup_text import (
        lsh_candidates_from_signatures,
        update_minhash_index,
    )
    from opentsdb_aura_spark.sources.maintenance import compact_minhash_index

    path = str(tmp_path / "mhidx")
    # 10 appends; every batch re-includes doc 0 and a near-dup twin so
    # candidates exist (the anti-join keeps re-appends out)
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(10):
        rows = [(i * 10 + j, f"{base} batch {i} doc {j}") for j in range(1, 10)]
        rows.append((100_000 + i, base + " twin"))
        update_minhash_index(
            spark.createDataFrame(rows, "doc_id long, text string"), path
        )
    before = partition_file_counts(spark, path, None)["."]
    assert before >= 10

    def cands():
        sig = spark.read.parquet(path)
        return sorted(
            (r["doc_a"], r["doc_b"])
            for r in lsh_candidates_from_signatures(sig, threshold=0.5).collect()
        )

    want = cands()
    assert want  # the planted twins collide
    assert compact_minhash_index(spark, path, max_files=8, target_files=2)
    assert partition_file_counts(spark, path, None)["."] <= 2
    assert cands() == want
    assert not compact_minhash_index(spark, path, max_files=8)


def test_compaction_crash_recovery_restores_live_table(spark, tmp_path):
    """A crash between the swap's two renames leaves NO live table;
    the next compaction run must restore it (``.compact-old``
    preferred, ``.compact-tmp`` only if old is gone) before deciding
    whether to compact, instead of silently returning False on the
    missing path (ADVICE r7)."""
    import os

    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("band")
    ).write.partitionBy("band").parquet(path)
    want = sorted(range(100))

    # crash case 1: live moved aside, promote never happened
    os.rename(path, path + ".compact-old")
    assert not os.path.exists(path)
    compact_partitioned_parquet(spark, path, partition_col="band")
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == want
    assert not os.path.exists(path + ".compact-old")

    # crash case 2: only the tmp rewrite survives (old already deleted)
    os.rename(path, path + ".compact-tmp")
    compact_partitioned_parquet(spark, path, partition_col="band")
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == want
    assert not os.path.exists(path + ".compact-tmp")

    # crash case 3: crash AFTER the promote but before delete(old) —
    # live exists, a full stale table copy sits in .compact-old.  The
    # next run must reap it on entry even when no compaction triggers
    # (ADVICE r8: a quiet index would otherwise leak the copy forever).
    import shutil

    shutil.copytree(path, path + ".compact-old")
    shutil.copytree(path, path + ".compact-tmp")
    assert not compact_partitioned_parquet(spark, path, partition_col="band")
    assert not os.path.exists(path + ".compact-old")
    assert not os.path.exists(path + ".compact-tmp")
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == want


def test_index_meta_read_strict_and_legacy_fallback(spark, tmp_path):
    """_read_index_meta: a MISSING meta dir (legacy index) falls back
    to the shape heuristic without raising; any OTHER meta read
    failure (corrupt parquet here, standing in for transient IO)
    re-raises instead of silently defaulting to residual=False —
    which would score a residual index with raw-code math and let
    appends mix encodings (ADVICE r7)."""
    import glob
    import os

    import pytest

    from opentsdb_aura_spark.operators.similarity import (
        _read_index_meta,
        _write_index_meta,
    )

    path = str(tmp_path / "idx")
    trained_cbs = [[[0.0, 0.0]] * 4, [[1.0, 1.0]] * 4]  # heuristic: grid=False

    # legacy index: no meta directory at all -> heuristic, no raise
    os.makedirs(path)
    assert _read_index_meta(spark, path, trained_cbs) == (False, False, False)

    # healthy marker round-trips
    _write_index_meta(spark, path, grid=False, residual=True)
    assert _read_index_meta(spark, path, trained_cbs) == (False, True, False)

    # corrupt marker must raise, never fall back
    for f in glob.glob(f"{path}/meta/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"this is not a parquet file")
    with pytest.raises(Exception):
        _read_index_meta(spark, path, trained_cbs)


def _bloom_cols_of(spark, parquet_file):
    """Column names that carry a parquet bloom filter in ``parquet_file``
    (JVM footer read — pyarrow does not expose bloom offsets)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(parquet_file), conf
    )
    rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        cols = set()
        for blk in rd.getFooter().getBlocks():
            for c in blk.getColumns():
                if c.getBloomFilterOffset() >= 0:
                    cols.add(c.getPath().toDotString())
        return cols
    finally:
        rd.close()


def _dict_cols_of(spark, parquet_file):
    """Column names whose chunks are dictionary-encoded in
    ``parquet_file`` (JVM footer read)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(parquet_file), conf
    )
    rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        cols = set()
        for blk in rd.getFooter().getBlocks():
            for c in blk.getColumns():
                if "DICTIONARY" in c.getEncodings().toString():
                    cols.add(c.getPath().toDotString())
        return cols
    finally:
        rd.close()


def test_probe_key_bloom_filters_written_and_survive_compaction(spark, tmp_path):
    """The point-lookup probe keys carry parquet bloom filters at the
    store/index writers.  parquet-mr's adaptive contract: a bloom
    materializes only once the chunk stops being fully dictionary-
    encoded (a dictionary already IS an exact row-group filter), so —

    - metrics store ``series_id``: HIGH-NDV fixture → bloom present;
    - IVFADC codes ``vec_id`` (unique per row, dictionary disabled by
      the writer): bloom present at build AND append, and preserved
      through compaction;
    - fingerprint index ``bh`` (16-bit band keys): dictionary-encoded
      by design — assert the dictionary is there (exact filtering
      today, bloom self-activates if keys ever widen)."""
    import glob

    from opentsdb_aura_spark.model import normalize_points
    from opentsdb_aura_spark.operators.dedup_text import update_fingerprint_index
    from opentsdb_aura_spark.operators.similarity import append_to_ivfpq_index, build_ivfpq_index
    from opentsdb_aura_spark.sources.batch import write_metrics_store

    # metrics store: 60k DISTINCT series (dictionary overflows → bloom)
    pts = normalize_points(
        spark.range(0, 60000).select(
            F.lit("m").alias("metric"),
            F.create_map(F.lit("user"), F.col("id").cast("string")).alias("tags"),
            (F.lit(1704067200) + F.col("id") % 10).alias("ts"),
            F.col("id").cast("double").alias("value"),
            F.col("id").alias("ingest_seq"),
        )
    )
    store = str(tmp_path / "metrics")
    write_metrics_store(pts, store)
    files = glob.glob(f"{store}/segment_time=*/*.parquet")
    assert files
    for f in files:
        assert "series_id" in _bloom_cols_of(spark, f), f

    # fingerprint index: every bh chunk carries a point-lookup prune
    # structure — a bloom (plain-encoded chunks) or a dictionary
    # (parquet-mr's exact filter for low-NDV chunks; the bloom
    # self-activates when the dictionary overflows)
    fpidx = str(tmp_path / "fps")
    update_fingerprint_index(_fp_batch(spark, 0, 300), fpidx)
    files = glob.glob(f"{fpidx}/band=*/*.parquet")
    assert files
    for f in files:
        assert "bh" in (_bloom_cols_of(spark, f) | _dict_cols_of(spark, f)), f

    # IVFADC codes: vec_id bloom at build + append + after compaction
    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) / 500.0 - 1.0).cast(
                    "float"
                ),
            ).alias("embedding"),
        )

    ivf = str(tmp_path / "ivfpq")
    build_ivfpq_index(vecs(0, 200), ivf, n_centroids=4, m=4, pq_k=8)
    append_to_ivfpq_index(vecs(200, 250), ivf)
    files = glob.glob(f"{ivf}/codes/list_id=*/*.parquet")
    assert files
    for f in files:
        assert "vec_id" in _bloom_cols_of(spark, f), f
    assert compact_ivfpq_index(spark, ivf, max_files_per_list=1, target_files_per_list=1)
    files = glob.glob(f"{ivf}/codes/list_id=*/*.parquet")
    assert files
    for f in files:
        assert "vec_id" in _bloom_cols_of(spark, f), f


def test_compact_frontier_index_bounds_files_and_preserves_counts(spark, tmp_path):
    """Sustained frontier appends erode into one file per batch;
    compaction bounds the file count and the scheduler's counts are
    IDENTICAL before/after (compaction only moves rows)."""
    from opentsdb_aura_spark.operators.containers import (
        frontier_counts,
        update_frontier_index,
    )
    from opentsdb_aura_spark.sources.maintenance import compact_frontier_index

    path = str(tmp_path / "frontier")
    for b in range(12):
        batch = spark.createDataFrame(
            [(f"http://e.example/{i % 3}", b * 10 + i) for i in range(10)],
            "frontier_url string, doc_id long",
        )
        update_frontier_index(batch.coalesce(1), path)
    before = {r["frontier_url"]: r["n_refs"] for r in frontier_counts(spark, path).collect()}
    import glob as _glob

    n_before = len(_glob.glob(f"{path}/*.parquet"))
    assert n_before >= 12
    assert compact_frontier_index(spark, path, max_files=8, target_files=2)
    n_after = len(_glob.glob(f"{path}/*.parquet"))
    assert n_after <= 4
    after = {r["frontier_url"]: r["n_refs"] for r in frontier_counts(spark, path).collect()}
    assert after == before and sum(after.values()) == 120


def test_compact_capture_index_bounds_files_and_preserves_rows(spark, tmp_path):
    """Sustained capture-index appends erode into one file per batch;
    compaction bounds the file count, rows survive byte-identically
    (replay metadata must not drift), and the record_id anti-join
    contract still sees every capture."""
    from opentsdb_aura_spark.sources.maintenance import compact_capture_index

    path = str(tmp_path / "cdx")
    for b in range(12):
        batch = spark.createDataFrame(
            [
                (
                    f"http://e.example/{i}", "2024010200000" + str(b % 10),
                    f"http://e.example/{i}", "text/html", 200,
                    f"d{b}-{i}", i * 100, 90, b, f"urn:uuid:cap-{b}-{i}",
                )
                for i in range(5)
            ],
            "urlkey string, cdx_ts string, url string, mime string, status int, "
            "digest string, offset long, length long, file_id long, record_id string",
        )
        batch.coalesce(1).write.mode("append").parquet(path)
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    import glob as _glob

    assert len(_glob.glob(f"{path}/*.parquet")) >= 12
    assert compact_capture_index(spark, path, max_files=8, target_files=2)
    assert len(_glob.glob(f"{path}/*.parquet")) <= 4
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before and len(after) == 60


def test_new_rows_is_the_one_append_rule(spark, tmp_path):
    """The append rule every incremental index and stream sidecar
    shares: a missing table lets every batch row through, a stored key
    is dropped, and a table that exists but cannot be read raises
    instead of reading as empty — an append over a corrupt index fails
    and writes nothing (reading it as "nothing stored" would append
    duplicate rows forever)."""
    import os

    from opentsdb_aura_spark.operators.dedup_text import update_minhash_index
    from opentsdb_aura_spark.sources.maintenance import new_rows, read_parquet_if_exists

    batch = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h")], "doc_id long, text string"
    )
    missing = str(tmp_path / "missing")
    assert read_parquet_if_exists(spark, missing) is None
    assert sorted(r["doc_id"] for r in new_rows(batch, None, "doc_id", "doc_id").collect()) == [1, 2]

    stored_path = str(tmp_path / "stored")
    spark.createDataFrame([(1,)], "_id long").write.parquet(stored_path)
    stored = read_parquet_if_exists(spark, stored_path)
    assert [r["doc_id"] for r in new_rows(batch, stored, "doc_id", "_id").collect()] == [2]

    corrupt = tmp_path / "corrupt"
    spark.createDataFrame([(1, 0)], "doc_id long, h0 long").coalesce(1).write.parquet(
        str(corrupt)
    )
    (part,) = [f for f in os.listdir(corrupt) if f.endswith(".parquet")]
    (corrupt / part).write_bytes(b"not a parquet file")
    before = sorted(os.listdir(corrupt))
    with pytest.raises(Exception) as exc:
        read_parquet_if_exists(spark, str(corrupt))
    assert "PATH_NOT_FOUND" not in str(exc.value)
    with pytest.raises(Exception):
        update_minhash_index(batch, str(corrupt))
    assert sorted(os.listdir(corrupt)) == before
    assert (corrupt / part).read_bytes() == b"not a parquet file"
