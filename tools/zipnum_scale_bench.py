"""ZipNum sharded CDX at collection scale: build the blocked index
over millions of captures, then measure a probe-set LOOKUP against a
full-collection scan — the seek structure's reason to exist — with
exact planted assertions on every returned row.

Captures are closed-form (urlkey ``http://example.com/page/<i>``,
digest md5 of a deterministic body string), sharded by capture id
range; probes hit every shard.

Usage: python tools/zipnum_scale_bench.py [n_captures_million=2] [n_probes=100]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)
    n_probes = int(sys.argv[2] if len(sys.argv) > 2 else 100)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.containers import (
        write_zipnum_cdx,
        zipnum_candidate_blocks,
        zipnum_idx,
        zipnum_lookup,
        zipnum_shard_files,
    )

    spark = get_spark("zipnum_scale_bench")
    out: dict = {"metric": "zipnum_scale_bench", "unit": "sec",
                 "n_captures": n, "n_probes": n_probes}

    # zero-padded keys make numeric id ranges == lexicographic key
    # ranges, so DIV sharding IS range sharding (the production ZipNum
    # layout: one global sort spilled across shard files in key order)
    ids = spark.range(n, numPartitions=64)
    key = F.concat(F.lit("http://example.com/page/"), F.lpad(F.col("id").cast("string"), 9, "0"))
    caps = ids.select(
        F.expr(f"CAST(id DIV {max(n // 64, 1)} AS LONG)").alias("file_id"),
        key.alias("urlkey"),
        F.lit("20240101000000").alias("cdx_ts"),
        key.alias("url"),
        F.lit("text/html").alias("mime"),
        F.lit(200).alias("status"),
        F.md5(F.concat(F.lit("body-"), F.col("id"))).alias("digest"),
        (F.col("id") * 1000).alias("offset"),
        F.lit(900).alias("length"),
        F.concat(F.lit("urn:uuid:cap-"), F.col("id")).alias("record_id"),
    )

    t0 = time.perf_counter()
    blocks = write_zipnum_cdx(caps, lines_per_block=3000).localCheckpoint()
    n_blocks = blocks.count()
    out["build_sec"] = round(time.perf_counter() - t0, 2)
    out["n_blocks"] = n_blocks
    idx = zipnum_idx(blocks).localCheckpoint()
    files = zipnum_shard_files(blocks).localCheckpoint()
    total_bytes = files.agg(F.sum(F.length("content"))).collect()[0][0]
    out["collection_mb"] = round(total_bytes / 1e6, 1)

    # probe every shard: ids spaced n/n_probes apart
    step = max(1, n // n_probes)
    probe_ids = list(range(0, n, step))[:n_probes]
    probes = spark.createDataFrame(
        [(f"http://example.com/page/{i:09d}",) for i in probe_ids], "urlkey string"
    )

    t0 = time.perf_counter()
    hits = zipnum_lookup(files, idx, probes, range_sharded=True).localCheckpoint()
    got = {r["urlkey"]: r for r in hits.collect()}
    out["lookup_sec"] = round(time.perf_counter() - t0, 2)

    # the structural claim (scale-invariant where wall-clock on a hot
    # 32-core box is not): bytes the lookup DECOMPRESSES = the distinct
    # candidate blocks only — at petabyte CDX scale this, not local
    # wall, is what the seek buys.  Same planner the lookup runs.
    cand_bytes = (
        zipnum_candidate_blocks(idx, probes, range_sharded=True)
        .select("shard_id", "offset", "length")
        .distinct()
        .agg(F.sum("length"))
        .collect()[0][0]
    )
    out["lookup_mb_touched"] = round(cand_bytes / 1e6, 2)
    out["bytes_touched_ratio"] = round(total_bytes / cand_bytes, 1)
    assert len(got) == len(probe_ids), len(got)
    for i in probe_ids:
        r = got[f"http://example.com/page/{i:09d}"]
        assert r["record_id"] == f"urn:uuid:cap-{i}", r
        assert r["offset"] == i * 1000 and r["length"] == 900, r
    out["lookup_rows_exact"] = True

    # the alternative a seek structure replaces: gunzip EVERY block,
    # parse every line, then filter (what a flat read of the same
    # compressed collection costs)
    want = {f"http://example.com/page/{i:09d}" for i in probe_ids}

    def scan_all(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            cnt = 0
            for content in pdf["content"]:
                text = zlib.decompress(bytes(content), 16 + zlib.MAX_WBITS).decode()
                for line in text.splitlines():
                    if line.partition(" ")[0] in want:
                        cnt += 1
            yield pd.DataFrame({"cnt": [cnt]})

    t0 = time.perf_counter()
    n_flat = (
        blocks.select("content")
        .mapInPandas(scan_all, "cnt long")
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    out["full_scan_sec"] = round(time.perf_counter() - t0, 2)
    assert n_flat == len(probe_ids), n_flat
    out["seek_speedup"] = round(out["full_scan_sec"] / max(out["lookup_sec"], 1e-9), 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
