"""URL-seen Bloom filter at frontier scale — the structural evidence
for corpus_frontier_bloom (oracle-proven at fixture scale): build the
filter over 2 M scheduled URLs, probe those 2 M plus 2 M novel URLs,
and assert the two guarantees a scheduler relies on: ZERO false
negatives (every inserted URL reads seen), and a false-positive rate
on novel URLs within 2× the analytic (1−e^{−kn/m})^k bound.

The filter is O(n_bits) bytes regardless of URL count and its words
merge with bit_or — the state a 1000-executor scheduling pass
broadcasts to skip the already-crawled mass without a join against
the full crawl history.

Usage: python tools/bloom_scale_bench.py [n_urls_million=2]
Prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 4


def main() -> None:
    n = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)
    # ~12.6 bits/URL -> analytic FP ~ (1-e^(-4/12.6))^4 ~ 0.55%
    n_bits = 63 * (((12 * n) // 63) + 1)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.containers import url_bloom_build, url_bloom_probe

    spark = get_spark("bloom_scale_bench")
    out: dict = {"metric": "bloom_scale_bench", "unit": "sec", "n_urls": n,
                 "n_bits": n_bits, "k": K}

    seen = spark.range(n, numPartitions=64).select(
        F.concat(F.lit("http://h"), F.col("id") % 1000, F.lit(".example/doc/"),
                 F.col("id").cast("string")).alias("url")
    )
    novel = spark.range(n, numPartitions=64).select(
        F.concat(F.lit("http://h"), F.col("id") % 1000, F.lit(".example/new/"),
                 F.col("id").cast("string")).alias("url")
    )

    t0 = time.perf_counter()
    bloom = url_bloom_build(seen, n_bits=n_bits, k=K).localCheckpoint()
    n_words = bloom.count()
    out["build_sec"] = round(time.perf_counter() - t0, 2)
    out["urls_per_sec_build"] = round(n / out["build_sec"])
    out["n_words"] = n_words
    out["filter_mib"] = round(n_bits / 63 * 8 / 2**20, 1)

    t0 = time.perf_counter()
    res = url_bloom_probe(seen.unionByName(novel), bloom, n_bits=n_bits, k=K)
    agg = res.agg(
        F.sum(F.when(F.col("url").contains("/doc/") & ~F.col("seen"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(F.col("url").contains("/new/") & F.col("seen"), 1).otherwise(0)).alias("fp"),
        F.count("*").alias("total"),
    ).collect()[0]
    out["probe_sec"] = round(time.perf_counter() - t0, 2)
    out["urls_per_sec_probe"] = round(2 * n / out["probe_sec"])
    assert agg["total"] == 2 * n, agg["total"]
    assert agg["fn"] == 0, f"Bloom false negatives: {agg['fn']}"  # structural guarantee
    fp_rate = agg["fp"] / n
    analytic = (1 - math.exp(-K * n / n_bits)) ** K
    out["false_negatives"] = 0
    out["fp_rate"] = round(fp_rate, 6)
    out["fp_rate_analytic"] = round(analytic, 6)
    assert fp_rate <= 2 * analytic, (fp_rate, analytic)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
