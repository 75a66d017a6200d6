"""The freshness loop at crawl scale: recrawl scheduling, conditional
validator planning, and change-magnitude profiling over millions of
captures, with EXACT planted assertions — the round-11 freshness
family (recrawl_schedule / conditional_fetch_plan /
capture_change_profile) measured at the scale the catalog fixtures
prove correctness at 500 rows.

Captures: n total = n_urls urls x g generations, content version
changes every 3rd generation (the catalog fixture rule at scale), so
every URL's streak / change count / next-fetch backoff has a closed
form; ETag is stripped on every 4th generation and Last-Modified
absent on odd urls, so every validator pick has a closed form; page
text swaps its first 4 tokens on the version flip, so the change
profile has exactly one partial-Jaccard transition row per flip.

Usage: python tools/freshness_scale_bench.py [n_captures_million=2]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GENS = 20  # generations per url


def main() -> None:
    n = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)
    n_urls = n // GENS

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.containers import (
        capture_change_profile,
        conditional_fetch_plan,
        recrawl_schedule,
    )

    spark = get_spark("freshness_scale_bench")
    out: dict = {
        "metric": "freshness_scale_bench",
        "unit": "sec",
        "n_captures": n_urls * GENS,
        "n_urls": n_urls,
    }

    ids = spark.range(n_urls * GENS, numPartitions=64)
    u = (F.col("id") % n_urls).cast("long")
    i = F.expr(f"CAST(id DIV {n_urls} AS LONG)")  # generation 0..GENS-1
    v = F.expr(f"CAST(id DIV {n_urls} DIV 3 AS LONG)")  # content version
    url = F.concat(F.lit("http://example.com/page/"), u)
    caps = ids.select(
        url.alias("url"),
        (F.lit(1704067200.0) + i * 86400.0).alias("capture_ts"),
        F.md5(F.concat(url, F.lit(":"), v.cast("string"))).alias("digest"),
        F.when((u % 3 == 0) | (i % 4 == 3), F.lit(None)).otherwise(
            F.concat(F.lit('"e-'), u, F.lit("-"), v, F.lit('"'))
        ).alias("etag"),
        F.when((u % 2 == 1) | (i % 5 == 4), F.lit(None)).otherwise(
            F.concat(F.lit("day-"), v.cast("string"))
        ).alias("last_modified"),
    ).localCheckpoint()

    # ---- wait-doubling schedule: GENS=20 generations, change every
    # 3rd -> last change at rn=19 (v flips 18//3=6 at i=18), streak=1
    t0 = time.perf_counter()
    sched = recrawl_schedule(caps).localCheckpoint()
    n_rows, bad = (
        sched.agg(
            F.count("*").alias("c"),
            F.sum(
                (
                    (F.col("streak") != 1)
                    | (F.col("n_changes") != 6)
                    | (F.col("n_captures") != GENS)
                ).cast("long")
            ).alias("b"),
        ).collect()[0]
    )
    out["recrawl_schedule_sec"] = round(time.perf_counter() - t0, 2)
    assert n_rows == n_urls and bad == 0, (n_rows, bad)
    out["captures_per_sec_schedule"] = int(n / out["recrawl_schedule_sec"])

    # ---- validator planning: newest non-null picks have closed forms
    # (max i with i%4!=3 is 18 -> v=6; max i with i%5!=4 is 18 -> v=6)
    t0 = time.perf_counter()
    plan = conditional_fetch_plan(caps).localCheckpoint()
    stats = plan.agg(
        F.count("*").alias("c"),
        F.sum(F.col("conditional").cast("long")).alias("cond"),
        F.sum(
            (
                F.col("if_none_match").isNotNull()
                & (F.col("if_none_match") != F.concat(
                    F.lit('"e-'),
                    F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long"),
                    F.lit('-6"'),
                ))
            ).cast("long")
        ).alias("bad_etag"),
        F.sum(
            (
                F.col("if_modified_since").isNotNull()
                & (F.col("if_modified_since") != "day-6")
            ).cast("long")
        ).alias("bad_lm"),
    ).collect()[0]
    out["conditional_plan_sec"] = round(time.perf_counter() - t0, 2)
    # urls with NO validator at all: u%3==0 AND u%2==1, i.e. u ≡ 3
    # (mod 6) — exact count over the key space, not a divisibility
    # assumption
    expect_uncond = len(range(3, n_urls, 6))
    assert stats["c"] == n_urls, stats
    assert stats["cond"] == n_urls - expect_uncond, (stats["cond"], expect_uncond)
    assert stats["bad_etag"] == 0 and stats["bad_lm"] == 0, stats
    out["captures_per_sec_plan"] = int(n / out["conditional_plan_sec"])

    # ---- change magnitude: 20 tokens + 1 url token; version flips at
    # i in {3,6,9,12,15,18} swap the first 4 tokens ONCE (v is the
    # same within each 3-generation run, so only the flip rows score
    # below 1); every other non-first row scores exactly 1.0
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda x: F.when(
                (v % 2 == 1) & (x < 4), F.concat(F.lit("c"), x.cast("string"))
            ).otherwise(F.concat(F.lit("t"), x.cast("string"))),
        ),
    )
    tcaps = ids.select(
        url.alias("url"),
        (F.lit(1704067200.0) + i * 86400.0).alias("capture_ts"),
        F.concat(text, F.lit(" u"), u).alias("text"),
    )
    t0 = time.perf_counter()
    prof = capture_change_profile(tcaps)
    pstats = prof.agg(
        F.count("*").alias("c"),
        F.sum(F.col("jaccard_prev").isNull().cast("long")).alias("firsts"),
        F.sum(((F.col("jaccard_prev") < 1.0)).cast("long")).alias("transitions"),
        F.min("jaccard_prev").alias("minj"),
    ).collect()[0]
    out["change_profile_sec"] = round(time.perf_counter() - t0, 2)
    assert pstats["c"] == n_urls * GENS, pstats
    assert pstats["firsts"] == n_urls, pstats
    # v alternates parity at every flip i in {3,6,9,12,15,18}: 6 per url
    assert pstats["transitions"] == 6 * n_urls, pstats
    assert 0 < pstats["minj"] < 1, pstats
    out["captures_per_sec_change"] = int(n / out["change_profile_sec"])
    out["transition_jaccard"] = round(float(pstats["minj"]), 6)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
