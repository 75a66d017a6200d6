"""Discovery-stack scale bench: the round-10 crawl loop's back half —
link extraction → reference resolution → canonicalization → robots
politeness → frontier build — measured at millions of pages.

Pages render the fixture HTML (5 anchors each: nav pair, in-content
link, footer pair) spread across ``n_hosts`` fixture hosts so the
frontier groupBy has real key width; robots rules disallow a known
subset, and the run ASSERTS the politeness outcome (disallowed URLs
absent, per-URL reference counts exact) — the planted-artifact
pattern, not timing alone.

Usage: python tools/frontier_scale_bench.py [n_docs_million=2] [n_hosts=1000]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)
    n_hosts = int(sys.argv[2] if len(sys.argv) > 2 else 1000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.containers import (
        canonicalize_url,
        resolve_href,
    )
    from opentsdb_aura_spark.operators.htmltext import html_links, synthesize_html
    from opentsdb_aura_spark.operators.robots import (
        parse_robots_files,
        robots_allowed,
        synthesize_robots,
    )

    spark = get_spark("frontier_scale_bench")
    out: dict = {"metric": "frontier_scale_bench", "unit": "sec",
                 "n_docs": n_docs, "n_hosts": n_hosts}

    docs = spark.range(n_docs, numPartitions=64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("scale page body words "), F.col("id").cast("string")).alias("text"),
    )
    host = F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(n_hosts)), F.lit(".example"))
    pages = synthesize_html(docs).withColumn(
        "page_url",
        F.concat(F.lit("http://"), host, F.lit("/doc/"), F.col("doc_id").cast("string")),
    )

    # links -> resolve -> canonicalize -> politeness -> frontier counts
    t0 = time.perf_counter()
    links = html_links(pages, keep_cols=("doc_id", "page_url")).select(
        canonicalize_url(resolve_href("page_url", "href")).alias("frontier_url"),
        "doc_id",
    ).where(F.col("frontier_url").isNotNull())
    hosts = spark.range(n_hosts).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host")
    )
    rules = parse_robots_files(synthesize_robots(hosts)).localCheckpoint()
    verdicts = robots_allowed(
        links.select("frontier_url").distinct(), rules, url_col="frontier_url"
    )
    allowed = verdicts.where(F.col("allowed")).select(F.col("url").alias("frontier_url"))
    frontier = (
        links.join(allowed, "frontier_url", "left_semi")
        .groupBy("frontier_url")
        .agg(F.count("*").alias("n_refs"))
        .localCheckpoint()
    )
    n_frontier = frontier.count()
    dt = time.perf_counter() - t0
    out["discovery_chain_sec"] = round(dt, 2)
    out["pages_per_sec"] = int(n_docs / dt)
    out["n_frontier_urls"] = n_frontier

    # planted-artifact assertions: every page links the same 5 paths on
    # ITS OWN host ('/', /about, /next, /terms, /privacy resolve against
    # the page URL).  All 5 are root-relative, none hits the fixture
    # robots' /private/ or /tmp/ rules -> all allowed; counts = pages/host.
    assert n_frontier == 5 * n_hosts, n_frontier
    per_host = n_docs // n_hosts
    sample = frontier.where(
        F.col("frontier_url").isin(
            "http://h0.example", "http://h0.example/next", "http://h1.example/terms"
        )
    ).collect()
    got = {r["frontier_url"]: r["n_refs"] for r in sample}
    assert all(v == per_host for v in got.values()), got

    # politeness DOES bite when a page links a disallowed path: re-run
    # discovery with /tmp/-shaped links planted on 1% of pages
    t0 = time.perf_counter()
    planted = links.unionByName(
        docs.where(F.col("doc_id") % 100 == 0).select(
            F.concat(F.lit("http://"), host, F.lit("/tmp/cache")).alias("frontier_url"),
            "doc_id",
        )
    )
    # agent "other-bot" falls back to every host's '*' group (even
    # hosts' aura-bot group has no /tmp/ rule — RFC group exclusivity
    # would let aura-bot fetch /tmp/ there, which the unit suite pins)
    verdicts2 = robots_allowed(
        planted.select("frontier_url").distinct(), rules,
        agent="other-bot", url_col="frontier_url",
    )
    allowed2 = verdicts2.where(F.col("allowed")).select(F.col("url").alias("frontier_url"))
    frontier2 = (
        planted.join(allowed2, "frontier_url", "left_semi")
        .groupBy("frontier_url")
        .agg(F.count("*").alias("n_refs"))
        .localCheckpoint()
    )
    n2 = frontier2.count()
    out["politeness_rerun_sec"] = round(time.perf_counter() - t0, 2)
    assert n2 == 5 * n_hosts, n2  # every planted /tmp/ URL rejected
    out["planted_disallowed_rejected"] = True

    # round-11 stage: crawl-delay fetch scheduling over the surviving
    # frontier — per-host slots spaced by each host's resolved delay
    # (even hosts declare 2 s in their aura-bot group; odd hosts fall
    # back to their '*' group's 1 + k%5 s), priority = reference count
    from opentsdb_aura_spark.operators.robots import (
        crawl_delay_for,
        parse_crawl_delay_files,
        schedule_fetches,
    )

    t0 = time.perf_counter()
    delays = crawl_delay_for(
        parse_crawl_delay_files(synthesize_robots(hosts)), agent="aura-bot"
    )
    sched = schedule_fetches(frontier, delays, priority_col="n_refs").localCheckpoint()
    n_sched = sched.count()
    out["schedule_sec"] = round(time.perf_counter() - t0, 2)
    assert n_sched == n_frontier, n_sched
    # planted spacing: equal priorities tiebreak by URL, so host h2's
    # 5 slots run 0,2,4,6,8 s (its aura-bot delay 2) and h3's run
    # 0,4,8,12,16 s (its '*' delay 1 + 3%5 = 4)
    probe = {
        (r["host"], r["slot"]): r["scheduled_ts"]
        for r in sched.where(F.col("host").isin("h2.example", "h3.example")).collect()
    }
    assert [probe[("h2.example", s)] for s in range(1, 6)] == [0.0, 2.0, 4.0, 6.0, 8.0]
    assert [probe[("h3.example", s)] for s in range(1, 6)] == [0.0, 4.0, 8.0, 12.0, 16.0]
    out["schedule_spacing_exact"] = True

    # round-11 stage: the inbound anchor-text signal at 2 M pages —
    # re-extract links WITH text and aggregate per target, asserting
    # the exact deduped text and reference count per fixture anchor
    from opentsdb_aura_spark.operators.containers import anchor_text_index

    t0 = time.perf_counter()
    tlinks = html_links(pages, keep_cols=("page_url",))
    aidx = anchor_text_index(tlinks).localCheckpoint()
    n_targets = aidx.count()
    out["anchor_index_sec"] = round(time.perf_counter() - t0, 2)
    assert n_targets == 5 * n_hosts, n_targets
    probe = {r["target_url"]: (r["n_refs"], list(r["anchor_texts"])) for r in aidx.where(
        F.col("target_url").isin(
            "http://h0.example", "http://h1.example/next", "http://h2.example/about"
        )
    ).collect()}
    assert probe["http://h0.example"] == (per_host, ["home"]), probe
    assert probe["http://h1.example/next"] == (per_host, ["next page"]), probe
    assert probe["http://h2.example/about"] == (per_host, ["about"]), probe
    out["anchor_texts_exact"] = True

    # round-11 stage: Retry-After host backoff folded into the same
    # schedule — every 8th host planted a 429 with Retry-After 300 at
    # ts 1000 (bound 1300), every 16th additionally a MILDER older 503
    # (Retry-After 50 at ts 100 → 150, which must LOSE to the 1300);
    # limited hosts' whole windows shift to 1300, others stay at t0=0
    from opentsdb_aura_spark.operators.robots import host_backoff

    t0 = time.perf_counter()
    hk = hosts.select(
        F.regexp_extract("host", r"^h(\d+)\.example$", 1).cast("long").alias("k")
    )
    ev = hk.where(F.col("k") % 8 == 0).select(
        F.concat(F.lit("http://h"), F.col("k"), F.lit(".example/x")).alias("url"),
        F.lit(1000.0).alias("capture_ts"),
        F.lit(429).alias("status"),
        F.lit("300").alias("retry_after"),
    ).unionByName(
        hk.where(F.col("k") % 16 == 0).select(
            F.concat(F.lit("http://h"), F.col("k"), F.lit(".example/y")).alias("url"),
            F.lit(100.0).alias("capture_ts"),
            F.lit(503).alias("status"),
            F.lit("50").alias("retry_after"),
        )
    )
    bo = host_backoff(ev)
    sched_b = schedule_fetches(
        frontier, delays, priority_col="n_refs", backoff=bo
    ).localCheckpoint()
    shifted, unshifted_bad = (
        sched_b.where(F.col("slot") == 1)
        .agg(
            F.sum((F.col("scheduled_ts") == 1300.0).cast("long")).alias("s"),
            F.sum(
                (
                    (F.substring_index(F.substring_index("host", ".", 1), "h", -1)
                     .cast("long") % 8 != 0)
                    & (F.col("scheduled_ts") != 0.0)
                ).cast("long")
            ).alias("b"),
        ).collect()[0]
    )
    out["backoff_schedule_sec"] = round(time.perf_counter() - t0, 2)
    n_limited = (n_hosts + 7) // 8
    assert shifted == n_limited, (shifted, n_limited)
    assert unshifted_bad == 0, unshifted_bad
    out["limited_hosts_shifted_exact"] = True

    # round-12 stage: RFC 9309 §2.3.1 fetch-status semantics over the
    # planted frontier — per-host robots-fetch statuses cycle through
    # all four access-result paths and the gate outcome is asserted
    # EXACTLY: k%8==0 hosts 503 with no cache (unreachable → complete
    # disallow: the host vanishes from the frontier), k%8==1 hosts 404
    # (unavailable → allow-all: even their planted /tmp/ URL passes),
    # k%8==2 hosts 503 with a 10-day cached copy (the spec's carve-out:
    # cached rules still reject /tmp/), everyone else 200 (rules)
    import math as _math

    t0 = time.perf_counter()
    kk = F.col("k")
    status = hk.select(
        F.concat(F.lit("h"), kk, F.lit(".example")).alias("host"),
        F.when(kk % 8 == 0, 503)
        .when(kk % 8 == 1, 404)
        .when(kk % 8 == 2, 503)
        .otherwise(200)
        .alias("status_code"),
        F.when(kk % 8 == 2, F.lit(10 * 86400.0)).alias("cached_age_s"),
    )
    # every host gets a /tmp probe so all four policy × rule-match
    # combinations exist for every host class
    stage_urls = (
        planted.select("frontier_url")
        .unionByName(hk.select(
            F.concat(F.lit("http://h"), kk, F.lit(".example/tmp/probe")).alias("frontier_url")
        ))
        .distinct()
    )
    verdicts3 = robots_allowed(
        stage_urls, rules,
        agent="other-bot", url_col="frontier_url", fetch_status=status,
    ).localCheckpoint()
    n3 = verdicts3.where(F.col("allowed")).count()
    out["fetch_status_gate_sec"] = round(time.perf_counter() - t0, 2)
    # exact expected survivor count: the planted /tmp/cache URLs land
    # on hosts ≡ 0 (mod gcd(100, n_hosts)); per host — disallow_all 0,
    # allow_all 5 chrome + its probe (+ its /tmp/cache when planted),
    # cached/rules 5 chrome only
    tmp_hosts = set(range(0, n_hosts, _math.gcd(100, n_hosts))) if n_docs >= 100 else set()
    expected = 0
    for k in range(n_hosts):
        c = k % 8
        if c == 0:
            continue
        expected += 5
        if c == 1:
            expected += 1 + (1 if k in tmp_hosts else 0)
    assert n3 == expected, (n3, expected)
    probe3 = {
        r["url"]: (r["allowed"], r["policy"])
        for r in verdicts3.where(
            F.col("url").isin(
                "http://h8.example", "http://h1.example/tmp/probe",
                "http://h2.example/tmp/probe", "http://h3.example/tmp/probe",
            )
        ).collect()
    }
    assert probe3["http://h8.example"] == (False, "disallow_all"), probe3
    assert probe3["http://h1.example/tmp/probe"] == (True, "allow_all"), probe3
    assert probe3["http://h2.example/tmp/probe"] == (False, "cached"), probe3
    assert probe3["http://h3.example/tmp/probe"] == (False, "rules"), probe3
    out["fetch_status_outcomes_exact"] = True
    print(json.dumps(out))


if __name__ == "__main__":
    main()
