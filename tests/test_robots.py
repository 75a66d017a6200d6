"""robots.txt politeness (RFC 9309): parser grouping rules, the
pattern matcher against the RFC's own precedence examples, group
exclusivity, and default-allow — what the catalog oracle's closed-form
fixture can't cover generically."""

from __future__ import annotations

import pytest

from opentsdb_aura_spark.operators.robots import (
    _pattern_to_regex,
    parse_robots_txt,
    robots_allowed,
)


def test_parse_grouping_and_tolerance():
    content = (
        "# comment\n"
        "User-agent: A\n"
        "User-agent: B\n"          # consecutive UA lines share the group
        "Disallow: /x\n"
        "Crawl-delay: 10\n"        # unknown directive tolerated
        "Allow: /x/y\n"            # still the same group (rules continue)
        "\n"
        "User-agent: *\n"
        "Disallow:\n"              # empty pattern = allow-all, NO rule
        "Disallow: /tmp/ # trailing comment\n"
        "junk line without colon\n"
    )
    rules = parse_robots_txt(content)
    assert ("a", "disallow", "/x", 2, "^/x") in rules
    assert ("b", "disallow", "/x", 2, "^/x") in rules
    assert ("a", "allow", "/x/y", 4, "^/x/y") in rules
    star = [r for r in rules if r[0] == "*"]
    assert star == [("*", "disallow", "/tmp/", 5, "^/tmp/")]
    # rules before any User-agent line are invalid and dropped
    assert parse_robots_txt("Disallow: /x\nUser-agent: *\nAllow: /\n") == [
        ("*", "allow", "/", 1, "^/")
    ]


def test_pattern_to_regex_wildcards_and_anchor():
    assert _pattern_to_regex("/fish*") == "^/fish.*"
    assert _pattern_to_regex("/*.php$") == "^/.*\\.php$"
    assert _pattern_to_regex("/a+b") == "^/a\\+b"


def _decide(spark, robots: str, paths, agent="aura-bot"):
    from opentsdb_aura_spark.operators.robots import parse_robots_files

    files = spark.createDataFrame([("h.example", robots)], "host string, content string")
    rules = parse_robots_files(files)
    urls = spark.createDataFrame(
        [(f"http://h.example{p}",) for p in paths], "url string"
    )
    out = robots_allowed(urls, rules, agent=agent)
    return {r["path"]: (r["allowed"], r["matched_pattern"]) for r in out.collect()}


def test_rfc_precedence_examples(spark):
    """RFC 9309 §2.2.2: longest pattern wins; Allow wins exact ties;
    no match defaults to allow."""
    robots = (
        "User-agent: *\n"
        "Allow: /example/page/\n"
        "Disallow: /example/\n"
        "Allow: /tie\n"
        "Disallow: /tie\n"
    )
    got = _decide(spark, robots, [
        "/example/page/", "/example/other", "/tie", "/elsewhere",
    ])
    assert got["/example/page/"] == (True, "/example/page/")
    assert got["/example/other"] == (False, "/example/")
    assert got["/tie"] == (True, "/tie")          # tie -> least restrictive
    assert got["/elsewhere"] == (True, None)       # no match -> allow


def test_wildcard_and_anchor_matching(spark):
    robots = (
        "User-agent: *\n"
        "Disallow: /*.php$\n"
        "Disallow: /fish*bowl\n"
    )
    got = _decide(spark, robots, [
        "/index.php", "/index.php?x=1", "/fishfoodbowl", "/fish", "/a.php/more",
    ])
    assert got["/index.php"][0] is False
    assert got["/index.php?x=1"][0] is True   # $ anchors the end
    assert got["/fishfoodbowl"][0] is False
    assert got["/fish"][0] is True
    assert got["/a.php/more"][0] is True


def test_group_exclusivity_and_fallback(spark):
    """An agent with its OWN group ignores the * group entirely
    (RFC 9309 groups never merge); other agents fall back to *."""
    robots = (
        "User-agent: aura-bot\n"
        "Disallow: /private/\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /tmp/\n"
    )
    mine = _decide(spark, robots, ["/private/x", "/tmp/z"], agent="aura-bot")
    assert mine["/private/x"][0] is False
    assert mine["/tmp/z"][0] is True           # * group does NOT apply
    other = _decide(spark, robots, ["/private/x", "/tmp/z"], agent="other-bot")
    assert other["/private/x"][0] is True
    assert other["/tmp/z"][0] is False
    # agent matching is case-insensitive
    upper = _decide(spark, robots, ["/private/x"], agent="AURA-BOT")
    assert upper["/private/x"][0] is False
    # ...and matches the bare PRODUCT TOKEN: 'Aura-Bot/1.0' must find
    # its own group, not silently fall back to '*' (RFC 9309 §2.2.1)
    versioned = _decide(spark, robots, ["/private/x", "/tmp/z"], agent="Aura-Bot/1.0")
    assert versioned["/private/x"][0] is False
    assert versioned["/tmp/z"][0] is True


def test_no_rules_and_missing_file_default_allow(spark):
    from opentsdb_aura_spark.operators.robots import parse_robots_files

    files = spark.createDataFrame([("h.example", None)], "host string, content string")
    rules = parse_robots_files(files)
    urls = spark.createDataFrame(
        [("http://h.example/any",), ("http://unlisted.example",)], "url string"
    )
    out = {r["url"]: r for r in robots_allowed(urls, rules).collect()}
    assert all(r["allowed"] for r in out.values())
    # a bare-origin URL gets the root path
    assert out["http://unlisted.example"]["path"] == "/"


def test_parse_sitemap_index_entities_and_missing_loc():
    from opentsdb_aura_spark.operators.robots import parse_sitemap_xml

    doc = (
        '<?xml version="1.0"?>\n'
        "<sitemapindex>\n"
        "  <sitemap><loc> http://h.example/maps/a&amp;b.xml </loc>"
        "<lastmod>2024-02-01</lastmod></sitemap>\n"
        "  <sitemap><lastmod>2024-02-02</lastmod></sitemap>\n"  # no loc: skipped
        "</sitemapindex>\n"
        "<urlset><url><loc>http://h.example/p</loc></url></urlset>"
    )
    got = parse_sitemap_xml(doc)
    assert ("sitemap", "http://h.example/maps/a&b.xml", "2024-02-01") in got
    assert ("url", "http://h.example/p", None) in got
    assert len(got) == 2


def test_sitemap_files_null_content_skipped(spark):
    from opentsdb_aura_spark.operators.robots import parse_sitemap_files

    files = spark.createDataFrame(
        [("h.example", None), ("g.example", "<urlset><url><loc>http://g.example/x</loc></url></urlset>")],
        "host string, content string",
    )
    rows = parse_sitemap_files(files).collect()
    assert len(rows) == 1 and rows[0]["host"] == "g.example" and rows[0]["kind"] == "url"


def test_crawl_delay_parse_resolve_schedule(spark):
    """Crawl-delay tolerance + group resolution + slot spacing:
    junk/negative values skip, last-in-group wins, named group beats
    '*' (product-token match), priority orders slots, hosts without a
    delay use the default."""
    from opentsdb_aura_spark.operators.robots import (
        crawl_delay_for,
        parse_crawl_delays,
        schedule_fetches,
    )

    txt = (
        "User-agent: aura-bot\nCrawl-delay: nonsense\nCrawl-delay: 2.5\n\n"
        "User-agent: *\nCrawl-delay: -3\nCrawl-delay: 1\nCrawl-delay: 10\n"
    )
    assert parse_crawl_delays(txt) == [("*", 10.0), ("aura-bot", 2.5)]
    assert parse_crawl_delays("Crawl-delay: 5\n") == []  # before any UA: invalid

    delays = spark.createDataFrame(
        [("a.example", "aura-bot", 2.5), ("a.example", "*", 10.0),
         ("b.example", "*", 3.0)],
        "host string, agent string, crawl_delay double",
    )
    got = {r["host"]: r["crawl_delay"]
           for r in crawl_delay_for(delays, agent="Aura-Bot/1.0").collect()}
    assert got == {"a.example": 2.5, "b.example": 3.0}

    frontier = spark.createDataFrame(
        [("http://a.example/low", 1.0), ("http://a.example/high", 9.0),
         ("http://c.example/x", None)],
        "frontier_url string, prio double",
    )
    sched = {r["frontier_url"]: (r["slot"], r["scheduled_ts"])
             for r in schedule_fetches(
                 frontier,
                 crawl_delay_for(delays, agent="aura-bot"),
                 priority_col="prio", default_delay=7.0, t0=100,
             ).collect()}
    assert sched["http://a.example/high"] == (1, 100.0)
    assert sched["http://a.example/low"] == (2, 102.5)   # spaced by a's 2.5 s
    assert sched["http://c.example/x"] == (1, 100.0)     # no delay row: default


def test_feed_parse_edges():
    """RSS/Atom entry extraction totality: RFC 822 dates with and
    without weekday / named zones / naive-UTC, RFC 3339 with Z, junk
    dates keep the URL but null the hint, link-less entries drop,
    Atom prefers rel=alternate (rel-less defaults to alternate,
    self-only entries drop), CDATA titles pass through literally
    while plain titles entity-decode."""
    from opentsdb_aura_spark.operators.robots import parse_feed_xml

    rss = """<rss version="2.0"><channel><title>chan</title>
      <item><title>A &amp; B</title><link>http://x.example/1</link>
        <pubDate>Mon, 08 Jan 2024 12:34:56 GMT</pubDate></item>
      <item><title><![CDATA[Keep <raw> &amp; literal]]></title>
        <link> http://x.example/2 </link>
        <pubDate>08 Jan 2024 01:00:00 +0200</pubDate></item>
      <item><title>no link, dropped</title></item>
      <item><link>http://x.example/3</link><pubDate>not a date</pubDate></item>
      <item><link>http://x.example/4</link>
        <pubDate>2024-01-08 05:00:00</pubDate></item>
    </channel></rss>"""
    got = parse_feed_xml(rss)
    by_loc = {loc: (kind, title, ts) for kind, loc, title, ts in got}
    assert by_loc["http://x.example/1"] == ("rss", "A & B", 1704717296)
    # CDATA: markup and entities stay literal; +0200 shifts the epoch
    assert by_loc["http://x.example/2"] == (
        "rss", "Keep <raw> &amp; literal", 1704668400,
    )
    assert by_loc["http://x.example/3"] == ("rss", None, None)
    assert "no link" not in str(by_loc)
    assert len(got) == 4

    atom = """<feed xmlns="http://www.w3.org/2005/Atom">
      <entry><title>T1</title>
        <link rel="self" href="http://a.example/feed.xml"/>
        <link rel="alternate" href="http://a.example/p/1"/>
        <updated>2024-01-08T12:34:56Z</updated></entry>
      <entry><title>T2</title><link href='http://a.example/p/2'/>
        <published>2024-01-08T00:00:00+01:00</published></entry>
      <entry><title>self only</title>
        <link rel="self" href="http://a.example/feed.xml"/></entry>
      <entry><link rel="alternate" href="http://a.example/p/3"/>
        <updated>junk</updated></entry>
    </feed>"""
    got = parse_feed_xml(atom)
    by_loc = {loc: (kind, title, ts) for kind, loc, title, ts in got}
    assert by_loc["http://a.example/p/1"] == ("atom", "T1", 1704717296)
    # rel-less link defaults to alternate; published is the fallback
    assert by_loc["http://a.example/p/2"] == ("atom", "T2", 1704668400)
    assert by_loc["http://a.example/p/3"] == ("atom", None, None)
    assert len(got) == 3

    # naive RSS datetime assumes UTC (tolerated by email.utils)
    naive = parse_feed_xml(
        "<item><link>http://n.example/</link>"
        "<pubDate>08 Jan 2024 05:00:00</pubDate></item>"
    )
    assert naive[0][3] == 1704672000 + 5 * 3600
    assert parse_feed_xml("") == []


def test_feed_files_null_content_skipped(spark):
    from opentsdb_aura_spark.operators.robots import parse_feed_files

    files = spark.createDataFrame(
        [("a.example", None), ("b.example", "<item><link>http://b.example/x</link></item>")],
        "host string, content string",
    )
    rows = parse_feed_files(files).collect()
    assert len(rows) == 1 and rows[0]["loc"] == "http://b.example/x"
    assert rows[0]["updated_ts"] is None


def test_host_backoff_and_schedule_shift(spark):
    """429/503 evidence → per-host not-before: delta-seconds relative
    to the response, IMF-fixdate absolute (weekday tolerated), junk →
    default backoff; latest bound wins; non-limited statuses are not
    evidence; the scheduler shifts only the limited host's window."""
    from opentsdb_aura_spark.operators.robots import host_backoff, schedule_fetches

    ev = spark.createDataFrame(
        [
            ("http://a.example/x", 1000.0, 429, "120"),
            ("http://a.example/y", 500.0, 503, "30"),        # older, milder: loses
            ("http://b.example/x", 800.0, 503, "Thu, 01 Feb 2024 00:00:00 GMT"),
            ("http://c.example/x", 2000.0, 429, "soon"),     # junk -> default 60
            ("http://d.example/x", 100.0, 200, "999"),       # 200: not evidence
        ],
        "url string, capture_ts double, status int, retry_after string",
    )
    nb = {r["host"]: (r["not_before_ts"], r["n_limited"])
          for r in host_backoff(ev).collect()}
    assert nb == {
        "a.example": (1120.0, 2),
        "b.example": (1706745600.0, 1),
        "c.example": (2060.0, 1),
    }

    # hostile deltas must never silence a host forever: 'inf', 'nan',
    # negative, and absurd values all fall through to the default
    evil = spark.createDataFrame(
        [("http://e.example/x", 100.0, 429, "inf"),
         ("http://f.example/x", 100.0, 429, "-5"),
         ("http://g.example/x", 100.0, 503, "nan"),
         ("http://i.example/x", 100.0, 429, "9e99")],
        "url string, capture_ts double, status int, retry_after string",
    )
    bounds = {r["host"]: r["not_before_ts"] for r in host_backoff(evil).collect()}
    assert bounds == {"e.example": 160.0, "f.example": 160.0,
                      "g.example": 160.0, "i.example": 160.0}

    frontier = spark.createDataFrame(
        [("http://a.example/1",), ("http://a.example/2",), ("http://z.example/1",)],
        "frontier_url string",
    )
    delays = spark.createDataFrame(
        [("a.example", 2.0)], "host string, crawl_delay double"
    )
    sched = {r["frontier_url"]: r["scheduled_ts"]
             for r in schedule_fetches(
                 frontier, delays, t0=100, backoff=host_backoff(ev)
             ).collect()}
    assert sched["http://a.example/1"] == 1120.0       # shifted window
    assert sched["http://a.example/2"] == 1122.0       # spacing kept
    assert sched["http://z.example/1"] == 100.0        # untouched host
    # a stale bound BEFORE t0 must not pull the schedule earlier
    old_ev = spark.createDataFrame(
        [("http://a.example/x", 10.0, 429, "5")],
        "url string, capture_ts double, status int, retry_after string",
    )
    s2 = {r["frontier_url"]: r["scheduled_ts"]
          for r in schedule_fetches(
              frontier, delays, t0=100, backoff=host_backoff(old_ev)
          ).collect()}
    assert s2["http://a.example/1"] == 100.0


def test_feed_fetch_plan_edges(spark):
    """Never-captured fetches; newer update refetches; older-or-equal
    skips; a missing updated_ts asserts nothing (skip)."""
    from opentsdb_aura_spark.operators.robots import feed_fetch_plan

    feeds = spark.createDataFrame(
        [("u1", 100.0), ("u2", 100.0), ("u3", 100.0), ("u4", None), ("u5", 100.0)],
        "loc string, updated_ts double",
    )
    caps = spark.createDataFrame(
        [("u2", 50.0), ("u3", 100.0), ("u4", 10.0), ("u5", 150.0)],
        "url string, capture_ts double",
    )
    got = {r["loc"]: r["needs_fetch"] for r in feed_fetch_plan(feeds, caps).collect()}
    assert got == {"u1": True, "u2": True, "u3": False, "u4": False, "u5": False}


def test_parse_sitemap_directives_edges():
    """Group-independent extraction: position in the file is
    irrelevant, key case-insensitive, comments stripped, multiple
    kept in order with duplicates, relative/junk values skipped."""
    from opentsdb_aura_spark.operators.robots import parse_sitemap_directives

    content = """# header
User-agent: *
SITEMAP: http://a.example/s1.xml
Disallow: /x
sitemap: http://a.example/s2.xml # trailing comment
Sitemap: /relative/skipped
Sitemap: not a url
Sitemap: http://a.example/s1.xml
"""
    assert parse_sitemap_directives(content) == [
        "http://a.example/s1.xml",
        "http://a.example/s2.xml",
        "http://a.example/s1.xml",
    ]
    assert parse_sitemap_directives("") == []


def test_discovered_xml_urls_edges(spark):
    """Both grammars in one pass: a document carrying BOTH sitemap
    entries and feed entries yields all of them; W3C full datetimes in
    lastmod normalize to epoch like date-only forms; junk dates keep
    the URL with a NULL hint; NULL bodies skip; keep_cols pass
    through."""
    from opentsdb_aura_spark.operators.robots import discovered_xml_urls

    hybrid = (
        "<urlset>"
        "<url><loc>http://x.example/s1</loc><lastmod>2024-01-05</lastmod></url>"
        "<url><loc>http://x.example/s2</loc>"
        "<lastmod>2024-01-05T10:00:00+01:00</lastmod></url>"
        "<url><loc>http://x.example/s3</loc><lastmod>junk</lastmod></url>"
        "</urlset>"
        "<item><link>http://x.example/f1</link>"
        "<pubDate>05 Jan 2024 09:00:00 GMT</pubDate></item>"
    )
    pages = spark.createDataFrame(
        [("http://x.example/both.xml", hybrid, 7), ("http://n.example/none.xml", None, 8)],
        "url string, body string, tag int",
    )
    rows = {(r["loc"]): (r["kind"], r["updated_ts"], r["tag"])
            for r in discovered_xml_urls(pages, keep_cols=("tag",)).collect()}
    assert rows["http://x.example/s1"] == ("url", 1704412800, 7)
    assert rows["http://x.example/s2"] == ("url", 1704412800 + 9 * 3600, 7)
    assert rows["http://x.example/s3"] == ("url", None, 7)
    assert rows["http://x.example/f1"] == ("rss", 1704412800 + 9 * 3600, 7)
    assert len(rows) == 4


def test_robots_fetch_status_semantics(spark):
    """RFC 9309 §2.3.1 access-result edges the oracle fixture can't
    isolate: a host ABSENT from the status dim keeps the rules path;
    an unresolved redirect (raw 3xx) counts as unavailable → allow-all;
    a cached copy EXACTLY at the age bound is still usable (<=); one
    second past it is not; a dim without the cached-age column treats
    every unreachable host as uncached."""
    from opentsdb_aura_spark.operators.robots import parse_robots_txt, robots_allowed

    rules_rows = [
        (h, *tup)
        for h in ("a.example", "b.example", "c.example", "d.example", "e.example")
        for tup in parse_robots_txt("User-agent: *\nDisallow: /tmp/\nAllow: /\n")
    ]
    rules = spark.createDataFrame(
        rules_rows, "host string, agent string, rule string, pattern string, "
        "pattern_len int, regex string"
    )
    urls = spark.createDataFrame(
        [(f"http://{h}.example/tmp/x",) for h in "abcde"], "url string"
    )
    status = spark.createDataFrame(
        [
            ("b.example", 301, None),          # unresolved redirect -> allow_all
            ("c.example", 503, 30 * 86400.0),  # exactly at the bound -> cached
            ("d.example", None, 30 * 86400.0 + 1),  # one past -> disallow_all
            ("e.example", 500, None),          # no cache -> disallow_all
        ],
        "host string, status_code int, cached_age_s double",
    )
    got = {r["host"]: (r["allowed"], r["policy"], r["matched_rule"])
           for r in robots_allowed(urls, rules, fetch_status=status).collect()}
    assert got["a.example"] == (False, "rules", "disallow")   # absent from dim
    assert got["b.example"] == (True, "allow_all", None)
    assert got["c.example"] == (False, "cached", "disallow")
    assert got["d.example"] == (False, "disallow_all", None)
    assert got["e.example"] == (False, "disallow_all", None)

    # without the cached-age column every unreachable host is uncached
    st2 = spark.createDataFrame(
        [("c.example", 503)], "host string, status_code int"
    )
    got2 = {r["host"]: r["policy"]
            for r in robots_allowed(urls, rules, fetch_status=st2).collect()}
    assert got2["c.example"] == "disallow_all"
    assert got2["a.example"] == "rules"


def test_robots_fetch_status_duplicate_hosts_collapse(spark):
    """A status dim with duplicate host rows (re-fetches in a batch)
    must not explode the URL join — verdicts collapse to the MOST
    restrictive policy per host."""
    from opentsdb_aura_spark.operators.robots import parse_robots_txt, robots_allowed

    rules = spark.createDataFrame(
        [("a.example", *t) for t in parse_robots_txt("User-agent: *\nAllow: /\n")],
        "host string, agent string, rule string, pattern string, "
        "pattern_len int, regex string",
    )
    urls = spark.createDataFrame([("http://a.example/x",)], "url string")
    status = spark.createDataFrame(
        [("a.example", 200, None), ("a.example", 503, None)],
        "host string, status_code int, cached_age_s double",
    )
    rows = robots_allowed(urls, rules, fetch_status=status).collect()
    assert len(rows) == 1
    assert rows[0]["policy"] == "disallow_all" and rows[0]["allowed"] is False


def test_resolve_robots_fetches_edges(spark):
    """Redirect-resolution edges the catalog fixture can't isolate:
    a host with NO fetch result at all (unreachable at hop 0); an
    absolute cross-host Location; a chain that terminates at EXACTLY
    max_hops (not exhausted); and one that is still redirecting there
    (exhausted)."""
    from opentsdb_aura_spark.operators.robots import resolve_robots_fetches

    hosts = spark.createDataFrame(
        [("a.example",), ("b.example",), ("c.example",), ("d.example",)],
        "host string",
    )
    rows = [
        # b: absolute cross-host redirect, terminal 200 elsewhere
        ("http://b.example/robots.txt", 301, "http://cdn.example/r.txt"),
        ("http://cdn.example/r.txt", 200, None),
        # c: exactly max_hops redirects then a terminal 200
        ("http://c.example/robots.txt", 301, "/c1"),
        ("http://c.example/c1", 301, "/c2"),
        ("http://c.example/c2", 200, None),
        # d: still redirecting at max_hops
        ("http://d.example/robots.txt", 301, "/d1"),
        ("http://d.example/d1", 301, "/robots.txt"),
    ]
    fetches = spark.createDataFrame(rows, "url string, status_code int, location string")
    got = {r["host"]: (r["final_status"], r["final_url"], r["n_hops"], r["redirect_exhausted"])
           for r in resolve_robots_fetches(hosts, fetches, max_hops=2).collect()}
    assert got["a.example"] == (None, "http://a.example/robots.txt", 0, False)
    assert got["b.example"] == (200, "http://cdn.example/r.txt", 1, False)
    assert got["c.example"] == (200, "http://c.example/c2", 2, False)
    assert got["d.example"][0] == 301 and got["d.example"][3] is True
    # duplicate fetch URL rows fan a chain out (the hop join's row
    # multiplication)
    dup = spark.createDataFrame(
        rows + [("http://b.example/robots.txt", 302, "http://cdn.example/r.txt")],
        "url string, status_code int, location string",
    )
    loc_d = [tuple(r) for r in resolve_robots_fetches(hosts, dup, max_hops=2).collect()]
    assert sum(1 for t in loc_d if t[0] == "b.example") == 2


def test_resolve_robots_null_url_is_unreachable(spark):
    """A NULL host (so a NULL start URL) must not match a fetch row
    whose url is NULL: the hop join never matches NULL, so the chain
    reports unreachable (NULL final status)."""
    from opentsdb_aura_spark.operators.robots import resolve_robots_fetches

    hosts = spark.createDataFrame([("a.example",), (None,)], "host string")
    fetches = spark.createDataFrame(
        [
            ("http://a.example/robots.txt", 200, None),
            (None, 200, None),
            (None, 301, "http://a.example/robots.txt"),
        ],
        "url string, status_code int, location string",
    )

    rows = [tuple(r) for r in resolve_robots_fetches(hosts, fetches, max_hops=2).collect()]
    null_rows = [t for t in rows if t[0] is None]
    assert len(null_rows) == 1 and null_rows[0][1] is None, null_rows  # unreachable


def test_parse_robots_txt_size_cap():
    """RFC 9309 §2.5: rules beyond the 500 KiB processing bound are
    ignored; rules before it survive, including when the cap splits a
    line mid-way (that line drops, nothing crashes)."""
    from opentsdb_aura_spark.operators.robots import parse_robots_txt

    head = "User-agent: *\nDisallow: /tmp/\n"
    filler = "# padding comment line\n" * (512_000 // 23)
    tail = "Allow: /late-rule-beyond-cap\n"
    rules = parse_robots_txt(head + filler + tail)
    patterns = [r[2] for r in rules]
    assert "/tmp/" in patterns
    assert "/late-rule-beyond-cap" not in patterns


def test_sitemap_scope_edges(spark):
    """Scoping edges: ports/userinfo make hosts differ; a loc with no
    parseable host (relative, resolved late) is out of scope here; a
    page_url with no host never admits anything."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.robots import sitemap_scope_ok

    rows = [
        ("http://a.example/s.xml", "http://a.example/x", True),
        ("http://a.example/s.xml", "http://a.example:8080/x", False),  # port differs
        ("http://a.example/s.xml", "https://a.example/x", True),       # scheme-free rule
        ("http://a.example/s.xml", "/relative", False),
        ("no-scheme-page", "http://a.example/x", False),
    ]
    df = spark.createDataFrame([(p, l) for p, l, _ in rows], "p string, l string")
    got = [r["ok"] for r in df.select(sitemap_scope_ok("p", "l").alias("ok")).collect()]
    assert got == [e for _p, _l, e in rows], got
