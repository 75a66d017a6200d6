"""robots.txt crawl politeness (RFC 9309, the Robots Exclusion
Protocol) — the compliance gate between frontier discovery and
scheduling.

The reference has no crawl path (extension surface, like the WARC/WET/
CDX/WAT family); the protocol itself is public: RFC 9309 defines
user-agent groups (consecutive ``User-agent`` lines share the
following rules; a crawler obeys the MOST SPECIFIC matching group and
falls back to ``*``), ``Allow``/``Disallow`` path rules with ``*``
wildcards and a ``$`` end anchor, longest-pattern-wins precedence with
Allow winning ties (§2.2.2), and default-allow when nothing matches.

Scale shape: robots files are a per-HOST dim — thousands of tiny
files next to billions of frontier URLs — so rules parse in one Arrow
pass, compile to regexes AT PARSE TIME, and the compliance check is a
broadcast-joinable host-equi join + one argmax aggregation over the
matched rules.  No shuffle touches the frontier beyond its own
groupBy.

Fixture: :func:`encode_robots_txt` emits a deterministic per-host
file crossing the discriminating cases (agent-specific group presence,
nested Allow-under-Disallow, group exclusivity, the catch-all
``Allow: /``), so the catalog oracle recomputes every decision closed
form; the generic matcher (wildcards, anchors, precedence) is
unit-tested against RFC 9309's own examples.
"""

from __future__ import annotations

import math
import re

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.rowpass import map_rows

# ------------------------------------------------------------------ fixture


def encode_robots_txt(host_idx: int) -> str:
    """Deterministic fixture robots.txt for host ``h{host_idx}.example``:
    even hosts carry an agent-specific group for ``aura-bot`` (which,
    per RFC 9309 group exclusivity, REPLACES the ``*`` group for that
    agent — so even hosts allow /tmp/ to aura-bot); odd hosts carry
    only the catch-all group.  Mirrored closed-form by the catalog
    oracle — change them together."""
    parts = []
    if host_idx % 2 == 0:
        parts.append(
            "User-agent: aura-bot\n"
            "Disallow: /private/\n"
            "Allow: /private/public/\n"
            "Crawl-delay: 2\n"
            "\n"
        )
    parts.append(
        "User-agent: *\nDisallow: /tmp/\nAllow: /\n"
        "Crawl-delay: %d\n" % (1 + host_idx % 5)
    )
    # the sitemaps.org discovery pointer — group-independent, so its
    # position is arbitrary; rule/delay parsers must skip it (RFC 9309
    # tolerance) while parse_sitemap_directives extracts it
    parts.append("Sitemap: http://h%d.example/sitemap.xml\n" % host_idx)
    return "# fixture robots for h%d.example\n" % host_idx + "".join(parts)


def synthesize_robots(hosts: DataFrame, *, host_col: str = "host") -> DataFrame:
    """(host, content) robots files for a hosts dim — fixture hosts are
    ``h<k>.example`` and the file is closed-form in k."""
    return _fixture_files(hosts, host_col, encode_robots_txt, "synthesize_robots")


def _fixture_files(hosts: DataFrame, host_col: str, encode, name: str) -> DataFrame:
    """(host, encode(k)) per fixture host ``h<k>.example`` — the one
    generator pass of the robots, sitemap and feed fixtures."""
    idx = F.regexp_extract(F.col(host_col), r"^h(\d+)\.example$", 1).try_cast("int")
    proj = hosts.select(F.col(host_col).alias("host"), idx.alias("_k"))

    def render(host, k):
        if k is None or pd.isna(k):
            raise ValueError(f"{name}: non-fixture host {host!r}")
        return [(host, encode(int(k)))]

    return map_rows(proj, render, "host string, content string")


def _host_rows(files: DataFrame, parse, schema: str) -> DataFrame:
    """1→many pass over (host, content) files: one (host, *tuple) row
    per tuple ``parse(content)`` returns; a NULL content (no file)
    yields no rows."""

    def rows(host, content):
        if content is None:
            return ()
        return [(host, *t) for t in parse(str(content))]

    return map_rows(files, rows, schema, cols=("host", "content"))


# ------------------------------------------------------------------- parsing


def _pattern_to_regex(pattern: str) -> str:
    """Compile one robots path pattern to a Java-compatible regex:
    literal chars escaped, ``*`` → ``.*`` (any char run, RFC 9309
    §2.2.3), trailing ``$`` → end anchor; match is from the path
    START (prefix semantics)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = []
    for ch in body:
        if ch == "*":
            out.append(".*")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + ("$" if anchored else "")


def parse_robots_txt(content: str) -> list:
    """Parse one robots.txt into rule tuples (agent, rule, pattern,
    pattern_len, regex) per RFC 9309 §2.2: ``#`` comments stripped,
    consecutive ``User-agent`` lines open a group whose Allow/Disallow
    lines apply to every named agent (lowercased — agent matching is
    case-insensitive), empty-pattern rules ignored (``Disallow:``
    alone means allow-all), unknown directives skipped (the spec
    demands tolerance; Crawl-delay/Sitemap are not rules).
    ``pattern_len`` is the rule's octet length — the §2.2.2 precedence
    key."""
    # RFC 9309 §2.5: crawlers MUST process at least 500 KiB and MAY
    # ignore the rest — the cap keeps a pathological multi-GB
    # robots.txt from dominating a parse task; truncating at a byte
    # bound can split a final line, which at worst drops that line
    # (the spec's sanctioned behavior)
    if len(content.encode("utf-8", "ignore")) > 512_000:
        content = content.encode("utf-8", "ignore")[:512_000].decode("utf-8", "ignore")
    rules = []
    current_agents: list[str] = []
    last_was_agent = False
    for raw in content.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue  # tolerate junk lines
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not last_was_agent:
                current_agents = []
            current_agents.append(val.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if key in ("allow", "disallow"):
            if not val or not current_agents:
                continue  # empty pattern = no rule; rules before any UA line are invalid
            for agent in current_agents:
                rules.append(
                    (agent, key, val, len(val.encode()), _pattern_to_regex(val))
                )
    return rules


ROBOTS_RULE_SCHEMA = (
    "host string, agent string, rule string, pattern string, "
    "pattern_len int, regex string"
)


def parse_robots_files(files: DataFrame) -> DataFrame:
    """1→many Arrow pass over (host, content) robots files → one row
    per (agent, rule) with the regex compiled at parse time, so the
    downstream compliance join is pure Catalyst."""
    return _host_rows(files, parse_robots_txt, ROBOTS_RULE_SCHEMA)


# ---------------------------------------------------------------- compliance


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    *,
    agent: str = "aura-bot",
    url_col: str = "url",
    fetch_status: DataFrame | None = None,
    status_col: str = "status_code",
    cached_age_col: str = "cached_age_s",
    cache_max_age_s: int = 30 * 86400,
) -> DataFrame:
    """Per-URL crawl permission under RFC 9309: pick each host's
    applicable GROUP (the agent's own rules when any exist for that
    host, else the ``*`` rules — §2.2.1 group exclusivity: groups
    never merge), match the URL path against the group's patterns,
    and decide by longest pattern with Allow winning ties (§2.2.2);
    no match (or no robots rules at all) defaults to allow.

    Pure Catalyst: rules are a per-host dim — a handful of rows per
    host, so AQE broadcast-picks the join at moderate host counts,
    while a web-scale crawl (tens of millions of hosts) correctly
    falls back to a host-equi shuffle join rather than forcing an
    unbounded broadcast; either way the frontier is shuffled at most
    once more for the decision aggregation.  Returns (url, host,
    path, allowed, matched_rule, matched_pattern).

    ``fetch_status`` (optional per-host dim: host, ``status_col``,
    optional ``cached_age_col`` = age in seconds of a cached rules
    snapshot) applies RFC 9309 §2.3.1's ACCESS-RESULT semantics — the
    half of the spec a rules-only gate misses: a 2xx fetch uses the
    parsed rules; an "unavailable" robots.txt (4xx, or a redirect
    chain the fetcher gave up on, §2.3.1.3-4) means the crawler MAY
    access everything → allow-all; an "unreachable" one (5xx, network
    error = NULL status, §2.3.1.5) means complete disallow — UNLESS a
    cached copy newer than ``cache_max_age_s`` exists (the spec's
    explicit long-outage carve-out), in which case the passed rules
    ARE that cached copy and matching proceeds normally.  Hosts absent
    from the dim keep the rules path.  Adds a ``policy`` column
    (rules | allow_all | cached | disallow_all); the status dim is
    O(hosts), so AQE broadcast-sizes the extra join."""
    # RFC 9309 §2.2.1 matches the PRODUCT TOKEN case-insensitively:
    # a crawler identifying as 'Aura-Bot/1.0' must match an 'aura-bot'
    # group, so strip the /version suffix before the equality compare
    a = str(agent).lower().split("/", 1)[0].strip()
    u = F.col(url_col)
    host = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1)
    path_raw = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", "")
    path = F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    base = urls.select(u.alias("url"), host.alias("host"), path.alias("path"))

    # the rules dim is read THREE times below (named group, the
    # named-host anti-join dim, and the '*' fallback) — pin it once or
    # Catalyst re-derives the caller's whole synthesize→parse lineage
    # per branch (guide §3.3 plan-reuse; the dim is O(hosts), the same
    # size class the pagerank loop checkpoints)
    rules = rules.localCheckpoint(eager=False)

    # group selection: hosts where the agent has its OWN group use only
    # those rules; everything else falls back to '*' rules
    named = rules.where(F.lower(F.col("agent")) == a)
    named_hosts = named.select("host").distinct()
    fallback = rules.where(F.col("agent") == "*").join(
        named_hosts, "host", "left_anti"
    )
    applicable = named.unionByName(fallback).select(
        "host", "rule", "pattern", "pattern_len", "regex"
    )

    joined = base.join(applicable, "host", "left")
    matched = joined.withColumn(
        "_hit", F.col("regex").isNotNull() & F.regexp_like(F.col("path"), F.col("regex"))
    )
    # precedence key: longest pattern wins; Allow wins exact ties —
    # encode as (pattern_len, rule=='allow') lexicographic max via a
    # struct max_by, NULL-safe for unmatched URLs (default allow)
    key = F.when(
        F.col("_hit"),
        F.struct(
            F.col("pattern_len").alias("l"),
            (F.col("rule") == "allow").cast("int").alias("a"),
        ),
    )
    decided = matched.groupBy("url", "host", "path").agg(
        F.max_by(F.col("rule"), key).alias("matched_rule"),
        F.max_by(F.col("pattern"), key).alias("matched_pattern"),
        F.max(F.when(F.col("_hit"), F.lit(1)).otherwise(F.lit(0))).alias("_any"),
    )
    rule_allowed = (
        F.when(F.col("_any") == 0, F.lit(True))
        .otherwise(F.col("matched_rule") == "allow")
    )
    if fetch_status is None:
        return decided.select(
            "url",
            "host",
            "path",
            rule_allowed.alias("allowed"),
            F.when(F.col("_any") == 1, F.col("matched_rule")).alias("matched_rule"),
            F.when(F.col("_any") == 1, F.col("matched_pattern")).alias("matched_pattern"),
        )
    age = (
        F.col(cached_age_col).cast("double")
        if cached_age_col in fetch_status.columns
        else F.lit(None).cast("double")
    )
    st = F.col(status_col).cast("int")
    policy = (
        F.when(st.between(200, 299), F.lit("rules"))
        # §2.3.1.3-4 "unavailable": 4xx, or a redirect the fetcher
        # abandoned (a raw 3xx in the dim) → MAY access any resource
        .when(st.between(300, 499), F.lit("allow_all"))
        # §2.3.1.5 "unreachable": 5xx / network error (NULL status) →
        # complete disallow, unless a fresh-enough cached copy exists
        .otherwise(
            F.when(
                age.isNotNull() & (age <= F.lit(float(cache_max_age_s))),
                F.lit("cached"),
            ).otherwise(F.lit("disallow_all"))
        )
    )
    # one row per host is the dim's contract; if a caller feeds
    # duplicate host rows (e.g. re-fetches in one batch), collapse to
    # the MOST RESTRICTIVE verdict instead of exploding the URL join
    rank = (
        F.when(policy == "disallow_all", 3)
        .when(policy == "cached", 2)
        .when(policy == "rules", 1)
        .otherwise(0)
    )
    pol = (
        fetch_status.groupBy("host")
        .agg(F.max(rank).alias("_rank"))
        .select(
            "host",
            F.when(F.col("_rank") == 3, "disallow_all")
            .when(F.col("_rank") == 2, "cached")
            .when(F.col("_rank") == 1, "rules")
            .otherwise("allow_all")
            .alias("_policy"),
        )
    )
    joined_pol = decided.join(pol, "host", "left").withColumn(
        "_policy", F.coalesce(F.col("_policy"), F.lit("rules"))
    )
    uses_rules = F.col("_policy").isin("rules", "cached")
    return joined_pol.select(
        "url",
        "host",
        "path",
        F.when(F.col("_policy") == "allow_all", F.lit(True))
        .when(F.col("_policy") == "disallow_all", F.lit(False))
        .otherwise(rule_allowed)
        .alias("allowed"),
        F.when(uses_rules & (F.col("_any") == 1), F.col("matched_rule")).alias(
            "matched_rule"
        ),
        F.when(uses_rules & (F.col("_any") == 1), F.col("matched_pattern")).alias(
            "matched_pattern"
        ),
        F.col("_policy").alias("policy"),
    )


# ------------------------------------------------------- sitemap discovery

# The Sitemaps protocol (sitemaps.org, referenced by RFC 9309's
# Sitemap directive) is the crawl frontier's PUSH feed: site owners
# enumerate canonical URLs + lastmod hints.  Parsing is tolerant
# regex extraction (real sitemaps carry namespace variations and junk
# whitespace a strict XML parser chokes on; the protocol's elements
# are flat and unambiguous), one Arrow pass per file.

_RE_SITEMAP_URL = re.compile(r"(?is)<url\b[^>]*>(.*?)</url\s*>")
_RE_SITEMAP_CHILD = re.compile(r"(?is)<sitemap\b[^>]*>(.*?)</sitemap\s*>")
_RE_LOC = re.compile(r"(?is)<loc\b[^>]*>(.*?)</loc\s*>")
_RE_LASTMOD = re.compile(r"(?is)<lastmod\b[^>]*>(.*?)</lastmod\s*>")


def encode_sitemap_xml(host_idx: int, n_urls: int = 3) -> str:
    """Deterministic fixture urlset for host ``h{host_idx}.example``:
    ``n_urls`` entries ``/s/<i>`` with lastmod day (host_idx+i)%28+1 —
    closed-form in (host_idx, i), mirrored by the catalog oracle."""
    rows = []
    for i in range(n_urls):
        day = (host_idx + i) % 28 + 1
        rows.append(
            f"  <url><loc>http://h{host_idx}.example/s/{i}</loc>"
            f"<lastmod>2024-01-{day:02d}</lastmod></url>\n"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        + "".join(rows)
        + "</urlset>\n"
    )


def synthesize_sitemaps(hosts: DataFrame, *, host_col: str = "host") -> DataFrame:
    """(host, content) fixture sitemap files for a hosts dim."""
    return _fixture_files(hosts, host_col, encode_sitemap_xml, "synthesize_sitemaps")


def parse_sitemap_xml(content: str) -> list:
    """Parse one sitemap document into (kind, loc, lastmod) tuples:
    ``url`` entries from a urlset, ``sitemap`` entries from a
    sitemapindex (the child-sitemap pointers a fetcher recurses into).
    loc values are entity-decoded and whitespace-trimmed; entries
    without a <loc> are skipped (the protocol requires it)."""
    import html as _html

    out = []
    for kind, rx in (("url", _RE_SITEMAP_URL), ("sitemap", _RE_SITEMAP_CHILD)):
        for m in rx.finditer(content):
            block = m.group(1)
            locm = _RE_LOC.search(block)
            if not locm:
                continue
            loc = _html.unescape(locm.group(1).strip())
            if not loc:
                continue
            modm = _RE_LASTMOD.search(block)
            lastmod = _html.unescape(modm.group(1).strip()) if modm else None
            out.append((kind, loc, lastmod))
    return out


def parse_sitemap_files(files: DataFrame) -> DataFrame:
    """1→many Arrow pass over (host, content) sitemap documents →
    (host, kind, loc, lastmod) rows — union with the link-discovery
    frontier (both feeds meet at the same canonicalize + politeness
    gates)."""
    return _host_rows(files, parse_sitemap_xml, "host string, kind string, loc string, lastmod string")


# ------------------------------------------------------- feed discovery

# RSS 2.0 / Atom (RFC 4287) feeds are the frontier's FRESHNESS feed:
# where a sitemap enumerates a site's whole canonical URL space, a
# feed pushes the newest entries with real timestamps — the highest-
# value recrawl candidates.  Same tolerant-regex posture as the
# sitemap parser (real feeds carry namespace junk, CDATA, and broken
# entities a strict XML parser chokes on; the elements we need are
# flat), one Arrow pass per file; both feeds meet the link frontier
# at the same canonicalize + politeness gates.

_RE_RSS_ITEM = re.compile(r"(?is)<item\b[^>]*>(.*?)</item\s*>")
_RE_ATOM_ENTRY = re.compile(r"(?is)<entry\b[^>]*>(.*?)</entry\s*>")
_RE_RSS_LINK = re.compile(r"(?is)<link\b[^>]*>(.*?)</link\s*>")
_RE_ATOM_LINK_TAG = re.compile(r"(?is)<link\b[^>]*/?>")
_RE_ATOM_HREF = re.compile(r"""(?is)\bhref\s*=\s*("([^"]*)"|'([^']*)')""")
_RE_ATOM_REL = re.compile(r"""(?is)\brel\s*=\s*("([^"]*)"|'([^']*)')""")
_RE_FEED_TITLE = re.compile(r"(?is)<title\b[^>]*>(.*?)</title\s*>")
_RE_RSS_PUBDATE = re.compile(r"(?is)<pubDate\b[^>]*>(.*?)</pubDate\s*>")
_RE_CDATA = re.compile(r"(?s)<!\[CDATA\[(.*?)\]\]>")
_RE_ATOM_UPDATED = re.compile(r"(?is)<updated\b[^>]*>(.*?)</updated\s*>")
_RE_ATOM_PUBLISHED = re.compile(r"(?is)<published\b[^>]*>(.*?)</published\s*>")


def _feed_epoch(kind: str, raw: str | None) -> int | None:
    """Entry timestamp → epoch seconds: RFC 822 dates for RSS pubDate
    (weekday optional, numeric or named zones), RFC 3339 for Atom
    updated/published (``Z`` suffix normalized).  Naive datetimes
    assume UTC; junk returns None (a broken date must not drop the
    URL — discovery still happens, only the freshness hint is lost)."""
    from datetime import timezone
    from email.utils import parsedate_to_datetime

    if raw is None:
        return None
    s = raw.strip()
    if not s:
        return None
    try:
        if kind == "atom":
            from datetime import datetime

            dt = datetime.fromisoformat(s.replace("Z", "+00:00").replace("z", "+00:00"))
        else:
            dt = parsedate_to_datetime(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp())
    except (ValueError, TypeError, OverflowError):
        return None


def _atom_entry_link(block: str) -> str | None:
    """The entry's subject URL per RFC 4287 §4.2.7.2: among the
    entry's <link> tags, rel="alternate" (or no rel, which defaults to
    alternate) wins; rel="self"/"edit"/enclosure links are feed
    plumbing, not content URLs."""
    for tag in _RE_ATOM_LINK_TAG.findall(block):
        relm = _RE_ATOM_REL.search(tag)
        rel = (relm.group(2) or relm.group(3) or "").strip().lower() if relm else "alternate"
        if rel != "alternate":
            continue
        hm = _RE_ATOM_HREF.search(tag)
        if hm:
            href = (hm.group(2) or hm.group(3) or "").strip()
            if href:
                return href
    return None


def parse_feed_xml(content: str) -> list:
    """Parse one feed document into (kind, loc, title, updated_ts)
    tuples — kind ``rss`` for <item> blocks, ``atom`` for <entry>
    blocks (a file is parsed for both, so hybrid/mislabeled feeds
    still yield).  loc/title entity-decode and trim; entries without a
    resolvable link are skipped (nothing to crawl); Atom falls back
    from <updated> to <published>."""
    import html as _html

    def txt(s: str | None) -> str | None:
        # CDATA sections carry literal text (no entity decode inside);
        # outside CDATA, decode entities — RSS titles use both forms
        if s is None:
            return None
        s = s.strip()
        cm = _RE_CDATA.fullmatch(s)
        out = cm.group(1) if cm else _html.unescape(s)
        return out.strip() or None

    out = []
    for kind, rx in (("rss", _RE_RSS_ITEM), ("atom", _RE_ATOM_ENTRY)):
        for m in rx.finditer(content):
            block = m.group(1)
            if kind == "rss":
                lm = _RE_RSS_LINK.search(block)
                loc = txt(lm.group(1)) if lm else None
                dm = _RE_RSS_PUBDATE.search(block)
            else:
                loc = _atom_entry_link(block)
                loc = _html.unescape(loc) if loc else None
                dm = _RE_ATOM_UPDATED.search(block) or _RE_ATOM_PUBLISHED.search(block)
            if not loc:
                continue
            tm = _RE_FEED_TITLE.search(block)
            title = txt(tm.group(1)) if tm else None
            out.append((kind, loc, title, _feed_epoch(kind, dm.group(1) if dm else None)))
    return out


def encode_feed_xml(host_idx: int, n_items: int = 3) -> str:
    """Deterministic fixture feed for host ``h{host_idx}.example`` —
    RSS 2.0 for even idx, Atom for odd (both wire formats exercised in
    one catalog pass): ``n_items`` entries ``/f/<i>`` titled
    ``Post <i> &amp; more`` (entity decode pinned) dated
    2024-01-<(idx+i)%28+1> at hour ``i`` UTC — closed-form in
    (host_idx, i), mirrored by the catalog oracle.  The Atom variant
    carries a rel="self" link BEFORE each alternate link, so a parser
    that grabs the first href hashes wrong."""
    k = int(host_idx)
    items = []
    if k % 2 == 0:
        for i in range(n_items):
            day = (k + i) % 28 + 1
            items.append(
                f"  <item><title>Post {i} &amp; more</title>"
                f"<link>http://h{k}.example/f/{i}</link>"
                f"<pubDate>{day:02d} Jan 2024 {i:02d}:00:00 +0000</pubDate></item>\n"
            )
        return (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<rss version="2.0"><channel>\n'
            f"  <title>h{k} feed</title><link>http://h{k}.example/</link>\n"
            + "".join(items)
            + "</channel></rss>\n"
        )
    for i in range(n_items):
        day = (k + i) % 28 + 1
        items.append(
            f"  <entry><title>Post {i} &amp; more</title>"
            f'<link rel="self" href="http://h{k}.example/feed.xml"/>'
            f'<link rel="alternate" href="http://h{k}.example/f/{i}"/>'
            f"<updated>2024-01-{day:02d}T{i:02d}:00:00Z</updated></entry>\n"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<feed xmlns="http://www.w3.org/2005/Atom">\n'
        f"  <title>h{k} feed</title>\n"
        + "".join(items)
        + "</feed>\n"
    )


def synthesize_feeds(hosts: DataFrame, *, host_col: str = "host") -> DataFrame:
    """(host, content) fixture feed files for a hosts dim."""
    return _fixture_files(hosts, host_col, encode_feed_xml, "synthesize_feeds")


def parse_feed_files(files: DataFrame) -> DataFrame:
    """1→many Arrow pass over (host, content) feed documents →
    (host, kind, loc, title, updated_ts) rows — union with the
    link/sitemap frontier (same canonicalize + politeness gates); the
    epoch updated_ts feeds recrawl_schedule / fetch planning directly,
    no further date parsing downstream."""
    return _host_rows(
        files, parse_feed_xml, "host string, kind string, loc string, title string, updated_ts long"
    )


def parse_sitemap_directives(content: str) -> list:
    """Extract the ``Sitemap:`` pointers from one robots.txt — the
    directive that actually ANNOUNCES sitemaps (sitemaps.org's
    robots.txt discovery mechanism, echoed by RFC 9309's tolerance
    rule): group-INDEPENDENT (it applies regardless of user-agent
    groups, so no group state here), case-insensitive key, full URL
    value, multiple allowed (order kept, duplicates kept — the file
    said it twice).  Values that don't look like absolute URLs are
    skipped (the spec requires a full URL; a junk value must not
    schedule a fetch of garbage)."""
    out = []
    for raw in content.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, sep, val = line.partition(":")
        if not sep or key.strip().lower() != "sitemap":
            continue
        val = val.strip()
        if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", val):
            out.append(val)
    return out


def parse_sitemap_directive_files(files: DataFrame) -> DataFrame:
    """1→many Arrow pass over (host, content) robots files →
    (host, sitemap_url) rows — the missing first hop of the sitemap
    chain (robots.txt announces → fetch → parse_sitemap_files →
    frontier)."""
    return _host_rows(
        files, lambda c: [(url,) for url in parse_sitemap_directives(c)],
        "host string, sitemap_url string",
    )


def discovered_xml_urls(
    pages: DataFrame,
    *,
    url_col: str = "url",
    body_col: str = "body",
    charset_col: str | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Parse FETCHED XML discovery documents — the crawl loop eating
    its own discoveries: a crawler that follows a robots ``Sitemap:``
    pointer or an autodiscovered feed link gets an XML body back, and
    this pass turns those bodies into the next frontier candidates.
    Both grammars run over every document (a sitemap and a feed are
    cheap to distinguish but expensive to mislabel — real servers ship
    feeds as text/xml and sitemaps as octet-stream): urlset/
    sitemapindex entries surface as kind ``url``/``sitemap`` (child
    pointers a fetcher recurses into), feed entries as ``rss``/
    ``atom`` with their epoch timestamps.  Returns (page_url, kind,
    loc, updated_ts) — loc resolution/canonicalization and the
    politeness gates are the caller's, SAME as extracted links.

    1→many Arrow pass, no shuffle; ``charset_col`` consumes the body
    as bytes decoded per row (the streaming seam), else as string;
    ``keep_cols`` pass through unchanged (the streaming loop keeps the
    record's doc_id for the frontier edge)."""
    from opentsdb_aura_spark.operators.htmltext import _decode_page, _keep_fields

    in_fields = _keep_fields(pages, keep_cols, charset_col)
    base_cols = [F.col(url_col).alias("_url")]
    if charset_col is not None:
        base_cols.append(F.col(charset_col).cast("string").alias("_charset"))
        base_cols.append(F.col(body_col).cast("binary").alias("_body"))
    else:
        base_cols.append(F.col(body_col).cast("string").alias("_body"))
    proj = pages.select(*base_cols, *keep_cols)
    with_charset = charset_col is not None
    out_schema = "page_url string, kind string, loc string, updated_ts long" + "".join(
        f", {c} {in_fields[c]}" for c in keep_cols
    )

    def entries(*row):
        if with_charset:
            url, charset, body, *keys = row
        else:
            url, body, *keys = row
            charset = None
        if body is None:
            return []
        if (
            with_charset
            and isinstance(body, (bytes, bytearray))
            and body[:2] == b"\x1f\x8b"
        ):
            # sitemaps.org allows gzipped sitemaps (.xml.gz);
            # the fetch loop admits them by path suffix, so the
            # raw gzip member must be inflated here or the
            # document parses to zero entries.  Magic-byte
            # sniff, not suffix: servers gzip mislabeled paths
            # too, and a truncated/corrupt member degrades to
            # the empty entry set rather than failing the batch
            import gzip as _gzip

            try:
                body = _gzip.decompress(bytes(body))
            except OSError:
                return []
        src = _decode_page(body, charset) if with_charset else str(body)
        # lastmod normalizes to the SAME epoch column the feed entries
        # carry (W3C dates are RFC 3339's date subset; junk stays None)
        out = [
            (url, kind, loc, _feed_epoch("atom", lastmod), *keys)
            for kind, loc, lastmod in parse_sitemap_xml(src)
        ]
        out += [(url, kind, loc, ts, *keys) for kind, loc, _title, ts in parse_feed_xml(src)]
        return out

    return map_rows(proj, entries, out_schema)


def feed_fetch_plan(
    feed_urls: DataFrame,
    captures: DataFrame,
    *,
    loc_col: str = "loc",
    updated_col: str = "updated_ts",
    url_col: str = "url",
    ts_col: str = "capture_ts",
) -> DataFrame:
    """Conditional discovery for FEED entries — the epoch-native
    counterpart of :func:`sitemap_fetch_plan` (feeds already carry a
    real timestamp, parsed to epoch by :func:`parse_feed_files`, so
    there is no date-grammar step here): never-captured entries always
    fetch; an entry updated after its last capture refetches; an
    older-or-equal update (or a missing one, which asserts nothing)
    skips.  Same shape: one groupBy on the capture url + one equi-join
    onto the O(listed) feed dim.  Returns (loc, updated_ts,
    last_capture_ts, needs_fetch)."""
    last_cap = captures.groupBy(F.col(url_col).alias("loc")).agg(
        F.max(F.col(ts_col).cast("double")).alias("last_capture_ts")
    )
    planned = feed_urls.select(
        F.col(loc_col).alias("loc"),
        F.col(updated_col).cast("double").alias("updated_ts"),
    ).join(last_cap, "loc", "left")
    needs = (
        F.when(F.col("last_capture_ts").isNull(), F.lit(True))
        .when(F.col("updated_ts").isNull(), F.lit(False))
        .otherwise(F.col("updated_ts") > F.col("last_capture_ts"))
    )
    return planned.select(
        "loc", "updated_ts", "last_capture_ts", needs.alias("needs_fetch")
    )


# ------------------------------------------------------ crawl-delay scheduling

# Crawl-delay is not an RFC 9309 rule (the spec's parsers must
# tolerate-and-skip it, and parse_robots_txt does) but it IS the
# de-facto politeness knob a large share of real robots.txt files
# carry: the minimum seconds between successive fetches from one
# host.  A polite scheduler turns "frontier + per-host delay" into
# per-URL fetch timestamps — the last step between ranking and
# actually issuing requests.


def parse_crawl_delays(content: str) -> list:
    """Extract (agent, crawl_delay) pairs from one robots.txt using
    the SAME group structure as :func:`parse_robots_txt` (consecutive
    User-agent lines share the directive; group exclusivity applies at
    resolution).  Non-numeric or negative values are ignored (the
    tolerant treatment — a junk delay must not stall a host forever);
    repeated delays in one group keep the last."""
    out: dict[str, float] = {}
    current_agents: list[str] = []
    last_was_agent = False
    for raw in content.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not last_was_agent:
                current_agents = []
            current_agents.append(val.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if key == "crawl-delay" and current_agents:
            try:
                delay = float(val)
            except ValueError:
                continue
            if delay < 0 or not math.isfinite(delay):
                continue  # junk/hostile values ('1e400', 'nan') must not stall a host forever
            for agent in current_agents:
                out[agent] = delay
    return sorted(out.items())


def parse_crawl_delay_files(files: DataFrame) -> DataFrame:
    """1→many Arrow pass over (host, content) robots files → one
    (host, agent, crawl_delay) row per group that declares a delay —
    the per-host politeness dim next to the rules dim."""
    return _host_rows(files, parse_crawl_delays, "host string, agent string, crawl_delay double")


def crawl_delay_for(delays: DataFrame, *, agent: str = "aura-bot") -> DataFrame:
    """Resolve the per-host delay for one crawler: the agent's OWN
    group wins over ``*`` (the same group-exclusivity rule as path
    rules; product-token matching, case-insensitive).  Returns
    (host, crawl_delay) — one row per host that declares any delay;
    hosts with none are absent (callers left-join and apply their
    default).  Pure Catalyst: one max_by groupBy over the tiny dim."""
    a = str(agent).lower().split("/", 1)[0].strip()
    mine = delays.where(F.lower(F.col("agent")).isin(a, "*"))
    pref = (F.lower(F.col("agent")) == a).cast("int")
    return mine.groupBy("host").agg(
        F.max_by(F.col("crawl_delay"), pref).alias("crawl_delay")
    )


def host_backoff(
    responses: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "capture_ts",
    status_col: str = "status",
    retry_after_col: str = "retry_after",
    default_backoff: float = 60.0,
) -> DataFrame:
    """Per-host rate-limit backoff from response evidence (RFC 9110
    §10.2.3): a ``429 Too Many Requests`` or ``503 Service
    Unavailable`` says stop, and its ``Retry-After`` header says until
    WHEN — delta-seconds (``"120"``) relative to the response time, or
    an IMF-fixdate absolute bound; a limited response without the
    header (or with junk) backs off ``default_backoff`` from its own
    timestamp.  Per host, the LATEST bound wins (one fresh 429
    silences the host even if older responses were milder).

    One map-side-combined groupBy on the host key — the dim
    :func:`schedule_fetches` ``backoff`` consumes.  Returns
    (host, not_before_ts, n_limited)."""
    u = F.col(url_col)
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1), r":\d+$", ""
        )
    )
    ts = F.col(ts_col).cast("double")
    ra = F.trim(F.col(retry_after_col))
    # delta-seconds must be a FINITE non-negative number: 'inf'/'nan'/
    # '-5' from a hostile or broken server must not silence the host
    # forever (the crawl-delay parser applies the same rejection) —
    # invalid deltas fall through to the date form, then the default
    raw_delta = ra.try_cast("double")
    delta = F.when((raw_delta >= 0) & (raw_delta <= F.lit(3.2e9)), raw_delta)
    # IMF-fixdate form; the weekday prefix strips first (Spark's new
    # parser forbids day-name fields in parse patterns) and
    # try_to_timestamp keeps junk NULL instead of an ANSI abort
    # (session tz is UTC, so the cast is epoch seconds)
    abs_ts = F.try_to_timestamp(
        F.regexp_replace(ra, r"^[A-Za-z]{3},\s*", ""),
        F.lit("dd MMM yyyy HH:mm:ss 'GMT'"),
    ).cast("double")
    not_before = F.coalesce(
        ts + delta, abs_ts, ts + F.lit(float(default_backoff))
    )
    limited = responses.where(F.col(status_col).isin(429, 503)).select(
        host.alias("host"), not_before.alias("_nb")
    ).where(F.col("host") != "")
    return limited.groupBy("host").agg(
        F.max("_nb").alias("not_before_ts"),
        F.count("*").cast("long").alias("n_limited"),
    )


def schedule_fetches(
    frontier: DataFrame,
    delays: DataFrame,
    *,
    url_col: str = "frontier_url",
    priority_col: str | None = None,
    default_delay: float = 1.0,
    t0: int = 0,
    backoff: DataFrame | None = None,
) -> DataFrame:
    """Turn a ranked frontier into per-URL FETCH TIMESTAMPS honoring
    each host's crawl delay: URLs group by host, order by priority
    (descending, NULLs last; URL as the deterministic tiebreak), and
    slot k fetches at ``t0 + (k-1) * delay`` — the earliest schedule
    that never violates the host's minimum spacing while serving
    higher-priority pages first.  ``delays`` is
    :func:`crawl_delay_for` output; hosts without a declared delay
    use ``default_delay``.

    Scale shape: ONE window partitioned by host (the same key the
    politeness join already shuffles on — a real frontier is already
    host-bucketed at rest) + one host-equi join of the O(hosts) delay
    dim, left to AQE to size (at tens of millions of hosts the dim
    must be ALLOWED to shuffle — forcing a broadcast here is the
    anti-pattern the robots rules join already fixed).  No global
    sort: the schedule is per-host by construction, which is exactly
    how fetcher fleets shard.  Returns (frontier_url, host, slot,
    scheduled_ts).

    ``backoff`` (a :func:`host_backoff` dim: host, not_before_ts)
    shifts a rate-limited host's whole schedule to start at its
    Retry-After bound instead of ``t0`` (slots keep their spacing —
    the 429 moved the window, not the politeness delay).  Another
    host-keyed AQE-sized join, no new shuffle pattern."""
    from pyspark.sql.window import Window

    u = F.col(url_col)
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1), r":\d+$", ""
        )
    )
    base = frontier.withColumn("host", host).where(F.col("host") != "")
    order = (
        [F.col(priority_col).desc_nulls_last(), u.asc()]
        if priority_col is not None
        else [u.asc()]
    )
    w = Window.partitionBy("host").orderBy(*order)
    joined = base.join(delays, "host", "left")
    start = F.lit(float(t0))
    if backoff is not None:
        joined = joined.join(
            backoff.select("host", "not_before_ts"), "host", "left"
        )
        start = F.greatest(start, F.coalesce(F.col("not_before_ts"), start))
    slot = F.row_number().over(w)
    return joined.select(
        u.alias("frontier_url"),
        "host",
        slot.alias("slot"),
        (
            start
            + (slot - 1) * F.coalesce(F.col("crawl_delay"), F.lit(float(default_delay)))
        ).alias("scheduled_ts"),
    )


def sitemap_fetch_plan(
    sitemap_urls: DataFrame,
    captures: DataFrame,
    *,
    loc_col: str = "loc",
    lastmod_col: str = "lastmod",
    url_col: str = "url",
    ts_col: str = "capture_ts",
) -> DataFrame:
    """Conditional DISCOVERY: the sitemap's ``lastmod`` hint against
    the capture history decides which listed URLs are worth a fetch —
    never-captured URLs always fetch; a URL whose lastmod is newer
    than its last capture refetches; an older-or-equal lastmod (or a
    missing one, which asserts nothing) skips — the sitemaps-protocol
    half of the 304/wait-doubling bandwidth story.  Returns
    (loc, lastmod_ts, last_capture_ts, needs_fetch).

    One groupBy on the capture url + one equi-join onto the O(listed)
    sitemap dim; lastmod parses as a date (the protocol allows full
    W3C datetimes — extend the format here if a feed uses them)."""
    last_cap = captures.groupBy(F.col(url_col).alias("loc")).agg(
        F.max(F.col(ts_col).cast("double")).alias("last_capture_ts")
    )
    lm = F.to_timestamp(F.col(lastmod_col), "yyyy-MM-dd").cast("double")
    planned = sitemap_urls.select(
        F.col(loc_col).alias("loc"), lm.alias("lastmod_ts")
    ).join(last_cap, "loc", "left")
    needs = (
        F.when(F.col("last_capture_ts").isNull(), F.lit(True))
        .when(F.col("lastmod_ts").isNull(), F.lit(False))
        .otherwise(F.col("lastmod_ts") > F.col("last_capture_ts"))
    )
    return planned.select(
        "loc", "lastmod_ts", "last_capture_ts", needs.alias("needs_fetch")
    )


def resolve_robots_fetches(
    hosts: DataFrame,
    fetches: DataFrame,
    *,
    max_hops: int = 5,
    host_col: str = "host",
    url_col: str = "url",
    status_col: str = "status_code",
    location_col: str = "location",
) -> DataFrame:
    """RFC 9309 §2.3.1.2 redirect following for the robots.txt fetch
    itself: starting from ``http://<host>/robots.txt``, chase each
    3xx's Location through the per-URL fetch-result dim for at most
    ``max_hops`` hops (the spec's "at least five consecutive
    redirects" floor), producing the per-host access result
    :func:`robots_allowed`'s ``fetch_status`` consumes.

    Outcomes map exactly onto the spec's buckets: a terminal non-3xx
    status is the host's result; a chain still redirecting after
    ``max_hops`` reports its last 3xx status — which robots_allowed
    already treats as "unavailable" → allow-all (§2.3.1.3: crawlers
    MAY assume unavailable after five redirects); a Location pointing
    at a URL the fetcher has no result for reports NULL — the
    "unreachable" bucket → disallow-all.  Relative Locations resolve
    against the redirecting URL.

    Scale shape: ``max_hops`` bounded equi-joins of the O(hosts)
    state against the O(fetches) dim — both crawl-metadata sized, AQE
    broadcast-picks the smaller side; no explode, no Python.
    Returns (host, final_status, final_url, n_hops,
    redirect_exhausted)."""
    from opentsdb_aura_spark.operators.containers import resolve_href

    if int(max_hops) < 1:
        raise ValueError(f"resolve_robots_fetches: max_hops must be >= 1, got {max_hops}")
    # pinned once: the dim is read by max_hops+1 joins, and each hop's
    # join feeds TWO branches (finished ∪ next state) — without the
    # lazy checkpoints Catalyst re-derives the whole chain per union
    # branch, a quadratic cascade of stages over crawl-metadata-sized
    # frames (observed: ~50 stages for 20 hosts); with them each hop
    # materializes exactly once (the pagerank loop discipline)
    f = fetches.select(
        F.col(url_col).alias("_u"),
        F.col(status_col).cast("int").alias("_st"),
        F.col(location_col).alias("_loc"),
    ).localCheckpoint(eager=False)
    state = hosts.select(
        F.col(host_col).alias("host"),
        F.concat(F.lit("http://"), F.col(host_col), F.lit("/robots.txt")).alias("_cur"),
        F.lit(0).alias("n_hops"),
    )
    done = None
    for _ in range(int(max_hops)):
        j = state.join(f, state["_cur"] == f["_u"], "left").localCheckpoint(
            eager=False
        )
        redirecting = (
            F.col("_st").between(300, 399) & F.col("_loc").isNotNull()
        )
        finished = j.where(~F.coalesce(redirecting, F.lit(False))).select(
            "host",
            F.col("_st").alias("final_status"),  # NULL = no fetch result: unreachable
            F.col("_cur").alias("final_url"),
            "n_hops",
            F.lit(False).alias("redirect_exhausted"),
        )
        done = finished if done is None else done.unionByName(finished)
        state = j.where(F.coalesce(redirecting, F.lit(False))).select(
            "host",
            resolve_href(F.col("_cur"), F.col("_loc")).alias("_cur"),
            (F.col("n_hops") + 1).alias("n_hops"),
        )
    # chains that redirected max_hops times: report the current URL's
    # fetch result as-is; redirect_exhausted marks only the chains
    # STILL redirecting there (the §2.3.1.3 unavailable bucket — their
    # 3xx final_status maps to allow-all downstream), not a chain that
    # happened to terminate at exactly max_hops
    jl = state.join(f, state["_cur"] == f["_u"], "left")
    still = F.coalesce(
        F.col("_st").between(300, 399) & F.col("_loc").isNotNull(), F.lit(False)
    )
    exhausted = jl.select(
        "host",
        F.col("_st").alias("final_status"),
        F.col("_cur").alias("final_url"),
        "n_hops",
        still.alias("redirect_exhausted"),
    )
    return done.unionByName(exhausted)


def sitemap_scope_ok(page_url, loc) -> "F.Column":
    """sitemaps.org location scoping: a sitemap "can only include URLs
    from the same host" it is served from — a sitemap on one host must
    not inject frontier entries for another (cross-host submission is
    only valid via a robots.txt ``Sitemap:`` pointer ON THE TARGET
    host, which arrives through the robots path instead).  Hosts
    compare case-insensitively; an entry whose URL has no parseable
    host is out of scope (relative locs resolve BEFORE this check).

    DELIBERATE DEVIATION from the sitemaps.org letter: the spec also
    requires the loc to use the same *protocol* as the sitemap, but
    this check compares host only — an http:// sitemap may admit
    https:// locations (and vice versa).  Real sites serve one sitemap
    across the http→https migration, and the crawl loop treats the two
    schemes as one origin everywhere else (canonicalize_url), so
    scheme is intentionally relaxed here; pinned by
    test_sitemap_scope_edges.  One null-safe comparison — composes
    into the discovery projection with no join."""
    host_re = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)"
    u = F.col(page_url) if isinstance(page_url, str) else page_url
    l_ = F.col(loc) if isinstance(loc, str) else loc
    uh = F.lower(F.regexp_extract(u, host_re, 1))
    lh = F.lower(F.regexp_extract(l_, host_re, 1))
    return (uh != "") & (lh != "") & (uh == lh)
