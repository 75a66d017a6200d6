"""HTML → text extraction: boilerplate-stripped page text for the
LLM-data pipeline, plus the deterministic fixture-page renderer that
gives the extractor a FULL value-hash oracle.

A crawl pipeline's step after HTTP envelope splitting
(containers.http_responses) is turning HTML bytes into training text:
drop non-content elements (script/style/comments/head), decode
character entities, normalize whitespace, and strip link-farm
boilerplate (nav bars, footers) by the classic link-density rule —
blocks whose visible characters are mostly anchor text are chrome,
not content (Kohlschütter et al., "Boilerplate Detection using
Shallow Text Features", WSDM 2010 — the density feature, not the
trained classifier).

Test strategy mirrors containers.py's WARC trick: fixture pages are
RENDERED deterministically from document text by
:func:`render_fixture_html` (entities injected, script/style traps,
two pure-link blocks, head section), so the DuckDB oracle recomputes
the exact extracted title/text/block-counts from the generation rule
alone — the extractor is value-hash-checked end to end, including
through the WARC → HTTP → HTML composition.

Scale shape: one Arrow-batched 1→1 pass (``rowpass.map_rows``), no shuffle,
no state across rows — embarrassingly parallel by document, the same
posture as the container parsers.  Regex-based extraction is the
documented boundary: attribute values containing ``>`` and unclosed
tag soup degrade gracefully (extra/missing block splits) but are not
spec-parsed; a production deployment can swap a real parser into the
same row-pass seam without touching the plan shape.

The reference has no HTML path at all (extension surface per the
driver's brief).
"""

from __future__ import annotations

import html as _htmllib
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.rowpass import map_rows

# Tags that end a text block (HTML5 flow-content boundaries).  <br>
# and <hr> count: they break lines visually, so they bound blocks for
# link-density purposes too.
_BLOCK_TAGS = (
    "p|div|h[1-6]|li|ul|ol|dl|dt|dd|br|hr|tr|td|th|table|thead|tbody|tfoot|"
    "nav|header|footer|section|article|aside|main|blockquote|pre|form|"
    "fieldset|figure|figcaption|body|html"
)

_RE_COMMENT = re.compile(r"<!--.*?-->", re.S)
_RE_DROP = re.compile(r"(?is)<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>")
_RE_HEAD = re.compile(r"(?is)<head\b[^>]*>.*?</head\s*>")
_RE_TITLE = re.compile(r"(?is)<title\b[^>]*>(.*?)</title\s*>")
_RE_BLOCK_SPLIT = re.compile(rf"(?is)</?(?:{_BLOCK_TAGS})\b[^>]*>")
_RE_ANCHOR = re.compile(r"(?is)<a\b[^>]*>(.*?)</a\s*>")
_RE_TAG = re.compile(r"(?s)<[^>]*>")
_RE_WS = re.compile(r"\s+")


def _norm(s: str) -> str:
    """Collapse runs of whitespace to single spaces and trim — the
    same ``regexp_replace(s, '\\s+', ' ')`` + trim the oracle applies."""
    return _RE_WS.sub(" ", s).strip()


def _visible(fragment: str) -> str:
    """Visible text of an HTML fragment: strip remaining (inline)
    tags, THEN entity-decode (so ``&lt;tag&gt;`` survives as literal
    text instead of being stripped), then whitespace-normalize."""
    return _norm(_htmllib.unescape(_RE_TAG.sub("", fragment)))


def extract_html_text(src: str, *, boilerplate_threshold: float = 0.5) -> tuple:
    """Extract (title, text, n_blocks, n_boilerplate, link_chars,
    text_chars) from one HTML page.

    Pipeline: drop comments and script/style/noscript/template
    elements with their content; lift the <title>; drop the <head>
    section; split the remainder into blocks at block-level tag
    boundaries; per block, compute visible text and the summed length
    of anchor-element text — a block with links whose density
    (anchor chars / block chars) exceeds ``boilerplate_threshold`` is
    boilerplate and excluded from ``text``.  Kept blocks join with
    newlines (line structure feeds C4-style line dedup downstream).
    Counters cover ALL non-empty blocks, kept and dropped."""
    title, blocks = _walk_blocks(src, boilerplate_threshold)
    kept: list[str] = []
    n_blocks = n_boiler = link_chars = text_chars = 0
    for _idx, txt, _n_words, a_chars, t_chars, _dens, boiler in blocks:
        n_blocks += 1
        link_chars += a_chars
        text_chars += t_chars
        if boiler:
            n_boiler += 1
        else:
            kept.append(txt)
    return title, "\n".join(kept), n_blocks, n_boiler, link_chars, text_chars


def _walk_blocks(src: str, boilerplate_threshold: float) -> tuple:
    """The single block walk behind :func:`extract_html_text` and
    :func:`extract_html_blocks`: strip comments / dropped elements /
    head, lift the title, split at block-tag boundaries, and emit one
    tuple per NON-EMPTY block — (block_idx, text, n_words, link_chars,
    text_chars, link_density, is_boilerplate).  The densitometric
    features are Kohlschütter et al. (WSDM 2010)'s two strongest
    block-local signals (word count + anchor-text density); the
    boilerplate decision here is the anchor-density rule the page
    extractor has always applied, so both callers classify
    identically by construction."""
    s = _RE_COMMENT.sub(" ", src)
    s = _RE_DROP.sub(" ", s)
    m = _RE_TITLE.search(s)
    title = _visible(m.group(1)) if m else None
    s = _RE_HEAD.sub(" ", s)
    s = _RE_TITLE.sub(" ", s)  # a <title> outside <head> is still chrome

    blocks = []
    idx = 0
    for seg in _RE_BLOCK_SPLIT.split(s):
        txt = _visible(seg)
        if not txt:
            continue
        a_chars = sum(len(_visible(g)) for g in _RE_ANCHOR.findall(seg))
        density = a_chars / len(txt)
        boiler = a_chars > 0 and density > boilerplate_threshold
        blocks.append(
            (idx, txt, len(txt.split()), a_chars, len(txt), density, boiler)
        )
        idx += 1
    return title, blocks


def extract_html_blocks(src: str, *, boilerplate_threshold: float = 0.5) -> list:
    """Block-level extraction surface: one tuple per non-empty block
    with the Kohlschütter densitometric features (word count, anchor
    chars, text chars, link density) and the boilerplate verdict —
    what a curation stack inspects to TUNE the threshold, where
    :func:`extract_html_text` returns only the page-level outcome.
    Same walk, same rule: (block_idx, text, n_words, link_chars,
    text_chars, link_density, is_boilerplate)."""
    _title, blocks = _walk_blocks(src, boilerplate_threshold)
    return blocks


# WHATWG Encoding Standard label → codec overrides: pages declared
# latin-1/ascii are windows-1252 in practice (browsers decode them so,
# and real pages labeled iso-8859-1 routinely carry 0x80-0x9F smart
# quotes that strict latin-1 maps to C1 control characters).
# cp1252 is a strict superset of printable latin-1, so correctly-
# labeled pure latin-1 pages decode identically.
# The WHATWG Encoding Standard's full windows-1252 label set (the
# spec's "labels" table) — Python's registry resolves several of these
# to STRICT latin-1 (or not at all), while every browser decodes them
# as windows-1252; 0x80-0x9F smart quotes must not become C1 controls.
_WHATWG_ALIASES = {
    label: "cp1252"
    for label in (
        "ansi_x3.4-1968", "ascii", "cp819", "cp1252", "csisolatin1",
        "ibm819", "iso-8859-1", "iso8859-1", "iso88591", "iso_8859-1",
        "iso_8859-1:1987", "iso-ir-100", "l1", "latin1", "latin-1",
        "us-ascii", "windows-1252", "x-cp1252",
    )
}


# charset parameter inside an http-equiv Content-Type meta's content
# attribute value (e.g. content="text/html; charset=utf-8")
_RE_CHARSET_PARAM = re.compile(r"(?i)charset\s*=\s*[\"']?\s*([a-zA-Z0-9._:-]+)")
# comment spans within the prescan window; an unterminated comment at
# the window edge is skipped to end-of-window (WHATWG prescan skips
# comments wholesale, so a commented-out stale <meta charset=...>
# must never win)
_RE_PRESCAN_COMMENT = re.compile(r"<!--.*?(-->|$)", re.S)


_RE_TAG_NAME = re.compile(r"(?is)<\s*[a-zA-Z][a-zA-Z0-9:-]*")
_RE_TAG_ATTR = re.compile(
    r"(?s)[\s/]+([a-zA-Z][a-zA-Z0-9_:.-]*)\s*(=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)


def _tag_attrs(tag: str) -> dict:
    """Sequential attribute tokenization of one opening-tag string —
    unlike a bare regex search, values are CONSUMED as the scan
    advances, so ``charset=``-shaped text inside some other
    attribute's quoted value can never read as an attribute
    (WHATWG's get-an-attribute loop).  First occurrence wins."""
    out: dict = {}
    m = _RE_TAG_NAME.match(tag)
    pos = m.end() if m else 0
    while True:
        m = _RE_TAG_ATTR.match(tag, pos)
        if not m:
            return out
        pos = m.end()
        raw = m.group(3)
        if raw is None:
            val = ""
        elif raw[:1] in ("'", '"'):
            val = raw[1:-1]
        else:
            val = raw
        out.setdefault(m.group(1).lower(), _htmllib.unescape(val.strip()))


def _meta_prescan(window: bytes) -> str | None:
    """WHATWG-style prescan of the byte window for a charset
    declaration: comments stripped FIRST (a commented-out stale
    ``<!-- <meta charset=shift_jis> -->`` must not select a codec),
    then each complete <meta> tag is attribute-tokenized — a real
    ``charset`` attribute wins, else an http-equiv Content-Type's
    ``content`` value is searched for its charset parameter.  Matching
    inside parsed attributes (not raw 'charset=' anywhere in the tag)
    keeps a charset-shaped substring in some OTHER attribute's value
    from garbling the page."""
    s = _RE_PRESCAN_COMMENT.sub(" ", window.decode("latin-1"))
    for m in _RE_META_TAG.finditer(s):
        attrs = _tag_attrs(m.group(0))
        cs = attrs.get("charset")
        if cs:
            return cs
        if attrs.get("http-equiv", "").strip().lower() == "content-type":
            pm = _RE_CHARSET_PARAM.search(attrs.get("content", ""))
            if pm:
                return pm.group(1)
    return None


def _sniff_charset(raw: bytes, declared: str | None) -> str | None:
    """WHATWG encoding-sniffing precedence for page bytes:
    (1) a byte-order mark wins over EVERYTHING — including a lying
    Content-Type header (the spec is explicit; servers mislabel,
    editors don't fake BOMs); (2) the transport-declared charset;
    (3) a <meta charset=...> / http-equiv prescan of the first 1024
    bytes — where the large population of pages with no HTTP charset
    parameter actually declare themselves; (4) None (caller's utf-8
    default).  Returns a codec label, utf-8-sig/utf-16 for BOMs so
    the marker itself never leaks into extracted text."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"  # Python's utf-16 reads byte order from the BOM
    if declared is not None and declared.strip():
        return declared
    return _meta_prescan(raw[:1024])


def _decode_page(raw, charset: str | None) -> str:
    """Decode page bytes with the WHATWG-sniffed charset (BOM >
    transport header > meta prescan > utf-8 default — see
    :func:`_sniff_charset`), applying the WHATWG label aliases (the
    spec's windows-1252 label set — the way every browser decodes
    them).  TOTAL function: unknown charset labels fall back to utf-8,
    bad byte sequences decode with U+FFFD replacement, and hostile
    labels still fall back — NUL-bearing labels raise ValueError
    inside ``.decode()``'s lookup, and non-TEXT codecs (``hex``,
    ``base64``, ``zip``…) raise LookupError there — so one garbage or
    adversarial Content-Type can never kill an extraction task
    (review r9)."""
    raw = bytes(raw)
    label = (_sniff_charset(raw, charset) or "utf-8").strip().lower()
    codec = _WHATWG_ALIASES.get(label, label)
    try:
        return raw.decode(codec, errors="replace")
    except (LookupError, ValueError):  # unknown label / NUL label / non-text codec
        return raw.decode("utf-8", errors="replace")


def html_to_text(
    pages: DataFrame,
    *,
    html_col: str = "html",
    keep_cols: tuple[str, ...] = ("doc_id",),
    charset_col: str | None = None,
    boilerplate_threshold: float = 0.5,
) -> DataFrame:
    """HTML → training text over a pages frame: one Arrow-batched
    1→1 pass applying :func:`extract_html_text` per row.  ``keep_cols``
    pass through with their input types (ids, urls, fetch metadata).
    Output adds (title string, text string, n_blocks int,
    n_boilerplate int, link_chars long, text_chars long) — the two
    char counters let downstream quality filters reuse the page-level
    link density without re-parsing.  NULL html yields NULL title/
    text with zeroed counters (the upstream error row convention:
    containment happened at the HTTP/WARC layer).

    ``charset_col`` names the per-row charset column the HTTP layer
    parsed (http_responses' ``charset``): the html column is then
    consumed as BYTES and decoded per row in the same Arrow pass —
    latin-1 / Shift_JIS / etc. pages decode correctly instead of
    being blind-cast as UTF-8 (NULL charset defaults to utf-8;
    unknown labels fall back with replacement, see
    :func:`_decode_page`)."""
    thr = float(boilerplate_threshold)
    return _page_pass(
        pages, html_col, keep_cols, charset_col,
        ["title string", "text string", "n_blocks int", "n_boilerplate int",
         "link_chars long", "text_chars long"],
        lambda src: [extract_html_text(src, boilerplate_threshold=thr)],
        null_row=(None, None, 0, 0, 0, 0),
    )


def _keep_fields(pages: DataFrame, keep_cols, charset_col: str | None) -> dict:
    """``{name: simpleString type}`` of a pages frame, after checking
    that every ``keep_cols`` entry and ``charset_col`` exist — the
    API-boundary check of every page pass (a missing column fails
    here, not as an AnalysisException deep in the plan)."""
    in_fields = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    missing = [c for c in keep_cols if c not in in_fields]
    if missing:
        raise ValueError(f"keep_cols not in input: {missing}")
    if charset_col is not None and charset_col not in in_fields:
        raise ValueError(f"charset_col not in input: {charset_col}")
    return in_fields


def _page_pass(
    pages: DataFrame,
    html_col: str,
    keep_cols: tuple[str, ...],
    charset_col: str | None,
    out_fields: list[str],
    extract,
    *,
    null_row: tuple | None = None,
) -> DataFrame:
    """The page passes' one prelude and row function: keep_cols + the
    html column (BYTES decoded per row with the ``charset_col`` label
    when given, else cast to string) → keep_cols + ``out_fields``, one
    row per tuple ``extract(src)`` returns.  NULL html yields
    ``null_row`` (or no row) — containment happened upstream."""
    in_fields = _keep_fields(pages, keep_cols, charset_col)
    out_schema = ", ".join([f"{c} {in_fields[c]}" for c in keep_cols] + out_fields)
    if charset_col is None:
        proj = pages.select(*keep_cols, F.col(html_col).cast("string").alias("_html"))
    else:
        proj = pages.select(
            *keep_cols,
            F.col(charset_col).cast("string").alias("_charset"),
            F.col(html_col).cast("binary").alias("_html"),
        )
    n_keys = len(keep_cols)

    def page(*row):
        keys, src = row[:n_keys], row[-1]
        if src is None:
            return [] if null_row is None else [(*keys, *null_row)]
        if charset_col is not None:
            src = _decode_page(src, row[n_keys])
        return [(*keys, *r) for r in extract(src)]

    return map_rows(proj, page, out_schema)


_RE_A_TAG = re.compile(r"(?is)(<a\b[^>]*>)(.*?)</a\s*>")


def _attr_val(tag: str, name: str) -> str | None:
    """Value of one attribute inside an opening-tag string, quoted or
    bare, entity-decoded the way browsers decode attribute values;
    None when absent."""
    # (?<![-\w]) keeps `data-href=` / `xhref=` from matching `href`
    # (\b alone treats '-' as a boundary — a real phantom-link source)
    m = re.search(
        r"(?is)(?<![-\w])" + name + r"\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+)", tag
    )
    if not m:
        return None
    raw = m.group(1)
    if raw[:1] in ("'", '"'):
        raw = raw[1:-1]
    return _htmllib.unescape(raw.strip())


def extract_links(src: str) -> list:
    """Outgoing links of one page — the crawl-FRONTIER surface (a
    crawler extracts hrefs to schedule fetches; a WAT writer records
    them as capture metadata).  Same preprocessing as the text
    extractor (comments / script / style / head dropped, so chrome
    scripts can't inject phantom links), then anchors in document
    order: (link_idx, href, anchor_text, nofollow) — ``nofollow`` is
    the per-link rel token (RFC: a ranking/endorsement opt-out, NOT a
    politeness rule; rank/anchor aggregation excludes these edges,
    discovery may still follow them).  Hrefs are entity-decoded the
    way browsers decode attribute values; anchor-less hrefs keep an
    empty text; hrefless <a> elements are not links and are
    skipped."""
    s = _RE_COMMENT.sub(" ", src)
    s = _RE_DROP.sub(" ", s)
    s = _RE_HEAD.sub(" ", s)
    out = []
    idx = 0
    for m in _RE_A_TAG.finditer(s):
        href = _attr_val(m.group(1), "href")
        if not href:
            continue
        rel = _attr_val(m.group(1), "rel") or ""
        nofollow = "nofollow" in rel.lower().split()
        out.append((idx, href, _visible(m.group(2)), nofollow))
        idx += 1
    return out


_RE_LINK_TAG = re.compile(r"(?is)<link\b[^>]*>")
_RE_META_TAG = re.compile(r"(?is)<meta\b[^>]*>")


def extract_page_directives(src: str) -> tuple:
    """Head-level page directives a curation crawl must honor:
    (canonical_href, noindex, nofollow).  ``rel=canonical`` is the
    site's OWN dedup assertion (URL variants of one document name a
    single canonical — the strongest URL-level dedup signal there
    is); ``<meta name=robots>`` noindex/nofollow are the in-page
    robots controls (``none`` = both).  First canonical wins (browser
    behavior); meta directives OR across multiple robots tags;
    comments and script/style bodies can't inject (stripped first);
    the head is NOT stripped — that is where these live."""
    s = _RE_COMMENT.sub(" ", src)
    s = _RE_DROP.sub(" ", s)
    canonical = None
    for m in _RE_LINK_TAG.finditer(s):
        rel = (_attr_val(m.group(0), "rel") or "").lower().split()
        if "canonical" in rel:
            href = _attr_val(m.group(0), "href")
            if href:
                canonical = href
                break
    noindex = nofollow = False
    for m in _RE_META_TAG.finditer(s):
        name = (_attr_val(m.group(0), "name") or "").lower()
        if name != "robots":
            continue
        content = (_attr_val(m.group(0), "content") or "").lower()
        toks = {t.strip() for t in content.split(",")}
        noindex = noindex or "noindex" in toks or "none" in toks
        nofollow = nofollow or "nofollow" in toks or "none" in toks
    return canonical, noindex, nofollow


def html_page_directives(
    pages: DataFrame,
    *,
    html_col: str = "html",
    keep_cols: tuple[str, ...] = ("doc_id",),
    charset_col: str | None = None,
) -> DataFrame:
    """1→1 Arrow pass surfacing :func:`extract_page_directives` per
    page: keep_cols + (canonical_href string, noindex boolean,
    nofollow boolean).  NULL html yields a no-directive row shape
    (NULL/False/False).  Same charset seam as the other page passes."""
    return _page_pass(
        pages, html_col, keep_cols, charset_col,
        ["canonical_href string", "noindex boolean", "nofollow boolean"],
        lambda src: [extract_page_directives(src)],
        null_row=(None, False, False),
    )


def extract_feed_links(src: str) -> list:
    """Feed AUTODISCOVERY (the RSS/Atom convention every browser and
    reader implements): ``<link rel="alternate"
    type="application/rss+xml|application/atom+xml" href=...>`` in the
    page markup → (href, kind) in document order — the in-page hop
    that tells a crawler WHERE the feed :func:`robots.parse_feed_files`
    parses lives.  rel is a space-separated token list (``alternate``
    must be present); the MIME type decides the kind; other alternate
    links (translations, canonical media) don't match; comments and
    script/style bodies can't inject (stripped first)."""
    s = _RE_COMMENT.sub(" ", src)
    s = _RE_DROP.sub(" ", s)
    out = []
    for m in _RE_LINK_TAG.finditer(s):
        tag = m.group(0)
        rel = (_attr_val(tag, "rel") or "").lower().split()
        if "alternate" not in rel:
            continue
        typ = (_attr_val(tag, "type") or "").strip().lower()
        if typ == "application/rss+xml":
            kind = "rss"
        elif typ == "application/atom+xml":
            kind = "atom"
        else:
            continue
        href = _attr_val(tag, "href")
        if href:
            out.append((href, kind))
    return out


def html_feed_links(
    pages: DataFrame,
    *,
    html_col: str = "html",
    keep_cols: tuple[str, ...] = ("doc_id",),
    charset_col: str | None = None,
) -> DataFrame:
    """1→many Arrow pass surfacing :func:`extract_feed_links` per
    page: keep_cols + (feed_href string, feed_kind string), one row
    per discovered feed in document order.  NULL html yields no rows.
    Same charset seam as the other page passes."""
    return _page_pass(
        pages, html_col, keep_cols, charset_col,
        ["feed_href string", "feed_kind string"],
        extract_feed_links,
    )


def html_links(
    pages: DataFrame,
    *,
    html_col: str = "html",
    keep_cols: tuple[str, ...] = ("doc_id",),
    charset_col: str | None = None,
    respect_meta_nofollow: bool = False,
) -> DataFrame:
    """Per-LINK extraction over a pages frame (1→many Arrow pass, the
    container-walker shape): keep_cols + (link_idx int, href string,
    anchor_text string, nofollow boolean) in document order.  NULL html yields no rows.
    ``charset_col`` consumes the html column as BYTES decoded per row
    with the declared charset (the html_to_text seam — the streaming
    crawl path feeds framed body bytes).
    ``respect_meta_nofollow=True`` honors the PAGE-level
    ``<meta name=robots content=nofollow>`` control: a nofollow page
    yields NO link rows at all (checked inside the same pass — the
    page decodes once).  The frontier feed: at
    100 TB this is the narrow pass whose output joins the URL-dedup
    canonicalizer to schedule the next crawl wave."""

    def links(src):
        if respect_meta_nofollow and extract_page_directives(src)[2]:
            return []  # page-level robots nofollow: no links vote or follow
        return extract_links(src)

    return _page_pass(
        pages, html_col, keep_cols, charset_col,
        ["link_idx int", "href string", "anchor_text string", "nofollow boolean"],
        links,
    )


def html_to_blocks(
    pages: DataFrame,
    *,
    html_col: str = "html",
    keep_cols: tuple[str, ...] = ("doc_id",),
    boilerplate_threshold: float = 0.5,
) -> DataFrame:
    """Per-BLOCK extraction over a pages frame: one output row per
    non-empty block (1→many Arrow pass, the container-walker shape)
    with the Kohlschütter densitometric features and the boilerplate
    verdict — the block-level classification surface
    :func:`html_to_text` folds into its page-level outcome.  NULL
    html yields no rows (containment happened upstream).  Output:
    keep_cols + (block_idx int, block_text string, n_words int,
    link_chars long, text_chars long, link_density double,
    is_boilerplate boolean)."""
    thr = float(boilerplate_threshold)
    return _page_pass(
        pages, html_col, keep_cols, None,
        ["block_idx int", "block_text string", "n_words int", "link_chars long",
         "text_chars long", "link_density double", "is_boilerplate boolean"],
        lambda src: extract_html_blocks(src, boilerplate_threshold=thr),
    )


# --------------------------------------------------- fixture page renderer

# Charset fixture rule, keyed on doc_id % 4 (crossed with the %3 HTTP
# framing and %5 coding rules — lcm covers every combination):
# (python codec, Content-Type charset label or None, non-ASCII marker).
# The DuckDB oracle in queries/containers.py mirrors the markers as
# UTF-8 SQL literals — change them together.  Labels vary case and
# quoting so header normalization is exercised; entry 3 omits the
# parameter (the decoder's utf-8 default path).
CHARSET_FIXTURES = [
    ("iso-8859-1", "ISO-8859-1", "café déjà vu ¡sí señor!"),
    ("shift_jis", "Shift_JIS", "日本語のテキストです"),
    ("utf-8", '"utf-8"', "Ünïcøde page ☃"),
    ("utf-8", None, "naïve coöperation"),
]

# Sniff fixtures (doc_id % 3): (codec, meta_tag, http_label, bom,
# marker) — the page population the HEADER fixtures above can't see:
# 0/1 declare their charset ONLY in markup (no HTTP parameter; entry 1
# uses the http-equiv form and a windows-1252-aliased label), and 2
# carries a UTF-8 BOM while the HTTP header LIES latin-1 (the BOM must
# win per WHATWG).  Markers are the same non-ASCII canaries.
SNIFF_FIXTURES = [
    ("shift_jis", '<meta charset="shift_jis">', None, b"", "日本語のテキストです"),
    (
        "cp1252",
        '<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">',
        None,
        b"",
        "café déjà vu ¡sí señor!",
    ),
    ("utf-8", None, "iso-8859-1", b"\xef\xbb\xbf", "Ünïcøde page ☃"),
]


def render_fixture_html(
    doc_id: int,
    text: str,
    *,
    charset_marker: str | None = None,
    meta_tag: str | None = None,
) -> str:
    """The deterministic fixture page: document text escaped into one
    content paragraph, surrounded by every trap the extractor must
    survive — a comment, a head section with title/style/script (the
    script contains literal ``<p>`` markup inside a string), decimal
    (&#68;) and hex (&#x21;) numeric entities, named entities, and
    two pure-link blocks (nav, footer) that link-density must drop.

    The extraction of this page is a CLOSED FORM of (doc_id, text) —
    the DuckDB oracle in queries/containers.py rebuilds expected
    title/text/counters from the same rule; change them together.

    ``charset_marker`` appends one extra content block ``Charset
    marker: <marker>`` after the filler div — the charset fixtures
    put NON-ASCII text there so a wrong-codec decode anywhere in the
    WARC → HTTP → HTML chain breaks the value hash instead of passing
    by ASCII luck.  ``meta_tag`` injects one raw tag into the head
    (the sniff fixtures' in-markup charset declaration — void tags
    yield no text, so the extraction closed form is unchanged)."""
    i = str(int(doc_id))
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    marker = (
        "  <div>Charset marker: " + charset_marker + "</div>\n"
        if charset_marker is not None
        else ""
    )
    meta = "  " + meta_tag + "\n" if meta_tag is not None else ""
    return (
        "<!-- fixture page " + i + " -->\n"
        "<html>\n"
        " <head>\n"
        + meta +
        "  <title>Doc " + i + " &amp; Friends</title>\n"
        '  <style type="text/css">p { color: #fff; }</style>\n'
        '  <script>if (1 < 2) { console.log("<p>not text</p>"); }</script>\n'
        " </head>\n"
        " <body>\n"
        '  <nav><a href="/">Home</a> <a href="/about">About</a></nav>\n'
        "  <h1>Doc &#68;ocument " + i + "</h1>\n"
        "  <p>" + esc + " &lt;fin&gt;</p>\n"
        '  <div>See <a href="/next">next page</a> for more filler words totally real'
        " content here&#x21;</div>\n"
        + marker +
        '  <footer><a href="/terms">Terms</a> <a href="/privacy">Privacy</a></footer>\n'
        " </body>\n"
        "</html>\n"
    )


def synthesize_html(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    feed_links: bool = False,
) -> DataFrame:
    """Render the deterministic fixture page per document — the HTML
    twin of containers.synthesize_warc (Arrow-batched 1→1, no
    shuffle).  ``feed_links=True`` injects the closed-form feed
    autodiscovery tag (even docs announce ``/feed.rss``, odd docs
    ``/feed.atom``) into the head — void link tags yield no text, so
    the extraction closed form is unchanged.  Returns
    (doc_id long, html string)."""
    proj = docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("_text"))

    def tag(doc_id: int) -> str | None:
        if not feed_links:
            return None
        if doc_id % 2 == 0:
            return '<link rel="alternate" type="application/rss+xml" href="/feed.rss">'
        return '<link rel="alternate" type="application/atom+xml" href="/feed.atom">'

    def render(doc_id, text):
        return [(doc_id, render_fixture_html(int(doc_id), text, meta_tag=tag(int(doc_id))))]

    return map_rows(proj, render, "doc_id long, html string")
