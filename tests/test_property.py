"""Property-based cross-check: random point sets (gaps, duplicates,
NaNs, multiple series) run through the engine and through a trivial
pure-Python model of the reference semantics — results must agree.

Complements the hand-computed golden tests with generated coverage of
the NaN / dedupe / bucket-edge interactions."""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import BASE, two_stage_reference

from opentsdb_aura_spark.operators.downsample import downsample

INTERVAL = 60
RANGE = 300  # 5 buckets

point = st.tuples(
    st.integers(min_value=0, max_value=RANGE - 1),  # ts offset
    st.one_of(st.floats(min_value=-100, max_value=100, allow_nan=False), st.just(float("nan"))),
    st.integers(min_value=0, max_value=1),  # series selector
)


def python_model(rows, agg):
    """Reference semantics in plain Python: last-write-wins per (series,
    ts), NaN skipped, empty/all-NaN bucket → NaN."""
    latest = {}
    for seq, (off, val, sid) in enumerate(rows):
        latest[(sid, off)] = (seq, val)
    buckets = {}
    for (sid, off), (_, val) in latest.items():
        buckets.setdefault((sid, off // INTERVAL), []).append((off, val))
    out = {}
    for key, vs in buckets.items():
        clean = [v for _, v in vs if not math.isnan(v)]
        if not clean:
            out[key] = float("nan")
        elif agg == "sum":
            out[key] = sum(clean)
        elif agg == "min":
            out[key] = min(clean)
        elif agg == "max":
            out[key] = max(clean)
        elif agg == "count":
            out[key] = float(len(clean))
        elif agg == "last":
            out[key] = max(((off, v) for off, v in vs if not math.isnan(v)))[1]
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(point, min_size=1, max_size=25), agg=st.sampled_from(["sum", "min", "max", "count", "last"]))
def test_downsample_matches_python_model(spark, make_points, rows, agg):
    pts = make_points(
        [("m", {"s": str(sid)}, BASE + off, val, seq) for seq, (off, val, sid) in enumerate(rows)]
    )
    from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins

    res = downsample(
        dedupe_last_write_wins(pts), BASE, BASE + RANGE, INTERVAL, agg,
        group_cols=["tags"], fill="none",
    )
    got = {}
    for r in res.collect():
        sid = int(r["tags"]["s"])
        got[(sid, (r["bucket_ts"] - BASE) // INTERVAL)] = r["value"]

    want = python_model(rows, agg)
    assert set(got) == set(want)
    for k, v in want.items():
        g = got[k]
        if math.isnan(v):
            assert math.isnan(g), (k, g, v)
        else:
            assert abs(g - v) < 1e-9, (k, g, v)


def rate_python_model(rows, interval_seconds):
    """Plain-Python rate: NaN passthrough, NaN-skipping lag, first
    point NaN."""
    out = {}
    prev = None  # (ts, value)
    for off, val in sorted(rows):
        if math.isnan(val):
            out[off] = float("nan")
            continue
        if prev is None:
            out[off] = float("nan")
        else:
            dt = (off - prev[0]) / interval_seconds
            out[off] = (val - prev[1]) / dt
        prev = (off, val)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.dictionaries(
        st.integers(min_value=0, max_value=200),
        st.one_of(st.floats(min_value=-50, max_value=50, allow_nan=False), st.just(float("nan"))),
        min_size=1,
        max_size=20,
    )
)
def test_rate_matches_python_model(spark, make_points, rows):
    from opentsdb_aura_spark.operators.rate import RateOptions, rate

    items = sorted(rows.items())
    pts = make_points([("m", {}, BASE + off, val, i) for i, (off, val) in enumerate(items)])
    res = rate(pts, RateOptions(interval_seconds=60))
    got = {r["ts"] - BASE: r["value"] for r in res.collect()}
    want = rate_python_model(items, 60)
    assert set(got) == set(want)
    for k, v in want.items():
        if math.isnan(v):
            assert math.isnan(got[k]), (k, got[k], v)
        else:
            assert abs(got[k] - v) < 1e-9, (k, got[k], v)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.dictionaries(
        st.integers(min_value=0, max_value=300),  # ×80 → spans 4 segments
        st.one_of(st.floats(min_value=-50, max_value=50, allow_nan=False), st.just(float("nan"))),
        min_size=1,
        max_size=20,
    )
)
def test_multi_segment_rate_matches_python_model(spark, make_points, rows):
    from opentsdb_aura_spark.operators.rate import RateOptions, rate

    items = sorted((off * 80, val) for off, val in rows.items())
    pts = make_points([("m", {}, BASE + off, val, i) for i, (off, val) in enumerate(items)])
    res = rate(pts, RateOptions(interval_seconds=60))
    got = {r["ts"] - BASE: r["value"] for r in res.collect()}
    want = rate_python_model(items, 60)
    assert set(got) == set(want)
    for k, v in want.items():
        if math.isnan(v):
            assert math.isnan(got[k]), (k, got[k], v)
        else:
            assert abs(got[k] - v) < 1e-9, (k, got[k], v)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(point, min_size=1, max_size=25),
    combo=st.sampled_from([("sum", "sum"), ("count", "sum"), ("min", "min"), ("max", "max")]),
    infectious=st.booleans(),
)
def test_fused_group_agg_property(spark, make_points, rows, combo, infectious):
    """The planner's single-shot ds+gb plan and the two-stage operator
    composition (conftest.two_stage_reference) must be value-identical
    for every fusable combo on arbitrary inputs (NaNs, duplicates,
    gaps, 2 series grouped into one tag group)."""
    from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query

    ds_agg, gb_agg = combo
    pts = make_points(
        [("m", {"g": "x", "s": str(sid)}, BASE + off, val, seq) for seq, (off, val, sid) in enumerate(rows)]
    )
    q = MetricQuery(
        start=BASE, end=BASE + RANGE, interval=INTERVAL, ds_agg=ds_agg,
        group_tag_keys=["g"], gb_agg=gb_agg, infectious_nan=infectious,
    )
    fused = {(r["tag_g"], r["bucket_ts"]): r["value"] for r in run_metric_query(pts, q).collect()}
    twostage = {
        (r["tag_g"], r["bucket_ts"]): r["value"]
        for r in two_stage_reference(pts, q).collect()
    }
    assert set(fused) == set(twostage)
    for k, v in twostage.items():
        got = fused[k]
        if math.isnan(v):
            assert math.isnan(got), (k, got, v)
        else:
            assert abs(got - v) < 1e-9, (k, got, v)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False).filter(lambda v: v == 0 or abs(v) > 1e-9),
        min_size=20,
        max_size=200,
    ),
    q=st.sampled_from([0.1, 0.5, 0.9]),
)
def test_histogram_percentile_property(spark, vals, q):
    """Property: for ANY value set (mixed signs, magnitudes over 12
    orders), the histogram-rollup percentile is within eps relative
    error of the exact discrete quantile."""
    import math

    from opentsdb_aura_spark.operators.rollup import (
        HIST_EPS,
        build_rollup_histogram,
        percentile_from_rollup_histogram,
    )

    rows = [("m", i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    hist = build_rollup_histogram(df, 3600, group_cols=["metric"])
    approx = percentile_from_rollup_histogram(
        hist, q, 0, 10 * 3600, 10 * 3600, group_cols=["metric"]
    ).first()["value"]
    svals = sorted(vals)
    exact = svals[max(0, math.ceil(q * len(svals)) - 1)]
    assert abs(approx - exact) <= HIST_EPS * abs(exact) + 1e-12, (q, approx, exact)


@given(
    smp=st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=400),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(smp, rate):
    """WAV encode→decode is bit-exact for any int16 sample stream."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import decode_wav, encode_wav

    arr = np.array(smp, dtype=np.int16)
    r, back = decode_wav(encode_wav(rate, arr))
    assert r == rate and np.array_equal(back, arr)


@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=7),
    n_frames=st.integers(min_value=0, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_y4m_roundtrip_property(w, h, n_frames, seed):
    """Y4M encode→decode returns the exact frame list for any geometry."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import decode_y4m, encode_y4m

    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes() for _ in range(n_frames)]
    ww, hh, back = decode_y4m(encode_y4m(w, h, frames))
    assert (ww, hh) == (w, h) and back == frames


@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_union_find_matches_networkless_closure(edges):
    """Driver union-find labels == brute-force transitive closure on
    arbitrary small graphs (self-loops and duplicates included)."""
    from opentsdb_aura_spark.operators.corpus import _union_find_labels

    sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    got = dict(_union_find_labels(sym))
    # brute force: iterate min-label propagation to fixpoint
    nodes = {x for e in sym for x in e}
    lbl = {x: x for x in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in sym:
            if lbl[b] < lbl[a]:
                lbl[a] = lbl[b]
                changed = True
    assert got == lbl


@given(
    data=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=600),
    capacity=st.integers(min_value=1, max_value=40),
    n_parts=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_misra_gries_bound_property(data, capacity, n_parts):
    """Property: for ANY stream, capacity, and partitioning, the MG
    fold-and-trim used by operators/sketch.py (per-partition summaries,
    counters summed at merge) undercounts every item by at most
    n/(capacity+1), and never overcounts."""
    from collections import Counter

    def partial(items):
        s: dict = {}
        # batch-fold in chunks of 10 to exercise mid-stream trims,
        # mirroring the Arrow-batch loop
        for i in range(0, len(items), 10):
            for item, c in Counter(items[i : i + 10]).items():
                s[item] = s.get(item, 0) + c
            if len(s) > capacity:
                m = sorted(s.values(), reverse=True)[capacity]
                s = {k: v - m for k, v in s.items() if v > m}
        return s

    chunk = max(1, len(data) // n_parts)
    parts = [data[i : i + chunk] for i in range(0, len(data), chunk)]
    merged: dict = {}
    for p in parts:
        for item, c in partial(p).items():
            merged[item] = merged.get(item, 0) + c

    true = Counter(data)
    n = len(data)
    bound = n // (capacity + 1)
    for item, t in true.items():
        est = merged.get(item, 0)
        assert est <= t, (item, est, t)
        assert t - est <= bound, (item, est, t, bound)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 20),
    seed=st.integers(0, 2**31),
    fmt=st.sampled_from(["png", "png8", "pngi", "bmp", "ppm", "gif", "gifi"]),
)
def test_lossless_image_codecs_roundtrip_property(w, h, seed, fmt):
    """Every lossless image codec must round-trip arbitrary pixel
    content at arbitrary dimensions exactly (paletted payloads are
    constrained to <=256 colors by sampling from a small palette)."""
    import numpy as np

    from opentsdb_aura_spark.operators.multimodal import (
        decode_bmp,
        decode_png,
        decode_ppm,
        encode_bmp,
        encode_png,
        encode_png_interlaced,
        encode_png_paletted,
        encode_ppm,
    )

    import functools

    from opentsdb_aura_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    if fmt in ("png8", "gif", "gifi"):
        pal = rng.integers(0, 256, (int(rng.integers(1, 17)), 3), dtype=np.uint8)
        rgb = pal[rng.integers(0, len(pal), (h, w))].tobytes()
    else:
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    enc = {
        "png": encode_png,
        "png8": encode_png_paletted,
        "pngi": encode_png_interlaced,
        "bmp": encode_bmp,
        "ppm": encode_ppm,
        "gif": encode_gif,
        "gifi": functools.partial(encode_gif, interlace=True),
    }[fmt]
    dec = {"bmp": decode_bmp, "ppm": decode_ppm, "gif": decode_gif, "gifi": decode_gif}.get(fmt, decode_png)
    assert dec(enc(w, h, rgb)) == (w, h, rgb)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31),
    subsampling=st.sampled_from(["444", "422", "420"]),
    restart=st.sampled_from([0, 1, 3]),
)
def test_jpeg_progressive_identity_property(w, h, seed, subsampling, restart):
    """Progressive decode == baseline decode for arbitrary content,
    dimensions, chroma layout, and restart interval — the structural
    oracle (shared quantizer) checked over the whole parameter box."""
    import numpy as np

    from opentsdb_aura_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
    base = decode_jpeg(encode_jpeg(w, h, px, subsampling=subsampling))
    prog = decode_jpeg(
        encode_jpeg(w, h, px, subsampling=subsampling, progressive=True, restart_interval=restart)
    )
    assert base == prog


# --------------------------------------------------------- container fuzzing


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_warc_parser_never_hangs_or_loops_on_garbage(data):
    """Random bytes either raise ValueError/UnicodeDecodeError (the
    skip_errors containment boundary) or terminate with a finite
    record list — never loop or return overlapping records."""
    from opentsdb_aura_spark.operators.containers import _parse_warc_bytes

    try:
        recs = list(_parse_warc_bytes(data))
    except (ValueError, UnicodeDecodeError):
        return
    off = 0
    for r in recs:
        assert r[0] == off and r[1] > 0
        off += r[1]
    assert off <= len(data)


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_tar_parser_never_hangs_on_garbage(data):
    from opentsdb_aura_spark.operators.containers import _parse_tar_bytes

    try:
        recs = list(_parse_tar_bytes(data))
    except (ValueError, UnicodeDecodeError):
        return
    offs = [r[0] for r in recs]
    assert offs == sorted(set(offs))


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**15), st.text(alphabet=st.characters(codec="ascii"), max_size=120)),
        max_size=8,
    )
)
def test_warc_roundtrip_property(docs):
    """encode → parse round-trip for arbitrary ASCII payloads
    (including CRLF-bearing and empty texts — Content-Length framing
    must never be confused by payload content)."""
    import hashlib

    from opentsdb_aura_spark.operators.containers import (
        _parse_warc_bytes,
        encode_warc_file,
    )

    docs = [(i, t) for _, (i, t) in enumerate(docs)]
    blob = encode_warc_file(0, docs)
    recs = list(_parse_warc_bytes(blob))
    assert len(recs) == len(docs) + 1
    for (doc_id, text), r in zip(docs, recs[1:]):
        assert r[3] == f"urn:uuid:doc-{doc_id}"
        assert r[5] == len(text.encode())
        assert r[6] == hashlib.md5(text.encode()).hexdigest()


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_http_response_parser_never_hangs_on_garbage(data):
    """Random bytes through the HTTP envelope parser either raise
    ValueError (the per-record containment boundary) or return a
    parsed tuple — never any other exception, never a hang."""
    from opentsdb_aura_spark.operators.containers import _parse_http_response

    try:
        out = _parse_http_response(data)
    except ValueError:
        return
    assert isinstance(out[-1], bytes)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_http_request_parser_never_hangs_on_garbage(data):
    from opentsdb_aura_spark.operators.containers import _parse_http_request

    try:
        out = _parse_http_request(data)
    except ValueError:
        return
    assert out[0].isupper() and len(out) == 6


@settings(max_examples=60, deadline=None)
@given(
    body=st.binary(min_size=0, max_size=300),
    doc_id=st.integers(min_value=0, max_value=10_000),
    coded=st.booleans(),
)
def test_http_envelope_roundtrip_property(body, doc_id, coded):
    """encode → parse round-trip for ARBITRARY body bytes (binary,
    CRLF-bearing, empty) across the fixture's framing × coding grid:
    the decoded body must be byte-identical — framing and inflation
    can never be confused by body content."""
    from opentsdb_aura_spark.operators.containers import (
        _parse_http_response,
        encode_http_response,
    )

    out = _parse_http_response(encode_http_response(doc_id, body, content_encoding=coded))
    assert out[-1] == body


@settings(max_examples=60, deadline=None)
@given(
    chunks=st.lists(st.binary(min_size=0, max_size=80), min_size=1, max_size=4),
    label=st.sampled_from(["gzip", "x-gzip"]),
)
def test_multi_member_gzip_inflation_property(chunks, label):
    """Concatenated gzip members inflate to the concatenation of their
    payloads, for any member split of any byte content."""
    from opentsdb_aura_spark.operators.containers import _gzip_member, _inflate_body

    wire = b"".join(_gzip_member(c) for c in chunks)
    assert _inflate_body(wire, label) == b"".join(chunks)


@settings(max_examples=60, deadline=None)
@given(
    raw=st.binary(min_size=0, max_size=200),
    label=st.one_of(
        st.none(),
        st.sampled_from(
            [
                "utf-8", "iso-8859-1", "shift_jis", "cp1252", "klingon-9",
                "", "  UTF-8  ",
                # adversarial: non-TEXT codecs pass codecs.lookup but
                # raise at .decode(); NUL labels make lookup itself
                # raise ValueError (review r9)
                "hex", "base64", "rot13", "zip", "bz2", "uu", "utf\x008",
            ]
        ),
        st.text(max_size=12),
    ),
)
def test_decode_page_total_function(raw, label):
    """_decode_page never raises for any (bytes, label) pair — decode
    is total with U+FFFD replacement and utf-8 fallback (one bad page
    can never kill an extraction task)."""
    from opentsdb_aura_spark.operators.htmltext import _decode_page

    out = _decode_page(raw, label)
    assert isinstance(out, str)


@settings(max_examples=60, deadline=None)
@given(
    body=st.binary(min_size=0, max_size=400),
    doc_id=st.integers(0, 10**6),
)
def test_transfer_coding_roundtrip_property(body, doc_id):
    """TE: gzip (close-delimited) and TE: gzip, chunked both decode to
    the original bytes for arbitrary body content — the dechunk-then-
    ungzip undo order can never be confused by payload bytes."""
    from opentsdb_aura_spark.operators.containers import (
        _parse_http_response,
        encode_http_response,
    )

    out = _parse_http_response(encode_http_response(doc_id, body, transfer_coding=True))
    assert out[-1] == body
    assert out[5] is None  # TE is hop-by-hop, never surfaces as content_encoding


@settings(max_examples=40, deadline=None)
@given(
    chunks=st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=3),
    limit=st.integers(1, 1 << 16),
)
def test_bounded_inflate_equivalence_property(chunks, limit):
    """The bounded incremental decompressor either returns EXACTLY what
    one-shot zlib decoding returns, or raises the bomb ValueError —
    never silently truncates, never loops, for any member split and
    any bound."""
    import gzip as _gz

    import pytest as _pytest

    from opentsdb_aura_spark.operators.containers import _gzip_member, _inflate_body

    wire = b"".join(_gzip_member(c) for c in chunks)
    want = b"".join(chunks)
    if len(want) <= limit:
        assert _inflate_body(wire, "gzip", limit=limit) == want
        assert _gz.decompress(wire) == want  # stdlib agrees
    else:
        with _pytest.raises(ValueError, match="decompression-bomb"):
            _inflate_body(wire, "gzip", limit=limit)


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=300))
def test_parse_crawl_delays_total_on_garbage(content):
    """Arbitrary ASCII robots.txt content never raises; every returned
    delay is a finite non-negative float with a lowercased agent."""
    from opentsdb_aura_spark.operators.robots import parse_crawl_delays

    out = parse_crawl_delays(content)
    for agent, delay in out:
        assert agent == agent.lower()
        assert isinstance(delay, float) and delay >= 0 and math.isfinite(delay)


_LABEL = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=6)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.lists(_LABEL, min_size=1, max_size=5),
                       st.lists(_LABEL, min_size=0, max_size=4),
                       st.booleans()),
             min_size=1, max_size=6),
)
def test_surt_key_model_property(spark, cases):
    """surt_key against a plain-Python model over generated lowercase
    hosts/paths: reversal, www-strip, trailing-slash and bare-origin
    normalization all agree."""
    from opentsdb_aura_spark.operators.containers import surt_key

    urls, wants = [], []
    for labels, segs, tail in cases:
        host = ".".join(labels)
        path = "".join("/" + s for s in segs) + ("/" if tail and segs else "")
        urls.append(f"http://{host}{path}")
        # model: canonicalize (drop one trailing slash), strip leading
        # www label, reverse at dots, ')' + path-or-root
        cpath = path[:-1] if path.endswith("/") else path
        mhost = host[4:] if host.startswith("www.") and len(labels) > 1 else host
        wants.append(",".join(reversed(mhost.split("."))) + ")" + (cpath or "/"))

    got = [r[0] for r in spark.createDataFrame([(u,) for u in urls], "url string")
           .select(surt_key("url")).collect()]
    assert got == wants, list(zip(urls, got, wants))


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=400))
def test_extract_links_and_directives_total_on_garbage(src):
    """Arbitrary ASCII through the link extractor and the directives
    extractor never raises; link tuples keep their shape and types."""
    from opentsdb_aura_spark.operators.htmltext import (
        extract_links,
        extract_page_directives,
    )

    for idx, href, text, nofollow in extract_links(src):
        assert isinstance(idx, int) and isinstance(href, str) and href
        assert isinstance(text, str) and isinstance(nofollow, bool)
    canonical, noindex, nofollow = extract_page_directives(src)
    assert canonical is None or isinstance(canonical, str)
    assert isinstance(noindex, bool) and isinstance(nofollow, bool)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.text(alphabet="abcdefg %\n", min_size=1, max_size=12),
        min_size=1, max_size=24, unique=True,
    ),
    st.integers(1, 5),
)
def test_zipnum_roundtrip_property(spark, keys, lines_per_block):
    """Random urlkeys (spaces, %, newlines included) through write →
    idx → shard files → lookup: EVERY key resolves to exactly its own
    capture row, at any block size."""
    rows = [
        (0, k, "20240101000000", f"http://x.example/{i}", "t", 200,
         f"d{i}", i * 10, 9, f"urn:uuid:r-{i}")
        for i, k in enumerate(keys)
    ]
    cdx = spark.createDataFrame(
        rows,
        "file_id long, urlkey string, cdx_ts string, url string, mime string, "
        "status int, digest string, offset long, length long, record_id string",
    )
    from opentsdb_aura_spark.operators import containers as C

    blocks = C.write_zipnum_cdx(cdx, lines_per_block=lines_per_block).localCheckpoint()
    got = C.zipnum_lookup(
        C.zipnum_shard_files(blocks), C.zipnum_idx(blocks),
        spark.createDataFrame([(k,) for k in keys], "urlkey string"),
    ).collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r["urlkey"], []).append(r["record_id"])
    want = {k: [f"urn:uuid:r-{i}"] for i, k in enumerate(keys)}
    assert by_key == want


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=400))
def test_parse_feed_xml_total_on_garbage(content):
    """Arbitrary text through the RSS/Atom feed parser never raises;
    every row has a feed kind, a non-empty loc, and a timestamp that
    is either None or an int (the epoch contract downstream recrawl
    planning consumes)."""
    from opentsdb_aura_spark.operators.robots import parse_feed_xml

    for kind, loc, title, ts in parse_feed_xml(content):
        assert kind in ("rss", "atom")
        assert isinstance(loc, str) and loc
        assert title is None or isinstance(title, str)
        assert ts is None or isinstance(ts, int)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["rss", "atom"]),
            st.integers(0, 27),
            st.integers(0, 23),
        ),
        min_size=0,
        max_size=6,
    )
)
def test_parse_feed_xml_roundtrip_wellformed(entries):
    """Well-formed generated feeds round-trip: every planted entry
    comes back with its exact URL and epoch (RFC 822 for RSS items,
    RFC 3339 for Atom entries), independent of how entries interleave
    in one document."""
    from opentsdb_aura_spark.operators.robots import parse_feed_xml

    blocks, want = [], []
    for n, (kind, day, hour) in enumerate(entries):
        url = f"http://f.example/{n}"
        epoch = 1704067200 + day * 86400 + hour * 3600
        if kind == "rss":
            blocks.append(
                f"<item><link>{url}</link>"
                f"<pubDate>{day + 1:02d} Jan 2024 {hour:02d}:00:00 +0000</pubDate></item>"
            )
        else:
            blocks.append(
                f'<entry><link href="{url}"/>'
                f"<updated>2024-01-{day + 1:02d}T{hour:02d}:00:00Z</updated></entry>"
            )
        want.append((kind, url, epoch))
    doc = "<feed>" + "".join(blocks) + "</feed>"
    got = [(k, l, ts) for k, l, _t, ts in parse_feed_xml(doc)]
    # parser groups by kind (all items, then all entries) — compare as sets
    assert set(got) == set(want) and len(got) == len(want)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    train=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=2, max_size=8),
        min_size=2,
        max_size=6,
    ),
    held=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=8),
        min_size=1,
        max_size=4,
    ),
)
def test_lm_kn_heldout_random_corpora_match_reference(spark, train, held):
    """Randomized cross-check of the order-2 held-out KN scorer
    against the independent Python reference (tests/test_quality.py's
    _kn2_reference): arbitrary tiny corpora, with the held-out
    alphabet a superset of the train alphabet so OOV words, unseen
    contexts, and unseen bigrams all occur organically.

    Corpora whose count-of-count profile zeroes the modified
    discounts (e.g. every unigram continuation count >= 3 and
    3*n3 == 4*y*n4, making gamma collapse to 0) give an OOV word
    probability exactly 0: every path, the reference included, scores
    such a doc -inf."""
    import math

    from opentsdb_aura_spark.operators import quality
    from opentsdb_aura_spark.operators.quality import lm_kn_fit, lm_kn_score

    from tests.test_quality import _kn2_reference

    ref = _kn2_reference(
        [toks for toks in train], {100 + i: toks for i, toks in enumerate(held)}
    )

    train_rows = [(i, " ".join(toks)) for i, toks in enumerate(train)]
    held_rows = [(100 + i, " ".join(toks)) for i, toks in enumerate(held)]
    tdf = spark.createDataFrame(train_rows, "doc_id long, text string")
    hdf = spark.createDataFrame(held_rows, "doc_id long, text string")
    # BOTH engine paths against the reference: the bounded local fit
    # (default caps) and the distributed tower (_KN_LOCAL_TOK_CAP = 0
    # on fit and score) — random corpora keep covering the distributed
    # chain too
    for cap in (quality._KN_LOCAL_TOK_CAP, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(quality, "_KN_LOCAL_TOK_CAP", cap)
            got = {
                r["doc_id"]: r
                for r in lm_kn_score(lm_kn_fit(tdf, order=2), hdf).collect()
            }
        assert set(got) == set(ref)
        for doc_id, (n, lp) in ref.items():
            assert got[doc_id]["n_ngrams"] == n
            if lp is None:
                assert got[doc_id]["avg_logprob"] is None
            elif math.isinf(lp):
                assert got[doc_id]["avg_logprob"] == lp
            else:
                assert math.isfinite(got[doc_id]["avg_logprob"])
                assert abs(got[doc_id]["avg_logprob"] - lp) < 1e-9


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=10),
        min_size=1,
        max_size=6,
    ),
)
def test_lm_kn_scores_order_local_matches_distributed(spark, corpus):
    """The bounded local path of the in-corpus KN scorer
    (quality._KN_LOCAL_TOK_CAP) against the distributed tower (the cap
    set to 0) on random tiny corpora: identical n-gram counts and
    NULL-ness, scores within the documented libm/avg-order tolerance
    every consumer's 4-decimal round absorbs."""
    from opentsdb_aura_spark.operators import quality
    from opentsdb_aura_spark.operators.quality import lm_kn_scores_order

    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    loc = {r["doc_id"]: r for r in lm_kn_scores_order(df, order=3).collect()}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(quality, "_KN_LOCAL_TOK_CAP", 0)
        dist = {r["doc_id"]: r for r in lm_kn_scores_order(df, order=3).collect()}
    assert set(loc) == set(dist)
    for i in loc:
        assert loc[i]["n_ngrams"] == dist[i]["n_ngrams"]
        a, b = loc[i]["avg_logprob"], dist[i]["avg_logprob"]
        assert (a is None) == (b is None)
        if a is not None:
            assert abs(a - b) < 1e-12, (i, a, b)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=24),
        min_size=1,
        max_size=8,
    ),
)
def test_suffix_array_random_corpora_match_python_sort(spark, corpus):
    """Randomized cross-check of the prefix-doubling suffix array +
    adjacent-LCP chain (operators/suffix.py) against a direct Python
    suffix sort: tiny 4-letter-alphabet corpora maximize repeated
    substrings, equal tails (exercising the (doc_id, off) tie-break),
    empty docs, and suffixes shorter than init_prefix.  init_prefix=2
    forces several doubling rounds even at these sizes."""
    from opentsdb_aura_spark.operators import suffix
    from opentsdb_aura_spark.operators.suffix import adjacent_lcp, suffix_array

    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sufs = sorted((t[o:], d, o) for d, t in rows for o in range(len(t)))
    ref_rank = {(d, o): r + 1 for r, (s, d, o) in enumerate(sufs)}

    cap = 5
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(suffix, "_SA_LOCAL_POS_CAP", 0)
        got = {
            (r.doc_id, r.off): r.rank
            for r in suffix_array(df, init_prefix=2).collect()
        }
        lcps = adjacent_lcp(df, cap=cap, init_prefix=2).collect()
    assert got == ref_rank

    def plcp(a, b):
        n = 0
        for x, y in zip(a[:cap], b[:cap]):
            if x != y:
                break
            n += 1
        return n

    by_rank = {r + 1: s for r, (s, d, o) in enumerate(sufs)}
    for row in lcps:
        exp_prev = plcp(by_rank[row.rank], by_rank[row.rank - 1]) if row.rank > 1 else 0
        exp_next = plcp(by_rank[row.rank], by_rank[row.rank + 1]) if row.rank < len(sufs) else 0
        assert (row.lcp_prev, row.lcp_next) == (exp_prev, exp_next), (row, exp_prev, exp_next)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=20),
        min_size=1,
        max_size=6,
    ),
)
def test_excise_duplicated_spans_matches_python_reference(spark, corpus):
    """Randomized cross-check of the keep-one excision
    (operators/suffix.excise_duplicated_spans) against a direct Python
    model: 2-letter corpora make short duplicated substrings dense, so
    canonical selection, overlapping member windows, and within-doc
    duplicates all occur organically.  L=3 keeps the reference
    trivially enumerable."""
    from collections import defaultdict

    from opentsdb_aura_spark.operators import suffix
    from opentsdb_aura_spark.operators.suffix import excise_duplicated_spans

    L = 3
    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # python reference: every L-gram's occurrence list; canonical =
    # min (doc, off); union the non-canonical windows per doc
    occ = defaultdict(list)
    for d, t in rows:
        for o in range(len(t) - L + 1):
            occ[t[o : o + L]].append((d, o))
    excised = defaultdict(list)
    for gram, sites in occ.items():
        if len(sites) < 2:
            continue
        for d, o in sorted(sites)[1:]:
            excised[d].append(o)
    want = {}
    for d, offs in excised.items():
        covered = set()
        for o in offs:
            covered.update(range(o, o + L))
        want[d] = (len(offs), len(covered))

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(suffix, "_SA_LOCAL_POS_CAP", 0)
        got = {
            r.doc_id: (r.n_spans_excised, r.removed_chars)
            for r in excise_duplicated_spans(df, min_len=L, cap=8, init_prefix=2).collect()
        }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.text(alphabet="ab é𝄞 ", min_size=0, max_size=20),
        min_size=1,
        max_size=6,
    ),
)
def test_suffix_local_path_matches_distributed(spark, corpus):
    """The bounded local fast path (operators/suffix._SA_LOCAL_POS_CAP)
    must be row-for-row identical to the distributed prefix-doubling
    chain — ranks AND adjacent LCPs — including non-ASCII and
    astral-plane code points (the local sort is Python code-point
    order, the distributed one UTF8String byte order; equal for valid
    UTF-8), equal tails, and empty docs."""
    from opentsdb_aura_spark.operators import suffix
    from opentsdb_aura_spark.operators.suffix import adjacent_lcp

    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def lcps():
        return {
            (r.doc_id, r.off): (r.rank, r.lcp_prev, r.lcp_next)
            for r in adjacent_lcp(df, cap=5, init_prefix=2).collect()
        }

    loc = lcps()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(suffix, "_SA_LOCAL_POS_CAP", 0)
        dist = lcps()
    assert loc == dist
