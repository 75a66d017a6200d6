"""WARC / TAR container source: codec round-trips, stdlib interop,
the skip_errors crawl-grade contract, and corruption behavior.

The catalog surface (corpus_warc_records / corpus_tar_members) is
value-hash-oracled end-to-end; these tests cover what the oracle
can't — malformed bytes, per-file error containment, and
interoperability with an independent implementation (tarfile)."""

from __future__ import annotations

import hashlib
import io
import tarfile

import pytest
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators import containers as C

DOCS = [(0, "hello world"), (7, "x" * 600), (123, ""), (4096, "multi word doc body")]


# ------------------------------------------------------------------ WARC codec


def test_warc_roundtrip_offsets_chain():
    blob = C.encode_warc_file(3, DOCS)
    recs = list(C._parse_warc_bytes(blob))
    assert [r[2] for r in recs] == ["warcinfo"] + ["response"] * len(DOCS)
    assert recs[0][3] == "urn:uuid:warcinfo-3"
    assert recs[1][3] == "urn:uuid:doc-0" and recs[1][4] == "http://example.com/doc/0"
    assert recs[1][5] == 11 and recs[1][6] == hashlib.md5(b"hello world").hexdigest()
    # offsets tile the file exactly: each record starts where the last ended
    off = 0
    for r in recs:
        assert r[0] == off
        off += r[1]
    assert off == len(blob)


def test_warc_zero_length_payload_and_empty_file():
    blob = C.encode_warc_file(0, [(5, "")])
    recs = list(C._parse_warc_bytes(blob))
    assert recs[1][5] == 0 and recs[1][6] == hashlib.md5(b"").hexdigest()
    assert list(C._parse_warc_bytes(b"")) == []


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda b: b[:-2], "terminated"),  # chop the trailing CRLF
        (lambda b: b"GARBAGE" + b[7:], "version"),  # break the version line
        (lambda b: b.replace(b"Content-Length", b"Content-Oops", 1), "Content-Length"),
        (lambda b: b[: len(b) // 2], "unterminated|terminated"),  # truncate mid-record
    ],
)
def test_warc_malformed_raises(mutate, msg):
    import re

    blob = C.encode_warc_file(0, DOCS[:2])
    with pytest.raises(ValueError, match=msg):
        list(C._parse_warc_bytes(mutate(blob)))


# ------------------------------------------------------------------- TAR codec


def test_tar_roundtrip_and_stdlib_interop_both_ways():
    blob = C.encode_tar_file(DOCS)
    # stdlib reads ours
    tf = tarfile.open(fileobj=io.BytesIO(blob))
    names = [m.name for m in tf.getmembers()]
    assert names == [f"doc/{i}.txt" for i, _ in DOCS]
    assert tf.extractfile("doc/7.txt").read() == b"x" * 600
    # ours reads ours: 512-block offsets, checksums validate
    got = list(C._parse_tar_bytes(blob))
    assert [g[1] for g in got] == names
    assert got[0][:6] == (0, "doc/0.txt", 11, C.TAR_MTIME, "0", hashlib.md5(b"hello world").hexdigest())
    assert got[0][6] == b"hello world"  # payload rides along for pipeline stages
    assert got[1][0] == 1024  # 512 header + 512 (11 bytes padded)
    # ours reads stdlib's
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as w:
        ti = tarfile.TarInfo("z.txt")
        ti.size = 3
        w.addfile(ti, io.BytesIO(b"abc"))
    recs = list(C._parse_tar_bytes(buf.getvalue()))
    assert recs[0][1] == "z.txt" and recs[0][5] == hashlib.md5(b"abc").hexdigest()


def test_tar_malformed_raises():
    blob = C.encode_tar_file(DOCS[:2])
    bad = bytearray(blob)
    bad[260] ^= 0xFF  # corrupt the ustar magic
    with pytest.raises(ValueError, match="magic"):
        list(C._parse_tar_bytes(bytes(bad)))
    bad2 = bytearray(blob)
    bad2[0] ^= 0x01  # flip a name byte → checksum mismatch
    with pytest.raises(ValueError, match="checksum"):
        list(C._parse_tar_bytes(bytes(bad2)))
    with pytest.raises(ValueError, match="trailer"):
        list(C._parse_tar_bytes(blob[:-1024]))  # strip the zero blocks


# ------------------------------------------------- Spark surface + skip_errors


def _files_df(spark, rows):
    return spark.createDataFrame(rows, "file_id long, content binary")


def test_warc_records_skip_errors_contains_bad_file(spark):
    good = C.encode_warc_file(1, DOCS[:2])
    bad = good[: len(good) - 9]  # truncated download
    df = _files_df(spark, [(1, good), (2, bad)])
    # fail-fast default: the stage dies
    with pytest.raises(Exception):
        C.warc_records(df).collect()
    # crawl-grade: good file fully parsed, bad file = parsed prefix + 1 error row
    rows = C.warc_records(df, skip_errors=True).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file_id"], []).append(r)
    assert len(by_file[1]) == 3 and all(r["error"] is None for r in by_file[1])
    errs = [r for r in by_file[2] if r["error"] is not None]
    assert len(errs) == 1 and "terminated" in errs[0]["error"]
    assert errs[0]["offset"] is None
    # the truncated file's records parsed before the corruption point
    # survive beside its error row
    prefix = sorted((r for r in by_file[2] if r["error"] is None), key=lambda r: r["offset"])
    first = sorted(by_file[1], key=lambda r: r["offset"])[: len(by_file[1]) - 1]
    assert len(prefix) == 2
    assert [(r["offset"], r["record_id"], r["payload_md5"]) for r in prefix] == [
        (r["offset"], r["record_id"], r["payload_md5"]) for r in first
    ]


def test_tar_members_skip_errors_contains_bad_file(spark):
    good = C.encode_tar_file(DOCS[:2])
    bad = bytearray(good)
    bad[0] ^= 0x01  # checksum break in the FIRST header
    df = _files_df(spark, [(1, good), (2, bytes(bad))])
    with pytest.raises(Exception):
        C.tar_members(df).collect()
    rows = C.tar_members(df, skip_errors=True).collect()
    good_rows = [r for r in rows if r["file_id"] == 1]
    assert [r["name"] for r in sorted(good_rows, key=lambda r: r["offset"])] == [
        "doc/0.txt",
        "doc/7.txt",
    ]
    errs = [r for r in rows if r["error"] is not None]
    assert len(errs) == 1 and errs[0]["file_id"] == 2 and "checksum" in errs[0]["error"]


def test_synthesize_partitions_by_file_and_orders_by_doc(spark):
    docs = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(120)], "doc_id long, text string"
    )
    files = C.synthesize_warc(docs, docs_per_file=50).collect()
    assert sorted(r["file_id"] for r in files) == [0, 1, 2]
    recs = C.warc_records(C.synthesize_warc(docs, docs_per_file=50)).collect()
    resp = [r for r in recs if r["warc_type"] == "response"]
    assert len(resp) == 120
    # within a file, records are doc_id-ordered and offsets strictly increase
    f0 = sorted((r for r in resp if r["file_id"] == 0), key=lambda r: r["offset"])
    ids = [int(r["record_id"].rsplit("-", 1)[1]) for r in f0]
    assert ids == sorted(ids) and len(ids) == 50


# --------------------------------------------------------------- WARC gzip


def test_warc_gz_roundtrip_and_stdlib_interop():
    import gzip

    plain = list(C._parse_warc_bytes(C.encode_warc_file(3, DOCS)))
    blob = C.encode_warc_file(3, DOCS, gzip_records=True)
    recs = list(C._parse_warc_gz_bytes(blob))
    # same records (headers/digests) as the plain layout, offsets tile
    # the COMPRESSED file exactly
    assert [r[2:] for r in recs] == [r[2:] for r in plain]
    off = 0
    for r in recs:
        assert r[0] == off
        off += r[1]
    assert off == len(blob)
    # stdlib reads our members; our walker reads stdlib-compressed members
    assert gzip.decompress(blob).startswith(b"WARC/1.0\r\n")
    rec = C.encode_warc_record("response", "urn:uuid:doc-9", b"abc",
                               target_uri="http://example.com/doc/9")
    via_stdlib = gzip.compress(rec, 6)
    got = list(C._parse_warc_gz_bytes(via_stdlib))
    assert len(got) == 1 and got[0][3] == "urn:uuid:doc-9"
    assert got[0][6] == hashlib.md5(b"abc").hexdigest()


def test_warc_gz_malformed(spark):
    blob = C.encode_warc_file(0, DOCS[:2], gzip_records=True)
    with pytest.raises(ValueError, match="truncated|corrupt"):
        list(C._parse_warc_gz_bytes(blob[:-5]))
    bad = b"NOTGZIP" + blob
    with pytest.raises(ValueError, match="boundary"):
        list(C._parse_warc_gz_bytes(bad))
    # a member framing two records is rejected
    import gzip
    two = gzip.compress(
        C.encode_warc_record("response", "urn:uuid:doc-1", b"x")
        + C.encode_warc_record("response", "urn:uuid:doc-2", b"y")
    )
    with pytest.raises(ValueError, match="frames 2 records"):
        list(C._parse_warc_gz_bytes(two))
    # Spark surface: skip_errors contains the bad file, magic sniffing
    # routes gz and plain files in the SAME frame
    df = _files_df(spark, [(1, blob), (2, blob[:-5]), (3, C.encode_warc_file(7, DOCS[:1]))])
    rows = C.warc_records(df, skip_errors=True).collect()
    ok1 = [r for r in rows if r["file_id"] == 1 and r["error"] is None]
    ok3 = [r for r in rows if r["file_id"] == 3 and r["error"] is None]
    errs = [r for r in rows if r["error"] is not None]
    assert len(ok1) == 3 and len(ok3) == 2
    assert len(errs) == 1 and errs[0]["file_id"] == 2


def test_tar_prefix_long_names_stdlib_interop():
    """ustar long names split into the 155-byte prefix field: stdlib
    writes them, our parser must reassemble prefix/name."""
    buf = io.BytesIO()
    long_name = "/".join(["deep"] * 30) + "/leaf.txt"  # > 100 bytes
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as w:
        ti = tarfile.TarInfo(long_name)
        ti.size = 4
        w.addfile(ti, io.BytesIO(b"data"))
    recs = list(C._parse_tar_bytes(buf.getvalue()))
    assert recs[0][1] == long_name
    assert recs[0][5] == hashlib.md5(b"data").hexdigest()


# ------------------------------------------------ crawl pipeline composition


def test_warc_to_incremental_dedup_pipeline(spark, tmp_path):
    """The crawl shape end-to-end: WARC batches arrive → 1→many record
    extraction WITH payloads → text → incremental MinHash index →
    cross-batch near-dup candidates.  Batch 2 replants batch 1's docs
    under new ids, so the candidates must pair new ids against OLD
    ids without re-signing the old corpus."""
    from opentsdb_aura_spark.operators.dedup_text import (
        lsh_candidates_from_signatures,
        update_minhash_index,
    )

    path = str(tmp_path / "crawl_mh")
    base = [
        (i, f"crawl document {i} with some shared boilerplate text body {i % 3}")
        for i in range(20)
    ]
    dupes = [(1000 + i, t) for i, t in base[:5]]  # near-exact recrawls

    def ingest(rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        files = C.synthesize_warc(docs, docs_per_file=10, gzip_records=True)
        recs = C.warc_records(files, with_payload=True).where(
            F.col("warc_type") == "response"
        )
        texts = recs.select(
            F.split(F.col("record_id"), "-").getItem(1).cast("long").alias("doc_id"),
            F.col("payload").cast("string").alias("text"),
        )
        return update_minhash_index(texts, path)

    ingest(base)
    sig = ingest(dupes)
    assert sig.count() == 25  # 20 + 5, re-appends deduped by the anti-join
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates_from_signatures(sig, threshold=0.9).collect()
    }
    for i, _ in base[:5]:
        assert (i, 1000 + i) in pairs or (1000 + i, i) in pairs


def test_tar_gz_stream_roundtrip(spark):
    """.tar.gz: whole-stream gzip, magic-sniffed; members and offsets
    equal the plain archive's (decompressed layout), and stdlib
    tarfile reads our stream ('r:gz')."""
    import gzip

    plain = C.encode_tar_file(DOCS)
    gz = C._gzip_member(plain)
    tf = tarfile.open(fileobj=io.BytesIO(gz), mode="r:gz")
    assert [m.name for m in tf.getmembers()] == [f"doc/{i}.txt" for i, _ in DOCS]
    df = _files_df(spark, [(0, gz), (1, plain)])
    rows = C.tar_members(df).collect()
    a = sorted((r["offset"], r["name"], r["payload_md5"]) for r in rows if r["file_id"] == 0)
    b = sorted((r["offset"], r["name"], r["payload_md5"]) for r in rows if r["file_id"] == 1)
    assert a == b and len(a) == len(DOCS)


def test_canonicalize_url_rules(spark):
    """Canonicalization folds scheme/host case, default ports, query
    strings, fragments, and trailing slashes — but preserves path
    case and non-default ports."""
    from opentsdb_aura_spark.operators.containers import canonicalize_url

    rows = [
        ("HTTPS://Example.COM:443/A/b/?q=1#f", "https://example.com/A/b"),
        ("http://example.com:80/", "http://example.com"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        # scheme-mismatched "default" ports are DISTINCT resources and
        # must survive canonicalization (ADVICE r7)
        ("https://example.com:80/x", "https://example.com:80/x"),
        ("http://example.com:443/x", "http://example.com:443/x"),
        ("http://example.com/x?utm=1", "http://example.com/x"),
        ("http://example.com/x#only-frag", "http://example.com/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "u string")
    got = [r["c"] for r in df.select(canonicalize_url("u").alias("c")).collect()]
    assert got == [want for _, want in rows]


# ------------------------------------------------- HTTP response envelope


def test_http_parse_framing_modes():
    """The three framing modes of the fixture envelope: chunked
    reassembly, Content-Length stopping BEFORE the trailing junk, and
    connection-close reading to payload end."""
    from opentsdb_aura_spark.operators.containers import (
        _parse_http_response,
        encode_http_response,
    )

    body = b"0123456789abcdefXYZ"  # 19 bytes -> 7+7+5 chunks
    # doc_id 0: %3==0 chunked, %7==0 -> 404, %2==0+%4==0 -> charset=utf-8
    v, code, reason, ct, cs, cenc, chunked, clen, nh, _loc, _et, _lm, _ra, got = _parse_http_response(
        encode_http_response(0, body)
    )
    assert (v, code, reason) == ("1.0", 404, "Not Found")  # 0 % 11 == 0 -> HTTP/1.0
    assert (ct, cs, cenc, chunked, clen, nh) == ("text/html", "utf-8", None, True, None, 4)
    assert got == body

    # doc_id 1: Content-Length framing with junk past the body
    v, code, reason, ct, cs, cenc, chunked, clen, nh, _loc, _et, _lm, _ra, got = _parse_http_response(
        encode_http_response(1, body)
    )
    assert (v, code, chunked, clen, cs) == ("1.1", 200, False, len(body), None)
    assert got == body  # junk after Content-Length bytes NOT read

    # doc_id 2: neither header -> body runs to payload end; quoted charset
    v, code, reason, ct, cs, cenc, chunked, clen, nh, _loc, _et, _lm, _ra, got = _parse_http_response(
        encode_http_response(2, body)
    )
    assert (chunked, clen, nh, cs) == (False, None, 3, "utf-8")  # "UTF-8" unquoted+folded
    assert got == body

    # empty body round-trips in all three modes
    for d in (0, 1, 2):
        assert _parse_http_response(encode_http_response(d, b""))[-1] == b""


def test_http_content_encoding_inflation():
    """Content-Encoding handling: gzip and deflate bodies inflate back
    to the original bytes under EVERY framing mode (framing undone
    first, then the representation coding — RFC order); x-gzip aliases
    gzip; raw-DEFLATE (no zlib wrapper) is accepted with the browser
    leniency; identity passes through; an unknown coding raises."""
    import zlib

    import pytest

    from opentsdb_aura_spark.operators.containers import (
        _gzip_member,
        _parse_http_response,
        encode_http_response,
    )

    body = b"the quick brown fox jumps over the lazy dog " * 3
    # fixture crossings: doc_id 0 (gzip+chunked), 10 (gzip+CL+junk),
    # 20 (gzip+close), 3 (deflate+chunked), 13 (deflate+CL), 23 (deflate+close)
    for d, want_cenc in [(0, "gzip"), (10, "gzip"), (20, "gzip"),
                         (3, "deflate"), (13, "deflate"), (23, "deflate"),
                         (1, None), (2, None)]:
        out = _parse_http_response(encode_http_response(d, body, content_encoding=True))
        assert out[5] == want_cenc, d
        assert out[-1] == body, d
        # empty bodies survive coding+framing too
        assert _parse_http_response(
            encode_http_response(d, b"", content_encoding=True)
        )[-1] == b""

    def msg(hdr, framed):
        return b"HTTP/1.1 200 OK\r\n" + hdr + b"Content-Length: " + str(
            len(framed)
        ).encode() + b"\r\n\r\n" + framed

    # x-gzip alias and case-insensitive value
    out = _parse_http_response(msg(b"Content-Encoding: X-GZIP\r\n", _gzip_member(body)))
    assert out[5] == "x-gzip" and out[-1] == body
    # raw DEFLATE (no zlib header) — real-server leniency
    co = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
    raw = co.compress(body) + co.flush()
    out = _parse_http_response(msg(b"Content-Encoding: deflate\r\n", raw))
    assert out[5] == "deflate" and out[-1] == body
    # explicit identity is a passthrough and normalizes to None
    out = _parse_http_response(msg(b"Content-Encoding: identity\r\n", body))
    assert out[5] is None and out[-1] == body
    # unknown / multi-coding values are honest failures
    with pytest.raises(ValueError, match="unsupported Content-Encoding"):
        _parse_http_response(msg(b"Content-Encoding: br\r\n", body))
    with pytest.raises(ValueError, match="unsupported Content-Encoding"):
        _parse_http_response(msg(b"Content-Encoding: gzip, br\r\n", body))
    # corrupt gzip/deflate streams are a CONSISTENT ValueError
    # (diagnosable, contained per record), not a raw zlib.error
    with pytest.raises(ValueError, match="gzip"):
        _parse_http_response(msg(b"Content-Encoding: gzip\r\n", b"\x1f\x8bnot gzip"))
    with pytest.raises(ValueError, match="deflate"):
        _parse_http_response(msg(b"Content-Encoding: deflate\r\n", b"not deflate at all"))
    # a 0-byte coded body is an empty representation (browser rule),
    # not a decode error
    out = _parse_http_response(msg(b"Content-Encoding: gzip\r\n", b""))
    assert out[5] == "gzip" and out[-1] == b""
    # MULTI-MEMBER gzip bodies (per-flush members some servers emit)
    # concatenate; a truncated trailing member raises
    two = _gzip_member(body[:20]) + _gzip_member(body[20:])
    out = _parse_http_response(msg(b"Content-Encoding: gzip\r\n", two))
    assert out[-1] == body
    with pytest.raises(ValueError, match="truncated gzip"):
        _parse_http_response(msg(b"Content-Encoding: gzip\r\n", two[:-5]))


def test_http_parse_malformed_raises():
    import pytest

    from opentsdb_aura_spark.operators.containers import _parse_http_response

    with pytest.raises(ValueError, match="unterminated header"):
        _parse_http_response(b"HTTP/1.1 200 OK\r\nServer: x\r\n")
    with pytest.raises(ValueError, match="bad status line"):
        _parse_http_response(b"ICY 200 OK\r\n\r\nbody")
    with pytest.raises(ValueError, match="malformed header line"):
        _parse_http_response(b"HTTP/1.1 200 OK\r\nno-colon-here\r\n\r\n")
    with pytest.raises(ValueError, match="truncated body"):
        _parse_http_response(b"HTTP/1.1 200 OK\r\nContent-Length: 50\r\n\r\nshort")
    with pytest.raises(ValueError, match="bad chunk size"):
        _parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nbody\r\n0\r\n\r\n"
        )
    with pytest.raises(ValueError, match="truncated chunk"):
        _parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nff\r\nshort"
        )


def test_http_responses_per_record_containment(spark):
    """One unparseable HTTP payload inside an otherwise good WARC file
    costs ONE error row (record_id preserved for the diagnosis), not
    the file and not the stage; fail-fast without skip_errors."""
    import pytest

    from opentsdb_aura_spark.operators.containers import (
        encode_http_response,
        http_responses,
        warc_records,
    )

    raw = (
        C.encode_warc_record(
            "response",
            "urn:uuid:doc-1",
            encode_http_response(1, b"good body"),
            target_uri="http://example.com/1",
            content_type="application/http;msgtype=response",
        )
        + C.encode_warc_record(
            "response",
            "urn:uuid:doc-2",
            b"NOT AN HTTP MESSAGE AT ALL",
            target_uri="http://example.com/2",
        )
        + C.encode_warc_record("metadata", "urn:uuid:meta-1", b"ignored")
    )
    recs = warc_records(_files_df(spark, [(0, raw)]), with_payload=True)
    rows = {r["record_id"]: r for r in http_responses(recs, skip_errors=True).collect()}
    assert set(rows) == {"urn:uuid:doc-1", "urn:uuid:doc-2"}  # metadata filtered out
    ok = rows["urn:uuid:doc-1"]
    assert ok["error"] is None and ok["status_code"] == 200 and ok["n_headers"] == 4
    bad = rows["urn:uuid:doc-2"]
    assert bad["error"] is not None and bad["status_code"] is None

    with pytest.raises(Exception):
        http_responses(recs, skip_errors=False).collect()


def test_http_responses_requires_payload(spark):
    """Header-only warc_records output (no payload column values) is a
    caller error the operator diagnoses per record, not a silent
    null-body parse."""
    from opentsdb_aura_spark.operators.containers import http_responses

    recs = spark.createDataFrame(
        [(0, "urn:uuid:doc-1", "http://example.com/1", None)],
        "file_id long, record_id string, target_uri string, payload binary",
    )
    row = http_responses(recs, skip_errors=True).collect()[0]
    assert "no payload" in row["error"]


# ------------------------------------------------------- HTML -> text


def test_html_to_text_edges(spark):
    """NULL html, titleless pages, threshold semantics, and keep_cols
    validation."""
    import pytest

    from opentsdb_aura_spark.operators.htmltext import html_to_text

    pages = spark.createDataFrame(
        [
            (1, "<p>plain words</p><nav><a href='/'>x</a></nav>"),
            (2, None),
            (3, "no markup at all"),
        ],
        "doc_id long, html string",
    )
    rows = {r["doc_id"]: r for r in html_to_text(pages).collect()}
    assert rows[1]["title"] is None and rows[1]["text"] == "plain words"
    assert rows[1]["n_blocks"] == 2 and rows[1]["n_boilerplate"] == 1
    assert rows[2]["text"] is None and rows[2]["n_blocks"] == 0
    assert rows[3]["text"] == "no markup at all" and rows[3]["n_blocks"] == 1

    # threshold > 1 keeps even pure-link blocks (density can't exceed 1... by much)
    kept = {
        r["doc_id"]: r
        for r in html_to_text(pages, boilerplate_threshold=2.0).collect()
    }
    assert kept[1]["text"] == "plain words\nx" and kept[1]["n_boilerplate"] == 0

    with pytest.raises(ValueError, match="keep_cols"):
        html_to_text(pages, keep_cols=("nope",))


def test_html_to_text_charset_decode(spark):
    """charset_col decode path: latin-1 and Shift_JIS bytes decode
    with the declared charset (NOT blind utf-8), NULL charset defaults
    to utf-8, an unknown label falls back to utf-8, and mislabeled
    bytes yield U+FFFD replacement instead of a dead task."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text

    latin = "<p>café ¡sí!</p>".encode("iso-8859-1")
    sjis = "<p>日本語です</p>".encode("shift_jis")
    utf = "<p>snowman ☃</p>".encode("utf-8")
    pages = spark.createDataFrame(
        [
            (0, "iso-8859-1", bytearray(latin)),
            (1, "shift_jis", bytearray(sjis)),
            (2, None, bytearray(utf)),
            (3, "klingon-1", bytearray(utf)),   # unknown label -> utf-8
            (4, "utf-8", bytearray(latin)),     # mislabeled -> replacement
        ],
        "doc_id long, charset string, html binary",
    )
    rows = {
        r["doc_id"]: r["text"]
        for r in html_to_text(pages, charset_col="charset").collect()
    }
    assert rows[0] == "café ¡sí!"
    assert rows[1] == "日本語です"
    assert rows[2] == "snowman ☃"
    assert rows[3] == "snowman ☃"
    assert "�" in rows[4]  # deterministic mojibake, not a crash

    import pytest

    with pytest.raises(ValueError, match="charset_col"):
        html_to_text(pages, charset_col="nope")

    # WHATWG aliasing: a page LABELED iso-8859-1 carrying 0x93/0x94
    # smart quotes (windows-1252 territory) must decode as cp1252 —
    # strict latin-1 would map them to C1 control characters
    smart = spark.createDataFrame(
        [(0, "iso-8859-1", bytearray("<p>“quoted”</p>".encode("cp1252")))],
        "doc_id long, charset string, html binary",
    )
    got = html_to_text(smart, charset_col="charset").collect()[0]["text"]
    assert got == "“quoted”"


def test_extract_html_text_traps():
    """Entity decoding order (escaped markup stays text), comment and
    script/style containment, head removal, inline-tag stripping."""
    from opentsdb_aura_spark.operators.htmltext import extract_html_text

    title, text, n_blocks, n_boiler, lc, tc = extract_html_text(
        "<head><title>T &amp; U</title><style>p{}</style></head>"
        "<body><!-- <p>ghost</p> -->"
        "<p>a <b>b</b>old &lt;i&gt; literal &#x40;</p>"
        "<script>var s = '</p><p>';</script>"
        "<div><a href='/x'>go</a> <a href='/y'>now</a></div></body>"
    )
    assert title == "T & U"
    assert text == "a bold <i> literal @"  # div dropped: 5/6 anchor chars
    assert (n_blocks, n_boiler) == (2, 1)
    assert lc == 5 and tc == len("a bold <i> literal @") + len("go now")


def test_write_wet_files_roundtrip_and_nulls(spark):
    """WET export: conversion records round-trip through warc_records
    (one warcinfo + one conversion per doc, doc-id file grouping),
    NULL text becomes an empty payload instead of a crash, and a
    caller-supplied uri_col passes through."""
    from opentsdb_aura_spark.operators.containers import warc_records, write_wet_files

    texts = spark.createDataFrame(
        [(0, "alpha text", "http://a/0"), (1, None, "http://a/1"), (2, "beta", None)],
        "doc_id long, text string, uri string",
    )
    recs = warc_records(write_wet_files(texts, docs_per_file=2, uri_col="uri")).collect()
    by_id = {r["record_id"]: r for r in recs}
    assert {r["warc_type"] for r in recs} == {"warcinfo", "conversion"}
    assert by_id["urn:uuid:wet-0"]["target_uri"] == "http://a/0"
    assert by_id["urn:uuid:wet-0"]["content_length"] == len("alpha text")
    assert by_id["urn:uuid:wet-1"]["content_length"] == 0  # NULL text -> empty
    assert by_id["urn:uuid:wet-2"]["target_uri"] is None
    # two files: docs {0,1} and {2}, each led by its warcinfo at offset 0
    infos = [r for r in recs if r["warc_type"] == "warcinfo"]
    assert len(infos) == 2 and all(r["offset"] == 0 for r in infos)

    import pytest

    # NULL doc_id fails with the diagnosis, not a NaN-to-int crash
    with_null = spark.createDataFrame(
        [(None, "ghost", "http://a/x")], "doc_id long, text string, uri string"
    )
    with pytest.raises(Exception, match="NULL doc_id"):
        write_wet_files(with_null, docs_per_file=2, uri_col="uri").collect()
    # docs_per_file=0 fails at the API boundary with the real cause
    with pytest.raises(ValueError, match="docs_per_file"):
        write_wet_files(texts, docs_per_file=0, uri_col="uri")


def test_http_requests_parse_and_containment(spark):
    """Request-record splitting: method/target/version/Host/UA parsed,
    WARC-Concurrent-To preserved, a non-HTTP request payload contained
    per record under skip_errors (fail-fast without)."""
    import pytest

    from opentsdb_aura_spark.operators.containers import (
        encode_http_request,
        http_requests,
        warc_records,
    )

    raw = (
        C.encode_warc_record(
            "request", "urn:uuid:req-1", encode_http_request(1),
            target_uri="http://example.com/doc/1",
            content_type="application/http;msgtype=request",
            concurrent_to="urn:uuid:doc-1",
        )
        + C.encode_warc_record(
            "request", "urn:uuid:req-2", b"NOT A REQUEST",
            target_uri="http://example.com/doc/2",
        )
        + C.encode_warc_record("response", "urn:uuid:doc-1", b"body",
                               target_uri="http://example.com/doc/1")
    )
    recs = warc_records(_files_df(spark, [(0, raw)]), with_payload=True)
    rows = {r["record_id"]: r for r in http_requests(recs, skip_errors=True).collect()}
    assert set(rows) == {"urn:uuid:req-1", "urn:uuid:req-2"}  # response filtered out
    ok = rows["urn:uuid:req-1"]
    assert (ok["method"], ok["req_target"], ok["http_version"]) == ("GET", "/doc/1", "1.1")
    assert ok["host"] == "example.com" and ok["concurrent_to"] == "urn:uuid:doc-1"
    assert ok["n_headers"] == 2  # odd doc_id: no Accept header
    bad = rows["urn:uuid:req-2"]
    assert bad["error"] is not None and bad["method"] is None
    with pytest.raises(Exception):
        http_requests(recs, skip_errors=False).collect()


def test_http_requests_duplicate_headers_counted_and_combined():
    """Repeated header names (multiple Accept/Cookie lines are routine
    in real captures) each count toward n_headers and combine with
    ', ' per RFC 9110 §5.2 — a dict collapse would undercount and keep
    only the last value (ADVICE r9)."""
    from opentsdb_aura_spark.operators.containers import _parse_http_request

    msg = (
        b"GET /x HTTP/1.1\r\n"
        b"Host: example.com\r\n"
        b"Accept: text/html\r\n"
        b"Accept: application/xml\r\n"
        b"Cookie: a=1\r\n"
        b"Cookie: b=2\r\n"
        b"\r\n"
    )
    method, tgt, ver, host, ua, nh = _parse_http_request(msg)
    assert (method, tgt, ver, host, ua) == ("GET", "/x", "1.1", "example.com", None)
    assert nh == 5  # five header LINES, not three distinct names


def test_inflate_body_decompression_bomb_bound():
    """A small coded body that inflates past the bound raises the
    contained ValueError (never inflates fully into memory); the same
    body passes under a bound that admits it, and the bound compounds
    across multi-member gzip (ADVICE r9)."""
    import gzip as _gz
    import zlib

    from opentsdb_aura_spark.operators.containers import _inflate_body

    big = b"\x00" * (4 << 20)  # 4 MiB of zeros -> ~4 KiB gzip
    coded = _gz.compress(big)
    assert len(coded) < 10_000
    with pytest.raises(ValueError, match="decompression-bomb"):
        _inflate_body(coded, "gzip", limit=1 << 20)
    assert _inflate_body(coded, "gzip", limit=8 << 20) == big

    # multi-member: each member under the bound, cumulative over it
    two = _gz.compress(big) + _gz.compress(big)
    with pytest.raises(ValueError, match="decompression-bomb"):
        _inflate_body(two, "gzip", limit=6 << 20)
    assert _inflate_body(two, "gzip", limit=16 << 20) == big + big

    # deflate path (zlib-wrapped and raw) honors the same bound, and
    # the bomb ValueError must NOT be misread as a format mismatch
    # that falls through to the raw-DEFLATE retry
    zcoded = zlib.compress(big)
    with pytest.raises(ValueError, match="decompression-bomb"):
        _inflate_body(zcoded, "deflate", limit=1 << 20)
    assert _inflate_body(zcoded, "deflate", limit=8 << 20) == big
    co = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
    raw = co.compress(big) + co.flush()
    with pytest.raises(ValueError, match="decompression-bomb"):
        _inflate_body(raw, "deflate", limit=1 << 20)
    assert _inflate_body(raw, "deflate", limit=8 << 20) == big


def test_inflate_body_truncated_deflate_still_raises():
    """The incremental decompressobj path must keep the old
    zlib.decompress behavior on TRUNCATED deflate streams: partial
    output is a corrupt body, not a silent success."""
    import zlib

    from opentsdb_aura_spark.operators.containers import _inflate_body

    body = b"the quick brown fox jumps over the lazy dog " * 100
    coded = zlib.compress(body)
    with pytest.raises(ValueError, match="deflate"):
        _inflate_body(coded[: len(coded) // 2], "deflate")


def test_synthesize_warc_charset_body_rejects_non_ascii():
    """charset_body fixtures re-encode corpus text with legacy codecs;
    non-ASCII corpus text fails AT THE BOUNDARY with doc context, not
    as an opaque UnicodeEncodeError mid-task (ADVICE r9)."""
    with pytest.raises(ValueError, match="not ASCII"):
        C.encode_warc_file(
            0,
            [(1, "café corpus text")],
            http_envelope=True,
            html_body=True,
            charset_body=True,
        )


def test_http_responses_extra_cols_passthrough(spark):
    """extra_cols carries input columns through the envelope split
    unchanged — on success AND error rows — so consumers like the CDX
    index keep offset/length/date without a self-join."""
    from opentsdb_aura_spark.operators.containers import (
        encode_http_response,
        http_responses,
        warc_records,
    )

    raw = C.encode_warc_record(
        "response", "urn:uuid:doc-1", encode_http_response(1, b"hello"),
        target_uri="http://example.com/doc/1",
        content_type="application/http;msgtype=response",
    ) + C.encode_warc_record(
        "response", "urn:uuid:doc-2", b"NOT HTTP",
        target_uri="http://example.com/doc/2",
    )
    recs = warc_records(_files_df(spark, [(0, raw)]), with_payload=True)
    out = http_responses(
        recs, skip_errors=True, extra_cols=("offset", "record_length", "warc_date")
    )
    rows = {r["record_id"]: r for r in out.collect()}
    ok, bad = rows["urn:uuid:doc-1"], rows["urn:uuid:doc-2"]
    assert ok["offset"] == 0 and ok["record_length"] > 0
    assert ok["warc_date"] == C.WARC_DATE
    assert bad["error"] is not None and bad["offset"] == ok["record_length"]
    # "payload" among the passthroughs keeps every column on its own name,
    # whatever position it takes in the list (error rows included)
    out = http_responses(recs, skip_errors=True, extra_cols=("offset", "payload"))
    rows = {r["record_id"]: r for r in out.collect()}
    assert rows["urn:uuid:doc-1"]["offset"] == 0
    assert rows["urn:uuid:doc-2"]["offset"] == ok["record_length"]
    assert rows["urn:uuid:doc-2"]["payload"] == b"NOT HTTP"
    assert b"hello" in rows["urn:uuid:doc-1"]["payload"]


def test_cdx_write_parse_roundtrip_and_sort(spark):
    """CDXJ sink: lines sorted by (urlkey, offset) inside each file,
    and parse_cdx_files inverts write_cdx_files exactly (types
    included)."""
    from opentsdb_aura_spark.operators.containers import (
        cdx_index,
        parse_cdx_files,
        synthesize_warc,
        warc_records,
        write_cdx_files,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(7)], "doc_id long, text string"
    )
    files = synthesize_warc(docs, docs_per_file=4, http_envelope=True)
    idx = cdx_index(warc_records(files, with_payload=True))
    packed = write_cdx_files(idx)
    # lines inside each file are sorted by urlkey
    for r in packed.collect():
        lines = r["content"].split("\n")
        keys = [ln.split(" ", 1)[0] for ln in lines]
        assert keys == sorted(keys)
    back = parse_cdx_files(packed)
    a = sorted(map(tuple, idx.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b and len(a) == 7


def test_http_transfer_encoding_gzip_and_order():
    """TE: gzip (close-delimited; overrides CL) and TE: gzip, chunked
    (dechunk first, then un-gzip); chunked-not-final and unknown TE
    codings raise the contained ValueError."""
    import zlib

    from opentsdb_aura_spark.operators.containers import (
        _gzip_member,
        _parse_http_response,
        encode_http_response,
    )

    body = b"the quick brown fox jumps over the lazy dog " * 11
    for d in range(8):
        out = _parse_http_response(encode_http_response(d, body, transfer_coding=True))
        assert out[-1] == body, d
        assert out[6] == (d % 2 == 1)  # chunked flag
        assert out[5] is None and out[7] is None  # no CE, no CL

    def msg(hdr, framed):
        return b"HTTP/1.1 200 OK\r\n" + hdr + b"\r\n\r\n" + framed

    # TE overrides Content-Length: CL names a WRONG (shorter) length,
    # the close-delimited gzip body must still fully decode
    coded = _gzip_member(body)
    out = _parse_http_response(
        msg(b"Transfer-Encoding: gzip\r\nContent-Length: 5", coded)
    )
    assert out[-1] == body and out[7] == 5  # CL surfaced, not used for framing
    # chunked not final is an RFC violation
    with pytest.raises(ValueError, match="final transfer coding"):
        _parse_http_response(msg(b"Transfer-Encoding: chunked, gzip", b"0\r\n\r\n"))
    # unknown hop coding is an honest contained boundary
    with pytest.raises(ValueError, match="unsupported Transfer-Encoding"):
        _parse_http_response(msg(b"Transfer-Encoding: br, chunked", b"0\r\n\r\n"))
    # identity hops are no-ops around chunked
    chunks = b"%x\r\n" % len(body) + body + b"\r\n0\r\n\r\n"
    out = _parse_http_response(msg(b"Transfer-Encoding: identity, chunked", chunks))
    assert out[-1] == body


def test_register_body_decoder_seam():
    """The Content-Encoding plug seam: an unknown coding raises until
    a decoder is registered; plug output honors the bomb bound; plug
    exceptions become the contained ValueError."""
    from opentsdb_aura_spark.operators.containers import (
        _BODY_DECODERS,
        _inflate_body,
        register_body_decoder,
    )

    body = b"abcdef" * 10
    with pytest.raises(ValueError, match="unsupported Content-Encoding"):
        _inflate_body(body[::-1], "rev")
    register_body_decoder("rev", lambda b: b[::-1])
    try:
        assert _inflate_body(body[::-1], "rev") == body
        with pytest.raises(ValueError, match="decompression-bomb"):
            _inflate_body(body[::-1], "rev", limit=10)
        register_body_decoder("boom", lambda b: 1 / 0)
        with pytest.raises(ValueError, match="corrupt boom body"):
            _inflate_body(body, "boom")
    finally:
        _BODY_DECODERS.pop("rev", None)
        _BODY_DECODERS.pop("boom", None)


def test_html_blocks_parity_with_page_extraction(spark):
    """extract_html_blocks and extract_html_text share one walk: the
    page-level counters must equal the per-block sums, and kept text
    must equal the non-boilerplate blocks joined by newlines; NULL
    html yields zero block rows."""
    from opentsdb_aura_spark.operators.htmltext import (
        extract_html_blocks,
        extract_html_text,
        html_to_blocks,
        render_fixture_html,
    )

    page = render_fixture_html(42, "some body words & <traps>")
    title, text, n_blocks, n_boiler, lc, tc = extract_html_text(page)
    blocks = extract_html_blocks(page)
    assert len(blocks) == n_blocks == 5
    assert sum(1 for b in blocks if b[6]) == n_boiler == 2
    assert sum(b[3] for b in blocks) == lc and sum(b[4] for b in blocks) == tc
    assert "\n".join(b[1] for b in blocks if not b[6]) == text
    assert [b[0] for b in blocks] == list(range(5))  # dense block_idx

    df = spark.createDataFrame([(1, page), (2, None)], "doc_id long, html string")
    rows = html_to_blocks(df).collect()
    assert len(rows) == 5 and all(r["doc_id"] == 1 for r in rows)


def test_cdx_urlkey_space_percent_roundtrip(spark):
    """A urlkey containing spaces or literal '%' survives the
    space-delimited CDXJ line format exactly (invertible %-encoding:
    '%' first on encode, last on decode)."""
    from opentsdb_aura_spark.operators.containers import (
        parse_cdx_files,
        write_cdx_files,
    )

    rows = [
        (0, "http://a.example/x y", "20240101000000",
         "http://a.example/x%20y", "text/html", 200, "d1", 0, 10, "r1"),
        (0, "http://a.example/p%20q z", "20240101000000",
         "http://a.example/raw", "text/html", 200, "d2", 10, 10, "r2"),
    ]
    cdx = spark.createDataFrame(
        rows,
        "file_id long, urlkey string, cdx_ts string, url string, mime string, "
        "status int, digest string, offset long, length long, record_id string",
    )
    back = parse_cdx_files(write_cdx_files(cdx))
    got = sorted((r["urlkey"], r["record_id"]) for r in back.collect())
    assert got == [
        ("http://a.example/p%20q z", "r2"),
        ("http://a.example/x y", "r1"),
    ]


def test_http_responses_extra_cols_collision_raises(spark):
    import pytest as _pytest

    from opentsdb_aura_spark.operators.containers import http_responses, warc_records

    raw = C.encode_warc_record("response", "urn:uuid:doc-1", b"x",
                               target_uri="http://example.com/doc/1")
    recs = warc_records(_files_df(spark, [(0, raw)]), with_payload=True)
    with _pytest.raises(ValueError, match="collide"):
        http_responses(recs, extra_cols=("content_length",))


def test_badwords_empty_blocklist(spark):
    from opentsdb_aura_spark.operators.quality import badwords_flags

    df = spark.createDataFrame([(1, "dup text"), (2, None)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in badwords_flags(df, blocklist=()).collect()}
    assert out[1]["n_badword_hits"] == 0 and out[1]["ok_badwords"]
    assert not out[2]["ok_badwords"]  # NULL text still fails


def test_extract_links_edges(spark):
    """Href forms (double/single/unquoted, entity-coded), hrefless and
    empty-href anchors skipped, script-injected anchors dropped with
    the script, document order preserved."""
    from opentsdb_aura_spark.operators.htmltext import extract_links

    page = (
        "<html><head><script>var s = '<a href=\"/phantom\">x</a>';</script></head>"
        "<body>"
        '<a href="/a&amp;b?x=1">First &amp; Co</a>'
        "<a href='/two'>two</a>"
        "<a href=/three>three</a>"
        "<a name='anchor-only'>not a link</a>"
        "<a href=''>empty</a>"
        '<a href="https://other.example/abs"><b>bold</b> text</a>'
        "</body></html>"
    )
    got = extract_links(page)
    assert got == [
        (0, "/a&b?x=1", "First & Co", False),
        (1, "/two", "two", False),
        (2, "/three", "three", False),
        (3, "https://other.example/abs", "bold text", False),
    ]
    # rel tokens: nofollow flagged per link, space-separated list, any
    # attribute order, case-insensitive; other rel values stay False
    rel_page = (
        '<body><a rel="nofollow" href="/n1">a</a>'
        "<a href='/n2' rel='noopener NOFOLLOW'>b</a>"
        '<a href="/f" rel="noopener">c</a>'
        "<a href=/plain>d</a></body>"
    )
    assert [(h, nf) for _, h, _, nf in extract_links(rel_page)] == [
        ("/n1", True), ("/n2", True), ("/f", False), ("/plain", False),
    ]


def test_resolve_href_rules(spark):
    from opentsdb_aura_spark.operators.containers import resolve_href

    rows = [
        ("http://h.example/dir/page", "https://abs.example/x", "https://abs.example/x"),
        ("http://h.example/dir/page", "//cdn.example/y", "http://cdn.example/y"),
        ("http://h.example:8080/p", "/rooted", "http://h.example:8080/rooted"),
        ("http://h.example/p", "relative/path", None),
        ("http://h.example/p", "#frag", None),
        ("http://h.example/p", "mailto:a@b", None),  # non-hierarchical: not fetchable
        # a schemeless/garbage base can't anchor a resolution: minting
        # '://cdn.example/y' or a host-less '/rooted' would let a
        # malformed URL through the NULL filter into the frontier
        ("relative/base", "//cdn.example/y", None),
        ("relative/base", "/rooted", None),
    ]
    df = spark.createDataFrame([(b, h) for b, h, _ in rows], "base string, href string")
    got = [r[0] for r in df.select(resolve_href("base", "href")).collect()]
    assert got == [want for _, _, want in rows]


def test_cdx_index_excludes_error_and_uriless_rows(spark):
    """skip_errors error rows, URI-less records, and date-less records
    never reach the capture index (their null urlkey/timestamp would
    shift the CDXJ line fields — concat_ws silently drops NULLs, so
    the JSON blob would re-parse as the timestamp); good captures
    still index."""
    from opentsdb_aura_spark.operators.containers import (
        cdx_index,
        encode_http_response,
        warc_records,
    )

    dateless = C.encode_warc_record(
        "response", "urn:uuid:doc-4", encode_http_response(4, b"y"),
        target_uri="http://example.com/doc/4",
        content_type="application/http;msgtype=response",
    )
    date_line = b"WARC-Date: " + C.WARC_DATE.encode() + b"\r\n"
    assert date_line in dateless
    dateless = dateless.replace(date_line, b"")
    raw = (
        C.encode_warc_record(
            "response", "urn:uuid:doc-1", encode_http_response(1, b"hello"),
            target_uri="http://example.com/doc/1",
            content_type="application/http;msgtype=response",
        )
        + C.encode_warc_record(
            "response", "urn:uuid:doc-2", b"NOT HTTP",
            target_uri="http://example.com/doc/2",
        )
        + C.encode_warc_record(
            "response", "urn:uuid:doc-3", encode_http_response(3, b"x"),
            content_type="application/http;msgtype=response",  # no Target-URI
        )
        + dateless
    )
    recs = warc_records(_files_df(spark, [(0, raw)]), with_payload=True)
    rows = cdx_index(recs, skip_errors=True).collect()
    assert [r["record_id"] for r in rows] == ["urn:uuid:doc-1"]
    assert rows[0]["urlkey"] == "http://example.com/doc/1"


# --------------------------------------------------------- revisit records


def test_warc_revisit_plan_write_read_resolve(spark):
    """The full revisit lifecycle (ISO 28500 §6.7.2): identical
    refetches plan as revisits of the FIRST capture in (file, offset)
    order; a same-URL fetch with DIFFERENT bytes stays an original;
    the written revisit record is payload-less but carries
    Refers-To / Profile / Payload-Digest; re-reading and resolving
    recovers the original's digest for every duplicate."""
    import hashlib

    def cap(i, url, body):
        return C.encode_warc_record(
            "response", f"urn:uuid:cap-{i}", body,
            target_uri=url, content_type="application/http;msgtype=response",
        )

    f0 = cap(0, "http://h.example/a", b"AAA") + cap(1, "http://h.example/b", b"BBB") \
        + cap(2, "http://h.example/a", b"AAA")
    f1 = cap(3, "http://h.example/a", b"AAA-changed") \
        + cap(4, "http://h.example/b", b"BBB") + cap(5, "http://h.example/a", b"AAA")
    recs = C.warc_records(_files_df(spark, [(0, f0), (1, f1)]), with_payload=True)
    marked = C.mark_revisits(recs)
    plan = {r["record_id"]: r["revisit_of"] for r in marked.collect()}
    assert plan["urn:uuid:cap-0"] is None
    assert plan["urn:uuid:cap-1"] is None
    assert plan["urn:uuid:cap-3"] is None          # different bytes -> original
    assert plan["urn:uuid:cap-2"] == "urn:uuid:cap-0"
    assert plan["urn:uuid:cap-4"] == "urn:uuid:cap-1"
    assert plan["urn:uuid:cap-5"] == "urn:uuid:cap-0"

    reread = C.warc_records(C.write_revisit_warc_files(marked), with_payload=True)
    rows = {r["record_id"]: r for r in reread.collect()}
    assert rows["urn:uuid:cap-5"]["warc_type"] == "revisit"
    assert rows["urn:uuid:cap-5"]["content_length"] == 0
    assert rows["urn:uuid:cap-5"]["refers_to"] == "urn:uuid:cap-0"
    assert rows["urn:uuid:cap-5"]["profile"] == C.REVISIT_PROFILE
    assert rows["urn:uuid:cap-0"]["warc_type"] == "response"
    assert bytes(rows["urn:uuid:cap-0"]["payload"]) == b"AAA"
    assert rows["urn:uuid:cap-3"]["warc_type"] == "response"
    # dedup actually removed the duplicate bytes from the artifact
    assert sum(1 for r in rows.values() if r["warc_type"] == "revisit") == 3

    resolved = {r["record_id"]: r for r in C.resolve_revisits(reread).collect()}
    assert set(resolved) == {"urn:uuid:cap-2", "urn:uuid:cap-4", "urn:uuid:cap-5"}
    assert resolved["urn:uuid:cap-5"]["payload_md5"] == hashlib.md5(b"AAA").hexdigest()
    assert resolved["urn:uuid:cap-4"]["payload_md5"] == hashlib.md5(b"BBB").hexdigest()
    assert resolved["urn:uuid:cap-5"]["content_length"] == 3


def test_anchor_text_index_cap_and_empty_anchors(spark):
    """max_texts bounds the per-target list BEFORE collect (skew
    safety); empty anchor texts count as references but contribute no
    text; texts lowercase/trim/dedupe."""
    rows = [
        ("http://a.example/p1", "/hub", "Home "),
        ("http://a.example/p2", "/hub", "home"),        # dedupes with above
        ("http://a.example/p3", "/hub", "Products"),
        ("http://a.example/p4", "/hub", "zeta"),
        ("http://a.example/p5", "/hub", ""),            # counts, no text
        ("http://a.example/p6", "/solo", "Only"),
    ]
    links = spark.createDataFrame(rows, "page_url string, href string, anchor_text string")
    out = {r["target_url"]: r for r in
           C.anchor_text_index(links, max_texts=2).collect()}
    hub = out["http://a.example/hub"]
    assert hub["n_refs"] == 5
    assert hub["anchor_texts"] == ["home", "products"]  # capped at 2, sorted
    assert out["http://a.example/solo"]["anchor_texts"] == ["only"]


def test_surt_key_edges(spark):
    """SURT transform edge cases: subdomain reversal, www-strip,
    non-default port kept on the reversed host, default port dropped,
    query/fragment stripped by canonicalization, hostless -> NULL."""
    rows = [
        ("http://www.news.example.com/a/b?q=1#f", "com,example,news)/a/b"),
        ("HTTPS://Sub.Example.COM:8443/X", "com,example,sub:8443)/X"),
        ("http://example.com:80/", "com,example)/"),
        ("http://example.com", "com,example)/"),
        ("not-a-url", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    got = [r[0] for r in df.select(C.surt_key("url")).collect()]
    assert got == [want for _, want in rows]


def test_recrawl_schedule_edges(spark):
    """Single capture -> streak 0 / NULL rate / base interval;
    every-capture change -> streak 0, rate 1; never-changing -> streak
    = n-1 with the doubling CAPPED at max_doublings."""
    rows = (
        [("one", 100.0, "a")]
        + [("hot", 100.0 * i, f"v{i}") for i in range(1, 5)]      # changes every time
        + [("cold", 100.0 * i, "same") for i in range(1, 9)]       # never changes
    )
    caps = spark.createDataFrame(rows, "url string, capture_ts double, digest string")
    out = {r["url"]: r for r in C.recrawl_schedule(
        caps, base_interval=10.0, max_doublings=3
    ).collect()}
    assert out["one"]["streak"] == 0 and out["one"]["change_rate"] is None
    assert out["one"]["next_fetch_ts"] == 110.0                    # base * 2^0
    assert out["hot"]["n_changes"] == 3 and out["hot"]["change_rate"] == 1.0
    assert out["hot"]["streak"] == 0
    assert out["hot"]["next_fetch_ts"] == 410.0
    assert out["cold"]["n_changes"] == 0 and out["cold"]["streak"] == 7
    assert out["cold"]["next_fetch_ts"] == 800.0 + 10.0 * 8        # capped at 2^3


def _mini_cdx(spark):
    """10 captures over 7 urlkeys: 'k03' captured 4 times so its run
    SPANS block boundaries at lines_per_block=3."""
    rows, off = [], 0
    keys = ["k00", "k01", "k02", "k03", "k03", "k03", "k03", "k07", "k08", "k09"]
    for i, k in enumerate(keys):
        rows.append((0, k, "20240101000000", f"http://x.example/{k}/{i}",
                     "text/plain", 200, f"d{i}", off, 100, f"urn:uuid:r-{i}"))
        off += 100
    return spark.createDataFrame(
        rows,
        "file_id long, urlkey string, cdx_ts string, url string, mime string, "
        "status int, digest string, offset long, length long, record_id string",
    )


def test_zipnum_roundtrip_spanning_key_and_seek(spark):
    import zlib

    blocks = C.write_zipnum_cdx(_mini_cdx(spark), lines_per_block=3).localCheckpoint()
    idx = C.zipnum_idx(blocks)
    files = C.zipnum_shard_files(blocks).localCheckpoint()

    b = sorted(blocks.collect(), key=lambda r: r["block_idx"])
    assert [r["first_urlkey"] for r in b] == ["k00", "k03", "k03", "k09"]
    assert [r["n_lines"] for r in b] == [3, 3, 3, 1]
    # offsets tile the shard file exactly; zcat of the file = all lines
    content = bytes(files.collect()[0]["content"])
    assert b[-1]["offset"] + b[-1]["length"] == len(content)
    all_lines = []
    pos = 0
    while pos < len(content):
        do = zlib.decompressobj(16 + zlib.MAX_WBITS)
        all_lines += do.decompress(content[pos:]).decode().splitlines()
        pos = len(content) - len(do.unused_data)
    assert len(all_lines) == 10 and all_lines == sorted(all_lines)

    probes = spark.createDataFrame(
        [("k03",), ("k00",), ("k09",), ("zzz",), ("a",)], "urlkey string"
    )
    got = C.zipnum_lookup(files, idx, probes).collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r["urlkey"], []).append(r)
    assert sorted(by_key) == ["k00", "k03", "k09"]   # no phantom rows
    assert len(by_key["k03"]) == 4                    # the spanning run, complete
    assert {r["record_id"] for r in by_key["k03"]} == {f"urn:uuid:r-{i}" for i in (3, 4, 5, 6)}
    assert by_key["k00"][0]["status"] == 200 and by_key["k00"][0]["digest"] == "d0"

    # seek proof: corrupt every byte of the one block a {k00,k09}
    # lookup must NOT open — block 1 serves only probes in [k03, k03]
    # (block 2 IS a k09 candidate: its next-first == k09, the inclusive
    # edge a spanning run needs) — the lookup still succeeds because
    # only candidate blocks are ever sliced and gunzipped
    lo, hi = b[1]["offset"], b[1]["offset"] + b[1]["length"]
    mangled = content[:lo] + bytes(hi - lo) + content[hi:]
    files2 = spark.createDataFrame([(0, bytearray(mangled))], "shard_id long, content binary")
    got2 = C.zipnum_lookup(
        files2, idx, spark.createDataFrame([("k00",), ("k09",)], "urlkey string")
    ).collect()
    assert {r["urlkey"] for r in got2} == {"k00", "k09"}


def test_url_features_edges(spark):
    rows = [
        # url, host, depth, n_params, ext, is_media
        ("http://h.example", "h.example", 0, 0, "", False),
        ("http://h.example/", "h.example", 0, 0, "", False),
        ("http://H.EXAMPLE:8080/A/b/", "h.example", 2, 0, "", False),
        ("http://h.example/x.TAR.GZ", "h.example", 1, 0, "gz", True),
        ("http://h.example/p?a=1&b=2#frag", "h.example", 1, 2, "", False),
        ("http://h.example/p.php?x=1", "h.example", 1, 1, "php", False),  # ext from PATH, not query
        ("http://h.example/x.verylongext", "h.example", 1, 0, "", False),  # >5 chars: not an ext
    ]
    df = spark.createDataFrame([(u,) for u, *_ in rows], "url string")
    got = {r["url"]: r for r in C.url_features(df).collect()}
    for u, host, depth, nq, ext, media in rows:
        r = got[u]
        assert (r["host"], r["path_depth"], r["n_query_params"], r["extension"],
                r["is_media"]) == (host, depth, nq, ext, media), u
    # digit-heavy host ratio
    r = C.url_features(
        spark.createDataFrame([("http://1234.example/x",)], "url string")
    ).collect()[0]
    assert abs(r["host_digit_ratio"] - 4 / 12) < 1e-9


def test_registrable_domain_edges(spark):
    rows = [
        ("news.bbc.co.uk", "bbc.co.uk"),        # 2-label public suffix -> 3 labels
        ("a.b.example.com", "example.com"),
        ("EXAMPLE.COM", "example.com"),
        ("example.com", "example.com"),
        ("bbc.co.uk", "bbc.co.uk"),
        ("co.uk", "co.uk"),                      # bare suffix: nothing to fold
        ("localhost", "localhost"),              # single label passes through
        ("x.site.ac.uk", "site.ac.uk"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in rows], "host string")
    got = [r[0] for r in df.select(C.registrable_domain("host")).collect()]
    assert got == [want for _, want in rows]
    # production seam: extra suffixes fold one more level
    df2 = spark.createDataFrame([("shop.foo.co.ir",)], "host string")
    assert df2.select(
        C.registrable_domain("host", extra_suffixes=("co.ir",))
    ).collect()[0][0] == "foo.co.ir"


def test_zipnum_range_sharded_lookup(spark):
    """range_sharded narrows each probe to the one shard whose key
    range holds it; boundary probes (== a shard's min key) and
    last-shard probes still resolve; results identical to the
    search-every-shard mode."""
    rows, off_by_shard = [], {}
    for i in range(12):
        shard = i // 4  # shards are contiguous KEY ranges (k00-k03, ...)
        off = off_by_shard.get(shard, 0)
        rows.append((shard, f"k{i:02d}", "20240101000000", f"http://x.example/{i}",
                     "text/plain", 200, f"d{i}", off, 100, f"urn:uuid:r-{i}"))
        off_by_shard[shard] = off + 100
    cdx = spark.createDataFrame(
        rows,
        "file_id long, urlkey string, cdx_ts string, url string, mime string, "
        "status int, digest string, offset long, length long, record_id string",
    )
    blocks = C.write_zipnum_cdx(cdx, lines_per_block=2).localCheckpoint()
    idx, files = C.zipnum_idx(blocks), C.zipnum_shard_files(blocks).localCheckpoint()
    probes = spark.createDataFrame(
        [("k00",), ("k04",), ("k07",), ("k11",), ("zzz",)], "urlkey string"
    )
    both = []
    for ranged in (False, True):
        got = sorted(
            (r["urlkey"], r["record_id"])
            for r in C.zipnum_lookup(files, idx, probes, range_sharded=ranged).collect()
        )
        both.append(got)
    assert both[0] == both[1]
    assert both[0] == [("k00", "urn:uuid:r-0"), ("k04", "urn:uuid:r-4"),
                       ("k07", "urn:uuid:r-7"), ("k11", "urn:uuid:r-11")]
    # interior probes (no shard-boundary keys): range mode provably
    # opens fewer blocks than search-every-shard
    probes = spark.createDataFrame(
        [("k01",), ("k07",), ("k11",), ("zzz",)], "urlkey string"
    )
    # range mode opens strictly fewer candidate blocks
    n_all = C.zipnum_candidate_blocks(idx, probes).select(
        "shard_id", "offset").distinct().count()
    n_rng = C.zipnum_candidate_blocks(idx, probes, range_sharded=True).select(
        "shard_id", "offset").distinct().count()
    assert n_rng < n_all


def test_recrawl_schedule_304_semantics(spark):
    """304s extend the unchanged streak (effective digest carried
    forward), a change after a 304 run still registers, and a LEADING
    304 (no prior body) contributes neither change nor poison."""
    rows = [
        # url A: body v1, 304, 304, body v2 (changed), 304
        ("A", 1.0, "v1", 200), ("A", 2.0, None, 304), ("A", 3.0, None, 304),
        ("A", 4.0, "v2", 200), ("A", 5.0, None, 304),
        # url B: leading 304, then two identical bodies
        ("B", 1.0, None, 304), ("B", 2.0, "x", 200), ("B", 3.0, "x", 200),
    ]
    caps = spark.createDataFrame(
        rows, "url string, capture_ts double, digest string, status int"
    )
    out = {r["url"]: r for r in C.recrawl_schedule(
        caps, status_col="status", base_interval=10.0
    ).collect()}
    a = out["A"]
    assert a["n_captures"] == 5 and a["n_changes"] == 1   # only v1 -> v2
    assert a["streak"] == 1                                # the trailing 304
    assert a["next_fetch_ts"] == 5.0 + 10.0 * 2            # 2^1
    b = out["B"]
    assert b["n_changes"] == 0 and b["streak"] == 2        # leading 304 harmless
    # without status integration, NULL digests never compare at all —
    # the v1 -> v2 change is MISSED (prev is the 304's NULL) and the
    # policy wrongly sees a never-changing page with a long streak
    naive = {r["url"]: r for r in C.recrawl_schedule(caps).collect()}
    assert naive["A"]["n_changes"] == 0 and naive["A"]["streak"] == 4


def test_extract_page_directives_edges():
    from opentsdb_aura_spark.operators.htmltext import extract_page_directives as e

    # first canonical wins; multi-token rel; meta directives OR across tags
    page = (
        "<html><head>"
        "<link href='/first' rel='stylesheet canonical'>"
        '<link rel="canonical" href="/second">'
        "<meta name=robots content='noindex'>"
        '<META NAME="Robots" CONTENT="nofollow">'
        "</head><body></body></html>"
    )
    assert e(page) == ("/first", True, True)
    # none implies both; non-robots meta ignored; comment can't inject
    assert e(
        "<head><meta name='viewport' content='x'>"
        "<!-- <link rel=canonical href=/phantom> -->"
        "<meta name=robots content='none'></head>"
    ) == (None, True, True)
    # rel=canonical without href is not a directive; empty page clean
    assert e("<head><link rel=canonical></head>") == (None, False, False)
    assert e("") == (None, False, False)


def test_cdx_line_control_char_and_fqdn_edges(spark):
    """A urlkey bearing spaces/newlines/percents survives the CDXJ
    line format through write AND zipnum paths; trailing-FQDN-dot
    hosts normalize in surt/domain keys."""
    rows = [(0, "http://x.example/a b\nc%d", "20240101000000",
             "http://x.example/q", "t", 200, "dg", 0, 9, "urn:uuid:r-0")]
    cdx = spark.createDataFrame(
        rows,
        "file_id long, urlkey string, cdx_ts string, url string, mime string, "
        "status int, digest string, offset long, length long, record_id string",
    )
    back = C.parse_cdx_files(C.write_cdx_files(cdx)).collect()
    assert back[0]["urlkey"] == "http://x.example/a b\nc%d"
    blocks = C.write_zipnum_cdx(cdx, lines_per_block=2)
    got = C.zipnum_lookup(
        C.zipnum_shard_files(blocks), C.zipnum_idx(blocks),
        spark.createDataFrame([("http://x.example/a b\nc%d",)], "urlkey string"),
    ).collect()
    assert len(got) == 1 and got[0]["record_id"] == "urn:uuid:r-0"

    df = spark.createDataFrame(
        [("http://www.Example.COM./p",), ("http://a.b.example.com.:8080/q",)],
        "url string",
    )
    assert [r[0] for r in df.select(C.surt_key("url")).collect()] == [
        "com,example)/p", "com,example,b,a:8080)/q",
    ]
    assert spark.createDataFrame([("news.bbc.co.uk.",)], "host string").select(
        C.registrable_domain("host")
    ).collect()[0][0] == "bbc.co.uk"


def test_http_validators_surfaced_and_conditional_plan(spark):
    """ETag / Last-Modified surface as typed columns from the envelope
    split (verbatim — quotes and W/ marker kept), and
    conditional_fetch_plan carries each validator forward
    INDEPENDENTLY to the most recent capture that had it; a URL with
    no validators anywhere plans unconditional."""
    from opentsdb_aura_spark.operators.containers import (
        _parse_http_response,
        conditional_fetch_plan,
        encode_http_response,
    )

    msg = encode_http_response(
        1, b"body", extra_headers=('ETag: W/"v1"', "Last-Modified: 02 Jan 2024 00:00:00 GMT"),
    )
    out = _parse_http_response(msg)
    assert out[10] == 'W/"v1"' and out[11] == "02 Jan 2024 00:00:00 GMT"
    # default fixture: both validators absent
    plain = _parse_http_response(encode_http_response(1, b"body"))
    assert plain[10] is None and plain[11] is None

    caps = spark.createDataFrame(
        [
            # u1: etag stripped on the LAST capture; lm only on the first
            ("u1", 1.0, '"a"', "lm-day1"),
            ("u1", 2.0, '"b"', None),
            ("u1", 3.0, None, None),
            # u2: never any validator
            ("u2", 1.0, None, None),
        ],
        "url string, capture_ts double, etag string, last_modified string",
    )
    got = {r["url"]: r for r in conditional_fetch_plan(caps).collect()}
    assert got["u1"]["if_none_match"] == '"b"'
    assert got["u1"]["if_modified_since"] == "lm-day1"
    assert got["u1"]["last_capture_ts"] == 3.0 and got["u1"]["conditional"]
    assert got["u2"]["if_none_match"] is None
    assert got["u2"]["if_modified_since"] is None
    assert not got["u2"]["conditional"]

    # same-timestamp refetch race: deterministic (max-value) pick
    tie = spark.createDataFrame(
        [("t", 1.0, '"x"', None), ("t", 1.0, '"y"', None)],
        "url string, capture_ts double, etag string, last_modified string",
    )
    assert conditional_fetch_plan(tie).collect()[0]["if_none_match"] == '"y"'


def test_capture_change_profile_edges(spark):
    """Jaccard change profile: first capture NULL, identical text 1.0,
    disjoint rewrite 0.0, two empty (or sub-shingle-length) texts
    compare as unchanged 1.0, partial overlap is the exact set
    ratio."""
    from opentsdb_aura_spark.operators.containers import capture_change_profile

    caps = spark.createDataFrame(
        [
            ("u", 1.0, "a b c d"),          # shingles {abc, bcd}
            ("u", 2.0, "a b c d"),          # identical -> 1.0
            ("u", 3.0, "a b c e"),          # {abc, bce}: inter 1, union 3
            ("u", 4.0, "x y z w"),          # disjoint -> 0.0
            ("e", 1.0, ""),                 # empty
            ("e", 2.0, "one two"),          # < n tokens: still empty set
            ("e", 3.0, ""),
            ("n", 1.0, "a b c d"),          # NULL text next: treated as empty page
            ("n", 2.0, None),               # NULL -> empty set, NOT a poison value
            ("n", 3.0, "a b c d"),          # neighbor of NULL still gets a Jaccard
        ],
        "url string, capture_ts double, text string",
    )
    got = {(r["url"], r["capture_ts"]): (r["n_shingles"], r["jaccard_prev"])
           for r in capture_change_profile(caps).collect()}
    assert got[("u", 1.0)] == (2, None)
    assert got[("u", 2.0)] == (2, 1.0)
    assert got[("u", 3.0)][1] == 1 / 3
    assert got[("u", 4.0)][1] == 0.0
    assert got[("e", 1.0)] == (0, None)
    assert got[("e", 2.0)] == (0, 1.0)   # empty vs empty: stable
    assert got[("e", 3.0)] == (0, 1.0)
    # NULL text behaves exactly like an empty capture (ADVICE r11):
    # n_shingles 0 (not -1), disjoint vs the non-empty neighbors, and
    # the FOLLOWING capture's lag is not nulled into a fake first-fetch
    assert got[("n", 1.0)] == (2, None)
    assert got[("n", 2.0)] == (0, 0.0)
    assert got[("n", 3.0)] == (2, 0.0)


def test_cdx_index_with_validators(spark):
    """with_validators widens the capture index with the verbatim
    ETag / Last-Modified headers (the conditional-refetch state);
    the default index schema is unchanged, and captures without the
    headers carry NULLs."""
    from opentsdb_aura_spark.operators import containers as C
    from opentsdb_aura_spark.operators.containers import (
        cdx_index,
        conditional_fetch_plan,
        encode_http_response,
        warc_records,
    )

    def rec(doc_id, extra=()):
        payload = encode_http_response(doc_id, b"body-%d" % doc_id, extra_headers=extra)
        return C.encode_warc_record(
            "response", f"urn:uuid:doc-{doc_id}", payload,
            target_uri=f"http://example.com/doc/{doc_id}",
            content_type="application/http;msgtype=response",
        )

    content = (
        rec(1, ('ETag: "v1"', "Last-Modified: 01 Jan 2024 00:00:00 GMT",
                "Retry-After: 120"))
        + rec(2)
    )
    files = spark.createDataFrame([(0, content)], "file_id long, content binary")
    idx = cdx_index(warc_records(files, with_payload=True), with_validators=True)
    rows = {r["url"]: r for r in idx.collect()}
    assert rows["http://example.com/doc/1"]["etag"] == '"v1"'
    assert rows["http://example.com/doc/1"]["last_modified"] == "01 Jan 2024 00:00:00 GMT"
    assert rows["http://example.com/doc/2"]["etag"] is None
    assert rows["http://example.com/doc/1"]["retry_after"] == "120"
    assert rows["http://example.com/doc/2"]["retry_after"] is None
    plain = cdx_index(warc_records(files, with_payload=True))
    assert "etag" not in plain.columns and "last_modified" not in plain.columns
    assert "retry_after" not in plain.columns

    # the planner runs straight off the widened index (cdx_ts as the
    # capture clock)
    plan = conditional_fetch_plan(
        idx.select("url", F.col("cdx_ts").cast("double").alias("capture_ts"),
                   "etag", "last_modified")
    )
    got = {r["url"]: r["if_none_match"] for r in plan.collect()}
    assert got["http://example.com/doc/1"] == '"v1"'
    assert got["http://example.com/doc/2"] is None


def test_charset_sniffing_precedence():
    """WHATWG encoding sniffing in the decode path: BOM beats a lying
    header and never leaks U+FEFF into the text; the transport header
    beats a meta declaration; the meta prescan (both forms, aliased
    labels, first-1024-bytes window) covers the no-header population;
    garbage meta labels fall back to utf-8."""
    from opentsdb_aura_spark.operators.htmltext import _decode_page, _sniff_charset

    # BOM > lying header; the BOM itself is consumed
    assert _decode_page(b"\xef\xbb\xbf" + "Ünï".encode(), "iso-8859-1") == "Ünï"
    # UTF-16 BOMs: both byte orders via Python's BOM-reading utf-16
    assert _decode_page("hi".encode("utf-16"), None) == "hi"  # BOM-bearing LE
    assert _decode_page(b"\xfe\xff" + "hi".encode("utf-16-be"), None) == "hi"
    # header > meta
    meta = '<meta charset="shift_jis">'.encode() + "café".encode("cp1252")
    assert _decode_page(meta, "windows-1252").endswith("café")
    # meta charset form, no header
    sj = b'<html><head><meta charset="shift_jis"></head>' + "日本".encode("shift_jis")
    assert _decode_page(sj, None).endswith("日本")
    # http-equiv form with an aliased label (iso-8859-1 -> cp1252)
    he = (
        b'<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
        + "déjà".encode("cp1252")
    )
    assert _decode_page(he, None).endswith("déjà")
    # prescan window: a meta tag past 1024 bytes is not consulted
    far = b"<!--" + b"x" * 1100 + b'--><meta charset="shift_jis">' + "日本".encode("shift_jis")
    assert "日本" not in _decode_page(far, None)
    # garbage meta label: total fallback to utf-8
    junk = b'<meta charset="no-such-codec">' + "ok".encode()
    assert _decode_page(junk, None).endswith("ok")
    assert _sniff_charset(b"", None) is None
    # comments are stripped FIRST (WHATWG prescan skips them): a
    # commented-out stale declaration never outranks the live one
    com = b'<!-- <meta charset="shift_jis"> --><meta charset="utf-8">' + "日本".encode()
    assert _decode_page(com, None).endswith("日本")
    # unterminated comment at the window edge: skipped to end-of-window
    assert _sniff_charset(b'<!-- <meta charset="shift_jis">', None) is None
    # charset-shaped text inside an UNRELATED attribute value is not a
    # declaration (only a charset attr or an http-equiv Content-Type
    # content parameter counts)
    attr = b'<meta name="desc" content="set charset=utf-16 via header">'
    assert _sniff_charset(attr, None) is None


def test_extract_feed_links_edges():
    """rel token-list must contain 'alternate'; the MIME type decides
    kind; stylesheet/canonical/media alternates don't match; comments
    and scripts can't inject; document order kept."""
    from opentsdb_aura_spark.operators.htmltext import extract_feed_links

    src = """<html><head>
      <link rel="stylesheet" href="/css">
      <link rel="ALTERNATE home" type="application/rss+xml" href="/a.rss">
      <link rel="alternate" type="application/atom+xml" href='/b.atom'>
      <link rel="alternate" type="text/html" hreflang="de" href="/de/">
      <link rel="canonical" href="/canon">
      <!-- <link rel="alternate" type="application/rss+xml" href="/ghost.rss"> -->
      <script>var s = '<link rel="alternate" type="application/rss+xml" href="/js.rss">';</script>
    </head><body></body></html>"""
    assert extract_feed_links(src) == [("/a.rss", "rss"), ("/b.atom", "atom")]
    assert extract_feed_links("") == []


def test_url_bloom_no_false_negatives_and_merge(spark):
    """Bloom URL-seen set structural contracts: every inserted URL
    probes seen=True (no false negatives, ever); the word tables of
    two disjoint builds bit_or-merge into exactly the union's filter
    (the incremental/mergeable property); a probe against an empty
    filter is all-False."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators import containers as C

    a = spark.createDataFrame([(f"http://a.example/{i}",) for i in range(50)], "url string")
    b = spark.createDataFrame([(f"http://b.example/{i}",) for i in range(50)], "url string")
    ba, bb = C.url_bloom_build(a), C.url_bloom_build(b)
    merged = (
        ba.unionByName(bb).groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))
    )
    direct = C.url_bloom_build(a.unionByName(b))
    assert {(r["word_idx"], r["bits"]) for r in merged.collect()} == \
           {(r["word_idx"], r["bits"]) for r in direct.collect()}
    got = {r["url"]: r["seen"] for r in C.url_bloom_probe(a.unionByName(b), merged).collect()}
    assert all(got.values()) and len(got) == 100  # no false negatives
    empty = ba.where(F.lit(False))
    got2 = {r["url"]: r["seen"] for r in C.url_bloom_probe(a, empty).collect()}
    assert not any(got2.values())
    # n_bits must stay word-aligned
    import pytest as _pytest
    with _pytest.raises(ValueError, match="multiple"):
        C.url_bloom_build(a, n_bits=1000)


# ----------------------------------------------------- warc-fields / §6 types


def test_parse_warc_fields_folding_and_errors():
    """ISO 28500 §4 named-fields: ordered pairs, continuation-line
    folding into a single space-joined value, honest errors on a
    separator-less line or a leading continuation."""
    payload = C.encode_warcinfo_fields(7, 3)
    fields = C.parse_warc_fields(payload)
    assert [k for k, _ in fields] == [
        "software", "format", "isPartOf", "warc-file-id", "doc-count", "description",
    ]
    assert dict(fields)["warc-file-id"] == "7"
    assert dict(fields)["doc-count"] == "3"
    # the folded field joins with ONE space
    assert dict(fields)["description"] == (
        "deterministic fixture WARC derived from the documents table"
    )
    with pytest.raises(ValueError, match="malformed"):
        C.parse_warc_fields(b"no separator here\r\n")
    with pytest.raises(ValueError, match="continuation"):
        C.parse_warc_fields(b" leading fold\r\n")


def test_warc_four_type_mix_roundtrip():
    """The full §6 record taxonomy in one file: warcinfo + resource
    (seed list, no protocol envelope) + response + metadata
    (Concurrent-To-linked warc-fields), offsets tiling exactly."""
    blob = C.encode_warc_file(
        2, DOCS, rich_warcinfo=True, metadata_records=True, resource_records=True
    )
    recs = list(C._parse_warc_bytes(blob))
    types = [r[2] for r in recs]
    assert types == ["warcinfo", "resource"] + ["response", "metadata"] * len(DOCS)
    # resource record: seed list payload, file:// target, text/plain
    assert recs[1][3] == "urn:uuid:seeds-2"
    assert recs[1][4] == "file://crawler/seeds/2.txt"
    seeds = "".join(f"http://example.com/doc/{d}\n" for d, _ in DOCS).encode()
    assert recs[1][6] == hashlib.md5(seeds).hexdigest()
    # metadata record links to its response and parses as warc-fields
    meta = recs[3]
    assert meta[3] == "urn:uuid:meta-0" and meta[7] == "urn:uuid:doc-0"
    fields = dict(C.parse_warc_fields(meta[-1]))
    assert fields["payload-length"] == str(len(DOCS[0][1].encode()))
    assert fields["fetchTimeMs"] == str((0 * 37) % 907)
    off = 0
    for r in recs:
        assert r[0] == off
        off += r[1]
    assert off == len(blob)


def test_warc_fields_operator_types_and_order(spark):
    """warc_fields surfaces ONLY warc-fields-carrying records, with
    pos preserving field order (the folded description is one row)."""
    docs_df = spark.createDataFrame(
        [(i, f"body {i} tok") for i in range(4)], "doc_id long, text string"
    )
    files = C.synthesize_warc(
        docs_df, docs_per_file=2, rich_warcinfo=True,
        metadata_records=True, resource_records=True,
    )
    out = C.warc_fields(C.warc_records(files, with_payload=True))
    rows = out.collect()
    assert set(r["warc_type"] for r in rows) == {"warcinfo", "metadata"}
    info = sorted(
        (r for r in rows if r["record_id"] == "urn:uuid:warcinfo-0"),
        key=lambda r: r["pos"],
    )
    assert [r["field"] for r in info] == [
        "software", "format", "isPartOf", "warc-file-id", "doc-count", "description",
    ]
    assert info[4]["value"] == "2"  # doc-count of a 2-doc file
    meta0 = {r["field"]: r["value"] for r in rows if r["record_id"] == "urn:uuid:meta-3"}
    assert meta0 == {
        "fetchTimeMs": str((3 * 37) % 907),
        "charset": "utf-8",
        "payload-length": str(len(b"body 3 tok")),
    }
