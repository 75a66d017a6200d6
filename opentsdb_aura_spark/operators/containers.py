"""Crawl container formats: WARC (ISO 28500) and POSIX ustar TAR as
1→many record sources.

A production 100 TB crawl pipeline ingests WARC files (one per fetch
batch, thousands of records each), not loose documents — the unit of
parallelism is the FILE, and record extraction is a narrow 1→many
Arrow map over (file_id, content) with no shuffle.  The reference has
no file-format path at all (its ingest is the TSDB wire protocol,
opentsdb-aura storage/src/main/java/net/opentsdb/aura/metrics ingest
path), so this is extension surface: the container layer every
LLM-data pipeline puts in front of the operators this repo already
has (decode → near-dup → quality → pack).

Test strategy mirrors av.py's WAV/Y4M trick: container bytes are
SYNTHESIZED deterministically from fixture text (synthesize_warc /
synthesize_tar below), so record offsets, header fields, and payload
digests are recomputable by a DuckDB oracle from the generation rule
alone — the parse path gets a FULL value-hash oracle, not a
rows-only check.

Both parsers follow the one error-row contract of
``rowpass.map_rows``: ``skip_errors=True`` turns a malformed file into
the records parsed before the corruption point plus one error ROW
(fields nulled, ``error`` holding the exception text) instead of
killing the stage — one bad file in a billion costs one row.  Default
False keeps fail-fast semantics for clean fixtures.  Every pass here
is a front end of ``rowpass.map_rows`` (the record walkers) or
``rowpass.pack_groups`` (the file writers).

Scale shape: files are opaque binaries read as whole rows (Spark's
binaryFile source at 100 TB); parsing walks each file ONCE, emits
records as it goes, never materializes more than one file per loop
step, and carries no state across files — embarrassingly parallel by
file count.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from opentsdb_aura_spark.operators.rowpass import map_rows, pack_groups
from opentsdb_aura_spark.sources.maintenance import new_rows, read_parquet_if_exists

WARC_DATE = "2024-01-01T00:00:00Z"
_CRLF = b"\r\n"

# ------------------------------------------------------------------ WARC build


def encode_warc_record(
    warc_type: str,
    record_id: str,
    payload: bytes,
    *,
    target_uri: str | None = None,
    content_type: str = "text/plain",
    concurrent_to: str | None = None,
    refers_to: str | None = None,
    profile: str | None = None,
    payload_digest: str | None = None,
    truncated: str | None = None,
) -> bytes:
    """One WARC/1.0 record: version line, named headers, blank line,
    payload, and the spec's two trailing CRLFs.  ``concurrent_to``
    writes the WARC-Concurrent-To link that ties a request record to
    its response (ISO 28500 §5.7); ``refers_to`` / ``profile`` /
    ``payload_digest`` write the WARC-Refers-To link, WARC-Profile,
    and WARC-Payload-Digest headers a ``revisit`` record carries
    (ISO 28500 §6.7.2 — the duplicate points at the capture it
    deduplicates against and names the dedup profile)."""
    lines = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: <" + record_id.encode() + b">",
        b"WARC-Date: " + WARC_DATE.encode(),
    ]
    if target_uri is not None:
        lines.append(b"WARC-Target-URI: " + target_uri.encode())
    if concurrent_to is not None:
        lines.append(b"WARC-Concurrent-To: <" + concurrent_to.encode() + b">")
    if refers_to is not None:
        lines.append(b"WARC-Refers-To: <" + refers_to.encode() + b">")
    if profile is not None:
        lines.append(b"WARC-Profile: " + profile.encode())
    if payload_digest is not None:
        lines.append(b"WARC-Payload-Digest: " + payload_digest.encode())
    if truncated is not None:
        lines.append(b"WARC-Truncated: " + truncated.encode())
    lines.append(b"Content-Type: " + content_type.encode())
    lines.append(b"Content-Length: " + str(len(payload)).encode())
    return _CRLF.join(lines) + _CRLF + _CRLF + payload + _CRLF + _CRLF


WARCINFO_PAYLOAD = b"software: opentsdb-aura-spark/1.0\r\nformat: WARC File Format 1.0\r\n"


def encode_warcinfo_fields(file_id: int, n_docs: int) -> bytes:
    """Per-file warcinfo payload in the spec's ``application/
    warc-fields`` syntax (ISO 28500 §4, the named-fields format):
    the fixed software/format pair plus the file-level facts a crawl
    writer records (which crawl, which file, how many captures), and
    one deliberately FOLDED field — a continuation line starting with
    whitespace — so a fields parser that skips folding is caught by
    the roundtrip oracle."""
    return (
        "software: opentsdb-aura-spark/1.0\r\n"
        "format: WARC File Format 1.0\r\n"
        "isPartOf: fixture-crawl\r\n"
        f"warc-file-id: {int(file_id)}\r\n"
        f"doc-count: {int(n_docs)}\r\n"
        "description: deterministic fixture WARC derived\r\n"
        " from the documents table\r\n"
    ).encode()


def encode_metadata_fields(doc_id: int, payload_len: int) -> bytes:
    """Per-capture ``metadata``-record payload (warc-fields): the
    fetch-side facts that accompany a capture but are not part of the
    captured content itself (ISO 28500 §6.6) — a deterministic fetch
    duration, the charset the fetcher saw, and the stored payload
    length."""
    return (
        f"fetchTimeMs: {(int(doc_id) * 37) % 907}\r\n"
        "charset: utf-8\r\n"
        f"payload-length: {int(payload_len)}\r\n"
    ).encode()


def _gzip_member(data: bytes) -> bytes:
    """One deterministic gzip member (zlib gzip container: mtime 0, no
    filename — byte-stable across runs, unlike the gzip module's
    default mtime=now header)."""
    import zlib

    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


def encode_warc_file(
    file_id: int,
    docs: list[tuple[int, str]],
    *,
    gzip_records: bool = False,
    http_envelope: bool = False,
    html_body: bool = False,
    content_encoding: bool = False,
    transfer_coding: bool = False,
    charset_body: bool = False,
    sniff_body: bool = False,
    request_records: bool = False,
    truncate_at: int | None = None,
    rich_warcinfo: bool = False,
    metadata_records: bool = False,
    resource_records: bool = False,
) -> bytes:
    """A deterministic WARC file: one warcinfo record, then one
    response record per (doc_id, text) in the given order.

    ``rich_warcinfo=True`` writes the per-file warc-fields payload
    (:func:`encode_warcinfo_fields`, with a folded field) instead of
    the fixed two-line WARCINFO_PAYLOAD.  ``resource_records=True``
    adds one ``WARC-Type: resource`` record after the warcinfo — the
    crawler's seed-list snapshot for the file, content captured
    WITHOUT a protocol envelope (ISO 28500 §6.5's record type for
    directly-stored content).  ``metadata_records=True`` follows every
    response with a ``WARC-Type: metadata`` record
    (:func:`encode_metadata_fields`) linked via WARC-Concurrent-To
    (§6.6) — the full four-type record mix a production crawl WARC
    interleaves.

    ``gzip_records=True`` emits the production ``.warc.gz`` layout —
    each record its own gzip member, concatenated (the format crawl
    archives actually ship: member boundaries let a reader seek to a
    record without decompressing the file).

    ``http_envelope=True`` wraps each document in a deterministic
    HTTP/1.x response envelope (status line, headers, closed-form
    framing variation — see :func:`encode_http_response`) and marks
    the record ``application/http;msgtype=response``, the payload
    form real crawl WARCs carry.  ``html_body=True`` renders the
    document text into the deterministic fixture HTML page first
    (htmltext.render_fixture_html), so the full
    WARC → HTTP → HTML → text chain is exercised end-to-end."""
    out = [
        encode_warc_record(
            "warcinfo",
            f"urn:uuid:warcinfo-{file_id}",
            encode_warcinfo_fields(file_id, len(docs)) if rich_warcinfo else WARCINFO_PAYLOAD,
            content_type="application/warc-fields",
        )
    ]
    if resource_records:
        out.append(
            encode_warc_record(
                "resource",
                f"urn:uuid:seeds-{file_id}",
                "".join(f"http://example.com/doc/{int(d)}\n" for d, _ in docs).encode(),
                target_uri=f"file://crawler/seeds/{file_id}.txt",
                content_type="text/plain",
            )
        )
    if charset_body and not (http_envelope and html_body):
        raise ValueError("charset_body requires http_envelope=True and html_body=True")
    if sniff_body and not (http_envelope and html_body):
        raise ValueError("sniff_body requires http_envelope=True and html_body=True")
    if sniff_body and charset_body:
        raise ValueError("sniff_body and charset_body are exclusive fixture modes")
    for doc_id, text in docs:
        charset_kw = {}
        if sniff_body:
            from opentsdb_aura_spark.operators.htmltext import (
                SNIFF_FIXTURES,
                render_fixture_html,
            )

            codec, meta_tag, http_label, bom, marker = SNIFF_FIXTURES[int(doc_id) % 3]
            if not str(text).isascii():
                raise ValueError(
                    f"synthesize_warc(sniff_body=True): doc {doc_id} text is "
                    "not ASCII — sniff fixture pages encode corpus text with "
                    "legacy codecs and require ASCII-only document text"
                )
            body = bom + render_fixture_html(
                int(doc_id), text, charset_marker=marker, meta_tag=meta_tag
            ).encode(codec)
            charset_kw = {"charset_param": http_label}
        elif charset_body:
            from opentsdb_aura_spark.operators.htmltext import (
                CHARSET_FIXTURES,
                render_fixture_html,
            )

            codec, label, marker = CHARSET_FIXTURES[int(doc_id) % 4]
            if not str(text).isascii():
                # the charset fixtures re-encode corpus text as
                # iso-8859-1/shift_jis; a corpus char outside the target
                # charset would raise UnicodeEncodeError mid-task with no
                # doc context (ADVICE r9) — fail at the boundary instead.
                # The fixtures' own non-ASCII marker chars are chosen to
                # be encodable in their codec; corpus text must be ASCII.
                raise ValueError(
                    f"synthesize_warc(charset_body=True): doc {doc_id} text is "
                    "not ASCII — charset fixture pages encode corpus text with "
                    "legacy codecs and require ASCII-only document text"
                )
            body = render_fixture_html(
                int(doc_id), text, charset_marker=marker
            ).encode(codec)
            charset_kw = {"charset_param": label}
        elif html_body:
            from opentsdb_aura_spark.operators.htmltext import render_fixture_html

            body = render_fixture_html(int(doc_id), text).encode()
        else:
            body = text.encode()
        if http_envelope:
            payload = encode_http_response(
                int(doc_id), body, content_encoding=content_encoding,
                transfer_coding=transfer_coding, **charset_kw,
            )
            rec_ct = "application/http;msgtype=response"
        else:
            payload = body
            rec_ct = "text/plain"
        if request_records:
            # the fetch's request record, linked to its response via
            # WARC-Concurrent-To — the pairing real crawl WARCs ship
            out.append(
                encode_warc_record(
                    "request",
                    f"urn:uuid:req-{doc_id}",
                    encode_http_request(int(doc_id)),
                    target_uri=f"http://example.com/doc/{doc_id}",
                    content_type="application/http;msgtype=request",
                    concurrent_to=f"urn:uuid:doc-{doc_id}",
                )
            )
        # bounded fetch: a payload past the cap stores only the prefix
        # and the record says so (ISO 28500 §5.13, reason 'length') —
        # what a production crawler's response-size budget produces
        trunc_kw = {}
        if truncate_at is not None and len(payload) > int(truncate_at):
            payload = payload[: int(truncate_at)]
            trunc_kw = {"truncated": "length"}
        out.append(
            encode_warc_record(
                "response",
                f"urn:uuid:doc-{doc_id}",
                payload,
                target_uri=f"http://example.com/doc/{doc_id}",
                content_type=rec_ct,
                **trunc_kw,
            )
        )
        if metadata_records:
            out.append(
                encode_warc_record(
                    "metadata",
                    f"urn:uuid:meta-{doc_id}",
                    encode_metadata_fields(int(doc_id), len(payload)),
                    target_uri=f"http://example.com/doc/{doc_id}",
                    content_type="application/warc-fields",
                    concurrent_to=f"urn:uuid:doc-{doc_id}",
                )
            )
    if gzip_records:
        return b"".join(_gzip_member(rec) for rec in out)
    return b"".join(out)


#: the (file_id, content) frame every container writer returns
_FILE_SCHEMA = "file_id long, content binary"


def _by_file(docs: DataFrame, docs_per_file: int, id_col: str, text_col: str, *more) -> DataFrame:
    """(file_id, _id, _text, *more) rows of a documents frame, file_id
    = doc_id DIV docs_per_file — the grouping rule every document-keyed
    writer packs by."""
    return docs.select(
        F.expr(f"CAST(`{id_col}` DIV {int(docs_per_file)} AS LONG)").alias("file_id"),  # integer DIV: double division drifts above 2^53 doc ids
        F.col(id_col).cast("long").alias("_id"),
        F.col(text_col).alias("_text"),
        *more,
    )


def synthesize_warc(
    docs: DataFrame,
    *,
    docs_per_file: int = 50,
    gzip_records: bool = False,
    http_envelope: bool = False,
    html_body: bool = False,
    content_encoding: bool = False,
    transfer_coding: bool = False,
    charset_body: bool = False,
    sniff_body: bool = False,
    request_records: bool = False,
    truncate_at: int | None = None,
    rich_warcinfo: bool = False,
    metadata_records: bool = False,
    resource_records: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic WARC files from a documents frame: file_id =
    doc_id // docs_per_file, records ordered by doc_id inside each
    file (``gzip_records`` for the production .warc.gz member-per-
    record layout; ``http_envelope``/``html_body`` per
    :func:`encode_warc_file`).  One file pack per file group —
    the build shuffles each doc once to its file and writes it once.
    Returns (file_id long, content binary)."""

    def encode(fid, docs):
        fid = int(fid)
        content = encode_warc_file(
            fid,
            docs,
            gzip_records=gzip_records,
            http_envelope=http_envelope,
            html_body=html_body,
            content_encoding=content_encoding,
            transfer_coding=transfer_coding,
            charset_body=charset_body,
            sniff_body=sniff_body,
            request_records=request_records,
            truncate_at=truncate_at,
            rich_warcinfo=rich_warcinfo,
            metadata_records=metadata_records,
            resource_records=resource_records,
        )
        return [(fid, content)]

    return pack_groups(_by_file(docs, docs_per_file, id_col, text_col), "file_id", "_id", encode, _FILE_SCHEMA)


# ------------------------------------------------------------------ WARC parse

WARC_RECORD_SCHEMA = (
    "file_id long, offset long, record_length long, warc_type string, "
    "record_id string, target_uri string, content_length long, "
    "payload_md5 string, concurrent_to string, refers_to string, "
    "profile string, truncated string, warc_date string, error string"
)
WARC_RECORD_PAYLOAD_SCHEMA = WARC_RECORD_SCHEMA + ", payload binary"


def _parse_warc_bytes(data: bytes) -> Iterator[tuple]:
    """Walk one WARC file, yielding one tuple per record (offset,
    record_length, warc_type, record_id, target_uri, content_length,
    payload_md5).  Content-Length framing per ISO 28500 — payload
    bytes are never scanned for markers, so binary payloads are safe.
    Raises ValueError on malformed framing (honest parse boundary)."""
    pos = 0
    n = len(data)
    while pos < n:
        start = pos
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"offset {start}: unterminated record header")
        head = data[pos:hdr_end].decode("utf-8", errors="strict")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"offset {start}: bad version line {lines[0]!r}")
        fields = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(":")
            if not sep:
                raise ValueError(f"offset {start}: malformed header line {ln!r}")
            fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"offset {start}: missing/bad Content-Length")
        if clen < 0:
            raise ValueError(f"offset {start}: negative Content-Length {clen}")
        body_start = hdr_end + 4
        body_end = body_start + clen
        if data[body_end : body_end + 4] != b"\r\n\r\n":
            raise ValueError(f"offset {start}: record not CRLF-CRLF terminated")
        payload = data[body_start:body_end]
        pos = body_end + 4
        rid = fields.get("warc-record-id", "")

        def _unbracket(v):
            return v[1:-1] if v is not None and v[:1] == "<" and v[-1:] == ">" else v

        yield (
            start,
            pos - start,
            fields.get("warc-type", ""),
            _unbracket(rid),
            fields.get("warc-target-uri"),
            clen,
            hashlib.md5(payload).hexdigest(),
            _unbracket(fields.get("warc-concurrent-to")),
            _unbracket(fields.get("warc-refers-to")),  # revisit → original link
            fields.get("warc-profile"),  # the dedup profile a revisit names
            fields.get("warc-truncated"),  # bounded-fetch reason (§5.13)
            fields.get("warc-date"),  # capture timestamp — the CDX index needs it
            payload,  # trailing so header-only consumers can drop it
        )


def _parse_warc_gz_bytes(data: bytes) -> Iterator[tuple]:
    """Walk a ``.warc.gz`` (one gzip member per record): yields the
    same tuple shape as :func:`_parse_warc_bytes`, with offset /
    record_length measured on the COMPRESSED stream (the member
    boundaries a production reader seeks to).  Each decompressed
    member must frame exactly one WARC record."""
    import zlib

    pos = 0
    n = len(data)
    while pos < n:
        if data[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError(f"offset {pos}: not a gzip member boundary")
        do = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            raw = do.decompress(data[pos:])
            raw += do.flush()
        except zlib.error as exc:
            raise ValueError(f"offset {pos}: corrupt gzip member: {exc}")
        if not do.eof:
            raise ValueError(f"offset {pos}: truncated gzip member")
        member_len = (n - pos) - len(do.unused_data)
        recs = list(_parse_warc_bytes(raw))
        if len(recs) != 1:
            raise ValueError(
                f"offset {pos}: gzip member frames {len(recs)} records, want 1"
            )
        r = recs[0]
        yield (pos, member_len, *r[2:])
        pos += member_len


def warc_records(
    files: DataFrame, *, skip_errors: bool = False, with_payload: bool = False
) -> DataFrame:
    """1→many record extraction over (file_id, content) WARC files via
    one Arrow-batched pass per file.  Returns WARC_RECORD_SCHEMA rows;
    with ``skip_errors`` a malformed file yields records up to the
    corruption point plus ONE error row (crawl-grade: the stage
    survives, the row carries the diagnosis).  ``with_payload`` adds
    the raw payload bytes column — the form downstream decode / dedup
    stages consume (header-only scans leave it off and stay narrow)."""
    return _walk_files(
        files, _parse_warc_any, WARC_RECORD_SCHEMA, skip_errors=skip_errors, with_payload=with_payload
    )


def _parse_warc_any(blob: bytes) -> Iterator[tuple]:
    # gzip magic → .warc.gz member walk, else plain WARC
    walk = _parse_warc_gz_bytes if blob[:2] == b"\x1f\x8b" else _parse_warc_bytes
    return walk(blob)


def _walk_files(
    files: DataFrame, parse, schema: str, *, skip_errors: bool, with_payload: bool
) -> DataFrame:
    """The container walkers' one pass: ``parse(blob)`` yields
    (*fields, payload) per record of one (file_id, content) file; rows
    are (file_id, *fields, error[, payload]).  A malformed file keeps
    the records parsed before the corruption point and adds one error
    row (crawl-grade per-file containment, ``rowpass.map_rows``)."""
    n_fields = len(schema.split(", ")) - 2  # between file_id and error

    def walk(fid, data):
        fid = int(fid)
        for *rec, payload in parse(bytes(data)):
            row = (fid, *rec, None)
            yield row + (payload,) if with_payload else row

    def error_row(row, exc):
        err = (int(row[0]),) + (None,) * n_fields + (str(exc),)
        return err + (None,) if with_payload else err

    return map_rows(
        files,
        walk,
        schema + ", payload binary" if with_payload else schema,
        cols=("file_id", "content"),
        skip_errors=skip_errors,
        on_error=error_row,
    )


def parse_warc_fields(payload: bytes) -> list[tuple[str, str]]:
    """Parse one ``application/warc-fields`` payload (ISO 28500 §4:
    RFC 5322-style named fields, CRLF-separated) into ordered
    (name, value) pairs.  Continuation lines — a line starting with
    SP/HTAB — FOLD into the preceding field's value joined by a
    single space (the long-line form the spec inherits from 5322).
    Raises ValueError on a separator-less line or a leading
    continuation (honest parse boundary)."""
    out: list[tuple[str, str]] = []
    for ln in payload.decode("utf-8").split("\r\n"):
        if not ln:
            continue
        if ln[:1] in (" ", "\t"):
            if not out:
                raise ValueError("warc-fields: continuation line before any field")
            k, v = out[-1]
            out[-1] = (k, (v + " " + ln.strip()).strip())
            continue
        k, sep, v = ln.partition(":")
        if not sep:
            raise ValueError(f"warc-fields: malformed line {ln!r}")
        out.append((k.strip(), v.strip()))
    return out


WARC_FIELDS_SCHEMA = (
    "file_id long, record_id string, warc_type string, pos int, "
    "field string, value string"
)


def warc_fields(records: DataFrame) -> DataFrame:
    """Typed view of every warc-fields record in a parsed WARC record
    frame (the ``warcinfo`` file-level dim and per-capture
    ``metadata`` records): filter to the two warc-fields-carrying
    types, parse each payload with :func:`parse_warc_fields`, and
    explode to one (file_id, record_id, warc_type, pos, field, value)
    row per field — pos is the field's position inside its record, so
    field ORDER is part of the contract the oracle hashes.  The type
    filter runs BEFORE the Python stage (Catalyst prunes response /
    request / resource payloads off the exchange); parsing is one
    Arrow-batched pass."""
    slim = records.where(F.col("warc_type").isin("warcinfo", "metadata")).select(
        "file_id", "record_id", "warc_type", "payload"
    )

    def fields(fid, rid, wt, payload):
        fid = int(fid)
        return [
            (fid, rid, wt, pos, k, v)
            for pos, (k, v) in enumerate(parse_warc_fields(bytes(payload)))
        ]

    return map_rows(slim, fields, WARC_FIELDS_SCHEMA)


# ------------------------------------------------------------------- TAR build

TAR_MTIME = 1704067200  # 2024-01-01 00:00:00 UTC, the fixture epoch


def encode_tar_member(name: str, payload: bytes) -> bytes:
    """One POSIX ustar member: 512-byte header (name, octal size/mtime,
    spec checksum, ustar magic) + payload zero-padded to a 512
    multiple."""
    nb = name.encode()
    if len(nb) > 100:
        raise ValueError(f"ustar name limit is 100 bytes: {name!r}")
    hdr = bytearray(512)
    hdr[0 : len(nb)] = nb
    hdr[100:108] = b"0000644\x00"
    hdr[108:116] = b"0000000\x00"  # uid
    hdr[116:124] = b"0000000\x00"  # gid
    hdr[124:136] = b"%011o\x00" % len(payload)
    hdr[136:148] = b"%011o\x00" % TAR_MTIME
    hdr[148:156] = b" " * 8  # checksum field spaces while summing
    hdr[156:157] = b"0"  # typeflag: regular file
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    chksum = sum(hdr)
    hdr[148:156] = b"%06o\x00 " % chksum
    pad = (-len(payload)) % 512
    return bytes(hdr) + payload + b"\x00" * pad


def encode_tar_file(docs: list[tuple[int, str]]) -> bytes:
    """A deterministic TAR from (doc_id, text) members named
    ``doc/{doc_id}.txt``, closed by the spec's two zero blocks."""
    out = [encode_tar_member(f"doc/{doc_id}.txt", text.encode()) for doc_id, text in docs]
    out.append(b"\x00" * 1024)
    return b"".join(out)


def synthesize_tar(
    docs: DataFrame,
    *,
    docs_per_file: int = 50,
    gzip_stream: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic TAR files from a documents frame — same grouping
    rule as :func:`synthesize_warc` (``gzip_stream`` wraps each
    archive in one deterministic gzip stream, the .tar.gz shape).
    Returns (file_id, content)."""

    def encode(fid, docs):
        content = encode_tar_file(docs)
        return [(int(fid), _gzip_member(content) if gzip_stream else content)]

    return pack_groups(_by_file(docs, docs_per_file, id_col, text_col), "file_id", "_id", encode, _FILE_SCHEMA)


# ------------------------------------------------------------------- TAR parse

TAR_MEMBER_SCHEMA = (
    "file_id long, offset long, name string, size long, mtime long, "
    "typeflag string, payload_md5 string, error string"
)
TAR_MEMBER_PAYLOAD_SCHEMA = TAR_MEMBER_SCHEMA + ", payload binary"


def _parse_tar_bytes(data: bytes) -> Iterator[tuple]:
    """Walk one ustar archive: validate magic + header checksum per
    member, yield (offset, name, size, mtime, typeflag, payload_md5).
    Stops at the two-zero-block trailer; raises on truncation, bad
    magic, or checksum mismatch."""
    pos = 0
    n = len(data)
    while pos + 512 <= n:
        hdr = data[pos : pos + 512]
        if hdr == b"\x00" * 512:  # end-of-archive marker
            return
        if hdr[257:262] != b"ustar":
            raise ValueError(f"offset {pos}: bad ustar magic {hdr[257:263]!r}")
        stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        calc = sum(hdr[:148]) + 8 * 32 + sum(hdr[156:])
        if stored != calc:
            raise ValueError(f"offset {pos}: checksum {stored} != computed {calc}")
        name = hdr[0:100].split(b"\x00")[0].decode()
        # POSIX long names: the 155-byte prefix field joins with '/'
        prefix = hdr[345:500].split(b"\x00")[0].decode()
        if prefix:
            name = f"{prefix}/{name}"
        size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
        mtime = int(hdr[136:148].split(b"\x00")[0].strip() or b"0", 8)
        typeflag = hdr[156:157].decode()
        body = data[pos + 512 : pos + 512 + size]
        if len(body) != size:
            raise ValueError(f"offset {pos}: truncated member {name!r}")
        yield (pos, name, size, mtime, typeflag, hashlib.md5(body).hexdigest(), body)
        pos += 512 + size + ((-size) % 512)
    if pos < n:
        raise ValueError(f"offset {pos}: trailing garbage shorter than a header block")
    raise ValueError("archive ended without the zero-block trailer")


def tar_members(
    files: DataFrame, *, skip_errors: bool = False, with_payload: bool = False
) -> DataFrame:
    """1→many member extraction over (file_id, content) TAR archives —
    same contract as :func:`warc_records` (per-file containment under
    ``skip_errors``, optional payload column for downstream stages)."""
    return _walk_files(
        files, _parse_tar_any, TAR_MEMBER_SCHEMA, skip_errors=skip_errors, with_payload=with_payload
    )


def _parse_tar_any(blob: bytes) -> Iterator[tuple]:
    if blob[:2] == b"\x1f\x8b":  # .tar.gz: whole-stream gzip
        import zlib

        blob = zlib.decompress(blob, 16 + zlib.MAX_WBITS)
    return _parse_tar_bytes(blob)


# ------------------------------------------------- HTTP response envelope

# Closed-form fixture variation rules (mirrored verbatim by the DuckDB
# oracle in queries/containers.py — change them together):
#   status   : 404 "Not Found" when doc_id % 7 == 0, else 200 "OK"
#   version  : HTTP/1.0 when doc_id % 11 == 0, else HTTP/1.1
#   charset  : doc_id % 4 == 2 → charset="UTF-8" (quoted, upper);
#              other even doc_id → charset=utf-8; odd → no param
#   framing  : doc_id % 3 == 0 → Transfer-Encoding: chunked (7-byte chunks)
#              doc_id % 3 == 1 → Content-Length + trailing junk PAST the
#                                body (framing must stop at the length)
#              doc_id % 3 == 2 → neither header: body runs to payload end
#                                (connection-close framing)
#   coding   : (only when content_encoding=True)
#              doc_id % 5 == 0 → Content-Encoding: gzip
#              doc_id % 5 == 3 → Content-Encoding: deflate (zlib format)
#              else            → no header (identity)
#              The coding applies to the REPRESENTATION, i.e. the body
#              is compressed first and the transfer framing (chunking,
#              Content-Length) wraps the compressed bytes — the RFC
#              order the parser must undo in reverse.


_CHARSET_DEFAULT = object()  # sentinel: use the doc_id%4/%2 fixture rule


def encode_http_response(
    doc_id: int,
    body: bytes,
    *,
    content_encoding: bool = False,
    transfer_coding: bool = False,
    charset_param=_CHARSET_DEFAULT,
    extra_headers: tuple = (),
) -> bytes:
    """A deterministic HTTP/1.x response envelope around ``body``,
    varying status line, charset parameter, body framing — and, with
    ``content_encoding=True``, gzip/deflate representation coding —
    by the closed-form rules above so a DuckDB oracle can recompute
    every parsed field from doc_id alone while the parser faces all
    three framing modes crossed with all three codings.
    ``charset_param`` overrides the fixture charset rule (a label
    string, or None for no charset parameter) — the charset-body
    fixtures pass the label the body was ACTUALLY encoded with."""
    import zlib

    status, reason = (404, "Not Found") if doc_id % 7 == 0 else (200, "OK")
    version = "1.0" if doc_id % 11 == 0 else "1.1"
    if charset_param is not _CHARSET_DEFAULT:
        ct = b"text/html" if charset_param is None else (
            "text/html; charset=" + charset_param
        ).encode("iso-8859-1")
    elif doc_id % 4 == 2:
        ct = b'text/html; charset="UTF-8"'
    elif doc_id % 2 == 0:
        ct = b"text/html; charset=utf-8"
    else:
        ct = b"text/html"
    lines = [
        f"HTTP/{version} {status} {reason}".encode(),
        b"Content-Type: " + ct,
        b"Server: aura-fixture/1.0",
        b"X-Doc: " + str(doc_id).encode(),
    ]
    # extra_headers: raw "Name: value" lines appended verbatim (the
    # validator fixtures add ETag / Last-Modified without disturbing
    # the closed-form n_headers of the default fixture)
    lines.extend(
        h.encode("iso-8859-1") if isinstance(h, str) else h for h in extra_headers
    )
    if content_encoding:
        if doc_id % 5 == 0:
            lines.append(b"Content-Encoding: gzip")
            body = _gzip_member(body)
        elif doc_id % 5 == 3:
            lines.append(b"Content-Encoding: deflate")
            body = zlib.compress(body, 6)
    if transfer_coding:
        # hop-by-hop gzip transfer coding (RFC 9112 §6.1/6.3): even
        # docs close-delimited ("TE: gzip" overrides any CL), odd docs
        # gzip-then-chunked (undo order: dechunk first, THEN ungzip)
        if content_encoding:
            raise ValueError("fixture: transfer_coding and content_encoding are exclusive")
        coded = _gzip_member(body)
        if doc_id % 2 == 1:
            lines.append(b"Transfer-Encoding: gzip, chunked")
            chunks = [coded[i : i + 7] for i in range(0, len(coded), 7)]
            framed = b"".join(b"%x\r\n" % len(c) + c + b"\r\n" for c in chunks) + b"0\r\n\r\n"
        else:
            lines.append(b"Transfer-Encoding: gzip")
            framed = coded
        return _CRLF.join(lines) + _CRLF + _CRLF + framed
    mode = doc_id % 3
    if mode == 0:
        lines.append(b"Transfer-Encoding: chunked")
        chunks = [body[i : i + 7] for i in range(0, len(body), 7)]
        framed = b"".join(b"%x\r\n" % len(c) + c + b"\r\n" for c in chunks) + b"0\r\n\r\n"
    elif mode == 1:
        lines.append(b"Content-Length: " + str(len(body)).encode())
        framed = body + b"\r\nX-Trailing-Junk: framing must not read this"
    else:
        framed = body
    return _CRLF.join(lines) + _CRLF + _CRLF + framed


# Request fixture rules (mirrored by the corpus_warc_requests oracle):
#   method : HEAD when doc_id % 13 == 0, else GET
#   Accept : header present when doc_id % 2 == 0 (3 headers), else 2


def encode_http_request(doc_id: int) -> bytes:
    """The deterministic HTTP/1.1 request message a crawl's request
    record carries, closed-form from doc_id (rules above)."""
    method = b"HEAD" if doc_id % 13 == 0 else b"GET"
    lines = [
        method + b" /doc/%d HTTP/1.1" % doc_id,
        b"Host: example.com",
        b"User-Agent: aura-fixture/1.0",
    ]
    if doc_id % 2 == 0:
        lines.append(b"Accept: text/html")
    return _CRLF.join(lines) + _CRLF + _CRLF


def _parse_http_request(payload: bytes) -> tuple:
    """Parse one HTTP/1.x request message: request line (method,
    target, version) + case-insensitive headers.  Request bodies are
    not framed (crawl request records are header-only fetches; a
    Content-Length body would simply be ignored here).  Repeated
    header names (multiple Accept/Cookie lines are routine in real
    crawl captures) each count toward ``n_headers`` and their values
    combine with ", " per RFC 9110 §5.2 — a dict collapse would
    undercount the lines and drop all but the last value (ADVICE r9).
    Returns (method, req_target, version, host, user_agent,
    n_headers)."""
    import re as _re

    hdr_end = payload.find(b"\r\n\r\n")
    if hdr_end < 0:
        raise ValueError("HTTP request: unterminated header block")
    lines = payload[:hdr_end].decode("iso-8859-1").split("\r\n")
    m = _re.match(r"^([A-Z]+) (\S+) HTTP/(\d\.\d)$", lines[0])
    if not m:
        raise ValueError(f"HTTP request: bad request line {lines[0]!r}")
    headers: dict[str, str] = {}
    n_header_lines = 0
    for ln in lines[1:]:
        k, sep, v = ln.partition(":")
        if not sep:
            raise ValueError(f"HTTP request: malformed header line {ln!r}")
        key = k.strip().lower()
        val = v.strip()
        n_header_lines += 1
        headers[key] = headers[key] + ", " + val if key in headers else val
    return (
        m.group(1),
        m.group(2),
        m.group(3),
        headers.get("host"),
        headers.get("user-agent"),
        n_header_lines,
    )


HTTP_REQUEST_SCHEMA = (
    "file_id long, record_id string, concurrent_to string, target_uri string, "
    "method string, req_target string, http_version string, host string, "
    "user_agent string, n_headers int, error string"
)


def http_requests(records: DataFrame, *, skip_errors: bool = False) -> DataFrame:
    """Split the HTTP request envelope from WARC ``request`` record
    payloads: request line + headers as typed columns, with the
    ``concurrent_to`` link to the response record preserved — the
    crawl-politeness / fetch-audit half of :func:`http_responses`
    (which URLs were fetched with which method/agent).  Same scale
    shape: one Arrow-batched 1→1 pass, per-record containment under
    ``skip_errors``."""
    if "warc_type" in records.columns:
        records = records.where(F.col("warc_type") == "request")
    if "error" in records.columns:
        records = records.where(F.col("error").isNull())
    proj = records.select("file_id", "record_id", "concurrent_to", "target_uri", "payload")

    def parse(fid, rid, cto, uri, payload):
        return [(int(fid), rid, cto, uri, *_parse_http_request(_payload_bytes(payload)), None)]

    def error_row(row, exc):
        return (int(row[0]), *row[1:4]) + (None,) * 6 + (str(exc),)

    return map_rows(proj, parse, HTTP_REQUEST_SCHEMA, skip_errors=skip_errors, on_error=error_row)


def _payload_bytes(payload) -> bytes:
    if payload is None:
        raise ValueError("record has no payload (re-read with_payload=True)")
    return bytes(payload)


def _dechunk(data: bytes) -> bytes:
    """Decode a Transfer-Encoding: chunked body (RFC 9112 §7.1): hex
    size line (chunk extensions after ';' ignored), chunk bytes, CRLF,
    terminated by a zero chunk; trailer section ignored.  Raises
    ValueError on malformed framing."""
    out = []
    pos = 0
    while True:
        nl = data.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("chunked body: missing chunk-size line")
        size_tok = data[pos:nl].split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            raise ValueError(f"chunked body: bad chunk size {size_tok!r}")
        pos = nl + 2
        if size == 0:
            return b"".join(out)
        if pos + size + 2 > len(data):
            raise ValueError("chunked body: truncated chunk")
        out.append(data[pos : pos + size])
        if data[pos + size : pos + size + 2] != _CRLF:
            raise ValueError("chunked body: chunk not CRLF-terminated")
        pos += size + 2


# Decompressed-size bound for Content-Encoding inflation.  Crawl
# bodies are ADVERSARIAL input: a ~1 KiB gzip bomb inflates ~1000×,
# and multi-member gzip compounds it — without a cap one hostile
# record OOM-kills the executor, which no per-record skip_errors
# containment can catch (the process dies, not the row).  64 MiB is
# far above any real page body; override per call via
# http_responses(max_inflated_bytes=...).
MAX_INFLATED_BYTES = 64 * 1024 * 1024
_INFLATE_STEP = 1 << 20  # max_length per decompress call (1 MiB)


def _bounded_inflate(do, data: bytes, limit: int, produced: int) -> tuple[bytes, int]:
    """Drive one ``zlib.decompressobj`` over ``data`` incrementally
    with a cumulative output budget: each ``decompress`` call caps its
    output at ``_INFLATE_STEP`` bytes and re-feeds ``unconsumed_tail``,
    so a decompression bomb raises ValueError (inside the per-record
    containment boundary) after at most ``limit`` + one step of
    output, instead of inflating fully into executor memory.  Returns
    (inflated_bytes, new_produced_total); ``produced`` threads the
    running total across gzip members so the multi-member loop can't
    compound past the bound."""
    out = []
    while True:
        chunk = do.decompress(data, _INFLATE_STEP)
        if chunk:
            out.append(chunk)
            produced += len(chunk)
            if produced > limit:
                raise ValueError(
                    f"HTTP response: inflated body exceeds {limit} bytes "
                    "(decompression-bomb bound)"
                )
        data = do.unconsumed_tail
        if do.eof or not data:
            break
    if not do.eof:
        # flush() AFTER eof re-appends unconsumed_tail onto unused_data
        # (CPython zlib quirk), which would make the caller's
        # multi-member loop re-decode the same member forever — only
        # drain buffered output for streams that ended without eof
        tail = do.flush()
        if tail:
            out.append(tail)
            produced += len(tail)
            if produced > limit:
                raise ValueError(
                    f"HTTP response: inflated body exceeds {limit} bytes "
                    "(decompression-bomb bound)"
                )
    return b"".join(out), produced


#: Production plug seam for Content-Encoding codings stdlib can't
#: decode — the register_image_decoder pattern (multimodal.py:409)
#: applied to the HTTP path.  Brotli (a meaningful share of modern
#: response captures; no stdlib decoder) becomes a one-line plug:
#: ``register_body_decoder("br", brotli.decompress)``.  Registered
#: callables take the coded bytes and return the decoded bytes; the
#: decompression-bomb bound is enforced on their OUTPUT (a streaming
#: decoder plug should bound its own intermediate memory).
_BODY_DECODERS: dict[str, object] = {}


def register_body_decoder(coding: str, fn) -> None:
    _BODY_DECODERS[coding.strip().lower()] = fn


def _inflate_body(body: bytes, coding: str, limit: int = MAX_INFLATED_BYTES) -> bytes:
    """Undo a ``Content-Encoding`` representation coding (RFC 9110
    §8.4): ``gzip``/``x-gzip`` and ``deflate``; ``identity`` is a
    passthrough.  ``deflate`` is the zlib format per spec, but many
    real servers send raw DEFLATE — try zlib first, fall back to raw
    (the same leniency every browser applies).  Gzip bodies may be
    MULTIPLE concatenated members (some origin servers and proxies
    emit one member per flush) — all members decode and concatenate,
    per the gzip spec's multi-member rule.  Multi-coding lists
    (``Content-Encoding: gzip, br``) and unknown codings raise — an
    honest boundary the skip_errors contract contains per record.
    Output is capped at ``limit`` bytes cumulative across members
    (decompression-bomb bound, ADVICE r9) — exceeding it raises the
    same contained ValueError."""
    import zlib

    if not body:
        # a 0-byte coded body is an empty representation regardless of
        # coding (servers send Content-Encoding on empty responses;
        # browsers treat it as empty rather than a decode error)
        return b""
    if coding in ("gzip", "x-gzip"):
        out = []
        produced = 0
        buf = body
        while buf:
            do = zlib.decompressobj(16 + zlib.MAX_WBITS)
            try:
                piece, produced = _bounded_inflate(do, buf, limit, produced)
            except zlib.error as exc:
                raise ValueError(f"HTTP response: corrupt gzip body: {exc}")
            out.append(piece)
            if not do.eof:
                raise ValueError("HTTP response: truncated gzip body")
            buf = do.unused_data
        return b"".join(out)
    if coding == "deflate":
        try:
            do = zlib.decompressobj(zlib.MAX_WBITS)
            piece, _ = _bounded_inflate(do, body, limit, 0)
            if not do.eof:
                raise zlib.error("incomplete or truncated deflate stream")
            return piece
        except zlib.error:
            try:
                do = zlib.decompressobj(-zlib.MAX_WBITS)
                piece, _ = _bounded_inflate(do, body, limit, 0)
                if not do.eof:
                    raise zlib.error("incomplete or truncated deflate stream")
                return piece
            except zlib.error as exc:
                # consistent ValueError boundary, matching the gzip
                # branch — callers distinguish data errors from infra
                raise ValueError(f"HTTP response: corrupt deflate body: {exc}")
    fn = _BODY_DECODERS.get(coding)
    if fn is not None:
        try:
            out = bytes(fn(body))
        except Exception as exc:  # noqa: BLE001 — plug errors stay inside the
            # per-record ValueError containment boundary like stdlib codings
            raise ValueError(f"HTTP response: corrupt {coding} body: {exc}")
        if len(out) > limit:
            raise ValueError(
                f"HTTP response: inflated body exceeds {limit} bytes "
                "(decompression-bomb bound)"
            )
        return out
    raise ValueError(f"HTTP response: unsupported Content-Encoding {coding!r}")


def _parse_http_response(payload: bytes, *, max_inflated_bytes: int = MAX_INFLATED_BYTES) -> tuple:
    """Parse one HTTP/1.x response message: status line, case-
    insensitive headers, then body framing per RFC 9112 §6 precedence
    (Transfer-Encoding: chunked, else Content-Length, else read to
    end / connection close), then Content-Encoding inflation (gzip /
    deflate — framing is undone BEFORE the representation coding, per
    RFC order).  Header bytes decode as latin-1 (the HTTP/1.x wire
    charset); body bytes are returned raw (post-inflation).  Returns
    (version, status_code, reason, content_type, charset,
    content_encoding, chunked, content_length, n_headers, location,
    etag, last_modified, retry_after, body) — the validator pair is
    what a conditional refetch (If-None-Match / If-Modified-Since)
    replays, and retry_after is the rate-limit evidence (429/503)
    host backoff consumes."""
    import re as _re

    hdr_end = payload.find(b"\r\n\r\n")
    if hdr_end < 0:
        raise ValueError("HTTP response: unterminated header block")
    lines = payload[:hdr_end].decode("iso-8859-1").split("\r\n")
    m = _re.match(r"^HTTP/(\d\.\d) (\d{3}) ?(.*)$", lines[0])
    if not m:
        raise ValueError(f"HTTP response: bad status line {lines[0]!r}")
    version, status, reason = m.group(1), int(m.group(2)), m.group(3)
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        k, sep, v = ln.partition(":")
        if not sep:
            raise ValueError(f"HTTP response: malformed header line {ln!r}")
        headers[k.strip().lower()] = v.strip()
    rest = payload[hdr_end + 4 :]

    # Transfer-Encoding is a LIST of codings applied in order by the
    # sender (RFC 9112 §6.1); the receiver undoes them in reverse.
    # chunked, when present, must be the FINAL coding; any TE at all
    # overrides Content-Length framing (RFC 9112 §6.3 item 3: a
    # non-chunked-final TE response is close-delimited).
    te_raw = headers.get("transfer-encoding")
    te_codings = (
        [t.strip().lower() for t in te_raw.split(",") if t.strip()] if te_raw else []
    )
    chunked = "chunked" in te_codings
    clen_hdr = headers.get("content-length")
    content_length = int(clen_hdr) if clen_hdr is not None else None
    if te_codings:
        if chunked and te_codings[-1] != "chunked":
            raise ValueError(
                f"HTTP response: chunked is not the final transfer coding ({te_raw!r})"
            )
        if chunked:
            body = _dechunk(rest)
            hop_codings = te_codings[:-1]
        else:
            body = rest  # TE without final chunked: close-delimited
            hop_codings = te_codings
        # undo the remaining hop-by-hop codings newest-first; gzip /
        # x-gzip / deflate are stdlib-decodable (rare but real in
        # proxy captures), identity is a no-op, anything else is the
        # honest contained boundary
        for coding in reversed(hop_codings):
            if coding == "identity":
                continue
            if coding in ("gzip", "x-gzip", "deflate"):
                body = _inflate_body(body, coding, max_inflated_bytes)
            else:
                raise ValueError(
                    f"HTTP response: unsupported Transfer-Encoding {coding!r}"
                )
    elif content_length is not None:
        if content_length < 0:
            raise ValueError(f"HTTP response: negative Content-Length {content_length}")
        if len(rest) < content_length:
            raise ValueError(
                f"HTTP response: truncated body ({len(rest)} < Content-Length {content_length})"
            )
        body = rest[:content_length]
    else:
        body = rest  # connection-close framing: body runs to payload end

    content_encoding = headers.get("content-encoding")
    if content_encoding is not None:
        content_encoding = content_encoding.strip().lower()
        if content_encoding in ("", "identity"):
            content_encoding = None
    if content_encoding is not None:
        body = _inflate_body(body, content_encoding, max_inflated_bytes)

    content_type = charset = None
    ct_raw = headers.get("content-type")
    if ct_raw is not None:
        parts = ct_raw.split(";")
        content_type = parts[0].strip().lower()
        for p in parts[1:]:
            k, _, v = p.partition("=")
            if k.strip().lower() == "charset":
                charset = v.strip().strip('"').lower()
    return (
        version, status, reason, content_type, charset, content_encoding,
        chunked, content_length, len(headers), headers.get("location"),
        headers.get("etag"), headers.get("last-modified"),
        headers.get("retry-after"), body,
    )


HTTP_RESPONSE_SCHEMA = (
    "file_id long, record_id string, target_uri string, http_version string, "
    "status_code int, reason string, content_type string, charset string, "
    "content_encoding string, chunked boolean, content_length long, "
    "n_headers int, location string, etag string, last_modified string, "
    "retry_after string, body_md5 string, error string"
)
HTTP_RESPONSE_BODY_SCHEMA = HTTP_RESPONSE_SCHEMA + ", body binary"


def http_responses(
    records: DataFrame,
    *,
    skip_errors: bool = False,
    with_body: bool = False,
    max_inflated_bytes: int = MAX_INFLATED_BYTES,
    extra_cols: tuple = (),
) -> DataFrame:
    """Split the HTTP response envelope from WARC ``response`` record
    payloads: status line, headers (content-type / charset /
    content-encoding / framing fields surfaced as typed columns), and
    the framed body — the step between the container source and the
    HTML/text pipeline.  A ``Content-Encoding: gzip|deflate`` body is
    INFLATED after framing (the form ~half of real crawl responses
    arrive in), so ``body``/``body_md5`` always describe the decoded
    representation downstream extraction consumes.

    Input is :func:`warc_records` output ``with_payload=True`` (a
    ``warc_type`` column, when present, pre-filters to response
    records — warcinfo/metadata records carry no HTTP message).  One
    Arrow-batched 1→1 pass, no shuffle; per-RECORD error containment
    under ``skip_errors`` (one unparseable fetch costs one row with
    its record_id and the diagnosis, never the stage — crawl bodies
    are adversarial input).  ``with_body`` adds the framed body bytes
    for downstream HTML extraction; header-only audits leave it off
    and stay narrow.

    Extension surface: the reference has no HTTP path (its ingest is
    the TSDB wire protocol); this is the crawl-pipeline front half the
    brief asks for."""
    if "warc_type" in records.columns:
        records = records.where(F.col("warc_type") == "response")
    if "error" in records.columns:
        records = records.where(F.col("error").isNull())
    # extra_cols: input columns carried through the envelope split
    # unchanged (same seam as quality.gopher_quality_flags) — lets a
    # consumer like the CDX index keep the record's offset/length/date
    # without a second parse or a self-join
    extra_cols = tuple(extra_cols)
    clash = set(extra_cols) & {
        f.split(" ")[0] for f in HTTP_RESPONSE_BODY_SCHEMA.split(", ")
    }
    if clash:
        # a passthrough name colliding with an output field would emit a
        # duplicate column the consumer can't address — fail at the API
        raise ValueError(f"extra_cols collide with output columns: {sorted(clash)}")
    # "payload" as an extra col (a revisit-dedup writer needs the raw
    # envelope bytes back) must not re-select the already-projected
    # input column — dedupe; the passthrough columns follow the
    # projection's order, payload first when it is one of them
    proj = records.select(
        "file_id", "record_id", "target_uri", "payload",
        *[c for c in extra_cols if c != "payload"],
    )
    extras = [f for f in proj.schema.fields if f.name in extra_cols]
    extra_schema = "".join(f", {f.name} {f.dataType.simpleString()}" for f in extras)

    def parse(fid, rid, uri, payload, *extras):
        *head, body = _parse_http_response(
            _payload_bytes(payload), max_inflated_bytes=max_inflated_bytes
        )
        row = (int(fid), rid, uri, *head, hashlib.md5(body).hexdigest(), None)
        return [(row + (body,) if with_body else row) + extras]

    def error_row(row, exc):
        fid, rid, uri, _payload, *extras = row
        err = (int(fid), rid, uri) + (None,) * 14 + (str(exc),)
        return (err + (None,) if with_body else err) + tuple(extras)

    base_schema = HTTP_RESPONSE_BODY_SCHEMA if with_body else HTTP_RESPONSE_SCHEMA
    return map_rows(
        proj,
        parse,
        base_schema + extra_schema,
        cols=("file_id", "record_id", "target_uri", "payload", *(f.name for f in extras)),
        skip_errors=skip_errors,
        on_error=error_row,
    )


# ------------------------------------------------------------- WET text sink


def write_wet_files(
    texts: DataFrame,
    *,
    docs_per_file: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    uri_col: str | None = None,
) -> DataFrame:
    """Pack extracted page text into WET-style WARC files — the
    ``conversion``-record container the Common Crawl ecosystem ships
    extracted text in (one warcinfo record, then one
    ``WARC-Type: conversion`` / ``text/plain`` record per page, UTF-8
    payloads).  The curation pipeline's EXPORT half: after
    WARC → HTTP → HTML → text → quality/dedup, this writes the
    surviving text back out in the format downstream consumers (and
    this repo's own ``warc_records``) already read — the round trip
    is value-hash-oracled in ``corpus_wet_roundtrip``.

    Same shape as :func:`synthesize_warc`: one file pack per file
    group keyed on ``doc_id DIV docs_per_file``, returns
    (file_id long, content binary) for the caller to write (e.g.
    ``.write.parquet`` or per-file blob upload).  ``uri_col``
    passes through real page URIs; default derives the fixture URI."""
    if int(docs_per_file) < 1:
        # DIV 0 would NULL every file_id and misfire the NULL-doc_id
        # guard below with a misleading message (review r9)
        raise ValueError(f"write_wet_files: docs_per_file must be >= 1, got {docs_per_file}")
    uri = (
        F.col(uri_col)
        if uri_col is not None
        else F.concat(F.lit("http://example.com/doc/"), F.col(id_col).cast("long"))
    )

    def encode(fid, docs):
        if pd.isna(fid):
            # NULL doc_id → NaN file_id → int() would die opaquely
            # mid-export; fail at the API boundary with the fix
            raise ValueError(
                "write_wet_files: NULL doc_id rows in input — filter them or "
                "repair the id derivation upstream (e.g. try_cast fallout)"
            )
        fid = int(fid)
        out = [
            encode_warc_record(
                "warcinfo",
                f"urn:uuid:wetinfo-{fid}",
                WARCINFO_PAYLOAD,
                content_type="application/warc-fields",
            )
        ]
        for doc_id, text, uri in docs:
            out.append(
                encode_warc_record(
                    "conversion",
                    f"urn:uuid:wet-{doc_id}",
                    ("" if text is None else str(text)).encode(),
                    target_uri=None if uri is None else str(uri),
                    content_type="text/plain",
                )
            )
        return [(fid, b"".join(out))]

    grouped = _by_file(texts, docs_per_file, id_col, text_col, uri.alias("_uri"))
    return pack_groups(grouped, "file_id", "_id", encode, _FILE_SCHEMA)


# -------------------------------------------------------------- URL curation


def canonicalize_url(url):
    """Canonical crawl-dedup URL form, pure Catalyst: lowercase scheme
    + host, strip the fragment, strip the query string, drop a
    trailing slash, drop default ports (:80 for http, :443 for
    https only — a non-default port is a distinct resource) — the
    normalization
    a crawl pipeline applies before URL-level dedup so recrawls and
    tracking-parameter variants collapse.  Path case is preserved
    (paths are case-sensitive per RFC 3986; only scheme/host fold)."""
    u = url if isinstance(url, F.Column) else F.col(url)
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    u = F.regexp_replace(u, r"\?.*$", "")  # query string
    # lowercase scheme://host (up to the first '/' after '://')
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", "")
    # default ports, scheme-aware: :80 is only default for http and
    # :443 only for https — https://host:80 is a DISTINCT resource and
    # must not collapse (ADVICE r7).
    scheme = F.regexp_replace(scheme, r"^(http://[^/]*):80$", "$1")
    scheme = F.regexp_replace(scheme, r"^(https://[^/]*):443$", "$1")
    out = F.concat(scheme, rest)
    return F.regexp_replace(out, r"/$", "")  # trailing slash


def surt_key(url):
    """SURT (Sort-friendly URI Reordering Transform) form of a URL —
    the urlkey REAL Common Crawl CDX indexes sort by: the canonical
    host reversed at its dots and comma-joined, ``)`` separator, then
    the path, e.g. ``http://www.news.example.com/a/b`` →
    ``com,example,news)/a/b``.  Reversing the host groups every
    capture of a registrable domain (and all its subdomains) into one
    contiguous key range, so a domain lookup on a sorted CDX is a
    range scan instead of a scatter — the property the transform
    exists for.  Composed on :func:`canonicalize_url` (lowercase,
    query/fragment/default-port/trailing-slash stripped); a leading
    ``www.`` label drops (the standard CDX normalization); a
    non-default port survives on the reversed host
    (``com,example:8080)``); URLs with no parseable host → NULL.
    Pure Catalyst."""
    u = canonicalize_url(url)
    hostport = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/]*)", 1)
    # strip the port, a trailing FQDN dot ('example.com.' ≡
    # 'example.com' in DNS — pywb's SURT normalizes it too), then www
    host = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(hostport, r":\d+$", ""), r"\.$", ""
        ),
        r"^www\.",
        "",
    )
    port = F.regexp_extract(hostport, r"(:\d+)$", 1)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://[^/]*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.when(
        hostport != "", F.concat(rev, port, F.lit(")"), path)
    )


def url_duplicates(
    records: DataFrame, *, url_col: str = "target_uri", id_col: str = "record_id"
) -> DataFrame:
    """URL-level crawl dedup: canonicalize, then hash-groupBy — groups
    whose canonical URL was fetched more than once, with the first
    record id (min) as the canonical survivor.  The crawl twin of
    exact_duplicates (same scale shape: one shuffle on the canonical
    key, map-side combined).  NULL urls (warcinfo/metadata records)
    are excluded.  Returns (canonical_url, dup_count, keep_id)."""
    return (
        records.where(F.col(url_col).isNotNull())
        .select(canonicalize_url(url_col).alias("canonical_url"), F.col(id_col))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


# ------------------------------------------------------------ WARC revisit records

#: ISO 28500 §6.7.2's payload-digest dedup profile: the revisit record
#: asserts "this fetch returned bytes identical to the capture named
#: by WARC-Refers-To", which is the profile production crawlers (and
#: the CDX layer) deduplicate storage against.
REVISIT_PROFILE = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"


def mark_revisits(
    records: DataFrame,
    *,
    url_col: str = "target_uri",
    digest_col: str = "payload_md5",
    id_col: str = "record_id",
    key_on_url: bool = True,
) -> DataFrame:
    """Plan WARC ``revisit`` dedup over parsed captures: within each
    (canonical URL, payload digest) group the FIRST capture in
    (file_id, offset) order is the original; every later identical
    fetch gets ``revisit_of`` = the original's record id (NULL marks
    originals).  A URL re-fetched with DIFFERENT bytes is a new
    original — the identical-payload-digest profile only deduplicates
    byte-identical responses (ISO 28500 §6.7.2).

    ``key_on_url=False`` deduplicates on the digest ALONE — the
    "digest-only" dedup mode production crawlers also run (byte-
    identical content fetched at DIFFERENT URLs collapses to one
    stored payload; ISO 28500 permits Refers-To to any capture with
    the same digest).  Pair it with a BODY digest (http_responses'
    ``body_md5``) when captures are HTTP envelopes, since framing
    variation makes envelope bytes differ even for identical bodies.

    Pure Catalyst: one window over the canonical-URL+digest key (the
    same shuffle key :func:`url_duplicates` groups by); no collect, no
    self-join.  Input is :func:`warc_records` output; NULL-URL records
    (warcinfo/metadata) pass through as originals untouched."""
    if key_on_url:
        w = Window.partitionBy("canonical_url", digest_col)
    else:
        # url-less records (warcinfo/metadata) must not join a digest
        # group — a warcinfo payload byte-equal to some response body
        # would otherwise steal the group's "first capture" slot
        w = Window.partitionBy(
            F.col(digest_col), F.col("canonical_url").isNotNull()
        )
    first = F.min(
        F.struct(F.col("file_id"), F.col("offset"), F.col(id_col).alias("_id"))
    ).over(w)["_id"]
    keyed = records.withColumn(
        "canonical_url",
        F.when(F.col(url_col).isNotNull(), canonicalize_url(url_col)),
    )
    return keyed.withColumn(
        "revisit_of",
        F.when(
            F.col("canonical_url").isNotNull() & (F.col(id_col) != first), first
        ),
    )


def write_revisit_warc_files(
    marked: DataFrame,
    *,
    file_col: str = "file_id",
    content_type: str = "application/http;msgtype=response",
    digest_col: str = "payload_md5",
) -> DataFrame:
    """Pack :func:`mark_revisits` output into deduplicated WARC files:
    originals re-encode as full ``response`` records; duplicates
    become payload-less ``revisit`` records carrying WARC-Refers-To
    (the original's id), WARC-Profile (identical-payload-digest), and
    WARC-Payload-Digest (the digest both fetches share) — the storage
    dedup a production crawler applies at write time (a 100 TB crawl
    with 30% refetch identity writes 30% fewer payload bytes; the
    replay layer re-reads the original via the Refers-To link).

    Per-file packing is the WET/WAT sink shape — one shuffle on
    file_id, records in offset order.  Returns (file_id, content)."""
    slim = marked.select(
        F.col(file_col).cast("long").alias("file_id"),
        F.col("offset").alias("_off"),
        F.col("record_id").alias("_id"),
        F.col("target_uri").alias("_uri"),
        F.col(digest_col).alias("_digest"),  # body_md5 for HTTP captures
        F.col("revisit_of").alias("_orig"),
        F.col("payload").alias("_payload"),
    ).where(F.col("_id").isNotNull())

    def encode(fid, records):
        out = []
        for _off, rid, uri, digest, orig, payload in records:
            uri = None if uri is None else str(uri)
            if orig is None:
                out.append(
                    encode_warc_record(
                        "response", str(rid),
                        b"" if payload is None else bytes(payload),
                        target_uri=uri, content_type=content_type,
                    )
                )
            else:
                out.append(
                    encode_warc_record(
                        "revisit", str(rid), b"",
                        target_uri=uri,
                        content_type=content_type,
                        refers_to=str(orig),
                        profile=REVISIT_PROFILE,
                        payload_digest=f"md5:{digest}",
                    )
                )
        return [(int(fid), b"".join(out))]

    return pack_groups(slim, "file_id", "_off", encode, _FILE_SCHEMA)


def resolve_revisits(records: DataFrame) -> DataFrame:
    """Replay-side inverse of the revisit dedup: join each ``revisit``
    record to the original capture its WARC-Refers-To names,
    recovering the payload identity the revisit asserts.  Returns
    (record_id, target_uri, refers_to, profile, payload_md5) where
    payload_md5 is the ORIGINAL's digest — the frame a replay service
    serves duplicates from.  One equi-join on record id (both sides
    already carry it; no broadcast hint — originals are O(crawl))."""
    originals = records.where(F.col("warc_type") == "response").select(
        F.col("record_id").alias("refers_to"),
        F.col("payload_md5").alias("orig_payload_md5"),
        F.col("content_length").alias("orig_content_length"),
    )
    revisits = records.where(F.col("warc_type") == "revisit").select(
        "record_id", "target_uri", "refers_to", "profile"
    )
    return revisits.join(originals, "refers_to", "left").select(
        "record_id",
        "target_uri",
        "refers_to",
        "profile",
        F.col("orig_payload_md5").alias("payload_md5"),
        F.col("orig_content_length").alias("content_length"),
    )


# ------------------------------------------------------------- CDX capture index


def cdx_index(
    records: DataFrame,
    *,
    skip_errors: bool = False,
    urlkey: str = "canonical",
    with_validators: bool = False,
) -> DataFrame:
    """CDX(J)-style capture index over WARC response records — the
    third Common Crawl artifact (WARC/WET/CDX): one line per capture
    with the fields a replay/lookup service needs to seek straight to
    the record.  Columns: ``urlkey`` (the canonical lookup key),
    ``cdx_ts`` (14-digit capture timestamp from WARC-Date), ``url``,
    ``mime`` (the HTTP Content-Type), ``status``, ``digest`` (md5 of
    the DECODED payload — framing and Content-Encoding undone),
    ``offset``/``length`` (the record's position in its WARC file),
    ``file_id``, ``record_id``.

    Scale shape: the record's offset/length/date ride the
    ``extra_cols`` passthrough through the HTTP envelope split — ONE
    Arrow pass over the records, no self-join, no second parse; the
    urlkey/timestamp derivations are pure Catalyst.  Input is
    :func:`warc_records` output ``with_payload=True``.

    ``urlkey='surt'`` keys lines by the :func:`surt_key` form instead
    of the plain canonical URL — what production CDX collections sort
    by (domain lookups become contiguous range scans).

    Extension surface: the reference has no crawl path; this
    completes the WARC (source) / WET (sink) / CDX (index) triple.

    ``with_validators=True`` appends the capture's ``etag`` /
    ``last_modified`` / ``retry_after`` response headers as columns —
    the refetch state (:func:`conditional_fetch_plan` and
    :func:`robots.host_backoff` run directly off the index), an
    INDEX-table concern kept out of the CDXJ wire line (whose schema
    is pinned by CDX_LINE_SCHEMA)."""
    if urlkey not in ("canonical", "surt"):
        raise ValueError(f"cdx_index: unknown urlkey form {urlkey!r}")
    resp = http_responses(
        records, skip_errors=skip_errors,
        extra_cols=("offset", "record_length", "warc_date"),
    )
    # a capture index line describes a SUCCESSFUL envelope parse with a
    # target URI AND a capture date: skip_errors error rows (null
    # fields), URI-less records, and date-less records would emit
    # lines whose null urlkey/timestamp shifts the space-delimited
    # fields on re-parse (concat_ws drops NULLs silently, so the JSON
    # blob would re-read as the timestamp) — they belong in the errors
    # sidecar, not the index
    resp = resp.where(
        F.col("error").isNull()
        & F.col("target_uri").isNotNull()
        & F.col("warc_date").isNotNull()
    )
    validator_cols = (
        [F.col("etag"), F.col("last_modified"), F.col("retry_after")]
        if with_validators
        else []
    )
    return resp.select(
        (
            surt_key("target_uri") if urlkey == "surt" else canonicalize_url("target_uri")
        ).alias("urlkey"),
        F.regexp_replace(F.col("warc_date"), "[^0-9]", "").alias("cdx_ts"),
        F.col("target_uri").alias("url"),
        F.col("content_type").alias("mime"),
        F.col("status_code").alias("status"),
        F.col("body_md5").alias("digest"),
        F.col("offset"),
        F.col("record_length").alias("length"),
        F.col("file_id"),
        F.col("record_id"),
        *validator_cols,
    ).where(
        # a hostless target URI yields a NULL surt urlkey — route it to
        # the errors path like the other line-shifting nulls above
        F.col("urlkey").isNotNull()
    )


def cdx_index_with_revisits(
    records: DataFrame, *, skip_errors: bool = False, urlkey: str = "canonical"
) -> DataFrame:
    """CDX over a DEDUPLICATED WARC (a :func:`write_revisit_warc_files`
    artifact): response records index as usual; ``revisit`` records
    index under their own urlkey with ``mime = 'warc/revisit'`` and
    the ORIGINAL capture's digest and status (resolved through the
    WARC-Refers-To link) — exactly how production CDX marks
    deduplicated captures so a replay service can look up ANY capture
    of a URL and follow the index to the stored payload.  The revisit
    row's offset/length are its OWN record's (replay seeks there
    first, reads the Refers-To, then seeks the original).

    One equi-join of revisit rows onto the response index (both
    O(captures), AQE-sized); the response side is the one-pass
    :func:`cdx_index`."""
    base = cdx_index(
        records.where(F.col("warc_type") == "response"),
        skip_errors=skip_errors,
        urlkey=urlkey,
    )
    key = surt_key if urlkey == "surt" else canonicalize_url
    rev = records.where(
        (F.col("warc_type") == "revisit")
        & F.col("target_uri").isNotNull()
        & F.col("warc_date").isNotNull()
        & F.col("refers_to").isNotNull()
    ).select(
        key("target_uri").alias("urlkey"),
        F.regexp_replace(F.col("warc_date"), "[^0-9]", "").alias("cdx_ts"),
        F.col("target_uri").alias("url"),
        F.col("offset"),
        F.col("record_length").alias("length"),
        F.col("file_id"),
        F.col("record_id"),
        F.col("refers_to"),
    ).where(F.col("urlkey").isNotNull())
    orig = base.select(
        F.col("record_id").alias("refers_to"),
        F.col("digest").alias("_orig_digest"),
        F.col("status").alias("_orig_status"),
    )
    rev_rows = rev.join(orig, "refers_to", "left").select(
        "urlkey",
        "cdx_ts",
        "url",
        F.lit("warc/revisit").alias("mime"),
        F.col("_orig_status").alias("status"),
        F.col("_orig_digest").alias("digest"),
        "offset",
        "length",
        "file_id",
        "record_id",
    )
    return base.unionByName(rev_rows)


CDX_LINE_SCHEMA = (
    "urlkey string, cdx_ts string, url string, mime string, status int, "
    "digest string, offset long, length long, record_id string"
)


def _cdx_line_expr():
    """One CDXJ line (``urlkey timestamp {json}``) as a Column over a
    :func:`cdx_index` row — shared by the per-WARC-file sink and the
    ZipNum block writer so both artifacts carry byte-identical lines.
    The line format is space- and newline-delimited: a space OR line
    break INSIDE a urlkey would shift fields / split the line on
    re-parse, so percent-encode them ('%' first so the encoding is
    invertible); parse_cdx_files and the ZipNum reader decode in
    reverse order."""
    urlkey_enc = F.regexp_replace(F.col("urlkey"), "%", "%25")
    for ch, enc in ((" ", "%20"), ("\n", "%0A"), ("\r", "%0D")):
        urlkey_enc = F.regexp_replace(urlkey_enc, ch, enc)
    return F.concat_ws(
        " ",
        urlkey_enc,
        F.col("cdx_ts"),
        F.to_json(
            F.struct("url", "mime", "status", "digest", "offset", "length", "record_id")
        ),
    )


def write_cdx_files(cdx: DataFrame) -> DataFrame:
    """Pack a :func:`cdx_index` frame into CDXJ text files — one
    ``(file_id, content)`` row per WARC file, lines sorted by
    (urlkey, offset) as CDX consumers expect: ``urlkey timestamp
    {json}``.  Pure Catalyst (to_json + array_sort + array_join), one
    shuffle on file_id; the sink twin of :func:`write_wet_files`."""
    line = _cdx_line_expr()
    rows = cdx.select("file_id", F.col("urlkey"), F.col("offset"), line.alias("line"))
    return (
        rows.groupBy("file_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("urlkey", "offset", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("content")
        )
    )


def parse_cdx_files(files: DataFrame) -> DataFrame:
    """Read CDXJ text files back to typed capture rows — the inverse
    of :func:`write_cdx_files`, so the index artifact round-trips
    through its wire format exactly like the WET sink.  Pure Catalyst:
    split lines, split the two space-delimited key fields, from_json
    the rest."""
    json_schema = (
        "url string, mime string, status int, digest string, "
        "offset long, length long, record_id string"
    )
    lines = files.select(
        "file_id", F.explode(F.split(F.col("content"), "\n")).alias("line")
    ).where(F.length("line") > 0)
    urlkey_dec = F.substring_index(F.col("line"), " ", 1)
    for enc, ch in (("%0D", "\r"), ("%0A", "\n"), ("%20", " ")):
        urlkey_dec = F.regexp_replace(urlkey_dec, enc, ch)
    urlkey_dec = F.regexp_replace(urlkey_dec, "%25", "%")
    parsed = lines.select(
        "file_id",
        urlkey_dec.alias("urlkey"),
        F.element_at(F.split(F.col("line"), " ", 3), 2).alias("cdx_ts"),
        F.from_json(
            F.element_at(F.split(F.col("line"), " ", 3), 3), json_schema
        ).alias("j"),
    )
    return parsed.select(
        "urlkey", "cdx_ts", "j.url", "j.mime", "j.status", "j.digest",
        "j.offset", "j.length", "file_id", "j.record_id",
    )


#: Extensions a fetch-budget-conscious crawler skips outright: binary
#: media and archives are not text documents (the multimodal path
#: ingests media deliberately, from manifests — not by chasing every
#: <a href>).  The fineweb/UT1-style URL prefilter's default set.
MEDIA_EXTENSIONS = (
    "jpg", "jpeg", "png", "gif", "bmp", "webp", "ico", "svg",
    "mp3", "wav", "ogg", "mp4", "avi", "mov", "mkv", "webm",
    "zip", "gz", "tar", "rar", "7z", "pdf", "exe", "dmg", "iso",
)


#: Common multi-label public suffixes (a registrable domain under
#: these is THREE labels, not two).  This is the well-known short tail
#: of the public-suffix list — the full PSL is a production data file;
#: pass ``extra_suffixes`` to fold it in (the register_body_decoder
#: seam pattern).  Everything here is public DNS structure knowledge.
TWO_LABEL_PUBLIC_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "co.nz", "net.nz", "org.nz",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
    "co.in", "net.in", "org.in", "co.za", "co.kr", "or.kr",
)


def registrable_domain(host, *, extra_suffixes: tuple = ()):
    """Registrable domain of a hostname — the level the public Common
    Crawl DOMAIN ranking aggregates at (every subdomain of one
    registration collapses to one node): the last two labels, or the
    last THREE when the two-label tail is a public suffix
    (``news.bbc.co.uk`` → ``bbc.co.uk``, ``a.b.example.com`` →
    ``example.com``).  Heuristic by design — the embedded suffix set
    is the well-known short tail; production folds the full PSL in via
    ``extra_suffixes``.  Pure Catalyst; a host with one label (or an
    IP-ish string) passes through unchanged."""
    h = F.lower(host if isinstance(host, F.Column) else F.col(host))
    h = F.regexp_replace(h, r"\.$", "")  # trailing FQDN dot ≡ none (DNS)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    # F.get is NULL-safe on out-of-range (element_at THROWS under ANSI
    # for a 1-label host even in the branch the when() never returns)
    last2 = F.concat_ws(".", F.get(parts, n - 2), F.get(parts, n - 1))
    last3 = F.concat_ws(".", F.get(parts, n - 3), last2)
    suffixes = list(TWO_LABEL_PUBLIC_SUFFIXES) + [s.lower() for s in extra_suffixes]
    return (
        F.when((n >= 3) & last2.isin(suffixes), last3)
        .when(n >= 2, last2)
        .otherwise(h)
    )


def domain_graph(
    edges: DataFrame,
    *,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    extra_suffixes: tuple = (),
) -> DataFrame:
    """The :func:`host_graph` projection folded one level further, to
    registrable domains — the coarsest grain the public rankings
    publish (subdomain farms collapse to one node, so a spam
    registration can't multiply its own authority by minting hosts).
    Same shape: self-loops (now intra-DOMAIN links, including
    host-to-host within one registration) drop; one map-side-combined
    groupBy.  Returns (src_domain, dst_domain, n_links) —
    :func:`pagerank` ``weight_col`` input."""

    def h(c: str):
        host = F.regexp_extract(F.col(c), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1)
        return registrable_domain(
            F.regexp_replace(host, r":\d+$", ""), extra_suffixes=extra_suffixes
        )

    g = edges.select(h(src_col).alias("src_domain"), h(dst_col).alias("dst_domain")).where(
        (F.col("src_domain") != "") & (F.col("dst_domain") != "")
    )
    g = g.where(F.col("src_domain") != F.col("dst_domain"))
    return g.groupBy("src_domain", "dst_domain").agg(
        F.count("*").cast("long").alias("n_links")
    )


def url_features(urls: DataFrame, *, url_col: str = "url") -> DataFrame:
    """Pre-fetch URL features — what a crawl spends its fetch budget
    ON is decided before any byte is fetched, from the URL string
    alone (the fineweb/UT1-style prefilter): host, registrable-ish
    domain tail, path depth and length, query-parameter count,
    lowercased extension, media/archive flag, and the digit ratio of
    the host (throwaway spam hosts are digit-heavy).  Pure Catalyst —
    one projection, no shuffle; composes with robots/frontier stages
    on the same URL column."""
    u = F.col(url_col)
    hostport = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1)
    host = F.lower(F.regexp_replace(hostport, r":\d+$", ""))
    path = F.regexp_replace(
        F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""), r"[?#].*$", ""
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]{1,5})$", 1))
    host_digits = F.length(F.regexp_replace(host, r"[^0-9]", ""))
    return urls.withColumns(
        {
            "host": host,
            "path": path,
            "path_depth": F.when(
                path.isin("", "/"), F.lit(0)
            ).otherwise(F.size(F.split(F.regexp_replace(path, r"^/|/$", ""), "/"))),
            "path_len": F.length(path),
            "n_query_params": F.when(query == "", F.lit(0)).otherwise(
                F.size(F.split(query, "&"))
            ),
            "extension": ext,
            "is_media": ext.isin(*MEDIA_EXTENSIONS),
            "host_digit_ratio": F.when(
                F.length(host) > 0, host_digits / F.length(host)
            ),
        }
    )


def url_prefilter(
    urls: DataFrame,
    *,
    url_col: str = "url",
    max_path_depth: int = 12,
    max_path_len: int = 256,
    max_query_params: int = 8,
    max_host_digit_ratio: float = 0.5,
    blocked_hosts: DataFrame | None = None,
) -> DataFrame:
    """Fetch-budget URL gate over :func:`url_features`: flag (not
    drop — the caller decides, same contract as the quality gates)
    URLs a curation crawl skips before fetching: media/archive
    extensions, calendar-trap path depth, tracking-bloated query
    strings, URL-shaped-garbage lengths, digit-heavy throwaway hosts,
    and hosts on a blocklist dim (left anti-ish via a host-equi join,
    AQE-sized — the UT1 blocklist shape).  Output adds per-rule
    booleans plus ``url_keep``; every rule is a pure-Catalyst
    projection, the blocklist is the only join."""
    f = url_features(urls, url_col=url_col)
    flags = {
        "flag_media": F.col("is_media"),
        "flag_deep_path": F.col("path_depth") > int(max_path_depth),
        "flag_long_path": F.col("path_len") > int(max_path_len),
        "flag_query_bloat": F.col("n_query_params") > int(max_query_params),
        "flag_digit_host": F.coalesce(
            F.col("host_digit_ratio") > float(max_host_digit_ratio), F.lit(False)
        ),
    }
    if blocked_hosts is not None:
        hit = blocked_hosts.select(
            F.lower(F.col("host")).alias("host"), F.lit(True).alias("_blk")
        ).distinct()
        f = f.join(hit, "host", "left")
        flags["flag_blocked_host"] = F.coalesce(F.col("_blk"), F.lit(False))
    out = f.withColumns(flags)
    if blocked_hosts is not None:
        out = out.drop("_blk")
    keep = F.lit(True)
    for name in flags:
        keep = keep & ~F.col(name)
    return out.withColumn("url_keep", keep)


# ------------------------------------------------------------- ZipNum CDX

ZIPNUM_BLOCK_SCHEMA = (
    "shard_id long, block_idx long, first_urlkey string, first_ts string, "
    "offset long, length long, n_lines int, content binary"
)


def write_zipnum_cdx(
    cdx: DataFrame, *, shard_col: str = "file_id", lines_per_block: int = 64
) -> DataFrame:
    """ZipNum-style sharded CDX — how production CDX collections stay
    seekable at billions of captures: lines sort within each shard,
    chunk into fixed-size blocks, each block gzips INDEPENDENTLY, and
    a tiny secondary index (one row per block: first urlkey, byte
    offset, compressed length) lets a lookup binary-search the index
    and decompress ONE block instead of the collection.  Returns the
    block frame (shard_id, block_idx, first_urlkey, first_ts, offset,
    length, n_lines, content) — :func:`zipnum_idx` projects the
    secondary index off it, :func:`zipnum_shard_files` concatenates
    the wire-format shard files, :func:`zipnum_lookup` seeks.

    Lines are byte-identical to :func:`write_cdx_files` CDXJ.  One
    shuffle on the shard key; per-shard work is a sort + deterministic
    gzip per block (mtime 0 — byte-stable).  ``shard_col`` is the
    collection's partition key (a production collection shards by
    crawl segment or urlkey prefix); lookups search each shard's
    index independently, exactly like a multi-file CDX."""
    n = int(lines_per_block)
    if n <= 0:
        raise ValueError(f"lines_per_block must be positive: {n}")
    rows = cdx.select(
        F.col(shard_col).cast("long").alias("shard_id"),
        "urlkey",
        "cdx_ts",
        F.col("offset").alias("_rec_off"),
        _cdx_line_expr().alias("line"),
    )

    def encode(shard, cdx_lines):
        shard = int(shard)
        out = []
        off = 0
        for b, start in enumerate(range(0, len(cdx_lines), n)):
            block = cdx_lines[start : start + n]
            gz = _gzip_member(("\n".join(r[3] for r in block) + "\n").encode())
            out.append((shard, b, block[0][0], block[0][1], off, len(gz), len(block), gz))
            off += len(gz)
        return out

    return pack_groups(rows, "shard_id", ["urlkey", "_rec_off"], encode, ZIPNUM_BLOCK_SCHEMA)


def zipnum_idx(blocks: DataFrame) -> DataFrame:
    """The secondary index rows (everything but the block bytes) —
    what a production collection ships as ``cluster.idx``: O(captures
    / lines_per_block) rows, small enough to binary-search anywhere."""
    return blocks.select(
        "shard_id", "block_idx", "first_urlkey", "first_ts", "offset", "length", "n_lines"
    )


def zipnum_shard_files(blocks: DataFrame) -> DataFrame:
    """Concatenate each shard's gzip blocks in block order into the
    wire-format shard file (gzip members back-to-back — ``zcat``
    yields the sorted CDXJ lines).  Returns (shard_id, content)."""
    slim = blocks.select("shard_id", "block_idx", "content")

    def encode(shard, blocks):
        return [(int(shard), b"".join(bytes(c) for _b, c in blocks))]

    return pack_groups(slim, "shard_id", "block_idx", encode, "shard_id long, content binary")


def zipnum_candidate_blocks(
    idx: DataFrame,
    probes: DataFrame,
    *,
    probe_col: str = "urlkey",
    range_sharded: bool = False,
) -> DataFrame:
    """The binary-search step of :func:`zipnum_lookup` as a frame —
    the (shard_id, _probe, offset, length) blocks a lookup must open.
    Block b can hold a probe iff first_b ≤ probe ≤ first_{b+1} (a
    heavily-captured urlkey legitimately SPANS blocks, so the
    candidate set is a range, not just the argmax block).  With
    ``range_sharded`` the probe is first narrowed to the one shard
    whose key range holds it via an O(shards) boundary table (a
    production cluster.idx is ONE sorted file over exactly these
    boundaries).  Exposed so benches/tests can account the bytes a
    lookup touches with the exact planning rule the lookup uses."""
    probe_set = probes.select(F.col(probe_col).alias("_probe")).distinct()
    wS = Window.partitionBy("shard_id").orderBy("first_urlkey", "block_idx")
    bounded = idx.withColumn("_next_first", F.lead("first_urlkey").over(wS))
    in_block = (F.col("first_urlkey") <= F.col("_probe")) & (
        F.col("_next_first").isNull() | (F.col("_next_first") >= F.col("_probe"))
    )
    if range_sharded:
        sb = idx.groupBy("shard_id").agg(F.min("first_urlkey").alias("_smin"))
        sb = sb.withColumn(
            "_snext", F.lead("_smin").over(Window.orderBy("_smin", "shard_id"))
        )
        probe_shards = sb.join(
            F.broadcast(probe_set),
            (F.col("_smin") <= F.col("_probe"))
            & (F.col("_snext").isNull() | (F.col("_snext") >= F.col("_probe"))),
        ).select("shard_id", "_probe")
        return (
            bounded.join(probe_shards, "shard_id")
            .where(in_block)
            .select("shard_id", "_probe", "offset", "length")
        )
    return bounded.join(F.broadcast(probe_set), in_block).select(
        "shard_id", "_probe", "offset", "length"
    )


def zipnum_lookup(
    shard_files: DataFrame,
    idx: DataFrame,
    probes: DataFrame,
    *,
    probe_col: str = "urlkey",
    range_sharded: bool = False,
) -> DataFrame:
    """Seek-efficient capture lookup: for each probe urlkey, pick PER
    SHARD the last index block whose first_urlkey ≤ probe (the
    binary-search step as an argmax), slice THAT block's bytes out of
    the shard file by (offset, length), gunzip it alone, and return
    the probe's matching capture rows — the whole collection is never
    decompressed (asserted structurally in tests: bytes touched =
    matched blocks only).

    With the default ``range_sharded=False`` no contract holds between
    shards and the key space (hash/segment sharding), so every shard
    is searched independently — one candidate block per shard per
    probe, exactly the multi-CDX-file semantic.  A production ZipNum
    collection is RANGE-sharded (the global sort spills across shard
    files in key order, one cluster.idx over all of them):
    ``range_sharded=True`` asserts that contract and first narrows
    each probe to the one shard whose key range holds it (an O(shards)
    boundary table, then an equi-join), so a probe touches ~1 block of
    the whole collection regardless of its size.

    Plan shape: probes are a QUERY SET (bounded ≪ collection, the ANN
    query-set contract) broadcast into a non-equi join against the
    O(blocks) index; the argmax is one groupBy; the block slice is one
    Arrow pass over the few matched (shard, block) rows joined to
    their shard files.  Returns parse_cdx_files-typed rows plus the
    probing urlkey."""
    cand = zipnum_candidate_blocks(
        idx, probes, probe_col=probe_col, range_sharded=range_sharded
    )
    # one row per block to open, carrying every probe that lands in it
    to_open = cand.groupBy("shard_id", "offset", "length").agg(
        F.collect_list("_probe").alias("_probes")
    )
    opened = to_open.join(shard_files, "shard_id")

    json_schema = (
        "url string, mime string, status int, digest string, "
        "offset long, length long, record_id string"
    )

    def seek(off, ln, plist, content):
        import zlib

        gz = bytes(content)[int(off) : int(off) + int(ln)]
        want = set(plist)
        for line in zlib.decompress(gz, 16 + zlib.MAX_WBITS).decode().splitlines():
            key, _, rest = line.partition(" ")
            key = (
                key.replace("%0D", "\r").replace("%0A", "\n")
                .replace("%20", " ").replace("%25", "%")
            )
            if key in want:
                ts, _, js = rest.partition(" ")
                yield (key, ts, js)

    hits = map_rows(
        opened, seek, "urlkey string, cdx_ts string, _json string",
        cols=("offset", "length", "_probes", "content"),
    )
    parsed = hits.select(
        "urlkey", "cdx_ts", F.from_json(F.col("_json"), json_schema).alias("j")
    )
    return parsed.select(
        "urlkey", "cdx_ts", "j.url", "j.mime", "j.status", "j.digest",
        "j.offset", "j.length", "j.record_id",
    )


def recrawl_schedule(
    captures: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "capture_ts",
    digest_col: str = "digest",
    status_col: str | None = None,
    base_interval: float = 86400.0,
    max_doublings: int = 5,
) -> DataFrame:
    """Adaptive revisit policy over capture HISTORY — the classic CDX
    consumer: pages that keep changing get refetched at the base
    interval; pages observed unchanged back off exponentially (the
    Heritrix wait-doubling family; Cho & Garcia-Molina's result that
    uniform revisit wastes most fetches on static pages).  Per URL,
    over its (ts, digest) capture sequence: ``n_captures``,
    ``n_changes`` (digest transitions between CONSECUTIVE captures),
    ``change_rate`` (= changes / observed intervals; NULL with one
    capture), ``streak`` (captures since the last change — the whole
    history when nothing ever changed), and ``next_fetch_ts`` =
    last capture + base_interval × 2^min(streak, max_doublings).

    ``status_col`` integrates CONDITIONAL fetches: a ``304 Not
    Modified`` capture carries no body (no digest) but IS unchanged-
    content evidence (RFC 9110 §15.4.5) — its effective digest is the
    last body-bearing capture's, so it extends the unchanged streak
    instead of poisoning the comparison with a NULL.

    One window + one groupBy on the SAME url key (no second shuffle
    after the window's); the capture index at 100 TB is already
    url-sorted at rest, which is exactly the order the lag needs."""
    w = Window.partitionBy(url_col).orderBy(F.col(ts_col).asc(), F.col(digest_col))
    if status_col is not None:
        # a 304's effective digest = the last body-bearing capture's
        # (last ignorenulls over the same window; computed in its own
        # projection — window functions don't nest)
        body_digest = F.when(F.col(status_col) != 304, F.col(digest_col))
        captures = captures.withColumn(
            "_eff",
            F.last(body_digest, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    else:
        captures = captures.withColumn("_eff", F.col(digest_col))
    prev = F.lag(F.col("_eff")).over(w)
    # _eff can be NULL under status_col (a LEADING 304 has no prior
    # body to inherit) — 3VL would make the comparison NULL, not 0
    changed = (
        prev.isNotNull() & F.col("_eff").isNotNull() & (F.col("_eff") != prev)
    ).cast("int")
    rn = F.row_number().over(w)
    marked = captures.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).cast("double").alias("_ts"),
        changed.alias("_chg"),
        rn.alias("_rn"),
    )
    agg = marked.groupBy("url").agg(
        F.count("*").cast("long").alias("n_captures"),
        F.sum("_chg").cast("long").alias("n_changes"),
        F.max(F.when(F.col("_chg") == 1, F.col("_rn"))).alias("_last_chg_rn"),
        F.max("_ts").alias("_last_ts"),
    )
    n = F.col("n_captures")
    streak = F.coalesce(n - F.col("_last_chg_rn"), n - 1).cast("long")
    intervals = F.when(n > 1, (n - 1).cast("double"))
    next_iv = F.lit(float(base_interval)) * F.pow(
        F.lit(2.0), F.least(streak, F.lit(int(max_doublings))).cast("double")
    )
    return agg.select(
        "url",
        "n_captures",
        "n_changes",
        (F.col("n_changes") / intervals).alias("change_rate"),
        streak.alias("streak"),
        (F.col("_last_ts") + next_iv).alias("next_fetch_ts"),
    )


def capture_change_profile(
    captures: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "capture_ts",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Degree-of-change between consecutive captures of one URL —
    refines recrawl_schedule's binary digest comparison into a
    MAGNITUDE (Cho & Garcia-Molina's change-frequency estimators
    assume "changed at all"; real scheduling wants "the nav bar
    rotated" vs "the article was rewritten"): per capture, the
    word-shingle-set Jaccard against the previous capture of the same
    URL.  A boilerplate tweak on a large page scores near 1; a
    rewrite scores near 0; the first capture has no predecessor
    (NULL).  Two empty texts compare as unchanged (Jaccard 1 — an
    empty page that stays empty is stable, not novel).

    One window on the url key (lag of the per-capture shingle array —
    the SAME shuffle the recrawl policy already pays; shingle arrays
    are bounded by page size and never leave their url partition).
    Same-timestamp captures order by a content digest tiebreak (the
    recrawl_schedule (ts, digest) convention), so the profile is
    deterministic on refetch races.  Returns (url, capture_ts,
    n_shingles, jaccard_prev)."""
    from opentsdb_aura_spark.operators.dedup_text import word_shingles

    w = Window.partitionBy("url").orderBy(
        F.col("capture_ts").asc(), F.md5(F.array_join("_sh", "\x1f")).asc()
    )
    d = captures.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).cast("double").alias("capture_ts"),
        # NULL text = an empty capture (coalesce to text ''), NOT a
        # poison value: without this, size(NULL) = -1 and the NULL
        # shingle array nulls the neighbor's lag/Jaccard, making the
        # next capture look like a first fetch (ADVICE r11)
        F.array_sort(
            word_shingles(F.coalesce(F.col(text_col), F.lit("")), shingle_n)
        ).alias("_sh"),
    )
    lagged = d.select(
        "url",
        "capture_ts",
        F.size("_sh").cast("long").alias("n_shingles"),
        F.col("_sh"),
        F.lag("_sh").over(w).alias("_prev"),
    )
    inter = F.size(F.array_intersect(F.col("_sh"), F.col("_prev"))).cast("double")
    union = F.size(F.array_union(F.col("_sh"), F.col("_prev"))).cast("double")
    jac = (
        F.when(F.col("_prev").isNull(), F.lit(None).cast("double"))
        .when(union == 0, F.lit(1.0))
        .otherwise(inter / union)
    )
    return lagged.select("url", "capture_ts", "n_shingles", jac.alias("jaccard_prev"))


def conditional_fetch_plan(
    captures: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "capture_ts",
    etag_col: str = "etag",
    last_modified_col: str = "last_modified",
) -> DataFrame:
    """Conditional-request planning (RFC 9110 §13.1.1–13.1.3): for
    each URL, the validators the NEXT fetch should replay so an
    unchanged page costs a 304 instead of a full body — the request
    half of the 304 story recrawl_schedule(status_col=...) consumes on
    the response side.  ``If-None-Match`` carries the most recent
    non-null ETag VERBATIM (opaque, quotes and any ``W/`` weakness
    marker included — §8.8.3 forbids reconstructing it);
    ``If-Modified-Since`` the most recent non-null Last-Modified
    verbatim (§13.1.3: the stored field value, not a reformat).  The
    two carry forward INDEPENDENTLY — a proxy stripping one header on
    one capture must not lose the other validator's state.

    One map-side-combined groupBy on the url key (max_by with a
    null-guarded ordering — no window, no second shuffle); the capture
    index at 100 TB is url-sorted at rest, so this is a near-local
    aggregation.  Returns (url, last_capture_ts, if_none_match,
    if_modified_since, conditional)."""
    u, t = F.col(url_col), F.col(ts_col).cast("double")
    et, lm = F.col(etag_col), F.col(last_modified_col)
    # ordering key (ts, value): two same-timestamp captures with
    # different validator values pick deterministically (max value
    # breaks the tie) instead of whichever partition merged last
    out = captures.groupBy(u.alias("url")).agg(
        F.max(t).alias("last_capture_ts"),
        F.max_by(et, F.when(et.isNotNull(), F.struct(t, et))).alias("if_none_match"),
        F.max_by(lm, F.when(lm.isNotNull(), F.struct(t, lm))).alias("if_modified_since"),
    )
    return out.withColumn(
        "conditional",
        F.col("if_none_match").isNotNull() | F.col("if_modified_since").isNotNull(),
    )


# --------------------------------------------------------------- WAT metadata


def write_wat_files(
    captures: DataFrame,
    *,
    id_col: str = "record_id",
    uri_col: str = "url",
    file_col: str = "file_id",
    meta_cols: tuple = ("url", "mime", "status", "digest"),
) -> DataFrame:
    """Pack per-capture metadata into WAT-style WARC files — the
    Common Crawl ``metadata``-record artifact (one warcinfo record,
    then one ``WARC-Type: metadata`` record per capture whose payload
    is a JSON envelope of the capture's metadata).  With the WARC
    source, the WET sink, and the CDX index, this completes the full
    Common Crawl artifact family.

    The JSON payload is built JVM-side with ``to_json`` over
    ``meta_cols`` (field order = tuple order, the deterministic form
    the round-trip oracle reconstructs in SQL); the per-file packing
    is the WET sink's file pack — one shuffle on file_id.
    Returns (file_id long, content binary)."""
    wat_id = F.concat(
        F.lit("urn:uuid:wat-"),
        F.regexp_replace(F.col(id_col), r"^urn:uuid:", ""),
    )
    grouped = captures.select(
        F.col(file_col).cast("long").alias("file_id"),
        wat_id.alias("_id"),
        F.col(uri_col).alias("_uri"),
        F.to_json(F.struct(*[F.col(c) for c in meta_cols])).alias("_json"),
    ).where(F.col("_id").isNotNull())  # a NULL capture id would stringify as junk

    def encode(fid, captures):
        fid = int(fid)
        out = [
            encode_warc_record(
                "warcinfo",
                f"urn:uuid:watinfo-{fid}",
                WARCINFO_PAYLOAD,
                content_type="application/warc-fields",
            )
        ]
        for rid, uri, js in captures:
            out.append(
                encode_warc_record(
                    "metadata",
                    str(rid),
                    ("" if js is None else str(js)).encode(),
                    target_uri=None if uri is None else str(uri),
                    content_type="application/json",
                )
            )
        return [(fid, b"".join(out))]

    return pack_groups(grouped, "file_id", "_id", encode, _FILE_SCHEMA)


def resolve_href(base, href):
    """RFC 3986-lite reference resolution for the crawl frontier, pure
    Catalyst: absolute refs with a scheme pass through; network-path
    refs (``//host/x``) adopt the base scheme; root-relative refs
    (``/x``) join the base's ``scheme://host``; everything else
    (path-relative, fragments, mailto:, javascript:) resolves to NULL
    — a production frontier either implements the full RFC 3986 merge
    for path-relative refs or drops them, and dropping is the common
    crawl-frontier choice (they are chrome/self links far more often
    than new documents).  Compose with :func:`canonicalize_url` before
    dedup/scheduling."""
    b = base if isinstance(base, F.Column) else F.col(base)
    h = href if isinstance(href, F.Column) else F.col(href)
    scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)
    # a base with no parseable scheme/origin (relative or garbage URL)
    # extracts '' — resolving against it would mint malformed
    # '://host/x' or host-less '/x' strings that pass the NULL filter
    # and enter the frontier, so those branches resolve to NULL instead
    return (
        F.when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), h)
        .when(h.startswith("//") & (scheme != ""), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("//"), F.lit(None).cast("string"))
        .when(h.startswith("/") & (origin != ""), F.concat(origin, h))
        .otherwise(F.lit(None).cast("string"))
    )


def update_frontier_index(
    links: DataFrame,
    path: str,
    *,
    url_col: str = "frontier_url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental crawl-frontier maintenance (the
    dedup_text.update_minhash_index pattern applied to scheduling):
    append this batch's (frontier_url, doc_id) reference EDGES to the
    parquet index at ``path``, anti-joining on doc_id first so an
    at-least-once redelivery re-contributes nothing.  Storing edges
    rather than counts keeps the append idempotent per source doc;
    read-side :func:`frontier_counts` derives the scheduler's ranking
    signal with one groupBy.  Returns the refreshed index frame."""
    spark = links.sparkSession
    slim = links.select(
        F.col(url_col).alias("frontier_url"), F.col(id_col).cast("long").alias("doc_id")
    ).where(F.col("frontier_url").isNotNull() & F.col(id_col).isNotNull())
    fresh = new_rows(slim, read_parquet_if_exists(spark, path), "doc_id", "doc_id")
    fresh.write.mode("append").parquet(path)
    return spark.read.parquet(path)


def frontier_counts(spark, path: str) -> DataFrame:
    """Read-side of :func:`update_frontier_index`: per frontier URL,
    the reference count across all ingested documents — one map-side
    combined groupBy over the edge index."""
    return (
        spark.read.parquet(path)
        .groupBy("frontier_url")
        .agg(F.count("*").alias("n_refs"))
    )


def refresh_frontier_ranks(
    spark,
    frontier_path: str,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Periodic AUTHORITY refresh over the frontier edge index — the
    feedback loop that turns raw reference counts into rank-weighted
    scheduling while the crawl is still running: PageRank over the
    doc→url endorsement graph (source documents enter the node space
    as ``doc:<id>`` — a crawled page and a candidate URL never
    collide), then the URL side's ranks overwrite ``{path}_ranks``
    for the scheduler to join against frontier_counts.

    Pure function of the index STATE: update_frontier_index anti-joins
    redelivered batches away, so a refresh after an at-least-once
    redelivery produces byte-identical ranks — the idempotence
    contract the streaming hook (streaming_crawl_ingest
    ``rank_refresh_every``) is tested on.  Cost is bounded by the
    index, not the stream: n_iter groupBy+join rounds over O(edges),
    run every N batches like compaction, not per record."""
    from opentsdb_aura_spark.operators.corpus import pagerank

    edges = spark.read.parquet(frontier_path).select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("src"),
        F.col("frontier_url").alias("dst"),
    )
    pr = pagerank(edges, n_iter=n_iter, damping=damping)
    ranks = (
        pr.where(~F.col("node").startswith("doc:"))
        .select(F.col("node").alias("frontier_url"), "rank")
        .localCheckpoint()  # materialize BEFORE overwriting the source lineage
    )
    ranks.write.mode("overwrite").parquet(frontier_path + "_ranks")
    return ranks


def anchor_text_index(
    links: DataFrame,
    *,
    base_col: str = "page_url",
    href_col: str = "href",
    text_col: str = "anchor_text",
    max_texts: int = 64,
    exclude_nofollow: bool = True,
) -> DataFrame:
    """Inbound anchor-text signal per TARGET page — the classic
    relevance/spam feature (what other pages' link text calls a page
    is a stronger description than the page's own words, and the field
    Common Crawl's WAT ``Links`` records carry as ``text``): resolve
    each href against its page URL, canonicalize, and aggregate the
    distinct lowercased anchor texts plus the reference count per
    target.  Empty anchors (image links, hrefless chrome) contribute
    to the count but not the text list.

    Pure Catalyst, skew-safe by construction: texts dedupe+count on
    the (target, text) key first (map-side combined, so a hub page
    with millions of identical 'home' anchors reduces before the
    shuffle), then a row_number over the target caps the list at
    ``max_texts`` BEFORE collect_list — no per-target array ever
    materializes more than ``max_texts`` elements, so the operator
    survives the inlink skew a real web graph has.  Returns
    (target_url, n_refs, anchor_texts) with texts sorted.

    ``rel=nofollow`` links are endorsement OPT-OUTS (the signal this
    index exists for), so they are excluded by default when the input
    carries the extractor's ``nofollow`` column — discovery may still
    follow them, but they must not vote here."""
    if exclude_nofollow and "nofollow" in links.columns:
        links = links.where(~F.coalesce(F.col("nofollow"), F.lit(False)))
    target = canonicalize_url(resolve_href(base_col, href_col))
    t = F.lower(F.trim(F.col(text_col)))
    counted = (
        links.select(
            target.alias("target_url"),
            F.when(t != "", t).alias("t"),  # empty anchors count, contribute no text
        )
        .where(F.col("target_url").isNotNull())
        .groupBy("target_url", "t")
        .agg(F.count("*").alias("_n"))
    )
    w = Window.partitionBy("target_url").orderBy(F.col("t").asc_nulls_last())
    keep_text = (F.col("_rk") <= int(max_texts)) & F.col("t").isNotNull()
    return (
        counted.withColumn("_rk", F.row_number().over(w))
        .groupBy("target_url")
        .agg(
            F.sum("_n").cast("long").alias("n_refs"),
            F.array_sort(
                F.collect_list(F.when(keep_text, F.col("t")))
            ).alias("anchor_texts"),
        )
    )


# --------------------------------------------------- URL-seen Bloom filter

#: bits per Bloom word — 63, not 64, so a set bit never lands on the
#: sign bit (BIGINT shift-overflow semantics differ across engines;
#: staying in the positive range keeps the structure oracle-able)
_BLOOM_WORD_BITS = 63

#: engine-portable polynomial fold like the feature hasher's, but
#: over the Mersenne prime 2^31-1: the position space must EXCEED any
#: realistic n_bits (a modulus below n_bits silently caps the usable
#: filter and explodes the false-positive rate); acc*31 + c stays far
#: below 2^63, so the fold is exact BIGINT arithmetic in any engine
_BLOOM_HASH_MOD = 2_147_483_647


def _bloom_positions(url, n_bits: int, k: int) -> list:
    """k salted bit positions for one URL column: fold
    (acc·31 + codepoint) % MOD over the salted string ``"<i>:" + url``,
    then % n_bits — expressible identically in plain SQL."""
    out = []
    for i in range(int(k)):
        salted = F.concat(F.lit(f"{i}:"), url)
        codes = F.transform(F.split(salted, ""), lambda c: F.ascii(c))
        h = F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, c: (acc * F.lit(31) + c) % F.lit(_BLOOM_HASH_MOD),
        )
        out.append((h % F.lit(int(n_bits))).alias(f"_p{i}"))
    return out


def url_bloom_build(
    urls: DataFrame,
    *,
    n_bits: int = 63 * 1024,
    k: int = 4,
    url_col: str = "url",
) -> DataFrame:
    """The crawler's URL-SEEN structure as a mergeable Spark aggregate:
    a Bloom filter over the frontier's already-scheduled URLs, stored
    as (word_idx, bits) rows — ``n_bits/63`` BIGINT words.  Build is
    one narrow projection (k salted fold-hashes per URL) + one
    map-side-combined ``bit_or`` groupBy; words from different shards/
    days merge with the same ``bit_or``, so the structure is
    incremental by construction.  At 100 TB the filter is the only
    state a scheduling pass needs to skip the already-crawled mass —
    O(n_bits) bytes regardless of URL count, false positives bounded
    by the standard (1−e^{−kn/m})^k.  Engine-portable hashing keeps
    every set bit reproducible in plain SQL."""
    if int(n_bits) % _BLOOM_WORD_BITS:
        raise ValueError(f"n_bits must be a multiple of {_BLOOM_WORD_BITS}")
    pos = _bloom_positions(F.col(url_col), n_bits, k)
    exploded = urls.select(F.explode(F.array(*pos)).alias("_pos"))
    mask = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(_pos % {_BLOOM_WORD_BITS} AS INT))"
    )
    return (
        exploded.select(
            (F.col("_pos") / _BLOOM_WORD_BITS).cast("int").alias("word_idx"),
            mask.alias("_m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_m").alias("bits"))
    )


def url_bloom_probe(
    urls: DataFrame,
    bloom: DataFrame,
    *,
    n_bits: int = 63 * 1024,
    k: int = 4,
    url_col: str = "url",
) -> DataFrame:
    """Membership probe against :func:`url_bloom_build` output →
    (url, seen).  ``seen`` is true iff ALL k bits are set: no false
    negatives ever; false positives at the standard Bloom rate.  The
    word table is O(n_bits/63) rows — genuinely broadcast-sized — so
    the probe is one explode + broadcast join + all-bits groupBy and
    the frontier is never shuffled beyond its own aggregation."""
    pos = _bloom_positions(F.col(url_col), n_bits, k)
    exploded = urls.select(F.col(url_col).alias("url"), F.explode(F.array(*pos)).alias("_pos"))
    mask = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(_pos % {_BLOOM_WORD_BITS} AS INT))"
    )
    probed = exploded.select(
        "url",
        (F.col("_pos") / _BLOOM_WORD_BITS).cast("int").alias("word_idx"),
        mask.alias("_m"),
    ).join(F.broadcast(bloom), "word_idx", "left")
    hit = (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_m")) != 0).cast("int")
    return probed.groupBy("url").agg((F.min(hit) == 1).alias("seen"))
