"""Crawl-container queries: WARC / TAR record extraction with FULL
value-hash oracles.

The container bytes are synthesized deterministically from the
documents fixture (operators/containers.py — the av.py WAV/Y4M
trick), so a DuckDB oracle recomputes every record's offset, header
fields, and payload digest from the generation rule alone: the Spark
side PARSES real container bytes, the oracle re-derives what a
correct parse must find, and the hash compare closes the loop on the
whole synthesize → parse chain (framing, Content-Length arithmetic,
ustar block padding, checksums, digests).
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import (  # shared underscore helpers
    _CCNET_BKT_SQL,
    _CCNET_LM_SQL,
    _GOPHER_KEEP_QUALITY_SQL,
    _GOPHER_SIGNALS_SQL,
    _ccnet_keep,
    _kn_order_parts,
    _langid_corpus,
    _langid_ctes,
    _langid_margins_sql,
    _langid_models,
    _langid_packed,
    _langid_planted_txt_sql,
    _langid_pred_sql,
    _langid_scores,
    _r,
)

_DPF = 50  # docs per container file — mirrored in both oracles below


def _crawl_pages(docs, *cols, **synth):
    """The crawl front half every page query starts from: ``docs`` →
    fixture HTML in an HTTP envelope → WARC files → records → HTTP
    split with body → one row per response with ``doc_id`` (parsed
    back out of the record id), the response columns ``cols`` and the
    body as ``html``.  ``synth`` adds ``synthesize_warc`` options."""
    from opentsdb_aura_spark.operators.containers import http_responses, synthesize_warc, warc_records

    files = synthesize_warc(docs, docs_per_file=_DPF, http_envelope=True, html_body=True, **synth)
    resp = http_responses(warc_records(files, with_payload=True), with_body=True)
    return resp.select(
        F.regexp_extract(F.col("record_id"), r"^urn:uuid:doc-(\d+)$", 1)
        .try_cast("long")
        .alias("doc_id"),
        *cols,
        F.col("body").alias("html"),
    )


def _curate_flags(ext):
    """Gopher flags over extracted pages, with the extractor's link and
    text counters and the text riding along for the link-density and
    badwords gates (extra_cols passthrough: no second pass)."""
    from opentsdb_aura_spark.operators.quality import gopher_quality_flags

    return gopher_quality_flags(ext, min_tokens=10, extra_cols=("link_chars", "text_chars", "text"))


def _ccnet_crawl_keep(planted, lm, lang=None, **synth):
    """The CCNet keep over the crawl chain: ``planted`` docs go through
    ``_crawl_pages`` and one extraction pass, checkpointed eagerly
    because the LM's corpus counts, the lang leg and the gates all
    re-read it.  ``lang(ext)`` (default: the marker-word ``lang_id``)
    gives each doc's ``pred_lang`` and ``lm(ext)`` its LM score; the
    gates are Gopher ∧ link density ∧ badwords."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text
    from opentsdb_aura_spark.operators.quality import FIXTURE_BADWORDS, badwords_exprs, link_density_exprs
    from opentsdb_aura_spark.operators.text import lang_id

    ext = html_to_text(_crawl_pages(planted, **synth)).localCheckpoint()
    langs = (lang or lang_id)(ext).select("doc_id", F.col("pred_lang").alias("lang"))
    lm_scores = lm(ext)
    _, ok_ld = link_density_exprs()
    _, ok_bw = badwords_exprs(FIXTURE_BADWORDS)
    gates = _curate_flags(ext).select(
        "doc_id",
        F.col("keep").alias("keep_quality"),
        ok_ld.alias("ok_link_density"),
        ok_bw.alias("ok_badwords"),
    )
    return _ccnet_keep(gates, langs, lm_scores, ("keep_quality", "ok_link_density", "ok_badwords"))


def _wat_link_records(spark, sf_dir, link):
    """Crawl pages → their ``link`` values sorted into one list per page
    → WAT metadata records (url, status, links) → re-parsed.  The
    capture metadata rides the link explosion as keep_cols and folds
    back in the same groupBy that builds the list: one shuffle and one
    parse of the chain (a meta-side join would re-execute the whole
    synth → parse → split chain for its second input)."""
    from opentsdb_aura_spark.operators.containers import warc_records, write_wat_files
    from opentsdb_aura_spark.operators.htmltext import html_links

    pages = _crawl_pages(docs_raw(spark, sf_dir), "record_id", F.col("target_uri").alias("url"), "status_code")
    meta = (
        html_links(pages, keep_cols=("doc_id", "record_id", "url", "status_code"))
        .groupBy("doc_id")
        .agg(
            F.first("record_id").alias("record_id"),
            F.first("url").alias("url"),
            F.first("status_code").alias("status"),
            F.array_sort(F.collect_list(link)).alias("links"),
        )
        .withColumn(
            "file_id",
            F.expr(f"CAST(doc_id DIV {_DPF} AS LONG)"),  # integer DIV: double division drifts above 2^53 ids
        )
    )
    wat = write_wat_files(meta, meta_cols=("url", "status", "links"))
    return (
        warc_records(wat)
        .where(F.col("warc_type") == "metadata")
        .select("record_id", "target_uri", "content_length", "payload_md5")
    )

# The response-record header exactly as encode_warc_record emits it —
# built as a STRING in SQL so its length is measured, never hand-counted.
_WARC_RESP_HDR = (
    "e'WARC/1.0\\r\\nWARC-Type: response\\r\\nWARC-Record-ID: <urn:uuid:doc-' "
    "|| doc_id || e'>\\r\\nWARC-Date: 2024-01-01T00:00:00Z\\r\\n"
    "WARC-Target-URI: http://example.com/doc/' || doc_id || "
    "e'\\r\\nContent-Type: text/plain\\r\\nContent-Length: ' || L || e'\\r\\n\\r\\n'"
)

_WARC_INFO_HDR = (
    "e'WARC/1.0\\r\\nWARC-Type: warcinfo\\r\\nWARC-Record-ID: <urn:uuid:warcinfo-' "
    "|| file_id || e'>\\r\\nWARC-Date: 2024-01-01T00:00:00Z\\r\\n"
    "Content-Type: application/warc-fields\\r\\nContent-Length: ' || WL || e'\\r\\n\\r\\n'"
)

_WARC_INFO_PAYLOAD = (
    "e'software: opentsdb-aura-spark/1.0\\r\\nformat: WARC File Format 1.0\\r\\n'"
)


@register(
    "corpus_warc_records",
    f"""WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         CAST(doc_id // {_DPF} AS BIGINT) AS file_id,
         octet_length(encode(text)) AS L
  FROM documents),
resp AS (
  SELECT file_id, doc_id, text, L,
         length({_WARC_RESP_HDR}) + L + 4 AS rec_len
  FROM d),
info AS (
  SELECT file_id, length({_WARC_INFO_PAYLOAD}) AS WL
  FROM (SELECT DISTINCT file_id FROM d)),
info_rec AS (
  SELECT file_id, length({_WARC_INFO_HDR}) + WL + 4 AS winfo_len, WL
  FROM info),
resp_rows AS (
  SELECT r.file_id,
         CAST(i.winfo_len + coalesce(sum(r.rec_len) OVER (
             PARTITION BY r.file_id ORDER BY r.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
         CAST(r.rec_len AS BIGINT) AS record_length,
         'response' AS warc_type,
         'urn:uuid:doc-' || r.doc_id AS record_id,
         'http://example.com/doc/' || r.doc_id AS target_uri,
         CAST(r.L AS BIGINT) AS content_length,
         md5(r.text) AS payload_md5
  FROM resp r JOIN info_rec i USING (file_id)),
info_rows AS (
  SELECT file_id, CAST(0 AS BIGINT) AS offset, CAST(winfo_len AS BIGINT) AS record_length,
         'warcinfo' AS warc_type,
         'urn:uuid:warcinfo-' || file_id AS record_id,
         CAST(NULL AS VARCHAR) AS target_uri,
         CAST(WL AS BIGINT) AS content_length,
         md5({_WARC_INFO_PAYLOAD}) AS payload_md5
  FROM info_rec)
SELECT * FROM info_rows UNION ALL SELECT * FROM resp_rows""",
)
def corpus_warc_records(spark, sf_dir):
    """WARC crawl ingestion, fully oracle-checked: synthesize
    deterministic WARC files from the documents fixture (one warcinfo
    + 50 response records per file), then 1→many parse them back via
    the Arrow-batched record walker.  The oracle re-derives every
    offset / record length / header field / payload md5 from the
    generation rule, so the hash compare proves the parser reads the
    EXACT byte layout the spec-conformant writer produced — framing
    arithmetic included, not just payload identity."""
    from opentsdb_aura_spark.operators.containers import synthesize_warc, warc_records

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF)
    return warc_records(files).select(
        "file_id", "offset", "record_length", "warc_type",
        "record_id", "target_uri", "content_length", "payload_md5",
    )


@register(
    "corpus_warc_gz_records",
    f"""WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         CAST(doc_id // {_DPF} AS BIGINT) AS file_id,
         octet_length(encode(text)) AS L
  FROM documents),
resp_rows AS (
  SELECT file_id,
         'response' AS warc_type,
         'urn:uuid:doc-' || doc_id AS record_id,
         'http://example.com/doc/' || doc_id AS target_uri,
         CAST(L AS BIGINT) AS content_length,
         md5(text) AS payload_md5
  FROM d),
info_rows AS (
  SELECT file_id,
         'warcinfo' AS warc_type,
         'urn:uuid:warcinfo-' || file_id AS record_id,
         CAST(NULL AS VARCHAR) AS target_uri,
         CAST(length({_WARC_INFO_PAYLOAD}) AS BIGINT) AS content_length,
         md5({_WARC_INFO_PAYLOAD}) AS payload_md5
  FROM (SELECT DISTINCT file_id FROM d))
SELECT * FROM info_rows UNION ALL SELECT * FROM resp_rows""",
)
def corpus_warc_gz_records(spark, sf_dir):
    """The production ``.warc.gz`` layout (one gzip member per record,
    concatenated — what crawl archives actually ship): synthesize
    member-compressed WARC files, then parse them back through the
    gzip member walker (magic-sniffed inside warc_records).  Oracled
    columns are every record's headers + payload digest; member
    offsets/lengths are measured on the COMPRESSED stream (not
    SQL-recomputable) and are instead asserted to tile each file
    exactly in tests/test_containers.py."""
    from opentsdb_aura_spark.operators.containers import synthesize_warc, warc_records

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF, gzip_records=True)
    return warc_records(files).select(
        "file_id", "warc_type", "record_id", "target_uri", "content_length", "payload_md5"
    )


# The rich per-file warcinfo payload exactly as encode_warcinfo_fields
# emits it — over (file_id, n); note the FOLDED description field (a
# continuation line), which parses back as one space-joined value.
_WARC_RICH_INFO_PAYLOAD = (
    "e'software: opentsdb-aura-spark/1.0\\r\\nformat: WARC File Format 1.0\\r\\n"
    "isPartOf: fixture-crawl\\r\\nwarc-file-id: ' || file_id || "
    "e'\\r\\ndoc-count: ' || n || "
    "e'\\r\\ndescription: deterministic fixture WARC derived\\r\\n"
    " from the documents table\\r\\n'"
)

# The per-capture metadata payload exactly as encode_metadata_fields
# emits it — over (doc_id, L).
_WARC_META_PAYLOAD = (
    "e'fetchTimeMs: ' || ((doc_id * 37) % 907) || "
    "e'\\r\\ncharset: utf-8\\r\\npayload-length: ' || L || e'\\r\\n'"
)


@register(
    "corpus_warc_warcinfo",
    f"""WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         CAST(doc_id // {_DPF} AS BIGINT) AS file_id,
         octet_length(encode(text)) AS L
  FROM documents),
f AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
infof(pos, field) AS (VALUES (0, 'software'), (1, 'format'), (2, 'isPartOf'),
                             (3, 'warc-file-id'), (4, 'doc-count'), (5, 'description')),
info AS (
  SELECT file_id, 'urn:uuid:warcinfo-' || file_id AS record_id,
         'warcinfo' AS warc_type, CAST(pos AS INTEGER) AS pos, field,
         CASE field WHEN 'software' THEN 'opentsdb-aura-spark/1.0'
                    WHEN 'format' THEN 'WARC File Format 1.0'
                    WHEN 'isPartOf' THEN 'fixture-crawl'
                    WHEN 'warc-file-id' THEN CAST(file_id AS VARCHAR)
                    WHEN 'doc-count' THEN CAST(n AS VARCHAR)
                    ELSE 'deterministic fixture WARC derived from the documents table'
         END AS value
  FROM f CROSS JOIN infof),
metaf(pos, field) AS (VALUES (0, 'fetchTimeMs'), (1, 'charset'), (2, 'payload-length')),
meta AS (
  SELECT file_id, 'urn:uuid:meta-' || doc_id AS record_id,
         'metadata' AS warc_type, CAST(pos AS INTEGER) AS pos, field,
         CASE field WHEN 'fetchTimeMs' THEN CAST((doc_id * 37) % 907 AS VARCHAR)
                    WHEN 'charset' THEN 'utf-8'
                    ELSE CAST(L AS VARCHAR)
         END AS value
  FROM d CROSS JOIN metaf)
SELECT * FROM info UNION ALL SELECT * FROM meta""",
)
def corpus_warc_warcinfo(spark, sf_dir):
    """warc-fields roundtrip (ISO 28500 §4 named-fields syntax):
    synthesize WARCs with the RICH per-file warcinfo payload (a
    folded description field included) and per-capture metadata
    records, then parse every warc-fields payload back into typed
    (record, pos, field, value) rows via
    containers.warc_fields — the warcinfo rows ARE the file-level
    dim a crawl catalog keys on.  The oracle re-derives every field
    of every record from the generation rule (doc counts per file,
    the deterministic fetchTimeMs, stored payload lengths) including
    the continuation-line FOLD, so a parser that drops or mis-joins
    folded lines hash-mismatches."""
    from opentsdb_aura_spark.operators.containers import synthesize_warc, warc_fields, warc_records

    files = synthesize_warc(
        docs_raw(spark, sf_dir), docs_per_file=_DPF,
        rich_warcinfo=True, metadata_records=True,
    )
    return warc_fields(warc_records(files, with_payload=True))


@register(
    "corpus_warc_typed_records",
    f"""WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         CAST(doc_id // {_DPF} AS BIGINT) AS file_id,
         octet_length(encode(text)) AS L
  FROM documents),
f AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n,
             string_agg('http://example.com/doc/' || doc_id, chr(10) ORDER BY doc_id)
               || chr(10) AS seeds
      FROM d GROUP BY 1),
info_rows AS (
  SELECT file_id, 'warcinfo' AS warc_type,
         'urn:uuid:warcinfo-' || file_id AS record_id,
         CAST(NULL AS VARCHAR) AS target_uri,
         CAST(octet_length(encode({_WARC_RICH_INFO_PAYLOAD})) AS BIGINT) AS content_length,
         md5({_WARC_RICH_INFO_PAYLOAD}) AS payload_md5,
         CAST(NULL AS VARCHAR) AS concurrent_to
  FROM f),
seed_rows AS (
  SELECT file_id, 'resource' AS warc_type,
         'urn:uuid:seeds-' || file_id AS record_id,
         'file://crawler/seeds/' || file_id || '.txt' AS target_uri,
         CAST(octet_length(encode(seeds)) AS BIGINT) AS content_length,
         md5(seeds) AS payload_md5,
         CAST(NULL AS VARCHAR) AS concurrent_to
  FROM f),
resp_rows AS (
  SELECT file_id, 'response' AS warc_type,
         'urn:uuid:doc-' || doc_id AS record_id,
         'http://example.com/doc/' || doc_id AS target_uri,
         CAST(L AS BIGINT) AS content_length,
         md5(text) AS payload_md5,
         CAST(NULL AS VARCHAR) AS concurrent_to
  FROM d),
meta_rows AS (
  SELECT file_id, 'metadata' AS warc_type,
         'urn:uuid:meta-' || doc_id AS record_id,
         'http://example.com/doc/' || doc_id AS target_uri,
         CAST(octet_length(encode({_WARC_META_PAYLOAD})) AS BIGINT) AS content_length,
         md5({_WARC_META_PAYLOAD}) AS payload_md5,
         'urn:uuid:doc-' || doc_id AS concurrent_to
  FROM d)
SELECT * FROM info_rows UNION ALL SELECT * FROM seed_rows
UNION ALL SELECT * FROM resp_rows UNION ALL SELECT * FROM meta_rows""",
)
def corpus_warc_typed_records(spark, sf_dir):
    """The full four-record-type WARC mix (warcinfo + resource +
    response + metadata — ISO 28500 §6's record taxonomy as a real
    crawl interleaves it): synthesize with rich warcinfo, the
    per-file seed-list ``resource`` record (content captured WITHOUT
    a protocol envelope), and per-capture ``metadata`` records, then
    parse every record header back.  The oracle re-derives each
    type's record-id / target-uri / Content-Length / payload digest /
    Concurrent-To link from the generation rule — including the
    resource payload rebuilt byte-for-byte with an ordered
    string_agg — so record-type dispatch, the §6.6 metadata link, and
    §6.5 protocol-less capture are all value-hashed."""
    from opentsdb_aura_spark.operators.containers import synthesize_warc, warc_records

    files = synthesize_warc(
        docs_raw(spark, sf_dir), docs_per_file=_DPF,
        rich_warcinfo=True, metadata_records=True, resource_records=True,
    )
    return warc_records(files).select(
        "file_id", "warc_type", "record_id", "target_uri",
        "content_length", "payload_md5", "concurrent_to",
    )


@register(
    "corpus_tar_members",
    f"""WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         CAST(doc_id // {_DPF} AS BIGINT) AS file_id,
         octet_length(encode(text)) AS L
  FROM documents)
SELECT file_id,
       CAST(coalesce(sum(512 + ((L + 511) // 512) * 512) OVER (
           PARTITION BY file_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
       'doc/' || doc_id || '.txt' AS name,
       CAST(L AS BIGINT) AS size,
       CAST(1704067200 AS BIGINT) AS mtime,
       '0' AS typeflag,
       md5(text) AS payload_md5
FROM d""",
)
def corpus_tar_members(spark, sf_dir):  # noqa: D103 — docstring below
    return _tar_members_impl(spark, sf_dir, gzip_stream=False)


@register("corpus_tar_gz_members", ORACLES["corpus_tar_members"])
def corpus_tar_gz_members(spark, sf_dir):
    """The .tar.gz shape: each archive wrapped in ONE deterministic
    gzip stream, magic-sniffed and decompressed inside the member
    walker.  Offsets are on the DECOMPRESSED layout (the only
    well-defined member position in a stream-compressed archive), so
    corpus_tar_members' full oracle — offsets included — applies
    verbatim."""
    return _tar_members_impl(spark, sf_dir, gzip_stream=True)


def _tar_members_impl(spark, sf_dir, *, gzip_stream):
    """TAR crawl ingestion, fully oracle-checked: synthesize POSIX
    ustar archives from the fixture (50 members per archive, stdlib-
    tarfile-interoperable — asserted in tests), parse them back with
    magic + checksum validation, and hash-compare member offsets /
    sizes / mtimes / digests against the oracle's 512-block
    arithmetic."""
    from opentsdb_aura_spark.operators.containers import synthesize_tar, tar_members

    files = synthesize_tar(docs_raw(spark, sf_dir), docs_per_file=_DPF, gzip_stream=gzip_stream)
    return tar_members(files).select(
        "file_id", "offset", "name", "size", "mtime", "typeflag", "payload_md5"
    )


@register(
    "corpus_warc_url_dedup",
    r"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
recs AS (
  SELECT 'urn:uuid:doc-' || doc_id AS record_id,
         'http://example.com/doc/' || doc_id AS uri FROM d
  UNION ALL
  SELECT 'urn:uuid:recrawl-' || doc_id,
         'HTTP://EXAMPLE.COM:80/doc/' || doc_id || '?utm_source=x#frag'
  FROM d WHERE doc_id % 5 = 0),
canon AS (
  SELECT record_id,
         regexp_replace(
           concat(
             regexp_replace(
               regexp_replace(lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)),
                              '^(http://[^/]*):80$', '\1'),
               '^(https://[^/]*):443$', '\1'),
             regexp_replace(u1, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', '')),
           '/$', '') AS canonical_url
  FROM (SELECT record_id,
               regexp_replace(regexp_replace(uri, '#.*$', ''), '\?.*$', '') AS u1
        FROM recs))
SELECT canonical_url, CAST(count(*) AS BIGINT) AS dup_count, min(record_id) AS keep_id
FROM canon GROUP BY 1 HAVING count(*) > 1""",
)
def corpus_warc_url_dedup(spark, sf_dir):
    """URL-level crawl dedup over PARSED WARC records: every doc_id %
    5 == 0 gains a planted recrawl record whose URI varies by scheme/
    host case, default port, tracking query string, and fragment —
    canonicalization must collapse each variant pair onto one URL
    (the oracle re-applies the same regexp canonicalization in
    DuckDB, so the rule itself is cross-engine-checked, not just the
    group counts).  keep_id is the min record id — always the
    original fetch."""
    from opentsdb_aura_spark.operators.containers import (
        synthesize_warc,
        url_duplicates,
        warc_records,
    )

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF)
    recs = warc_records(files).where(F.col("warc_type") == "response").select(
        "record_id", "target_uri"
    )
    doc_id = F.split(F.col("record_id"), "-").getItem(1).cast("long")
    planted = recs.where(doc_id % 5 == 0).select(
        F.concat(F.lit("urn:uuid:recrawl-"), doc_id).alias("record_id"),
        F.concat(
            F.lit("HTTP://EXAMPLE.COM:80/doc/"), doc_id, F.lit("?utm_source=x#frag")
        ).alias("target_uri"),
    )
    return url_duplicates(recs.unionByName(planted)).select(
        "canonical_url",
        F.col("dup_count").cast("bigint").alias("dup_count"),
        "keep_id",
    )


# The fixture HTTP envelope's closed-form variation rules live in
# operators/containers.py (encode_http_response); the fixture HTML
# page's closed-form extraction lives in operators/htmltext.py
# (render_fixture_html).  Both oracles below re-derive the EXPECTED
# parse/extraction output from those rules — change them together.


@register(
    "corpus_warc_http_responses",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents)
SELECT 'urn:uuid:doc-' || doc_id AS record_id,
       'http://example.com/doc/' || doc_id AS target_uri,
       CASE WHEN doc_id % 11 = 0 THEN '1.0' ELSE '1.1' END AS http_version,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status_code,
       CASE WHEN doc_id % 7 = 0 THEN 'Not Found' ELSE 'OK' END AS reason,
       'text/html' AS content_type,
       CASE WHEN doc_id % 2 = 0 THEN 'utf-8' ELSE NULL END AS charset,
       doc_id % 3 = 0 AS chunked,
       -- BYTE length (octet_length over UTF-8 bytes), not chars: the
       -- Spark side frames text.encode() bytes (ADVICE r8); DuckDB's
       -- md5(VARCHAR) already hashes UTF-8 bytes so body_md5 is safe
       CAST(CASE WHEN doc_id % 3 = 1 THEN octet_length(encode(text)) ELSE NULL END
         AS BIGINT) AS content_length,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 4 END AS INTEGER) AS n_headers,
       md5(text) AS body_md5
FROM d""",
)
def corpus_warc_http_responses(spark, sf_dir):
    """HTTP envelope extraction from WARC payloads, fully
    oracle-checked: synthesize WARC files whose response payloads are
    HTTP/1.x messages with closed-form status / version / charset /
    framing variation (chunked, Content-Length with trailing junk the
    framing must not read, connection-close), parse them back through
    warc_records → http_responses, and hash-compare every parsed
    field plus the framed body's md5 against the oracle's re-derivation
    from doc_id alone.  Proves status-line parse, case-insensitive
    headers, charset unquoting, chunk reassembly, and length framing
    in one query."""
    from opentsdb_aura_spark.operators.containers import (
        http_responses,
        synthesize_warc,
        warc_records,
    )

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF, http_envelope=True)
    return http_responses(warc_records(files, with_payload=True)).select(
        "record_id",
        "target_uri",
        "http_version",
        "status_code",
        "reason",
        "content_type",
        "charset",
        "chunked",
        "content_length",
        "n_headers",
        "body_md5",
    )


@register(
    "corpus_warc_gzip_body",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents)
SELECT 'urn:uuid:doc-' || doc_id AS record_id,
       'http://example.com/doc/' || doc_id AS target_uri,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status_code,
       CASE WHEN doc_id % 5 = 0 THEN 'gzip'
            WHEN doc_id % 5 = 3 THEN 'deflate' END AS content_encoding,
       doc_id % 3 = 0 AS chunked,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 4 END
            + CASE WHEN doc_id % 5 IN (0, 3) THEN 1 ELSE 0 END AS INTEGER) AS n_headers,
       md5(text) AS body_md5
FROM d""",
)
def corpus_warc_gzip_body(spark, sf_dir):
    """``Content-Encoding: gzip|deflate`` body inflation, fully
    oracle-checked: response payloads compress the document bytes
    (representation coding) BEFORE transfer framing, crossing the
    three framing modes with gzip / deflate / identity codings; the
    parser must undo framing then inflate.  ``body_md5`` is the md5
    of the DECODED body, so the hash compare proves the inflation
    actually round-trips the original text — the most-hit real-crawl
    gap (roughly half of live HTTP responses are gzip-coded)."""
    from opentsdb_aura_spark.operators.containers import (
        http_responses,
        synthesize_warc,
        warc_records,
    )

    files = synthesize_warc(
        docs_raw(spark, sf_dir), docs_per_file=_DPF,
        http_envelope=True, content_encoding=True,
    )
    return http_responses(warc_records(files, with_payload=True)).select(
        "record_id", "target_uri", "status_code",
        "content_encoding", "chunked", "n_headers", "body_md5",
    )


@register(
    "corpus_warc_requests",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents)
SELECT 'urn:uuid:req-' || doc_id AS record_id,
       'urn:uuid:doc-' || doc_id AS concurrent_to,
       'http://example.com/doc/' || doc_id AS target_uri,
       CASE WHEN doc_id % 13 = 0 THEN 'HEAD' ELSE 'GET' END AS method,
       '/doc/' || doc_id AS req_target,
       '1.1' AS http_version,
       'example.com' AS host,
       'aura-fixture/1.0' AS user_agent,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS INTEGER) AS n_headers
FROM d""",
)
def corpus_warc_requests(spark, sf_dir):
    """WARC request records — the fetch-audit half of the crawl pair:
    synthesize WARCs that interleave request records (linked to their
    responses via WARC-Concurrent-To) with the response records, parse
    them back, and split each request envelope into method / target /
    version / Host / User-Agent.  The oracle re-derives every parsed
    field AND the concurrent-to link from doc_id alone, so request-
    line parsing, header folding, and the ISO 28500 §5.7 pairing are
    value-hash-checked."""
    from opentsdb_aura_spark.operators.containers import (
        http_requests,
        synthesize_warc,
        warc_records,
    )

    files = synthesize_warc(
        docs_raw(spark, sf_dir), docs_per_file=_DPF,
        http_envelope=True, request_records=True,
    )
    return http_requests(warc_records(files, with_payload=True)).select(
        "record_id", "concurrent_to", "target_uri", "method",
        "req_target", "http_version", "host", "user_agent", "n_headers",
    )


@register(
    "corpus_warc_pair_audit",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents)
SELECT CASE WHEN doc_id % 13 = 0 THEN 'HEAD' ELSE 'GET' END AS method,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status_code,
       CAST(count(*) AS BIGINT) AS n_fetches
FROM d GROUP BY 1, 2""",
)
def corpus_warc_pair_audit(spark, sf_dir):
    """Fetch-audit rollup over the request↔response PAIRING: join each
    parsed request to its response via the WARC-Concurrent-To link and
    aggregate fetch counts by (method, status) — the crawl-ops report
    ("how many HEADs 404'd?") that only works if the pairing survives
    synthesis, parsing, and both envelope splits.  The oracle
    recomputes the 4-cell contingency table from the doc_id closed
    forms, so a single dropped or mislinked pair breaks the counts.
    Scale shape: two narrow parses + one equi-join on the record id
    (both sides hash-partitioned on the key) + map-side-combined
    count."""
    from opentsdb_aura_spark.operators.containers import (
        http_requests,
        http_responses,
        synthesize_warc,
        warc_records,
    )

    files = synthesize_warc(
        docs_raw(spark, sf_dir), docs_per_file=_DPF,
        http_envelope=True, request_records=True,
    )
    recs = warc_records(files, with_payload=True)
    req = http_requests(recs).select("concurrent_to", "method")
    resp = http_responses(recs).select(
        F.col("record_id").alias("concurrent_to"), "status_code"
    )
    return (
        req.join(resp, "concurrent_to")
        .groupBy("method", "status_code")
        .agg(F.count("*").cast("bigint").alias("n_fetches"))
    )


_HTML_EXPECTED = """WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
  FROM documents),
e AS (
  SELECT doc_id,
         'Doc ' || doc_id || ' & Friends' AS title,
         'Doc Document ' || doc_id AS h1,
         CASE WHEN nt = '' THEN '<fin>' ELSE nt || ' <fin>' END AS p,
         'See next page for more filler words totally real content here!' AS dv
  FROM d)"""


@register(
    "corpus_html_extract",
    _HTML_EXPECTED
    + """
SELECT doc_id, title,
       h1 || chr(10) || p || chr(10) || dv AS text,
       CAST(5 AS INTEGER) AS n_blocks,
       CAST(2 AS INTEGER) AS n_boilerplate,
       CAST(length('Home') + length('About') + length('next page')
            + length('Terms') + length('Privacy') AS BIGINT) AS link_chars,
       CAST(length('Home About') + length(h1) + length(p) + length(dv)
            + length('Terms Privacy') AS BIGINT) AS text_chars
FROM e""",
)
def corpus_html_extract(spark, sf_dir):
    """HTML → text extraction, fully oracle-checked: render the
    deterministic fixture page per document (entities, script/style
    traps, head section, two pure-link blocks), extract with
    html_to_text, and hash-compare title, boilerplate-stripped text,
    block counters, and link/text char counts against the oracle's
    closed-form re-derivation.  The nav and footer blocks MUST be
    dropped by link density and the script's literal '<p>' string
    must not leak into text — both are value-hash-checked, not just
    asserted."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text, synthesize_html

    pages = synthesize_html(docs_raw(spark, sf_dir))
    return html_to_text(pages).select(
        "doc_id", "title", "text", "n_blocks", "n_boilerplate", "link_chars", "text_chars"
    )


@register(
    "corpus_warc_html_text",
    _HTML_EXPECTED
    + """
SELECT doc_id, title, h1 || chr(10) || p || chr(10) || dv AS text
FROM e""",
)
def corpus_warc_html_text(spark, sf_dir):
    """The full crawl front half in ONE oracled chain: documents →
    fixture HTML → HTTP envelope (all three framing modes) → WARC
    container → parse records → split HTTP → extract text.  The
    oracle recomputes the expected title/text per doc_id, so a
    framing slip, charset mix-up, or boilerplate leak ANYWHERE in the
    four-stage round trip breaks the value hash."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text

    pages = _crawl_pages(docs_raw(spark, sf_dir))
    return html_to_text(pages).select("doc_id", "title", "text")


@register(
    "corpus_warc_charset_html_text",
    _HTML_EXPECTED
    + """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'iso-8859-1' WHEN 1 THEN 'shift_jis'
                       WHEN 2 THEN 'utf-8' END AS charset,
       title,
       h1 || chr(10) || p || chr(10) || dv || chr(10) || 'Charset marker: ' ||
       CASE doc_id % 4
         WHEN 0 THEN 'café déjà vu ¡sí señor!'
         WHEN 1 THEN '日本語のテキストです'
         WHEN 2 THEN 'Ünïcøde page ☃'
         ELSE 'naïve coöperation' END AS text
FROM e""",
)
def corpus_warc_charset_html_text(spark, sf_dir):
    """Charset-aware body decode through the full crawl chain: fixture
    pages carry a NON-ASCII marker block and are encoded latin-1 /
    Shift_JIS / utf-8 (quoted label / no label) per the doc_id%4 rule,
    with the true label in Content-Type; the HTTP splitter surfaces
    the parsed charset and html_to_text(charset_col=...) decodes the
    body bytes with it.  The oracle recomputes title + text INCLUDING
    the marker from doc_id alone, so a blind-UTF-8 cast (mojibake) or
    label normalization slip anywhere breaks the value hash — the
    non-ASCII path corpus_warc_html_text's ASCII fixture can't see."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text

    pages = _crawl_pages(docs_raw(spark, sf_dir), "charset", charset_body=True)
    return html_to_text(pages, keep_cols=("doc_id", "charset"), charset_col="charset").select(
        "doc_id", "charset", "title", "text"
    )


@register(
    "corpus_warc_sniff_html_text",
    _HTML_EXPECTED
    + """
SELECT doc_id,
       CASE doc_id % 3 WHEN 2 THEN 'iso-8859-1' END AS charset,
       title,
       h1 || chr(10) || p || chr(10) || dv || chr(10) || 'Charset marker: ' ||
       CASE doc_id % 3
         WHEN 0 THEN '日本語のテキストです'
         WHEN 1 THEN 'café déjà vu ¡sí señor!'
         ELSE 'Ünïcøde page ☃' END AS text
FROM e""",
)
def corpus_warc_sniff_html_text(spark, sf_dir):
    """WHATWG charset SNIFFING through the full crawl chain — the page
    population corpus_warc_charset_html_text's header fixtures can't
    see: pages that declare their encoding only in markup
    (<meta charset=...> and the http-equiv form with a
    windows-1252-aliased label, no HTTP parameter at all), and a
    UTF-8-BOM page whose Content-Type header LIES latin-1 — the BOM
    must win per the WHATWG precedence (BOM > header > meta prescan >
    utf-8 default), and the BOM itself must never leak into extracted
    text (a plain-utf-8 decode would prepend U+FEFF to the first block
    and break the hash).  The oracle recomputes title + marker-bearing
    text closed-form per the doc_id%3 rule with UTF-8 SQL literals;
    the charset column pins that the HTTP layer genuinely carried no
    parameter for the meta-declared pages."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text

    pages = _crawl_pages(docs_raw(spark, sf_dir), "charset", sniff_body=True)
    return html_to_text(pages, keep_cols=("doc_id", "charset"), charset_col="charset").select(
        "doc_id", "charset", "title", "text"
    )


@register(
    "quality_link_density",
    _HTML_EXPECTED
    + """,
s AS (
  SELECT doc_id,
         CAST(length('Home') + length('About') + length('next page')
              + length('Terms') + length('Privacy') AS BIGINT) AS link_chars,
         CAST(length('Home About') + length(h1) + length(p) + length(dv)
              + length('Terms Privacy') AS BIGINT) AS text_chars
  FROM e)
SELECT doc_id, link_chars, text_chars,
       round(link_chars * 1.0 / text_chars, 6) AS link_density,
       link_chars * 1.0 / text_chars <= 0.3 AS ok_link_density
FROM s""",
)
def quality_link_density(spark, sf_dir):
    """Page-level link-density quality gate composed onto the full
    crawl chain: docs → fixture HTML → HTTP → WARC → parse → split →
    extract → link_density_flags, reusing the extractor's link/text
    char counters with no re-parse.  The oracle re-derives both
    counters from the fixture renderer's closed form and recomputes
    density + flag, so the gate's arithmetic AND its composition with
    the chain are value-hash-checked (pages with near-empty document
    text flunk: chrome chars dominate)."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text
    from opentsdb_aura_spark.operators.quality import link_density_flags

    pages = _crawl_pages(docs_raw(spark, sf_dir))
    flags = link_density_flags(html_to_text(pages))
    return flags.select(
        "doc_id", "link_chars", "text_chars",
        _r("link_density", 6).alias("link_density"),
        "ok_link_density",
    )


# Shared curate-gate CTE chain (expected text + Gopher signals + the
# keep_quality flag) — the base of both pipeline_crawl_curate and
# pipeline_curate_to_wet's oracles.
_CURATE_CTES = (
    _HTML_EXPECTED
    + rf""",
w AS (
  SELECT doc_id, h1 || chr(10) || p || chr(10) || dv AS text,
         CAST(length('Home') + length('About') + length('next page')
              + length('Terms') + length('Privacy') AS BIGINT) AS link_chars,
         CAST(length('Home About') + length(h1) + length(p) + length(dv)
              + length('Terms Privacy') AS BIGINT) AS text_chars
  FROM e),
t AS (
  SELECT *, list_filter(string_split_regex(lower(trim(text)), '\s+'), _t -> _t <> '') AS toks,
         string_split(text, chr(10)) AS lines
  FROM w),
s AS (
  SELECT doc_id, link_chars, text_chars,
{_GOPHER_SIGNALS_SQL}
  FROM t),
q AS (
  SELECT doc_id, n_tokens, n_stopword_hits, n_badword_hits, link_chars, text_chars,
{_GOPHER_KEEP_QUALITY_SQL}
  FROM s)"""
)


@register(
    "pipeline_crawl_curate",
    _CURATE_CTES
    + """
SELECT doc_id, n_tokens, n_stopword_hits, keep_quality,
       round(link_chars * 1.0 / text_chars, 6) AS link_density,
       link_chars * 1.0 / text_chars <= 0.3 AS ok_link_density,
       n_badword_hits, n_badword_hits = 0 AS ok_badwords,
       keep_quality AND (link_chars * 1.0 / text_chars <= 0.3)
         AND n_badword_hits = 0 AS keep
FROM q""",
)
def pipeline_crawl_curate(spark, sf_dir):
    """The crawl-curation user story as ONE oracled plan: WARC → HTTP
    → HTML → text, then the Gopher quality gate AND the page-level
    link-density gate evaluated in the SAME projection (extra_cols
    passthrough — no self-join, no second chain execution; the whole
    post-extraction decision is one codegen'd map over the extractor's
    output).  The oracle rebuilds the expected extracted text from the
    fixture closed form and re-derives every Gopher signal, the
    density, and the final keep in DuckDB — the keep decision a real
    pipeline would act on is value-hash-checked end to end."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text

    g = _curate_flags(html_to_text(_crawl_pages(docs_raw(spark, sf_dir))))
    # the SAME rule objects link_density_flags / badwords_flags use,
    # fused into this projection via the passthrough counters and text
    # — no second pass, no duplicated thresholds (review r9; r10 adds
    # the C4 §2.2 blocklist gate to the fused keep)
    from opentsdb_aura_spark.operators.quality import (
        FIXTURE_BADWORDS,
        badwords_exprs,
        link_density_exprs,
    )

    density, ok_ld = link_density_exprs()
    bw_hits, ok_bw = badwords_exprs(FIXTURE_BADWORDS)
    return g.select(
        "doc_id",
        "n_tokens",
        "n_stopword_hits",
        F.col("keep").alias("keep_quality"),
        _r(density, 6).alias("link_density"),
        ok_ld.alias("ok_link_density"),
        bw_hits.alias("n_badword_hits"),
        ok_bw.alias("ok_badwords"),
        (F.col("keep") & ok_ld & ok_bw).alias("keep"),
    )


# everything downstream of the lang-id and LM CTEs (per-language
# tercile → fused keep), and _CCNET_TAIL with the bigram LM fit in
# front — shared verbatim by the heuristic, kn5 and trained-lang-id
# variants, so their oracles differ only in how ``lid`` and ``sc`` are
# derived
_CCNET_BKT_TAIL = ",\n" + _CCNET_BKT_SQL + """
SELECT q.doc_id, bkt.lang, bkt.avg_logprob, bkt.ppl_bucket,
       q.keep_quality,
       q.link_chars * 1.0 / q.text_chars <= 0.3 AS ok_link_density,
       q.n_badword_hits = 0 AS ok_badwords,
       bkt.ppl_bucket IN ('head', 'middle') AS ok_ppl,
       q.keep_quality AND (q.link_chars * 1.0 / q.text_chars <= 0.3)
         AND q.n_badword_hits = 0
         AND bkt.ppl_bucket IN ('head', 'middle') AS keep
FROM q JOIN bkt USING (doc_id)"""
_CCNET_TAIL = ",\n" + _CCNET_LM_SQL + _CCNET_BKT_TAIL


# the marker-word lang-id CTE over the extraction tokens — shared by
# the heuristic ccnet keep and its kn5-LM upgrade
_CCNET_LID_HEURISTIC = r""",
lid AS (
  SELECT doc_id,
    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         WHEN s_fr >= s_zh THEN 'fr'
         ELSE 'zh' END AS lang
  FROM (SELECT doc_id,
          len(list_filter(toks, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
          len(list_filter(toks, x -> list_contains(['the','and','of','to','is'], x))) AS s_en,
          len(list_filter(toks, x -> list_contains(['el','la','los','es','de'], x))) AS s_es,
          len(list_filter(toks, x -> list_contains(['le','la','les','est','et'], x))) AS s_fr,
          len(list_filter(toks, x -> list_contains(['de','shi','le','zai','he'], x))) AS s_zh
        FROM t))"""


@register(
    "pipeline_ccnet_curate",
    _CURATE_CTES + _CCNET_LID_HEURISTIC + _CCNET_TAIL,
)
def pipeline_ccnet_curate(spark, sf_dir):
    """The CCNet-style curate keep: the crawl-curation chain (WARC →
    HTTP → HTML → text → Gopher + link-density + badwords gates) with
    the head/middle/tail perplexity-bucket gate (Wenzek et al. 2020
    §4.3 — the filter CCNet actually curates by) FUSED into the final
    keep decision: lang-id over the EXTRACTED text feeds the
    corpus-fit bigram-LM score into a per-language tercile split, and
    ``keep`` requires quality ∧ density ∧ badwords ∧ bucket ∈
    {head, middle}.  The oracle rebuilds the extracted text closed-
    form, re-derives the lang-id argmax, refits the same smoothed LM
    over it, re-runs the tercile window with the identical
    (score DESC NULLS LAST, doc_id) order, and re-ANDs the fused keep
    — so every joint of the decision, including the new perplexity
    leg, is value-hashed.

    Scale shape: the extraction chain is lazily localCheckpointed so
    its Arrow passes run ONCE even though the LM fit (corpus bigram/
    unigram counts), the lang-id projection, and the gate projection
    all consume it; the LM join shuffles on high-cardinality gram
    keys with map-side combine; the tercile is one per-language
    window (CCNet's own cost — swap for train_perplexity_cutoffs at
    full corpus scale)."""
    from opentsdb_aura_spark.operators.quality import lm_bigram_scores

    return _ccnet_crawl_keep(docs_raw(spark, sf_dir), lambda ext: lm_bigram_scores(ext, alpha=0.1))


def _ccnet_kn_oracle() -> str:
    """pipeline_ccnet_curate with the LM leg upgraded to the 5-gram
    modified-KN tower (the estimator CCNet actually filters on): the
    shared extraction + heuristic-lid CTEs, the kn_-prefixed tower
    parts reading the extraction tokens, a 1-line sc adapter, and the
    tercile + keep tail verbatim from the bigram variant."""

    kn_parts = _kn_order_parts(5, "n_5grams", "t")
    return (
        _CURATE_CTES
        + _CCNET_LID_HEURISTIC
        + ",\n"
        + ",\n".join(kn_parts)
        + ",\nsc AS (SELECT doc_id, avg_logprob FROM kns)"
        + _CCNET_BKT_TAIL
    )


@register("pipeline_ccnet_curate_kn", _ccnet_kn_oracle())
def pipeline_ccnet_curate_kn(spark, sf_dir):
    """The CCNet curate keep at FULL LM fidelity: the perplexity
    tercile gate driven by the 5-gram modified Kneser–Ney scores
    (Wenzek et al. 2020 train exactly this model class for §4.3's
    head/middle/tail split) instead of the Laplace-smoothed bigram
    proxy — the same extraction chain, gates, and fused keep as
    pipeline_ccnet_curate, with lm_kn_scores_order(order=5) fit on
    the extracted corpus supplying avg_logprob.  Docs too short to
    score (<5 tokens) surface with NULL and sort into the tail
    bucket, exactly like the bigram variant's unscorable docs.  The
    oracle rebuilds the extracted text closed-form, re-fits the
    entire five-level count tower with its count-of-count discounts
    over that text, and re-runs the tercile + keep tail verbatim —
    the production-order estimator's influence on the final curation
    verdict is value-hashed end to end."""
    from opentsdb_aura_spark.operators.quality import lm_kn_scores_order

    return _ccnet_crawl_keep(docs_raw(spark, sf_dir), lambda ext: lm_kn_scores_order(ext, order=5))


def _ccnet_trained_e2e_oracle() -> str:
    """pipeline_ccnet_curate with the TRAINED lang-id leg: the planted
    per-language corpus is injected BEFORE WARC synthesis (so the
    language signal survives extraction), the five one-vs-rest GD
    chains re-fit on the EXTRACTED page text, and the argmax
    prediction drives the per-language tercile — everything else is
    the shared _CCNET_TAIL verbatim."""

    planted = _langid_planted_txt_sql()
    old = r"trim(regexp_replace(text, '\s+', ' ', 'g')) AS nt"
    head = _CURATE_CTES.replace(old, rf"trim(regexp_replace({planted}, '\s+', ' ', 'g')) AS nt")
    assert head != _CURATE_CTES, "planted-text injection point moved"
    corpus_cte = """corpus AS MATERIALIZED (
  SELECT w.doc_id, dd.lang AS lang, lower(w.text) AS txt
  FROM w JOIN documents dd ON w.doc_id = CAST(dd.doc_id AS BIGINT))"""
    langid_block = _langid_ctes(corpus_sql=corpus_cte)
    assert langid_block.startswith("WITH ")
    langid_block = langid_block[len("WITH ") :]
    margin_cols, joins = _langid_margins_sql()
    lid = f""",
fin_l AS (SELECT corpus.doc_id, {margin_cols} FROM corpus {joins}),
lid AS (SELECT doc_id, {_langid_pred_sql()} AS lang FROM fin_l)"""
    return head + ",\n" + langid_block + lid + _CCNET_TAIL


@register("pipeline_ccnet_curate_trained_e2e", _ccnet_trained_e2e_oracle())
def pipeline_ccnet_curate_trained_e2e(spark, sf_dir):
    """pipeline_ccnet_curate_trained taken END-TO-END through the
    crawl container chain (the full Wenzek et al. stack over real
    extraction output, not the raw corpus): the planted per-language
    corpus is synthesized into WARCs, HTTP-split, HTML-extracted back
    out, the five one-vs-rest char-trigram logreg models train ON THE
    EXTRACTION OUTPUT (30 bounded <= D+1-row collects), and the argmax
    prediction — not the marker heuristic — partitions the perplexity
    terciles feeding the fused keep, which here also carries the
    page-level link-density gate the raw-corpus twin cannot have.  The
    oracle rebuilds the planted page text closed-form through the
    fixture-HTML reconstruction, re-fits all five unrolled GD chains
    on that SAME reconstructed text, re-derives the argmax, and
    re-runs the LM + tercile + keep tail verbatim — so the trained
    model's influence on the FINAL curation verdict is value-hashed
    across the entire container → classifier → keep span.  The marker
    heuristic remains the zero-training seam in
    pipeline_ccnet_curate."""
    from opentsdb_aura_spark.operators.quality import lm_bigram_scores

    planted = _langid_corpus(spark, sf_dir)

    def trained_lang(ext):
        # one featurize+pack of the EXTRACTED text, labelled with the
        # planted gold lang, shared by the fit (30 bounded <= D+1-row
        # collects) and the scoring pass
        packed = _langid_packed(planted, ext, text_col="text")
        return _langid_scores(packed, _langid_models(packed))

    return _ccnet_crawl_keep(
        planted, lambda ext: lm_bigram_scores(ext, alpha=0.1), trained_lang, text_col="txt"
    )


@register(
    "pipeline_curate_to_wet",
    _CURATE_CTES
    + """
SELECT 'urn:uuid:wet-' || w.doc_id AS record_id,
       'http://example.com/doc/' || w.doc_id AS target_uri,
       CAST(octet_length(encode(w.text)) AS BIGINT) AS content_length,
       md5(w.text) AS payload_md5
FROM w JOIN q USING (doc_id)
WHERE q.keep_quality AND (q.link_chars * 1.0 / q.text_chars <= 0.3)
  AND q.n_badword_hits = 0""",
)
def pipeline_curate_to_wet(spark, sf_dir):
    """The COMPLETE curation loop in one oracled plan: crawl container
    → HTTP split → HTML extraction → Gopher + link-density gates →
    surviving text exported as WET conversion records → re-parsed by
    the same reader.  The oracle recomputes the survivor SET from the
    gate closed forms and each survivor's WET digest/byte length from
    the extraction closed form, so a wrong keep decision, a dropped
    survivor, or a sink framing slip all break the hash — the
    end-to-end story a user of this engine actually runs, value-
    checked at every joint.  Single pass: the gate flags ride the
    extraction projection (extra_cols), survivors flow straight into
    the export groupBy — one shuffle (the WET file grouping) after
    the narrow chain."""
    from opentsdb_aura_spark.operators.containers import warc_records, write_wet_files
    from opentsdb_aura_spark.operators.htmltext import html_to_text
    from opentsdb_aura_spark.operators.quality import (
        FIXTURE_BADWORDS,
        badwords_exprs,
        gopher_quality_flags,
        link_density_exprs,
    )

    pages = _crawl_pages(docs_raw(spark, sf_dir))
    ext = html_to_text(pages)
    flags = gopher_quality_flags(
        ext, min_tokens=10, extra_cols=("link_chars", "text_chars", "text")
    )
    _, ok_ld = link_density_exprs()
    _, ok_bw = badwords_exprs(FIXTURE_BADWORDS)
    survivors = flags.where(F.col("keep") & ok_ld & ok_bw).select("doc_id", "text")
    wet = write_wet_files(survivors, docs_per_file=_DPF)
    return (
        warc_records(wet)
        .where(F.col("warc_type") == "conversion")
        .select("record_id", "target_uri", "content_length", "payload_md5")
    )


@register(
    "corpus_wet_roundtrip",
    _HTML_EXPECTED
    + """,
w AS (
  SELECT doc_id, h1 || chr(10) || p || chr(10) || dv AS text FROM e)
SELECT 'urn:uuid:wet-' || doc_id AS record_id,
       'http://example.com/doc/' || doc_id AS target_uri,
       'conversion' AS warc_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
       md5(text) AS payload_md5
FROM w""",
)
def corpus_wet_roundtrip(spark, sf_dir):
    """The curation pipeline's EXPORT half, round-tripped: extracted
    page text (via the oracled HTML chain) packs into WET-style
    ``conversion``-record WARC files (write_wet_files) and parses
    back through the SAME warc_records reader — the oracle recomputes
    each conversion record's digest and byte length from the fixture
    extraction's closed form, so the sink's framing and payload
    encoding are value-hash-proven, not just re-readable."""
    from opentsdb_aura_spark.operators.containers import warc_records, write_wet_files
    from opentsdb_aura_spark.operators.htmltext import html_to_text, synthesize_html

    text = html_to_text(synthesize_html(docs_raw(spark, sf_dir))).select("doc_id", "text")
    wet = write_wet_files(text, docs_per_file=_DPF)
    return (
        warc_records(wet)
        .where(F.col("warc_type") == "conversion")
        .select("record_id", "target_uri", "warc_type", "content_length", "payload_md5")
    )


@register("corpus_warc_gzip_html_text", ORACLES["corpus_warc_html_text"])
def corpus_warc_gzip_html_text(spark, sf_dir):
    """The full crawl chain with COMPRESSED bodies: documents →
    fixture HTML → gzip/deflate representation coding → HTTP framing
    → WARC → parse → split+inflate → extract.  Same oracle as
    corpus_warc_html_text — identical title/text must emerge whether
    or not the server compressed, proving Content-Encoding inflation
    composes with every later stage."""
    from opentsdb_aura_spark.operators.htmltext import html_to_text

    pages = _crawl_pages(docs_raw(spark, sf_dir), content_encoding=True)
    return html_to_text(pages).select("doc_id", "title", "text")


# The CDX oracle rebuilds each record's HTTP header AS A STRING in SQL
# and measures it (house style: never hand-count), then recomputes the
# chunked/CL/close framing lengths arithmetically (chunk size is <= 7
# so every hex size token is 1 char), the WARC record length, and the
# running offsets — a wrong framing rule, header byte, or offset sum
# anywhere in synthesize -> parse -> split -> index breaks the hash.
_CDX_ORACLE = f"""WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         CAST(doc_id // {_DPF} AS BIGINT) AS file_id,
         octet_length(encode(text)) AS L
  FROM documents),
h AS (
  SELECT *,
    'HTTP/' || (CASE WHEN doc_id % 11 = 0 THEN '1.0' ELSE '1.1' END) || ' ' ||
      (CASE WHEN doc_id % 7 = 0 THEN '404 Not Found' ELSE '200 OK' END) || e'\\r\\n' ||
    'Content-Type: ' ||
      (CASE WHEN doc_id % 4 = 2 THEN 'text/html; charset="UTF-8"'
            WHEN doc_id % 2 = 0 THEN 'text/html; charset=utf-8'
            ELSE 'text/html' END) || e'\\r\\n' ||
    'Server: aura-fixture/1.0' || e'\\r\\n' ||
    'X-Doc: ' || doc_id || e'\\r\\n' ||
    (CASE WHEN doc_id % 3 = 0 THEN e'Transfer-Encoding: chunked\\r\\n'
          WHEN doc_id % 3 = 1 THEN 'Content-Length: ' || L || e'\\r\\n'
          ELSE '' END) || e'\\r\\n' AS http_hdr,
    CASE WHEN doc_id % 3 = 0
         THEN 12 * (L // 7) + (CASE WHEN L % 7 > 0 THEN L % 7 + 5 ELSE 0 END) + 5
         WHEN doc_id % 3 = 1
         THEN L + length(e'\\r\\nX-Trailing-Junk: framing must not read this')
         ELSE L END AS FL
  FROM d),
p AS (SELECT *, length(http_hdr) + FL AS P FROM h),
rec AS (
  SELECT *, length(
    e'WARC/1.0\\r\\nWARC-Type: response\\r\\nWARC-Record-ID: <urn:uuid:doc-' || doc_id ||
    e'>\\r\\nWARC-Date: 2024-01-01T00:00:00Z\\r\\nWARC-Target-URI: http://example.com/doc/' || doc_id ||
    e'\\r\\nContent-Type: application/http;msgtype=response\\r\\nContent-Length: ' || P || e'\\r\\n\\r\\n'
  ) + P + 4 AS rec_len
  FROM p),
info AS (
  SELECT file_id, length({_WARC_INFO_HDR}) + WL + 4 AS winfo_len
  FROM (SELECT DISTINCT file_id, length({_WARC_INFO_PAYLOAD}) AS WL FROM d)),
rows_ AS (
  SELECT r.file_id, r.doc_id, r.text, r.rec_len,
         CAST(i.winfo_len + coalesce(sum(r.rec_len) OVER (
             PARTITION BY r.file_id ORDER BY r.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS rec_offset
  FROM rec r JOIN info i USING (file_id))
SELECT 'http://example.com/doc/' || doc_id AS urlkey,
       '20240101000000' AS cdx_ts,
       'http://example.com/doc/' || doc_id AS url,
       'text/html' AS mime,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status,
       md5(text) AS digest,
       rec_offset AS offset,
       CAST(rec_len AS BIGINT) AS length,
       file_id,
       'urn:uuid:doc-' || doc_id AS record_id
FROM rows_"""


@register("corpus_cdx_index", _CDX_ORACLE)
def corpus_cdx_index(spark, sf_dir):
    """CDX capture index over the HTTP-enveloped crawl — the third
    Common Crawl artifact (WARC source + WET sink done in r8/r9, this
    is the index): per capture, the canonical urlkey, 14-digit
    timestamp, mime, status, decoded-payload digest, and the record's
    byte offset/length a replay service seeks with.  OFFSETS INCLUDED:
    the oracle rebuilds every HTTP header string in SQL, recomputes
    all three framing lengths arithmetically, and re-derives the
    running record offsets — hash-matching proves the parser-reported
    positions describe the exact bytes a conformant writer produced.
    One Arrow pass (offset/length/date ride the extra_cols seam
    through the envelope split), then pure Catalyst."""
    from opentsdb_aura_spark.operators.containers import (
        cdx_index,
        synthesize_warc,
        warc_records,
    )

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF, http_envelope=True)
    return cdx_index(warc_records(files, with_payload=True))


@register("corpus_cdx_roundtrip", _CDX_ORACLE)
def corpus_cdx_roundtrip(spark, sf_dir):
    """The CDX artifact round-tripped through its WIRE format: index →
    CDXJ text files (lines sorted by urlkey, ``urlkey ts {json}``) →
    re-parsed to typed rows, hash-checked against the same closed-form
    oracle — a sink framing slip, a lost line, or a type coercion in
    the JSON path all break the hash (the WET-sink pattern applied to
    the index artifact)."""
    from opentsdb_aura_spark.operators.containers import (
        cdx_index,
        parse_cdx_files,
        synthesize_warc,
        warc_records,
        write_cdx_files,
    )

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF, http_envelope=True)
    idx = cdx_index(warc_records(files, with_payload=True))
    return parse_cdx_files(write_cdx_files(idx))


@register(
    "corpus_warc_te_gzip_body",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents)
SELECT 'urn:uuid:doc-' || doc_id AS record_id,
       'http://example.com/doc/' || doc_id AS target_uri,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status_code,
       CAST(NULL AS VARCHAR) AS content_encoding,
       doc_id % 2 = 1 AS chunked,
       CAST(NULL AS BIGINT) AS content_length,
       CAST(4 AS INTEGER) AS n_headers,
       md5(text) AS body_md5
FROM d""",
)
def corpus_warc_te_gzip_body(spark, sf_dir):
    """Hop-by-hop ``Transfer-Encoding: gzip`` (RFC 9112 §6.1/6.3, the
    proxy-capture form): even docs are close-delimited with a gzip
    transfer coding (TE overrides Content-Length framing), odd docs
    are ``gzip, chunked`` — the parser must dechunk FIRST, then
    un-gzip (the reverse of the sender's application order; getting
    the order wrong feeds chunk framing to zlib and breaks every odd
    row).  ``body_md5`` is the md5 of the fully decoded body, so the
    hash compare proves both the coding order and the TE-overrides-CL
    rule; content_encoding stays NULL (TE is hop-by-hop, not a
    representation coding)."""
    from opentsdb_aura_spark.operators.containers import (
        http_responses,
        synthesize_warc,
        warc_records,
    )

    files = synthesize_warc(
        docs_raw(spark, sf_dir), docs_per_file=_DPF,
        http_envelope=True, transfer_coding=True,
    )
    return http_responses(warc_records(files, with_payload=True)).select(
        "record_id", "target_uri", "status_code",
        "content_encoding", "chunked", "content_length", "n_headers", "body_md5",
    )


@register(
    "corpus_html_blocks",
    _HTML_EXPECTED
    + r"""
SELECT doc_id, CAST(0 AS INTEGER) AS block_idx, 'Home About' AS block_text,
       CAST(2 AS INTEGER) AS n_words,
       CAST(length('Home') + length('About') AS BIGINT) AS link_chars,
       CAST(length('Home About') AS BIGINT) AS text_chars,
       round((length('Home') + length('About')) * 1.0 / length('Home About'), 6) AS link_density,
       TRUE AS is_boilerplate
FROM e
UNION ALL
SELECT doc_id, CAST(1 AS INTEGER), h1, CAST(3 AS INTEGER),
       CAST(0 AS BIGINT), CAST(length(h1) AS BIGINT), round(0.0, 6), FALSE
FROM e
UNION ALL
SELECT doc_id, CAST(2 AS INTEGER), p,
       CAST(len(list_filter(string_split_regex(p, '\s+'), t -> t <> '')) AS INTEGER),
       CAST(0 AS BIGINT), CAST(length(p) AS BIGINT), round(0.0, 6), FALSE
FROM e
UNION ALL
SELECT doc_id, CAST(3 AS INTEGER), dv,
       CAST(len(list_filter(string_split_regex(dv, '\s+'), t -> t <> '')) AS INTEGER),
       CAST(length('next page') AS BIGINT), CAST(length(dv) AS BIGINT),
       round(length('next page') * 1.0 / length(dv), 6), FALSE
FROM e
UNION ALL
SELECT doc_id, CAST(4 AS INTEGER), 'Terms Privacy', CAST(2 AS INTEGER),
       CAST(length('Terms') + length('Privacy') AS BIGINT),
       CAST(length('Terms Privacy') AS BIGINT),
       round((length('Terms') + length('Privacy')) * 1.0 / length('Terms Privacy'), 6),
       TRUE
FROM e""",
)
def corpus_html_blocks(spark, sf_dir):
    """Block-level boilerplate classification surface (Kohlschütter
    et al. WSDM 2010 densitometry): one row per non-empty block with
    word count, anchor/text char counts, link density, and the
    boilerplate verdict — what a curation stack inspects to TUNE the
    page extractor's threshold.  The oracle enumerates all five
    fixture blocks closed-form (nav and footer flagged boilerplate,
    h1/p/div kept, every feature re-derived), so the block walk, the
    per-block anchor accounting, and the verdict rule are each
    value-hash-checked — sharpening the page-level n_blocks /
    n_boilerplate counters the r8 extractor already proved.  1→many
    Arrow pass, no shuffle."""
    from opentsdb_aura_spark.operators.htmltext import html_to_blocks, synthesize_html

    pages = synthesize_html(docs_raw(spark, sf_dir))
    return html_to_blocks(pages).select(
        "doc_id", "block_idx", "block_text", "n_words",
        "link_chars", "text_chars",
        _r("link_density", 6).alias("link_density"),
        "is_boilerplate",
    )


@register(
    "corpus_html_links",
    _HTML_EXPECTED
    + """
SELECT doc_id, CAST(0 AS INTEGER) AS link_idx, '/' AS href, 'Home' AS anchor_text, FALSE AS nofollow FROM e
UNION ALL SELECT doc_id, CAST(1 AS INTEGER), '/about', 'About', FALSE FROM e
UNION ALL SELECT doc_id, CAST(2 AS INTEGER), '/next', 'next page', FALSE FROM e
UNION ALL SELECT doc_id, CAST(3 AS INTEGER), '/terms', 'Terms', FALSE FROM e
UNION ALL SELECT doc_id, CAST(4 AS INTEGER), '/privacy', 'Privacy', FALSE FROM e""",
)
def corpus_html_links(spark, sf_dir):
    """Outgoing-link extraction — the crawl-FRONTIER surface: hrefs +
    anchor text in document order per page (what a crawler joins with
    the URL canonicalizer to schedule the next wave, and what a WAT
    writer records as capture metadata).  The oracle enumerates all
    five fixture anchors closed-form (nav pair, in-content link,
    footer pair), so href attribute parsing, entity decoding, and
    document ordering are value-hash-checked.  1→many Arrow pass, no
    shuffle."""
    from opentsdb_aura_spark.operators.htmltext import html_links, synthesize_html

    return html_links(synthesize_html(docs_raw(spark, sf_dir)))


@register(
    "corpus_wat_roundtrip",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
j AS (
  SELECT doc_id,
         '{"url":"http://example.com/doc/' || doc_id
           || '","mime":"text/html","status":'
           || CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END
           || ',"digest":"' || md5(text) || '"}' AS payload
  FROM d)
SELECT 'urn:uuid:wat-doc-' || doc_id AS record_id,
       'http://example.com/doc/' || doc_id AS target_uri,
       'metadata' AS warc_type,
       CAST(length(payload) AS BIGINT) AS content_length,
       md5(payload) AS payload_md5
FROM j""",
)
def corpus_wat_roundtrip(spark, sf_dir):
    """The WAT metadata artifact round-tripped through its wire
    format — with the WARC source, WET sink, and CDX index this
    completes the FULL Common Crawl artifact family: crawl → HTTP
    split → capture index → per-capture JSON metadata packed as
    ``WARC-Type: metadata`` records → re-parsed by the same reader.
    The oracle reconstructs each JSON payload byte-for-byte in SQL
    (to_json's field order is the struct order) and re-derives its
    digest and byte length, so the metadata content AND the sink
    framing are value-hash-proven."""
    from opentsdb_aura_spark.operators.containers import (
        cdx_index,
        synthesize_warc,
        warc_records,
        write_wat_files,
    )

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF, http_envelope=True)
    idx = cdx_index(warc_records(files, with_payload=True))
    wat = write_wat_files(idx)
    return (
        warc_records(wat)
        .where(F.col("warc_type") == "metadata")
        .select("record_id", "target_uri", "warc_type", "content_length", "payload_md5")
    )


@register(
    "corpus_wat_head_roundtrip",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
j AS (
  SELECT doc_id,
         '{"url":"http://example.com/doc/' || doc_id
           || '","title":"Doc ' || doc_id || ' & Friends","feeds":["'
           || CASE WHEN doc_id % 2 = 0 THEN '/feed.rss' ELSE '/feed.atom' END
           || '"]}' AS payload
  FROM d)
SELECT 'urn:uuid:wat-doc-' || doc_id AS record_id,
       'http://example.com/doc/' || doc_id AS target_uri,
       'metadata' AS warc_type,
       CAST(length(payload) AS BIGINT) AS content_length,
       md5(payload) AS payload_md5
FROM j""",
)
def corpus_wat_head_roundtrip(spark, sf_dir):
    """HEAD metadata in the WAT records — the page-describing half of
    the real artifact next to the Links records: each page's extracted
    <title> and its announced feeds (the autodiscovery links) pack
    into the metadata JSON and round-trip through the wire format.
    Composition, not new machinery: the extractor's title, the feed
    autodiscovery pass, one per-page aggregation, and the SAME generic
    meta_cols seam the CDX/Links WAT queries use.  The oracle rebuilds
    every JSON payload byte-for-byte (title entities decoded to the
    literal '&'; the feed array in sorted order) and re-derives digest
    and byte length — extraction, aggregation, and sink framing
    value-hashed as one chain."""
    from opentsdb_aura_spark.operators.containers import warc_records, write_wat_files
    from opentsdb_aura_spark.operators.htmltext import (
        html_feed_links,
        html_to_text,
        synthesize_html,
    )

    pages = synthesize_html(docs_raw(spark, sf_dir), feed_links=True).localCheckpoint()
    titles = html_to_text(pages).select("doc_id", "title")
    feeds = html_feed_links(pages).groupBy("doc_id").agg(
        F.sort_array(F.collect_list("feed_href")).alias("feeds")
    )
    caps = titles.join(feeds, "doc_id").select(
        F.concat(F.lit("urn:uuid:doc-"), F.col("doc_id")).alias("record_id"),
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id")).alias("url"),
        F.expr("CAST(doc_id DIV 50 AS LONG)").alias("file_id"),
        "title",
        "feeds",
    )
    wat = write_wat_files(caps, meta_cols=("url", "title", "feeds"))
    return (
        warc_records(wat)
        .where(F.col("warc_type") == "metadata")
        .select("record_id", "target_uri", "warc_type", "content_length", "payload_md5")
    )


@register(
    "corpus_crawl_frontier",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
SELECT 'http://example.com' AS frontier_url, total AS n_refs FROM n
UNION ALL SELECT 'http://example.com/about', total FROM n
UNION ALL SELECT 'http://example.com/next', total FROM n
UNION ALL SELECT 'http://example.com/terms', total FROM n
UNION ALL SELECT 'http://example.com/privacy', total FROM n""",
)
def corpus_crawl_frontier(spark, sf_dir):
    """The next crawl wave as ONE plan: pages → outgoing links →
    reference resolution against each page's URL → canonicalization →
    frontier dedup with per-URL reference counts (the ranking signal
    a scheduler orders by).  Every fixture page links the same five
    chrome targets, so the oracle is closed-form: five frontier URLs,
    each referenced once per document ('/' canonicalizes to the bare
    origin — the trailing-slash rule is part of what's hash-checked).
    Scale shape: one 1→many Arrow pass, then ONE shuffle on the
    canonical URL with map-side combine — the frontier at 100 TB is a
    groupBy, not a join."""
    from opentsdb_aura_spark.operators.containers import canonicalize_url, resolve_href
    from opentsdb_aura_spark.operators.htmltext import html_links, synthesize_html

    pages = synthesize_html(docs_raw(spark, sf_dir)).withColumn(
        "page_url",
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id").cast("string")),
    )
    links = html_links(pages, keep_cols=("doc_id", "page_url"))
    resolved = links.select(
        canonicalize_url(resolve_href("page_url", "href")).alias("frontier_url")
    ).where(F.col("frontier_url").isNotNull())
    return resolved.groupBy("frontier_url").agg(F.count("*").alias("n_refs"))


@register(
    "corpus_wat_links_roundtrip",
    f"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
j AS (
  SELECT doc_id,
         '{{"url":"http://example.com/doc/' || doc_id
           || '","status":'
           || CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END
           || ',"links":["/","/about","/next","/privacy","/terms"]}}' AS payload
  FROM d)
SELECT 'urn:uuid:wat-doc-' || doc_id AS record_id,
       'http://example.com/doc/' || doc_id AS target_uri,
       CAST(length(payload) AS BIGINT) AS content_length,
       md5(payload) AS payload_md5
FROM j""",
)
def corpus_wat_links_roundtrip(spark, sf_dir):
    """The faithful WAT shape — metadata records CARRYING each page's
    outgoing links (the field Common Crawl's WAT consumers actually
    mine for the web graph): crawl → HTTP split → per-page link
    extraction → sorted link list aggregated per page → joined onto
    the capture metadata → JSON → metadata records → re-parsed.  The
    oracle rebuilds the JSON byte-for-byte (the fixture's five anchors
    sorted lexicographically), so the link AGGREGATION and the sink
    framing are hash-proven together.  Scale shape: the capture
    metadata rides the link explosion as keep_cols and folds back in
    the SAME groupBy that builds the link list — one shuffle, one
    parse of the chain (a meta-side join would re-execute it)."""
    return _wat_link_records(spark, sf_dir, F.col("href"))


# Fixture robots rules (operators/robots.py encode_robots_txt),
# re-enumerated closed-form: even hosts add the aura-bot group; every
# host has the catch-all group.  No fixture pattern contains a regex
# special, so the compiled regex is '^' || pattern.
@register(
    "corpus_robots_rules",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents),
h AS (SELECT k, 'h' || k || '.example' AS host FROM k),
bot AS (
  SELECT host, 'aura-bot' AS agent, 'disallow' AS rule, '/private/' AS pattern,
         CAST(9 AS INTEGER) AS pattern_len, '^/private/' AS regex
  FROM h WHERE k % 2 = 0
  UNION ALL
  SELECT host, 'aura-bot', 'allow', '/private/public/', CAST(16 AS INTEGER), '^/private/public/'
  FROM h WHERE k % 2 = 0),
star AS (
  SELECT host, '*' AS agent, 'disallow' AS rule, '/tmp/' AS pattern,
         CAST(5 AS INTEGER) AS pattern_len, '^/tmp/' AS regex
  FROM h
  UNION ALL
  SELECT host, '*', 'allow', '/', CAST(1 AS INTEGER), '^/' FROM h)
SELECT * FROM bot UNION ALL SELECT * FROM star""",
)
def corpus_robots_rules(spark, sf_dir):
    """robots.txt parsing (RFC 9309 §2.2), fully oracle-checked:
    synthesize the deterministic per-host fixture files, parse them
    through the grouping/tolerance rules, and hash-compare every
    (host, agent, rule, pattern, pattern_len, regex) row — group
    membership, byte lengths, and the compiled regexes are all
    value-checked (the wildcard/anchor compilation paths are
    unit-tested against the RFC's own examples)."""
    from opentsdb_aura_spark.operators.robots import parse_robots_files, synthesize_robots

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    return parse_robots_files(synthesize_robots(hosts))


@register(
    "corpus_frontier_politeness",
    """WITH d AS (
  SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k, CAST(doc_id % 5 AS BIGINT) AS p
  FROM documents),
u AS (
  SELECT k, p, 'h' || k || '.example' AS host,
         CASE p WHEN 0 THEN '/a' WHEN 1 THEN '/private/x'
                WHEN 2 THEN '/private/public/y' WHEN 3 THEN '/tmp/z'
                ELSE '/' END AS path
  FROM d)
SELECT 'http://' || host || path AS url, host, path,
       CASE WHEN k % 2 = 0 THEN (p <> 1) ELSE (p <> 3) END AS allowed,
       CASE WHEN k % 2 = 0 AND p = 1 THEN 'disallow'
            WHEN k % 2 = 0 AND p = 2 THEN 'allow'
            WHEN k % 2 = 0 THEN NULL
            WHEN p = 3 THEN 'disallow'
            ELSE 'allow' END AS matched_rule,
       CASE WHEN k % 2 = 0 AND p = 1 THEN '/private/'
            WHEN k % 2 = 0 AND p = 2 THEN '/private/public/'
            WHEN k % 2 = 0 THEN NULL
            WHEN p = 3 THEN '/tmp/'
            ELSE '/' END AS matched_pattern
FROM u""",
)
def corpus_frontier_politeness(spark, sf_dir):
    """The politeness gate between discovery and scheduling, decided
    end-to-end: fixture robots files → parse → per-URL RFC 9309
    decision (group exclusivity: even hosts' aura-bot group REPLACES
    the catch-all, so /tmp/ is allowed there; longest-pattern
    precedence: /private/public/ overrides /private/; default-allow
    for unmatched paths).  The oracle recomputes every decision AND
    the matched rule/pattern closed-form, so a wrong group pick, a
    precedence slip, or a default-deny bug all break the hash.  Plan:
    rules broadcast per host, one frontier groupBy — the shape that
    holds when the frontier is billions of URLs and robots files are
    thousands of hosts."""
    from opentsdb_aura_spark.operators.robots import (
        parse_robots_files,
        robots_allowed,
        synthesize_robots,
    )

    d = docs_raw(spark, sf_dir).select(
        (F.col("doc_id") % 4).cast("long").alias("k"),
        (F.col("doc_id") % 5).cast("long").alias("p"),
    ).distinct()
    path = (
        F.when(F.col("p") == 0, F.lit("/a"))
        .when(F.col("p") == 1, F.lit("/private/x"))
        .when(F.col("p") == 2, F.lit("/private/public/y"))
        .when(F.col("p") == 3, F.lit("/tmp/z"))
        .otherwise(F.lit("/"))
    )
    host = F.concat(F.lit("h"), F.col("k"), F.lit(".example"))
    urls = d.select(F.concat(F.lit("http://"), host, path).alias("url"))
    hosts = d.select(host.alias("host")).distinct()
    rules = parse_robots_files(synthesize_robots(hosts))
    return robots_allowed(urls, rules, agent="aura-bot")


@register(
    "corpus_robots_unavailable",
    """WITH d AS (
  SELECT DISTINCT CAST(doc_id % 12 AS BIGINT) AS k, CAST(doc_id % 5 AS BIGINT) AS p
  FROM documents),
u AS (
  SELECT k, p, 'h' || k || '.example' AS host,
         CASE p WHEN 0 THEN '/a' WHEN 1 THEN '/private/x'
                WHEN 2 THEN '/private/public/y' WHEN 3 THEN '/tmp/z'
                ELSE '/' END AS path,
         CASE WHEN k % 4 = 0 THEN 'allow_all'
              WHEN k % 4 = 1 AND k % 8 = 1 THEN 'cached'
              WHEN k % 4 = 1 THEN 'disallow_all'
              WHEN k % 4 = 2 THEN 'rules'
              ELSE 'disallow_all' END AS policy
  FROM d),
n AS (
  SELECT *, CASE WHEN k % 2 = 0 THEN (p <> 1) ELSE (p <> 3) END AS rule_allowed,
         CASE WHEN k % 2 = 0 AND p = 1 THEN 'disallow'
              WHEN k % 2 = 0 AND p = 2 THEN 'allow'
              WHEN k % 2 = 0 THEN NULL
              WHEN p = 3 THEN 'disallow' ELSE 'allow' END AS rule_match,
         CASE WHEN k % 2 = 0 AND p = 1 THEN '/private/'
              WHEN k % 2 = 0 AND p = 2 THEN '/private/public/'
              WHEN k % 2 = 0 THEN NULL
              WHEN p = 3 THEN '/tmp/' ELSE '/' END AS rule_pattern
  FROM u)
SELECT 'http://' || host || path AS url, host, path,
       CASE policy WHEN 'allow_all' THEN true WHEN 'disallow_all' THEN false
            ELSE rule_allowed END AS allowed,
       CASE WHEN policy IN ('rules', 'cached') THEN rule_match END AS matched_rule,
       CASE WHEN policy IN ('rules', 'cached') THEN rule_pattern END AS matched_pattern,
       policy
FROM n""",
)
def corpus_robots_unavailable(spark, sf_dir):
    """RFC 9309 §2.3.1 ACCESS-RESULT semantics — what happens when the
    robots.txt fetch itself fails, the half of the spec a rules-only
    gate misses: per-host fixture statuses cycle 404 (unavailable →
    allow-all), 503 with a 10-day-old cached rules copy (unreachable →
    the spec's cached-fallback carve-out: rules still apply), 200
    (normal rules path), 503-stale/network-error (unreachable, no
    usable cache → complete disallow).  The oracle recomputes every
    URL's policy, the overridden allow/deny, AND that matched rule/
    pattern are surfaced only on the rules/cached paths — so a wrong
    status bucket, a stale-cache acceptance, or a default that leaks
    through an unreachable host all break the hash.  Plan: one extra
    O(hosts) status-dim join, AQE-sized."""
    from opentsdb_aura_spark.operators.robots import (
        parse_robots_files,
        robots_allowed,
        synthesize_robots,
    )

    # 60 (k, p) pairs read by 4 plan branches (urls, hosts, status,
    # rules) — collapse and pin once (same discipline as
    # corpus_robots_redirects)
    d = (
        docs_raw(spark, sf_dir)
        .select(
            (F.col("doc_id") % 12).cast("long").alias("k"),
            (F.col("doc_id") % 5).cast("long").alias("p"),
        )
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    path = (
        F.when(F.col("p") == 0, F.lit("/a"))
        .when(F.col("p") == 1, F.lit("/private/x"))
        .when(F.col("p") == 2, F.lit("/private/public/y"))
        .when(F.col("p") == 3, F.lit("/tmp/z"))
        .otherwise(F.lit("/"))
    )
    host = F.concat(F.lit("h"), F.col("k"), F.lit(".example"))
    urls = d.select(F.concat(F.lit("http://"), host, path).alias("url"))
    hosts = d.select(host.alias("host"), F.col("k")).distinct()
    k = F.col("k")
    status = hosts.select(
        "host",
        F.when(k % 4 == 0, F.lit(404))
        .when(k % 4 == 1, F.lit(503))
        .when(k % 4 == 2, F.lit(200))
        .otherwise(F.lit(None).cast("int"))
        .alias("status_code"),
        F.when(
            k % 4 == 1,
            F.when(k % 8 == 1, F.lit(10 * 86400.0)).otherwise(F.lit(40 * 86400.0)),
        ).alias("cached_age_s"),
    )
    rules = parse_robots_files(synthesize_robots(hosts.select("host")))
    return robots_allowed(urls, rules, agent="aura-bot", fetch_status=status)


@register(
    "corpus_sitemap_scope",
    """WITH d AS (SELECT DISTINCT CAST(doc_id % 6 AS BIGINT) AS k FROM documents),
u AS (SELECT k, 'http://h' || k || '.example/sitemap.xml' AS page_url FROM d)
SELECT page_url, 'http://h' || k || '.example/s/1' AS loc, true AS in_scope FROM u
UNION ALL SELECT page_url, 'http://evil.example/x', false FROM u
UNION ALL SELECT page_url, 'http://H' || k || '.EXAMPLE/s/2', true FROM u""",
)
def corpus_sitemap_scope(spark, sf_dir):
    """sitemaps.org location scoping — the injection rule a frontier
    must honor: a sitemap can only name URLs on ITS OWN host, so a
    compromised or hostile sitemap on one host cannot schedule fetches
    against another.  Fixture sitemaps carry a same-host entry, a
    planted cross-host entry, and an uppercase-host same-host entry
    (host comparison is case-insensitive); every verdict is
    value-hashed through the real XML discovery parse.  One Arrow
    parse + one comparison in the same projection — no join."""
    from opentsdb_aura_spark.operators.robots import discovered_xml_urls, sitemap_scope_ok

    d = docs_raw(spark, sf_dir).select((F.col("doc_id") % 6).cast("long").alias("k")).distinct()
    k = F.col("k").cast("string")
    body = F.concat(
        F.lit("<urlset><url><loc>http://h"), k, F.lit(".example/s/1</loc></url>"),
        F.lit("<url><loc>http://evil.example/x</loc></url>"),
        F.lit("<url><loc>http://H"), k, F.lit(".EXAMPLE/s/2</loc></url></urlset>"),
    )
    pages = d.select(
        F.concat(F.lit("http://h"), k, F.lit(".example/sitemap.xml")).alias("page_url"),
        body.alias("body"),
    )
    ent = discovered_xml_urls(pages, url_col="page_url", body_col="body")
    return ent.select(
        "page_url", "loc", sitemap_scope_ok("page_url", "loc").alias("in_scope")
    )


@register(
    "corpus_frontier_bloom",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                         'http://example.com/doc/' || doc_id AS url FROM documents),
seen AS (SELECT url FROM d WHERE doc_id % 2 = 0),
spos AS (
  SELECT list_reduce(list_transform(range(1, length(s) + 1), j -> CAST(ord(substr(s, CAST(j AS INTEGER), 1)) AS BIGINT)),
                     (a, b) -> (a * 31 + b) % 2147483647) % 64512 AS p
  FROM (SELECT CAST(i AS VARCHAR) || ':' || url AS s
        FROM seen, unnest(range(0, 4)) AS u(i))),
words AS (
  SELECT CAST(p // 63 AS INTEGER) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS bits
  FROM spos GROUP BY 1),
ppos AS (
  SELECT url,
         list_reduce(list_transform(range(1, length(s) + 1), j -> CAST(ord(substr(s, CAST(j AS INTEGER), 1)) AS BIGINT)),
                     (a, b) -> (a * 31 + b) % 2147483647) % 64512 AS p
  FROM (SELECT url, CAST(i AS VARCHAR) || ':' || url AS s
        FROM d, unnest(range(0, 4)) AS u(i))),
probed AS (
  SELECT url,
         CASE WHEN (coalesce(bits, 0) & (CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER))) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM ppos LEFT JOIN words ON CAST(p // 63 AS INTEGER) = words.word_idx)
SELECT url, min(hit) = 1 AS seen FROM probed GROUP BY 1""",
)
def corpus_frontier_bloom(spark, sf_dir):
    """The crawler's URL-SEEN Bloom filter, value-hashed end to end:
    build the filter over the even-doc URLs (one bit_or groupBy —
    mergeable, O(n_bits) state at any URL count), probe EVERY doc URL
    against it, and hash-compare each verdict.  Even URLs must read
    seen (Bloom filters have no false negatives — a structural
    guarantee the hash proves over the whole set); odd URLs read the
    filter's deterministic false-positive pattern, which the oracle
    reproduces bit-for-bit because the k salted fold-hashes, the
    63-bit word packing, and the bit_or words are all re-derived in
    plain SQL.  Probe plan: the word table is O(n_bits/63) rows,
    broadcast; the frontier never shuffles beyond its own groupBy."""
    from opentsdb_aura_spark.operators.containers import url_bloom_build, url_bloom_probe

    d = docs_raw(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id").cast("string")).alias("url"),
    )
    bloom = url_bloom_build(d.where(F.col("doc_id") % 2 == 0).select("url"))
    return url_bloom_probe(d.select("url"), bloom)


@register(
    "corpus_robots_redirects",
    """WITH d AS (SELECT DISTINCT CAST(doc_id % 20 AS BIGINT) AS k FROM documents),
u AS (SELECT k, 'h' || k || '.example' AS host, k % 5 AS c FROM d)
SELECT host,
       CASE c WHEN 0 THEN 200 WHEN 1 THEN 200 WHEN 2 THEN 200
              WHEN 3 THEN 301 END AS final_status,
       'http://' || host || CASE c WHEN 0 THEN '/robots.txt' WHEN 1 THEN '/alt.txt'
                                   WHEN 2 THEN '/r2.txt' WHEN 3 THEN '/loop.txt'
                                   ELSE '/gone.txt' END AS final_url,
       CAST(CASE c WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                   WHEN 3 THEN 5 ELSE 1 END AS INTEGER) AS n_hops,
       c = 3 AS redirect_exhausted,
       c = 3 AS tmp_allowed,
       CASE WHEN c IN (0, 1, 2) THEN 'rules' WHEN c = 3 THEN 'allow_all'
            ELSE 'disallow_all' END AS policy
FROM u""",
)
def corpus_robots_redirects(spark, sf_dir):
    """RFC 9309 §2.3.1.2 redirect following for the robots.txt fetch,
    composed end-to-end into the access gate: per-host fixture chains
    cycle direct-200 / one-hop / two-hop / an infinite 301 loop (the
    spec's five-redirect floor trips, the lingering 3xx maps to the
    "unavailable" allow-all bucket) / a redirect into a URL the
    fetcher never resolved (the "unreachable" disallow-all bucket).
    The oracle recomputes every host's terminal status, final URL,
    hop count, exhaustion flag, AND the downstream /tmp gate verdict
    + policy closed-form — so the hop iteration, relative-Location
    resolution, and both spec buckets are value-hashed.  Plan:
    max_hops bounded O(hosts)×O(fetches) equi-joins, AQE-sized."""
    from opentsdb_aura_spark.operators.robots import (
        parse_robots_files,
        resolve_robots_fetches,
        robots_allowed,
        synthesize_robots,
    )

    # 20 hosts read by ~12 plan branches (9 fetch-fixture slices, the
    # rules build, the url list, the chase) — collapse and pin ONCE so
    # the docs scan + distinct doesn't re-run per branch
    d = (
        docs_raw(spark, sf_dir)
        .select((F.col("doc_id") % 20).cast("long").alias("k"))
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    host = F.concat(F.lit("h"), F.col("k"), F.lit(".example"))
    hosts = d.select(host.alias("host"), (F.col("k") % 5).alias("c"))
    base = F.concat(F.lit("http://"), F.col("host"))

    def fx(where, path, status, loc):
        return hosts.where(where).select(
            F.concat(base, F.lit(path)).alias("url"),
            F.lit(status).cast("int").alias("status_code"),
            (F.lit(loc) if loc is not None else F.lit(None).cast("string")).alias("location"),
        )

    c = F.col("c")
    fetches = (
        fx(c == 0, "/robots.txt", 200, None)
        .unionByName(fx(c == 1, "/robots.txt", 301, "/alt.txt"))
        .unionByName(fx(c == 1, "/alt.txt", 200, None))
        .unionByName(fx(c == 2, "/robots.txt", 302, "/r1.txt"))
        .unionByName(fx(c == 2, "/r1.txt", 301, "/r2.txt"))
        .unionByName(fx(c == 2, "/r2.txt", 200, None))
        .unionByName(fx(c == 3, "/robots.txt", 301, "/loop.txt"))
        .unionByName(fx(c == 3, "/loop.txt", 301, "/robots.txt"))
        .unionByName(fx(c == 4, "/robots.txt", 301, "/gone.txt"))
    )
    res = resolve_robots_fetches(hosts.select("host"), fetches, max_hops=5)
    rules = parse_robots_files(synthesize_robots(hosts.select("host")))
    urls = hosts.select(F.concat(base, F.lit("/tmp/z")).alias("url"))
    gate = robots_allowed(
        urls,
        rules,
        agent="other-bot",
        fetch_status=res.select("host", F.col("final_status").alias("status_code")),
    )
    return res.join(
        gate.select("host", F.col("allowed").alias("tmp_allowed"), "policy"), "host"
    ).select(
        "host", "final_status", "final_url", "n_hops", "redirect_exhausted",
        "tmp_allowed", "policy",
    )


@register(
    "corpus_sitemap_urls",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents),
i AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS i)
SELECT 'h' || k || '.example' AS host,
       'url' AS kind,
       'http://h' || k || '.example/s/' || i AS loc,
       '2024-01-' || lpad(CAST((k + i) % 28 + 1 AS VARCHAR), 2, '0') AS lastmod
FROM k CROSS JOIN i""",
)
def corpus_sitemap_urls(spark, sf_dir):
    """Sitemap discovery (sitemaps.org protocol, RFC 9309's Sitemap
    directive) — the frontier's PUSH feed next to link extraction's
    pull feed: per-host fixture urlsets parsed to (host, kind, loc,
    lastmod) rows, every loc and lastmod recomputed closed-form by the
    oracle.  Tolerant regex extraction (namespace junk and whitespace
    variations survive), one Arrow pass per file; sitemapindex
    recursion pointers surface as kind='sitemap' rows (unit-tested —
    the fixture files are flat urlsets)."""
    from opentsdb_aura_spark.operators.robots import (
        parse_sitemap_files,
        synthesize_sitemaps,
    )

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    return parse_sitemap_files(synthesize_sitemaps(hosts))


@register(
    "corpus_feed_urls",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents),
i AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS i)
SELECT 'h' || k || '.example' AS host,
       CASE WHEN k % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
       'http://h' || k || '.example/f/' || i AS loc,
       'Post ' || i || ' & more' AS title,
       CAST(1704067200 + ((k + i) % 28) * 86400 + i * 3600 AS BIGINT) AS updated_ts
FROM k CROSS JOIN i""",
)
def corpus_feed_urls(spark, sf_dir):
    """RSS 2.0 / Atom (RFC 4287) feed discovery — the frontier's
    FRESHNESS feed next to the sitemap's enumeration feed: per-host
    fixture feeds (RSS for even hosts, Atom for odd — both wire
    formats in one pass) parse to (host, kind, loc, title,
    updated_ts) with the entry timestamps normalized to epoch seconds
    (RFC 822 pubDate vs RFC 3339 updated — two date grammars, ONE
    downstream column).  The oracle recomputes every loc, the
    entity-decoded title, and the epoch arithmetic closed-form; the
    Atom fixture plants a rel="self" link before each alternate link,
    so a parser grabbing the first href breaks the hash.  One Arrow
    pass per file over a per-host dim — never touches the frontier's
    scale."""
    from opentsdb_aura_spark.operators.robots import (
        parse_feed_files,
        synthesize_feeds,
    )

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    return parse_feed_files(synthesize_feeds(hosts))


@register(
    "corpus_robots_sitemap_directives",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents)
SELECT 'h' || k || '.example' AS host,
       'http://h' || k || '.example/sitemap.xml' AS sitemap_url
FROM k""",
)
def corpus_robots_sitemap_directives(spark, sf_dir):
    """The sitemap chain's MISSING FIRST HOP — how sitemaps are
    actually found: robots.txt's group-independent ``Sitemap:``
    directive (sitemaps.org discovery, tolerated-and-skipped by the
    RFC 9309 rule and Crawl-delay parsers, which this query proves
    stays true by sharing their fixture files) extracts to
    (host, sitemap_url) pointers a fetcher recurses into
    parse_sitemap_files with.  The oracle recomputes every pointer
    closed-form; junk values that are not absolute URLs never
    surface."""
    from opentsdb_aura_spark.operators.robots import (
        parse_sitemap_directive_files,
        synthesize_robots,
    )

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    return parse_sitemap_directive_files(synthesize_robots(hosts))


@register(
    "corpus_feed_autodiscovery",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN '/feed.rss' ELSE '/feed.atom' END AS feed_href,
       CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS feed_kind,
       'http://example.com/' ||
       CASE WHEN doc_id % 2 = 0 THEN 'feed.rss' ELSE 'feed.atom' END AS feed_url
FROM d""",
)
def corpus_feed_autodiscovery(spark, sf_dir):
    """Feed AUTODISCOVERY — the in-page hop that tells a crawler
    where a site's feed lives (the <link rel="alternate"
    type="application/rss+xml|atom+xml"> convention every reader
    implements): fixture pages announce a root-relative feed
    (RSS for even docs, Atom for odd), the extractor surfaces
    (href, kind) per page, and the href resolves against the page URL
    into the absolute feed_url the fetch schedule consumes — the same
    resolve+canonicalize gates links pass.  The oracle recomputes
    href, kind, and the resolved URL closed-form; a rel token-list
    slip or a non-feed alternate link leaking in breaks the row
    count."""
    from opentsdb_aura_spark.operators.containers import resolve_href
    from opentsdb_aura_spark.operators.htmltext import (
        html_feed_links,
        synthesize_html,
    )

    pages = synthesize_html(docs_raw(spark, sf_dir), feed_links=True)
    links = html_feed_links(pages)
    page_url = F.concat(F.lit("http://example.com/doc/"), F.col("doc_id"))
    return links.select(
        "doc_id",
        "feed_href",
        "feed_kind",
        resolve_href(page_url, F.col("feed_href")).alias("feed_url"),
    )


@register(
    "corpus_xml_discovery",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents),
i AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS i)
SELECT 'http://h' || k || '.example/sitemap.xml' AS page_url,
       'url' AS kind,
       'http://h' || k || '.example/s/' || i AS loc,
       CAST(1704067200 + ((k + i) % 28) * 86400 AS BIGINT) AS updated_ts
FROM k CROSS JOIN i
UNION ALL
SELECT 'http://h' || k || '.example/feed.xml',
       CASE WHEN k % 2 = 0 THEN 'rss' ELSE 'atom' END,
       'http://h' || k || '.example/f/' || i,
       CAST(1704067200 + ((k + i) % 28) * 86400 + i * 3600 AS BIGINT)
FROM k CROSS JOIN i""",
)
def corpus_xml_discovery(spark, sf_dir):
    """The crawl loop eating its own discoveries: FETCHED XML bodies
    (the sitemap a robots ``Sitemap:`` pointer named; the feed an
    autodiscovery link announced) parse into the next frontier
    candidates through ONE pass that runs both grammars — sitemap
    urlset entries and RSS/Atom entries land in the same
    (page_url, kind, loc, updated_ts) shape, with sitemap lastmod
    dates normalized to the SAME epoch column the feed timestamps use
    (three date grammars in, one number out).  The oracle recomputes
    every loc and epoch closed-form for both document kinds; the
    discovered locs then take the ordinary resolve/canonicalize/
    politeness gates — discovery never bypasses compliance."""
    from opentsdb_aura_spark.operators.robots import (
        discovered_xml_urls,
        synthesize_feeds,
        synthesize_sitemaps,
    )

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    pages = synthesize_sitemaps(hosts).select(
        F.concat(F.lit("http://"), F.col("host"), F.lit("/sitemap.xml")).alias("url"),
        F.col("content").alias("body"),
    ).unionByName(
        synthesize_feeds(hosts).select(
            F.concat(F.lit("http://"), F.col("host"), F.lit("/feed.xml")).alias("url"),
            F.col("content").alias("body"),
        )
    )
    return discovered_xml_urls(pages)


@register(
    "corpus_discovery_fetch_plan",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents),
i AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS i),
disc AS (
  SELECT 'http://h' || k || '.example/s/' || i AS loc, i,
         CAST(1704067200 + ((k + i) % 28) * 86400 AS DOUBLE) AS u
  FROM k CROSS JOIN i
  UNION ALL
  SELECT 'http://h' || k || '.example/f/' || i, i,
         CAST(1704067200 + ((k + i) % 28) * 86400 + i * 3600 AS DOUBLE)
  FROM k CROSS JOIN i)
SELECT loc, round(u, 6) AS updated_ts,
       round(CASE WHEN i = 0 THEN u + 1000 WHEN i = 1 THEN u - 1000 END, 6)
         AS last_capture_ts,
       CASE WHEN i >= 1 THEN TRUE ELSE FALSE END AS needs_fetch
FROM disc""",
)
def corpus_discovery_fetch_plan(spark, sf_dir):
    """The discovery loop CLOSED: fetched sitemap AND feed bodies
    parse through the one-pass XML discovery (three date grammars →
    one epoch column), and that unified output drives the conditional
    fetch plan directly — entry 0 of each document was captured after
    its update (skip), entry 1 before it (refetch), entry 2 never
    (fetch), identically for both document kinds BECAUSE the epoch
    normalization made them one shape.  The oracle recomputes the
    parse arithmetic and every verdict for all 24 discovered URLs in
    one chain — the grammar unification is what's actually under
    test."""
    from opentsdb_aura_spark.operators.robots import (
        discovered_xml_urls,
        feed_fetch_plan,
        synthesize_feeds,
        synthesize_sitemaps,
    )

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    pages = synthesize_sitemaps(hosts).select(
        F.concat(F.lit("http://"), F.col("host"), F.lit("/sitemap.xml")).alias("url"),
        F.col("content").alias("body"),
    ).unionByName(
        synthesize_feeds(hosts).select(
            F.concat(F.lit("http://"), F.col("host"), F.lit("/feed.xml")).alias("url"),
            F.col("content").alias("body"),
        )
    )
    disc = discovered_xml_urls(pages)
    idx = F.regexp_extract(F.col("loc"), r"/(\d+)$", 1).cast("long")
    caps = disc.where(idx <= 1).select(
        F.col("loc").alias("url"),
        (
            F.col("updated_ts").cast("double")
            + F.when(idx == 0, F.lit(1000.0)).otherwise(F.lit(-1000.0))
        ).alias("capture_ts"),
    )
    out = feed_fetch_plan(disc, caps)
    return out.select(
        "loc",
        _r("updated_ts", 6).alias("updated_ts"),
        _r("last_capture_ts", 6).alias("last_capture_ts"),
        "needs_fetch",
    )


@register(
    "corpus_feed_fetch_plan",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents),
i AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS i),
f AS (SELECT k, i,
             'http://h' || k || '.example/f/' || i AS loc,
             CAST(1704067200 + ((k + i) % 28) * 86400 + i * 3600 AS DOUBLE) AS u
      FROM k CROSS JOIN i)
SELECT loc, round(u, 6) AS updated_ts,
       round(CASE WHEN i = 0 THEN u + 1000 WHEN i = 1 THEN u - 1000 END, 6)
         AS last_capture_ts,
       CASE WHEN i = 2 THEN TRUE WHEN i = 1 THEN TRUE ELSE FALSE END AS needs_fetch
FROM f""",
)
def corpus_feed_fetch_plan(spark, sf_dir):
    """Conditional discovery off the feed's freshness signal — the
    epoch-native counterpart of corpus_sitemap_fetch_plan: parsed
    feed entries (both wire formats, timestamps already normalized to
    epoch) join the capture history; entry 0 of each host was
    captured after its update (skip), entry 1 before it (refetch),
    entry 2 never (fetch).  The oracle recomputes the epoch
    arithmetic and every verdict closed-form through the SAME parse
    the corpus_feed_urls hash pins, so the date-grammar
    normalization and the planning rule are checked as one chain."""
    from opentsdb_aura_spark.operators.robots import (
        feed_fetch_plan,
        parse_feed_files,
        synthesize_feeds,
    )

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    feeds = parse_feed_files(synthesize_feeds(hosts))
    idx = F.regexp_extract(F.col("loc"), r"/f/(\d+)$", 1).cast("long")
    caps = feeds.where(idx <= 1).select(
        F.col("loc").alias("url"),
        (
            F.col("updated_ts").cast("double")
            + F.when(idx == 0, F.lit(1000.0)).otherwise(F.lit(-1000.0))
        ).alias("capture_ts"),
    )
    out = feed_fetch_plan(feeds, caps)
    return out.select(
        "loc",
        _r("updated_ts", 6).alias("updated_ts"),
        _r("last_capture_ts", 6).alias("last_capture_ts"),
        "needs_fetch",
    )


# Revisit fixture shared by plan/write/read and resolve below: groups
# of (up to) 3 consecutive doc_ids fetch the SAME page with the SAME
# bytes — k = doc_id - doc_id % 3 is the group key, so doc_id == k is
# the first capture in (file_id, offset) order and every other member
# plans as a revisit of cap-k.
_REVISIT_CAPS = """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
g AS (SELECT doc_id, doc_id - (doc_id % 3) AS k FROM d)
"""


@register(
    "corpus_warc_revisit_roundtrip",
    _REVISIT_CAPS
    + """SELECT 'urn:uuid:cap-' || doc_id AS record_id,
       CASE WHEN doc_id = k THEN 'response' ELSE 'revisit' END AS warc_type,
       'http://example.com/page/' || k AS target_uri,
       CAST(CASE WHEN doc_id = k THEN octet_length(encode('payload-' || k)) ELSE 0 END AS BIGINT) AS content_length,
       CASE WHEN doc_id = k THEN md5('payload-' || k) ELSE md5('') END AS payload_md5,
       CASE WHEN doc_id = k THEN NULL ELSE 'urn:uuid:cap-' || k END AS refers_to,
       CASE WHEN doc_id = k THEN NULL
            ELSE 'http://netpreserve.org/warc/1.0/revisit/identical-payload-digest'
       END AS profile
FROM g""",
)
def corpus_warc_revisit_roundtrip(spark, sf_dir):
    """WARC ``revisit`` record fidelity (ISO 28500 §6.7.2) — the
    storage dedup a production crawler applies at write time: captures
    where each page is fetched by 3 consecutive docs with identical
    bytes are PLANNED (first capture in (file, offset) order stays the
    original, later identical fetches become revisits of it), WRITTEN
    as real WARC bytes (payload-less revisit records carrying
    WARC-Refers-To / WARC-Profile / WARC-Payload-Digest), and RE-READ
    by the same parser.  The oracle re-derives every re-read header
    closed-form — record type, zero content length, the Refers-To
    link, and the dedup profile are all value-hashed.  Scale shape:
    the plan is ONE window over the (canonical url, digest) shuffle
    key; the write is the WET/WAT per-file pack; a 100 TB crawl with
    30% identical refetches writes 30% fewer payload bytes."""
    from opentsdb_aura_spark.operators.containers import (
        mark_revisits,
        warc_records,
        write_revisit_warc_files,
    )

    k = (F.col("doc_id") - F.col("doc_id") % 3).cast("long")
    caps = docs_raw(spark, sf_dir).select(
        F.expr(f"CAST(doc_id DIV {_DPF} AS LONG)").alias("file_id"),
        F.col("doc_id").cast("long").alias("offset"),  # capture order inside the file
        F.concat(F.lit("urn:uuid:cap-"), F.col("doc_id").cast("long")).alias("record_id"),
        F.concat(F.lit("http://example.com/page/"), k).alias("target_uri"),
        F.concat(F.lit("payload-"), k).cast("binary").alias("payload"),
    ).withColumn("payload_md5", F.md5(F.col("payload")))
    files = write_revisit_warc_files(mark_revisits(caps), content_type="text/plain")
    return warc_records(files).select(
        "record_id", "warc_type", "target_uri", "content_length",
        "payload_md5", "refers_to", "profile",
    )


@register(
    "corpus_warc_revisit_resolve",
    _REVISIT_CAPS
    + """SELECT 'urn:uuid:cap-' || doc_id AS record_id,
       'http://example.com/page/' || k AS target_uri,
       'urn:uuid:cap-' || k AS refers_to,
       md5('payload-' || k) AS payload_md5,
       CAST(octet_length(encode('payload-' || k)) AS BIGINT) AS content_length
FROM g WHERE doc_id <> k""",
)
def corpus_warc_revisit_resolve(spark, sf_dir):
    """Replay-side inverse of the revisit dedup: re-read the
    deduplicated WARC artifact and JOIN each revisit record to the
    original capture its WARC-Refers-To names, recovering the payload
    digest and byte length the revisit asserts — what a replay service
    serves duplicates from (and what the CDX layer deduplicates
    against).  The oracle recomputes the original's digest/length for
    every duplicate closed-form, so a broken Refers-To link or a wrong
    original surfaces as a hash miss.  One equi-join on record id —
    originals are O(crawl), no broadcast hint."""
    from opentsdb_aura_spark.operators.containers import (
        mark_revisits,
        resolve_revisits,
        warc_records,
        write_revisit_warc_files,
    )

    k = (F.col("doc_id") - F.col("doc_id") % 3).cast("long")
    caps = docs_raw(spark, sf_dir).select(
        F.expr(f"CAST(doc_id DIV {_DPF} AS LONG)").alias("file_id"),
        F.col("doc_id").cast("long").alias("offset"),
        F.concat(F.lit("urn:uuid:cap-"), F.col("doc_id").cast("long")).alias("record_id"),
        F.concat(F.lit("http://example.com/page/"), k).alias("target_uri"),
        F.concat(F.lit("payload-"), k).cast("binary").alias("payload"),
    ).withColumn("payload_md5", F.md5(F.col("payload")))
    files = write_revisit_warc_files(mark_revisits(caps), content_type="text/plain")
    return resolve_revisits(warc_records(files)).select(
        "record_id", "target_uri", "refers_to", "payload_md5", "content_length"
    )


@register(
    "corpus_anchor_text_index",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents)
SELECT 'http://example.com' AS target_url, total AS n_refs, 'home' AS anchor_texts FROM n
UNION ALL SELECT 'http://example.com/about', total, 'about' FROM n
UNION ALL SELECT 'http://example.com/next', total, 'next page' FROM n
UNION ALL SELECT 'http://example.com/terms', total, 'terms' FROM n
UNION ALL SELECT 'http://example.com/privacy', total, 'privacy' FROM n""",
)
def corpus_anchor_text_index(spark, sf_dir):
    """Inbound anchor-text signal per target page — the classic
    relevance/spam feature a host-ranking/quality pipeline mines from
    the link graph (what OTHER pages' link text calls a page): pages →
    links → href resolution → canonical target → per-target reference
    count + deduped sorted anchor texts.  Every fixture page links the
    same five chrome targets with fixed texts, so the oracle enumerates
    all five rows closed-form — resolution, canonicalization, the
    count, and the text normalization (lowercase/trim/dedupe/sort) are
    all value-hashed.  Skew-safe shape: texts dedupe+count on
    (target, text) map-side first; a row_number caps the list BEFORE
    collect_list, so hub pages with millions of inlinks never
    materialize unbounded arrays."""
    from opentsdb_aura_spark.operators.containers import anchor_text_index
    from opentsdb_aura_spark.operators.htmltext import html_links, synthesize_html

    pages = synthesize_html(docs_raw(spark, sf_dir)).withColumn(
        "page_url",
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id").cast("string")),
    )
    links = html_links(pages, keep_cols=("doc_id", "page_url"))
    # The operator keeps its array return; the catalog boundary serializes it
    # ('|'-joined, already sorted) because the driver's row hasher cannot
    # hash list cells — same precedent as queries/events.py child_ids.
    return anchor_text_index(links).select(
        "target_url",
        "n_refs",
        F.array_join("anchor_texts", "|").alias("anchor_texts"),
    )


@register(
    "corpus_wat_anchor_links",
    f"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
j AS (
  SELECT doc_id,
         '{{"url":"http://example.com/doc/' || doc_id
           || '","status":'
           || CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END
           || ',"links":[{{"href":"/","text":"Home"}},{{"href":"/about","text":"About"}},'
           || '{{"href":"/next","text":"next page"}},{{"href":"/privacy","text":"Privacy"}},'
           || '{{"href":"/terms","text":"Terms"}}]}}' AS payload
  FROM d)
SELECT 'urn:uuid:wat-doc-' || doc_id AS record_id,
       'http://example.com/doc/' || doc_id AS target_uri,
       CAST(length(payload) AS BIGINT) AS content_length,
       md5(payload) AS payload_md5
FROM j""",
)
def corpus_wat_anchor_links(spark, sf_dir):
    """The TEXT-BEARING WAT links form — Common Crawl's WAT ``Links``
    records carry the anchor's visible text next to each href (the
    relevance/spam signal host rankings mine), so the metadata records
    here pack links as (href, text) structs instead of bare hrefs:
    crawl → HTTP split → link extraction (href + anchor text) →
    sorted struct list per page → JSON → metadata records → re-parsed.
    The oracle rebuilds each nested-JSON payload byte-for-byte (five
    fixture anchors with their texts, struct field order = alias
    order), so the anchor-text CAPTURE and the nested serialization
    are hash-proven together.  Same one-shuffle plan as the bare-href
    roundtrip — the text rides the same structs."""
    return _wat_link_records(spark, sf_dir, F.struct(F.col("href"), F.col("anchor_text").alias("text")))


@register(
    "corpus_crawl_delays",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents),
h AS (SELECT k, 'h' || k || '.example' AS host FROM k)
SELECT host, 'aura-bot' AS agent, CAST(2 AS DOUBLE) AS crawl_delay FROM h WHERE k % 2 = 0
UNION ALL SELECT host, '*', CAST(1 + k % 5 AS DOUBLE) FROM h""",
)
def corpus_crawl_delays(spark, sf_dir):
    """Crawl-delay extraction — the de-facto politeness knob real
    robots.txt files carry next to the RFC 9309 rules (minimum seconds
    between fetches from one host): the fixture files parse to one
    (host, agent, crawl_delay) row per declaring group, every value
    recomputed closed-form by the oracle (even hosts declare 2 s in
    their aura-bot group; every host's catch-all declares 1+k%5 s).
    Same group structure as the rules parser; junk/negative values
    are tolerated-and-skipped (unit-tested)."""
    from opentsdb_aura_spark.operators.robots import (
        parse_crawl_delay_files,
        synthesize_robots,
    )

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    return parse_crawl_delay_files(synthesize_robots(hosts))


@register(
    "corpus_fetch_schedule",
    """WITH d AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k,
                       CAST(doc_id % 5 AS BIGINT) AS p FROM documents)
SELECT 'http://h' || k || '.example/s/' || p AS frontier_url,
       'h' || k || '.example' AS host,
       CAST(p + 1 AS INTEGER) AS slot,
       round(p * (CASE WHEN k % 2 = 0 THEN 2.0 ELSE 1.0 + (k % 5) END), 6) AS scheduled_ts
FROM d""",
)
def corpus_fetch_schedule(spark, sf_dir):
    """The last politeness step between ranking and issuing requests:
    the frontier becomes per-URL FETCH TIMESTAMPS — URLs slot per host
    in deterministic order and slot k fetches at (k-1) x the host's
    resolved crawl delay (the agent's own group winning over '*', the
    same exclusivity rule as path rules).  The oracle recomputes every
    slot and timestamp closed-form: h0/h2 space at their aura-bot 2 s,
    h1 at its catch-all 2 s, h3 at its catch-all 4 s — a wrong group
    pick or an off-by-one slot breaks the hash.  Scale shape: ONE
    window on the host key the frontier is already bucketed by + a
    broadcast join of the O(hosts) delay dim; no global sort (fetcher
    fleets shard by host)."""
    from opentsdb_aura_spark.operators.robots import (
        crawl_delay_for,
        parse_crawl_delay_files,
        schedule_fetches,
        synthesize_robots,
    )

    d = docs_raw(spark, sf_dir).select(
        (F.col("doc_id") % 4).cast("long").alias("k"),
        (F.col("doc_id") % 5).cast("long").alias("p"),
    ).distinct()
    frontier = d.select(
        F.concat(
            F.lit("http://h"), F.col("k"), F.lit(".example/s/"), F.col("p")
        ).alias("frontier_url")
    )
    hosts = d.select(F.concat(F.lit("h"), F.col("k"), F.lit(".example")).alias("host")).distinct()
    delays = crawl_delay_for(parse_crawl_delay_files(synthesize_robots(hosts)), agent="aura-bot")
    out = schedule_fetches(frontier, delays)
    return out.select(
        "frontier_url", "host", "slot", _r("scheduled_ts", 6).alias("scheduled_ts")
    )


@register(
    "corpus_cdx_surt_index",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents)
SELECT 'com,example)/doc/' || doc_id AS urlkey,
       'http://example.com/doc/' || doc_id AS url,
       'urn:uuid:doc-' || doc_id AS record_id,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status,
       md5(text) AS digest
FROM d""",
)
def corpus_cdx_surt_index(spark, sf_dir):
    """SURT-keyed CDX — the urlkey form REAL Common Crawl indexes
    sort by (host reversed at its dots: ``com,example)/doc/N``), so a
    domain lookup on the sorted index is one contiguous range scan
    instead of a scatter.  Same one-pass capture index as
    corpus_cdx_index with ``urlkey='surt'``; the oracle re-derives
    every SURT key, status, and decoded-payload digest closed-form,
    so the transform (reversal, www/port/default-port handling
    unit-tested on edge hosts) is value-hashed on the real artifact
    path."""
    from opentsdb_aura_spark.operators.containers import (
        cdx_index,
        synthesize_warc,
        warc_records,
    )

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF, http_envelope=True)
    idx = cdx_index(warc_records(files, with_payload=True), urlkey="surt")
    return idx.select("urlkey", "url", "record_id", "status", "digest")


def _capture_history():
    """The fixture capture history over documents: doc_id = 100·i + u
    is capture i (one per day from 2024-01-01) of url key u, whose
    content version is v = i DIV 3 (integer DIV: double division
    drifts above 2^53 ids).  Returns (u, i, v, url, capture_ts)."""
    u = (F.col("doc_id") % 100).cast("long")
    i = F.expr("CAST(doc_id DIV 100 AS LONG)")
    v = F.expr("CAST(doc_id DIV 100 DIV 3 AS LONG)")
    url = F.concat(F.lit("http://example.com/page/"), u)
    return u, i, v, url, (F.lit(1704067200) + i * 86400).cast("double").alias("capture_ts")


def _version_digest(url):
    """md5 of "<url>:<content version>": the body digest of a capture."""
    return F.md5(F.concat(url, F.lit(":"), F.expr("CAST(doc_id DIV 100 DIV 3 AS STRING)")))


def _validators(u, i, v):
    """The captures' HTTP validators: ETag "e-<u>-<v>" (absent on every
    3rd url and every 4th capture) and Last-Modified (absent on odd
    urls and every 5th capture)."""
    return (
        F.when(
            (u % 3 == 0) | (i % 4 == 3), F.lit(None)
        ).otherwise(
            F.concat(F.lit('"e-'), u, F.lit("-"), v, F.lit('"'))
        ).alias("etag"),
        F.when(
            (u % 2 == 1) | (i % 5 == 4), F.lit(None)
        ).otherwise(
            F.concat(
                F.lpad((v % 28 + 1).cast("string"), 2, "0"),
                F.lit(" Jan 2024 00:00:00 GMT"),
            )
        ).alias("last_modified"),
    )


# The revisit policy over the ``m`` change flags (chg, rn per url and
# ts): counts, change rate, unchanged streak and the next fetch after a
# wait doubling per unchanged capture (capped at 2^5 days).
_RECRAWL_POLICY_SQL = """a AS (SELECT url, CAST(count(*) AS BIGINT) AS n_captures,
             CAST(sum(chg) AS BIGINT) AS n_changes,
             max(CASE WHEN chg = 1 THEN rn END) AS lcr, max(ts) AS last_ts
      FROM m GROUP BY 1)
SELECT url, n_captures, n_changes,
       round(CASE WHEN n_captures > 1
                  THEN n_changes / CAST(n_captures - 1 AS DOUBLE) END, 6) AS change_rate,
       CAST(coalesce(n_captures - lcr, n_captures - 1) AS BIGINT) AS streak,
       round(last_ts + 86400.0 * power(2, least(coalesce(n_captures - lcr, n_captures - 1), 5)), 6) AS next_fetch_ts
FROM a"""


@register(
    "corpus_recrawl_schedule",
    """WITH caps AS (
  SELECT 'http://example.com/page/' || (doc_id % 100) AS url,
         CAST(1704067200 + (doc_id // 100) * 86400 AS DOUBLE) AS ts,
         md5('http://example.com/page/' || (doc_id % 100) || ':' || ((doc_id // 100) // 3)) AS digest
  FROM documents),
m AS (SELECT url, ts,
        CASE WHEN lag(digest) OVER w IS NOT NULL AND digest <> lag(digest) OVER w
             THEN 1 ELSE 0 END AS chg,
        row_number() OVER w AS rn
      FROM caps WINDOW w AS (PARTITION BY url ORDER BY ts, digest)),
"""
    + _RECRAWL_POLICY_SQL,
)
def corpus_recrawl_schedule(spark, sf_dir):
    """Adaptive revisit policy over capture history — the classic CDX
    consumer (Cho & Garcia-Molina: uniform revisit wastes most fetches
    on static pages; Heritrix doubles the wait while content is
    unchanged and resets on change): per URL, digest transitions
    between consecutive captures give the change rate and the
    unchanged STREAK, and the next fetch backs off base x 2^streak
    (capped).  The fixture gives every URL a deterministic capture
    sequence whose content version changes every 3rd capture, and the
    oracle re-runs the identical lag/aggregate policy in SQL — counts,
    rates, streaks, and every scheduled timestamp value-hashed.  One
    window + one groupBy on the url key the capture index is already
    sorted by at rest."""
    from opentsdb_aura_spark.operators.containers import recrawl_schedule

    _, _, _, url, capture_ts = _capture_history()
    caps = docs_raw(spark, sf_dir).select(url.alias("url"), capture_ts, _version_digest(url).alias("digest"))
    out = recrawl_schedule(caps)
    return out.select(
        "url", "n_captures", "n_changes",
        _r("change_rate", 6).alias("change_rate"),
        "streak",
        _r("next_fetch_ts", 6).alias("next_fetch_ts"),
    )


@register(
    "corpus_capture_change",
    r"""WITH caps AS (
  SELECT CAST(doc_id % 100 AS BIGINT) AS u, CAST(doc_id // 100 AS BIGINT) AS i,
         CAST(doc_id // 100 // 3 AS BIGINT) AS v
  FROM documents),
t AS (
  SELECT 'http://example.com/page/' || u AS url,
         CAST(1704067200 + i * 86400 AS DOUBLE) AS capture_ts,
         list_transform(range(0, 20),
           x -> CASE WHEN v = 1 AND x < 4 THEN 'c' || x ELSE 't' || x END)
           || ['u' || u] AS toks
  FROM caps),
s AS (
  SELECT url, capture_ts,
         list_sort(list_distinct(list_transform(range(0, len(toks) - 2),
           x -> toks[x+1] || ' ' || toks[x+2] || ' ' || toks[x+3]))) AS sh
  FROM t),
l AS (
  SELECT url, capture_ts, sh,
         lag(sh) OVER (PARTITION BY url ORDER BY capture_ts) AS prev
  FROM s)
SELECT url, round(capture_ts, 6) AS capture_ts,
       CAST(len(sh) AS BIGINT) AS n_shingles,
       round(CASE WHEN prev IS NULL THEN NULL
                  WHEN len(list_distinct(list_concat(sh, prev))) = 0 THEN 1.0
                  ELSE len(list_intersect(sh, prev)) * 1.0
                       / len(list_distinct(list_concat(sh, prev)))
             END, 6) AS jaccard_prev
FROM l""",
)
def corpus_capture_change(spark, sf_dir):
    """Change MAGNITUDE between consecutive captures — the refinement
    of recrawl_schedule's binary digest flag: per capture, word-
    shingle Jaccard against the previous capture of the same URL, so
    a nav-bar rotation (high overlap) and a rewrite (low overlap) are
    distinguishable to the scheduler.  The fixture's pages swap their
    first 4 tokens when the content version flips mid-history, so
    every URL shows the full profile: NULL on the first capture, 1.0
    while unchanged, one partial-overlap transition row.  The oracle
    rebuilds the identical shingle sets (same tokenizer contract as
    the dedup family) and re-runs the lag/Jaccard in SQL — every
    ratio value-hashed.  One window on the url key: the same shuffle
    the recrawl policy already pays."""
    from opentsdb_aura_spark.operators.containers import capture_change_profile

    u, _, v, url, capture_ts = _capture_history()
    toks = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda x: F.when(
                (v == 1) & (x < 4), F.concat(F.lit("c"), x.cast("string"))
            ).otherwise(F.concat(F.lit("t"), x.cast("string"))),
        ),
        F.array(F.concat(F.lit("u"), u)),
    )
    caps = docs_raw(spark, sf_dir).select(url.alias("url"), capture_ts, F.array_join(toks, " ").alias("text"))
    out = capture_change_profile(caps)
    return out.select(
        "url",
        _r("capture_ts", 6).alias("capture_ts"),
        "n_shingles",
        _r("jaccard_prev", 6).alias("jaccard_prev"),
    )


@register(
    "corpus_conditional_fetch",
    """WITH caps AS (
  SELECT CAST(doc_id % 100 AS BIGINT) AS u, CAST(doc_id // 100 AS BIGINT) AS i,
         CAST(doc_id // 100 // 3 AS BIGINT) AS v
  FROM documents),
h AS (
  SELECT 'http://example.com/page/' || u AS url,
         CAST(1704067200 + i * 86400 AS DOUBLE) AS ts,
         CASE WHEN u % 3 = 0 OR i % 4 = 3 THEN NULL
              ELSE '"e-' || u || '-' || v || '"' END AS etag,
         CASE WHEN u % 2 = 1 OR i % 5 = 4 THEN NULL
              ELSE lpad(CAST(v % 28 + 1 AS VARCHAR), 2, '0') || ' Jan 2024 00:00:00 GMT'
         END AS lm
  FROM caps)
SELECT url,
       round(max(ts), 6) AS last_capture_ts,
       arg_max(etag, ts) FILTER (WHERE etag IS NOT NULL) AS if_none_match,
       arg_max(lm, ts) FILTER (WHERE lm IS NOT NULL) AS if_modified_since,
       (count(etag) > 0 OR count(lm) > 0) AS conditional
FROM h GROUP BY 1""",
)
def corpus_conditional_fetch(spark, sf_dir):
    """Conditional-request planning (RFC 9110 §13.1) — the request
    half of the 304 bandwidth story next to corpus_recrawl_304's
    response half: per URL, the validators the next fetch replays
    (If-None-Match = most recent non-null ETag verbatim,
    If-Modified-Since = most recent non-null Last-Modified verbatim,
    carried forward INDEPENDENTLY so a proxy stripping one header
    never loses the other validator).  The fixture plants sites that
    never emit one validator, captures where a validator was
    stripped, and content versions that change mid-history; the
    oracle re-derives every validator choice closed-form, so picking
    the wrong capture's ETag (or coupling the two carry-forwards)
    breaks the hash.  One map-side-combined groupBy on the url key —
    no window, no second shuffle."""
    from opentsdb_aura_spark.operators.containers import conditional_fetch_plan

    u, i, v, url, capture_ts = _capture_history()
    caps = docs_raw(spark, sf_dir).select(url.alias("url"), capture_ts, *_validators(u, i, v))
    out = conditional_fetch_plan(caps)
    return out.select(
        "url",
        _r("last_capture_ts", 6).alias("last_capture_ts"),
        "if_none_match",
        "if_modified_since",
        "conditional",
    )


@register(
    "corpus_retry_backoff_schedule",
    """WITH d AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k,
                        CAST(doc_id % 5 AS BIGINT) AS m FROM documents)
SELECT 'http://h' || k || '.example/u/' || m AS frontier_url,
       'h' || k || '.example' AS host,
       CAST(5 - m AS BIGINT) AS slot,
       round(CASE k WHEN 0 THEN 1120.0 WHEN 1 THEN 1706745600.0
                    WHEN 2 THEN 2060.0 ELSE 100.0 END
             + (4 - m) * (k + 1) * 1.0, 6) AS scheduled_ts
FROM d""",
)
def corpus_retry_backoff_schedule(spark, sf_dir):
    """Rate-limit-aware fetch scheduling (RFC 9110 §10.2.3) — the
    server's OWN backpressure folded into politeness: 429/503
    responses carrying Retry-After (delta-seconds, an IMF-fixdate
    absolute bound, or junk → the default backoff) roll up to a
    per-host not-before bound (latest wins across multiple limited
    responses), and the host's whole fetch schedule starts there
    instead of t0 while slots keep their crawl-delay spacing.  The
    fixture plants all three header forms plus an unlimited host and
    a two-evidence host (the older, milder bound must lose); the
    oracle recomputes every slot and timestamp closed-form, so a
    wrong precedence, a junk-date crash, or a backoff leaking onto
    the wrong host breaks the hash.  Scale: one groupBy over limited
    responses + one more host-keyed AQE-sized join in the scheduler —
    no new shuffle pattern."""
    from opentsdb_aura_spark.operators.robots import host_backoff, schedule_fetches

    d = docs_raw(spark, sf_dir).select(
        (F.col("doc_id") % 4).cast("long").alias("k"),
        (F.col("doc_id") % 5).cast("long").alias("m"),
    ).distinct()
    urls = d.select(
        F.concat(F.lit("http://h"), F.col("k"), F.lit(".example/u/"), F.col("m")).alias(
            "frontier_url"
        ),
        F.col("m").cast("double").alias("priority"),
    )
    kd = d.select("k").distinct()
    ux = F.concat(F.lit("http://h"), F.col("k"), F.lit(".example/x"))
    ev1 = kd.where(F.col("k") <= 2).select(
        ux.alias("url"),
        F.when(F.col("k") == 0, 1000.0).when(F.col("k") == 1, 800.0).otherwise(2000.0)
        .alias("capture_ts"),
        F.when(F.col("k") == 1, 503).otherwise(429).alias("status"),
        F.when(F.col("k") == 0, "120")
        .when(F.col("k") == 1, "Thu, 01 Feb 2024 00:00:00 GMT")
        .otherwise("soon")
        .alias("retry_after"),
    )
    ev2 = kd.where(F.col("k") == 0).select(
        ux.alias("url"),
        F.lit(500.0).alias("capture_ts"),
        F.lit(503).alias("status"),
        F.lit("30").alias("retry_after"),
    )
    backoff = host_backoff(ev1.unionByName(ev2))
    delays = kd.select(
        F.concat(F.lit("h"), F.col("k"), F.lit(".example")).alias("host"),
        (F.col("k") + 1).cast("double").alias("crawl_delay"),
    )
    sched = schedule_fetches(
        urls, delays, priority_col="priority", t0=100, backoff=backoff
    )
    return sched.select(
        "frontier_url", "host", "slot", _r("scheduled_ts", 6).alias("scheduled_ts")
    )


@register(
    "corpus_recrawl_plan",
    """WITH d AS (
  SELECT CAST(doc_id % 100 AS BIGINT) AS u, CAST(doc_id // 100 AS BIGINT) AS i,
         CAST(doc_id // 100 // 3 AS BIGINT) AS v
  FROM documents),
caps AS (
  SELECT 'http://example.com/page/' || u AS url,
         CAST(1704067200 + i * 86400 AS DOUBLE) AS ts,
         md5('http://example.com/page/' || u || ':' || v) AS digest,
         CASE WHEN u % 3 = 0 OR i % 4 = 3 THEN NULL
              ELSE '"e-' || u || '-' || v || '"' END AS etag,
         CASE WHEN u % 2 = 1 OR i % 5 = 4 THEN NULL
              ELSE lpad(CAST(v % 28 + 1 AS VARCHAR), 2, '0') || ' Jan 2024 00:00:00 GMT'
         END AS lm
  FROM d),
m AS (SELECT url, ts, etag, lm,
        CASE WHEN lag(digest) OVER w IS NOT NULL AND digest <> lag(digest) OVER w
             THEN 1 ELSE 0 END AS chg,
        row_number() OVER w AS rn
      FROM caps WINDOW w AS (PARTITION BY url ORDER BY ts, digest)),
a AS (SELECT url, CAST(count(*) AS BIGINT) AS n_captures,
             max(CASE WHEN chg = 1 THEN rn END) AS lcr, max(ts) AS last_ts,
             arg_max(etag, ts) FILTER (WHERE etag IS NOT NULL) AS if_none_match,
             arg_max(lm, ts) FILTER (WHERE lm IS NOT NULL) AS if_modified_since,
             (count(etag) > 0 OR count(lm) > 0) AS conditional
      FROM m GROUP BY 1)
SELECT url,
       CAST(coalesce(n_captures - lcr, n_captures - 1) AS BIGINT) AS streak,
       round(last_ts + 86400.0 * power(2, least(coalesce(n_captures - lcr, n_captures - 1), 5)), 6) AS next_fetch_ts,
       if_none_match, if_modified_since, conditional
FROM a""",
)
def corpus_recrawl_plan(spark, sf_dir):
    """The COMPLETE freshness loop in one plan — what a fetcher
    actually consumes per URL: WHEN to refetch (the wait-doubling
    policy over the capture history) and WITH WHICH HEADERS (the
    carried-forward validators, so an unchanged page costs a 304).
    Composes recrawl_schedule and conditional_fetch_plan over ONE
    capture fixture that exercises both: content versions flip every
    3rd capture (drives streak/backoff) while validator presence
    varies per site and per capture (drives the independent
    carry-forwards).  The oracle re-runs the policy window AND the
    validator arg_max in one SQL chain — schedule and headers are
    hash-checked TOGETHER, so a join slip between the two halves
    breaks it.  Scale: both halves key on the same url shuffle; the
    join is O(urls) onto O(urls)."""
    from opentsdb_aura_spark.operators.containers import (
        conditional_fetch_plan,
        recrawl_schedule,
    )

    u, i, v, url, capture_ts = _capture_history()
    caps = docs_raw(spark, sf_dir).select(
        url.alias("url"),
        capture_ts,
        F.md5(F.concat(url, F.lit(":"), v.cast("string"))).alias("digest"),
        *_validators(u, i, v),
    )
    sched = recrawl_schedule(caps)
    plan = conditional_fetch_plan(caps)
    return sched.join(plan, "url").select(
        "url",
        "streak",
        _r("next_fetch_ts", 6).alias("next_fetch_ts"),
        "if_none_match",
        "if_modified_since",
        "conditional",
    )


# The zipnum lookup returns the SAME capture rows as the CDX index
# (minus the shard id) for the probed subset: reuse the CDX oracle's
# CTE chain with a filtered final projection.
_ZIPNUM_ORACLE = _CDX_ORACLE[: _CDX_ORACLE.rindex("SELECT")] + """SELECT
       'http://example.com/doc/' || doc_id AS urlkey,
       '20240101000000' AS cdx_ts,
       'http://example.com/doc/' || doc_id AS url,
       'text/html' AS mime,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status,
       md5(text) AS digest,
       rec_offset AS offset,
       CAST(rec_len AS BIGINT) AS length,
       'urn:uuid:doc-' || doc_id AS record_id
FROM rows_ WHERE doc_id % 17 = 0"""


@register("corpus_cdx_zipnum_lookup", _ZIPNUM_ORACLE)
def corpus_cdx_zipnum_lookup(spark, sf_dir):
    """ZipNum sharded CDX, end to end — how production CDX collections
    stay seekable at billions of captures: the capture index sorts per
    shard, chunks into independently-gzipped blocks, a tiny secondary
    index (first urlkey + byte offset/length per block) rides next to
    the wire-format shard files, and a LOOKUP binary-searches the
    index and gunzips only the candidate blocks (structurally proven
    in the unit test: a corrupted non-candidate block never breaks a
    lookup).  Here every 17th capture is probed through the full
    write → index → seek → slice → gunzip → parse chain, and the
    oracle recomputes each returned capture row — including the
    record's WARC offset/length riding inside the JSON — closed-form.
    Plan: probes broadcast into the O(blocks) index (the ANN
    query-set contract), one argmax-range groupBy, one Arrow pass
    over matched blocks only."""
    from opentsdb_aura_spark.operators.containers import (
        cdx_index,
        synthesize_warc,
        warc_records,
        write_zipnum_cdx,
        zipnum_idx,
        zipnum_lookup,
        zipnum_shard_files,
    )

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF, http_envelope=True)
    idx = cdx_index(warc_records(files, with_payload=True))
    blocks = write_zipnum_cdx(idx, lines_per_block=16)
    probes = docs_raw(spark, sf_dir).where(F.col("doc_id") % 17 == 0).select(
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id").cast("long")).alias("urlkey")
    )
    return zipnum_lookup(zipnum_shard_files(blocks), zipnum_idx(blocks), probes)


_URL_FIXTURE = """WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 4 AS BIGINT) AS k,
         CAST(doc_id % 6 AS BIGINT) AS p
  FROM documents),
u AS (
  SELECT doc_id, k, p,
    CASE p
      WHEN 0 THEN 'http://h' || k || '.example/a/b/c'
      WHEN 1 THEN 'http://h' || k || '.example/img/' || doc_id || '.jpg'
      WHEN 2 THEN 'http://h' || k || '.example' || repeat('/d', 13) || '/x'
      WHEN 3 THEN 'http://h' || k || '.example/p?a0=1&a1=1&a2=1&a3=1&a4=1&a5=1&a6=1&a7=1&a8=1&a9=1'
      WHEN 4 THEN 'http://12345678' || k || '.example/x'
      ELSE 'http://blocked' || (k % 2) || '.example/x'
    END AS url
  FROM d)
"""


@register(
    "corpus_url_prefilter",
    _URL_FIXTURE
    + """SELECT doc_id, url,
       CASE WHEN p = 4 THEN '12345678' || k || '.example'
            WHEN p = 5 THEN 'blocked' || (k % 2) || '.example'
            ELSE 'h' || k || '.example' END AS host,
       CASE p WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 14 ELSE 1 END AS path_depth,
       CAST(CASE p WHEN 0 THEN 6 WHEN 1 THEN length('/img/' || doc_id || '.jpg')
            WHEN 2 THEN 28 ELSE 2 END AS INTEGER) AS path_len,
       CASE WHEN p = 3 THEN 10 ELSE 0 END AS n_query_params,
       CASE WHEN p = 1 THEN 'jpg' ELSE '' END AS extension,
       round(CASE WHEN p = 4 THEN 9.0 / 17
                  WHEN p = 5 THEN 1.0 / 16
                  ELSE 0.1 END, 4) AS host_digit_ratio,
       p = 1 AS flag_media,
       p = 2 AS flag_deep_path,
       FALSE AS flag_long_path,
       p = 3 AS flag_query_bloat,
       p = 4 AS flag_digit_host,
       p = 5 AS flag_blocked_host,
       p = 0 AS url_keep
FROM u""",
)
def corpus_url_prefilter(spark, sf_dir):
    """Pre-fetch URL gating — where a crawl's fetch budget is actually
    decided (the fineweb/UT1-style prefilter: no byte of a skipped URL
    is ever fetched): per URL, string-derived features (host, path
    depth/length, query-param count, extension, host digit ratio) and
    one flag per skip rule — media/archive extension, calendar-trap
    depth, tracking bloat, digit-heavy throwaway host, blocklisted
    host — plus the composed ``url_keep``.  Six URL shapes are planted
    by residue and the oracle recomputes every feature, every flag,
    and the keep verdict closed-form.  All pure Catalyst projections;
    the blocklist is the single (AQE-sized) host-equi join."""
    from opentsdb_aura_spark.operators.containers import url_prefilter

    k = (F.col("doc_id") % 4).cast("long")
    p = (F.col("doc_id") % 6).cast("long")
    url = (
        F.when(p == 0, F.concat(F.lit("http://h"), k, F.lit(".example/a/b/c")))
        .when(p == 1, F.concat(F.lit("http://h"), k, F.lit(".example/img/"),
                               F.col("doc_id").cast("long"), F.lit(".jpg")))
        .when(p == 2, F.concat(F.lit("http://h"), k, F.lit(".example" + "/d" * 13 + "/x")))
        .when(p == 3, F.concat(F.lit("http://h"), k,
                               F.lit(".example/p?a0=1&a1=1&a2=1&a3=1&a4=1&a5=1&a6=1&a7=1&a8=1&a9=1")))
        .when(p == 4, F.concat(F.lit("http://12345678"), k, F.lit(".example/x")))
        .otherwise(F.concat(F.lit("http://blocked"), k % 2, F.lit(".example/x")))
    )
    urls = docs_raw(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"), url.alias("url"))
    blocked = spark.createDataFrame(
        [("blocked0.example",), ("blocked1.example",)], "host string"
    )
    out = url_prefilter(urls, blocked_hosts=blocked)
    return out.select(
        "doc_id", "url", "host", "path_depth", "path_len", "n_query_params",
        "extension", _r("host_digit_ratio", 4).alias("host_digit_ratio"),
        "flag_media", "flag_deep_path", "flag_long_path", "flag_query_bloat",
        "flag_digit_host", "flag_blocked_host", "url_keep",
    )


@register(
    "corpus_domain_graph",
    """WITH d AS (SELECT CAST(doc_id % 4 AS BIGINT) AS k FROM documents)
SELECT 'd' || k || '.co.uk' AS src_domain,
       'd' || ((k + 1) % 4) || '.co.uk' AS dst_domain,
       CAST(count(*) AS BIGINT) AS n_links
FROM d GROUP BY 1, 2""",
)
def corpus_domain_graph(spark, sf_dir):
    """The link graph folded to REGISTRABLE DOMAINS — the coarsest
    grain the public Common Crawl rankings publish, where a spam
    registration can't multiply its authority by minting subdomains:
    page edges between varying subdomains (``sub<p>.dK.co.uk`` →
    ``www.d(K+1).co.uk``) collapse onto the 3-label ``dK.co.uk``
    registrable domains (the two-label public-suffix fold), subdomain
    variety disappears into the counts, and the oracle re-derives all
    four weighted domain edges closed-form.  Same one-groupBy shape as
    host_graph; the weights feed pagerank(weight_col=...)."""
    from opentsdb_aura_spark.operators.containers import domain_graph

    k = (F.col("doc_id") % 4).cast("long")
    p = (F.col("doc_id") % 5).cast("long")
    edges = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("http://sub"), p, F.lit(".d"), k, F.lit(".co.uk/a")).alias("src_url"),
        F.concat(F.lit("http://www.d"), (k + 1) % 4, F.lit(".co.uk/b")).alias("dst_url"),
    )
    return domain_graph(edges)


@register(
    "corpus_cdx_revisit_index",
    """WITH g AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                         doc_id - (doc_id % 3) AS k FROM documents)
SELECT 'http://example.com/doc/' || doc_id AS urlkey,
       '20240101000000' AS cdx_ts,
       'http://example.com/doc/' || doc_id AS url,
       CASE WHEN doc_id = k THEN 'text/html' ELSE 'warc/revisit' END AS mime,
       CAST(CASE WHEN k % 7 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status,
       md5('payload-' || k) AS digest,
       'urn:uuid:doc-' || doc_id AS record_id
FROM g""",
)
def corpus_cdx_revisit_index(spark, sf_dir):
    """The r10 CDX layer and the r11 revisit dedup CLOSED into one
    loop — exactly how production replay works: HTTP captures whose
    BODIES repeat at different URLs (groups of 3 docs share
    'payload-k' behind per-capture framing variation) dedup on the
    body digest (digest-only mode: framing makes envelope bytes
    differ, so the payload digest, not the record digest, is the
    key), write as a deduplicated WARC with revisit records, re-read,
    and index: originals index as usual; revisits index under their
    OWN urlkey with mime 'warc/revisit' and the ORIGINAL's digest and
    status resolved through WARC-Refers-To.  The oracle re-derives
    every row closed-form — a wrong original, a lost revisit, or a
    digest computed on the wrong layer (envelope vs body) all break
    the hash.  Plan: one window (dedup plan), WET-shape pack, one
    Arrow re-parse, ONE equi-join of revisit rows onto the response
    index."""
    from opentsdb_aura_spark.operators.containers import (
        cdx_index_with_revisits,
        http_responses,
        mark_revisits,
        synthesize_warc,
        warc_records,
        write_revisit_warc_files,
    )

    k = (F.col("doc_id") - F.col("doc_id") % 3).cast("long")
    docs2 = docs_raw(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("payload-"), k).alias("text"),
    )
    files = synthesize_warc(docs2, docs_per_file=_DPF, http_envelope=True)
    resp = http_responses(
        warc_records(files, with_payload=True),
        extra_cols=("offset", "record_length", "payload"),
    )
    marked = mark_revisits(resp, digest_col="body_md5", key_on_url=False)
    dedup = write_revisit_warc_files(marked, digest_col="body_md5")
    out = cdx_index_with_revisits(warc_records(dedup, with_payload=True))
    return out.select(
        "urlkey", "cdx_ts", "url", "mime", "status", "digest", "record_id"
    )


@register(
    "corpus_redirect_frontier",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                         CAST(doc_id % 4 AS BIGINT) AS k
                  FROM documents WHERE doc_id % 5 = 0)
SELECT CASE WHEN doc_id % 2 = 0
            THEN 'http://h' || k || '.example/moved/' || doc_id
            ELSE 'https://cdn.example/m/' || doc_id END AS frontier_url,
       CAST(1 AS BIGINT) AS n_refs
FROM d""",
)
def corpus_redirect_frontier(spark, sf_dir):
    """HTTP redirects followed into the frontier — ~a third of real
    fetches answer 3xx, and a crawler that drops them loses the moved
    half of the web: captures where every 5th fetch answers
    ``301 Moved Permanently`` carry a Location header (RFC 9110
    §10.2.2 — relative references allowed), which resolves against
    the fetch URI (root-relative joins the origin; absolute passes
    through), canonicalizes, and enters the frontier exactly like a
    discovered link.  The oracle re-derives every redirect target
    closed-form; 200 responses contribute nothing.  One Arrow
    envelope pass (the Location header is a typed column, no second
    parse) + the frontier groupBy."""
    from opentsdb_aura_spark.operators.containers import (
        canonicalize_url,
        http_responses,
        resolve_href,
    )

    doc = F.col("doc_id").cast("long")
    k = (doc % 4).cast("long")
    body = F.concat(F.lit("ok-"), doc)
    redirect = F.concat(
        F.lit("HTTP/1.1 301 Moved Permanently\r\nLocation: "),
        F.when(doc % 2 == 0, F.concat(F.lit("/moved/"), doc))
        .otherwise(F.concat(F.lit("https://cdn.example/m/"), doc)),
        F.lit("\r\nContent-Length: 0\r\n\r\n"),
    )
    ok = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Length: "),
        F.length(body).cast("string"),
        F.lit("\r\n\r\n"),
        body,
    )
    caps = docs_raw(spark, sf_dir).select(
        F.expr(f"CAST(doc_id DIV {_DPF} AS LONG)").alias("file_id"),
        F.concat(F.lit("urn:uuid:cap-"), doc).alias("record_id"),
        F.concat(F.lit("http://h"), k, F.lit(".example/old/"), doc).alias("target_uri"),
        F.when(doc % 5 == 0, redirect).otherwise(ok).cast("binary").alias("payload"),
    )
    resp = http_responses(caps)
    return (
        resp.where(
            F.col("status_code").between(300, 399) & F.col("location").isNotNull()
        )
        .select(
            canonicalize_url(
                resolve_href("target_uri", F.col("location"))
            ).alias("frontier_url")
        )
        .where(F.col("frontier_url").isNotNull())
        .groupBy("frontier_url")
        .agg(F.count("*").alias("n_refs"))
    )


@register(
    "corpus_warc_truncated",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                         octet_length(encode(text)) AS L,
                         text
                  FROM documents)
SELECT 'urn:uuid:doc-' || doc_id AS record_id,
       CASE WHEN L > 64 THEN 'length' END AS truncated,
       CAST(least(L, 64) AS BIGINT) AS content_length,
       md5(CASE WHEN L > 64 THEN substring(text, 1, 64) ELSE text END) AS payload_md5
FROM d""",
)
def corpus_warc_truncated(spark, sf_dir):
    """Bounded-fetch truncation (ISO 28500 §5.13): a production
    crawler caps response size, stores the PREFIX, and marks the
    record ``WARC-Truncated: length`` — curation then knows a short
    doc is cut, not complete.  Fixture captures write with a 64-byte
    cap; the re-read surfaces the reason as a typed column, and the
    oracle recomputes, per doc, whether the cap bit, the stored
    prefix's byte length, and the PREFIX digest (a digest of the full
    text would mean the writer lied about what it stored; the fixture
    corpus is pure ASCII — asserted by the generator — so the oracle's
    64-CHAR substring is the writer's 64-BYTE prefix).  Same one Arrow
    pass as every record scan."""
    from opentsdb_aura_spark.operators.containers import synthesize_warc, warc_records

    files = synthesize_warc(docs_raw(spark, sf_dir), docs_per_file=_DPF, truncate_at=64)
    recs = warc_records(files).where(F.col("warc_type") == "response")
    return recs.select("record_id", "truncated", "content_length", "payload_md5")


@register(
    "corpus_recrawl_304",
    """WITH caps AS (
  SELECT 'http://example.com/page/' || (doc_id % 100) AS url,
         CAST(1704067200 + (doc_id // 100) * 86400 AS DOUBLE) AS ts,
         CASE WHEN (doc_id // 100) % 4 = 3 THEN NULL
              ELSE md5('http://example.com/page/' || (doc_id % 100) || ':'
                       || ((doc_id // 100) // 3)) END AS digest,
         CASE WHEN (doc_id // 100) % 4 = 3 THEN 304 ELSE 200 END AS status
  FROM documents),
e AS (SELECT url, ts,
        last_value(digest IGNORE NULLS) OVER (
          PARTITION BY url ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS eff
      FROM caps),
m AS (SELECT url, ts,
        CASE WHEN lag(eff) OVER w IS NOT NULL AND eff IS NOT NULL
                  AND eff <> lag(eff) OVER w THEN 1 ELSE 0 END AS chg,
        row_number() OVER w AS rn
      FROM e WINDOW w AS (PARTITION BY url ORDER BY ts)),
"""
    + _RECRAWL_POLICY_SQL,
)
def corpus_recrawl_304(spark, sf_dir):
    """Conditional fetches feeding the revisit policy — the crawl-
    bandwidth optimization 304s exist for (RFC 9110 §15.4.5): a
    ``304 Not Modified`` capture has no body and no digest, but it IS
    unchanged-content evidence, so its effective digest is the last
    body-bearing capture's and it EXTENDS the unchanged streak instead
    of poisoning the digest comparison with a NULL.  Every 4th fixture
    capture is a 304 over the change-every-3rd-version sequence; the
    oracle re-runs the identical ignore-nulls carry-forward +
    lag/aggregate policy, value-hashing counts, streaks, and every
    scheduled timestamp.  Same one-window-one-groupBy plan (the
    carry-forward is a second expression over the SAME window key —
    no extra shuffle)."""
    from opentsdb_aura_spark.operators.containers import recrawl_schedule

    _, i, _, url, capture_ts = _capture_history()
    caps = docs_raw(spark, sf_dir).select(
        url.alias("url"),
        capture_ts,
        F.when(i % 4 != 3, _version_digest(url)).alias("digest"),
        F.when(i % 4 == 3, F.lit(304)).otherwise(F.lit(200)).alias("status"),
    )
    out = recrawl_schedule(caps, status_col="status")
    return out.select(
        "url", "n_captures", "n_changes",
        _r("change_rate", 6).alias("change_rate"),
        "streak",
        _r("next_fetch_ts", 6).alias("next_fetch_ts"),
    )


@register(
    "corpus_nofollow_anchor_index",
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS total,
                         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS even
                  FROM documents)
SELECT 'http://h.example/a' AS target_url, even AS n_refs, 'alpha' AS anchor_texts FROM n
UNION ALL SELECT 'http://h.example/b', total, 'beta' FROM n""",
)
def corpus_nofollow_anchor_index(spark, sf_dir):
    """rel=nofollow honored where it matters — the endorsement
    aggregation (nofollow is a ranking opt-out, NOT politeness:
    discovery may follow, but the link must not vote): odd pages link
    /a with rel=nofollow and even pages without, so /a's inbound count
    equals EXACTLY the even-page count while the always-followed /b
    keeps the full corpus count — an exclusion bug moves a hash-checked
    number, not a boolean.  Per-link rel parsing (quoting/order/case
    variants) is unit-pinned; this pins the aggregation contract."""
    from opentsdb_aura_spark.operators.containers import anchor_text_index
    from opentsdb_aura_spark.operators.htmltext import html_links

    a_tag = (
        F.when(F.col("doc_id") % 2 == 0, F.lit('<a href="/a">Alpha</a>'))
        .otherwise(F.lit('<a rel="nofollow" href="/a">Alpha</a>'))
    )
    html = F.concat(
        F.lit("<html><body><p>some page words here</p>"),
        a_tag,
        F.lit('<a href="/b">Beta</a></body></html>'),
    )
    pages = docs_raw(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        html.alias("html"),
        F.lit("http://h.example/p").alias("page_url"),
    )
    links = html_links(pages, keep_cols=("doc_id", "page_url"))
    # Serialize the array at the catalog boundary (driver hasher can't hash
    # list cells) — operator return stays an array.
    return anchor_text_index(links).select(
        "target_url",
        "n_refs",
        F.array_join("anchor_texts", "|").alias("anchor_texts"),
    )


@register(
    "corpus_page_directives",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                         CAST(doc_id % 3 AS BIGINT) AS p,
                         CAST(doc_id % 4 AS BIGINT) AS r FROM documents)
SELECT doc_id,
       CASE WHEN p = 0 THEN 'http://example.com/c/' || (doc_id % 7) END AS canonical_href,
       r IN (1, 3) AS noindex,
       r IN (2, 3) AS nofollow
FROM d""",
)
def corpus_page_directives(spark, sf_dir):
    """Head-level directives a curation crawl must honor:
    ``rel=canonical`` (the site's own URL-dedup assertion) and
    ``<meta name=robots>`` noindex/nofollow (the in-page robots
    controls; ``none`` = both).  Every third fixture page declares a
    canonical; the robots meta cycles through index,follow /
    noindex / nofollow / none — the oracle recomputes every
    declaration closed-form, so attribute parsing (order/case/quoting
    variants unit-pinned), first-canonical-wins, and the
    none-implies-both rule are value-hashed.  One 1→1 Arrow pass."""
    from opentsdb_aura_spark.operators.htmltext import html_page_directives

    doc = F.col("doc_id").cast("long")
    p = (doc % 3).cast("long")
    r = (doc % 4).cast("long")
    canon = F.when(
        p == 0,
        F.concat(F.lit('<link rel="canonical" href="http://example.com/c/'), doc % 7, F.lit('">')),
    ).otherwise(F.lit(""))
    robots = (
        F.when(r == 0, F.lit('<meta name="robots" content="index, follow">'))
        .when(r == 1, F.lit("<meta name=robots content='noindex'>"))
        .when(r == 2, F.lit('<META NAME="ROBOTS" CONTENT="NOFOLLOW">'))
        .otherwise(F.lit('<meta name="robots" content="none">'))
    )
    html = F.concat(
        F.lit("<html><head><title>t</title>"), canon, robots,
        F.lit("</head><body><p>body words</p></body></html>"),
    )
    pages = docs_raw(spark, sf_dir).select(doc.alias("doc_id"), html.alias("html"))
    return html_page_directives(pages)


@register(
    "corpus_canonical_dedup",
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
              WHERE doc_id % 3 = 0)
SELECT 'http://example.com/c/' || (doc_id % 7) AS canonical_url,
       CAST(count(*) AS BIGINT) AS dup_count,
       min(doc_id) AS keep_id
FROM d GROUP BY 1 HAVING count(*) > 1""",
)
def corpus_canonical_dedup(spark, sf_dir):
    """URL-variant dedup by the site's OWN assertion — rel=canonical
    beats any URL heuristic because the publisher names the canonical
    directly (tracking variants, pagination views, and mirrors all
    declare one target): pages carrying a canonical collapse onto the
    resolved canonical URL; families with >1 member report their size
    and the surviving doc (min id), exactly the url_duplicates
    contract.  The oracle regroups the declared targets closed-form.
    One Arrow directives pass + ONE groupBy on the canonical key —
    the url_duplicates scale shape with a better key."""
    from opentsdb_aura_spark.operators.containers import (
        canonicalize_url,
        resolve_href,
    )
    from opentsdb_aura_spark.operators.htmltext import html_page_directives

    doc = F.col("doc_id").cast("long")
    p = (doc % 3).cast("long")
    canon = F.when(
        p == 0,
        F.concat(F.lit('<link rel="canonical" href="http://example.com/c/'), doc % 7, F.lit('">')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), canon, F.lit("</head><body><p>w</p></body></html>")
    )
    pages = docs_raw(spark, sf_dir).select(
        doc.alias("doc_id"),
        html.alias("html"),
        F.concat(F.lit("http://example.com/p/"), doc).alias("page_url"),
    )
    dirs = html_page_directives(pages, keep_cols=("doc_id", "page_url"))
    fam = dirs.select(
        F.col("doc_id"),
        canonicalize_url(
            F.coalesce(
                resolve_href("page_url", F.col("canonical_href")), F.col("page_url")
            )
        ).alias("canonical_url"),
    )
    return (
        fam.groupBy("canonical_url")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


@register(
    "corpus_frontier_meta_nofollow",
    """WITH n AS (SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS even
              FROM documents)
SELECT 'http://example.com/x' AS frontier_url, even AS n_refs FROM n
UNION ALL SELECT 'http://example.com/y', even FROM n""",
)
def corpus_frontier_meta_nofollow(spark, sf_dir):
    """Page-level robots nofollow honored at link extraction — the
    in-page twin of robots.txt (a nofollow page's links neither vote
    nor schedule): odd fixture pages declare
    ``<meta name=robots content=nofollow>``, so BOTH frontier targets
    count exactly the even pages — the directive check runs inside the
    same Arrow pass that extracts links (the page decodes once).  A
    gate slip moves hash-checked counts."""
    from opentsdb_aura_spark.operators.containers import canonicalize_url, resolve_href
    from opentsdb_aura_spark.operators.htmltext import html_links

    doc = F.col("doc_id").cast("long")
    meta = F.when(
        doc % 2 == 1, F.lit('<meta name="robots" content="nofollow">')
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), meta,
        F.lit('</head><body><a href="/x">X</a><a href="/y">Y</a></body></html>'),
    )
    pages = docs_raw(spark, sf_dir).select(
        doc.alias("doc_id"),
        html.alias("html"),
        F.lit("http://example.com/p").alias("page_url"),
    )
    links = html_links(pages, keep_cols=("doc_id", "page_url"), respect_meta_nofollow=True)
    return (
        links.select(
            canonicalize_url(resolve_href("page_url", "href")).alias("frontier_url")
        )
        .where(F.col("frontier_url").isNotNull())
        .groupBy("frontier_url")
        .agg(F.count("*").alias("n_refs"))
    )


@register(
    "corpus_sitemap_fetch_plan",
    """WITH k AS (SELECT DISTINCT CAST(doc_id % 4 AS BIGINT) AS k FROM documents),
i AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS i),
sm AS (SELECT k, i, 'http://h' || k || '.example/s/' || i AS loc,
              CAST(epoch(strptime('2024-01-' || lpad(CAST((k + i) % 28 + 1 AS VARCHAR), 2, '0'),
                                  '%Y-%m-%d')) AS DOUBLE) AS lastmod_ts
       FROM k CROSS JOIN i),
cap AS (SELECT k, i,
               CAST(epoch(strptime('2024-01-08', '%Y-%m-%d')) AS DOUBLE) AS last_capture_ts
        FROM k CROSS JOIN i WHERE i < 2)
SELECT sm.loc, sm.lastmod_ts, cap.last_capture_ts,
       CASE WHEN cap.last_capture_ts IS NULL THEN TRUE
            ELSE sm.lastmod_ts > cap.last_capture_ts END AS needs_fetch
FROM sm LEFT JOIN cap ON sm.k = cap.k AND sm.i = cap.i""",
)
def corpus_sitemap_fetch_plan(spark, sf_dir):
    """Conditional discovery — the sitemaps-protocol half of the
    crawl-bandwidth story (lastmod exists so a crawler can SKIP
    unchanged listed URLs): the fixture urlsets' per-URL lastmod dates
    meet a capture history where entries 0-1 of every host were last
    fetched on Jan 8 and entry 2 never — never-captured always
    fetches, and captured entries refetch exactly when their lastmod
    postdates the capture.  The oracle recomputes every timestamp and
    verdict closed-form (DuckDB strptime vs Spark to_timestamp pin the
    date parsing against each other).  One groupBy + one equi-join on
    the O(listed) dim."""
    from opentsdb_aura_spark.operators.robots import (
        parse_sitemap_files,
        sitemap_fetch_plan,
        synthesize_sitemaps,
    )

    hosts = docs_raw(spark, sf_dir).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("long"), F.lit(".example")).alias("host")
    ).distinct()
    listed = parse_sitemap_files(synthesize_sitemaps(hosts))
    caps = listed.where(F.regexp_extract(F.col("loc"), r"/s/(\d+)$", 1).cast("int") < 2).select(
        F.col("loc").alias("url"),
        F.to_timestamp(F.lit("2024-01-08"), "yyyy-MM-dd").cast("double").alias("capture_ts"),
    )
    return sitemap_fetch_plan(listed, caps)
