"""Multimodal decode/feature queries (image, audio, video).

Split from the monolithic catalog.py (round 5): registration
side-effects only — query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import _r  # shared underscore helper


# ============================================================ multimodal plumbing


@register(
    "multimodal_media_stats",
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(max(doc_id % 1920 + 1) AS INTEGER) AS max_width,
       CAST(max(doc_id % 1080 + 1) AS INTEGER) AS max_height
FROM documents GROUP BY 1""",
)
def multimodal_media_stats(spark, sf_dir):
    """Binary media columns + typed metadata: JVM-side stats without
    decoding (the decode itself is a stubbed mapInPandas — see
    multimodal_features)."""
    media = attach_fake_media(docs(spark, sf_dir))
    return media_stats(media).select(
        "kind",
        F.col("n_media").cast("bigint").alias("n_media"),
        F.col("total_bytes").cast("bigint").alias("total_bytes"),
        F.col("max_width").cast("int").alias("max_width"),
        F.col("max_height").cast("int").alias("max_height"),
    )


@register(
    "multimodal_features",
    """SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(range(1, least(strlen(text), 256) + 1),
                     i -> ascii(substr(text, i, 1)))) AS BIGINT) AS checksum
FROM documents WHERE doc_id < 200""",
)
def multimodal_features(spark, sf_dir):
    """Arrow-batched mapInPandas feature extraction over binary media
    (deterministic fake decode; real decoder is a drop-in)."""
    media = attach_fake_media(docs_raw(spark, sf_dir)).where(F.col("media_id") < 200)
    return extract_features(media, fake=True).select("media_id", "kind", "n_bytes", "checksum")


@register(
    "multimodal_jpeg_decode",
    """SELECT doc_id AS media_id,
       CAST(doc_id % 16 + 1 AS DOUBLE) AS width,
       CAST(doc_id % 12 + 1 AS DOUBLE) AS height,
       CAST((doc_id % 16 + 1) * (doc_id % 12 + 1) * 3 AS BIGINT) AS n_bytes
FROM documents WHERE doc_id < 100""",
)
def multimodal_jpeg_decode(spark, sf_dir):
    """REAL JPEG decode end-to-end (operators/jpeg.py: Huffman +
    dequant + IDCT, stdlib/numpy only) over a MIXED corpus: docs
    round-robin 4:4:4 / 4:2:2 / 4:2:0 baseline AND progressive
    (SOF2, 10-scan spectral-selection + successive-approximation)
    payloads, so the T.81 A.2.3 interleaved-MCU path and the G.1.2
    progressive scan accumulator must both parse correctly.  JPEG is
    lossy, so unlike ``multimodal_real_decode`` the oracle pins the
    EXACT decoded dimensions/byte counts (wrong MCU/scan walk → parse
    error or wrong dims) while pixel-level error is bounded in pytest
    (flat fields ±3, structured PSNR by layout, and progressive ==
    baseline pixel identity)."""
    from opentsdb_aura_spark.operators.multimodal import attach_image_media

    media = attach_image_media(
        docs_raw(spark, sf_dir).where(F.col("doc_id") < 100),
        formats=("jpeg", "jpeg422", "jpeg420", "jpeg_prog"),
    )
    res = extract_features(media, fake=False)
    return res.select(
        "media_id",
        F.col("feat")[0].alias("width"),
        F.col("feat")[1].alias("height"),
        "n_bytes",
    )


@register(
    "multimodal_real_decode",
    """WITH d AS (
  SELECT doc_id, text, strlen(text) AS L,
         doc_id % 16 + 1 AS w, doc_id % 12 + 1 AS h
  FROM documents WHERE doc_id < 100),
px AS (
  SELECT doc_id, w, h,
         list_transform(range(0, w * h * 3),
                        j -> ascii(substr(text, (j % L) + 1, 1))) AS p
  FROM d)
SELECT doc_id AS media_id,
       CAST(w * h * 3 AS BIGINT) AS n_bytes,
       CAST(list_sum(p) AS BIGINT) AS checksum,
       round(list_avg(list_transform(range(0, w * h), j -> p[3 * j + 1])), 6) AS mean_r,
       round(list_avg(list_transform(range(0, w * h), j -> p[3 * j + 2])), 6) AS mean_g,
       round(list_avg(list_transform(range(0, w * h), j -> p[3 * j + 3])), 6) AS mean_b
FROM px""",
)
def multimodal_real_decode(spark, sf_dir):
    """REAL image decode end-to-end over a MIXED-FORMAT corpus: each
    doc becomes a genuine image — BMP, PPM, RGB PNG, paletted PNG
    (1/2/4/8-bit), Adam7-interlaced PNG, GIF, or interlaced GIF,
    round-robined by doc id (pixels derived from the doc text by a
    SQL-expressible rule).  ``extract_features(fake=False)`` parses
    each binary — BMP header/bottom-up/BGR/padding, PPM header, PNG
    zlib-inflate + scanline unfilter + palette expansion + Adam7
    scatter, GIF LZW + color tables — and the oracle recomputes
    pixel-sum/channel-mean features from the rule.  Values match ONLY
    if every codec round-trips correctly, so this is the non-stub
    proof of the multimodal decode path."""
    from opentsdb_aura_spark.operators.multimodal import attach_image_media

    media = attach_image_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    res = extract_features(media, fake=False)
    return res.select(
        "media_id",
        "n_bytes",
        "checksum",
        _r(F.col("feat")[2], 6).alias("mean_r"),
        _r(F.col("feat")[3], 6).alias("mean_g"),
        _r(F.col("feat")[4], 6).alias("mean_b"),
    )


@register(
    "multimodal_resize_decode",
    """WITH d AS (
  SELECT doc_id, text, strlen(text) AS L,
         doc_id % 16 + 1 AS w, doc_id % 12 + 1 AS h
  FROM documents WHERE doc_id < 100),
m AS (
  SELECT doc_id,
         list_transform(range(0, 20),
                        ji -> (((ji // 5) * h // 4) * w + ((ji % 5) * w // 5)) * 3) AS src,
         text, L
  FROM d),
px AS (
  SELECT doc_id,
         list_transform(src, s -> ascii(substr(text, (s % L) + 1, 1))) AS pr,
         list_transform(src, s -> ascii(substr(text, ((s + 1) % L) + 1, 1))) AS pg,
         list_transform(src, s -> ascii(substr(text, ((s + 2) % L) + 1, 1))) AS pb
  FROM m)
SELECT doc_id AS media_id,
       CAST(60 AS BIGINT) AS n_bytes,
       CAST(list_sum(pr) + list_sum(pg) + list_sum(pb) AS BIGINT) AS checksum,
       round(list_avg(pr), 6) AS mean_r,
       round(list_avg(pg), 6) AS mean_g,
       round(list_avg(pb), 6) AS mean_b
FROM px""",
)
def multimodal_resize_decode(spark, sf_dir):
    """REAL resize end-to-end: decode each mixed-format image,
    nearest-neighbor sample to 5×4 (vectorized numpy index map),
    re-encode BMP, decode THAT and feature-extract — the oracle
    recomputes the sampled pixel means from the generation rule and
    the floor-index map, so both codec directions and the index
    arithmetic must round-trip exactly."""
    from opentsdb_aura_spark.operators.multimodal import attach_image_media, resize_images

    media = attach_image_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    resized = resize_images(media, 5, 4, fake=False).select(
        "media_id", "kind", F.col("resized").alias("payload"),
        "width", "height", "sample_rate", "n_frames",
    )
    res = extract_features(resized, fake=False)
    return res.select(
        "media_id",
        "n_bytes",
        "checksum",
        _r(F.col("feat")[2], 6).alias("mean_r"),
        _r(F.col("feat")[3], 6).alias("mean_g"),
        _r(F.col("feat")[4], 6).alias("mean_b"),
    )


@register(
    "multimodal_audio_decode",
    """WITH d AS (
  SELECT doc_id, text, strlen(text) AS L,
         doc_id % 64 + 16 AS n, 8000 + (doc_id % 4) * 4000 AS rate
  FROM documents WHERE doc_id < 100),
s AS (
  SELECT doc_id, rate, n,
         list_transform(range(0, n),
                        j -> (ascii(substr(text, (j % L) + 1, 1)) - 80) * 256) AS smp
  FROM d)
SELECT doc_id AS media_id,
       CAST(rate AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       round(list_avg(smp), 6) AS mean_amp,
       round(sqrt(list_avg(list_transform(smp, x -> CAST(x AS DOUBLE) * x))), 6) AS rms,
       CAST(list_sum(list_transform(range(1, n),
                                    j -> CASE WHEN smp[j] * smp[j + 1] < 0 THEN 1 ELSE 0 END))
            AS BIGINT) AS zero_crossings
FROM s""",
)
def multimodal_audio_decode(spark, sf_dir):
    """REAL audio decode end-to-end: every doc becomes a genuine mono
    PCM16 WAV (operators/av.py — RIFF chunk walk), samples derived
    from the doc text by a SQL rule, and ``extract_audio_features``
    must parse the container to produce sample-rate / RMS /
    zero-crossing values the oracle recomputes from the rule.  Wrong
    chunk offsets, endianness, or width → value mismatch."""
    from opentsdb_aura_spark.operators.av import attach_audio_media, extract_audio_features

    media = attach_audio_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    res = extract_audio_features(media)
    return res.select(
        "media_id",
        "sample_rate",
        "n_samples",
        _r(F.col("mean_amp"), 6).alias("mean_amp"),
        _r(F.col("rms"), 6).alias("rms"),
        "zero_crossings",
    )


@register(
    "multimodal_video_frames",
    """WITH d AS (
  SELECT doc_id, text, strlen(text) AS L,
         doc_id % 8 + 2 AS w, doc_id % 6 + 2 AS h, doc_id % 10 + 3 AS nf
  FROM documents WHERE doc_id < 100),
f AS (
  SELECT doc_id, text, L, w, h, unnest(range(0, nf)) AS fi
  FROM d),
px AS (
  SELECT doc_id, fi, w, h,
         list_transform(range(0, w * h),
                        j -> ascii(substr(text, ((fi * w * h + j) % L) + 1, 1))) AS p
  FROM f WHERE fi % 2 = 0)
SELECT doc_id AS media_id,
       CAST(fi AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(list_sum(p) AS BIGINT) AS checksum,
       round(list_avg(p), 6) AS mean_luma
FROM px""",
)
def multimodal_video_frames(spark, sf_dir):
    """REAL video container parse + frame sampling: every doc becomes
    a genuine Y4M (YUV4MPEG2, Cmono) stream, ``sample_video_frames``
    parses the header/FRAME markers and keeps every 2nd frame (the
    1→many mapInPandas fan-out, now real), and the oracle recomputes
    per-frame checksum / mean luma from the generation rule."""
    from opentsdb_aura_spark.operators.av import attach_video_media, sample_video_frames

    media = attach_video_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    res = sample_video_frames(media, every_n=2)
    return res.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        "n_pixels",
        "checksum",
        _r(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@register("multimodal_audio_spectral")  # FFT not SQL-expressible: rows-only
def multimodal_audio_spectral(spark, sf_dir):
    """Spectral audio features over the real-WAV corpus: rFFT band
    energies, spectral centroid, and the PARSEVAL PAIR — time-domain
    and frequency-domain energy emitted side by side, so every row
    carries its own cross-domain correctness check (asserted ≤1e-9
    relative in tests/test_pipeline_ops.py, along with a planted-tone
    centroid bound).  No SQL engine can FFT, hence rows-only."""
    from opentsdb_aura_spark.operators.av import attach_audio_media, extract_audio_spectral_features

    media = attach_audio_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    res = extract_audio_spectral_features(media)
    return res.select(
        "media_id",
        "sample_rate",
        "n_samples",
        _r("energy_td", 2).alias("energy_td"),
        _r("spectral_centroid_hz", 2).alias("spectral_centroid_hz"),
    )


@register(
    "multimodal_decode_skip_errors",
    """SELECT doc_id AS media_id,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 0
                 ELSE (doc_id % 16 + 1) * (doc_id % 12 + 1) * 3 END AS BIGINT) AS n_bytes,
       doc_id % 10 != 0 AS decoded
FROM documents WHERE doc_id < 100""",
)
def multimodal_decode_skip_errors(spark, sf_dir):
    """Crawl-grade decode robustness, hash-checked: every 10th payload
    of the mixed-format corpus is truncated to 10 bytes (which no
    format survives), and ``extract_features(skip_errors=True)`` must
    convert exactly those into error ROWS — one bad document costs one
    row, never the stage — while every intact payload still decodes to
    its exact byte count.  The oracle pins which ids fail and the
    decoded sizes of the rest, so both the skip path and the
    not-over-skipping property are value-checked."""
    from opentsdb_aura_spark.operators.multimodal import attach_image_media

    media = attach_image_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    corrupted = media.withColumn(
        "payload",
        F.when(
            F.col("media_id") % 10 == 0, F.expr("substring(payload, 1, 10)")
        ).otherwise(F.col("payload")),
    )
    res = extract_features(corrupted, fake=False, skip_errors=True)
    return res.select("media_id", "n_bytes", F.col("error").isNull().alias("decoded"))


@register(
    "multimodal_video_scene_cuts",
    """WITH d AS (
  SELECT doc_id, text, strlen(text) AS L,
         doc_id % 8 + 2 AS w, doc_id % 6 + 2 AS h, doc_id % 10 + 3 AS nf
  FROM documents WHERE doc_id < 100),
m AS (
  SELECT doc_id, nf,
         list_transform(range(1, nf),
           f -> list_avg(list_transform(range(0, w * h),
                 j -> abs((ascii(substr(text, ((f * w * h + j) % L) + 1, 1)) % 256)
                        - (ascii(substr(text, (((f - 1) * w * h + j) % L) + 1, 1)) % 256))))) AS mads
  FROM d)
SELECT doc_id AS media_id,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(len(list_filter(mads, x -> x > 10.0)) AS BIGINT) AS n_cuts,
       round(list_avg(mads), 6) AS mean_frame_diff
FROM m""",
)
def multimodal_video_scene_cuts(spark, sf_dir):
    """REAL video scene-change detection, hash-checked: decode each
    Y4M stream, compute the mean absolute luma difference between
    consecutive frames, and count cuts above the threshold.  The
    frame pixels derive from the doc text by a SQL rule, so the
    oracle recomputes every per-transition difference — the values
    match ONLY if the container parse, frame slicing, and diff
    arithmetic are all exact."""
    from opentsdb_aura_spark.operators.av import attach_video_media, video_scene_changes

    media = attach_video_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    res = video_scene_changes(media, threshold=10.0)
    return res.select(
        "media_id", "n_frames", "n_cuts", _r("mean_frame_diff", 6).alias("mean_frame_diff")
    )


@register(
    "multimodal_image_dhash",
    """WITH d AS (
  SELECT doc_id, text, strlen(text) AS L,
         doc_id % 16 + 1 AS w, doc_id % 12 + 1 AS h
  FROM documents WHERE doc_id < 100),
px AS (
  SELECT doc_id,
         list_transform(range(0, 8), i ->
           list_transform(range(0, 9), j ->
             ( ascii(substr(text, ((((i * h // 8) * w + (j * w // 9)) * 3    ) % L) + 1, 1))
             + ascii(substr(text, ((((i * h // 8) * w + (j * w // 9)) * 3 + 1) % L) + 1, 1))
             + ascii(substr(text, ((((i * h // 8) * w + (j * w // 9)) * 3 + 2) % L) + 1, 1))
             ) // 3)) AS grid
  FROM d)
SELECT doc_id AS media_id,
       array_to_string(list_transform(range(0, 64), k ->
         CASE WHEN grid[k // 8 + 1][k % 8 + 2] > grid[k // 8 + 1][k % 8 + 1]
              THEN '1' ELSE '0' END), '') AS dhash_bits
FROM px""",
)
def multimodal_image_dhash(spark, sf_dir):
    """Perceptual image fingerprint (dHash), hash-checked end-to-end:
    decode every mixed-format image, integer grayscale, 9×8
    floor-index sample, 64 right-neighbor gradient bits.  The oracle
    recomputes the full bit string from the pixel rule, so the decode,
    the grayscale arithmetic, the sampling map, and the bit order must
    ALL match exactly — the strongest check a perceptual hash can
    carry.  The near-dup pair surface built on it is
    ``multimodal_dhash_near_pairs``."""
    from opentsdb_aura_spark.operators.multimodal import attach_image_media, image_dhash

    media = attach_image_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    return image_dhash(media).select("media_id", "dhash_bits")


# Shared by multimodal_dhash_near_pairs and multimodal_dhash_index_probe
# so the pixel rule, the planted transforms, and the bit derivation can
# never diverge between the two surfaces (same discipline as the
# _AFP/_VFP fragments below).
#
# Planted corpus: qualifying big images (>= the 9x8 sampling grid),
# every doc < 120 re-appears as an EXACT copy (id+9600: same w/h mod 48,
# DIFFERENT round-robin container format — Hamming 0 only if all codecs
# agree bit-for-bit) and docs 120-239 as a one-character-perturbed copy
# (id+19200, small gradient damage — usually <= 2 bits).  is_probe marks
# the planted copies; the all-pairs surface ignores it, the index-probe
# surface joins probe x base.
_DHASH_PLANTED_CORPUS_SQL = """slice AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < 500 AND doc_id % 16 + 1 >= 9 AND doc_id % 12 + 1 >= 8),
corpus AS (
  SELECT doc_id, text, 0 AS is_probe FROM slice
  UNION ALL
  SELECT doc_id + 9600, text, 1 FROM slice WHERE doc_id < 120
  UNION ALL
  SELECT doc_id + 19200,
         chr(33 + (ascii(substr(text, 1, 1)) + 7) % 90) || substr(text, 2), 1
  FROM slice WHERE doc_id >= 120 AND doc_id < 240)"""

# dHash bit derivation over corpus(doc_id, text, ...) — extra corpus
# columns (is_probe) ride through to bits via EXCLUDE projection.
_DHASH_BITS_SQL = """
d AS (
  SELECT *, length(text) AS L,
         doc_id % 16 + 1 AS w, doc_id % 12 + 1 AS h
  FROM corpus),
px AS (
  SELECT * EXCLUDE (text),
         list_transform(range(0, 8), i ->
           list_transform(range(0, 9), j ->
             ( ascii(substr(text, ((((i * h // 8) * w + (j * w // 9)) * 3    ) % L) + 1, 1))
             + ascii(substr(text, ((((i * h // 8) * w + (j * w // 9)) * 3 + 1) % L) + 1, 1))
             + ascii(substr(text, ((((i * h // 8) * w + (j * w // 9)) * 3 + 2) % L) + 1, 1))
             ) // 3)) AS grid
  FROM d),
bits AS (
  SELECT * EXCLUDE (grid, L, w, h),
         array_to_string(list_transform(range(0, 64), k ->
           CASE WHEN grid[k // 8 + 1][k % 8 + 2] > grid[k // 8 + 1][k % 8 + 1]
                THEN '1' ELSE '0' END), '') AS b
  FROM px)"""


def _dhash_planted_corpus(spark, sf_dir):
    """Spark twin of _DHASH_PLANTED_CORPUS_SQL: returns (base, planted)
    doc slices — base is the qualifying-image corpus, planted the
    exact (+9600) and one-char-perturbed (+19200) copies."""
    big = (F.col("doc_id") % 16 + 1 >= 9) & (F.col("doc_id") % 12 + 1 >= 8)
    base = (
        docs_raw(spark, sf_dir)
        .where((F.col("doc_id") < 500) & big)
        .select("doc_id", "text")
    )
    exact = base.where(F.col("doc_id") < 120).select(
        (F.col("doc_id") + 9600).alias("doc_id"), "text"
    )
    pert = base.where((F.col("doc_id") >= 120) & (F.col("doc_id") < 240)).select(
        (F.col("doc_id") + 19200).alias("doc_id"),
        F.expr(
            "concat(chr(33 + (ascii(substring(text, 1, 1)) + 7) % 90), substring(text, 2))"
        ).alias("text"),
    )
    return base, exact.unionByName(pert)


@register(
    "multimodal_dhash_near_pairs",
    f"""WITH {_DHASH_PLANTED_CORPUS_SQL},
{_DHASH_BITS_SQL}
SELECT CAST(a.doc_id AS BIGINT) AS media_a, CAST(c.doc_id AS BIGINT) AS media_b,
       CAST(len(list_filter(range(1, 65), k -> substr(a.b, k, 1) != substr(c.b, k, 1)))
            AS INTEGER) AS hamming
FROM bits a JOIN bits c ON a.doc_id < c.doc_id
WHERE len(list_filter(range(1, 65), k -> substr(a.b, k, 1) != substr(c.b, k, 1))) <= 2""",
)
def multimodal_dhash_near_pairs(spark, sf_dir):
    """Image near-dup pairs over the corpus dHashes (16-bit bands →
    bit_count Hamming ≤ 2), with a FULL value-hash oracle: at 4 bands
    and max_hamming=2 the banded join is exhaustive by pigeonhole (≤2
    differing bits touch ≤2 bands, so ≥2 of 4 bands must agree), so
    the output is EXACTLY every pair at Hamming ≤ 2 — and the per-image
    bit string is SQL-derivable (multimodal_image_dhash's oracle), so a
    DuckDB self-join with a character-diff Hamming recomputes the whole
    pair set.  The corpus plants near-dups so the pair surface is
    actually exercised: every qualifying doc < 120 gets an EXACT copy
    (shifted id ≡ 0 mod 48 → same w/h/pixels but a DIFFERENT round-robin
    container format — the pair lands at Hamming 0 only if all codecs
    agree bit-for-bit), and docs 120–239 get a one-character-perturbed
    copy (small gradient damage → usually ≤ 2 bits; both engines apply
    the identical rule, so borderline cases agree by construction).
    Restricted to images at least as large as the 9×8 sampling grid —
    smaller fixtures collapse to near-constant hashes (an honest dHash
    property: it fingerprints STRUCTURE, and a 3-pixel-wide image has
    almost none), which would flood the pair list with degenerate
    matches.  The planted-recall bound at unit scale lives in
    tests/test_pipeline_ops.py; the at-scale recall stage in
    tools/corpus_scale_validation.py."""
    from opentsdb_aura_spark.operators.multimodal import (
        attach_image_media,
        dhash_near_pairs,
        image_dhash,
    )

    base, planted = _dhash_planted_corpus(spark, sf_dir)
    media = attach_image_media(base.unionByName(planted))
    return dhash_near_pairs(image_dhash(media), max_hamming=2)


@register(
    "multimodal_gif_frames",
    """WITH d AS (
  SELECT doc_id, text, strlen(text) AS L,
         doc_id % 8 + 2 AS w, doc_id % 6 + 2 AS h, doc_id % 10 + 3 AS nf
  FROM documents WHERE doc_id < 100),
f AS (
  SELECT doc_id, text, L, w, h, unnest(range(0, nf)) AS fi
  FROM d),
px AS (
  SELECT doc_id, fi, w, h,
         list_transform(range(0, w * h), j ->
           coalesce(
             list_filter(
               list_reverse(list_transform(range(0, fi + 1), ff ->
                 CASE WHEN ff = 0
                        THEN ascii(substr(text, (j % L) + 1, 1)) % 256
                      WHEN j // w < h - 1 AND j % w < w - 1
                        THEN ascii(substr(text,
                               ((ff * w * h + (j // w) * (w - 1) + j % w) % L) + 1, 1)) % 256
                      ELSE NULL END)),
               v -> v IS NOT NULL AND v != 101)[1],
             0)) AS p
  FROM f WHERE fi % 2 = 0)
SELECT doc_id AS media_id,
       CAST(fi AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(list_sum(p) AS BIGINT) AS checksum,
       round(list_avg(p), 6) AS mean_luma
FROM px""",
)
def multimodal_gif_frames(spark, sf_dir):
    """ANIMATED GIF frame sampling, hash-checked end-to-end: every doc
    becomes a genuine multi-frame GIF89a (frame 0 full-canvas, later
    frames PARTIAL blocks composited with disposal 1, value-101 pixels
    TRANSPARENT), ``sample_gif_frames`` decodes every presented canvas
    via ``gif.decode_gif_frames`` and keeps every 2nd frame — and the
    oracle recomputes each sampled pixel as "the last opaque write
    among frames 0..fi, else background", so LZW, block geometry,
    disposal compositing, and transparency show-through must ALL be
    exact for the values to match.  Disposal methods 2/3 are pinned by
    unit fixtures in tests/test_pipeline_ops.py (their region-restore
    semantics are presentation state, not a per-frame SQL rule)."""
    from opentsdb_aura_spark.operators.av import attach_animated_gif_media, sample_gif_frames

    media = attach_animated_gif_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    res = sample_gif_frames(media, every_n=2)
    return res.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        "n_pixels",
        "checksum",
        _r(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@register(
    "multimodal_transcode_gif",
    ORACLES["multimodal_real_decode"],
)
def multimodal_transcode_gif(spark, sf_dir):
    """Format normalization end-to-end: the mixed seven-format corpus
    is TRANSCODED to GIF inside Spark (decode any → re-encode GIF),
    then feature-extracted — and must satisfy the SAME pixel-rule
    oracle as the untranscoded corpus (multimodal_real_decode's SQL,
    reused verbatim).  Both codec directions of the GIF path and every
    source decoder must be lossless for the hash to match."""
    from opentsdb_aura_spark.operators.multimodal import attach_image_media, transcode_images

    media = attach_image_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    normalized = transcode_images(media, to="gif")
    res = extract_features(normalized, fake=False)
    return res.select(
        "media_id",
        "n_bytes",
        "checksum",
        _r(F.col("feat")[2], 6).alias("mean_r"),
        _r(F.col("feat")[3], 6).alias("mean_g"),
        _r(F.col("feat")[4], 6).alias("mean_b"),
    )


# ------------------------------------------------- perceptual a/v fingerprints

# Character maps for the planted near-dup transforms (built in Python so
# the Spark side uses translate() — no engine-specific chr()/ascii()
# semantics involved; the oracle mirrors with DuckDB's codepoint-based
# chr/ascii rebuild).  Doc text is ASCII 32..121, so:
#  - audio polarity inversion: ord -> 160 - ord  (sample s -> -s)
#  - video brightness shift:   ord -> ord + 1    (every pixel +1)
_AV_ORDS = range(32, 127)
_INV_FROM = "".join(chr(c) for c in _AV_ORDS)
_INV_TO = "".join(chr(160 - c) for c in _AV_ORDS)
_SHIFT_TO = "".join(chr(c + 1) for c in _AV_ORDS)

# Energy-window sign-bit derivation over corpus(doc_id, text) — mirrors
# audio_energy_fingerprint exactly: 65 windows, cross-multiplied integer
# energy compares, empty windows as energy 0 (operators/av.py).
_AFP_BITS_SQL = """
d AS (SELECT doc_id, text, length(text) AS L, (doc_id % 64 + 16) * 8 AS n FROM corpus),
w AS (SELECT doc_id, text, L, n,
             list_transform(range(0, 66), b -> (b * n) // 65) AS bnd
      FROM d),
e AS (SELECT doc_id,
             list_transform(range(0, 65), k ->
               coalesce(list_sum(list_transform(range(bnd[k + 1], bnd[k + 2]),
                 j -> CAST(ascii(substr(text, (j % L) + 1, 1)) - 80 AS BIGINT)
                      * (ascii(substr(text, (j % L) + 1, 1)) - 80) * 65536)), 0)) AS esum,
             list_transform(range(0, 65), k -> greatest(bnd[k + 2] - bnd[k + 1], 1)) AS ecnt
      FROM w),
bits AS (SELECT doc_id,
                array_to_string(list_transform(range(0, 64), k ->
                  CASE WHEN esum[k + 2] * ecnt[k + 1] > esum[k + 1] * ecnt[k + 2]
                       THEN '1' ELSE '0' END), '') AS b
         FROM e)
"""

# Temporal luma-delta derivation over corpus(doc_id, text) — mirrors
# video_temporal_fingerprint: bit f = luma_sum[f+1] > luma_sum[f] for the
# first 64 transitions, zero-filled beyond the clip.
_VFP_BITS_SQL = """
d AS (SELECT doc_id, text, length(text) AS L,
             doc_id % 8 + 2 AS w, doc_id % 6 + 2 AS h, (doc_id % 10 + 3) * 6 AS nf
      FROM corpus),
s AS (SELECT doc_id, nf,
             list_transform(range(0, nf), f ->
               list_sum(list_transform(range(0, w * h),
                 j -> ascii(substr(text, ((f * w * h + j) % L) + 1, 1)) % 256))) AS fsum
      FROM d),
bits AS (SELECT doc_id,
                array_to_string(list_transform(range(0, 64), k ->
                  CASE WHEN k + 2 <= nf AND fsum[k + 2] > fsum[k + 1]
                       THEN '1' ELSE '0' END), '') AS b
         FROM s)
"""

_BANDED_PAIRS_SQL = """
SELECT CAST(a.doc_id AS BIGINT) AS media_a, CAST(c.doc_id AS BIGINT) AS media_b,
       CAST(len(list_filter(range(1, 65), k -> substr(a.b, k, 1) != substr(c.b, k, 1)))
            AS INTEGER) AS hamming
FROM bits a JOIN bits c ON a.doc_id < c.doc_id
WHERE len(list_filter(range(1, 65), k -> substr(a.b, k, 1) != substr(c.b, k, 1))) <= 3
"""


@register(
    "multimodal_audio_fingerprint",
    f"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
{_AFP_BITS_SQL}
SELECT doc_id AS media_id, b AS afp_bits FROM bits""",
)
def multimodal_audio_fingerprint(spark, sf_dir):
    """Perceptual audio fingerprint (energy-delta sign hash — the
    scalar simplification of the Haitsma-Kallmus robust-hash family),
    hash-checked end-to-end: decode every real WAV, split into 65 time
    windows, compare window energies as cross-multiplied INTEGER sums
    (never floating means), emit the 64 delta-sign bits.  The sample
    rule is SQL-expressible, so the oracle recomputes every bit — the
    RIFF parse, window boundaries (floor(w*n/65)), int64 energy sums,
    and bit order must ALL match exactly.  ``scale=8`` lengthens each
    clip so all 65 windows hold >=1 sample."""
    from opentsdb_aura_spark.operators.av import attach_audio_media, audio_energy_fingerprint

    media = attach_audio_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100), scale=8)
    return audio_energy_fingerprint(media).select("media_id", "afp_bits")


@register(
    "multimodal_audio_near_pairs",
    f"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 9600,
         array_to_string(list_transform(range(1, length(text) + 1),
           i -> chr(160 - ascii(substr(text, i, 1)))), '')
  FROM base WHERE doc_id < 150),
{_AFP_BITS_SQL}
{_BANDED_PAIRS_SQL}""",
)
def multimodal_audio_near_pairs(spark, sf_dir):
    """Audio near-dup pairs (banded Hamming <= 3 over the energy
    fingerprints) with a FULL value-hash oracle: at 4 bands and
    max_hamming=3 the banded join is exhaustive by pigeonhole, and the
    bit strings are SQL-derivable, so a DuckDB self-join with a
    character-diff Hamming recomputes the whole pair set.  The corpus
    plants POLARITY-INVERTED copies (every doc < 150 re-appears with
    each sample negated via ord -> 160-ord, id shifted by 9600 — a
    multiple of 64 and 4, so clip length and rate are preserved): an
    inaudible transform that defeats exact-hash dedup but lands at
    Hamming 0 here because window energies are squares.  Planted-pair
    recall at unit scale is asserted in tests/test_pipeline_ops.py."""
    from opentsdb_aura_spark.operators.av import (
        attach_audio_media,
        audio_energy_fingerprint,
        audio_near_pairs,
    )

    base = docs_raw(spark, sf_dir).where(F.col("doc_id") < 300).select("doc_id", "text")
    inverted = base.where(F.col("doc_id") < 150).select(
        (F.col("doc_id") + 9600).alias("doc_id"),
        F.translate("text", _INV_FROM, _INV_TO).alias("text"),
    )
    media = attach_audio_media(base.unionByName(inverted), scale=8)
    return audio_near_pairs(audio_energy_fingerprint(media), max_hamming=3)


@register(
    "multimodal_video_fingerprint",
    f"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
{_VFP_BITS_SQL}
SELECT doc_id AS media_id, b AS vfp_bits FROM bits""",
)
def multimodal_video_fingerprint(spark, sf_dir):
    """Perceptual video fingerprint (temporal luma-delta sign hash —
    the time-axis analogue of image dHash), hash-checked end-to-end:
    parse every real Y4M stream, sum each frame's luma plane as exact
    integers, emit bit f = sum[f+1] > sum[f] for the first 64
    transitions (zero-filled beyond the clip).  The frame-pixel rule
    is SQL-expressible, so the oracle recomputes every bit — container
    parse, frame slicing, integer sums, bit order, and the zero-fill
    contract all value-checked.  ``frames_scale=6`` lengthens clips so
    ids with id%10 >= 8 carry >= 65 frames (all 64 bits real)."""
    from opentsdb_aura_spark.operators.av import attach_video_media, video_temporal_fingerprint

    media = attach_video_media(
        docs_raw(spark, sf_dir).where(F.col("doc_id") < 100), frames_scale=6
    )
    return video_temporal_fingerprint(media).select("media_id", "vfp_bits")


@register(
    "multimodal_video_near_pairs",
    f"""WITH base AS (SELECT doc_id, text FROM documents
              WHERE doc_id < 500 AND doc_id % 10 >= 8),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 9600,
         array_to_string(list_transform(range(1, length(text) + 1),
           i -> chr(ascii(substr(text, i, 1)) + 1)), '')
  FROM base WHERE doc_id < 250),
{_VFP_BITS_SQL}
{_BANDED_PAIRS_SQL}""",
)
def multimodal_video_near_pairs(spark, sf_dir):
    """Video near-dup pairs (banded Hamming <= 3 over the temporal
    fingerprints) with a FULL value-hash oracle (same pigeonhole +
    SQL-derivable-bits argument as the audio twin).  The corpus is
    restricted to clips with >= 65 frames (id%10 >= 8 at
    frames_scale=6) — shorter clips share zero-filled tail bands, the
    degenerate-band hazard the dHash surface documents — and plants
    BRIGHTNESS-SHIFTED copies (every pixel +1 via ord -> ord+1, id
    shifted by 9600, a multiple of lcm(8,6,10), preserving geometry):
    a re-encode transform that defeats exact hashing but shifts every
    frame sum equally, landing at Hamming 0."""
    from opentsdb_aura_spark.operators.av import (
        attach_video_media,
        video_near_pairs,
        video_temporal_fingerprint,
    )

    base = (
        docs_raw(spark, sf_dir)
        .where((F.col("doc_id") < 500) & (F.col("doc_id") % 10 >= 8))
        .select("doc_id", "text")
    )
    shifted = base.where(F.col("doc_id") < 250).select(
        (F.col("doc_id") + 9600).alias("doc_id"),
        F.translate("text", _INV_FROM, _SHIFT_TO).alias("text"),
    )
    media = attach_video_media(base.unionByName(shifted), frames_scale=6)
    return video_near_pairs(video_temporal_fingerprint(media), max_hamming=3)


@register(
    "multimodal_dhash_index_probe",
    f"""WITH {_DHASH_PLANTED_CORPUS_SQL},
{_DHASH_BITS_SQL}
SELECT CAST(p.doc_id AS BIGINT) AS probe_id, CAST(i.doc_id AS BIGINT) AS index_id,
       CAST(len(list_filter(range(1, 65), k -> substr(p.b, k, 1) != substr(i.b, k, 1)))
            AS INTEGER) AS hamming
FROM bits p JOIN bits i ON p.is_probe = 1 AND i.is_probe = 0
WHERE len(list_filter(range(1, 65), k -> substr(p.b, k, 1) != substr(i.b, k, 1))) <= 2""",
)
def multimodal_dhash_index_probe(spark, sf_dir):
    """The INCREMENTAL near-dup surface: a persisted banded dHash
    index (built in two batches — the second `update` call anti-joins
    the already-indexed half, exercising the crawl-increment path)
    probed by a NEW batch of exact and perturbed copies, with a FULL
    value-hash oracle: probe×index pairs at Hamming ≤ 2 are exhaustive
    by the 4-band pigeonhole, and both sides' bit strings are
    SQL-derivable from the pixel rule, so a DuckDB join over the
    derived corpora recomputes the entire answer.  The probe's band
    keys push down into the index scan (parquet row-group skip on the
    band-sorted layout) — the banded analogue of the IVF index's
    probed-list pruning, asserted in
    tests/test_pipeline_ops.py::test_fingerprint_index_incremental_probe_and_pushdown."""
    import os

    from opentsdb_aura_spark.operators.dedup_text import (
        probe_fingerprint_index,
        update_fingerprint_index,
    )
    from opentsdb_aura_spark.operators.multimodal import attach_image_media, image_dhash
    from opentsdb_aura_spark.sources.batch import STORE_ROOT

    base, planted = _dhash_planted_corpus(spark, sf_dir)
    sfb = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(STORE_ROOT, sfb, "fp_index_dhash_v1")
    # build ONCE (_SUCCESS gate, matching the IVF query) as two
    # incremental batches — the second update anti-joins the first
    # half, exercising the crawl-increment path; warm runs probe only,
    # so repeat timings measure the probe and the index never
    # accumulates empty append files
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        update_fingerprint_index(
            image_dhash(attach_image_media(base.where(F.col("doc_id") < 250))),
            path,
            hash_col="dhash",
        )
        update_fingerprint_index(
            image_dhash(attach_image_media(base)), path, hash_col="dhash"
        )
    probe_fp = image_dhash(attach_image_media(planted))
    return probe_fingerprint_index(spark, path, probe_fp, hash_col="dhash", max_hamming=2)


@register(
    "multimodal_audio_resample",
    """WITH d AS (
  SELECT doc_id, text, length(text) AS L,
         doc_id % 64 + 16 AS n, 8000 + (doc_id % 4) * 4000 AS rate
  FROM documents WHERE doc_id < 100),
r AS (
  SELECT doc_id, greatest((n * 16000) // rate, 1) AS n_out, rate, text, L
  FROM d),
s AS (
  SELECT doc_id, n_out,
         list_transform(range(0, n_out),
           j -> (ascii(substr(text, (((j * rate) // 16000) % L) + 1, 1)) - 80) * 256) AS smp
  FROM r)
SELECT doc_id AS media_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(n_out AS BIGINT) AS n_samples,
       round(list_avg(smp), 6) AS mean_amp,
       round(sqrt(list_avg(list_transform(smp, x -> CAST(x AS DOUBLE) * x))), 6) AS rms,
       CAST(coalesce(list_sum(list_transform(range(1, n_out),
              j -> CASE WHEN smp[j] * smp[j + 1] < 0 THEN 1 ELSE 0 END)), 0)
            AS BIGINT) AS zero_crossings
FROM s""",
)
def multimodal_audio_resample(spark, sf_dir):
    """Audio sample-rate normalization end-to-end, hash-checked: the
    mixed-rate WAV corpus (8/12/16/20 kHz by id) is resampled to a
    uniform 16 kHz INSIDE Spark (decode → nearest-neighbor floor map →
    re-encode), then feature-extracted — and the oracle recomputes
    every resampled sample from the generation rule composed with the
    index map ``(j*rate)//16000``, so both codec directions AND the
    resampling arithmetic must be bit-exact.  The audio analogue of
    ``multimodal_transcode_gif``'s format-normalization proof."""
    from opentsdb_aura_spark.operators.av import (
        attach_audio_media,
        extract_audio_features,
        resample_audio,
    )

    media = attach_audio_media(docs_raw(spark, sf_dir).where(F.col("doc_id") < 100))
    normalized = resample_audio(media, 16000).drop("error")
    res = extract_audio_features(normalized)
    return res.select(
        "media_id",
        "sample_rate",
        "n_samples",
        _r(F.col("mean_amp"), 6).alias("mean_amp"),
        _r(F.col("rms"), 6).alias("rms"),
        "zero_crossings",
    )
