"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched
``mapInPandas`` (every stage is a front end of ``rowpass.map_rows``).

Decode support is format-tiered:

- **BMP (24-bit BI_RGB), PPM (P6), PNG (8/16-bit RGB/RGBA/grayscale
  and paletted at depths 1/2/4/8, non-interlaced or Adam7), JPEG
  (operators/jpeg.py: baseline AND progressive, 4:4:4 / 4:2:2 /
  4:2:0), GIF (operators/gif.py: LZW, local/global color tables,
  interlacing; first frame of animations)** decode for REAL via the
  dependency-free codecs; ``extract_features(fake=False)`` and
  ``resize_images(fake=False)`` run genuinely end-to-end on them.
  Audio/video decode lives in operators/av.py (WAV, Y4M).
- Remaining layouts (sub-8-bit grayscale PNG, arithmetic-coded JPEG, …) raise
  ``NotImplementedError`` from ``_decode_real`` — the container has no
  PIL/libav; :func:`register_image_decoder` is the production seam,
  and the ``fake=True`` paths keep the Arrow plumbing (schema, batch
  shape, binary I/O, 1→many fan-out) real and tested regardless.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.rowpass import map_rows

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "width int, height int, sample_rate int, n_frames int"
)
MEDIA_COLS = tuple(f.split(" ")[0] for f in MEDIA_SCHEMA.split(", "))

FEATURE_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, checksum bigint, "
    "feat array<double>, error string"
)


#: what a codec raises for a payload it cannot decode (the
#: :func:`_decode_real` contract) — the exceptions a media stage's
#: ``skip_errors`` turns into error rows
_DECODE_ERRORS = (ValueError, NotImplementedError)


def _error_text(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _pack64(bits) -> tuple[int, str]:
    """64 fingerprint bits (bit k = element k) → (two's-complement
    int64, the 64-char bit string a SQL oracle can mirror)."""
    import numpy as np

    val = int((bits << np.arange(64, dtype=np.uint64)).sum())
    if val >= 1 << 63:
        val -= 1 << 64
    return val, "".join("1" if b else "0" for b in bits)


def _attach_media(docs: DataFrame, id_col: str, text_col: str, kind: str, make) -> DataFrame:
    """The corpus generators' one pass: ``make(id, text)`` renders one
    doc's media as (payload, width, height, sample_rate, n_frames);
    NULL text renders as "x".  Returns MEDIA_SCHEMA rows of ``kind``."""

    def media(doc_id, text):
        doc_id = int(doc_id)
        return [(doc_id, kind, *make(doc_id, text or "x"))]

    return map_rows(docs, media, MEDIA_SCHEMA, cols=(id_col, text_col))


def attach_fake_media(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Derive a deterministic opaque binary payload + metadata from the
    documents table, standing in for real image/audio bytes."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col(id_col) % 3 + 1).cast("int")).alias(
            "kind"
        ),
        payload.alias("payload"),
        (F.col(id_col) % 1920 + 1).cast("int").alias("width"),
        (F.col(id_col) % 1080 + 1).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.col(id_col) % 300 + 1).cast("int").alias("n_frames"),
    )


# ---------------------------------------------------------------- codecs


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit uncompressed (BI_RGB) BMP from a top-down RGB byte
    stream (len == width*height*3).  Rows are stored bottom-up with
    4-byte alignment, pixels as BGR — the standard layout."""
    import numpy as np

    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} RGB bytes, got {len(rgb)}")
    row_size = (width * 3 + 3) & ~3
    image_size = row_size * height
    header = struct.pack("<2sIHHI", b"BM", 54 + image_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0)
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    bgr = px[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    padded = np.zeros((height, row_size), dtype=np.uint8)
    padded[:, : width * 3] = bgr.reshape(height, width * 3)
    return header + info + padded.tobytes()


def decode_bmp(data: bytes) -> tuple[int, int, bytes]:
    """Parse a 24-bit BI_RGB BMP → (width, height, top-down RGB)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    size, width, height, _planes, bpp, compression = struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB supported, got bpp={bpp} comp={compression}")
    import numpy as np

    bottom_up = height > 0
    height = abs(height)
    row_size = (width * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=height * row_size, offset=offset).reshape(
        height, row_size
    )
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return width, height, bgr[:, :, ::-1].tobytes()


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6, maxval 255) from top-down RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} RGB bytes, got {len(rgb)}")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(data: bytes) -> tuple[int, int, bytes]:
    """Parse a P6 PPM → (width, height, top-down RGB)."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: magic, whitespace-separated width/height/maxval (comments allowed)
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":
            while i < len(data) and data[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        fields.append(int(data[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"only maxval 255 supported, got {maxval}")
    rgb = data[i : i + width * height * 3]
    if len(rgb) != width * height * 3:
        raise ValueError("truncated PPM payload")
    return width, height, rgb


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Non-interlaced 8-bit RGB PNG (color type 2, filter 0 rows) from
    top-down RGB bytes — stdlib ``zlib`` only."""
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} RGB bytes, got {len(rgb)}")
    stride = width * 3
    raw = b"".join(b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def encode_png_paletted(width: int, height: int, rgb: bytes) -> bytes:
    """Paletted PNG (color type 3 + PLTE) from top-down RGB bytes,
    packing indices at the smallest depth in {1, 2, 4, 8} that fits
    the palette — the fixture generator for the paletted decode path
    (small palettes exercise the sub-8-bit bit-unpacking).  Raises if
    the image has more than 256 distinct colors."""
    import zlib

    import numpy as np

    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} RGB bytes, got {len(rgb)}")
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height * width, 3)
    palette, idx = np.unique(px, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"paletted PNG needs <=256 colors, got {len(palette)}")
    depth = next(d for d in (1, 2, 4, 8) if len(palette) <= (1 << d))
    idx = idx.astype(np.uint8).reshape(height, width)
    if depth < 8:
        per_byte = 8 // depth
        padw = -(-width // per_byte) * per_byte
        padded = np.zeros((height, padw), dtype=np.uint8)
        padded[:, :width] = idx
        # MSB-first packing: shift each of the per_byte lanes into place
        lanes = padded.reshape(height, padw // per_byte, per_byte)
        shifts = (np.arange(per_byte)[::-1] * depth).astype(np.uint8)
        rows = (lanes << shifts).sum(axis=2).astype(np.uint8)
    else:
        rows = idx
    raw = b"".join(b"\x00" + rows[y].tobytes() for y in range(height))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, depth, 3, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_png_interlaced(width: int, height: int, rgb: bytes) -> bytes:
    """Adam7-interlaced 8-bit RGB PNG (color type 2, filter 0 rows per
    pass) from top-down RGB bytes — the fixture generator for the
    interlaced decode path."""
    import zlib

    import numpy as np

    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} RGB bytes, got {len(rgb)}")
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7_PASSES:
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + row.tobytes()

    def chunk(typ: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 1)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def decode_png(data: bytes) -> tuple[int, int, bytes]:
    """Parse a PNG → (width, height, top-down RGB): 8- and 16-bit
    RGB/RGBA (color types 2/6) and grayscale (0), paletted (3, PLTE,
    bit depths 1/2/4/8), non-interlaced OR Adam7-interlaced (each of
    the 7 passes is an independently-filtered sub-image scattered onto
    the output grid).  Header walk + ``zlib`` inflate + per-scanline
    unfilter (all five PNG filter types, ``_unfilter_scanlines``);
    RGBA alpha is dropped, 16-bit samples keep the high byte, palette
    indices are bit-unpacked MSB-first and mapped through PLTE.  The
    remaining combinations (sub-8-bit grayscale, interlaced sub-8-bit
    palettes) raise — honest stub boundary, documented per format."""
    import zlib

    import numpy as np

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width, height, bitdepth, colortype, interlace = len(_PNG_SIG), 0, 0, 0, 0, 0
    idat = bytearray()
    palette = None
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if typ == b"IHDR":
            width, height, bitdepth, colortype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", body)
        elif typ == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    supported = (bitdepth in (8, 16) and colortype in (0, 2, 6)) or (
        colortype == 3 and bitdepth in (1, 2, 4, 8)
    )
    if not supported or interlace not in (0, 1):
        raise NotImplementedError(
            f"unsupported PNG layout: depth={bitdepth} color={colortype} interlace={interlace}"
        )
    if colortype == 3 and palette is None:
        raise ValueError("paletted PNG missing PLTE chunk")
    # bytes per pixel for FILTERING (left-pixel distance, >=1 per spec);
    # 16-bit samples double it, and the output keeps the high byte
    # (big-endian sample order) — the standard 16→8 downconversion
    nch = {0: 1, 2: 3, 3: 1, 6: 4}[colortype]
    bpp = nch * (2 if bitdepth == 16 else 1)
    raw = zlib.decompress(bytes(idat))

    def finish(pixels: "np.ndarray") -> tuple[int, int, bytes]:
        """(h, w, bpp) channel array → RGB bytes per colortype."""
        if bitdepth == 16:  # keep the high byte of each big-endian sample
            pixels = pixels.reshape(height, width, nch, 2)[:, :, :, 0]
        if colortype == 6:
            return width, height, pixels[:, :, :3].tobytes()
        if colortype == 0:
            return width, height, np.repeat(pixels, 3, axis=2).tobytes()
        if colortype == 3:
            idx = pixels[:, :, 0]
            if int(idx.max(initial=0)) >= len(palette):
                raise ValueError("PNG palette index out of range")
            return width, height, palette[idx].tobytes()
        return width, height, pixels.tobytes()

    if interlace == 1:  # Adam7
        if colortype == 3 and bitdepth < 8:
            raise NotImplementedError(
                "interlaced sub-8-bit paletted PNG not supported (8-bit palettes are)"
            )
        out = np.zeros((height, width, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = -(-(width - x0) // dx) if width > x0 else 0
            ph = -(-(height - y0) // dy) if height > y0 else 0
            if pw == 0 or ph == 0:
                continue
            stride = pw * bpp
            need = ph * (stride + 1)
            if off + need > len(raw):
                raise ValueError("truncated PNG scanline data (interlaced pass)")
            scan = np.frombuffer(raw, dtype=np.uint8, count=need, offset=off).reshape(
                ph, stride + 1
            )
            off += need
            rows = _unfilter_scanlines(scan, stride, bpp)
            out[y0::dy, x0::dx] = rows.reshape(ph, pw, bpp)
        if off != len(raw):
            raise ValueError("trailing PNG scanline data after final Adam7 pass")
        return finish(out)

    if colortype == 3 and bitdepth < 8:
        stride = -(-width * bitdepth // 8)  # packed indices
    else:
        stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ValueError("truncated PNG scanline data")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = _unfilter_scanlines(scan, stride, bpp)
    if colortype == 3 and bitdepth < 8:
        per_byte = 8 // bitdepth
        lanes = out.reshape(height, stride, 1) >> (
            (np.arange(per_byte)[::-1] * bitdepth).astype(np.uint8)
        )
        idx = (lanes & ((1 << bitdepth) - 1)).reshape(height, stride * per_byte)[:, :width]
        return finish(idx.reshape(height, width, 1))
    return finish(out.reshape(height, width, bpp))


#: Adam7 pass grid: (x_start, y_start, x_step, y_step), PNG spec 8.2
_ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter_scanlines(scan, stride: int, bpp: int):
    """Invert PNG scanline filters over one image (or one Adam7 pass —
    each pass filters independently, so ``prev`` starts at zero).

    Vectorized where the recurrence allows: None is a copy, Up is one
    wrapping uint8 add, Sub is a per-channel prefix sum mod 256;
    Average and Paeth depend on the RECONSTRUCTED left pixel, so they
    walk pixels — but channel-vectorized (bpp-wide numpy ops), not
    byte-at-a-time Python.  Matters because inside the ``mapInPandas``
    decode stage of an image-heavy corpus this loop IS the hot path."""
    import numpy as np

    height = scan.shape[0]
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ft = int(scan[y, 0])
        row = scan[y, 1:].copy()
        if ft == 0:  # None
            pass
        elif ft == 1:  # Sub: recon[x] = Σ raw[0..x] per channel, mod 256
            row = (
                np.cumsum(row.reshape(stride // bpp, bpp), axis=0, dtype=np.int64) & 0xFF
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up: uint8 addition wraps mod 256 natively
            row += prev
        elif ft == 3:  # Average: left-recurrence → pixel walk, channel-wide
            r2 = row.reshape(stride // bpp, bpp).astype(np.int16)
            p2 = prev.reshape(stride // bpp, bpp).astype(np.int16)
            left = np.zeros(bpp, dtype=np.int16)
            for x in range(stride // bpp):
                left = (r2[x] + ((left + p2[x]) >> 1)) & 0xFF
                r2[x] = left
            row = r2.astype(np.uint8).reshape(stride)
        elif ft == 4:  # Paeth: left-recurrence → pixel walk, channel-wide
            r2 = row.reshape(stride // bpp, bpp).astype(np.int16)
            p2 = prev.reshape(stride // bpp, bpp).astype(np.int16)
            left = np.zeros(bpp, dtype=np.int16)
            ul = np.zeros(bpp, dtype=np.int16)
            for x in range(stride // bpp):
                b = p2[x]
                p = left + b - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - b), np.abs(p - ul)
                pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, b, ul))
                left = (r2[x] + pred) & 0xFF
                r2[x] = left
                ul = b
            row = r2.astype(np.uint8).reshape(stride)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = row
        prev = row
    return out


#: pluggable decoder registry — THE deployment seam for formats beyond
#: the built-ins: ``register_image_decoder(b"\xff\xd8", pil_decode)``
#: overrides/extends by magic prefix; entries are consulted first (last
#: registered wins) so a production image stack (PIL, libjpeg-turbo
#: bindings) slots in without touching the Spark plumbing.  Registered
#: callables take the payload bytes and return (width, height, rgb).
_DECODERS: list[tuple[bytes, object]] = []


def register_image_decoder(magic: bytes, fn) -> None:
    _DECODERS.insert(0, (bytes(magic), fn))


def _decode_real(payload: bytes, kind: str) -> tuple[int, int, bytes]:
    """Decode a binary payload to (width, height, top-down RGB).

    BMP, PPM, PNG (8/16-bit RGB/RGBA/grayscale, paletted 1/2/4/8-bit,
    non-interlaced or Adam7), JPEG (operators/jpeg.py: baseline +
    progressive, subsampled chroma), and GIF (operators/gif.py) are
    handled by the dependency-free codecs; anything else (arithmetic
    JPEG, audio, video) raises unless a decoder was plugged in via
    :func:`register_image_decoder` (honest stub boundary).

    Error contract: every corrupt/truncated payload surfaces as
    ValueError (or NotImplementedError for honest format boundaries) —
    low-level zlib/struct/index errors from any codec are converted
    here so the per-payload skip logic can catch exactly those two
    types (``_DECODE_ERRORS``, the ``catch`` every media stage hands
    ``rowpass.map_rows``)."""
    import zlib

    payload = bytes(payload)
    try:
        return _decode_real_inner(payload, kind)
    except (IndexError, KeyError, OverflowError, struct.error, zlib.error) as e:
        raise ValueError(f"corrupt {kind} payload: {e!r}") from e


def _decode_real_inner(payload: bytes, kind: str) -> tuple[int, int, bytes]:
    for magic, fn in _DECODERS:
        if payload[: len(magic)] == magic:
            return fn(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from opentsdb_aura_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"GIF8":
        from opentsdb_aura_spark.operators.gif import decode_gif

        return decode_gif(payload)
    raise NotImplementedError(
        "no built-in codec claims this payload (BMP/PPM/PNG/baseline JPEG "
        "are built in); plug a production decoder via register_image_decoder"
    )


def attach_image_media(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    formats: tuple[str, ...] = ("bmp", "ppm", "png", "png8", "pngi", "gif", "gifi")
) -> DataFrame:
    """Real-image corpus generator: one genuine image per doc — format
    round-robined over ``formats`` by doc id (24-bit BMP, P6 PPM,
    8-bit RGB PNG) — pixels derived deterministically from the doc
    text: pixel-stream byte j is ``ord(text[j mod len])``, with
    w = id%16+1, h = id%12+1.  Because the pixel rule is expressible
    in SQL and independent of the container format, a DuckDB oracle
    can verify the REAL decode path end-to-end without being able to
    parse any of the formats: the values only match if each codec
    round-trips correctly."""
    import functools

    from opentsdb_aura_spark.operators.gif import encode_gif
    from opentsdb_aura_spark.operators.jpeg import encode_jpeg

    encoders = {
        "bmp": encode_bmp,
        "ppm": encode_ppm,
        "png": encode_png,
        "png8": encode_png_paletted,
        "pngi": encode_png_interlaced,
        "gif": encode_gif,
        "gifi": functools.partial(encode_gif, interlace=True),
        "jpeg": encode_jpeg,
        "jpeg422": functools.partial(encode_jpeg, subsampling="422"),
        "jpeg420": functools.partial(encode_jpeg, subsampling="420"),
        "jpeg_prog": functools.partial(encode_jpeg, subsampling="420", progressive=True),
    }

    def image(doc_id, text):
        text = text.encode("utf-8", "replace")
        w, h = doc_id % 16 + 1, doc_id % 12 + 1
        n = w * h * 3
        reps = -(-n // len(text))
        rgb = (text * reps)[:n]
        enc = encoders[formats[doc_id % len(formats)]]
        return enc(w, h, rgb), w, h, 0, 1

    return _attach_media(docs, id_col, text_col, "image", image)


def attach_bmp_media(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BMP-only variant of :func:`attach_image_media` (kept for callers
    that need a single known format)."""
    return attach_image_media(docs, id_col=id_col, text_col=text_col, formats=("bmp",))


def extract_features(
    media: DataFrame, *, fake: bool = True, feat_dim: int = 8, skip_errors: bool = False
) -> DataFrame:
    """Feature extraction over binary media via mapInPandas.

    Arrow streams batches of (media_id, kind, payload, …) into pandas;
    per batch we emit (media_id, kind, n_bytes, checksum, feat, error).

    ``fake=False`` REALLY decodes (the codec roster in the module
    docstring): n_bytes/checksum are computed over the decoded pixel
    stream and feat is [width, height, mean_r, mean_g, mean_b] —
    values a SQL oracle can recompute from the generation rule,
    closing the loop on the codec.  ``fake=True`` derives features
    from the raw payload bytes without decoding (stable stand-in for
    formats without a decoder).

    ``skip_errors=True`` is the CRAWL-GRADE mode: a payload whose
    decode raises (truncated download, unsupported layout, corrupt
    stream — all surfaced as ValueError/NotImplementedError by the
    codecs) becomes an error ROW (n_bytes=0, checksum=0, empty feat,
    ``error`` holding the exception text) instead of killing the
    Spark task.  One bad document in a billion must cost one row, not
    the stage.  Default False: a pipeline that expects clean fixtures
    keeps fail-fast semantics.

    The real path decodes IMAGES; non-image rows (audio/video — their
    real decoders live in operators/av.py) are filtered out up front so
    a mixed media frame does not abort the stage on the first RIFF/Y4M
    payload.
    """
    import numpy as np

    if not fake:
        media = media.where(F.col("kind") == "image")

    def features(media_id, kind, payload):
        if fake:
            c = sum(payload[:256]) if len(payload) else 0
            feat = [float((c * (i + 1)) % 997) / 997.0 for i in range(feat_dim)]
            return [(media_id, kind, len(payload), c, feat, None)]
        w, h, rgb = _decode_real(payload, kind)
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
        feat = [float(w), float(h), *px.mean(axis=0).tolist()]
        return [(media_id, kind, len(rgb), int(px.sum()), feat, None)]

    return map_rows(
        media, features, FEATURE_SCHEMA,
        cols=("media_id", "kind", "payload"),
        skip_errors=skip_errors,
        on_error=lambda row, exc: (row[0], row[1], 0, 0, [], _error_text(exc)),
        catch=_DECODE_ERRORS,
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata aggregation over the media table (no decode):
    per kind: count, total bytes, max dimensions."""
    return media.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
    )


RESIZED_SCHEMA = (
    "media_id bigint, kind string, payload binary, width int, height int, "
    "sample_rate int, n_frames int, resized binary, out_width int, out_height int"
)

FRAMES_SCHEMA = "media_id bigint, frame_idx int, frame binary"


def resize_images(media: DataFrame, out_width: int, out_height: int, *, fake: bool = True) -> DataFrame:
    """Image resize over mapInPandas.

    ``fake=False`` REALLY resizes BMP/PPM payloads: decode → nearest-
    neighbor sample (vectorized numpy index map) → re-encode BMP.
    ``fake=True`` derives a deterministic payload without decoding so
    the Arrow plumbing stays testable for undecodable formats."""
    import numpy as np

    target = max(1, out_width * out_height // 64)

    def resize(*m):
        payload = m[2]
        if fake:
            # deterministic fake: truncate/pad payload to out_w*out_h/64 bytes
            resized = bytes(payload[:target]).ljust(target, b"\0")
        else:
            w, h, rgb = _decode_real(payload, "image")
            px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
            ys = (np.arange(out_height) * h) // out_height
            xs = (np.arange(out_width) * w) // out_width
            resized = encode_bmp(out_width, out_height, px[ys][:, xs].tobytes())
        return [(*m, resized, out_width, out_height)]

    return map_rows(media.where(F.col("kind") == "image"), resize, RESIZED_SCHEMA, cols=MEDIA_COLS)


def sample_frames(media: DataFrame, every_n: int = 30, *, fake: bool = True) -> DataFrame:
    """Frame sampling stub for video media: emit every Nth frame as an
    opaque binary.  One input row fans out to ceil(n_frames/every_n)
    rows — the mapInPandas iterator shape for 1→many extraction."""

    if not fake:
        # _decode_real only knows image codecs, and even a successful
        # decode here would be discarded while fake frames are emitted —
        # a trap, not a feature.  The REAL frame sampler is
        # operators/av.sample_video_frames (Y4M).
        raise NotImplementedError(
            "real frame sampling lives in operators/av.sample_video_frames; "
            "multimodal.sample_frames is the schema-plumbing fake"
        )

    def frames(media_id, raw, n_frames):
        payload = bytes(raw)
        for fi in range(0, int(n_frames), every_n):
            # deterministic fake frame: 16-byte slice keyed by index
            start = (fi * 7) % max(1, len(payload))
            yield (media_id, fi, payload[start : start + 16].ljust(16, b"\0"))

    return map_rows(
        media.where(F.col("kind") == "video"), frames, FRAMES_SCHEMA,
        cols=("media_id", "payload", "n_frames"),
    )


DHASH_SCHEMA = "media_id bigint, dhash bigint, dhash_bits string, error string"


def image_dhash(media: DataFrame, *, skip_errors: bool = False) -> DataFrame:
    """Perceptual difference-hash (dHash) per image — THE standard
    crawl-scale image near-dup fingerprint: decode, integer grayscale
    ((r+g+b)//3), nearest-neighbor sample onto a 9×8 grid (the same
    floor-index map as :func:`resize_images`), then 64 bits of
    "brighter than my right neighbor".  Emitted both as an int64
    (two's complement — band joins and ``bit_count`` Hamming run
    JVM-side) and as the 64-char bit string (exactly mirrorable by a
    SQL oracle, which an int64 with bit 63 set is not).

    Perturbation-robust by construction: small pixel noise flips few
    gradient comparisons, so near-duplicate images land within a small
    Hamming distance (bounded in tests) while unrelated images differ
    in ~32 bits.

    ``skip_errors=True`` follows extract_features' error-ROW contract
    (not silent dropping): an undecodable payload yields a row with
    NULL dhash and the exception text in ``error``, so the output row
    set stays joinable against the feature stage and skipped images
    remain countable/auditable.  NULL hashes self-exclude from
    :func:`dhash_near_pairs` banding."""
    import numpy as np

    def dhash(media_id, payload):
        w, h, rgb = _decode_real(payload, "image")
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        gray = px.astype(np.int32).sum(axis=2) // 3
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(9) * w) // 9
        grid = gray[ys][:, xs]  # 8 rows x 9 cols
        bits = (grid[:, 1:] > grid[:, :-1]).astype(np.uint64).reshape(64)
        return [(int(media_id), *_pack64(bits), None)]

    return _kind_pass(
        media, "image", dhash, DHASH_SCHEMA,
        skip_errors=skip_errors, on_error=_hash_error_row, catch=_DECODE_ERRORS,
    )


def _kind_pass(media: DataFrame, kind: str, fn, schema: str, **errors) -> DataFrame:
    """``rowpass.map_rows`` of ``fn(media_id, payload)`` over the
    ``kind`` rows of a media frame."""
    return map_rows(
        media.where(F.col("kind") == kind), fn, schema, cols=("media_id", "payload"), **errors
    )


def _hash_error_row(row: tuple, exc: Exception) -> tuple:
    """The fingerprint stages' error row: NULL hash and bit string
    (self-excluded from banding) plus the exception text."""
    return (int(row[0]), None, None, _error_text(exc))


def dhash_near_pairs(hashes: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """Image near-dup pairs from dHash fingerprints — the shared
    banded-Hamming engine (``dedup_text.banded_hamming_pairs``)
    applied to the image fingerprint; error rows (NULL dhash from
    ``image_dhash(skip_errors=True)``) are excluded by the helper.
    Input: (media_id, dhash); output (media_a, media_b, hamming)."""
    from opentsdb_aura_spark.operators.dedup_text import banded_hamming_pairs

    return banded_hamming_pairs(
        hashes,
        id_col="media_id",
        hash_col="dhash",
        max_hamming=max_hamming,
        out_a="media_a",
        out_b="media_b",
    )


def transcode_images(media: DataFrame, to: str = "png", *, skip_errors: bool = False) -> DataFrame:
    """Format normalization — the crawl-ingest stage that converts a
    mixed-format image corpus to ONE storage format: decode whatever
    arrives (any supported codec), re-encode as ``to`` ∈
    {"bmp", "ppm", "png", "png8", "gif"}.  Output schema matches the
    media schema with the payload replaced, so downstream stages
    (features, resize, dhash) run unchanged on the normalized corpus.

    Lossless in, lossless out: a transcoded corpus must decode to
    byte-identical pixels, which the catalog query proves by running
    the SAME pixel-rule oracle against features extracted AFTER the
    transcode.  ``skip_errors=True`` drops UNDECODABLE payloads (the
    crawl-grade contract of extract_features) — and only those: an
    image that decodes fine but exceeds the TARGET format's limits
    (e.g. >256 colors → ``gif``/``png8``) always raises, because
    silently losing decodable images to a format-choice mismatch is a
    pipeline configuration error, not payload corruption.  Pick a
    true-color target (``bmp``/``ppm``/``png``) for photographic
    corpora."""
    from opentsdb_aura_spark.operators.gif import encode_gif

    encoders = {
        "bmp": encode_bmp,
        "ppm": encode_ppm,
        "png": encode_png,
        "png8": encode_png_paletted,
        "gif": encode_gif,
    }
    if to not in encoders:
        raise ValueError(f"transcode target must be one of {sorted(encoders)}, got {to!r}")
    enc = encoders[to]

    def transcode(*m):
        w, h, rgb = _decode_real(m[2], "image")
        try:
            payload = enc(w, h, rgb)
        except ValueError as e:
            raise _TargetMismatch(
                f"image decoded fine but cannot be encoded as {to!r}: {e} "
                "— a format-choice mismatch, not payload corruption; "
                "use a true-color target (bmp/ppm/png)"
            ) from e
        return [(*m[:2], payload, *m[3:])]

    def drop_undecodable(row, exc):
        if isinstance(exc, _TargetMismatch):
            raise exc
        return None

    return map_rows(
        media.where(F.col("kind") == "image"), transcode, MEDIA_SCHEMA,
        cols=MEDIA_COLS,
        skip_errors=skip_errors,
        on_error=drop_undecodable,
        catch=_DECODE_ERRORS,
    )


class _TargetMismatch(ValueError):
    """A decodable image the transcode target cannot hold — always
    fatal, unlike the undecodable payloads ``skip_errors`` drops."""
