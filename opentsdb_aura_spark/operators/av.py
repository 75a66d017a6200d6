"""Real audio/video decode for the multimodal pipeline: WAV (RIFF
PCM16) and Y4M (YUV4MPEG2) codecs, dependency-free (struct + numpy),
plus the Spark plumbing that runs them inside Arrow-batched
``mapInPandas`` (front ends of ``rowpass.map_rows``).

Extension beyond the reference (which is a metrics/events engine with
no media path): these are the audio/video legs of the training-data
pipeline operators, completing what ``operators/multimodal.py`` does
for images.  The corpus-generation rule is the same trick
``attach_image_media`` uses: payload content is derived from the doc
text by a SQL-expressible rule, so a DuckDB oracle that cannot parse
WAV or Y4M can still verify the REAL decode end-to-end — the feature
values only match if the container round-trips correctly.

Format notes (both fully public):

- **WAV**: RIFF container, ``fmt `` chunk (PCM=1, mono, 16-bit LE),
  ``data`` chunk of int16 samples.  The decoder walks chunks (skipping
  unknown ones, honoring the odd-size pad byte) rather than assuming a
  44-byte header, so real-world files with LIST/INFO chunks parse.
- **Y4M**: ``YUV4MPEG2`` text header with space-separated parameter
  tokens (W/H/F/I/A/C), then per frame a ``FRAME`` line + raw planes.
  We emit/parse ``Cmono`` (luma-only), the simplest conformant
  colorspace; frame extraction is real slicing, not a stub.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_aura_spark.operators.multimodal import (
    _DECODE_ERRORS,
    MEDIA_COLS,
    MEDIA_SCHEMA,
    _attach_media,
    _error_text,
    _hash_error_row,
    _kind_pass,
    _pack64,
)
from opentsdb_aura_spark.operators.rowpass import map_rows

# ---------------------------------------------------------------- WAV codec


def encode_wav(sample_rate: int, samples: "np.ndarray") -> bytes:
    """Mono 16-bit PCM WAV from an int16 sample array."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[int, "np.ndarray"]:
    """Parse a mono 16-bit PCM WAV → (sample_rate, int16 samples).

    Chunk-walking parser: tolerates extra chunks (LIST, fact, …) in
    any order and the RIFF odd-length pad byte; raises on non-PCM,
    non-mono, or non-16-bit streams (honest codec boundary)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, pcm = 12, None, None
    while pos + 8 <= len(data):
        typ = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if typ == b"fmt ":
            audio_fmt, channels, rate, _byte_rate, _align, bits = struct.unpack_from("<HHIIHH", body)
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise NotImplementedError(
                    f"only mono 16-bit PCM supported, got fmt={audio_fmt} ch={channels} bits={bits}"
                )
        elif typ == b"data":
            pcm = body
    if rate is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    return int(rate), np.frombuffer(pcm, dtype="<i2")


# ---------------------------------------------------------------- Y4M codec


def encode_y4m(width: int, height: int, frames: list[bytes], fps: int = 25) -> bytes:
    """YUV4MPEG2 stream, ``Cmono`` (luma plane only), from per-frame
    luma byte strings (each len == width*height)."""
    out = [b"YUV4MPEG2 W%d H%d F%d:1 Ip A1:1 Cmono\n" % (width, height, fps)]
    for fr in frames:
        if len(fr) != width * height:
            raise ValueError(f"need {width * height} luma bytes, got {len(fr)}")
        out.append(b"FRAME\n")
        out.append(fr)
    return b"".join(out)


def decode_y4m(data: bytes) -> tuple[int, int, list[bytes]]:
    """Parse a YUV4MPEG2 stream → (width, height, [luma frames]).

    Handles W/H/C parameter tokens (other tokens skipped), ``Cmono``
    and ``C444`` plane sizes, and per-frame parameter suffixes on the
    FRAME marker line."""
    nl = data.index(b"\n")
    header = data[:nl].split(b" ")
    if header[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    width = height = 0
    colorspace = b"420"
    for tok in header[1:]:
        if tok[:1] == b"W":
            width = int(tok[1:])
        elif tok[:1] == b"H":
            height = int(tok[1:])
        elif tok[:1] == b"C":
            colorspace = tok[1:]
    if colorspace == b"mono":
        frame_size = width * height
    elif colorspace == b"444":
        frame_size = width * height * 3
    else:
        raise NotImplementedError(f"only Cmono/C444 supported, got C{colorspace.decode()}")
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        pos = data.index(b"\n", pos) + 1  # frame params, if any, end at newline
        if pos + frame_size > len(data):
            # a short slice would silently yield features over a
            # partial luma plane (cf. decode_ppm's truncation check)
            raise ValueError("truncated Y4M payload: incomplete frame")
        frames.append(data[pos : pos + width * height])  # luma plane
        pos += frame_size
    return width, height, frames


# ------------------------------------------------------ corpus generators


def _codepoints(text: str, n: int) -> "np.ndarray":
    """First ``n`` codepoints of ``text`` cycled — ``ord(text[j % len])``
    for j in [0, n) — vectorized: for ASCII text (the common case) the
    UTF-8 bytes ARE the codepoints, so one frombuffer + take replaces a
    per-character Python loop; non-ASCII falls back to the exact loop."""
    raw = text.encode("utf-8", "replace")
    if len(raw) == len(text):  # pure ASCII: byte value == codepoint
        arr = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
    else:
        arr = np.array([ord(c) for c in text], dtype=np.int64)
    reps = -(-n // len(arr))
    return np.tile(arr, reps)[:n]


def attach_audio_media(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", scale: int = 1
) -> DataFrame:
    """Real-audio corpus generator: one genuine mono PCM16 WAV per doc,
    samples derived deterministically from the doc text — sample j is
    ``(ord(text[j mod len]) - 80) * 256`` (int16), with
    n = (id%64+16)*scale samples at rate 8000 + (id%4)*4000 Hz.  The
    rule is SQL-expressible, so the oracle verifies the real RIFF
    decode.  ``scale`` (default 1 — existing surfaces unchanged)
    lengthens every clip by the same factor; the fingerprint surface
    uses scale=8 so each of its 65 energy windows holds ≥1 sample."""

    def audio(mid, text):
        n = (mid % 64 + 16) * scale
        rate = 8000 + (mid % 4) * 4000
        smp = ((_codepoints(text, n) - 80) * 256).astype(np.int16)
        return encode_wav(rate, smp), 0, 0, rate, n

    return _attach_media(docs, id_col, text_col, "audio", audio)


def attach_video_media(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", frames_scale: int = 1
) -> DataFrame:
    """Real-video corpus generator: one genuine Y4M (Cmono) stream per
    doc — w = id%8+2, h = id%6+2, n_frames = (id%10+3)*frames_scale;
    frame f pixel j is ``ord(text[(f*w*h + j) mod len])``.  Same
    SQL-expressible-rule trick as the image/audio corpora.
    ``frames_scale`` (default 1 — existing surfaces unchanged)
    lengthens every clip; the temporal-fingerprint surface uses 6 so
    qualifying clips carry ≥65 frames (64 delta bits)."""

    def video(mid, text):
        w, h, nf = mid % 8 + 2, mid % 6 + 2, (mid % 10 + 3) * frames_scale
        wh = w * h
        stream = (_codepoints(text, nf * wh) & 0xFF).astype(np.uint8)
        frames = [stream[f * wh : (f + 1) * wh].tobytes() for f in range(nf)]
        return encode_y4m(w, h, frames), w, h, 0, nf

    return _attach_media(docs, id_col, text_col, "video", video)


def attach_animated_gif_media(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Animated-GIF corpus generator: one genuine multi-frame GIF89a
    per doc, with the SAME dims/frame-count rule as the Y4M corpus
    (w = id%8+2, h = id%6+2, n_frames = id%10+3) so the two animated
    surfaces are directly comparable.  Frame 0 is a full-canvas
    grayscale block whose pixel j is ``ord(text[j mod len]) & 0xFF``;
    every later frame f is a PARTIAL (w-1)×(h-1) block at (0,0) whose
    pixel j is ``ord(text[(f*w*h + j) mod len]) & 0xFF`` — composited
    with disposal 1 (do not dispose), so the last row/column persists
    from frame 0.  Pixels whose value is exactly 101 are stored
    TRANSPARENT (the underlying canvas shows through; background is
    black).  Both the composite rule and the transparency rule are
    SQL-expressible, so a DuckDB oracle can verify real disposal
    handling end-to-end — the animated analog of attach_image_media's
    trick."""
    from opentsdb_aura_spark.operators.gif import encode_gif_animated

    def gif(mid, text):
        w, h, nf = mid % 8 + 2, mid % 6 + 2, mid % 10 + 3
        wh = w * h
        stream = (_codepoints(text, nf * wh) & 0xFF).astype(np.uint8)
        frames = [(0, 0, w, h, np.repeat(stream[:wh], 3).tobytes())]
        bw, bh = w - 1, h - 1
        for f in range(1, nf):
            blk = stream[f * wh : f * wh + bw * bh]
            frames.append((0, 0, bw, bh, np.repeat(blk, 3).tobytes()))
        return encode_gif_animated(w, h, frames, transparent=(101, 101, 101)), w, h, 0, nf

    # a DISTINCT kind: the Y4M stages (sample_video_frames,
    # video_scene_changes, video_temporal_fingerprint) route on
    # kind=='video' and parse YUV4MPEG2 — tagging GIFs 'video' would
    # crash any mixed media table fed to them
    return _attach_media(docs, id_col, text_col, "gif", gif)


# ---------------------------------------------------------- feature stages

AUDIO_FEATURE_SCHEMA = (
    "media_id bigint, sample_rate int, n_samples bigint, "
    "mean_amp double, rms double, zero_crossings bigint"
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio feature extraction: decode each WAV payload and emit
    (sample_rate, n_samples, mean amplitude, RMS, zero-crossing
    count) — all recomputable by a SQL oracle from the generation
    rule.  Vectorized numpy per payload; Arrow-batched transfer."""

    def features(mid, payload):
        rate, smp = decode_wav(bytes(payload))
        s = smp.astype(np.float64)
        n = len(s)
        return [(
            mid, rate, n,
            float(s.mean()) if n else 0.0,
            float(np.sqrt(np.mean(s * s))) if n else 0.0,
            int(np.sum(s[:-1] * s[1:] < 0)) if n > 1 else 0,
        )]

    return _kind_pass(media, "audio", features, AUDIO_FEATURE_SCHEMA)


def resample_audio(media: DataFrame, target_rate: int, *, skip_errors: bool = False) -> DataFrame:
    """Sample-rate normalization — the audio leg of corpus format
    normalization (``multimodal.transcode_images`` for pixels, this
    for PCM): decode each WAV, NEAREST-NEIGHBOR resample to
    ``target_rate`` (``out[j] = in[(j*rate)//target_rate]``,
    ``n_out = max(1, (n*target_rate)//rate)`` — integer floor maps,
    so the transform is bit-exact and SQL-recomputable; a production
    deployment swaps in a windowed-sinc kernel through the same
    surface), re-encode WAV at the target rate.  Output keeps the
    media schema so any downstream audio stage (features, spectral,
    fingerprint) runs unchanged on the normalized corpus.

    ``skip_errors`` follows the error-ROW contract: undecodable
    payloads keep their original payload and carry the exception text
    in ``error``; decodable rows have ``error`` NULL."""

    def resample(*m):
        rate, smp = decode_wav(bytes(m[2]))
        n = len(smp)
        n_out = max(1, (n * target_rate) // rate) if n else 0
        idx = (np.arange(n_out, dtype=np.int64) * rate) // target_rate
        payload = encode_wav(target_rate, smp[idx] if n else smp)
        return [(*m[:2], payload, *m[3:5], target_rate, m[6], None)]

    def error_row(m, exc):
        return (*m[:2], bytes(m[2]), *m[3:5], 0, m[6], _error_text(exc))

    return map_rows(
        media.where(F.col("kind") == "audio"), resample, MEDIA_SCHEMA + ", error string",
        cols=MEDIA_COLS,
        skip_errors=skip_errors,
        on_error=error_row,
        catch=_DECODE_ERRORS,
    )


FRAME_FEATURE_SCHEMA = (
    "media_id bigint, frame_idx int, width int, height int, "
    "n_pixels bigint, checksum bigint, mean_luma double"
)


def sample_video_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling: parse each Y4M payload, keep every
    Nth frame, emit per-frame (dims, pixel count, checksum, mean
    luma).  One input row fans out to ceil(n_frames/every_n) rows —
    the genuine 1→many ``mapInPandas`` shape that the fake
    ``multimodal.sample_frames`` stubs, now backed by a real
    container parse."""

    def frames(mid, payload):
        w, h, frames = decode_y4m(bytes(payload))
        for fi in range(0, len(frames), every_n):
            px = np.frombuffer(frames[fi], dtype=np.uint8)
            yield (mid, fi, w, h, len(px), int(px.sum()), float(px.mean()) if len(px) else 0.0)

    return _kind_pass(media, "video", frames, FRAME_FEATURE_SCHEMA)


def sample_gif_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Animated-GIF frame sampling through the SAME surface as
    ``sample_video_frames`` (identical output schema): decode every
    PRESENTED canvas with full disposal + transparency compositing
    (``gif.decode_gif_frames``), keep every Nth frame, emit per-frame
    (dims, pixel count, integer-gray checksum, mean gray).  The 1→many
    fan-out runs inside the Arrow batch; a GIF frame is an RGB canvas,
    so luma is the integer grayscale (r+g+b)//3 the dHash path uses.
    Routes on kind=='gif' (animated GIFs carry their own kind so the
    Y4M-parsing video stages never see them in a mixed table)."""
    from opentsdb_aura_spark.operators.gif import decode_gif_frames

    def frames(mid, payload):
        w, h, frames = decode_gif_frames(bytes(payload))
        for fi in range(0, len(frames), every_n):
            gray = (
                np.frombuffer(frames[fi], dtype=np.uint8)
                .reshape(-1, 3)
                .astype(np.int64)
                .sum(axis=1)
                // 3
            )
            yield (mid, fi, w, h, len(gray), int(gray.sum()), float(gray.mean()) if len(gray) else 0.0)

    return _kind_pass(media, "gif", frames, FRAME_FEATURE_SCHEMA)


SPECTRAL_FEATURE_SCHEMA = (
    "media_id bigint, sample_rate int, n_samples bigint, "
    "energy_td double, energy_fd double, spectral_centroid_hz double, "
    "band_energies array<double>"
)


def extract_audio_spectral_features(media: DataFrame, *, n_bands: int = 4) -> DataFrame:
    """Spectral audio features for curation (language/music/noise
    screening): per WAV payload, an rFFT over the decoded samples →
    frequency-domain energy, spectral centroid in Hz, and ``n_bands``
    equal-width band energies over [0, Nyquist].

    Built-in correctness anchors (no SQL engine can FFT, so the
    catalog query is rows-only — the bounds live in pytest):

    - **Parseval**: ``energy_fd`` (Σ|X_k|²/N with the one-sided
      spectrum doubled) must equal ``energy_td`` (Σx²) to float
      precision — both are emitted so every row carries its own
      cross-domain check.
    - **Planted tone**: a pure sine at f Hz must put its spectral
      centroid at ≈f and its energy in the band containing f
      (tests/test_pipeline_ops.py).

    Arrow-batched ``mapInPandas``; one rFFT per payload, vectorized
    numpy — embarrassingly parallel across executors like the other
    codec stages."""

    def spectral(mid, payload):
        rate, smp = decode_wav(bytes(payload))
        s = smp.astype(np.float64)
        n = len(s)
        if n == 0:
            return [(int(mid), rate, n, 0.0, 0.0, 0.0, [0.0] * n_bands)]
        spec = np.fft.rfft(s)
        power = np.abs(spec) ** 2 / n
        # one-sided spectrum: double every bin except DC (and
        # Nyquist when n is even) to conserve total energy
        scale = np.full(len(power), 2.0)
        scale[0] = 1.0
        if n % 2 == 0:
            scale[-1] = 1.0
        power *= scale
        freqs = np.fft.rfftfreq(n, d=1.0 / rate)
        total = float(power.sum())
        centroid = float((freqs * power).sum() / total) if total > 0 else 0.0
        nyquist = rate / 2.0
        band_idx = np.minimum(
            (freqs / max(nyquist, 1e-12) * n_bands).astype(int), n_bands - 1
        )
        bands = np.zeros(n_bands)
        np.add.at(bands, band_idx, power)
        return [(int(mid), rate, n, float((s * s).sum()), total, centroid, bands.tolist())]

    return _kind_pass(media, "audio", spectral, SPECTRAL_FEATURE_SCHEMA)


SCENE_SCHEMA = "media_id bigint, n_frames int, n_cuts bigint, mean_frame_diff double"


def video_scene_changes(media: DataFrame, *, threshold: float = 10.0) -> DataFrame:
    """Scene-change detection over Y4M video: per payload, the mean
    absolute luma difference between consecutive frames, and the count
    of transitions whose difference exceeds ``threshold`` (a scene
    cut).  The curation signal behind frame-sampling budgets and
    static-clip filtering.  Single-frame videos emit 0 cuts / 0 diff.

    Vectorized numpy over the decoded frame stack; Arrow-batched
    ``mapInPandas`` like every codec stage."""

    def scenes(mid, payload):
        _w, _h, frames = decode_y4m(bytes(payload))
        if len(frames) < 2:
            return [(int(mid), len(frames), 0, 0.0)]
        stack = np.stack([np.frombuffer(f, dtype=np.uint8) for f in frames]).astype(np.int16)
        mads = np.abs(np.diff(stack, axis=0)).mean(axis=1)
        return [(int(mid), len(frames), int((mads > threshold).sum()), float(mads.mean()))]

    return _kind_pass(media, "video", scenes, SCENE_SCHEMA)


# --------------------------------------------- perceptual fingerprints

AUDIO_FP_SCHEMA = "media_id bigint, afp bigint, afp_bits string, error string"


def audio_energy_fingerprint(
    media: DataFrame, *, n_windows: int = 65, skip_errors: bool = False
) -> DataFrame:
    """Perceptual audio fingerprint — the energy-delta sign hash (the
    scalar simplification of the Haitsma–Kallmus / Philips robust-hash
    family, which takes the sign of BAND-energy deltas; a production
    deployment swaps in the FFT band energies from
    :func:`extract_audio_spectral_features` through the same bit-pack):
    split the clip into ``n_windows`` equal time windows (window w =
    samples [floor(w*n/W), floor((w+1)*n/W))), per-window energy =
    mean of sample², bit k = energy[k+1] > energy[k] → a 64-bit
    fingerprint (W=65 windows → 64 delta bits), emitted both as int64
    (band joins + ``bit_count`` Hamming run JVM-side) and as the
    64-char bit string a SQL oracle can mirror exactly.

    POLARITY-INVARIANT by construction: inverting the waveform
    (s → −s, a transform that is inaudible and defeats exact-hash
    dedup) leaves every energy — hence every bit — unchanged, so an
    inverted re-encode lands at Hamming 0.  The catalog query plants
    exactly that transform to keep the near-pair surface provably
    non-empty at every fixture SF.

    The bit comparisons are integer-exact on BOTH engines: window
    energies are compared as cross-multiplied integer sums
    (sum[k+1]·cnt[k] > sum[k]·cnt[k+1]), never as floating-point
    means, so an oracle reproduces every bit without ULP hazards.
    Empty windows (clips shorter than ``n_windows`` samples) compare
    as energy 0.

    ``skip_errors`` follows the error-ROW contract of
    ``multimodal.image_dhash``: undecodable payloads yield a NULL-hash
    row carrying the exception text, which self-excludes from banding.
    """
    if n_windows != 65:
        # 64 delta bits is the contract the 4x16-bit banded join and the
        # int64 pack rely on
        raise ValueError(f"n_windows must be 65 (64 delta bits), got {n_windows}")

    def fingerprint(mid, payload):
        _rate, smp = decode_wav(bytes(payload))
        s = smp.astype(np.int64)
        n = len(s)
        sq = s * s  # ≤ 2^30 per sample; cumsum overflows int64
        # only past ~8.5e9 samples (~2.7 days at 44.1 kHz/clip)
        csum = np.concatenate(([0], np.cumsum(sq)))
        lo = (np.arange(n_windows) * n) // n_windows
        hi = (np.arange(1, n_windows + 1) * n) // n_windows
        sums = [int(x) for x in csum[hi] - csum[lo]]
        cnts = [max(int(x), 1) for x in hi - lo]
        # cross-multiply in PYTHON ints: sum·cnt exceeds int64
        # once a clip passes ~6M samples (~2 min at 44.1 kHz),
        # and numpy would wrap silently — 64 comparisons per
        # clip cost nothing
        bits = np.array(
            [
                1 if sums[k + 1] * cnts[k] > sums[k] * cnts[k + 1] else 0
                for k in range(64)
            ],
            dtype=np.uint64,
        )
        return [(int(mid), *_pack64(bits), None)]

    return _kind_pass(
        media, "audio", fingerprint, AUDIO_FP_SCHEMA,
        skip_errors=skip_errors, on_error=_hash_error_row, catch=_DECODE_ERRORS,
    )


def audio_near_pairs(fingerprints: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """Audio near-dup pairs from energy fingerprints — the shared
    banded-Hamming engine (``dedup_text.banded_hamming_pairs``) on the
    audio fingerprint, completing the cross-modal near-dup family
    (text SimHash / image dHash / audio / video all band the same
    way).  Input (media_id, afp); output (media_a, media_b, hamming).
    At max_hamming ≤ 3 the 4-band join is exhaustive by pigeonhole."""
    from opentsdb_aura_spark.operators.dedup_text import banded_hamming_pairs

    return banded_hamming_pairs(
        fingerprints,
        id_col="media_id",
        hash_col="afp",
        max_hamming=max_hamming,
        out_a="media_a",
        out_b="media_b",
    )


VIDEO_FP_SCHEMA = "media_id bigint, vfp bigint, vfp_bits string, error string"


def video_temporal_fingerprint(media: DataFrame, *, skip_errors: bool = False) -> DataFrame:
    """Perceptual video fingerprint — the temporal luma-delta sign
    hash (the time-axis analogue of image dHash: dHash compares each
    pixel to its spatial neighbor, this compares each frame's total
    luma to the PREVIOUS frame's): bit f = luma_sum[f+1] >
    luma_sum[f] for the first 64 frame transitions; clips with fewer
    than 65 frames zero-fill the remaining bits (callers should
    restrict the near-pair surface to clips with ≥65 frames — shorter
    clips collapse onto shared zero bands, the same degenerate-band
    hazard ``multimodal_dhash_near_pairs`` documents for sub-grid
    images).

    BRIGHTNESS-SHIFT-INVARIANT by construction: adding a constant to
    every pixel (re-exposure/gamma-offset re-encodes that defeat
    exact-hash dedup) shifts every frame sum by the same amount and
    leaves every delta sign — hence every bit — unchanged, so a
    brightness-shifted re-encode lands at Hamming 0.  Frame sums are
    compared as exact integers on both engines (equal pixel counts per
    frame make cross-multiplication unnecessary).

    ``skip_errors`` follows the error-ROW contract of
    ``multimodal.image_dhash``."""

    def fingerprint(mid, payload):
        _w, _h, frames = decode_y4m(bytes(payload))
        sums = np.array(
            [np.frombuffer(f, dtype=np.uint8).astype(np.int64).sum() for f in frames],
            dtype=np.int64,
        )
        deltas = (sums[1:] > sums[:-1]).astype(np.uint64) if len(sums) > 1 else np.array([], dtype=np.uint64)
        bits = np.zeros(64, dtype=np.uint64)
        k = min(64, len(deltas))
        bits[:k] = deltas[:k]
        return [(int(mid), *_pack64(bits), None)]

    return _kind_pass(
        media, "video", fingerprint, VIDEO_FP_SCHEMA,
        skip_errors=skip_errors, on_error=_hash_error_row, catch=_DECODE_ERRORS,
    )


def video_near_pairs(fingerprints: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """Video near-dup pairs from temporal fingerprints via the shared
    banded-Hamming engine.  Input (media_id, vfp); output (media_a,
    media_b, hamming).  Exhaustive at max_hamming ≤ 3 by pigeonhole."""
    from opentsdb_aura_spark.operators.dedup_text import banded_hamming_pairs

    return banded_hamming_pairs(
        fingerprints,
        id_col="media_id",
        hash_col="vfp",
        max_hamming=max_hamming,
        out_a="media_a",
        out_b="media_b",
    )
