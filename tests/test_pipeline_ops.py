"""Training-data pipeline operators: dedup, similarity, text,
multimodal plumbing."""

import math

from pyspark.sql import functions as F

import pytest

from opentsdb_aura_spark.operators.dedup_text import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from opentsdb_aura_spark.operators.multimodal import attach_fake_media, extract_features, media_stats
from opentsdb_aura_spark.operators.similarity import brute_force_topk, lsh_topk
from opentsdb_aura_spark.operators.text import lang_id, quality_scores, token_stats


@pytest.fixture(scope="module")
def doc_df(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"  # 1 token differs
    other = "one two three four five six seven eight nine ten"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, other),
        (4, "the quick brown fox and the lazy dog of doom"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(doc_df):
    out = exact_duplicates(doc_df).collect()
    assert len(out) == 1
    assert out[0]["dup_count"] == 2 and out[0]["keep_id"] == 0


def test_ngram_jaccard(doc_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(doc_df, threshold=0.2).collect()}
    assert pairs[(0, 1)] == 1.0  # identical docs
    # 8 shingles each, 7 shared → 7/9
    assert abs(pairs[(0, 2)] - 7 / 9) < 1e-9
    assert (0, 3) not in pairs


def test_ngram_hot_shingle_guard(spark):
    """A shingle planted in EVERY doc must not create candidate pairs
    on its own when the guard trips, and surviving pairs keep their
    exact full-set Jaccard values (the guard prunes candidates, never
    changes values)."""
    hot = "common stop words"
    rows = [(i, f"{hot} unique{i} filler{i} tail{i} end{i}") for i in range(10)]
    rows += [(100, f"{hot} shared body text here now"), (101, f"{hot} shared body text here soon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # guard off: every doc pairs with every other via the hot shingle
    loose = ngram_jaccard_pairs(df, threshold=0.0, max_shingle_freq=None).collect()
    assert len(loose) == 12 * 11 / 2

    # guard at 5: the 12-doc hot shingle is dropped from candidate
    # generation; only the genuinely-similar pair survives
    tight = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.0, max_shingle_freq=5).collect()
    }
    assert set(tight) == {(100, 101)}
    # value equals the full-set Jaccard (incl. the hot shingle): the
    # two docs share 5 of their 6 3-shingles → 5/7
    loose_vals = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in loose}
    assert tight[(100, 101)] == loose_vals[(100, 101)]


def test_lsh_self_join_has_no_broadcast_hint(spark, emb_df):
    """The LSH near-dup self-join must not carry a broadcast hint on
    the corpus: with auto-broadcast disabled, the plan must contain no
    BroadcastExchange (a hint would force one regardless of size —
    the 100 TB OOM the hint used to cause)."""
    from opentsdb_aura_spark.operators.similarity import embedding_near_dup_pairs

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = embedding_near_dup_pairs(emb_df, threshold=0.95, use_lsh=True, dim=4)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        assert "BroadcastExchange" not in plan, plan
        # self-search via lsh_topk must not broadcast either
        df2 = lsh_topk(emb_df, emb_df, k=2, dim=4)
        plan2 = df2._sc._jvm.PythonSQLUtils.explainString(df2._jdf.queryExecution(), "formatted")
        assert "BroadcastExchange" not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_minhash_lsh_finds_planted_dups(doc_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in minhash_lsh_candidates(doc_df, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs  # near-dup bucket collision
    assert (0, 3) not in pairs


def test_minhash_lsh_exact_verify_matches_true_jaccard(doc_df):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_candidates(doc_df, threshold=0.5, exact_verify=True).collect()
    }
    assert pairs[(0, 1)] == 1.0
    # docs 0 and 2 each have 8 trigram shingles and share 7: J = 7/9
    assert abs(pairs[(0, 2)] - 7 / 9) < 1e-9


def test_estimate_prefilter_cutoff_conservative():
    """The exact-verify pre-filter cutoff must be conservative: the
    exact binomial lower tail at the cutoff stays under delta, and the
    degenerate thresholds collapse to no-filter / all-match."""
    from math import comb

    from opentsdb_aura_spark.operators.dedup_text import _estimate_prefilter_cutoff

    assert _estimate_prefilter_cutoff(32, 0.5) == 3
    assert _estimate_prefilter_cutoff(32, 0.0) == 0  # threshold 0: keep all
    assert _estimate_prefilter_cutoff(32, 1.0) == 32  # J=1 pairs match all mins
    for k, t in [(16, 0.5), (32, 0.5), (32, 0.8), (64, 0.7)]:
        c = _estimate_prefilter_cutoff(k, t)
        tail = sum(comb(k, i) * t**i * (1 - t) ** (k - i) for i in range(c))
        assert tail <= 1e-6, (k, t, c, tail)


def test_minhash_lsh_band_bucket_skew_guard(spark):
    """A mass of identical docs collapses into one (band, bh) bucket per
    band; without the cap the band self-join enumerates O(n²) candidate
    pairs (≈12.5 M for 5 000 clones).  The (lazy, in-plan) guard must
    drop those buckets and still report pairs among normal docs, and
    lsh_hot_bucket_report must surface the dropped buckets."""
    from opentsdb_aura_spark.operators.dedup_text import (
        compute_minhash_index,
        lsh_hot_bucket_report,
    )

    clone = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    pair = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, clone) for i in range(5000)]
    rows += [(10_000, pair), (10_001, pair)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = minhash_lsh_candidates(df, threshold=0.5, max_band_bucket=1000).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (10_000, 10_001) in got  # normal pairs survive the guard
    # no clone pair should appear (their buckets were dropped), and the
    # result is far from the 12.5M-pair quadratic blow-up
    assert all(a >= 10_000 for a, _ in got)

    # the audit surface reports exactly the clone buckets (one per band
    # at 5 000 docs each, all above the 1 000 cap)
    report = lsh_hot_bucket_report(compute_minhash_index(df), max_band_bucket=1000).collect()
    assert report and all(r["n_docs"] == 5000 for r in report)


def test_simhash_identical_and_near(doc_df):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(doc_df).collect()}
    assert fps[0] == fps[1]
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_pairs(doc_df, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0


@pytest.fixture(scope="module")
def emb_df(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),  # nearest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [1.0, 0.0, 0.0, 0.0]),  # identical to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(emb_df):
    import pyspark.sql.functions as F

    res = brute_force_topk(emb_df, emb_df.where(F.col("vec_id") == 0), k=2).collect()
    order = [r["neighbor_id"] for r in res]
    assert order == [4, 1]  # identical first, then near
    assert abs(res[0]["cos_sim"] - 1.0) < 1e-12


def test_lsh_topk_recalls_identical(emb_df):
    import pyspark.sql.functions as F

    res = lsh_topk(emb_df, emb_df.where(F.col("vec_id") == 0), k=2, dim=4).collect()
    assert any(r["neighbor_id"] == 4 and abs(r["cos_sim"] - 1.0) < 1e-12 for r in res)
    # opposite vector never lands in the same sign-pattern bucket
    assert all(r["neighbor_id"] != 3 for r in res)


def test_ivf_full_probe_equals_brute_force(emb_df):
    import pyspark.sql.functions as F

    from opentsdb_aura_spark.operators.similarity import ivf_topk

    q = emb_df.where(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in brute_force_topk(emb_df, q, k=3).collect()}
    # probing every list makes IVF exhaustive — must equal brute force
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in ivf_topk(emb_df, q, k=3, n_centroids=2, nprobe=2, sample=5).collect()
    }
    assert set(ivf) == set(exact)
    for key, v in exact.items():
        assert abs(ivf[key] - v) < 1e-9


def test_lsh_zero_planes_equals_brute_force(emb_df):
    import pyspark.sql.functions as F

    from opentsdb_aura_spark.operators.similarity import lsh_topk

    q = emb_df.where(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in brute_force_topk(emb_df, q, k=3).collect()}
    # 0-bit sign pattern → every vector in bucket 0 → the bucket join
    # is exhaustive and LSH must equal brute force (the ann_lsh_exact_topk
    # catalog property)
    lsh = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in lsh_topk(emb_df, q, k=3, dim=4, n_planes=0, n_tables=1).collect()
    }
    assert set(lsh) == set(exact)
    for key, v in exact.items():
        assert abs(lsh[key] - v) < 1e-9


def test_ivf_single_probe_recalls_identical(emb_df):
    import pyspark.sql.functions as F

    from opentsdb_aura_spark.operators.similarity import ivf_topk

    # identical vectors always assign to the same list, so nprobe=1
    # must still find the exact duplicate of vector 0
    res = ivf_topk(emb_df, emb_df.where(F.col("vec_id") == 0), k=1, n_centroids=2, nprobe=1, sample=5).collect()
    assert [r["neighbor_id"] for r in res] == [4]
    assert abs(res[0]["cos_sim"] - 1.0) < 1e-12


def test_token_and_quality(doc_df):
    stats = {r["doc_id"]: r for r in token_stats(doc_df).collect()}
    assert stats[0]["n_tokens"] == 10
    q = {r["doc_id"]: r for r in quality_scores(doc_df).collect()}
    assert q[4]["n_tokens"] == 10
    assert abs(q[4]["stopword_ratio"] - 0.4) < 1e-9  # the, and, the, of
    assert abs(q[0]["stopword_ratio"] - 0.0) < 1e-9


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of to is"),
            (1, "der hund und die katze ist das"),
            (2, "xyz qqq zzz"),  # no markers: tie → alphabetical first
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["pred_lang"], r["score"]) for r in lang_id(df).collect()}
    assert out[0][0] == "en" and out[0][1] >= 4
    assert out[1][0] == "de"
    assert out[2] == ("de", 0)


def test_pii_scrub(spark):
    from opentsdb_aura_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (0, "mail a@b.com and c.d@e-f.org end"),
            (1, "host 10.0.255.3 ssn 123-45-6789 call 555-123-4567"),
            (2, "clean text with no pii at all"),
            # not an IPv4 (final group is 4 digits) — the dotted-phone
            # shape picks up 168.123.4567 instead
            (3, "ip 192.168.123.4567 stays weird"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[0]["n_email"] == 2
    assert out[0]["scrubbed"] == "mail <EMAIL> and <EMAIL> end"
    assert (out[1]["n_ip"], out[1]["n_ssn"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[1]["scrubbed"] == "host <IP> ssn <SSN> call <PHONE>"
    assert out[2]["scrubbed"] == "clean text with no pii at all"
    assert out[2]["n_email"] + out[2]["n_ip"] + out[2]["n_ssn"] + out[2]["n_phone"] == 0
    assert (out[3]["n_ip"], out[3]["n_phone"]) == (0, 1)
    assert out[3]["scrubbed"] == "ip 192.<PHONE> stays weird"


def test_multimodal_plumbing(doc_df):
    media = attach_fake_media(doc_df)
    stats = {r["kind"]: r for r in media_stats(media).collect()}
    assert sum(r["n_media"] for r in stats.values()) == 5
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 5
    byid = {r["media_id"]: r for r in feats}
    assert byid[0]["n_bytes"] == len("alpha beta gamma delta epsilon zeta eta theta iota kappa")
    assert byid[0]["checksum"] == byid[1]["checksum"]  # same payload → same fake features
    assert len(feats[0]["feat"]) == 8


def test_multimodal_real_decode_tiering():
    """BMP/PPM decode for real; compressed formats still raise."""
    from opentsdb_aura_spark.operators.multimodal import (
        _decode_real,
        decode_bmp,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    rgb = bytes(range(5 * 3 * 3))  # 5×3 image, distinct byte per channel
    assert decode_bmp(encode_bmp(5, 3, rgb)) == (5, 3, rgb)  # incl. row padding
    assert decode_ppm(encode_ppm(5, 3, rgb)) == (5, 3, rgb)
    assert _decode_real(encode_bmp(5, 3, rgb), "image") == (5, 3, rgb)
    with pytest.raises(NotImplementedError):
        _decode_real(b"\x89PNG....", "image")


def test_multimodal_real_features_and_resize(spark):
    """fake=False end-to-end on generated BMPs: features come from the
    decoded pixels, and nearest-neighbor resize round-trips through
    the codec."""
    from opentsdb_aura_spark.operators.multimodal import (
        attach_bmp_media,
        decode_bmp,
        extract_features,
        resize_images,
    )

    df = spark.createDataFrame([(7, "abcdef"), (20, "xyz")], "doc_id long, text string")
    media = attach_bmp_media(df)
    feats = {r["media_id"]: r for r in extract_features(media, fake=False).collect()}
    # doc 7: w=8, h=8 → 192 pixel bytes cycling 'abcdef' (ASCII 97-102)
    assert feats[7]["n_bytes"] == 8 * 8 * 3
    assert feats[7]["checksum"] == sum((b"abcdef" * 32)[: 8 * 8 * 3])
    assert feats[7]["feat"][0] == 8.0 and feats[7]["feat"][1] == 8.0
    # doc 20: w=5, h=9; 'xyz' cycles aligned with RGB → each channel constant
    assert feats[20]["feat"][2:] == [ord("x"), ord("y"), ord("z")]

    resized = {r["media_id"]: r for r in resize_images(media, 4, 2, fake=False).collect()}
    w, h, rgb = decode_bmp(bytes(resized[20]["resized"]))
    assert (w, h) == (4, 2)
    # nearest-neighbor from a channel-constant image stays channel-constant
    assert rgb[0::3] == bytes([ord("x")] * 8)


def test_png_roundtrip_and_all_filter_types():
    """decode_png must invert every PNG filter type (0–4), not just
    the filter-0 rows our encoder emits: build the filtered scanline
    stream by hand with one filter per row and check exact recovery."""
    import struct
    import zlib

    from opentsdb_aura_spark.operators.multimodal import _PNG_SIG, decode_png, encode_png

    w, h = 5, 5
    rgb = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
    # round-trip through our own encoder (filter 0)
    assert decode_png(encode_png(w, h, rgb)) == (w, h, rgb)

    # forward-filter each row with types 0..4 and rebuild the PNG
    bpp, stride = 3, w * 3
    rows = [rgb[y * stride : (y + 1) * stride] for y in range(h)]
    prev = bytes(stride)
    raw = bytearray()
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)
    for y, row in enumerate(rows):
        ft = y % 5
        raw.append(ft)
        for i, v in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                raw.append(v)
            elif ft == 1:
                raw.append((v - a) & 0xFF)
            elif ft == 2:
                raw.append((v - b) & 0xFF)
            elif ft == 3:
                raw.append((v - ((a + b) >> 1)) & 0xFF)
            else:
                raw.append((v - paeth(a, b, c)) & 0xFF)
        prev = row

    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == (w, h, rgb)


def test_png_paletted_and_grayscale():
    """Paletted PNG (color type 3 + PLTE) round-trips exactly at every
    depth the minimal-depth encoder picks (1/2/4/8-bit, MSB-first
    packing), filtered paletted rows unfilter at bpp=1, 8-bit
    grayscale (color type 0) expands to RGB, 16-bit samples unfilter
    at the doubled byte distance and keep the high byte, and the
    remaining honest boundary (interlaced sub-8-bit palettes) still
    raises."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from opentsdb_aura_spark.operators.multimodal import _PNG_SIG, decode_png, encode_png_paletted

    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    rng = np.random.default_rng(42)
    for ncolors in (1, 2, 4, 13, 200, 256):  # depths 1,1,2,4,8,8
        w, h = 17, 9
        pal = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
        rgb = pal[rng.integers(0, ncolors, (h, w))].tobytes()
        assert decode_png(encode_png_paletted(w, h, rgb)) == (w, h, rgb), ncolors

    # Up-filtered (type 2) paletted rows: left distance is 1 byte
    pal = np.arange(48, dtype=np.uint8).reshape(16, 3)
    idx = rng.integers(0, 16, (4, 6), dtype=np.uint8)
    raw = bytearray(b"\x00" + idx[0].tobytes())
    for y in range(1, 4):
        raw += b"\x02" + ((idx[y].astype(int) - idx[y - 1].astype(int)) & 0xFF).astype(np.uint8).tobytes()
    png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 4, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == (6, 4, pal[idx].tobytes())

    gray = rng.integers(0, 256, (5, 7), dtype=np.uint8)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(5))
    png0 = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png0) == (7, 5, np.repeat(gray.reshape(5, 7, 1), 3, axis=2).tobytes())

    # 16-bit samples: unfilter at the doubled byte distance, keep the
    # high byte (the standard 16->8 downconversion)
    w16, h16 = 7, 5
    px16 = rng.integers(0, 65536, (h16, w16, 3), dtype=np.uint16)
    rows16 = np.frombuffer(px16.astype(">u2").tobytes(), dtype=np.uint8).reshape(h16, w16 * 6)
    raw16 = bytearray()
    prev16 = np.zeros(w16 * 6, dtype=np.uint8)
    for y in range(h16):
        if y % 2 == 0:
            raw16 += b"\x00" + rows16[y].tobytes()
        else:
            raw16 += b"\x02" + ((rows16[y].astype(int) - prev16.astype(int)) & 0xFF).astype(np.uint8).tobytes()
        prev16 = rows16[y]
    png16 = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w16, h16, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw16)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png16) == (w16, h16, (px16 >> 8).astype(np.uint8).tobytes())

    # interlaced sub-8-bit palettes stay an honest boundary
    interlaced_pal4 = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 4, 3, 0, 0, 1))
        + chunk(b"PLTE", bytes(48))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError):
        decode_png(interlaced_pal4)


def test_png_adam7_interlaced():
    """Adam7-interlaced PNG round-trips exactly: every pass geometry
    (including degenerate 1-pixel-wide/tall images where passes are
    empty), per-pass filter state starting fresh (Up-filtered rows
    inside passes), and 8-bit RGB/grayscale/paletted color types."""
    import struct
    import zlib

    import numpy as np

    from opentsdb_aura_spark.operators.multimodal import (
        _ADAM7_PASSES,
        _PNG_SIG,
        decode_png,
        encode_png_interlaced,
    )

    rng = np.random.default_rng(11)
    for w, h in ((1, 1), (2, 2), (3, 5), (8, 8), (17, 13), (7, 1), (1, 9)):
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
        assert decode_png(encode_png_interlaced(w, h, rgb)) == (w, h, rgb), (w, h)

    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    # Up-filtered rows within each pass: pass state must reset
    w, h = 9, 6
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7_PASSES:
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        prev = np.zeros(sub.shape[1] * 3, dtype=np.uint8)
        for i, row in enumerate(sub):
            flat = row.reshape(-1)
            if i == 0:
                raw += b"\x00" + flat.tobytes()
            else:
                raw += b"\x02" + ((flat.astype(int) - prev.astype(int)) & 0xFF).astype(np.uint8).tobytes()
            prev = flat
    png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == (w, h, px.tobytes())

    # interlaced 8-bit paletted
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (5, 7), dtype=np.uint8)
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7_PASSES:
        sub = idx[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + row.tobytes()
    png3 = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 5, 8, 3, 0, 0, 1))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png3) == (7, 5, pal[idx].tobytes())


def test_gif_roundtrip_and_animation():
    """GIF codec: exact roundtrip across sizes/palettes (plain and
    interlaced), a hand-built LZW reference stream (so the
    decompressor is checked against the SPEC, not just our own
    compressor), LZW table resets on large images, animated files
    decode to the first frame with the frame count reported, and
    >256-color encodes are rejected."""
    import struct

    import numpy as np
    import pytest as _pytest

    from opentsdb_aura_spark.operators.gif import (
        _lzw_decode,
        decode_gif,
        encode_gif,
        gif_frame_count,
    )

    # hand-built: pixels [1,2,1] at min_code_size=2 → CLEAR,1,2,1,EOI
    # at 3 bits LSB-first = 0x8C 0x52
    assert bytes(_lzw_decode(bytes([0x8C, 0x52]), 2, 3)) == bytes([1, 2, 1])

    rng = np.random.default_rng(5)
    for w, h in ((1, 1), (3, 1), (17, 13), (40, 24)):
        for ncolors in (1, 2, 17, 200):
            pal = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
            rgb = pal[rng.integers(0, ncolors, (h, w))].tobytes()
            for il in (False, True):
                assert decode_gif(encode_gif(w, h, rgb, interlace=il)) == (w, h, rgb)

    # large enough to force LZW dictionary resets (>4095 codes)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    rgb = pal[rng.integers(0, 256, (150, 200))].tobytes()
    assert decode_gif(encode_gif(200, 150, rgb)) == (200, 150, rgb)

    # animated: splice a second image block before the trailer — the
    # decoder returns frame 1, the counter sees both
    f1 = np.tile(np.array([10, 20, 30], np.uint8), (4, 4, 1)).tobytes()
    f2 = np.tile(np.array([200, 100, 50], np.uint8), (4, 4, 1)).tobytes()
    g1, g2 = encode_gif(4, 4, f1), encode_gif(4, 4, f2)
    lsd_end = 13 + 3 * 2  # header + logical screen + 2-entry GCT
    animated = g1[:-1] + g2[lsd_end:]  # drop g1 trailer, append g2's image block
    assert gif_frame_count(animated) == 2
    assert decode_gif(animated) == (4, 4, f1)

    with _pytest.raises(ValueError, match="256 colors"):
        many = np.zeros((300, 3), np.uint8)
        many[:, 0] = np.arange(300) % 256
        many[:, 1] = np.arange(300) // 256
        encode_gif(300, 1, many.tobytes())

    # frame smaller than the logical screen: offset blit over the
    # background color.  The inner 2x2 frame is a single color, so its
    # LZW stream is all index 0; give the spliced file a GCT whose
    # index 0 is that color and whose index 1 (the background) is black
    inner = encode_gif(2, 2, bytes([9, 9, 9] * 4))
    hdr = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80, 1, 0) + bytes(
        [9, 9, 9, 0, 0, 0]
    )
    desc_at = 13 + 6  # inner's image block starts after ITS header+GCT
    patched = bytearray(hdr + inner[desc_at:])
    di = bytes(patched).find(b"\x2c")
    patched[di + 1 : di + 5] = struct.pack("<HH", 1, 1)  # blit at (1,1)
    w, h, rgb = decode_gif(bytes(patched))
    assert (w, h) == (4, 4)
    px = np.frombuffer(rgb, np.uint8).reshape(4, 4, 3)
    assert (px[1:3, 1:3] == 9).all()
    assert (px[0, :] == 0).all() and (px[:, 0] == 0).all() and (px[3, :] == 0).all()


def test_gif_animated_disposal_and_transparency():
    """decode_gif_frames: presented-canvas compositing across all four
    disposal methods and transparency show-through, against hand-built
    encode_gif_animated fixtures."""
    import numpy as np

    from opentsdb_aura_spark.operators.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif_animated,
        gif_frame_count,
    )

    w, h = 4, 3
    f0 = bytes(range(0, 36))
    f1 = bytes(range(100, 136))

    # full-frame blocks: each presented canvas is its own frame; the
    # single-frame decoder still returns frame 0
    g = encode_gif_animated(w, h, [(0, 0, w, h, f0), (0, 0, w, h, f1)])
    sw, sh, frames = decode_gif_frames(g)
    assert (sw, sh, frames) == (w, h, [f0, f1])
    assert gif_frame_count(g) == 2
    assert decode_gif(g) == (w, h, f0)

    # disposal 1 (do not dispose): a partial block overwrites its
    # region, the rest of the canvas persists from frame 0
    blk = bytes([9] * 12)
    g = encode_gif_animated(w, h, [(0, 0, w, h, f0), (1, 1, 2, 2, blk)])
    _, _, fr = decode_gif_frames(g)
    want = np.frombuffer(f0, np.uint8).reshape(h, w, 3).copy()
    want[1:3, 1:3] = 9
    assert fr[1] == want.tobytes()

    # disposal 2 (restore to background): region resets AFTER present
    g = encode_gif_animated(
        w, h, [(1, 1, 2, 2, blk), (0, 0, 1, 1, bytes([5, 5, 5]))],
        disposals=[2, 1], bg_rgb=(7, 8, 9),
    )
    _, _, fr = decode_gif_frames(g)
    c0 = np.frombuffer(fr[0], np.uint8).reshape(h, w, 3)
    assert (c0[1:3, 1:3] == 9).all() and (c0[0, 0] == [7, 8, 9]).all()
    c1 = np.frombuffer(fr[1], np.uint8).reshape(h, w, 3)
    assert (c1[1:3, 1:3] == [7, 8, 9]).all() and (c1[0, 0] == [5, 5, 5]).all()

    # disposal 3 (restore to previous): frame 2 sees frame 1's damage
    # undone
    g = encode_gif_animated(
        w, h,
        [(0, 0, w, h, f0), (1, 1, 2, 2, blk), (0, 0, 1, 1, bytes([5, 5, 5]))],
        disposals=[1, 3, 1],
    )
    _, _, fr = decode_gif_frames(g)
    want = np.frombuffer(f0, np.uint8).reshape(h, w, 3).copy()
    want[0, 0] = [5, 5, 5]
    assert fr[2] == want.tobytes()

    # transparency: pixels matching the transparent RGB show the
    # underlying canvas through
    blk2 = bytes([1, 2, 3, 40, 41, 42, 1, 2, 3, 50, 51, 52])  # 2x2
    g = encode_gif_animated(w, h, [(0, 0, w, h, f0), (0, 0, 2, 2, blk2)], transparent=(1, 2, 3))
    _, _, fr = decode_gif_frames(g)
    want = np.frombuffer(f0, np.uint8).reshape(h, w, 3).copy()
    want[0, 1] = [40, 41, 42]
    want[1, 1] = [50, 51, 52]
    assert fr[1] == want.tobytes()


def test_sample_gif_frames(spark):
    """The animated-GIF corpus generator + frame sampler: every 2nd
    presented canvas, with the composite rule recomputed in numpy."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import attach_animated_gif_media, sample_gif_frames

    doc = (7, "hello world gif frames")  # w=7%8+2=9, h=7%6+2=3, nf=7%10+3=10
    df = spark.createDataFrame([doc], "doc_id long, text string")
    rows = {r["frame_idx"]: r for r in sample_gif_frames(attach_animated_gif_media(df), every_n=2).collect()}
    w, h, nf = 9, 3, 10
    assert sorted(rows) == [0, 2, 4, 6, 8]
    text = doc[1].encode()
    stream = np.frombuffer((text * (-(-(nf * w * h) // len(text))))[: nf * w * h], np.uint8).astype(np.int64)
    # replay the composite rule for EVERY sampled frame: last opaque
    # (≠101) write wins, else 0
    for fi in [0, 2, 4, 6, 8]:
        px = np.zeros(w * h, dtype=np.int64)
        v0 = stream[: w * h]
        px[v0 != 101] = v0[v0 != 101]
        for ff in range(1, fi + 1):
            blk = stream[ff * w * h : ff * w * h + (w - 1) * (h - 1)].reshape(h - 1, w - 1)
            canvas = px.reshape(h, w)
            region = canvas[: h - 1, : w - 1]
            region[blk != 101] = blk[blk != 101]
        r = rows[fi]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["checksum"] == int(px.sum()), fi
        assert abs(r["mean_luma"] - px.mean()) < 1e-9


def test_mixed_format_media_decode(spark):
    """attach_image_media round-robins BMP/PPM/PNG/paletted-PNG/
    interlaced-PNG; fake=False feature extraction must decode all of
    them to identical pixel semantics."""
    from opentsdb_aura_spark.operators.multimodal import attach_image_media, extract_features

    # ids 9, 10, 11 → formats[id % 5] = pngi, bmp, ppm
    df = spark.createDataFrame([(9, "abcdef"), (10, "abcdef"), (11, "abcdef")], "doc_id long, text string")
    feats = {r["media_id"]: r for r in extract_features(attach_image_media(df), fake=False).collect()}
    for mid in (9, 10, 11):
        w, h = mid % 16 + 1, mid % 12 + 1
        n = w * h * 3
        expect = sum((b"abcdef" * (n // 6 + 1))[:n])
        assert feats[mid]["n_bytes"] == n
        assert feats[mid]["checksum"] == expect, mid


def test_embedding_near_dup_pairs(emb_df):
    from opentsdb_aura_spark.operators.similarity import embedding_near_dup_pairs

    exact = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in embedding_near_dup_pairs(emb_df, threshold=0.95).collect()}
    assert (0, 4) in exact and abs(exact[(0, 4)] - 1.0) < 1e-12  # identical pair
    assert (0, 1) in exact  # near pair (cos ≈ 0.994)
    assert (0, 2) not in exact  # orthogonal

    lsh = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(emb_df, threshold=0.95, use_lsh=True, dim=4).collect()}
    assert (0, 4) in lsh  # identical vectors always collide


def test_multimodal_resize_and_frames(doc_df):
    from opentsdb_aura_spark.operators.multimodal import resize_images, sample_frames

    media = attach_fake_media(doc_df)
    resized = resize_images(media, 64, 64).collect()
    assert all(r["out_width"] == 64 and len(r["resized"]) == 64 for r in resized)
    assert {r["kind"] for r in resized} == {"image"}

    frames = sample_frames(media, every_n=10).collect()
    assert all(len(r["frame"]) == 16 for r in frames)
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    # every video fans out to ceil(n_frames/10) frames at indices 0,10,20…
    vids = {r["media_id"]: r["n_frames"] for r in media.where("kind = 'video'").collect()}
    assert set(by_media) == set(vids)
    for mid, idxs in by_media.items():
        assert idxs == list(range(0, vids[mid], 10))


def test_pack_sequences_offsets_and_spans(spark):
    from opentsdb_aura_spark.operators.corpus import pack_sequences

    rows = [(i, " ".join(["w"] * n)) for i, n in [(0, 3), (1, 5), (2, 10), (3, 2)]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pack_sequences(df, seq_len=8, block_size=2).collect()}
    # stream: doc0 [0,3) doc1 [3,8) doc2 [8,18) doc3 [18,20)
    assert [got[i]["token_start"] for i in range(4)] == [0, 3, 8, 18]
    assert got[1]["seq_first"] == 0 and got[1]["seq_last"] == 0  # tokens 3..7
    assert got[2]["seq_first"] == 1 and got[2]["seq_last"] == 2  # tokens 8..17
    assert got[2]["offset_first"] == 0
    assert got[3]["seq_first"] == 2 and got[3]["offset_first"] == 2


def test_pack_sequences_two_level_cumsum_matches_global(spark):
    from opentsdb_aura_spark.operators.corpus import pack_sequences

    rows = [(i, " ".join(["t"] * (i % 7 + 1))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(pack_sequences(df, seq_len=16, block_size=8).collect(), key=lambda r: r["doc_id"])
    run = 0
    for r in got:
        assert r["token_start"] == run
        run += r["n_tokens"]


def test_mixture_sample_deterministic_and_rated(spark):
    from opentsdb_aura_spark.operators.corpus import mixture_sample

    rows = [(i, "x", ["web", "books"][i % 2]) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    res = mixture_sample(df, {"books": 1.0, "web": 0.25}, default_rate=0.0)
    got = res.groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in got}
    assert counts["books"] == 1000  # rate 1.0 keeps everything
    assert 150 < counts["web"] < 350  # ~25% of 1000
    # deterministic: second run identical
    again = mixture_sample(df, {"books": 1.0, "web": 0.25}, default_rate=0.0)
    assert sorted(r["doc_id"] for r in res.collect()) == sorted(r["doc_id"] for r in again.collect())


def test_semantic_dedup_planted_dups(spark):
    from opentsdb_aura_spark.operators.similarity import semantic_dedup

    # two well-separated directions; ids 0/1/2 identical, 10/11 identical
    a, b = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    rows = [(0, a), (1, a), (2, a), (10, b), (11, b), (20, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in semantic_dedup(df, threshold=0.99, n_centroids=2, sample=6).collect()}
    assert got[0]["kept"] is True and got[0]["dup_of"] is None
    assert got[1]["kept"] is False and got[1]["dup_of"] == 0
    assert got[2]["kept"] is False and got[2]["dup_of"] == 0
    assert got[10]["kept"] is True
    assert got[11]["kept"] is False and got[11]["dup_of"] == 10
    assert got[20]["kept"] is True


def test_semantic_dedup_single_cluster_equals_exact(spark):
    from opentsdb_aura_spark.operators.similarity import embedding_near_dup_pairs, semantic_dedup

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # planted exact dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sd = semantic_dedup(df, threshold=0.98, n_centroids=1, sample=50)
    dropped = {r["vec_id"]: r["dup_of"] for r in sd.collect() if not r["kept"]}
    pairs = embedding_near_dup_pairs(df, threshold=0.98)
    expect = {}
    for r in pairs.collect():
        expect[r["id_b"]] = min(expect.get(r["id_b"], r["id_a"]), r["id_a"])
    assert dropped == expect


def test_semantic_dedup_no_broadcast_of_corpus(spark):
    from opentsdb_aura_spark.operators.similarity import semantic_dedup

    rows = [(i, [float(i % 5), 1.0, 0.0, 0.0]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = semantic_dedup(df, n_centroids=4, sample=100)._jdf.queryExecution().executedPlan().toString()
    # the within-cluster self-join must shuffle on cluster_id, never
    # broadcast a corpus side (driver OOM hazard at 100 TB)
    assert "CartesianProduct" not in plan


def test_repeated_ngram_spans(spark):
    """Span-level exact dedup: planted shared 4-gram found at every
    occurrence with the right document frequency; unique text silent."""
    from opentsdb_aura_spark.operators.dedup_text import repeated_ngram_spans

    shared = "lorem ipsum dolor sit"
    rows = [
        (0, f"intro words {shared} trailing text"),
        (1, f"{shared} elsewhere entirely different suffix"),
        (2, "completely unrelated content with no repeats at all"),
        (3, f"prefix {shared} again {shared} twice here"),  # repeats internally too
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = repeated_ngram_spans(df, n=4, min_docs=2)
    got = {(r["doc_id"], r["pos"]): (r["gram"], r["n_docs"]) for r in res.collect()}
    # doc 0 at offset 2; doc 1 at 0; doc 3 at 1 and 6
    assert set(got) == {(0, 2), (1, 0), (3, 1), (3, 6)}
    assert all(g == shared and nd == 3 for g, nd in got.values())


def test_excise_repeated_spans(spark):
    """Excision removes exactly the tokens under repeated spans,
    merged across overlaps; clean docs pass through normalized."""
    from opentsdb_aura_spark.operators.dedup_text import excise_repeated_spans

    shared = "lorem ipsum dolor sit"
    rows = [
        (0, f"intro words {shared} trailing text"),
        (1, f"{shared} elsewhere entirely different suffix"),
        (2, "Completely  Unrelated content"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in excise_repeated_spans(df, n=4, min_docs=2).collect()}
    assert got[0] == ("intro words trailing text", 4)
    assert got[1] == ("elsewhere entirely different suffix", 4)
    assert got[2] == ("completely unrelated content", 0)  # normalized, untouched


def test_minhash_index_incremental_equals_direct(spark, tmp_path, doc_df):
    """Index-then-query must equal direct LSH: build the signature
    index from batch 1, append batch 2 incrementally (only new docs
    signed), and the candidates from the stored index match
    minhash_lsh_candidates over the full corpus."""
    from opentsdb_aura_spark.operators.dedup_text import (
        lsh_candidates_from_signatures,
        minhash_lsh_candidates,
        update_minhash_index,
    )

    from pyspark.sql import functions as F

    path = str(tmp_path / "mh_index")
    b1 = doc_df.where(F.col("doc_id") < 3)
    b2 = doc_df  # overlaps b1: only docs 3, 4 are new
    idx1 = update_minhash_index(b1, path)
    assert idx1.count() == 3
    idx2 = update_minhash_index(b2, path)
    assert idx2.count() == 5  # no doc re-signed or duplicated

    from_index = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in lsh_candidates_from_signatures(idx2, threshold=0.5).collect()
    }
    direct = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_candidates(doc_df, threshold=0.5).collect()
    }
    assert from_index == direct and (0, 1) in direct


def test_jpeg_roundtrip_bounds():
    """Baseline JPEG codec: flat fields decode within ±2/channel, a
    hard synthetic gradient stays above 40 dB PSNR, dimensions exact,
    and restart-marker streams decode identically to plain ones."""
    import numpy as np

    from opentsdb_aura_spark.operators.jpeg import decode_jpeg, encode_jpeg

    w, h = 16, 16
    flat = bytes([100, 150, 200]) * (w * h)
    jw, jh, out = decode_jpeg(encode_jpeg(w, h, flat))
    assert (jw, jh) == (w, h)
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(int) - np.frombuffer(flat, np.uint8).astype(int)
    )
    assert err.max() <= 2, err.max()

    w, h = 40, 24
    px = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            # smooth (non-wrapping) gradients: JPEG's natural regime
            px[y, x] = (x * 255 // (w - 1), y * 255 // (h - 1), (x + y) * 255 // (w + h - 2))
    jw, jh, out = decode_jpeg(encode_jpeg(w, h, px.tobytes()))
    assert (jw, jh) == (w, h)
    dec = np.frombuffer(out, np.uint8).astype(float).reshape(h, w, 3)
    mse = ((dec - px.astype(float)) ** 2).mean()
    psnr = 10 * np.log10(255**2 / max(mse, 1e-9))
    # 40 dB would have caught the zigzag-vs-natural dequant bug
    assert psnr >= 40.0, psnr

    plain = decode_jpeg(encode_jpeg(w, h, px.tobytes()))
    for ri in (1, 3, 7):
        assert decode_jpeg(encode_jpeg(w, h, px.tobytes(), restart_interval=ri)) == plain


def test_jpeg_subsampled_roundtrip_bounds():
    """4:2:2 / 4:2:0 chroma-subsampled baseline JPEG (T.81 A.2.3 MCU
    interleave): flat fields decode within ±3/channel (subsampling is
    lossless on constant chroma), the structured gradient stays above
    38/34 dB PSNR (box-mean down + nearest up bounds the chroma error),
    dimensions exact on non-MCU-aligned sizes, and restart-marker
    streams decode identically to plain ones."""
    import numpy as np

    from opentsdb_aura_spark.operators.jpeg import decode_jpeg, encode_jpeg

    w, h = 20, 14  # not a multiple of the 16x16 (420) MCU
    flat = bytes([100, 150, 200]) * (w * h)
    for ss in ("422", "420"):
        jw, jh, out = decode_jpeg(encode_jpeg(w, h, flat, subsampling=ss))
        assert (jw, jh) == (w, h)
        err = np.abs(
            np.frombuffer(out, np.uint8).astype(int) - np.frombuffer(flat, np.uint8).astype(int)
        )
        assert err.max() <= 3, (ss, err.max())

    w, h = 40, 24
    px = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            px[y, x] = (x * 255 // (w - 1), y * 255 // (h - 1), (x + y) * 255 // (w + h - 2))
    for ss, bound in (("422", 38.0), ("420", 34.0)):
        jw, jh, out = decode_jpeg(encode_jpeg(w, h, px.tobytes(), subsampling=ss))
        assert (jw, jh) == (w, h)
        dec = np.frombuffer(out, np.uint8).astype(float).reshape(h, w, 3)
        mse = ((dec - px.astype(float)) ** 2).mean()
        psnr = 10 * np.log10(255**2 / max(mse, 1e-9))
        assert psnr >= bound, (ss, psnr)
        plain = decode_jpeg(encode_jpeg(w, h, px.tobytes(), subsampling=ss))
        for ri in (1, 3, 7):
            assert decode_jpeg(encode_jpeg(w, h, px.tobytes(), subsampling=ss, restart_interval=ri)) == plain

    # odd sizes across the MCU grid: dims exact, decode sane
    for w, h in ((17, 13), (7, 5), (1, 1), (33, 9)):
        src = np.full((h, w, 3), (40, 90, 160), dtype=np.uint8)
        for ss in ("422", "420"):
            jw, jh, out = decode_jpeg(encode_jpeg(w, h, src.tobytes(), subsampling=ss))
            assert (jw, jh) == (w, h), (w, h, ss)
            err = np.abs(np.frombuffer(out, np.uint8).astype(int).reshape(h, w, 3) - src.astype(int))
            assert err.max() <= 3, (w, h, ss, err.max())


def test_jpeg_progressive_equals_baseline():
    """Progressive (SOF2) decode, the strongest oracle available: both
    writers quantize identically, so the 10-scan spectral-selection +
    successive-approximation stream must decode to PIXEL-IDENTICAL
    output vs the independently-bounded sequential roundtrip — any
    drift in DC/AC first or refinement coding (EOBRUN, correction-bit
    ordering) shows up as a pixel diff."""
    import numpy as np

    from opentsdb_aura_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for w, h in ((16, 16), (40, 24), (17, 13), (7, 5), (1, 1)):
        rng = np.random.default_rng(w * h)
        grad = np.zeros((h, w, 3), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                grad[y, x] = (x * 255 // max(w - 1, 1), y * 255 // max(h - 1, 1), (x * y) % 256)
        noise = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for px in (grad, noise):
            for ss in ("444", "422", "420"):
                base = decode_jpeg(encode_jpeg(w, h, px.tobytes(), subsampling=ss))
                prog = decode_jpeg(encode_jpeg(w, h, px.tobytes(), subsampling=ss, progressive=True))
                assert base == prog, (w, h, ss)
                # restart markers inside every progressive scan (fresh
                # DC predictors + flushed EOBRUN per segment) must not
                # change a single pixel either
                for ri in (1, 3):
                    rst = decode_jpeg(
                        encode_jpeg(w, h, px.tobytes(), subsampling=ss, progressive=True, restart_interval=ri)
                    )
                    assert rst == base, (w, h, ss, ri)


def test_jpeg_progressive_ac_scan_pair_property():
    """The AC first/refine entropy coders round-trip arbitrary sparse
    and dense coefficient blocks through every successive-approximation
    ladder — the isolation test that caught the libjpeg BE/BR
    correction-bit split during development."""
    import numpy as np

    import opentsdb_aura_spark.operators.jpeg as J

    tab_dec = J._huff_decode_table(J._AC_PROG_BITS, J._AC_PROG_VALS)
    tab_enc = J._huff_encode_table(J._AC_PROG_BITS, J._AC_PROG_VALS)
    rng = np.random.default_rng(7)
    for trial in range(60):
        n = int(rng.integers(1, 6))
        coefs = np.zeros((n, 64), dtype=np.int64)
        for i in range(n):
            nnz = int(rng.integers(0, 40 if trial % 3 == 0 else 8))
            pos = rng.choice(np.arange(1, 64), size=min(nnz, 63), replace=False)
            coefs[i, pos] = rng.integers(-100, 101, size=len(pos))
        scans = [[(0, 0)], [(0, 1), (1, 0)], [(0, 2), (2, 1), (1, 0)]][trial % 3]
        dec = [np.zeros(64, dtype=np.int32) for _ in range(n)]
        for ah, al in scans:
            w = J._BitWriter()
            if ah == 0:
                J._encode_ac_first_blocks(w, list(coefs), 1, 63, al, tab_enc)
            else:
                J._encode_ac_refine_blocks(w, list(coefs), 1, 63, al, tab_enc)
            r = J._BitReader(w.flush(), 0)
            eobrun = 0
            for blk in dec:
                if ah == 0:
                    eobrun = J._ac_first_block(r, blk, 1, 63, al, eobrun, tab_dec)
                else:
                    eobrun = J._ac_refine_block(r, blk, 1, 63, al, eobrun, tab_dec)
        assert (np.stack(dec)[:, 1:] == coefs[:, 1:]).all(), (trial, scans)


def test_jpeg_honest_boundaries():
    """Out-of-scope streams must raise NotImplementedError, not decode
    garbage: arithmetic-coded (SOF9) headers and sampling factors that
    do not divide the max (3x1 luma — no integer box upsampling)."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators.jpeg import decode_jpeg, encode_jpeg

    good = bytearray(encode_jpeg(8, 8, bytes(8 * 8 * 3)))
    sof = good.find(b"\xff\xc0")
    arith = bytearray(good)
    arith[sof + 1] = 0xC9  # arithmetic coding
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(arith))
    sub = bytearray(good)
    sub[sof + 11] = 0x31  # luma sampling 3x1: 3 not in {1,2,4}
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(sub))
    with _pytest.raises(ValueError):
        encode_jpeg(8, 8, bytes(8 * 8 * 3), subsampling="411")


def test_image_decoder_registry_seam():
    """register_image_decoder is the production plug point: a
    registered decoder claims payloads by magic prefix ahead of the
    built-ins, and unknown formats still raise without one."""
    import pytest as _pytest

    from opentsdb_aura_spark.operators import multimodal as mm

    with _pytest.raises(NotImplementedError):
        mm._decode_real(b"\x00\x01unknown-format", "image")

    calls = []

    def fake_decoder(payload):
        calls.append(payload)
        return 1, 1, b"\x01\x02\x03"

    mm.register_image_decoder(b"\x00\x01", fake_decoder)
    try:
        assert mm._decode_real(b"\x00\x01unknown-format", "image") == (1, 1, b"\x01\x02\x03")
        assert calls
    finally:
        mm._DECODERS.clear()


# ---------------------------------------------------------------- audio/video


def test_wav_roundtrip_and_chunk_walk():
    """WAV codec: bit-exact PCM16 round-trip; the decoder walks chunks
    (unknown LIST chunk + odd-length pad tolerated) and raises on
    non-mono/non-16-bit streams."""
    import struct

    import numpy as np
    import pytest as _pytest

    from opentsdb_aura_spark.operators.av import decode_wav, encode_wav

    rng = np.random.default_rng(7)
    smp = rng.integers(-32768, 32767, size=301, dtype=np.int16)
    wav = encode_wav(22050, smp)
    rate, back = decode_wav(wav)
    assert rate == 22050 and np.array_equal(back, smp)

    # splice an odd-length LIST chunk between fmt and data
    fmt_end = wav.index(b"data")
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    spliced = wav[:fmt_end] + extra + wav[fmt_end:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    rate2, back2 = decode_wav(spliced)
    assert rate2 == 22050 and np.array_equal(back2, smp)

    stereo = bytearray(wav)
    fmt_off = wav.index(b"fmt ") + 8
    struct.pack_into("<H", stereo, fmt_off + 2, 2)  # channels=2
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(stereo))
    with _pytest.raises(ValueError):
        decode_wav(b"OggS" + wav[4:])


def test_y4m_roundtrip_and_boundaries():
    """Y4M codec: frames round-trip through the Cmono container; C444
    parses (luma plane extracted); unsupported colorspaces raise."""
    import numpy as np
    import pytest as _pytest

    from opentsdb_aura_spark.operators.av import decode_y4m, encode_y4m

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, size=12, dtype=np.uint8).tobytes() for _ in range(5)]
    w, h, back = decode_y4m(encode_y4m(4, 3, frames))
    assert (w, h) == (4, 3) and back == frames

    # C444: planes are 3x luma size; decoder slices the luma plane
    y444 = b"YUV4MPEG2 W2 H2 F25:1 C444\n" + b"FRAME\n" + bytes(range(12))
    w4, h4, fr4 = decode_y4m(y444)
    assert (w4, h4) == (2, 2) and fr4 == [bytes(range(4))]

    with _pytest.raises(NotImplementedError):
        decode_y4m(b"YUV4MPEG2 W2 H2 C420\n" + b"FRAME\n" + b"\x00" * 6)
    with _pytest.raises(ValueError):
        decode_y4m(b"JUNK W2 H2\n")


def test_audio_video_spark_features(spark):
    """End-to-end Spark plumbing: WAV features and Y4M frame sampling
    match a direct Python recomputation of the generation rule."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import (
        attach_audio_media,
        attach_video_media,
        extract_audio_features,
        sample_video_frames,
    )

    docs = spark.createDataFrame(
        [(i, f"sample text number {i} with Some Variety!") for i in range(12)],
        "doc_id long, text string",
    )
    audio = {r["media_id"]: r for r in extract_audio_features(attach_audio_media(docs)).collect()}
    assert len(audio) == 12
    for i in range(12):
        text = f"sample text number {i} with Some Variety!"
        n = i % 64 + 16
        s = np.array([(ord(text[j % len(text)]) - 80) * 256 for j in range(n)], dtype=np.float64)
        row = audio[i]
        assert row["sample_rate"] == 8000 + (i % 4) * 4000
        assert row["n_samples"] == n
        assert abs(row["rms"] - float(np.sqrt(np.mean(s * s)))) < 1e-9
        assert row["zero_crossings"] == int(np.sum(s[:-1] * s[1:] < 0))

    vf = sample_video_frames(attach_video_media(docs), every_n=2).collect()
    by_key = {(r["media_id"], r["frame_idx"]): r for r in vf}
    for i in range(12):
        text = f"sample text number {i} with Some Variety!"
        w, h, nf = i % 8 + 2, i % 6 + 2, i % 10 + 3
        expected_idxs = list(range(0, nf, 2))
        got_idxs = sorted(fi for (mid, fi) in by_key if mid == i)
        assert got_idxs == expected_idxs
        for fi in expected_idxs:
            px = [ord(text[(fi * w * h + j) % len(text)]) for j in range(w * h)]
            row = by_key[(i, fi)]
            assert (row["width"], row["height"], row["n_pixels"]) == (w, h, w * h)
            assert row["checksum"] == sum(px)
            assert abs(row["mean_luma"] - sum(px) / len(px)) < 1e-9


def test_random_projection_matches_numpy(spark):
    """zip_with/aggregate fold == numpy matmul with the same
    deterministic matrix."""
    import numpy as np

    from opentsdb_aura_spark.operators.similarity import projection_matrix, random_projection

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(20, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    R = np.array(projection_matrix(16, 4), dtype=np.float64)  # (4, 16)
    expect = vecs.astype(np.float64) @ R.T
    out = {r["vec_id"]: [r[f"p{k}"] for k in range(4)] for r in
           random_projection(df, in_dim=16, out_dim=4).collect()}
    for i in range(20):
        assert np.allclose(out[i], expect[i], atol=1e-9)


def test_int8_quantize_bounds(spark):
    """Reconstruction error per component is <= scale/254 + eps; the
    all-zero vector quantizes to all zeros with scale 0."""
    import numpy as np

    from opentsdb_aura_spark.operators.similarity import int8_quantize

    rng = np.random.default_rng(9)
    vecs = [[float(x) for x in rng.normal(size=8)] for _ in range(10)] + [[0.0] * 8]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    out = {r["vec_id"]: r for r in int8_quantize(df).collect()}
    zero = out[10]
    assert zero["scale"] == 0.0 and list(zero["q"]) == [0] * 8
    for i in range(10):
        row = out[i]
        scale = row["scale"]
        v32 = np.array(vecs[i], dtype=np.float32).astype(np.float64)
        recon = np.array(row["q"], dtype=np.float64) * scale / 127.0
        assert np.max(np.abs(recon - v32)) <= scale / 254.0 + 1e-12
        assert max(abs(q) for q in row["q"]) <= 127


def test_ivf_index_persist_and_probe_pruning(spark, emb_df, tmp_path):
    """Persisted IVF index: full-probe search equals brute force, and
    a 1-probe search's vectors scan carries an isin partition filter
    (only probed list_id directories are read)."""
    import pyspark.sql.functions as F

    from opentsdb_aura_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_search_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(emb_df, path, n_centroids=2, sample=16)
    q = emb_df.where(F.col("vec_id") == 0)

    exact = [(r["neighbor_id"], round(r["cos_sim"], 9)) for r in brute_force_topk(emb_df, q, k=2).collect()]
    full = [
        (r["neighbor_id"], round(r["cos_sim"], 9))
        for r in ivf_search_index(spark, path, q, k=2, nprobe=2).collect()
    ]
    assert full == exact

    probe1 = ivf_search_index(spark, path, q, k=2, nprobe=1)
    plan = probe1._sc._jvm.PythonSQLUtils.explainString(probe1._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "list_id" in plan, plan
    # identical vector (id 4) shares id 0's list, so 1-probe still finds it
    assert any(r["neighbor_id"] == 4 for r in probe1.collect())


def test_cached_index_is_published_whole(spark, emb_df, tmp_path):
    """The catalog's at-rest indexes are built into a tmp sibling and
    renamed into place: a build that raises partway leaves nothing at
    the path, the next call builds a complete index, and a finished
    index is reused, never rebuilt."""
    import os

    from opentsdb_aura_spark.operators.similarity import build_ivf_index, ivf_search_index
    from opentsdb_aura_spark.queries.pipeline import _cached_index

    root = tmp_path / "store"
    root.mkdir()
    path = str(root / "ivf")

    def killed(tmp):
        build_ivf_index(emb_df, tmp, n_centroids=2, sample=16)
        raise RuntimeError("killed after the vectors")

    with pytest.raises(RuntimeError, match="killed"):
        _cached_index(path, killed)
    assert os.listdir(root) == []

    builds = []

    def build(tmp):
        builds.append(tmp)
        build_ivf_index(emb_df, tmp, n_centroids=2, sample=16)

    _cached_index(path, build)
    _cached_index(path, build)
    assert len(builds) == 1
    assert sorted(os.listdir(path)) == ["_SUCCESS", "centroids", "vectors"]
    assert os.listdir(root) == ["ivf"]
    got = ivf_search_index(spark, path, emb_df.where("vec_id = 0"), k=2, nprobe=2).collect()
    assert {r["neighbor_id"] for r in got} == {1, 4}


def test_ivf_index_partial_probe_equals_in_memory(spark, tmp_path):
    """At nprobe < n_centroids the persisted IVF index and the in-memory
    ivf_topk (same sample and n_centroids, hence the same centroids)
    probe the same lists and return the same rows."""
    import numpy as np

    from opentsdb_aura_spark.operators.similarity import build_ivf_index, ivf_search_index, ivf_topk

    rng = np.random.default_rng(23)
    vecs = [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 3)

    path = str(tmp_path / "ivf")
    build_ivf_index(df, path, n_centroids=4, sample=64)
    got = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in ivf_search_index(spark, path, q, k=5, nprobe=2).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in ivf_topk(df, q, k=5, n_centroids=4, nprobe=2, sample=64).collect()
    }
    assert got == want and len(got) == 15


@pytest.mark.parametrize("entry", ["ivf_topk", "ivf_search_index", "ivfpq_topk", "ivfpq_search_index"])
def test_ivf_probe_rejects_nprobe_below_one(spark, tmp_path, entry):
    """Every IVF entry point rejects nprobe < 1: the probe's top-nprobe
    slice would otherwise probe no list (0) or quietly drop lists
    (negative).  nprobe past the list count still clamps to a full
    probe (3 queries × 11 neighbours)."""
    import numpy as np

    from opentsdb_aura_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.uniform(-1, 1, 4)]) for i in range(12)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    if entry == "ivf_topk":
        def run(n):
            return sim.ivf_topk(df, q, k=12, n_centroids=4, nprobe=n)
    elif entry == "ivf_search_index":
        sim.build_ivf_index(df, path, n_centroids=4)

        def run(n):
            return sim.ivf_search_index(spark, path, q, k=12, nprobe=n)
    elif entry == "ivfpq_topk":
        def run(n):
            return sim.ivfpq_topk(df, q, k=12, n_centroids=4, nprobe=n, m=2, pq_k=4)
    else:
        sim.build_ivfpq_index(df, path, n_centroids=4, m=2, pq_k=4)

        def run(n):
            return sim.ivfpq_search_index(spark, path, q, k=12, nprobe=n)

    for bad in (0, -1, -3):
        with pytest.raises(ValueError, match="nprobe"):
            run(bad).collect()
    assert run(4).count() == run(99).count() == 33


def test_ivf_all_zero_training_sample_raises_clear_error(spark):
    """Spherical k-means drops zero-norm rows; an all-zero sample leaves
    none, and IVF must name that cause instead of crashing on an empty
    argmax.  Brute force answers the same input (every pair scores 0)."""
    from opentsdb_aura_spark.operators.similarity import ivf_topk

    zeros = spark.createDataFrame([(i, [0.0] * 4) for i in range(5)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="zero norm"):
        ivf_topk(zeros, zeros, k=2, n_centroids=2, nprobe=2)
    assert {r["cos_sim"] for r in brute_force_topk(zeros, zeros, k=2).collect()} == {0.0}


def test_weighted_sample_determinism_and_bias(spark):
    """A-ES weighted sampling: (1) deterministic — same salt, same
    sample; (2) weight-proportional — across many salts a 20x-weight
    item is included far more often than a 1x item; (3) grouped path
    returns exactly k per group."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.corpus import weighted_sample

    rows = [(i, "g", 20.0 if i == 0 else 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")

    a = sorted(r["doc_id"] for r in weighted_sample(df, 5, F.col("w"), salt="s1").collect())
    b = sorted(r["doc_id"] for r in weighted_sample(df, 5, F.col("w"), salt="s1").collect())
    assert a == b and len(a) == 5

    heavy_hits = light_hits = 0
    for i in range(60):
        picked = {
            r["doc_id"] for r in weighted_sample(df, 5, F.col("w"), salt=f"t{i}").collect()
        }
        heavy_hits += 0 in picked
        light_hits += 1 in picked
    # theoretical inclusion: heavy ~1-(1-20/59)^5 ~ 0.87, light ~0.12;
    # 60 salts -> allow generous sampling slack either side
    assert heavy_hits >= 42, heavy_hits
    assert light_hits <= 25, light_hits
    assert heavy_hits > 2 * light_hits

    grouped = weighted_sample(
        df.withColumn("source", (F.col("doc_id") % 2 == 0).cast("string")),
        3,
        F.col("w"),
        group_col="source",
    )
    counts = {r["source"]: r["n"] for r in grouped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"true": 3, "false": 3}


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.corpus import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, 2.0)], "doc_id long, w double"
    )
    got = sorted(r["doc_id"] for r in weighted_sample(df, 10, F.col("w")).collect())
    assert got == [1, 4]


def test_zero_norm_vector_scores_zero(spark):
    """A zero embedding (failed encode / padding) must not ANSI-crash
    the similarity job; it scores 0 against everything."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame([(10, [1.0, 0.0])], "vec_id long, embedding array<float>")
    rows = brute_force_topk(corpus, q, k=3).collect()
    scores = {r["neighbor_id"]: r["cos_sim"] for r in rows}
    assert scores[2] == 0.0 and abs(scores[1] - 1.0) < 1e-9


def test_quality_ops_survive_empty_text(spark):
    """Empty documents are ubiquitous in crawls: every quality operator
    must produce a row, not an ANSI divide-by-zero abort."""
    from opentsdb_aura_spark.operators.quality import repetition_signals

    df = spark.createDataFrame([(1, ""), (2, "hello world")], "doc_id long, text string")
    q = {r["doc_id"]: r for r in quality_scores(df).collect()}
    assert q[1]["punct_ratio"] == 0.0
    r = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert r[1]["dup_line_char_frac"] == 0.0


def test_lsh_bands_must_divide_num_perm(spark, doc_df):
    import pytest

    from opentsdb_aura_spark.operators.dedup_text import minhash_lsh_candidates

    with pytest.raises(ValueError):
        minhash_lsh_candidates(doc_df, num_perm=32, bands=5).collect()
    with pytest.raises(ValueError):
        minhash_lsh_candidates(doc_df, num_perm=32, bands=40).collect()


def test_asof_matched_row_nulls_not_backfilled(spark):
    """The matched right row's own NULL attributes must come through as
    NULL — not be backfilled from an older (out-of-tolerance) row."""
    from opentsdb_aura_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 21)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, "A"), (1, 20, None)], "k long, ts long, attr string"
    )
    row = asof_join(left, right, on=["k"], tolerance=5).collect()[0]
    assert row["ts_asof"] == 20
    assert row["attr_asof"] is None  # NOT "A" from ts=10 (age 11 > tolerance)


def test_jpeg_truncation_raises_value_error():
    """Truncated payloads must surface under the documented ValueError
    contract at EVERY cut offset — not IndexError/struct.error that a
    per-payload skip handler would miss."""
    import numpy as np

    from opentsdb_aura_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    payload = encode_jpeg(16, 16, img.tobytes())
    for cut in range(1, len(payload)):
        try:
            decode_jpeg(payload[:cut])
        except (ValueError, NotImplementedError):
            continue
        except Exception as e:  # noqa: BLE001
            raise AssertionError(f"cut at {cut}: {type(e).__name__}: {e}")


def test_token_stats_empty_doc_zero_tokens(spark):
    """Empty/whitespace docs count 0 tokens (split engines return ['']
    for the empty string — a phantom token that would defeat
    n_tokens >= 1 curation filters)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "two words"), (4, "\t\n"), (5, "\tword\n")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_tokens"] for r in token_stats(df).collect()}
    # 4/5: trim strips only ASCII spaces — the tokenizer's empty-token
    # filter must still yield 0 and 1
    assert got == {1: 0, 2: 0, 3: 2, 4: 0, 5: 1}
    q = {r["doc_id"]: r for r in quality_scores(df).collect()}
    assert q[1]["n_tokens"] == 0 and q[1]["stopword_ratio"] == 0.0


def test_bm25_query_token_multiplicity(spark, doc_df):
    """Bag semantics: a doubled query token doubles that term's
    contribution, changing scores (and potentially the ranking)."""
    from opentsdb_aura_spark.operators.text import bm25_search

    single = {r["doc_id"]: r["score"] for r in bm25_search(doc_df, ["alpha", "one"], k=10).collect()}
    double = {r["doc_id"]: r["score"] for r in bm25_search(doc_df, ["alpha", "alpha", "one"], k=10).collect()}
    # docs containing 'alpha' gain exactly one extra alpha-term unit
    for d, s in double.items():
        assert s >= single.get(d, 0) - 1e-9
    assert any(abs(double[d] - single[d]) > 1e-9 for d in single if d in double)


def test_audio_spectral_features_bounds(spark):
    """Spectral features carry their own oracle: Parseval (freq-domain
    energy == time-domain energy) holds to 1e-9 relative on every row,
    a planted pure tone puts the spectral centroid within 1 Hz of the
    tone and >99% of the energy in the tone's band, and white noise
    spreads energy across all bands."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import encode_wav, extract_audio_spectral_features

    rate, n = 16000, 4096
    t = np.arange(n) / rate
    tone = (np.sin(2 * np.pi * 1000 * t) * 20000).astype(np.int16)
    hi_tone = (np.sin(2 * np.pi * 7000 * t) * 15000).astype(np.int16)
    rng = np.random.default_rng(0)
    noise = rng.integers(-20000, 20000, n).astype(np.int16)
    rows = [
        (0, "audio", bytearray(encode_wav(rate, tone)), 0, 0, rate, 1),
        (1, "audio", bytearray(encode_wav(rate, hi_tone)), 0, 0, rate, 1),
        (2, "audio", bytearray(encode_wav(rate, noise)), 0, 0, rate, 1),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, width int, height int, sample_rate int, n_frames int",
    )
    feats = {r["media_id"]: r for r in extract_audio_spectral_features(media, n_bands=4).collect()}
    assert set(feats) == {0, 1, 2}
    for r in feats.values():
        assert abs(r["energy_fd"] - r["energy_td"]) <= 1e-9 * r["energy_td"], r

    # 1 kHz tone: centroid ~1000 Hz, band 0 of [0, 8k) holds ~all energy
    assert abs(feats[0]["spectral_centroid_hz"] - 1000.0) < 1.0
    b = feats[0]["band_energies"]
    assert b[0] / sum(b) > 0.99
    # 7 kHz tone lands in the top band
    assert abs(feats[1]["spectral_centroid_hz"] - 7000.0) < 1.0
    b = feats[1]["band_energies"]
    assert b[3] / sum(b) > 0.99
    # white noise: no band holds more than half the energy
    b = feats[2]["band_energies"]
    assert max(b) / sum(b) < 0.5


def test_decode_real_error_contract_fuzz():
    """Crawl robustness: truncations and byte flips of EVERY supported
    format must surface as ValueError/NotImplementedError from
    _decode_real — never a raw zlib/struct/IndexError that would kill
    a mapInPandas task outside the skip_errors contract."""
    import numpy as np

    from opentsdb_aura_spark.operators import multimodal as mm
    from opentsdb_aura_spark.operators.gif import encode_gif
    from opentsdb_aura_spark.operators.jpeg import encode_jpeg

    rng = np.random.default_rng(17)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    rgb = pal[rng.integers(0, 8, (12, 16))].tobytes()
    payloads = [
        mm.encode_bmp(16, 12, rgb),
        mm.encode_ppm(16, 12, rgb),
        mm.encode_png(16, 12, rgb),
        mm.encode_png_paletted(16, 12, rgb),
        mm.encode_png_interlaced(16, 12, rgb),
        encode_gif(16, 12, rgb),
        encode_jpeg(16, 12, rgb),
        encode_jpeg(16, 12, rgb, progressive=True),
    ]
    for p in payloads:
        for cut in (3, 10, len(p) // 2, len(p) - 2):
            try:
                mm._decode_real(p[:cut], "image")
            except (ValueError, NotImplementedError):
                pass
        for _ in range(15):
            b = bytearray(p)
            b[int(rng.integers(0, len(b)))] ^= 0xFF
            try:
                mm._decode_real(bytes(b), "image")
            except (ValueError, NotImplementedError):
                pass
    # any other exception type propagates out of the loops and fails


def test_extract_features_skip_errors(spark):
    """skip_errors=True turns a corrupt payload into an error row with
    the exception text while intact rows decode; default mode stays
    fail-fast."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.multimodal import (
        attach_image_media,
        extract_features,
    )

    df = spark.createDataFrame([(1, "hello"), (2, "world")], "doc_id long, text string")
    media = attach_image_media(df)
    corrupted = media.withColumn(
        "payload",
        F.when(F.col("media_id") == 1, F.expr("substring(payload, 1, 6)")).otherwise(
            F.col("payload")
        ),
    )
    rows = {r["media_id"]: r for r in extract_features(corrupted, fake=False, skip_errors=True).collect()}
    assert rows[1]["error"] is not None and rows[1]["n_bytes"] == 0
    assert rows[2]["error"] is None and rows[2]["n_bytes"] > 0

    with _pytest.raises(Exception):
        extract_features(corrupted, fake=False).collect()


def test_video_scene_changes_planted_cut(spark):
    """A video of identical frames with ONE abrupt jump must report
    exactly one cut at any sane threshold; a static video reports
    zero; and the mean diff matches the planted magnitude."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import encode_y4m, video_scene_changes

    w, h = 4, 3
    flat = bytes([50] * (w * h))
    jumped = bytes([150] * (w * h))
    rows = [
        (0, "video", bytearray(encode_y4m(w, h, [flat, flat, jumped, jumped])), w, h, 0, 4),
        (1, "video", bytearray(encode_y4m(w, h, [flat, flat, flat])), w, h, 0, 3),
        (2, "video", bytearray(encode_y4m(w, h, [flat])), w, h, 0, 1),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, width int, height int, sample_rate int, n_frames int",
    )
    got = {r["media_id"]: r for r in video_scene_changes(media, threshold=10.0).collect()}
    assert got[0]["n_cuts"] == 1 and abs(got[0]["mean_frame_diff"] - 100.0 / 3) < 1e-9
    assert got[1]["n_cuts"] == 0 and got[1]["mean_frame_diff"] == 0.0
    assert got[2]["n_cuts"] == 0 and got[2]["n_frames"] == 1


def test_image_dhash_planted_near_dup(spark):
    """dHash recall/precision bound: a lightly-perturbed copy of an
    image lands within Hamming distance 6 of the original (and is
    FOUND by the banded pair join), while an unrelated image stays
    far (> 16 bits)."""
    import numpy as np

    from opentsdb_aura_spark.operators.multimodal import (
        dhash_near_pairs,
        encode_bmp,
        image_dhash,
    )

    rng = np.random.default_rng(4)
    w, h = 64, 48
    base = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    perturbed = np.clip(base.astype(int) + rng.integers(-4, 5, base.shape), 0, 255).astype(np.uint8)
    other = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    rows = [
        (0, "image", bytearray(encode_bmp(w, h, base.tobytes())), w, h, 0, 1),
        (1, "image", bytearray(encode_bmp(w, h, perturbed.tobytes())), w, h, 0, 1),
        (2, "image", bytearray(encode_bmp(w, h, other.tobytes())), w, h, 0, 1),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, width int, height int, sample_rate int, n_frames int",
    )
    hs = image_dhash(media)
    vals = {r["media_id"]: r["dhash"] for r in hs.collect()}
    d01 = bin((vals[0] ^ vals[1]) & (2**64 - 1)).count("1")
    d02 = bin((vals[0] ^ vals[2]) & (2**64 - 1)).count("1")
    assert d01 <= 6, d01
    assert d02 > 16, d02
    pairs = {(r["media_a"], r["media_b"]) for r in dhash_near_pairs(hs, max_hamming=6).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_transcode_and_dhash_error_contracts(spark):
    """Third-review contracts: (a) transcode_images(skip_errors=True)
    skips only UNDECODABLE payloads — a decodable image that exceeds
    the target format's limits raises a format-mismatch error instead
    of silently vanishing; (b) image_dhash(skip_errors=True) emits an
    error ROW (NULL dhash + exception text), keeping the row set
    joinable, and NULL hashes self-exclude from the pair join."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.multimodal import (
        dhash_near_pairs,
        encode_bmp,
        image_dhash,
        transcode_images,
    )

    rng = np.random.default_rng(9)
    truecolor = rng.integers(0, 256, (20, 20, 3), dtype=np.uint8)  # ~400 colors
    rows = [(0, "image", bytearray(encode_bmp(20, 20, truecolor.tobytes())), 20, 20, 0, 1)]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, width int, height int, sample_rate int, n_frames int",
    )
    with _pytest.raises(Exception, match="format-choice mismatch"):
        transcode_images(media, to="gif", skip_errors=True).collect()
    # a true-color target handles the same corpus fine
    assert transcode_images(media, to="png", skip_errors=True).count() == 1

    corrupted = media.withColumn("payload", F.expr("substring(payload, 1, 6)"))
    both = media.unionByName(corrupted.withColumn("media_id", F.lit(7)))
    got = {r["media_id"]: r for r in image_dhash(both, skip_errors=True).collect()}
    assert got[0]["error"] is None and got[0]["dhash"] is not None
    assert got[7]["error"] is not None and got[7]["dhash"] is None
    # NULL hashes never reach the band join
    assert dhash_near_pairs(image_dhash(both, skip_errors=True), max_hamming=64).count() == 0


# ------------------------------------------------- perceptual a/v fingerprints


MEDIA_DDL = "media_id long, kind string, payload binary, width int, height int, sample_rate int, n_frames int"


def _audio_rows(clips):
    from opentsdb_aura_spark.operators.av import encode_wav

    return [
        (mid, "audio", bytearray(encode_wav(8000, smp)), 0, 0, 8000, 0)
        for mid, smp in clips
    ]


def _afp_reference(samples):
    """Direct recompute of the energy-delta sign bits (the docstring
    contract), independent of the vectorized cumsum implementation."""
    n = len(samples)
    sums, cnts = [], []
    for w in range(65):
        lo, hi = w * n // 65, (w + 1) * n // 65
        sums.append(sum(int(s) * int(s) for s in samples[lo:hi]))
        cnts.append(max(hi - lo, 1))
    return "".join(
        "1" if sums[k + 1] * cnts[k] > sums[k] * cnts[k + 1] else "0" for k in range(64)
    )


def test_audio_fingerprint_bits_and_polarity_invariance(spark):
    """(a) the emitted bit string matches a direct recompute of the
    window-energy delta signs; (b) POLARITY INVERSION (s -> -s, which
    defeats exact-hash dedup) lands at Hamming 0 and the banded pair
    join finds it; (c) an unrelated clip stays far; (d) the int64 pack
    agrees bit-for-bit with the bit string (bit k = LSB k)."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import audio_energy_fingerprint, audio_near_pairs

    rng = np.random.default_rng(11)
    base = rng.integers(-12000, 12000, 400).astype(np.int16)
    other = rng.integers(-12000, 12000, 400).astype(np.int16)
    media = spark.createDataFrame(
        _audio_rows([(0, base), (1, (-base).astype(np.int16)), (2, other)]), MEDIA_DDL
    )
    got = {r["media_id"]: r for r in audio_energy_fingerprint(media).collect()}
    assert got[0]["afp_bits"] == _afp_reference(base)
    assert got[2]["afp_bits"] == _afp_reference(other)
    assert got[1]["afp_bits"] == got[0]["afp_bits"] and got[1]["afp"] == got[0]["afp"]
    d02 = bin((got[0]["afp"] ^ got[2]["afp"]) & (2**64 - 1)).count("1")
    assert d02 > 16, d02
    for r in got.values():
        packed = r["afp"] & (2**64 - 1)
        assert r["afp_bits"] == "".join(str((packed >> k) & 1) for k in range(64))
    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in audio_near_pairs(audio_energy_fingerprint(media), max_hamming=3).collect()
    }
    assert pairs == {(0, 1): 0}


def test_audio_fingerprint_short_clip_and_guard(spark):
    """Clips shorter than 65 samples have empty windows (energy 0 —
    documented contract; the reference recompute uses the same rule),
    and the 65-window contract is enforced."""
    import numpy as np
    import pytest as _pytest

    from opentsdb_aura_spark.operators.av import audio_energy_fingerprint

    short = np.array([100, -200, 300, 50, -40, 7, 9, -9], dtype=np.int16)
    media = spark.createDataFrame(_audio_rows([(0, short)]), MEDIA_DDL)
    (row,) = audio_energy_fingerprint(media).collect()
    assert row["afp_bits"] == _afp_reference(short)
    with _pytest.raises(ValueError, match="n_windows"):
        audio_energy_fingerprint(media, n_windows=64)


def test_audio_fingerprint_skip_errors(spark):
    """Error-ROW contract: an undecodable payload yields a NULL-hash
    row carrying the exception text (self-excluded from banding);
    without skip_errors the stage raises."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.av import audio_energy_fingerprint, audio_near_pairs

    rng = np.random.default_rng(3)
    media = spark.createDataFrame(
        _audio_rows([(0, rng.integers(-100, 100, 200).astype(np.int16))]), MEDIA_DDL
    )
    corrupted = media.withColumn("payload", F.expr("substring(payload, 1, 5)"))
    both = media.unionByName(corrupted.withColumn("media_id", F.lit(7)))
    got = {r["media_id"]: r for r in audio_energy_fingerprint(both, skip_errors=True).collect()}
    assert got[0]["error"] is None and got[0]["afp"] is not None
    assert got[7]["error"] is not None and got[7]["afp"] is None
    assert audio_near_pairs(
        audio_energy_fingerprint(both, skip_errors=True), max_hamming=64
    ).count() == 0
    with _pytest.raises(Exception):
        audio_energy_fingerprint(both).collect()


def _video_rows(clips, w, h):
    from opentsdb_aura_spark.operators.av import encode_y4m

    return [
        (mid, "video", bytearray(encode_y4m(w, h, frames)), w, h, 0, len(frames))
        for mid, frames in clips
    ]


def test_video_fingerprint_brightness_invariance_and_zero_fill(spark):
    """(a) the temporal luma-delta bits match a direct recompute;
    (b) a UNIFORM BRIGHTNESS SHIFT (every pixel +40 — a re-encode
    transform that defeats exact hashing) lands at Hamming 0 and the
    banded join finds the pair; (c) clips with fewer than 65 frames
    zero-fill the remaining bits; (d) an unrelated clip stays far."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import (
        video_near_pairs,
        video_temporal_fingerprint,
    )

    rng = np.random.default_rng(5)
    w, h = 6, 4
    base = [rng.integers(0, 200, w * h).astype(np.uint8).tobytes() for _ in range(70)]
    shifted = [bytes(min(b + 40, 255) for b in fr) for fr in base]  # no saturation: max 239
    other = [rng.integers(0, 200, w * h).astype(np.uint8).tobytes() for _ in range(70)]
    short = base[:10]
    media = spark.createDataFrame(
        _video_rows([(0, base), (1, shifted), (2, other), (3, short)], w, h), MEDIA_DDL
    )
    got = {r["media_id"]: r for r in video_temporal_fingerprint(media).collect()}

    def ref_bits(frames):
        sums = [sum(fr) for fr in frames]
        bits = ["1" if sums[f + 1] > sums[f] else "0" for f in range(min(64, len(sums) - 1))]
        return "".join(bits) + "0" * (64 - len(bits))

    assert got[0]["vfp_bits"] == ref_bits(base)
    assert got[1]["vfp_bits"] == got[0]["vfp_bits"] and got[1]["vfp"] == got[0]["vfp"]
    assert got[3]["vfp_bits"] == ref_bits(short)
    assert got[3]["vfp_bits"][9:] == "0" * 55  # 10 frames -> 9 real bits
    d02 = bin((got[0]["vfp"] ^ got[2]["vfp"]) & (2**64 - 1)).count("1")
    assert d02 > 16, d02
    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in video_near_pairs(video_temporal_fingerprint(media), max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0 and (0, 2) not in pairs


def test_video_fingerprint_skip_errors(spark):
    """Same error-ROW contract as the audio leg."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.av import video_temporal_fingerprint

    rng = np.random.default_rng(6)
    w, h = 4, 3
    frames = [rng.integers(0, 255, w * h).astype(np.uint8).tobytes() for _ in range(5)]
    media = spark.createDataFrame(_video_rows([(0, frames)], w, h), MEDIA_DDL)
    corrupted = media.withColumn("payload", F.expr("substring(payload, 1, 9)"))
    both = media.unionByName(corrupted.withColumn("media_id", F.lit(7)))
    got = {r["media_id"]: r for r in video_temporal_fingerprint(both, skip_errors=True).collect()}
    assert got[0]["error"] is None and got[0]["vfp"] is not None
    assert got[7]["error"] is not None and got[7]["vfp"] is None
    with _pytest.raises(Exception):
        video_temporal_fingerprint(both).collect()


def test_fingerprint_index_incremental_probe_and_pushdown(spark, tmp_path):
    """Persisted banded fingerprint index: (1) probe-vs-index pairs
    equal the all-pairs banded join restricted to probe×index; (2)
    updating with an already-indexed batch is a no-op (anti-join —
    no duplicate band rows); (3) appending a second batch extends the
    probe's reach; (4) an id present in BOTH probe and index never
    pairs with itself; (5) the probe's band keys reach the index scan
    as a pushed filter."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.dedup_text import (
        banded_hamming_pairs,
        probe_fingerprint_index,
        update_fingerprint_index,
    )

    def signed(v):
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= 1 << 63 else v

    def fps(rows):
        return spark.createDataFrame(
            [(i, signed(h)) for i, h in rows], "media_id long, fp long"
        )

    # hand-built fingerprints: neighbors at Hamming 1/2 of a base, plus far ones
    base = 0x123456789ABCDEF0
    batch1 = fps([(0, base), (1, base ^ 1), (2, base ^ 0x8000000000000000), (3, -1)])
    batch2 = fps([(4, base ^ 3), (5, 0x00FF00FF00FF00FF)])
    path = str(tmp_path / "fpidx")

    idx1 = update_fingerprint_index(batch1, path)
    assert idx1.count() == 4 * 4  # 4 fingerprints × 4 band rows

    # no-op re-update: same ids anti-joined away
    assert update_fingerprint_index(batch1, path).count() == 16

    probe = fps([(100, base ^ 2), (3, -1), (101, 0x5555555555555555)])
    got = {
        (r["probe_id"], r["index_id"]): r["hamming"]
        for r in probe_fingerprint_index(spark, path, probe, max_hamming=3).collect()
    }
    # equivalence with the all-pairs engine restricted to probe×index
    allp = banded_hamming_pairs(
        batch1.unionByName(probe.where(F.col("media_id") >= 100)),
        id_col="media_id",
        hash_col="fp",
        max_hamming=3,
        out_a="a",
        out_b="b",
    )
    want = {}
    for r in allp.collect():
        pa, pb = sorted([r["a"], r["b"]])
        if pb >= 100 and pa < 100:  # probe×index only
            want[(pb, pa)] = r["hamming"]
    # id 3 is in both probe and index: no self-pair, but its far hash
    # also matches nothing else at ≤3
    assert got == want and (3, 3) not in got
    assert got[(100, 0)] == 1 and got[(100, 1)] == 2 and got[(100, 2)] == 2

    # append batch2 → probe now reaches the new fingerprints
    update_fingerprint_index(batch2, path)
    got2 = {
        (r["probe_id"], r["index_id"]): r["hamming"]
        for r in probe_fingerprint_index(spark, path, probe, max_hamming=3).collect()
    }
    assert got2[(100, 4)] == 1 and set(got) <= set(got2)  # (base^2) xor (base^3) = 1

    # pushed band-key filter on the index scan
    plan_df = probe_fingerprint_index(spark, path, probe, max_hamming=3)
    plan = plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "bh" in plan.split("PushedFilters")[1][:200], plan


def test_audio_fingerprint_long_clip_no_overflow(spark):
    """Overflow regression: on a long clip the window-energy
    cross-products exceed int64 — sum·cnt ≈ (n/65)²·(A²/3) wraps past
    n ≈ 11.4M samples at ±30000 amplitude — so the compare must run in
    arbitrary-precision Python ints.  A 16M-sample clip (~33 min at
    8 kHz) is checked against an exact reference: int64 cumsum (safe to
    ~8.5e9 samples), then explicit Python-int products — a vectorized
    numpy product here would wrap on ~most window pairs and flip bits."""
    import numpy as np

    from opentsdb_aura_spark.operators.av import audio_energy_fingerprint

    rng = np.random.default_rng(17)
    n = 16_000_000
    long_clip = rng.integers(-30000, 30000, n).astype(np.int16)
    media = spark.createDataFrame(_audio_rows([(0, long_clip)]), MEDIA_DDL)
    (row,) = audio_energy_fingerprint(media).collect()

    s = long_clip.astype(np.int64)
    csum = np.concatenate(([0], np.cumsum(s * s)))
    lo = (np.arange(65) * n) // 65
    hi = (np.arange(1, 66) * n) // 65
    sums = [int(x) for x in csum[hi] - csum[lo]]
    cnts = [max(int(x), 1) for x in hi - lo]
    # the products genuinely exceed int64 — the scenario under test
    assert max(sums[k + 1] * cnts[k] for k in range(64)) > 2**63
    expected = "".join(
        "1" if sums[k + 1] * cnts[k] > sums[k] * cnts[k + 1] else "0" for k in range(64)
    )
    assert row["afp_bits"] == expected


def test_mixed_video_gif_media_routing(spark):
    """A mixed media table (Y4M videos + animated GIFs, the shape a
    real crawl produces) must route cleanly: the Y4M stages see only
    kind=='video', the GIF sampler only kind=='gif' — no stage ever
    receives the other container's payloads (which would crash its
    parser)."""
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.av import (
        attach_animated_gif_media,
        attach_video_media,
        sample_gif_frames,
        sample_video_frames,
        video_scene_changes,
        video_temporal_fingerprint,
    )

    df = spark.createDataFrame([(3, "mixed media routing"), (8, "the other doc")], "doc_id long, text string")
    mixed = attach_video_media(df).unionByName(
        attach_animated_gif_media(df.select((F.col("doc_id") + 100).alias("doc_id"), "text"))
    )
    vids = {r["media_id"] for r in sample_video_frames(mixed, every_n=1).select("media_id").distinct().collect()}
    gifs = {r["media_id"] for r in sample_gif_frames(mixed, every_n=1).select("media_id").distinct().collect()}
    assert vids == {3, 8} and gifs == {103, 108}
    assert {r["media_id"] for r in video_scene_changes(mixed).collect()} == {3, 8}
    assert {r["media_id"] for r in video_temporal_fingerprint(mixed).collect()} == {3, 8}


def test_resample_audio_exact_and_errors(spark):
    """Nearest-neighbor resampling: (a) same-rate is identity; (b) an
    exact integer downsample picks every k-th sample; (c) an upsample
    duplicates per the floor map; (d) downstream stages run unchanged
    on the normalized corpus; (e) skip_errors keeps the error-row
    contract."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.av import (
        decode_wav,
        extract_audio_features,
        resample_audio,
    )

    rng = np.random.default_rng(23)
    smp = rng.integers(-20000, 20000, 240).astype(np.int16)
    media = spark.createDataFrame(_audio_rows([(0, smp)]), MEDIA_DDL)

    same = resample_audio(media, 8000).collect()[0]
    r, s = decode_wav(bytes(same["payload"]))
    assert r == 8000 and np.array_equal(s, smp) and same["error"] is None

    down = resample_audio(media, 4000).collect()[0]
    r, s = decode_wav(bytes(down["payload"]))
    assert r == 4000 and np.array_equal(s, smp[::2])

    up = resample_audio(media, 16000).collect()[0]
    r, s = decode_wav(bytes(up["payload"]))
    assert r == 16000 and len(s) == 480 and np.array_equal(s, smp[np.arange(480) // 2])

    feats = extract_audio_features(
        resample_audio(media, 4000).drop("error")
    ).collect()[0]
    assert feats["sample_rate"] == 4000 and feats["n_samples"] == 120

    corrupted = media.withColumn("payload", F.expr("substring(payload, 1, 5)"))
    both = media.unionByName(corrupted.withColumn("media_id", F.lit(7)))
    got = {r["media_id"]: r for r in resample_audio(both, 4000, skip_errors=True).collect()}
    assert got[0]["error"] is None and got[7]["error"] is not None
    with _pytest.raises(Exception):
        resample_audio(both, 4000).collect()


def test_pq_adc_matches_reconstruction_cosine(spark):
    """ADC scoring is EXACTLY the cosine of (query, decoded vector):
    for trained codebooks, pq_adc_topk's scores equal a numpy
    recomputation of cos(q, decode(codes)); and with one centroid per
    distinct subvector (full memorization) the ranking equals brute
    force."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(31)
    vecs = [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    # memorizing codebooks: k >= n distinct subvectors -> decode == input
    cbs = pq_train(df, m=4, k=64, iters=8, sample=64)
    codes = pq_encode(df, cbs)
    got = [
        (r["query_id"], r["neighbor_id"], round(r["pq_score"], 9))
        for r in pq_adc_topk(codes, df.where(F.col("vec_id") < 3), cbs, k=4)
        .orderBy("query_id", "neighbor_id")
        .collect()
    ]
    # float32 storage: recompute expectations from the float32-rounded
    # vectors, like the engine sees them
    v32 = {i: np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in vecs}
    code_rows = {r["vec_id"]: r["codes"] for r in codes.collect()}
    books = [np.asarray(cb) for cb in cbs]

    def decode(cs):
        return np.concatenate([books[s][c] for s, c in enumerate(cs)])

    exp = []
    for qid in range(3):
        q = v32[qid]
        scores = []
        for nid in range(40):
            if nid == qid:
                continue
            d = decode(code_rows[nid])
            scores.append((nid, float(q @ d / (np.linalg.norm(q) * np.linalg.norm(d)))))
        scores.sort(key=lambda t: (-t[1], t[0]))
        exp.extend((qid, n, round(s, 9)) for n, s in scores[:4])
    assert got == sorted(exp)

    # memorization => ranking == brute force
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, df.where(F.col("vec_id") < 3), k=4).collect()
    }
    assert {(q, n) for q, n, _ in got} == bf


def test_pq_recall_bound_and_query_cap(spark):
    """(a) coarse trained PQ (m=4, k=8 — 8 codes for a 16-d float
    vector) SHORTLISTS reliably: every exact top-5 neighbor appears in
    the ADC top-20 (recall@20 >= 0.9) on clustered data whose top-5
    distinctions sit below the quantization noise — the standard
    PQ-shortlist → exact-rerank serving shape; (b) the query-side
    collect is hard-capped."""
    import numpy as np
    from pyspark.sql import functions as F
    import pytest as _pytest

    from opentsdb_aura_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(37)
    centers = rng.uniform(-1, 1, (5, 16))
    vecs = [
        (i, [float(x) for x in centers[i % 5] + rng.normal(0, 0.05, 16)])
        for i in range(100)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cbs = pq_train(df, m=4, k=8, iters=8, sample=128)
    codes = pq_encode(df, cbs)
    queries = df.where(F.col("vec_id") < 10)
    approx = {
        (r["query_id"], r["neighbor_id"]) for r in pq_adc_topk(codes, queries, cbs, k=20).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in brute_force_topk(df, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, recall

    with _pytest.raises(ValueError, match="max_queries"):
        pq_adc_topk(codes, df, cbs, k=5, max_queries=10)


def test_grid_quantize_decode_roundtrip(spark):
    """Grid quantization: codes are the closed-form floor map, decode
    is affine, roundtrip error <= step/2, and 0.0 maps to itself (odd
    level count puts it ON the grid)."""
    import numpy as np

    from opentsdb_aura_spark.operators.similarity import grid_decode, grid_quantize_vectors

    vals = [0.0, 1.0, -1.0, 0.5, -0.31, 0.9999, 2.0, -2.0]  # incl. out-of-range clamps
    df = spark.createDataFrame([(0, vals)], "vec_id long, embedding array<float>")
    (crow,) = grid_quantize_vectors(df).collect()
    (drow,) = grid_decode(grid_quantize_vectors(df)).collect()
    step = 2.0 / 254.0
    for orig, code, dec in zip(vals, crow["codes"], drow["embedding"]):
        assert 0 <= code <= 254
        clamped = min(max(orig, -1.0), 1.0)
        assert abs(dec - clamped) <= step / 2 + 1e-12, (orig, code, dec)
    assert drow["embedding"][0] == 0.0  # 0.0 is exactly representable
    assert crow["codes"][5] == 254 and crow["codes"][6] == 254 and crow["codes"][7] == 0


def test_ivfpq_full_probe_grid_equals_quantized_brute_force(spark):
    """IVF-PQ degenerate config ≡ exact: probing ALL lists with the
    closed-form grid codebooks must equal cosine top-k over the
    grid-quantized vectors (the same equality ann_pq_exact_topk's
    oracle pins), and a partial probe returns a subset per query."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import (
        brute_force_topk,
        grid_decode,
        grid_quantize_vectors,
        ivfpq_topk,
    )

    rng = np.random.default_rng(41)
    vecs = [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    deq = grid_decode(grid_quantize_vectors(df))
    dq_queries = deq.where(F.col("vec_id") < 4)

    full = ivfpq_topk(df, dq_queries, k=3, n_centroids=4, nprobe=4, grid=True)
    exact = brute_force_topk(deq, dq_queries, k=3)
    got = {(r["query_id"], r["neighbor_id"]): r["pq_score"] for r in full.collect()}
    want = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    assert got.keys() == want.keys()
    for key in want:
        assert abs(got[key] - want[key]) < 1e-9

    # PARTIAL probe, exact expectation: over the grid-decoded corpus
    # (already on grid → grid PQ is lossless) 1-probe IVF-PQ must
    # equal 1-probe IVF-Flat — both train on the same deterministic
    # hash-ordered sample, so centroids, assignments, and probed lists
    # coincide, and the only difference is ADC-vs-direct scoring of
    # the SAME candidate set
    from opentsdb_aura_spark.operators.similarity import ivf_topk

    part = ivfpq_topk(deq, dq_queries, k=3, n_centroids=4, nprobe=1, grid=True)
    flat = ivf_topk(deq, dq_queries, k=3, n_centroids=4, nprobe=1)
    got1 = {(r["query_id"], r["neighbor_id"]): r["pq_score"] for r in part.collect()}
    want1 = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in flat.collect()}
    assert got1.keys() == want1.keys() and got1
    for key in want1:
        assert abs(got1[key] - want1[key]) < 1e-9


def test_ivfpq_trained_recall(spark):
    """Trained IVF-PQ on clustered data: probing 2 of 5 lists with
    coarse codes still shortlists the true neighborhood — recall@20
    >= 0.9 over exact top-5 (same bound as flat PQ; IVF pruning must
    not lose the query's own cluster)."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import brute_force_topk, ivfpq_topk

    rng = np.random.default_rng(43)
    centers = rng.uniform(-1, 1, (5, 16))
    vecs = [
        (i, [float(x) for x in centers[i % 5] + rng.normal(0, 0.05, 16)])
        for i in range(100)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") < 10)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(df, queries, k=20, n_centroids=5, nprobe=2, m=4, pq_k=8).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in brute_force_topk(df, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, recall


def test_pq_edge_cases_empty_queries_and_ragged_codebooks(spark):
    """(a) an EMPTY query set returns an empty result (not a numpy
    axis crash); (b) a low-cardinality subspace (fewer distinct
    subvectors than k) yields PADDED equal-length codebooks and
    search still works end-to-end — the config variable-k_eff data
    produces."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import (
        ivfpq_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(47)
    # dims 0-3: only TWO distinct subvector values; dims 4-7: continuous
    half = [[0.5, -0.5, 0.25, -0.25], [-0.5, 0.5, -0.25, 0.25]]
    vecs = [
        (i, [float(x) for x in half[i % 2] + list(rng.uniform(-1, 1, 4))])
        for i in range(30)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cbs = pq_train(df, m=2, k=8, iters=4, sample=64)
    assert len({len(cb) for cb in cbs}) == 1  # padded to equal length
    codes = pq_encode(df, cbs)
    res = pq_adc_topk(codes, df.where(F.col("vec_id") < 2), cbs, k=3).collect()
    assert {r["query_id"] for r in res} == {0, 1}
    assert all(len([x for x in res if x["query_id"] == q]) == 3 for q in (0, 1))

    empty = df.where(F.lit(False))
    assert pq_adc_topk(codes, empty, cbs, k=3).count() == 0
    assert ivfpq_topk(df, empty, k=3, n_centroids=2, nprobe=2).count() == 0


def test_pq_index_persist_and_search(spark, tmp_path):
    """Persisted PQ index: search from the at-rest codes table equals
    the in-memory ADC path with the same codebooks — for both trained
    and grid codebooks (grid: roundtrips the closed-form codes through
    parquet and back)."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import (
        build_pq_index,
        grid_decode,
        grid_quantize_vectors,
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
        pq_search_index,
    )

    rng = np.random.default_rng(53)
    vecs = [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 3)

    path = str(tmp_path / "pq")
    build_pq_index(df, path, m=4, k=8)
    got = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in pq_search_index(spark, path, q, k=4).collect()
    }
    cbs = pq_train(df, m=4, k=8)
    want = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in pq_adc_topk(pq_encode(df, cbs), q, cbs, k=4).collect()
    }
    assert got == want and got

    gpath = str(tmp_path / "pqg")
    build_pq_index(df, gpath, grid=True)
    deq = grid_decode(grid_quantize_vectors(df))
    gq = deq.where(F.col("vec_id") < 3)
    got_g = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in pq_search_index(spark, gpath, gq, k=4).collect()
    }
    want_g = {
        (r["query_id"], r["neighbor_id"]): round(r["cos_sim"], 9)
        for r in brute_force_topk(deq, gq, k=4).collect()
    }
    assert got_g == want_g

    # grid and OPQ are mutually exclusive encodings — asking for both
    # must raise, not silently drop the rotation (ADVICE r8)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        build_pq_index(df, str(tmp_path / "pqx"), grid=True, opq_iters=2)


def test_ivfpq_index_persist_probe_pruning_and_equivalence(spark, tmp_path):
    """Persisted IVFADC: (a) full-probe search from the at-rest index
    equals the in-memory ivfpq_topk (same deterministic training);
    (b) a 1-probe search's codes scan carries an isin PARTITION filter
    (only probed list directories read); (c) 1-probe over a grid index
    with grid-decoded queries equals 1-probe in-memory grid ivfpq."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import (
        build_ivfpq_index,
        grid_decode,
        grid_quantize_vectors,
        ivfpq_search_index,
        ivfpq_topk,
    )

    rng = np.random.default_rng(59)
    vecs = [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 3)

    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(df, path, n_centroids=4, m=4, pq_k=8)
    got = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in ivfpq_search_index(spark, path, q, k=4, nprobe=4).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in ivfpq_topk(df, q, k=4, n_centroids=4, nprobe=4, m=4, pq_k=8).collect()
    }
    assert got == want and got

    probe1 = ivfpq_search_index(spark, path, q, k=4, nprobe=1)
    plan = probe1._sc._jvm.PythonSQLUtils.explainString(probe1._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "list_id" in plan, plan

    gpath = str(tmp_path / "ivfpqg")
    build_ivfpq_index(df, gpath, n_centroids=4, grid=True)
    deq = grid_decode(grid_quantize_vectors(df))
    gq = deq.where(F.col("vec_id") < 3)
    got_g = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in ivfpq_search_index(spark, gpath, gq, k=4, nprobe=1).collect()
    }
    want_g = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in ivfpq_topk(df, gq, k=4, n_centroids=4, nprobe=1, grid=True).collect()
    }
    assert got_g == want_g and got_g


def test_ivfpq_index_incremental_append(spark, tmp_path):
    """Append path for the persisted IVFADC index: a new batch encoded
    under the SAVED model becomes searchable; re-appending the same
    batch is a no-op (anti-join); and at-rest search over the grown
    index equals in-memory ivfpq over the union corpus (one model,
    deterministic training on the ORIGINAL corpus)."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_search_index,
    )

    rng = np.random.default_rng(61)
    base = [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(30)]
    extra = [(100 + i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(10)]
    ddl = "vec_id long, embedding array<float>"
    df, df2 = spark.createDataFrame(base, ddl), spark.createDataFrame(extra, ddl)

    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(df, path, n_centroids=4, m=4, pq_k=8)
    n0 = spark.read.parquet(f"{path}/codes").count()
    append_to_ivfpq_index(df2, path)
    assert spark.read.parquet(f"{path}/codes").count() == n0 + 10
    append_to_ivfpq_index(df2, path)  # no-op re-append
    assert spark.read.parquet(f"{path}/codes").count() == n0 + 10

    q = df.where(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in ivfpq_search_index(spark, path, q, k=6, nprobe=4).collect()
    }
    # appended vectors are searchable
    assert any(n >= 100 for (_, n) in got)
    # full-probe at-rest search over the GROWN index must equal a
    # direct numpy ADC recomputation from the saved codebooks and the
    # at-rest codes — original and appended rows under ONE model
    cb_rows = spark.read.parquet(f"{path}/codebooks").orderBy("subspace", "code").collect()
    books = [[] for _ in range(4)]
    for r in cb_rows:
        books[r["subspace"]].append(list(r["centroid"]))
    books = [np.asarray(b) for b in books]
    code_rows = {r["vec_id"]: list(r["codes"]) for r in spark.read.parquet(f"{path}/codes").collect()}
    v32 = {i: np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in base + extra}

    def decode(cs):
        return np.concatenate([books[s][c] for s, c in enumerate(cs)])

    want = {}
    for qid in range(3):
        qv = v32[qid]
        scores = []
        for nid, cs in code_rows.items():
            if nid == qid:
                continue
            d = decode(cs)
            scores.append((nid, float(qv @ d / (np.linalg.norm(qv) * np.linalg.norm(d)))))
        scores.sort(key=lambda t: (-t[1], t[0]))
        want.update({(qid, n): round(s, 9) for n, s in scores[:6]})
    assert got == want


def test_residual_adc_scoring_matches_reconstruction_cosine():
    """_adc_score_batch(residual_luts=...) golden check against direct
    numpy: the LUT-gather score must equal cos(q, c_list + decode(codes))
    exactly for a hand-built model (2 lists, m=2 subspaces, k=3)."""
    import numpy as np
    import pandas as pd

    from opentsdb_aura_spark.operators.similarity import _adc_luts, _adc_score_batch

    rng = np.random.default_rng(5)
    cents = rng.normal(size=(2, 4))
    cbs = [rng.normal(size=(3, 2)).tolist() for _ in range(2)]
    q_mat = rng.normal(size=(2, 4))
    q_ids = [100, 101]
    q_norm = np.linalg.norm(q_mat, axis=1)
    ip_lut, n2_lut = _adc_luts(q_mat, cbs)
    cl_ip = np.stack(
        [np.stack([cents[l, s * 2 : (s + 1) * 2] @ np.asarray(cbs[s]).T for s in range(2)])
         for l in range(2)]
    )
    rl = (q_mat @ cents.T, cl_ip, (cents * cents).sum(axis=1))

    codes = [[0, 2], [1, 1], [2, 0]]
    lists = [0, 1, 1]
    pdf = pd.DataFrame({"vec_id": [7, 8, 9], "codes": codes, "list_id": lists})
    res = _adc_score_batch(
        pdf, q_ids, q_norm, ip_lut, n2_lut,
        probe_sets=[{0, 1}, {0, 1}], residual_luts=rl,
    )
    got = {(int(a), int(b)): s for a, b, s in zip(*res)}
    for qi in range(2):
        for row in range(3):
            dec = cents[lists[row]] + np.concatenate(
                [np.asarray(cbs[s])[codes[row][s]] for s in range(2)]
            )
            want = float(q_mat[qi] @ dec / (np.linalg.norm(q_mat[qi]) * np.linalg.norm(dec)))
            assert abs(got[(q_ids[qi], [7, 8, 9][row])] - want) < 1e-12


def test_ivfpq_residual_tightens_quantization_error(spark):
    """residual=True (faithful IVFADC): on clustered data the residual
    codes' score error vs exact cosine is materially tighter than
    raw-vector codes at the SAME (m, pq_k) budget, and recall@20 over
    exact top-5 keeps the trained-path bound."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import brute_force_topk, ivfpq_topk

    rng = np.random.default_rng(43)
    centers = rng.uniform(-1, 1, (5, 16))
    vecs = [
        (i, [float(x) for x in centers[i % 5] + rng.normal(0, 0.05, 16)])
        for i in range(100)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in brute_force_topk(df, queries, k=99).collect()
    }

    def run(residual):
        return {
            (r["query_id"], r["neighbor_id"]): r["pq_score"]
            for r in ivfpq_topk(
                df, queries, k=20, n_centroids=5, nprobe=5, m=4, pq_k=8, residual=residual
            ).collect()
        }

    raw, res = run(False), run(True)
    err_raw = np.mean([abs(v - exact[p]) for p, v in raw.items()])
    err_res = np.mean([abs(v - exact[p]) for p, v in res.items()])
    assert err_res < err_raw * 0.7, (err_res, err_raw)

    exact5 = {
        (r["query_id"], r["neighbor_id"]) for r in brute_force_topk(df, queries, k=5).collect()
    }
    recall = len(set(res) & exact5) / len(exact5)
    assert recall >= 0.9, recall

    # grid twin stays raw-vector-defined
    import pytest as _pytest

    with _pytest.raises(ValueError, match="residual"):
        ivfpq_topk(df, queries, grid=True, residual=True)


def test_residual_ivfpq_index_at_rest_equals_in_memory(spark, tmp_path):
    """Persisted residual IVFADC: build + append route through the
    persisted residual marker, and at-rest search equals the in-memory
    residual path over the union (same deterministic sample/model)."""
    import numpy as np
    from pyspark.sql import functions as F

    from opentsdb_aura_spark.operators.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_search_index,
        ivfpq_topk,
    )

    rng = np.random.default_rng(47)
    centers = rng.uniform(-1, 1, (4, 16))
    vecs = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(0, 0.05, 16)])
        for i in range(120)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    base, extra = df.where(F.col("vec_id") < 90), df.where(F.col("vec_id") >= 90)
    q = df.where(F.col("vec_id") < 6)

    path = str(tmp_path / "rivfpq")
    build_ivfpq_index(base, path, n_centroids=4, m=4, pq_k=8, residual=True)
    meta = spark.read.parquet(f"{path}/meta").head(1)[0]
    assert meta["grid"] is False and meta["residual"] is True
    append_to_ivfpq_index(extra, path)
    assert spark.read.parquet(f"{path}/codes").count() == 120

    at_rest = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in ivfpq_search_index(spark, path, q, k=10, nprobe=4).collect()
    }
    # in-memory twin trains on the SAME base sample (hash-ordered,
    # <=4096 -> identical) but scores the union corpus; equality holds
    # because the appended codes were encoded under the saved model
    in_mem = {
        (r["query_id"], r["neighbor_id"]): round(r["pq_score"], 9)
        for r in ivfpq_topk(
            base, q, k=10, n_centroids=4, nprobe=4, m=4, pq_k=8, residual=True
        ).collect()
    }
    # at_rest covers the union; restrict to base-only neighbors for the compare
    at_rest_base = {p: s for p, s in at_rest.items() if p[1] < 90}
    for p, s in in_mem.items():
        if p in at_rest_base:
            assert abs(at_rest_base[p] - s) < 1e-9
    # sanity: the shared top hits agree on ordering for each query
    assert len(set(in_mem) & set(at_rest)) >= 30


# --------------------------------------------------------------------- OPQ


def _aniso_corpus(spark, n=1200, d=8):
    """A deterministic anisotropic corpus — the OPQ motivating case:
    axis-aligned variance [16,8,4,2,1,...] mixed by a fixed orthogonal
    rotation so the energy is correlated ACROSS the contiguous
    subspace split plain PQ uses."""
    import numpy as np

    rng = np.random.default_rng(7)
    scales = np.array([16.0, 8.0, 4.0, 2.0] + [1.0] * (d - 4))
    q_mix, _ = np.linalg.qr(rng.standard_normal((d, d)))
    x = (rng.standard_normal((n, d)) * scales) @ q_mix
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_opq_rotation_orthogonal_and_identity_neutral(spark):
    """The learned R is orthogonal (RRᵀ = I to 1e-9 — Procrustes from
    an SVD can't produce anything else, but the plumbing could), and
    an identity rotation through the rotated encode/search path is
    bit-neutral versus plain PQ."""
    import numpy as np

    from opentsdb_aura_spark.operators.similarity import (
        opq_train,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    e = _aniso_corpus(spark, n=400)
    rot, cbs = opq_train(e, m=4, k=16, opq_iters=3, sample=400)
    r = np.asarray(rot)
    assert np.abs(r @ r.T - np.eye(len(r))).max() < 1e-9

    plain_cbs = pq_train(e, m=4, k=16, sample=400)
    ident = np.eye(len(r)).tolist()
    q = e.where(F.col("vec_id") < 5)
    plain = pq_adc_topk(pq_encode(e, plain_cbs), q, plain_cbs, k=5).collect()
    via_rot = pq_adc_topk(
        pq_encode(e, plain_cbs, rotation=ident), q, plain_cbs, k=5, rotation=ident
    ).collect()
    key = lambda rows: sorted((r["query_id"], r["neighbor_id"], r["pq_score"]) for r in rows)
    assert key(plain) == key(via_rot)  # identity matmul adds exact zeros only


def test_opq_recall_at_least_plain_pq_on_anisotropic(spark):
    """The Ge et al. claim on its motivating geometry: on correlated
    anisotropic data, rotated-space PQ recalls at least as much of the
    exact top-k as contiguous-split plain PQ at the same (m, k)
    budget.  Deterministic fixture → deterministic recalls."""
    from opentsdb_aura_spark.operators.similarity import (
        ann_recall_vs_exact,
        brute_force_topk,
        opq_train,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    e = _aniso_corpus(spark).localCheckpoint()
    q = e.where(F.col("vec_id") < 25)
    exact = brute_force_topk(e, q, k=5).localCheckpoint()

    def recall(rot, cbs):
        approx = pq_adc_topk(
            pq_encode(e, cbs, rotation=rot), q, cbs, k=20, rotation=rot
        )
        return ann_recall_vs_exact(exact, approx, k_exact=5, k_approx=20).collect()[0][
            "recall"
        ]

    plain_cbs = pq_train(e, m=4, k=16, sample=1200)
    r_plain = recall(None, plain_cbs)
    rot, cbs = opq_train(e, m=4, k=16, opq_iters=5, sample=1200)
    r_opq = recall(rot, cbs)
    assert r_opq >= r_plain, (r_opq, r_plain)
    assert r_opq >= 0.6, r_opq  # and it's genuinely good, not tied-at-bad


def test_opq_index_persist_roundtrip_and_append(spark, tmp_path):
    """build_pq_index(opq_iters>0) persists the rotation + the opq
    meta marker; pq_search_index reads them back and equals the
    in-memory rotated path; appending with pq_encode(rotation=R)
    keeps the index consistent; a marker WITHOUT a rotation table is
    an error, never a silent identity fallback."""
    import pytest

    from opentsdb_aura_spark.operators.similarity import (
        _read_index_meta,
        build_pq_index,
        opq_train,
        pq_adc_topk,
        pq_encode,
        pq_search_index,
    )

    e = _aniso_corpus(spark, n=300).localCheckpoint()
    path = str(tmp_path / "opq_idx")
    build_pq_index(e, path, m=4, k=16, opq_iters=3, sample=300)
    assert _read_index_meta(spark, path, [])[2] is True

    q = e.where(F.col("vec_id") < 5)
    got = sorted(
        (r["query_id"], r["neighbor_id"], round(r["pq_score"], 9))
        for r in pq_search_index(spark, path, q, k=5).collect()
    )
    # in-memory twin with the SAME persisted model
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("subspace", "code").collect()
    n_sub = max(r["subspace"] for r in rows) + 1
    cbs = [[] for _ in range(n_sub)]
    for r in rows:
        cbs[r["subspace"]].append([float(x) for x in r["centroid"]])
    rot = [
        [float(v) for v in r["row"]]
        for r in spark.read.parquet(f"{path}/rotation").orderBy("row_idx").collect()
    ]
    codes = spark.read.parquet(f"{path}/codes")
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["pq_score"], 9))
        for r in pq_adc_topk(codes, q, cbs, k=5, rotation=rot).collect()
    )
    assert got == want and len(got) == 25

    # append a batch encoded with the SAME rotation; search still works
    extra = spark.createDataFrame(
        [(1000 + i, [float(i)] * 8) for i in range(10)], "vec_id long, embedding array<double>"
    )
    pq_encode(extra, cbs, rotation=rot).write.mode("append").parquet(f"{path}/codes")
    assert spark.read.parquet(f"{path}/codes").count() == 310
    assert len(pq_search_index(spark, path, q, k=5).collect()) == 25

    # marker set but rotation table missing -> hard error
    import shutil

    shutil.rmtree(f"{path}/rotation")
    with pytest.raises(Exception):
        pq_search_index(spark, path, q, k=5).collect()
