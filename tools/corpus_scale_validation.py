"""Corpus-pipeline scale validation: generate a multi-million-doc
synthetic corpus (planted near-dup pairs + a ubiquitous phrase that
stresses the shingle skew guard) and a vector table, then run the
curation operators at a volume where a wrong plan is minutes:

- deterministic split assignment (must stay a narrow map)
- vocabulary tf/df (two combined shuffles)
- MinHash+LSH near-dup candidates (banded join, no all-pairs)
- connected components + keep-best retention over the candidates
- stratified sample, narrow-filter mode
- IVF ANN top-k over the vector table
- exact-verify LSH twin (banded candidates → exact Jaccard)
- mixed-JPEG codec throughput (encode + decode in mapInPandas)
- 100k-image dHash → banded Hamming near-dup pairs (planted recall)
- 100k-clip audio energy-fingerprint near-dup (polarity-inverted plants)
- 50k-clip video temporal-fingerprint near-dup (brightness-shift plants)
- PQ-ADC over 1M vectors (encode to 8 codes, shortlist recall vs exact)
- persisted IVFADC index (build, full-probe equivalence, pruned serve)
- benchmark decontamination (planted contaminated + novel probes)

Usage: python tools/corpus_scale_validation.py [n_docs_million=2] [n_vec_million=1]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(float(sys.argv[1] if len(sys.argv) > 1 else 2) * 1_000_000)
    n_vec = int(float(sys.argv[2] if len(sys.argv) > 2 else 1) * 1_000_000)

    from pyspark.sql import functions as F

    from opentsdb_aura_spark import get_spark
    from opentsdb_aura_spark.operators.corpus import (
        resolve_duplicate_clusters,
        split_assign,
        stratified_sample,
        vocab_stats,
    )
    from opentsdb_aura_spark.operators.dedup_text import minhash_lsh_candidates
    from opentsdb_aura_spark.operators.similarity import ivf_topk

    spark = get_spark("corpus_scale_validation")
    timings: dict[str, float | int] = {"n_docs": n_docs, "n_vec": n_vec}

    # ---- corpus: ~32 tokens/doc from a 10k-word vocab, deterministic
    # from doc_id.  Every 101st doc is a near-dup of its predecessor
    # (same base text, one appended token) and EVERY doc ends with the
    # same 4-word phrase — ubiquitous shingles that a guardless
    # candidate join would blow up on (freq = n_docs → O(n²) pairs).
    dup = (F.col("id") % 101 == 0) & (F.col("id") > 0)
    base_id = F.when(dup, F.col("id") - 1).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(base_id, i), F.lit(10000))),
    )
    text = F.concat(
        F.array_join(words, " "),
        F.when(dup, F.lit(" extratoken")).otherwise(F.lit("")),
        F.lit(" the quick brown fox"),
    )
    docs = (
        spark.range(n_docs, numPartitions=64)
        .select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("es")), (F.col("id") % 3 + 1).cast("int")
            ).alias("lang"),
            F.length(text).alias("n_chars"),
        )
        .localCheckpoint()  # freeze the corpus so every op reads the same data
    )

    def bench(name, df):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    bench("split_assign", split_assign(docs))
    timings["split_docs_per_sec"] = round(n_docs / timings["split_assign"])

    bench("vocab_stats", vocab_stats(docs))

    t0 = time.perf_counter()
    pairs = minhash_lsh_candidates(docs, num_perm=32, bands=8, threshold=0.5).localCheckpoint()
    n_pairs = pairs.count()
    timings["lsh_near_dup_pairs"] = round(time.perf_counter() - t0, 2)
    timings["lsh_pairs_found"] = n_pairs
    print(f"# lsh_near_dup_pairs: {timings['lsh_near_dup_pairs']}s ({n_pairs} pairs)", file=sys.stderr)

    t0 = time.perf_counter()
    drops = resolve_duplicate_clusters(docs, pairs).count()
    timings["cluster_resolve"] = round(time.perf_counter() - t0, 2)
    timings["docs_dropped"] = drops
    print(f"# cluster_resolve: {timings['cluster_resolve']}s ({drops} dropped)", file=sys.stderr)

    bench("stratified_sample_narrow", stratified_sample(docs, 0.01, exact=False))

    # ---- round 5: the hash-checked flagship twin at scale — candidates
    # from the banded join, then EXACT Jaccard re-verification (semi-join
    # the candidate docs, re-explode their shingle sets; never O(n²))
    t0 = time.perf_counter()
    n_exact = minhash_lsh_candidates(
        docs, num_perm=32, bands=8, threshold=0.5, exact_verify=True
    ).count()
    timings["lsh_exact_verify"] = round(time.perf_counter() - t0, 2)
    timings["lsh_exact_pairs"] = n_exact
    print(
        f"# lsh_exact_verify: {timings['lsh_exact_verify']}s ({n_exact} pairs)",
        file=sys.stderr,
    )

    # ---- round 5: mixed-JPEG codec throughput inside mapInPandas —
    # 100k tiny images round-robining baseline 4:4:4 / 4:2:0 /
    # progressive; the stage both ENCODES (fixture generation) and
    # DECODES (feature extraction), so the per-payload rate is a lower
    # bound on decode throughput for the pure-python codec
    from opentsdb_aura_spark.operators.multimodal import attach_image_media, extract_features

    n_img = min(100_000, n_docs)
    t0 = time.perf_counter()
    media = attach_image_media(
        docs.where(F.col("doc_id") < n_img), formats=("jpeg", "jpeg420", "jpeg_prog")
    )
    extract_features(media, fake=False).write.mode("overwrite").format("noop").save()
    timings["jpeg_mixed_codec"] = round(time.perf_counter() - t0, 2)
    timings["jpeg_n_images"] = n_img
    timings["jpeg_payloads_per_sec"] = round(n_img / timings["jpeg_mixed_codec"])
    print(
        f"# jpeg_mixed_codec: {timings['jpeg_mixed_codec']}s "
        f"({n_img} imgs, {timings['jpeg_payloads_per_sec']}/s)",
        file=sys.stderr,
    )

    # ---- round 6: perceptual image near-dup at scale — 100k 16×12
    # BMPs with pseudo-random pixels, every 101st a 2-pixel-perturbed
    # copy of its predecessor.  Each perturbed pixel sits ON the 9×8
    # dHash sampling grid and flips ≤2 gradient bits confined to ONE
    # 16-bit band (a row's 8 bits never span bands), so the 4-band
    # pigeonhole must recover every planted pair at Hamming ≤ 4 —
    # recall is asserted, and the pair count guards against an
    # all-pairs blowup (random 64-bit hashes at Hamming ≤ 6 are
    # ~2⁻⁴⁴ per candidate pair).
    from opentsdb_aura_spark.operators.multimodal import dhash_near_pairs, image_dhash

    def _img_op(batches):
        import numpy as np
        import pandas as pd

        from opentsdb_aura_spark.operators.multimodal import encode_bmp

        W, H = 16, 12
        for pdf in batches:
            payloads = []
            for mid in pdf["doc_id"]:
                mid = int(mid)
                is_dup = mid % 101 == 0 and mid > 0
                base = mid - 1 if is_dup else mid
                px = np.random.default_rng(base).integers(0, 256, W * H * 3, dtype=np.uint8)
                if is_dup:
                    for p in (1 * W + 3, 6 * W + 10):  # on-grid pixels
                        px[p * 3 : p * 3 + 3] = np.minimum(
                            255, px[p * 3 : p * 3 + 3].astype(np.int64) + 48
                        ).astype(np.uint8)
                payloads.append(encode_bmp(W, H, px.tobytes()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "kind": "image",
                    "payload": payloads,
                }
            )

    t0 = time.perf_counter()
    imgs = docs.where(F.col("doc_id") < n_img).mapInPandas(
        _img_op, schema="media_id bigint, kind string, payload binary"
    )
    dpairs = dhash_near_pairs(image_dhash(imgs), max_hamming=6).localCheckpoint()
    n_dpairs = dpairs.count()
    planted = dpairs.where(
        (F.col("media_b") == F.col("media_a") + 1) & (F.col("media_b") % 101 == 0)
    ).count()
    expected_img = (n_img - 1) // 101
    timings["dhash_near_pairs_100k"] = round(time.perf_counter() - t0, 2)
    timings["dhash_pairs_found"] = n_dpairs
    timings["dhash_planted_found"] = planted
    timings["dhash_planted_expected"] = expected_img
    timings["dhash_recall"] = round(planted / expected_img, 4) if expected_img else 1.0
    print(
        f"# dhash_near_pairs_100k: {timings['dhash_near_pairs_100k']}s "
        f"({n_dpairs} pairs, recall {timings['dhash_recall']})",
        file=sys.stderr,
    )
    assert timings["dhash_recall"] >= 0.99, "banded dHash missed planted near-dups"
    assert n_dpairs <= expected_img + 50, "unexpected non-planted dHash pairs"

    # ---- round 6: perceptual AUDIO near-dup at scale — 100k 400-sample
    # WAV clips with pseudo-random samples, every 101st a POLARITY-
    # INVERTED copy of its predecessor (s -> -s: inaudible, defeats
    # exact-hash dedup, provably Hamming 0 under the energy fingerprint
    # because window energies are squares).  Recall is asserted and the
    # pair count guards against an all-pairs blowup, mirroring the
    # image stage above.
    from opentsdb_aura_spark.operators.av import (
        audio_energy_fingerprint,
        audio_near_pairs,
        video_near_pairs,
        video_temporal_fingerprint,
    )

    def _wav_op(batches):
        import numpy as np
        import pandas as pd

        from opentsdb_aura_spark.operators.av import encode_wav

        for pdf in batches:
            payloads = []
            for mid in pdf["doc_id"]:
                mid = int(mid)
                is_dup = mid % 101 == 0 and mid > 0
                base = mid - 1 if is_dup else mid
                # bounded away from -32768 so negation stays in int16
                smp = np.random.default_rng(base).integers(-30000, 30000, 400).astype(np.int16)
                if is_dup:
                    smp = (-smp).astype(np.int16)
                payloads.append(encode_wav(8000, smp))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "kind": "audio",
                    "payload": payloads,
                }
            )

    t0 = time.perf_counter()
    clips = docs.where(F.col("doc_id") < n_img).mapInPandas(
        _wav_op, schema="media_id bigint, kind string, payload binary"
    )
    apairs = audio_near_pairs(audio_energy_fingerprint(clips), max_hamming=3).localCheckpoint()
    n_apairs = apairs.count()
    a_planted = apairs.where(
        (F.col("media_b") == F.col("media_a") + 1)
        & (F.col("media_b") % 101 == 0)
        & (F.col("hamming") == 0)
    ).count()
    expected_a = (n_img - 1) // 101
    timings["audio_fp_near_pairs_100k"] = round(time.perf_counter() - t0, 2)
    timings["audio_fp_pairs_found"] = n_apairs
    timings["audio_fp_planted_found"] = a_planted
    timings["audio_fp_recall"] = round(a_planted / expected_a, 4) if expected_a else 1.0
    print(
        f"# audio_fp_near_pairs_100k: {timings['audio_fp_near_pairs_100k']}s "
        f"({n_apairs} pairs, recall {timings['audio_fp_recall']})",
        file=sys.stderr,
    )
    assert timings["audio_fp_recall"] == 1.0, "polarity-inverted twin must land at Hamming 0"
    assert n_apairs <= expected_a + 50, "unexpected non-planted audio pairs"

    # ---- round 6: perceptual VIDEO near-dup at scale — 50k 70-frame
    # 8×6 Y4M clips, every 101st a +32-BRIGHTNESS copy of its
    # predecessor (every pixel shifted equally: frame-sum deltas — and
    # hence all 64 temporal bits — are unchanged, so the planted pair
    # sits at Hamming 0; pixels capped ≤ 223 so +32 never saturates).
    def _y4m_op(batches):
        import numpy as np
        import pandas as pd

        from opentsdb_aura_spark.operators.av import encode_y4m

        W, H, NF = 8, 6, 70
        for pdf in batches:
            payloads = []
            for mid in pdf["doc_id"]:
                mid = int(mid)
                is_dup = mid % 101 == 0 and mid > 0
                base = mid - 1 if is_dup else mid
                px = np.random.default_rng(base).integers(0, 224, NF * W * H, dtype=np.uint8)
                if is_dup:
                    px = px + 32  # uniform brightness shift, no wrap (< 256)
                frames = [px[f * W * H : (f + 1) * W * H].tobytes() for f in range(NF)]
                payloads.append(encode_y4m(W, H, frames))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "kind": "video",
                    "payload": payloads,
                }
            )

    n_vid = min(50_000, n_docs)
    t0 = time.perf_counter()
    vids = docs.where(F.col("doc_id") < n_vid).mapInPandas(
        _y4m_op, schema="media_id bigint, kind string, payload binary"
    )
    vpairs = video_near_pairs(video_temporal_fingerprint(vids), max_hamming=3).localCheckpoint()
    n_vpairs = vpairs.count()
    v_planted = vpairs.where(
        (F.col("media_b") == F.col("media_a") + 1)
        & (F.col("media_b") % 101 == 0)
        & (F.col("hamming") == 0)
    ).count()
    expected_v = (n_vid - 1) // 101
    timings["video_fp_near_pairs_50k"] = round(time.perf_counter() - t0, 2)
    timings["video_fp_pairs_found"] = n_vpairs
    timings["video_fp_planted_found"] = v_planted
    timings["video_fp_recall"] = round(v_planted / expected_v, 4) if expected_v else 1.0
    print(
        f"# video_fp_near_pairs_50k: {timings['video_fp_near_pairs_50k']}s "
        f"({n_vpairs} pairs, recall {timings['video_fp_recall']})",
        file=sys.stderr,
    )
    assert timings["video_fp_recall"] == 1.0, "brightness-shifted twin must land at Hamming 0"
    assert n_vpairs <= expected_v + 50, "unexpected non-planted video pairs"

    # ---- round 6: benchmark decontamination at scale — 200 probes
    # COPIED from corpus docs (planted contamination) + 200 NOVEL
    # probes from a disjoint vocabulary (sharing only the corpus-wide
    # tail phrase: ~6% shingle overlap, far under the 50% bar).  The
    # broadcast-probe-shingles plan makes this one corpus pass; every
    # planted probe must flag its source at overlap 1.0 and no novel
    # probe may flag anything.
    from opentsdb_aura_spark.operators.corpus import contamination_check

    cont = docs.where(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    novel_words = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.concat(F.lit("z"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(10000))),
    )
    novel = spark.range(200).select(
        (F.col("id") + 20_000_000).alias("doc_id"),
        F.concat(F.array_join(novel_words, " "), F.lit(" the quick brown fox")).alias("text"),
    )
    t0 = time.perf_counter()
    flags = contamination_check(
        docs, cont.unionByName(novel), min_overlap_frac=0.5
    ).localCheckpoint()
    n_flags = flags.count()
    planted_hit = flags.where(
        (F.col("probe_id") == F.col("doc_id") + 10_000_000) & (F.col("overlap_frac") >= 0.999)
    ).count()
    novel_hits = flags.where(F.col("probe_id") >= 20_000_000).count()
    timings["contamination_scan_2m"] = round(time.perf_counter() - t0, 2)
    timings["contamination_flags"] = n_flags
    timings["contamination_planted_hit"] = planted_hit
    print(
        f"# contamination_scan_2m: {timings['contamination_scan_2m']}s "
        f"({n_flags} flags, {planted_hit}/200 planted, {novel_hits} novel false hits)",
        file=sys.stderr,
    )
    assert planted_hit == 200, "a planted contaminated probe missed its source"
    assert novel_hits == 0, "novel benchmark probes must not flag clean corpus docs"

    # ---- round 7: crawl-container round-trip at 100k records — the
    # WARC source a production pipeline ingests.  100k docs → 200 WARC
    # files (500 records each) → parse back → every payload digest
    # must equal md5(text) of its source doc (join on the record id),
    # and the TAR twin must account for every member.  Proves the
    # 1→many Arrow walker at real file sizes (~150 KB/file), not just
    # the 500-doc fixture.
    from opentsdb_aura_spark.operators.containers import (
        synthesize_tar,
        synthesize_warc,
        tar_members,
        warc_records,
    )

    n_cont = min(n_docs, 100_000)
    cdocs = docs.where(F.col("doc_id") < 100_000).localCheckpoint()
    t0 = time.perf_counter()
    wrec = warc_records(synthesize_warc(cdocs, docs_per_file=500)).localCheckpoint()
    n_wrec = wrec.where(F.col("warc_type") == "response").count()
    timings["warc_roundtrip_100k"] = round(time.perf_counter() - t0, 2)
    truth = cdocs.select(
        F.concat(F.lit("urn:uuid:doc-"), F.col("doc_id")).alias("record_id"),
        F.md5(F.col("text")).alias("want_md5"),
        F.length("text").alias("want_len"),
    )
    bad = (
        wrec.where(F.col("warc_type") == "response")
        .join(truth, "record_id", "full_outer")
        .where(
            F.col("payload_md5").isNull()
            | F.col("want_md5").isNull()
            | (F.col("payload_md5") != F.col("want_md5"))
            | (F.col("content_length") != F.col("want_len"))
        )
        .count()
    )
    t0 = time.perf_counter()
    n_tar = tar_members(synthesize_tar(cdocs, docs_per_file=500)).count()
    timings["tar_roundtrip_100k"] = round(time.perf_counter() - t0, 2)
    timings["warc_records_100k"] = n_wrec
    print(
        f"# warc_roundtrip_100k: {timings['warc_roundtrip_100k']}s ({n_wrec} records, "
        f"{bad} digest mismatches); tar_roundtrip_100k: {timings['tar_roundtrip_100k']}s "
        f"({n_tar} members)",
        file=sys.stderr,
    )
    assert n_wrec == n_cont and n_tar == n_cont, "container round-trip lost records"
    assert bad == 0, "WARC payload digest / length mismatch vs source docs"

    # ---- round 9: the FULL production crawl chain at n_docs scale —
    # docs → fixture HTML → gzip/deflate Content-Encoding → HTTP
    # framing (chunked / Content-Length / close) → WARC .gz
    # (member-per-record) → parse → envelope split + inflate →
    # boilerplate-stripped text → MinHash near-dup.  The every-101st
    # planted near-dups must SURVIVE the whole chain (HTML chrome,
    # compression, framing, extraction) and still band-collide; the
    # LSH catch rate at 32 perms / 8 bands for these ~0.8-Jaccard
    # pairs is ≥ 0.98, so ≥ 0.95 observed is the pass line.
    from opentsdb_aura_spark.operators.containers import http_responses
    from opentsdb_aura_spark.operators.htmltext import html_to_text

    t0 = time.perf_counter()
    cfiles = synthesize_warc(
        docs, docs_per_file=1000, gzip_records=True,
        http_envelope=True, html_body=True, content_encoding=True,
    )
    cresp = http_responses(warc_records(cfiles, with_payload=True), with_body=True)
    cpages = cresp.select(
        F.regexp_extract(F.col("record_id"), r"^urn:uuid:doc-(\d+)$", 1)
        .try_cast("long")
        .alias("doc_id"),
        F.col("body").alias("html"),
    )
    ctext = html_to_text(cpages).select("doc_id", "text").localCheckpoint()
    n_chain = ctext.count()
    timings["crawl_chain_sec"] = round(time.perf_counter() - t0, 2)
    timings["crawl_chain_docs_per_sec"] = round(n_chain / timings["crawl_chain_sec"])
    t0 = time.perf_counter()
    cpairs = minhash_lsh_candidates(
        ctext, num_perm=32, bands=8, threshold=0.5
    ).localCheckpoint()
    n_cpairs = cpairs.count()
    planted_found = cpairs.where(
        (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_b") % 101 == 0)
    ).count()
    planted_expected = (n_docs - 1) // 101
    timings["crawl_chain_minhash_sec"] = round(time.perf_counter() - t0, 2)
    timings["crawl_chain_pairs"] = n_cpairs
    timings["crawl_chain_planted_found"] = planted_found
    timings["crawl_chain_planted_expected"] = planted_expected
    print(
        f"# crawl_chain ({n_chain} docs): {timings['crawl_chain_sec']}s "
        f"({timings['crawl_chain_docs_per_sec']} docs/s); minhash "
        f"{timings['crawl_chain_minhash_sec']}s, planted "
        f"{planted_found}/{planted_expected}",
        file=sys.stderr,
    )
    assert n_chain == n_docs, "crawl chain lost documents"
    assert planted_found >= 0.95 * planted_expected, (
        "planted near-dups did not survive the crawl chain"
    )

    # ---- vectors: 32-d deterministic embeddings, 100 queries
    vecs = spark.range(n_vec, numPartitions=64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) / 500.0 - 1.0).cast("float"),
        ).alias("embedding"),
    ).localCheckpoint()
    queries = vecs.where(F.col("vec_id") < 100)
    t0 = time.perf_counter()
    ivf_topk(vecs, queries, k=10, n_centroids=64, nprobe=4).write.mode("overwrite").format(
        "noop"
    ).save()
    timings["ivf_ann_topk_100q"] = round(time.perf_counter() - t0, 2)
    print(f"# ivf_ann_topk_100q: {timings['ivf_ann_topk_100q']}s", file=sys.stderr)

    # ---- round 6: PQ-ADC at scale — train 8×256 codebooks on the
    # bounded sample, encode 1M vectors to 8 codes (the 32×-smaller
    # at-rest form), then ADC top-50 for 10 queries over CODES ONLY;
    # shortlist recall vs brute-force exact top-10 asserted ≥ 0.8
    # (the PQ-shortlist → exact-rerank serving shape).
    from opentsdb_aura_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    t0 = time.perf_counter()
    cbs = pq_train(vecs, m=8, k=256, iters=5, sample=4096)
    codes = pq_encode(vecs, cbs).localCheckpoint()
    n_codes = codes.count()
    timings["pq_encode_1m"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    pq10 = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(
            codes, vecs.where(F.col("vec_id") < 10), cbs, k=50
        ).collect()
    }
    timings["pq_adc_topk_10q"] = round(time.perf_counter() - t0, 2)
    exact10 = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(vecs, vecs.where(F.col("vec_id") < 10), k=10).collect()
    }
    timings["pq_recall_at50"] = round(len(pq10 & exact10) / len(exact10), 4)
    timings["pq_n_encoded"] = n_codes
    print(
        f"# pq_encode_1m: {timings['pq_encode_1m']}s; adc_topk_10q: "
        f"{timings['pq_adc_topk_10q']}s (recall@50 {timings['pq_recall_at50']})",
        file=sys.stderr,
    )
    assert timings["pq_recall_at50"] >= 0.8, "PQ shortlist missed too many exact neighbors"

    # ---- round 8: OPQ at scale — learn the Ge et al. rotation on the
    # same bounded sample, encode 1M vectors in rotated space (one
    # extra matmul in the same Arrow pass), ADC top-50 for 10 rotated
    # queries.  The fixture is uniform-random (isotropic — OPQ's
    # no-gain case by construction), so the assertion is the same
    # ≥ 0.8 floor as plain PQ: the rotation must never HURT; the
    # ≥ plain-PQ win is asserted on the anisotropic fixture in
    # tests/test_pipeline_ops.py where the geometry warrants it.
    from opentsdb_aura_spark.operators.similarity import opq_train

    t0 = time.perf_counter()
    opq_rot, opq_cbs = opq_train(vecs, m=8, k=256, iters=5, opq_iters=3, sample=4096)
    opq_codes = pq_encode(vecs, opq_cbs, rotation=opq_rot).localCheckpoint()
    opq_codes.count()
    timings["opq_encode_1m"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    opq50 = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(
            opq_codes, vecs.where(F.col("vec_id") < 10), opq_cbs, k=50, rotation=opq_rot
        ).collect()
    }
    timings["opq_adc_topk_10q"] = round(time.perf_counter() - t0, 2)
    timings["opq_recall_at50"] = round(len(opq50 & exact10) / len(exact10), 4)
    print(
        f"# opq_encode_1m: {timings['opq_encode_1m']}s; adc_topk_10q: "
        f"{timings['opq_adc_topk_10q']}s (recall@50 {timings['opq_recall_at50']})",
        file=sys.stderr,
    )
    assert timings["opq_recall_at50"] >= 0.8, "OPQ rotation must not hurt the shortlist"

    # ---- round 6: the persisted IVFADC index at scale — centroids +
    # codebooks + list-partitioned codes built once, then served with
    # probed-partition pruning.  Full-probe at-rest search must return
    # the IDENTICAL pair set as the flat ADC above (same deterministic
    # sample → same codebooks), proving the persist → read-back chain
    # at volume; the nprobe=4/64 serve shows the pruned-read win.
    import shutil

    from opentsdb_aura_spark.operators.similarity import build_ivfpq_index, ivfpq_search_index

    idx_path = "spark-warehouse/scale_ivfpq_index"
    shutil.rmtree(idx_path, ignore_errors=True)
    t0 = time.perf_counter()
    build_ivfpq_index(vecs, idx_path, n_centroids=64, m=8, pq_k=256, iters=5, sample=4096)
    timings["ivfpq_index_build_1m"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    at_rest_full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_search_index(
            spark, idx_path, vecs.where(F.col("vec_id") < 10), k=50, nprobe=64
        ).collect()
    }
    timings["ivfpq_index_full_probe_10q"] = round(time.perf_counter() - t0, 2)
    assert at_rest_full == pq10, "at-rest full-probe IVFADC != flat ADC with the same codebooks"
    t0 = time.perf_counter()
    n_pruned = ivfpq_search_index(
        spark, idx_path, vecs.where(F.col("vec_id") < 10), k=50, nprobe=4
    ).count()
    timings["ivfpq_index_nprobe4_10q"] = round(time.perf_counter() - t0, 2)
    timings["ivfpq_nprobe4_rows"] = n_pruned
    print(
        f"# ivfpq_index: build {timings['ivfpq_index_build_1m']}s, full-probe "
        f"{timings['ivfpq_index_full_probe_10q']}s (pair set == flat ADC), "
        f"nprobe4 {timings['ivfpq_index_nprobe4_10q']}s",
        file=sys.stderr,
    )

    # ---- round 7: the serving TAIL at 1 M — exact re-rank of the ADC
    # top-50 shortlist (float vectors joined for 10×50 pairs only,
    # never a scan): recall@10 of the reranked head must beat the raw
    # ADC top-10 (rerank surfaces every true neighbor the shortlist
    # caught), and the residual-IVFADC variant runs at the same
    # (m, pq_k) budget for a cost/recall datapoint on the uniform-
    # random worst case (its win shows on clustered data — bounded in
    # unit tests; here it must simply not be materially worse).
    from opentsdb_aura_spark.operators.similarity import ivfpq_topk, shortlist_rerank

    q10 = vecs.where(F.col("vec_id") < 10)
    t0 = time.perf_counter()
    rr10 = {
        (r["query_id"], r["neighbor_id"])
        for r in shortlist_rerank(
            vecs, q10, pq_adc_topk(codes, q10, cbs, k=50), k=10
        ).collect()
    }
    timings["rerank_top10_from_adc50_10q"] = round(time.perf_counter() - t0, 2)
    adc10 = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(codes, q10, cbs, k=10).collect()
    }
    timings["rerank_recall_at10"] = round(len(rr10 & exact10) / len(exact10), 4)
    timings["adc_raw_recall_at10"] = round(len(adc10 & exact10) / len(exact10), 4)
    t0 = time.perf_counter()
    res50 = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            vecs, q10, k=50, n_centroids=64, nprobe=64, m=8, pq_k=256, residual=True
        ).collect()
    }
    timings["residual_ivfpq_full_probe_10q"] = round(time.perf_counter() - t0, 2)
    timings["residual_recall_at50"] = round(len(res50 & exact10) / len(exact10), 4)
    print(
        f"# rerank: top10-from-adc50 {timings['rerank_top10_from_adc50_10q']}s, "
        f"recall@10 {timings['rerank_recall_at10']} (raw ADC@10 "
        f"{timings['adc_raw_recall_at10']}); residual IVFADC full-probe "
        f"{timings['residual_ivfpq_full_probe_10q']}s, recall@50 "
        f"{timings['residual_recall_at50']}",
        file=sys.stderr,
    )
    assert timings["rerank_recall_at10"] >= timings["adc_raw_recall_at10"], (
        "exact rerank must not lose recall vs the raw ADC head"
    )
    assert timings["residual_recall_at50"] >= timings["pq_recall_at50"] - 0.05, (
        "residual encoding materially worse than raw codes on the same budget"
    )

    # sanity: planted near-dups must be found (n_docs // 101 pairs)
    timings["expected_planted_pairs"] = n_docs // 101

    print(json.dumps({"metric": "corpus_scale_validation", "unit": "sec", **timings}))


if __name__ == "__main__":
    main()
