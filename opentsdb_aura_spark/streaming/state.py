"""W2 — custom stateful streaming operator: per-series last-value
state via ``applyInPandasWithState``.

The reference maintains O(1) lastTimestamp/lastValue per series in the
time-series record (core/.../OffHeapTimeSeriesRecord.java:109-127,
updated at TimeSeriesShard.java:953-957).  The streaming analogue is a
keyed state store: for each ``series_id`` we keep (last_ts, last_value,
n_points) across micro-batches and emit the refreshed snapshot on
every update — a genuinely stateful operator no stateless aggregation
can express (state must survive across triggers).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from opentsdb_aura_spark.sources.maintenance import new_rows, read_parquet_if_exists

OUTPUT_SCHEMA = "series_id long, last_ts long, last_value double, n_points long"
STATE_SCHEMA = "last_ts long, last_seq long, last_value double, n_points long"


def _update_last_value(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (series_id,) = key
    if state.exists:
        last_ts, last_seq, last_value, n_points = state.get
    else:
        last_ts, last_seq, last_value, n_points = -1, -1, float("nan"), 0

    for pdf in pdfs:
        n_points += len(pdf)
        # latest by (ts, ingest_seq) — same arrival-order contract as
        # the batch dedupe.  The seq is part of BOTH the per-chunk
        # comparison and the persisted state: a group arrives as
        # several Arrow chunks (and across micro-batches), and a
        # ts-only compare would let whichever chunk came later win a
        # same-ts tie regardless of arrival order.
        idx = pdf.sort_values(["ts", "ingest_seq"]).index[-1]
        ts, seq, val = int(pdf.loc[idx, "ts"]), int(pdf.loc[idx, "ingest_seq"]), float(pdf.loc[idx, "value"])
        if (ts, seq) >= (last_ts, last_seq):
            last_ts, last_seq, last_value = ts, seq, val

    state.update((last_ts, last_seq, last_value, n_points))
    yield pd.DataFrame(
        {
            "series_id": [series_id],
            "last_ts": [last_ts],
            "last_value": [last_value],
            "n_points": [n_points],
        }
    )


def streaming_last_value(stream_points: DataFrame) -> DataFrame:
    """Continuously-updated (series_id, last_ts, last_value, n_points)
    snapshot over a streaming point DataFrame (must carry series_id —
    i.e. post-``normalize_points``)."""
    return (
        stream_points.select("series_id", "ts", "value", "ingest_seq")
        .groupBy("series_id")
        .applyInPandasWithState(
            _update_last_value,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_OUTPUT_SCHEMA = "user_id long, session_start long, session_end long, n_events long, closed boolean"
SESSION_STATE_SCHEMA = "session_start long, session_end long, n_events long"


def _update_sessions(gap_seconds: int):
    def update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            start, end, n = state.get
        else:
            start, end, n = None, None, 0

        out_rows = []
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(int(t) for t in pdf["ts"])
        for ts in sorted(ts_all):
            if start is None:
                start, end, n = ts, ts, 1
            elif ts - end > gap_seconds:
                out_rows.append((user_id, start, end, n, True))  # close previous
                start, end, n = ts, ts, 1
            else:
                # Cross-batch late event: may precede the open session's
                # start (within-batch order is sorted, so only state
                # carry-over can produce ts < start) — widen both ends so
                # the emitted session never claims a start later than an
                # event it counts.
                start, end, n = min(start, ts), max(end, ts), n + 1

        if start is not None:
            state.update((start, end, n))
            out_rows.append((user_id, start, end, n, False))  # current, still open
        yield pd.DataFrame(
            out_rows, columns=["user_id", "session_start", "session_end", "n_events", "closed"]
        )

    return update


def streaming_sessionize(stream_events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Streaming gap-based sessionization: per user, events within
    ``gap_seconds`` of the session's end extend it; a larger gap
    closes the session (emitted with ``closed=true``) and opens a new
    one (emitted ``closed=false`` as its running snapshot).

    The batch equivalent is ``operators.events.sessionize``; here the
    open session must SURVIVE across micro-batches, which only a keyed
    state store expresses — the same ``applyInPandasWithState`` shape
    as ``streaming_last_value``, state bounded at one (start, end,
    count) triple per user.  (Late events older than the open session
    fold into it via max(end, ts) rather than reopening closed ones —
    closed sessions are immutable output, the streaming trade-off a
    watermark implies.)"""
    return (
        stream_events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_sessions(int(gap_seconds)),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(
    stream_points: DataFrame,
    *,
    watermark_delay: str = "10 minutes",
    key_cols: tuple[str, ...] = ("series_id", "ts", "value"),
    event_time_col: str = "event_time",
) -> DataFrame:
    """Cross-micro-batch exact dedup of a point stream: the first
    arrival of a (series, timestamp, value) point wins; re-deliveries
    (Kafka at-least-once, producer retries) inside the watermark
    horizon are dropped.  ``value`` is IN the default key on purpose: a
    same-ts REWRITE carries a new value and must pass through to the
    store's last-write-wins arbitration — keying on (series, ts) alone
    would drop it and silently invert LWW into first-write-wins.
    Documented trade-off (review r9): a rewrite chain that REVISITS an
    earlier value at the same ts (A→B→A inside the watermark) is
    indistinguishable from a re-delivery of A, so the revert is
    dropped and the store settles on B.  Producers whose replays
    preserve a stable ``ingest_seq`` (a re-delivery is a byte-identical
    row, not a fresh seq) can pass ``key_cols=("series_id", "ts",
    "ingest_seq")`` for revert-safe dedup; with fresh-seq re-deliveries
    (this repo's fixtures) that key would dedup nothing, which is why
    it is not the default.

    ``dropDuplicatesWithinWatermark`` is the purpose-built operator:
    state holds one entry per key, and the watermark bounds BOTH the
    state size (keys older than the horizon are evicted) and the dedup
    guarantee (a replay later than ``watermark_delay`` is treated as a
    new point — the same contract the batch LWW dedupe's
    ``ingest_seq`` arbitration converts into last-wins once the data
    is at rest; reference semantics:
    core/.../RawTimeSeriesEncoder.java:27 — decode "sorts and removes
    the duplicate data points", i.e. dedupe at read; doing it at the
    stream edge bounds what the store must absorb).

    Compose with :class:`StreamingIngest`: run this BEFORE
    ``foreachBatch`` so re-deliveries never reach the store, leaving
    the store-side dedupe to arbitrate only genuine same-ts rewrites."""
    return stream_points.withWatermark(event_time_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def _update_heavy_hitters(k: int, capacity: int, group_cols: tuple):
    def update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        if state.exists:
            items, counts, n_total = state.get
            summary = dict(zip(list(items), [int(c) for c in counts]))
            n_total = int(n_total)
        else:
            summary, n_total = {}, 0

        for pdf in pdfs:
            vals = pdf["item"].dropna()
            n_total += len(vals)
            for item, c in vals.value_counts(sort=False).items():
                summary[item] = summary.get(item, 0) + int(c)
            if len(summary) > capacity:
                # mergeable Misra-Gries trim (operators/sketch.py):
                # subtract the (capacity+1)-th largest counter,
                # drop non-positives — undercount stays <= n/(cap+1)
                m = sorted(summary.values(), reverse=True)[capacity]
                summary = {i: c - m for i, c in summary.items() if c > m}

        state.update((list(summary.keys()), [int(c) for c in summary.values()], n_total))
        top = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        err = n_total // (capacity + 1)
        yield pd.DataFrame(
            [list(key) + [item, cnt, err, n_total] for item, cnt in top],
            columns=list(group_cols) + ["item", "est_count", "err_bound", "n_total"],
        )

    return update


def streaming_heavy_hitters(
    stream_df: DataFrame,
    col: str,
    k: int,
    *,
    capacity: int | None = None,
    group_cols: tuple = ("metric",),
) -> DataFrame:
    """Continuously-maintained Misra–Gries top-``k`` per group: the
    streaming twin of ``operators.sketch.mg_heavy_hitters``.  Keyed
    state is one bounded (items, counts, n_total) summary per group —
    O(capacity) regardless of how many distinct items the stream has
    seen — refreshed and re-emitted each trigger in update mode.  The
    same undercount guarantee holds (true − est ≤ n_total/(capacity+1))
    because batch-fold + trim IS the mergeable-summaries combine step.
    ``col`` must be a string column (cast upstream)."""
    capacity = int(capacity) if capacity is not None else 8 * int(k)
    gcols = list(group_cols)
    slim = stream_df.select(*gcols, stream_df[col].alias("item"))
    gtypes = ", ".join(f"{c} {slim.schema[c].dataType.simpleString()}" for c in gcols)
    out_schema = f"{gtypes}, item string, est_count long, err_bound long, n_total long"
    state_schema = "items array<string>, counts array<long>, n_total long"
    return slim.groupBy(*gcols).applyInPandasWithState(
        _update_heavy_hitters(int(k), capacity, tuple(gcols)),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _start_batches(stream: DataFrame, process_batch, checkpoint: str, available_now: bool):
    """Start ``process_batch`` as the stream's foreachBatch sink →
    the started StreamingQuery."""
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_near_dup(
    stream_fps: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    *,
    id_col: str = "media_id",
    hash_col: str = "fp",
    max_hamming: int = 3,
    compact_max_files: int | None = 64,
    trigger_available_now: bool = True,
):
    """Cross-batch STREAMING near-dup detection over any 64-bit
    fingerprint stream (image dHash, audio energy, video temporal,
    SimHash) — the crawl-pipeline composition of the persisted banded
    index: each micro-batch is

    1. probed against the index (pairs vs EVERY prior batch, without
       re-banding the accumulated corpus — the index stores its band
       explosion at rest),
    2. self-joined for intra-batch pairs (the probe can't see rows
       that arrive together), and
    3. appended to the index (anti-join keeps re-deliveries out),

    so every near-dup pair is reported exactly when its LATER member
    arrives, and per-batch work scales with the batch, not the corpus.
    Re-delivered (already-indexed) ids are dropped BEFORE pairing, so
    a replay can never emit a pair in flipped orientation next to the
    original.  Pairs append to ``pairs_path`` as (probe_id, index_id,
    hamming) with probe_id the newer member (intra-batch pairs use the
    id order).  foreachBatch is at-least-once: only a crash in the
    window between the pairs append and the index append can make a
    replay re-emit the SAME pair rows — dedupe downstream on
    (probe_id, index_id) where exactly-once matters.

    ``compact_max_files`` bounds small-file buildup in the banded
    index across sustained batches (the same hook streaming_crawl
    ingest applies to its MinHash index): when any ``band=`` directory
    exceeds the bound, the index is rewritten to a few row-group-
    sorted files — probe results are identical before/after, and the
    probe's listing/footer overhead stays O(bands), not O(batches
    ever ingested).  None disables.  Returns the started
    StreamingQuery."""
    from opentsdb_aura_spark.operators.dedup_text import (
        banded_hamming_pairs,
        probe_fingerprint_index,
        update_fingerprint_index,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fps = batch_df.where(F.col(hash_col).isNotNull()).select(id_col, hash_col)
        # drop RE-DELIVERED ids before pairing, not just before the
        # index append: a replayed id alongside a new near-dup would
        # otherwise be reported twice — once by the probe as
        # (new, old) and once by the intra-batch join as (old, new) —
        # and the downstream (probe_id, index_id) dedup key can't
        # collapse flipped orientations
        fps = new_rows(fps, read_parquet_if_exists(spark, index_path), id_col, "_id")
        # checkpoint BEFORE the emptiness probe so the upstream
        # pipeline (possibly media decode) runs exactly once
        fps = fps.localCheckpoint()
        if not fps.take(1):
            return
        cross = probe_fingerprint_index(
            spark,
            index_path,
            fps,
            id_col=id_col,
            hash_col=hash_col,
            max_hamming=max_hamming,
            cache_probe=False,  # fps is already checkpointed
        )
        intra = banded_hamming_pairs(
            fps,
            id_col=id_col,
            hash_col=hash_col,
            max_hamming=max_hamming,
            out_a="probe_id",
            out_b="index_id",
        ).select("probe_id", "index_id", F.col("hamming").cast("int").alias("hamming"))
        cross.unionByName(intra).write.mode("append").parquet(pairs_path)
        update_fingerprint_index(
            fps, index_path, id_col=id_col, hash_col=hash_col,
            compact_max_files=compact_max_files,
        )

    return _start_batches(stream_fps, process_batch, checkpoint, trigger_available_now)


def streaming_crawl_ingest(
    stream_files: DataFrame,
    index_path: str,
    docs_path: str,
    checkpoint: str,
    *,
    compact_max_files: int | None = 64,
    trigger_available_now: bool = True,
    doc_id_expr=None,
    http_html: bool = False,
    frontier_path: str | None = None,
    robots_rules_path: str | None = None,
    url_prefilter_gate: bool = False,
    cdx_path: str | None = None,
    cdx_validators: bool = False,
    rank_refresh_every: int | None = None,
    xml_discovery: bool = False,
    quality_model: dict | None = None,
    quality_threshold: float = 0.5,
    lang_models: dict | None = None,
    quality_model_path: str | None = None,
    lang_models_path: str | None = None,
    kn_model_path: str | None = None,
    dup_index_path: str | None = None,
):
    """Streaming CRAWL ingestion — the front half of the pipeline
    streaming_near_dup closes: WARC files arrive as a stream
    (``(file_id, content)`` rows — at scale a binaryFile source over
    the crawl bucket), and each micro-batch is

    1. record-extracted (1→many Arrow walk, gzip member or plain,
       crawl-grade ``skip_errors`` so one corrupt download costs one
       row, not the batch),
    2. appended to a documents table at ``docs_path`` as
       (doc_id, text, file_id) — error rows routed to
       ``{docs_path}_errors`` instead of silently dropped, and
    3. MinHash-signed into the incremental index at ``index_path``
       (anti-join keeps re-crawled ids out; ``compact_max_files``
       bounds small-file buildup across sustained batches).

    foreachBatch is at-least-once: a crash between the docs append and
    the index append can re-deliver a batch, where the index's
    anti-join makes the re-sign a no-op but the docs append can
    duplicate rows — dedupe docs downstream on doc_id where
    exactly-once matters (the standard idempotence note, same as
    streaming_near_dup's pairs).

    ``doc_id_expr`` maps a WARC ``record_id`` Column to a bigint
    doc_id; the default extractor is ANCHORED on the synthesized
    fixture prefix (``urn:uuid:doc-<n>``) via regexp_extract, so a
    real crawl's RFC-4122 UUID record ids yield NULL — and NULL
    doc_ids are ROUTED TO THE ERRORS SIDECAR (reason
    ``doc_id_extract_failed``) instead of silently polluting the docs
    table and MinHash index (ADVICE r7).  Pass your own Column
    expression (e.g. ``F.xxhash64("record_id")``) for production ids.

    ``http_html=True`` runs the production-shaped payload path: each
    response record's payload is split as an HTTP envelope
    (containers.http_responses, per-record skip_errors — parse
    failures land in the errors sidecar) and the framed body is
    boilerplate-stripped HTML→text (htmltext.html_to_text), so the
    text that reaches the docs table and the MinHash index is
    extracted page text, not raw bytes — the full
    WARC → HTTP → HTML → text → index chain in one stream.

    ``frontier_path`` (requires ``http_html=True``) additionally
    extracts each page's outgoing links, resolves them against the
    fetch URI, canonicalizes, and appends the reference edges to an
    incremental frontier index (containers.update_frontier_index —
    anti-joined on doc_id, so redelivered batches re-contribute
    nothing); ``containers.frontier_counts`` then ranks the next
    crawl wave.  ``robots_rules_path`` (with ``frontier_path``) names
    a parsed-rules parquet table (robots.parse_robots_files output):
    discovered URLs pass the RFC 9309 politeness gate BEFORE entering
    the frontier — a disallowed URL is never scheduled.
    ``url_prefilter_gate=True`` (with ``frontier_path``) additionally
    runs the string-only fetch-budget gate (containers.url_prefilter:
    media extensions, calendar-trap depth, query bloat, digit-heavy
    hosts) FIRST — it needs no dim join, so it runs before the robots
    join and shrinks that join's probe side.  The crawl LOOP in one
    stream: fetch → extract → discover → prefilter → politeness →
    schedule.
    ``cdx_path`` (requires ``http_html=True``) additionally maintains
    the CAPTURE INDEX incrementally: each batch's cdx_index rows
    (urlkey, timestamp, mime, status, decoded-body digest, record
    offset/length) append to a parquet index, anti-joined on record_id
    so an at-least-once redelivery re-contributes nothing — a replay/
    lookup service follows the live crawl without rescanning WARCs
    (export to the CDXJ/ZipNum wire artifacts is the batch writers'
    job over this table).  ``cdx_validators=True`` widens the index
    with each capture's ETag / Last-Modified / Retry-After headers so
    containers.conditional_fetch_plan and robots.host_backoff can plan
    304-eligible refetches and rate-limit windows straight off the
    LIVE index (set it from the first batch — the schema is per-index,
    not per-batch).
    ``xml_discovery=True`` (with ``frontier_path``) additionally
    parses fetched XML bodies (sitemaps a robots ``Sitemap:`` pointer
    named, feeds an autodiscovery link announced) and routes their
    entry URLs through the SAME resolve/prefilter/politeness gates as
    extracted links — the loop eats its own discoveries, and
    discovery never bypasses compliance.
    The SIDECAR TABLE applies PRETRAINED models inline (training is
    a batch job; the stream only scores) and appends one row per doc
    to ``{docs_path}_<suffix>``, keyed by doc_id so the docs table's
    schema stays per-index-stable.  ``quality_model`` ({"weights":
    [...], "bias": b, "n_features": D, "binary": bool},
    quality.train_logreg_weights output) appends (doc_id, prob, keep ≥
    ``quality_threshold``) to ``_quality``; ``lang_models``
    ({"models": {lang: (weights, bias), ...}, "n_features": D, "n":
    3}, quality.train_ovr_logreg_weights output) appends the
    one-vs-rest argmax (doc_id, pred_lang) to ``_lang``;
    ``kn_model_path`` (quality.lm_kn_save output — the count tables
    stay distributed Parquet dims, never collected) appends the
    modified-KN perplexity (doc_id, n_ngrams, avg_logprob) to
    ``_ppl``, full OOV backoff included (Wenzek et al. §4.3);
    ``dup_index_path`` (suffix.build_dup_index output, a distributed
    Parquet dim) appends the ExactSubstr screen (doc_id,
    n_hit_positions, covered_chars, dup_frac) to ``_dup`` — one gram
    equi-join per batch, no suffix array over new data.
    ``quality_model_path`` / ``lang_models_path`` load the first two
    as PERSISTED Parquet dims at startup (operators/artifacts.py
    ovr_model_save schema): the quality path must hold exactly ONE
    class (a binary keep model), the lang path holds the K
    one-vs-rest classes (char-trigram features, n=3); each is
    mutually exclusive with its dict argument and scores
    bit-identically to it.  Every scorer reads ONE spine, the batch's
    (doc_id, text) de-duplicated on doc_id, so a doc delivered twice
    in one trigger scores once; every output keeps only the doc_ids
    its sidecar does not hold yet (sources.maintenance.new_rows), so
    a replayed batch appends nothing.
    ``rank_refresh_every`` (with ``frontier_path``) refreshes the
    frontier AUTHORITY signal every N batches the way compaction
    already hooks the loop: containers.refresh_frontier_ranks runs
    PageRank over the accumulated doc→url endorsement graph and
    overwrites ``{frontier_path}_ranks`` — a pure function of the
    index state, so redelivered batches (which the index anti-joins
    away) leave the ranks byte-identical.
    Returns the started StreamingQuery."""
    from pyspark.sql.window import Window

    from opentsdb_aura_spark.operators.containers import (
        canonicalize_url,
        cdx_index,
        http_responses,
        refresh_frontier_ranks,
        resolve_href,
        update_frontier_index,
        url_prefilter,
        warc_records,
    )
    from opentsdb_aura_spark.operators.dedup_text import update_minhash_index
    from opentsdb_aura_spark.operators.htmltext import html_links, html_to_text
    from opentsdb_aura_spark.operators.robots import discovered_xml_urls, robots_allowed
    from opentsdb_aura_spark.sources.maintenance import (
        compact_capture_index,
        compact_frontier_index,
        compact_minhash_index,
    )

    spark = stream_files.sparkSession
    if frontier_path is not None and not http_html:
        raise ValueError(
            "streaming_crawl_ingest: frontier_path requires http_html=True "
            "(links are discovered in extracted HTML pages)"
        )
    if robots_rules_path is not None and frontier_path is None:
        raise ValueError(
            "streaming_crawl_ingest: robots_rules_path gates the frontier — "
            "pass frontier_path too"
        )
    if url_prefilter_gate and frontier_path is None:
        raise ValueError(
            "streaming_crawl_ingest: url_prefilter_gate gates the frontier — "
            "pass frontier_path too"
        )
    if cdx_path is not None and not http_html:
        raise ValueError(
            "streaming_crawl_ingest: cdx_path indexes HTTP captures — "
            "pass http_html=True"
        )
    if cdx_validators and cdx_path is None:
        raise ValueError(
            "streaming_crawl_ingest: cdx_validators widens the capture index — "
            "pass cdx_path too"
        )
    if xml_discovery and frontier_path is None:
        raise ValueError(
            "streaming_crawl_ingest: xml_discovery feeds the frontier — "
            "pass frontier_path too"
        )
    if rank_refresh_every is not None:
        if frontier_path is None:
            raise ValueError(
                "streaming_crawl_ingest: rank_refresh_every refreshes frontier "
                "ranks — pass frontier_path too"
            )
        if int(rank_refresh_every) < 1:
            raise ValueError(
                f"streaming_crawl_ingest: rank_refresh_every must be >= 1, "
                f"got {rank_refresh_every}"
            )
    if quality_model_path is not None:
        if quality_model is not None:
            raise ValueError(
                "streaming_crawl_ingest: pass quality_model OR "
                "quality_model_path, not both"
            )
        from opentsdb_aura_spark.operators.artifacts import ovr_model_load

        loaded_q = ovr_model_load(spark, quality_model_path)
        if len(loaded_q) != 1:
            raise ValueError(
                "streaming_crawl_ingest: quality_model_path must hold exactly "
                f"one class (a binary keep model), found {sorted(loaded_q)}"
            )
        ((wq, bq),) = loaded_q.values()
        quality_model = {
            "weights": wq,
            "bias": bq,
            "n_features": len(wq),
            "binary": True,
        }
    if lang_models_path is not None:
        if lang_models is not None:
            raise ValueError(
                "streaming_crawl_ingest: pass lang_models OR lang_models_path, "
                "not both"
            )
        from opentsdb_aura_spark.operators.artifacts import ovr_model_load

        loaded_l = ovr_model_load(spark, lang_models_path)
        if not loaded_l:
            raise ValueError(
                f"streaming_crawl_ingest: empty lang model at {lang_models_path}"
            )
        lang_models = {
            "models": loaded_l,
            "n_features": len(next(iter(loaded_l.values()))[0]),
            "n": 3,
        }

    # the sidecar table: suffix -> scorer of the batch's distinct
    # (doc_id, text) spine, in append order
    scorers = {}
    if quality_model is not None:
        from opentsdb_aura_spark.operators.quality import logreg_scores

        def score_quality(spine: DataFrame) -> DataFrame:
            return logreg_scores(
                spine,
                list(quality_model["weights"]),
                float(quality_model["bias"]),
                n_features=int(quality_model["n_features"]),
                binary=bool(quality_model.get("binary", True)),
            ).select(
                "doc_id",
                "prob",
                (F.col("prob") >= F.lit(float(quality_threshold))).alias("keep"),
            )

        scorers["quality"] = score_quality
    if lang_models is not None:
        from opentsdb_aura_spark.operators.quality import (
            hashed_char_ngram_features,
            ovr_logreg_scores,
        )

        def score_lang(spine: DataFrame) -> DataFrame:
            nf = int(lang_models["n_features"])
            return ovr_logreg_scores(
                hashed_char_ngram_features(
                    spine, n=int(lang_models.get("n", 3)), n_features=nf
                ),
                {k: (list(v[0]), float(v[1])) for k, v in lang_models["models"].items()},
                spine.select("doc_id"),
                n_features=nf,
            ).select("doc_id", "pred_lang")

        scorers["lang"] = score_lang
    if kn_model_path is not None:
        from opentsdb_aura_spark.operators.quality import lm_kn_load, lm_kn_score

        kn_model = lm_kn_load(spark, kn_model_path)
        scorers["ppl"] = lambda spine: lm_kn_score(kn_model, spine)
    if dup_index_path is not None:
        from opentsdb_aura_spark.operators.suffix import probe_dup_index

        # a distributed Parquet dim, like the KN tower: loaded once as
        # a scan, never collected
        dup_index = spark.read.parquet(dup_index_path)
        scorers["dup"] = lambda spine: probe_dup_index(spine, dup_index)

    id_expr = (
        doc_id_expr
        if doc_id_expr is not None
        else F.regexp_extract(F.col("record_id"), r"^urn:uuid:doc-(\d+)$", 1).try_cast("long")
    )

    def frontier_edges(df: DataFrame, base: str, href: str) -> DataFrame:
        # one (frontier_url, doc_id) projection for every discovery
        # source, keyed by the SAME doc_id the docs/index writers use,
        # so redelivery idempotence holds across all the sinks
        return df.select(
            canonicalize_url(resolve_href(base, F.col(href))).alias("frontier_url"),
            id_expr.alias("doc_id"),
        )

    def gate(links: DataFrame, url_col: str, admitted) -> DataFrame:
        # ``admitted`` maps the distinct non-NULL discovered URLs (as
        # column ``url_col``) to the ones that pass (as column ``url``)
        urls = (
            links.where(F.col("frontier_url").isNotNull())
            .select(F.col("frontier_url").alias(url_col))
            .distinct()
        )
        kept = admitted(urls).select(F.col("url").alias("frontier_url"))
        return links.join(kept, "frontier_url", "left_semi")

    # errors sidecar schema is uniform across all three writers:
    # (file_id, record_id, target_uri, error) — record-level failures
    # keep the identifiers a crawl operator needs to diagnose WHICH
    # fetch failed (ADVICE r8); file-level parse failures carry NULL
    # record fields.
    err_cols = ("file_id", "record_id", "target_uri", "error")
    _sidecar_checked: list = []  # one-time legacy-schema probe memo
    _cdx_schema_checked: list = []  # one-time capture-index validator-schema probe

    def write_errors(df: DataFrame) -> None:
        # one-time upgrade of a pre-r9 sidecar: appending 4-column
        # files next to legacy (file_id, error) files would leave a
        # mixed-schema dir that a plain parquet read resolves from
        # whichever footer it samples — rewrite legacy rows to the
        # wide schema first.  read_parquet_if_exists distinguishes a
        # missing path from a REAL read failure (which must propagate,
        # not be mistaken for "no legacy sidecar"), and the probe runs
        # once per query, not per write (review r9).
        if not _sidecar_checked:
            _sidecar_checked.append(True)
            old = read_parquet_if_exists(df.sparkSession, f"{docs_path}_errors")
            if old is not None and "record_id" not in old.columns:
                widened = old.select(
                    "file_id",
                    F.lit(None).cast("string").alias("record_id"),
                    F.lit(None).cast("string").alias("target_uri"),
                    "error",
                ).localCheckpoint()  # materialize BEFORE overwriting the source
                widened.write.mode("overwrite").parquet(f"{docs_path}_errors")
        df.select(*err_cols).write.mode("append").parquet(f"{docs_path}_errors")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recs = warc_records(batch_df, skip_errors=True, with_payload=True).localCheckpoint()
        errs = recs.where(F.col("error").isNotNull())
        if errs.take(1):
            write_errors(errs)
        good = recs.where((F.col("error").isNull()) & (F.col("warc_type") == "response"))
        if cdx_path is not None:
            # incremental capture index: one pass over this batch's
            # records, only record_ids the index does not hold yet
            batch_cdx = cdx_index(recs, skip_errors=True, with_validators=cdx_validators)
            # a record re-fetched WITHIN one batch (availableNow can
            # fold several files into a single trigger) dedupes here,
            # first capture by (file_id, offset) wins deterministically
            _rn = F.row_number().over(
                Window.partitionBy("record_id").orderBy("file_id", "offset")
            )
            batch_cdx = batch_cdx.withColumn("_rn", _rn).where(F.col("_rn") == 1).drop("_rn")
            have = read_parquet_if_exists(spark, cdx_path)
            if have is not None and not _cdx_schema_checked:
                # the validator flag is per-INDEX, not per-query: a
                # mismatched append would leave a mixed-schema parquet
                # dir whose plain read (and compaction) resolves from
                # whichever footer it samples, silently dropping the
                # etag/last_modified validator columns — enforce the
                # documented contract instead of trusting it (ADVICE
                # r11).  One probe per query, same memo style as the
                # errors-sidecar legacy check.
                _cdx_schema_checked.append(True)
                had_validators = "etag" in have.columns
                if had_validators != bool(cdx_validators):
                    raise ValueError(
                        "streaming_crawl_ingest: cdx_validators="
                        f"{bool(cdx_validators)} but the existing capture index at "
                        f"{cdx_path!r} was written with validators="
                        f"{had_validators} — the flag is per-index; restart with "
                        "the matching value or rebuild the index"
                    )
            fresh = new_rows(batch_cdx, have, "record_id", "record_id")
            fresh.write.mode("append").parquet(cdx_path)
            if compact_max_files is not None:
                # same LSM posture as the minhash/frontier indexes: one
                # small file lands per batch; bound the buildup
                compact_capture_index(spark, cdx_path, max_files=compact_max_files)
        if http_html:
            resp = http_responses(good, skip_errors=True, with_body=True).localCheckpoint()
            http_errs = resp.where(F.col("error").isNotNull())
            if http_errs.take(1):
                write_errors(http_errs)
            pages = resp.where(F.col("error").isNull()).select(
                "file_id", "record_id", "target_uri", "charset",
                F.col("body").alias("html"),
            )
            if frontier_path is not None:
                # fetch → extract → DISCOVER → schedule: outgoing links
                # resolved against the fetch URI and canonicalized
                batch_links = frontier_edges(
                    html_links(pages, keep_cols=("record_id", "target_uri"), charset_col="charset"),
                    "target_uri", "href",
                )
                # 3xx Locations are discovery too (~a third of real
                # fetches redirect; dropping them loses the moved half
                # of the web): resolved against the fetch URI, they
                # enter the same gates as extracted links
                redirects = resp.where(
                    F.col("error").isNull()
                    & F.col("status_code").between(300, 399)
                    & F.col("location").isNotNull()
                )
                batch_links = batch_links.unionByName(
                    frontier_edges(redirects, "target_uri", "location")
                )
                if xml_discovery:
                    # fetched sitemap/feed bodies are discovery too:
                    # their entries enter through the SAME gates below.
                    # admission: any content type CONTAINING 'xml'
                    # (covers +xml suffixes and text/xml variants), or
                    # an .xml/.xml.gz path when servers mislabel —
                    # real feeds ship as text/plain and sitemaps as
                    # octet-stream (ADVICE r11); gzipped bodies are
                    # inflated inside discovered_xml_urls (magic-byte
                    # sniff), and a non-XML body that sneaks through
                    # simply yields no <loc>/<link> entries
                    # downstream, so over-admission is safe
                    ct = F.lower(F.coalesce(F.col("content_type"), F.lit("")))
                    uri_path = F.lower(
                        F.regexp_replace(F.col("target_uri"), r"[?#].*$", "")
                    )
                    xml_pages = resp.where(
                        F.col("error").isNull()
                        & (
                            ct.contains("xml")
                            | uri_path.endswith(".xml")
                            | uri_path.endswith(".xml.gz")
                        )
                    ).select("target_uri", "body", "charset", "record_id")
                    xml_urls = discovered_xml_urls(
                        xml_pages,
                        url_col="target_uri",
                        charset_col="charset",
                        keep_cols=("record_id",),
                    )
                    batch_links = batch_links.unionByName(
                        frontier_edges(xml_urls, "page_url", "loc")
                    )
                if url_prefilter_gate or robots_rules_path is not None:
                    # each gate reads its input twice (the URL probe and
                    # the semi-join back): materialize the links once so
                    # html_links / discovered_xml_urls run once a batch
                    batch_links = batch_links.localCheckpoint()
                if url_prefilter_gate:
                    # string-only fetch-budget gate FIRST: no dim join,
                    # and it shrinks the robots join's probe side
                    batch_links = gate(
                        batch_links, "url",
                        lambda urls: url_prefilter(urls).where(F.col("url_keep")),
                    )
                if robots_rules_path is not None:
                    # politeness BEFORE scheduling: a disallowed URL
                    # never enters the frontier index at all
                    rules = spark.read.parquet(robots_rules_path)
                    batch_links = gate(
                        batch_links, "frontier_url",
                        lambda urls: robots_allowed(
                            urls, rules, url_col="frontier_url"
                        ).where(F.col("allowed")),
                    )
                update_frontier_index(batch_links, frontier_path)
                if compact_max_files is not None:
                    compact_frontier_index(spark, frontier_path, max_files=compact_max_files)
                if (
                    rank_refresh_every is not None
                    and batch_id % int(rank_refresh_every) == 0
                ):
                    # authority refresh on the compaction cadence model:
                    # a pure function of the index state, so redelivery
                    # (kept out of the index above) cannot move the ranks
                    refresh_frontier_ranks(spark, frontier_path)
            # charset-aware decode (r9): bodies arrive in whatever
            # encoding the server declared — same seam as the batch
            # chain, inflation already handled inside http_responses
            extracted = html_to_text(
                pages,
                keep_cols=("file_id", "record_id", "target_uri"),
                charset_col="charset",
            ).select(
                id_expr.alias("doc_id"), F.col("text"),
                "file_id", "record_id", "target_uri",
            )
        else:
            extracted = good.select(
                id_expr.alias("doc_id"),
                F.col("payload").cast("string").alias("text"),
                "file_id", "record_id", "target_uri",
            )
        # checkpoint BEFORE the bad-id split: the extraction pass above
        # feeds three consumers (bad-id probe, errors write, docs) and
        # must run once per micro-batch, not once per sink (ADVICE r8)
        extracted = extracted.localCheckpoint()
        bad_ids = extracted.where(F.col("doc_id").isNull())
        if bad_ids.take(1):
            write_errors(
                bad_ids.select(
                    "file_id", "record_id", "target_uri",
                    F.lit("doc_id_extract_failed").alias("error"),
                )
            )
        docs = extracted.where(F.col("doc_id").isNotNull()).select(
            "doc_id", "text", "file_id"
        )
        if not docs.take(1):
            return
        docs.write.mode("append").parquet(docs_path)
        if scorers:
            # one spine for every scorer, de-duplicated on doc_id so a
            # doc delivered twice in one trigger scores once, and
            # materialized once instead of once per scorer (the
            # checkpoint also drops the doc_id partitioning, so each
            # scorer's aggregation plan — and its doubles — stays the
            # one its batch twin runs).  A sidecar row is a pure
            # function of the doc's text, so the rows already stored
            # are the right ones: append only new doc_ids.
            spine = docs.select("doc_id", "text").dropDuplicates(["doc_id"]).localCheckpoint()
        for suffix, score in scorers.items():
            sidecar = f"{docs_path}_{suffix}"
            fresh = new_rows(score(spine), read_parquet_if_exists(spark, sidecar), "doc_id", "doc_id")
            fresh.write.mode("append").parquet(sidecar)
        update_minhash_index(docs, index_path)
        if compact_max_files is not None:
            compact_minhash_index(spark, index_path, max_files=compact_max_files)

    return _start_batches(stream_files, process_batch, checkpoint, trigger_available_now)
