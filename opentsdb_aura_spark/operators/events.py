"""Events query surface (SURVEY.md §2.10, E1-E6 / L1-L3).

The reference stores events in daily Lucene indices and queries them
with boolean full-text search, time-range+ongoing predicates, top-N
paging, per-dimension grouping with a fetch-last, and a per-minute
histogram (events-lucene/.../query/QueryRunner.java:81-285,
LuceneQueryBuilder.java:59-150).  Spark re-expression: an events
DataFrame partitioned by date; Lucene's analyzer becomes
lowercase+tokenize predicates; daily-index pruning becomes partition
pruning on the date column.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def text_match(cols: Sequence[str], query_tokens: Sequence[str], mode: str = "AND") -> Column:
    """E1 — boolean full-text search: every (AND) / any (OR) token
    must appear as a WHOLE whitespace-delimited token, lowercased, in
    any of the given columns — Lucene's whitespace tokenizer +
    lowercase filter (LuceneQueryBuilder.java buildAnalyzer), so
    ``cart`` does NOT match ``carton``."""
    import re as _re

    if not query_tokens:
        return F.lit(True)  # empty query: Lucene match-all
    if not cols:
        return F.lit(False)  # nothing to search in
    per_token = []
    for tok in query_tokens:
        pat = r"(^|\s)" + _re.escape(tok.lower()) + r"(\s|$)"
        hit = None
        for c in cols:
            h = F.lower(F.col(c).cast("string")).rlike(pat)
            hit = h if hit is None else (hit | h)
        per_token.append(hit)
    out = per_token[0]
    for h in per_token[1:]:
        out = (out & h) if mode == "AND" else (out | h)
    return out


def time_window_or_ongoing(start: int, end: int, ts_col: str = "ts", end_col: str = "end_ts", ongoing_col: str = "ongoing") -> Column:
    """E2 — (start∈[s,e] OR end∈[s,e] OR ongoing)
    (LuceneQueryBuilder.java:123-131)."""
    s, e = F.lit(int(start)), F.lit(int(end))
    in_range = lambda c: (F.col(c) >= s) & (F.col(c) <= e)  # noqa: E731
    return in_range(ts_col) | in_range(end_col) | F.col(ongoing_col)


def top_n(events: DataFrame, n: int, offset: int = 0, ts_col: str = "ts", tiebreak: str = "event_id") -> DataFrame:
    """L1/L2 — newest-first global top-N with paging
    (QueryRunner.java:97-123).  Tie-break on event id for determinism."""
    ordered = events.orderBy(F.col(ts_col).desc(), F.col(tiebreak).desc())
    if offset:
        return ordered.offset(offset).limit(n)
    return ordered.limit(n)


def group_count_last(
    events: DataFrame,
    group_col: str,
    *,
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    value_cols: Sequence[str] = (),
) -> DataFrame:
    """E5/L3 — per group: hit count + the latest event's fields
    (maxDocsPerGroup=1 fetch-last, QueryRunner.java:174-285)."""
    order = F.struct(F.col(ts_col), F.col(tiebreak))
    aggs = [F.count("*").alias("hits"), F.max(ts_col).alias("last_ts")]
    for c in value_cols:
        aggs.append(F.max_by(F.col(c), order).alias(f"last_{c}"))
    return events.groupBy(group_col).agg(*aggs)


def upsert_events(events: DataFrame, id_col: str = "event_id", seq_col: str | None = None) -> DataFrame:
    """S8 — event upsert: duplicate event ids collapse to the latest
    version (the reference's Lucene writer updates docs in place by
    eventId, events-common/.../EventWriter.java:31-70).  ``seq_col``
    orders versions (defaults to the event timestamp)."""
    order = F.col(seq_col) if seq_col else F.col("ts")
    other = [c for c in events.columns if c != id_col]
    return events.groupBy(id_col).agg(*[F.max_by(F.col(c), order).alias(c) for c in other])


def parent_link_expr(id_col: str = "event_id") -> Column:
    """Deterministic parent link derived from the event id.  The
    reference's event documents carry parentId/childId link fields
    (events-common/.../view/Event.java:63-79), maintained at write
    time by appending each child's id onto its parent's document
    (events-lucene/.../LuceneWriter.java:212-232 updateParent).  The
    driver's events table ships no link columns, so the store derives
    a closed-form 3-level hierarchy from event_id — the same trick the
    store already uses for end_ts/ongoing: roots (event_id % 100 == 0)
    have no parent, mid events (event_id % 10 == 0) link to their
    century root, leaves link to their decade mid.  Driver event ids
    are dense from 0, so every derived parent id names an existing
    row."""
    eid = F.col(id_col)
    return (
        F.when(eid % 100 == 0, F.lit(None).cast("long"))
        .when(eid % 10 == 0, (eid - eid % 100).cast("long"))
        .otherwise((eid - eid % 10).cast("long"))
    )


def daily_partition(ts_seconds: Column) -> Column:
    """E3 — the daily-index key: events land in yyyy-MM-dd partitions
    exactly like the reference's daily Lucene indices
    (events-common/.../EventWriter.java:34,62).  Computed from epoch
    days, independent of the session timezone."""
    return F.date_add(F.lit("1970-01-01").cast("date"), F.floor(ts_seconds / 86400).cast("int")).cast("string")


def minute_histogram(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """E6 — per-minute event counts (timestampMinute grouping,
    QueryRunner.java:169-172).  ts is epoch seconds."""
    bucket = (F.col(ts_col) - F.col(ts_col) % 60).cast("long").alias("minute_ts")
    return events.groupBy(bucket).agg(F.count("*").alias("n"))


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    block_seconds: int | None = None,
) -> DataFrame:
    """Gap-based sessionization: consecutive events of one key belong
    to the same session while the inter-event gap stays ≤
    ``gap_seconds``; a larger gap opens a new session.  Returns one
    row per session: (key, session_idx, session_start, session_end,
    n_events) with ``session_idx`` numbering a key's sessions from 0
    in time order.

    ``block_seconds=None`` (default) is the classic two-window shape —
    lag to flag session starts, running sum of flags to number
    sessions — entirely in Catalyst, one shuffle on ``key_col``.  Its
    weakness at scale is the hot key: one bot user with 10⁸ events
    makes a single giant sort task, because the window partitions by
    key alone.

    ``block_seconds=W`` bounds that with a two-phase plan: phase 1
    sessionizes per (key, time-block) — window partitioned by (key,
    block), task size bounded by a key's events per block — and
    phase 2 stitches block-boundary sessions with an
    interval-merge over the CANDIDATE SESSION rows (same gap rule:
    merge when next.start − running max(end) ≤ gap).  Candidate rows
    per key are bounded by range/W active blocks + range/gap true
    sessions (a new session needs > gap of silence), so the phase-2
    per-key window is bounded by the TIME RANGE, independent of event
    count — the dense-bot 10⁸-event key collapses to ~1 candidate per
    block before the stitch.  Results are identical to the single-pass
    shape (asserted in tests).

    (The streaming analogue is ``applyInPandasWithState`` with a
    session timeout — streaming/state.py holds the state-store
    pattern.)
    """
    from pyspark.sql import Window

    gap = F.lit(int(gap_seconds))
    if block_seconds is None:
        # tiebreak makes the running numbering a total order, so the
        # session index of timestamp-tied events is engine-independent
        w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak)
        new_flag = F.when(F.col(ts_col) - F.lag(ts_col).over(w) > gap, 1).otherwise(0)
        # first event of a key has lag NULL → comparison NULL →
        # otherwise(0): session_idx starts at 0 for it, as intended
        sess = events.withColumn("_new", new_flag).withColumn(
            "session_idx", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        return sess.groupBy(key_col, "session_idx").agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )

    # phase 1: local sessions per (key, block) — bounded sort tasks
    blk = (F.col(ts_col) - F.col(ts_col) % F.lit(int(block_seconds))).cast("long")
    w1 = Window.partitionBy(key_col, "_blk").orderBy(ts_col, tiebreak)
    new1 = F.when(F.col(ts_col) - F.lag(ts_col).over(w1) > gap, 1).otherwise(0)
    local = (
        events.withColumn("_blk", blk)
        .withColumn("_new", new1)
        .withColumn("_li", F.sum("_new").over(w1.rowsBetween(Window.unboundedPreceding, 0)))
    )
    cand = local.groupBy(key_col, "_blk", "_li").agg(
        F.min(ts_col).alias("_s"),
        F.max(ts_col).alias("_e"),
        F.count("*").alias("_n"),
    )

    # phase 2: interval-merge the candidates per key.  Per-key starts
    # are distinct (blocks are disjoint half-open ranges; within a
    # block, session starts are > gap apart), so orderBy(_s) is a total
    # order; running max(_e) guards the merge rule against any
    # non-monotone end (defensive — phase-1 sessions are disjoint).
    w2 = Window.partitionBy(key_col).orderBy("_s")
    prev_end = F.max("_e").over(w2.rowsBetween(Window.unboundedPreceding, -1))
    new2 = F.when(F.col("_s") - prev_end > gap, 1).otherwise(0)
    merged = cand.withColumn(
        "session_idx", F.sum(new2).over(w2.rowsBetween(Window.unboundedPreceding, 0))
    )
    return merged.groupBy(key_col, "session_idx").agg(
        F.min("_s").alias("session_start"),
        F.max("_e").alias("session_end"),
        F.sum("_n").alias("n_events"),
    )


def funnel_conversion(
    events: DataFrame,
    from_type: str,
    to_type: str,
    window_seconds: int,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Two-step funnel: for each key, does a ``to_type`` event follow a
    ``from_type`` event within ``window_seconds``?  One row per key
    that performed the first step: (key, first_from_ts, converted,
    convert_ts, seconds_to_convert).

    Shape: the backward as-of join (operators/asof.py — union + one
    running-last window per key, single shuffle) attaches each
    ``to_type`` event's most recent preceding ``from_type`` event;
    conversions are to-events whose attached from-event is within the
    window; one aggregate keyed on the key column then reports the
    FIRST conversion against the key's FIRST step-one event.  No
    range join, no per-key explode — the same bounded-window shape at
    any scale.
    """
    from opentsdb_aura_spark.operators.asof import asof_join

    if int(window_seconds) < 1:
        raise ValueError("funnel window must be >= 1 second")
    src = events.select(F.col(key_col).alias("k"), F.col(type_col).alias("t"), F.col(ts_col).alias("ts"))
    froms = src.where(F.col("t") == from_type).select("k", "ts")
    tos = src.where(F.col("t") == to_type).select("k", "ts")
    # STRICT precedence via a +1 shift on the from side: the as-of join
    # is inclusive and keeps only the MOST RECENT from, so a from-event
    # sharing the to-event's timestamp would shadow an earlier genuine
    # in-window from and then fail a ts > ts_from post-filter.  With
    # from_adj = ts+1 and tolerance = window-1, the attached match
    # satisfies exactly real_from < ts_to and ts_to - real_from <= window.
    froms_adj = froms.select("k", (F.col("ts") + F.lit(1)).cast("long").alias("ts"))
    matched = asof_join(
        tos, froms_adj, on=["k"], tolerance=int(window_seconds) - 1, right_cols=[], suffix="_from"
    )
    conv = (
        matched.where(F.col("ts_from").isNotNull())
        .withColumn("ts_from", F.col("ts_from") - F.lit(1))  # back to the real from ts
        .groupBy("k")
        .agg(
            F.min("ts").alias("convert_ts"),
            # the step-one event the FIRST conversion actually followed
            F.min_by("ts_from", F.col("ts")).alias("matched_from_ts"),
        )
    )
    first_from = froms.groupBy("k").agg(F.min("ts").alias("first_from_ts"))
    out = (
        first_from.join(conv, "k", "left")
        .select(
            F.col("k").alias(key_col),
            "first_from_ts",
            F.col("convert_ts").isNotNull().alias("converted"),
            "convert_ts",
            (F.col("convert_ts") - F.col("matched_from_ts")).cast("long").alias("seconds_to_convert"),
        )
    )
    return out


def cohort_retention(
    events: DataFrame,
    interval: int = 86400,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: keys are cohorted by the interval
    bucket of their FIRST event; for each (cohort, offset) cell —
    offset = intervals since the cohort bucket — report how many
    cohort members were active and the retention rate.

    Returns (cohort_ts, day_offset, n_active, n_cohort, retention).

    Shape: one aggregate finds each key's first bucket (map-side
    combined), a broadcast-friendly join tags activity rows with
    their cohort, and one aggregate per (cohort, offset) counts
    distinct active keys; cohort sizes ride along via a window over
    the (tiny) output matrix — no per-user state beyond the
    first-bucket row.
    """
    from pyspark.sql import Window

    iv = int(interval)
    bucket = (F.col(ts_col) - F.col(ts_col) % iv).cast("long")
    activity = events.select(F.col(key_col).alias("k"), bucket.alias("b")).distinct()
    firsts = activity.groupBy("k").agg(F.min("b").alias("cohort_ts"))
    tagged = activity.join(firsts, "k")
    cells = (
        tagged.withColumn("day_offset", ((F.col("b") - F.col("cohort_ts")) / iv).cast("long"))
        .groupBy("cohort_ts", "day_offset")
        .agg(F.count_distinct("k").alias("n_active"))
    )
    w = Window.partitionBy("cohort_ts")
    # offset 0 row counts every cohort member by construction
    n_cohort = F.max(F.when(F.col("day_offset") == 0, F.col("n_active"))).over(w)
    return cells.withColumn("n_cohort", n_cohort).withColumn(
        "retention", F.round(F.col("n_active") / F.col("n_cohort"), 6)
    )


def rolling_active_users(
    events: DataFrame,
    start: int,
    end: int,
    window_days: int = 7,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    hll: bool = False,
    lg_k: int = 12,
) -> DataFrame:
    """DAU/WAU-style rolling distinct users: for each day in
    [start, end) (day-aligned epoch seconds), the count of distinct
    users active in the trailing ``window_days`` days ending that day.

    Exact path (``hll=False``): dedupe events to (day, user) FIRST —
    the step that makes this scale, since the distinct frame is
    |users × days|, orders smaller than the event log — then fan each
    user-day out to the ≤``window_days`` output days it contributes to
    (an explode over a small int range beats a range self-join: no
    skew, no nested-loop) and count distinct per output day.

    Sketch path (``hll=True``): one HLL sketch per day (a single pass
    over the log, map-side combinable), then each output day unions its
    trailing ``window_days`` sketches — the recompute per day touches
    W sketch rows instead of W days of user-days, the same
    pre-aggregate leverage as ``meta.build_presence_hll``.  ~1.6%
    relative error at lg_k=12.

    Output: (day_ts, active_users), day_ts ascending epoch seconds.
    """
    day = 86400
    start, end = int(start), int(end)
    # the fan-out clip relies on day alignment: with a partial final
    # day, F.sequence(greatest(_d,0), least(_d+W-1, n_days-1)) can
    # invert and Spark's sequence(start, stop) then steps BACKWARD,
    # leaking activity into earlier days — reject instead of corrupt
    if end <= start or (end - start) % day:
        raise ValueError("rolling_active_users needs start < end with a whole number of days")
    n_days = (end - start) // day
    # floor, not cast: pre-window days have negative offsets and a
    # long cast truncates toward zero, folding day -1 into day 0
    d = F.floor((F.col(ts_col) - F.lit(start)) / F.lit(day)).cast("long")
    in_range = (F.col(ts_col) >= F.lit(start - (window_days - 1) * day)) & (
        F.col(ts_col) < F.lit(end)
    )
    base = events.where(in_range).select(d.alias("_d"), F.col(user_col).alias("_u"))

    if hll:
        daily = base.groupBy("_d").agg(F.hll_sketch_agg("_u", F.lit(int(lg_k))).alias("_sk"))
        fan = daily.select(
            F.explode(
                F.sequence(
                    F.greatest(F.col("_d"), F.lit(0)),
                    F.least(F.col("_d") + F.lit(int(window_days) - 1), F.lit(n_days - 1)),
                )
            ).alias("_out"),
            "_sk",
        )
        res = fan.groupBy("_out").agg(
            F.hll_sketch_estimate(F.hll_union_agg("_sk", F.lit(True))).alias("active_users")
        )
    else:
        user_days = base.distinct()
        fan = user_days.select(
            F.explode(
                F.sequence(
                    F.greatest(F.col("_d"), F.lit(0)),
                    F.least(F.col("_d") + F.lit(int(window_days) - 1), F.lit(n_days - 1)),
                )
            ).alias("_out"),
            "_u",
        )
        res = fan.groupBy("_out").agg(F.count_distinct("_u").alias("active_users"))
    return res.select(
        (F.lit(start) + F.col("_out") * F.lit(day)).cast("long").alias("day_ts"),
        "active_users",
    ).orderBy("day_ts")


def funnel_steps(
    events: DataFrame,
    steps: "list[str]",
    window_seconds: int,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """N-step ordered funnel (greedy earliest-completion): per key,
    ts_1 = first step-1 event; ts_k = first step-k event STRICTLY
    after ts_{k-1} and within ``window_seconds`` of it.  One row per
    key that entered the funnel: (key, ts_1..ts_N, converted,
    seconds_total).  Greedy earliest is the standard funnel semantics
    and is exactly reproducible in SQL (iterated min-filters), so the
    oracle checks it value-for-value.

    Shape: one equi-join + filtered-min hash aggregate per step — the
    step-k event stream joins the O(keys) frontier frame and collapses
    immediately (map-side combine bounds a hot key's blow-up to its
    per-partition row count).  No per-key event collection, no window
    over a key's whole history — the two shapes a bot key breaks.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    if int(window_seconds) < 1:
        raise ValueError("funnel window must be >= 1 second")
    src = events.select(
        F.col(key_col).alias("k"), F.col(type_col).alias("t"), F.col(ts_col).alias("ts")
    )
    cur = src.where(F.col("t") == steps[0]).groupBy("k").agg(F.min("ts").alias("ts_1"))
    prev_cols = ["ts_1"]
    for i, st in enumerate(steps[1:], start=2):
        nxt = src.where(F.col("t") == st).select("k", F.col("ts").alias("_ts"))
        prev = F.col(f"ts_{i - 1}")
        cond = (
            prev.isNotNull()
            & (F.col("_ts") > prev)
            & (F.col("_ts") <= prev + F.lit(int(window_seconds)))
        )
        cur = (
            cur.join(nxt, "k", "left")
            .groupBy("k", *prev_cols)
            .agg(F.min(F.when(cond, F.col("_ts"))).alias(f"ts_{i}"))
        )
        prev_cols.append(f"ts_{i}")
    last = F.col(f"ts_{len(steps)}")
    return cur.select(
        F.col("k").alias(key_col),
        *prev_cols,
        last.isNotNull().alias("converted"),
        (last - F.col("ts_1")).cast("long").alias("seconds_total"),
    )
