"""Event-store queries (E1-E6, L1-L3).

Split from the monolithic catalog.py (round 5): registration
side-effects only — query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import _r  # shared underscore helper


# ============================================================ events (E1-E6, L1-L3)


@register(
    "ev_top_recent",
    """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts, event_type,
              round(value, 4) AS value
FROM events ORDER BY ts DESC, event_id DESC LIMIT 50""",
)
def ev_top_recent(spark, sf_dir):
    """L1/L2 — newest-first top-N with deterministic tie-break."""
    ev = events_seconds(spark, sf_dir)
    return top_n(ev, 50).select("event_id", "ts", "event_type", _r("value", 4).alias("value"))


@register(
    "ev_group_type_count_last",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS hits,
              CAST(max(floor(epoch(ts))) AS BIGINT) AS last_ts,
              round(arg_max(value, CAST(floor(epoch(ts)) AS BIGINT) * 1000000 + event_id), 4) AS last_value
FROM events GROUP BY 1""",
)
def ev_group_type_count_last(spark, sf_dir):
    """E5/L3 — per-dimension count + latest event fetch-last."""
    ev = events_seconds(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("hits"),
        F.max("ts").alias("last_ts"),
        _r(F.max_by("value", F.col("ts") * 1000000 + F.col("event_id")), 4).alias("last_value"),
    )


@register(
    "ev_minute_histogram",
    f"""SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 60) * 60 AS minute_ts,
       CAST(count(*) AS BIGINT) AS n
FROM events
WHERE epoch(ts) >= {START} AND epoch(ts) < {START + 7 * DAY}
GROUP BY 1""",
)
def ev_minute_histogram(spark, sf_dir):
    """E6 — per-minute histogram over one week; the time range is
    restated on the daily partition key so the scan prunes to 7
    partitions (E3 daily-index pruning)."""
    ev = events_seconds(spark, sf_dir).where(
        (F.col("ts") >= START)
        & (F.col("ts") < START + 7 * DAY)
        & (F.col("event_date") >= "2024-01-01")
        & (F.col("event_date") <= "2024-01-07")
    )
    return minute_histogram(ev)


@register(
    "ev_text_search",
    r"""SELECT event_id FROM events
WHERE (regexp_matches(lower(event_type), '(^|\s)purchase(\s|$)')
       OR regexp_matches(lower(props), '(^|\s)purchase(\s|$)'))
  AND (regexp_matches(lower(event_type), '(^|\s)\{"k":(\s|$)')
       OR regexp_matches(lower(props), '(^|\s)\{"k":(\s|$)'))""",
)
def ev_text_search(spark, sf_dir):
    """E1 — boolean AND full-text match across fields with Lucene's
    whitespace-analyzer semantics: each token must match a WHOLE
    whitespace-delimited token (``pur`` no longer matches
    ``purchase``).  'purchase' hits the event_type field; '{"k":' (the
    first whitespace token of props='{"k": NN}', regex-escaped on both
    sides) hits the props field — AND across two fields, ~20% of rows
    match, so the gate exercises real selectivity."""
    ev = events_seconds(spark, sf_dir)
    return ev.where(text_match(["event_type", "props"], ["purchase", '{"k":'], "AND")).select("event_id")


@register(
    "ev_ongoing_window",
    f"""SELECT event_id FROM (
  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts,
         CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7200) AS end_ts,
         (event_id % 29 = 0) AS ongoing
  FROM events)
WHERE (ts >= {START + 10 * DAY} AND ts <= {START + 11 * DAY})
   OR (end_ts >= {START + 10 * DAY} AND end_ts <= {START + 11 * DAY})
   OR ongoing""",
)
def ev_ongoing_window(spark, sf_dir):
    """E2 — (start∈[s,e] OR end∈[s,e] OR ongoing) range predicate
    (LuceneQueryBuilder.getTimeRangeQuery: two SHOULD range clauses +
    an ongoing==1 SHOULD clause, all bounds inclusive).  The store
    derives end_ts/ongoing deterministically from event_id since the
    driver table has no duration fields."""
    from opentsdb_aura_spark.operators.events import time_window_or_ongoing

    ev = events_seconds(spark, sf_dir)
    return ev.where(time_window_or_ongoing(START + 10 * DAY, START + 11 * DAY)).select("event_id")


# The closed-form parent rule (operators/events.py parent_link_expr),
# restated in SQL so the oracle recomputes the links independently of
# the store build: roots %100, mids %10 → century root, leaves →
# decade mid.
_EV_LINKED = """WITH ev AS (
  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts, event_type, value,
         CASE WHEN event_id % 100 = 0 THEN NULL
              WHEN event_id % 10 = 0 THEN event_id - event_id % 100
              ELSE event_id - event_id % 10 END AS parent_id
  FROM events)"""


@register(
    "ev_parent_children_rollup",
    _EV_LINKED
    + """
, ch AS (
  SELECT parent_id, CAST(count(*) AS BIGINT) AS n_children,
         max(ts) AS last_child_ts,
         arg_max(event_id, ts * 1000000 + event_id) AS last_child_id,
         round(arg_max(value, ts * 1000000 + event_id), 4) AS last_child_value
  FROM ev WHERE parent_id IS NOT NULL GROUP BY 1)
SELECT ch.parent_id, p.event_type AS parent_type, ch.n_children,
       ch.last_child_ts, ch.last_child_id, ch.last_child_value
FROM ch JOIN ev p ON p.event_id = ch.parent_id""",
)
def ev_parent_children_rollup(spark, sf_dir):
    """Parent/child link rollup — the query surface over the
    reference's parentId/childId event fields (Event.java:63-79; the
    writer appends each child onto its parent's childid list,
    LuceneWriter.java:212-232 updateParent).  Per parent: child count
    (the childIds list cardinality), the latest child by (ts,
    event_id), and that child's value, joined back to the parent row
    for its type.  Scale shape: one hash aggregation on parent_id +
    one equi-join on event_id — both shuffle on uniform dense keys;
    no driver state, no skew (fan-out is bounded at 9/18 by the link
    rule, and real event trees are similarly shallow)."""
    ev = events_seconds(spark, sf_dir)
    order = F.col("ts") * 1000000 + F.col("event_id")
    children = (
        ev.where(F.col("parent_id").isNotNull())
        .groupBy("parent_id")
        .agg(
            F.count("*").alias("n_children"),
            F.max("ts").alias("last_child_ts"),
            F.max_by("event_id", order).alias("last_child_id"),
            _r(F.max_by("value", order), 4).alias("last_child_value"),
        )
    )
    parents = ev.select(F.col("event_id").alias("parent_id"), F.col("event_type").alias("parent_type"))
    return children.join(parents, "parent_id").select(
        "parent_id", "parent_type", "n_children",
        "last_child_ts", "last_child_id", "last_child_value",
    )


@register(
    "ev_parent_trace_2level",
    _EV_LINKED
    + """
SELECT r.event_id AS root_id, r.event_type AS root_type,
       CAST(count(DISTINCT m.event_id) AS BIGINT) AS n_children,
       CAST(count(l.event_id) AS BIGINT) AS n_grandchildren,
       max(l.ts) AS last_grandchild_ts
FROM ev r
JOIN ev m ON m.parent_id = r.event_id
LEFT JOIN ev l ON l.parent_id = m.event_id
WHERE r.parent_id IS NULL
GROUP BY 1, 2""",
)
def ev_parent_trace_2level(spark, sf_dir):
    """Two-level parent→child trace: for each root event (no parent),
    its direct children and all grandchildren — the traversal a user
    of the reference's parentIds/childIds lists (Event.java:75-79)
    runs to reconstruct an incident tree.  Expressed as two equi-joins
    on the link key + one aggregation; keys are dense and uniform so
    both shuffles are skew-free, and the left join keeps roots whose
    children are all leaves (no grandchildren → count 0, ts NULL)."""
    ev = events_seconds(spark, sf_dir)
    roots = ev.where(F.col("parent_id").isNull()).select(
        F.col("event_id").alias("root_id"), F.col("event_type").alias("root_type")
    )
    mids = ev.select(F.col("event_id").alias("mid_id"), F.col("parent_id").alias("mid_parent"))
    leaves = ev.select(F.col("event_id").alias("leaf_id"), F.col("parent_id").alias("leaf_parent"), F.col("ts").alias("leaf_ts"))
    return (
        roots.join(mids, roots.root_id == mids.mid_parent)
        .join(leaves, F.col("mid_id") == F.col("leaf_parent"), "left")
        .groupBy("root_id", "root_type")
        .agg(
            F.countDistinct("mid_id").alias("n_children"),
            F.count("leaf_id").alias("n_grandchildren"),
            F.max("leaf_ts").alias("last_grandchild_ts"),
        )
    )


@register(
    "ev_parent_child_ids",
    _EV_LINKED
    + """
SELECT parent_id,
       CAST(count(*) AS BIGINT) AS n_children,
       array_to_string(list_sort(list(event_id)), ',') AS child_ids
FROM ev WHERE parent_id IS NOT NULL GROUP BY 1""",
)
def ev_parent_child_ids(spark, sf_dir):
    """The derived childIds LIST itself (Event.java:75-79 exposes
    parentIds/childIds as list fields; the Lucene writer accumulates
    one childid term per link, LuceneWriter.java:228) — per parent,
    the sorted child id list materialized as a string column so the
    value hash checks MEMBERSHIP, not just counts.  Same scale shape
    as the rollup: one hash aggregation on the link key; the list is
    bounded by the link rule's fan-out (9/18 here; real event trees
    are similarly shallow — an unbounded-fan-out tree would cap or
    bucket this column)."""
    ev = events_seconds(spark, sf_dir)
    return (
        ev.where(F.col("parent_id").isNotNull())
        .groupBy("parent_id")
        .agg(
            F.count("*").alias("n_children"),
            F.array_join(F.array_sort(F.collect_list("event_id")), ",").alias("child_ids"),
        )
    )
