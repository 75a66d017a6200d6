"""Event-analytics extras: paging, DAU/WAU/stickiness, funnels,
cohort retention, sessionization, time-to-first-event.

Split from queries/extras.py (round 6): registration side-effects
only -- query names, oracles, and behavior unchanged.
"""

from __future__ import annotations

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import _r  # shared underscore helper



@register(
    "ev_paging_offset",
    """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts, event_type
FROM events ORDER BY ts DESC, event_id DESC LIMIT 20 OFFSET 30""",
)
def ev_paging_offset(spark, sf_dir):
    """L2 — from/size paging (offset into the newest-first order)."""
    ev = events_seconds(spark, sf_dir)
    return top_n(ev, 20, offset=30).select("event_id", "ts", "event_type")


@register(
    "ev_user_activity",
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value,
       arg_max(event_type, CAST(floor(epoch(ts)) AS BIGINT) * 1000000 + event_id) AS last_type
FROM events GROUP BY 1""",
)
def ev_user_activity(spark, sf_dir):
    """E5 variant — per-user activity rollup with fetch-last type."""
    ev = events_seconds(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        _r(F.sum("value"), 4).alias("total_value"),
        F.max_by("event_type", F.col("ts") * 1000000 + F.col("event_id")).alias("last_type"),
    )


@register(
    "ev_wau_rolling",
    f"""WITH ud AS (
  SELECT DISTINCT
         (CAST(floor(epoch(ts)) AS BIGINT) - {START - 6 * DAY}) // 86400 - 6 AS d,
         user_id
  FROM events
  WHERE epoch(ts) >= {START - 6 * DAY} AND epoch(ts) < {START + 14 * DAY}),
days AS (SELECT range AS o FROM range(0, 14))
SELECT CAST({START} + o * 86400 AS BIGINT) AS day_ts,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
FROM days JOIN ud ON ud.d BETWEEN o - 6 AND o
GROUP BY 1 ORDER BY 1""",
)
def ev_wau_rolling(spark, sf_dir):
    """Rolling 7-day active users (WAU) per day, exact: events dedupe
    to (day, user) FIRST — the distinct frame is |users × days|,
    orders smaller than the log — then each user-day explodes to the
    ≤7 output days it serves (a bounded fan-out, no range self-join,
    no skewable nested loop) and a distinct count per day finishes.
    The sketch twin is ev_wau_hll."""
    from opentsdb_aura_spark.operators.events import rolling_active_users

    ev = events_seconds(spark, sf_dir)
    res = rolling_active_users(ev, START, START + 14 * DAY, 7)
    return res.select("day_ts", F.col("active_users").cast("bigint").alias("active_users"))


@register(
    "ev_stickiness_daily",
    f"""WITH ud AS (
  SELECT DISTINCT
         (CAST(floor(epoch(ts)) AS BIGINT) - {START - 6 * DAY}) // 86400 - 6 AS d,
         user_id
  FROM events
  WHERE epoch(ts) >= {START - 6 * DAY} AND epoch(ts) < {START + 14 * DAY}),
days AS (SELECT range AS o FROM range(0, 14)),
wau AS (SELECT o, count(DISTINCT user_id) AS w
        FROM days JOIN ud ON ud.d BETWEEN o - 6 AND o GROUP BY 1),
dau AS (SELECT d AS o, count(DISTINCT user_id) AS a FROM ud WHERE d >= 0 GROUP BY 1)
SELECT CAST({START} + wau.o * 86400 AS BIGINT) AS day_ts,
       CAST(coalesce(dau.a, 0) AS BIGINT) AS dau,
       CAST(wau.w AS BIGINT) AS wau,
       round(coalesce(dau.a, 0) * 1.0 / wau.w, 6) AS stickiness
FROM wau LEFT JOIN dau USING (o) ORDER BY 1""",
)
def ev_stickiness_daily(spark, sf_dir):
    """Stickiness (DAU/WAU) per day — the engagement ratio every
    product dashboard plots; both counts come from the same
    dedupe-to-user-day frame (rolling_active_users' shape), joined on
    the day."""
    from opentsdb_aura_spark.operators.events import rolling_active_users

    ev = events_seconds(spark, sf_dir)
    wau = rolling_active_users(ev, START, START + 14 * DAY, 7).withColumnRenamed(
        "active_users", "wau"
    )
    dau = rolling_active_users(ev, START, START + 14 * DAY, 1).withColumnRenamed(
        "active_users", "dau"
    )
    return (
        wau.join(dau, "day_ts", "left")
        .select(
            "day_ts",
            F.coalesce(F.col("dau"), F.lit(0)).cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            _r(F.coalesce(F.col("dau"), F.lit(0)) / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day_ts")
    )


@register(
    "ev_funnel_3step",
    f"""WITH e AS (SELECT user_id AS k, event_type AS t,
                  CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events),
s1 AS (SELECT k, min(ts) AS ts_1 FROM e WHERE t = 'signup' GROUP BY 1),
s2 AS (SELECT s1.k, ts_1,
              min(e.ts) FILTER (WHERE e.ts > ts_1 AND e.ts <= ts_1 + {3 * DAY}) AS ts_2
       FROM s1 LEFT JOIN e ON e.k = s1.k AND e.t = 'click' GROUP BY 1, 2),
s3 AS (SELECT s2.k, ts_1, ts_2,
              min(e.ts) FILTER (WHERE ts_2 IS NOT NULL AND e.ts > ts_2
                                AND e.ts <= ts_2 + {3 * DAY}) AS ts_3
       FROM s2 LEFT JOIN e ON e.k = s2.k AND e.t = 'purchase' GROUP BY 1, 2, 3)
SELECT k AS user_id, ts_1, ts_2, ts_3, ts_3 IS NOT NULL AS converted,
       CAST(ts_3 - ts_1 AS BIGINT) AS seconds_total FROM s3""",
)
def ev_funnel_3step(spark, sf_dir):
    """N-step ordered funnel (signup → click → purchase, each step
    within 3 days of the previous): greedy earliest-completion, one
    equi-join + filtered-min aggregate per step
    (events.funnel_steps) — no per-key event collection, no whole-
    history window, so a bot key cannot break the stage."""
    from opentsdb_aura_spark.operators.events import funnel_steps

    ev = events_seconds(spark, sf_dir)
    return funnel_steps(ev, ["signup", "click", "purchase"], 3 * DAY)


@register(
    "ev_cohort_retention_daily",
    """WITH a AS (
  SELECT DISTINCT user_id AS k,
         CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS b
  FROM events),
f AS (SELECT k, min(b) AS cohort_ts FROM a GROUP BY 1),
cells AS (
  SELECT f.cohort_ts, (a.b - f.cohort_ts) // 86400 AS day_offset,
         CAST(count(DISTINCT a.k) AS BIGINT) AS n_active
  FROM a JOIN f USING (k) GROUP BY 1, 2)
SELECT cohort_ts, day_offset, n_active,
       max(CASE WHEN day_offset = 0 THEN n_active END) OVER (PARTITION BY cohort_ts) AS n_cohort,
       round(n_active * 1.0 / max(CASE WHEN day_offset = 0 THEN n_active END)
             OVER (PARTITION BY cohort_ts), 6) AS retention
FROM cells""",
)
def ev_cohort_retention_daily(spark, sf_dir):
    """Cohort retention matrix: users cohorted by first-activity day;
    each (cohort, day-offset) cell reports active members and the
    retention rate — the third leg of the event-analytics triad next
    to sessionization and funnels."""
    from opentsdb_aura_spark.operators.events import cohort_retention

    ev = events_seconds(spark, sf_dir).select("user_id", "ts")
    return cohort_retention(ev, 86400)


@register(
    "ev_funnel_signup_purchase",
    """WITH e AS (
  SELECT user_id AS k, event_type AS t, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events),
f AS (SELECT k, ts FROM e WHERE t = 'signup'),
tt AS (SELECT k, ts FROM e WHERE t = 'purchase'),
m AS (SELECT tt.k, tt.ts,
             CASE WHEN f.ts IS NOT NULL AND tt.ts > f.ts AND tt.ts - f.ts <= 86400
                  THEN f.ts END AS valid_fts
      FROM tt ASOF LEFT JOIN f ON tt.k = f.k AND tt.ts >= f.ts),
conv AS (SELECT k, min(ts) AS convert_ts, arg_min(valid_fts, ts) AS matched_from_ts
         FROM m WHERE valid_fts IS NOT NULL GROUP BY 1),
ff AS (SELECT k, min(ts) AS first_from_ts FROM f GROUP BY 1)
SELECT ff.k AS user_id, ff.first_from_ts,
       conv.convert_ts IS NOT NULL AS converted, conv.convert_ts,
       CAST(conv.convert_ts - conv.matched_from_ts AS BIGINT) AS seconds_to_convert
FROM ff LEFT JOIN conv USING (k)""",
)
def ev_funnel_signup_purchase(spark, sf_dir):
    """Two-step funnel: per user, did a purchase follow a signup
    within 24 h?  Backward as-of join (one running-last window per
    user — no range join) + one aggregate; the oracle uses DuckDB's
    native ASOF JOIN."""
    from opentsdb_aura_spark.operators.events import funnel_conversion

    ev = events_seconds(spark, sf_dir).select("user_id", "event_type", "ts")
    return funnel_conversion(ev, "signup", "purchase", 86400)


@register(
    "ev_sessionize_users",
    """WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts, event_id FROM events),
l AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS nf
  FROM e),
s AS (
  SELECT user_id, ts,
         sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM l)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY 1, 2""",
)
def ev_sessionize_users(spark, sf_dir):
    """Gap-based sessionization (30-min timeout) over the event store:
    one row per (user, session) with bounds and event count.  Runs the
    hot-key-bounded two-phase path (per-(user, day-block) local
    sessions + interval-merge stitch): window tasks stay bounded even
    for a bot user with 10⁸ events, and the result is identical to the
    classic single-window shape (equivalence asserted in tests)."""
    from opentsdb_aura_spark.operators.events import sessionize

    ev = events_seconds(spark, sf_dir).select("user_id", "ts", "event_id")
    return sessionize(ev, 1800, key_col="user_id", block_seconds=DAY).select(
        "user_id",
        F.col("session_idx").cast("bigint").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
    )


@register(
    "ev_time_to_first_purchase",
    """WITH s AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_signup
       FROM events WHERE event_type = 'signup' GROUP BY 1),
p AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT s.user_id, s.first_signup, p.first_purchase,
       p.first_purchase - s.first_signup AS secs_to_purchase
FROM s JOIN p ON s.user_id = p.user_id
WHERE p.first_purchase >= s.first_signup""",
)
def ev_time_to_first_purchase(spark, sf_dir):
    """Activation-latency analytics: per user, the time from first
    signup to first purchase (users whose first purchase precedes any
    signup are excluded — attribution needs a cause).  Two filtered
    min-aggregates and one equi-join on user_id — no window over the
    whole event history, so a hot user costs the same as a cold one."""
    ev = events_seconds(spark, sf_dir)
    first = lambda et, alias: (
        ev.where(F.col("event_type") == et)
        .groupBy("user_id")
        .agg(F.min("ts").cast("long").alias(alias))
    )
    s = first("signup", "first_signup")
    p = first("purchase", "first_purchase")
    return (
        s.join(p, "user_id")
        .where(F.col("first_purchase") >= F.col("first_signup"))
        .select(
            "user_id",
            "first_signup",
            "first_purchase",
            (F.col("first_purchase") - F.col("first_signup")).alias("secs_to_purchase"),
        )
    )
