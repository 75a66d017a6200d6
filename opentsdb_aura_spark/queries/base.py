"""Query catalog: every driver-visible query, paired with a DuckDB
oracle SQL string (the t2 correctness gate).

Each entry exercises one operator family from SURVEY.md §2 on the
driver's parquet tables.  The events table is adapted to the metric
point model (event_type → metric, user_id / props.k → tags) so the
whole metric path — filters, dedupe, rate, downsample, group-by,
meta — runs on real multi-series data; documents/embeddings feed the
training-data-pipeline operators.

Column-name discipline: the driver hash-compares values after sorting
columns by name, so every computed column is aliased identically in
the Spark plan and the oracle SQL.  Floats are rounded (4-6 dp) on
both sides to absorb summation-order differences; NaN outputs are
mapped to NULL on both sides.

Oracle typing rule: NEVER project an integer aggregate or window sum
raw.  DuckDB types ``sum(BIGINT)`` (plain and windowed) as HUGEINT,
which arrives via Arrow as decimal128(38,0) and hash-mismatches
Spark's int64 even when the values are identical.  Always wrap in
``CAST(... AS BIGINT)`` in the oracle SQL (and ``.cast("long")`` on
the Spark side if needed).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from opentsdb_aura_spark.filters import Chain, MetricLiteral, Not, TagLiteralOr
from opentsdb_aura_spark.operators.dedup_text import (
    _spread,
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from opentsdb_aura_spark.operators.downsample import bucket_expr, downsample
from opentsdb_aura_spark.operators.events import group_count_last, minute_histogram, text_match, top_n
from opentsdb_aura_spark.operators.meta import (
    cardinality,
    distinct_metrics,
    distinct_tag_keys,
    distinct_tag_values,
)
from opentsdb_aura_spark.operators.multimodal import attach_fake_media, extract_features, media_stats
from opentsdb_aura_spark.operators.rate import RateOptions, rate
from opentsdb_aura_spark.operators.similarity import brute_force_topk, lsh_topk
from opentsdb_aura_spark.operators.text import lang_id, quality_scores, token_stats
from opentsdb_aura_spark.plans.query import MetricQuery, run_metric_query, splice_hot_cold
from opentsdb_aura_spark.sources.batch import EVENT_STORE_SEGMENT_WIDTH


def _mq(**kw) -> MetricQuery:
    """MetricQuery against the events-derived store (daily partitions)."""
    kw.setdefault("segment_width", EVENT_STORE_SEGMENT_WIDTH)
    return MetricQuery(**kw)

# ---------------------------------------------------------------- time anchors
START = 1704067200  # 2024-01-01 00:00:00 UTC — events data begins here
END = START + 30 * 86400
SPINE_START = START + 86400
SPINE_END = SPINE_START + 2 * 86400
SHIFT = 86400
DAY = 86400
HOUR = 3600

# ---------------------------------------------------------------- spark loaders


def ensure_session_confs(spark: SparkSession) -> None:
    """The driver hands us ITS SparkSession — pin the runtime-settable
    confs our semantics depend on: nanos timestamps read as long, and
    UTC so any timestamp↔epoch conversion matches the DuckDB oracle
    regardless of the host timezone."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_confs(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def events_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as epoch seconds, served from the daily-
    partitioned store (E3 — the yyyy-MM-dd index layout)."""
    from opentsdb_aura_spark.sources.batch import ensure_event_store, events_store_path

    ensure_session_confs(spark)
    ensure_event_store(spark, sf_dir)
    return spark.read.parquet(events_store_path(sf_dir))


def points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical deduped points + materialized tag columns, served
    from the time-partitioned Parquet store (built once per sf_dir —
    the batch-ingest path, S2)."""
    from opentsdb_aura_spark.sources.batch import ensure_event_store

    ensure_session_confs(spark)
    metrics_path, _ = ensure_event_store(spark, sf_dir)
    return spark.read.parquet(metrics_path)


def series_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentsdb_aura_spark.sources.batch import ensure_event_store

    ensure_session_confs(spark)
    _, dim_path = ensure_event_store(spark, sf_dir)
    return spark.read.parquet(dim_path)


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the test table is a single parquet file → 1 input partition;
    # spread it so doc operators use multiple cores (a production
    # corpus arrives as many files and gets parallelism from splits,
    # and the guarded spread then inserts no shuffle).
    # defaultParallelism/4, not the full core count: several consumers
    # chain Python stages (k workers live per task — the rowpass
    # _CHAIN_DEPTH rationale), and for the pure-Catalyst consumers the
    # fixture rows are so small that 32 task launches cost more than
    # they buy (same-session min-of-3 at sf0.1, 8 vs 32 partitions:
    # text_bpe_subword_count 2.54→1.83 s, text_unigram_count
    # 2.14→1.51 s, pipeline_quality_classifier 1.58→0.97 s,
    # dedup_cluster_resolve 2.99→2.73 s; none slower)
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` without the defaultParallelism spread — for small
    filtered slices (e.g. the 100-row multimodal probes) where 32-way
    round-robin fan-out just multiplies Python-worker launches; a
    production corpus gets its parallelism from file splits."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same guarded spread as docs() — measured on the ANN family
    # (same-session min-of-3 at sf0.1, 8 vs 32): ann_pq_topk
    # 1.47→0.90 s, ann_ivfpq_recall 2.26→1.49 s, ann_lsh_exact_topk
    # 0.97→0.75 s; none slower
    return _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


# ---------------------------------------------------------------- helpers


def denan(c: Column) -> Column:
    """NaN → NULL (both engines hash NULL identically; NaN is risky)."""
    return F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(c)


def _bucket_sql(iv: int, start: int = START, ts: str = "ts") -> str:
    return f"({start} + (({ts} - {start}) // {iv}) * {iv})"


# Shared oracle prelude: the same point normalization + last-write-wins
# dedupe the Spark side applies.
ORACLE_PTS = """
WITH pts AS (
  SELECT event_type AS metric,
         CAST(user_id AS VARCHAR) AS tag_user,
         json_extract_string(props, '$.k') AS tag_k,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts,
         value,
         event_id AS ingest_seq
  FROM events
),
dpts AS (
  SELECT metric, tag_user, tag_k, ts, value, ingest_seq
  FROM (SELECT *, row_number() OVER (PARTITION BY metric, tag_user, tag_k, ts
                                     ORDER BY ingest_seq DESC) AS rn
        FROM pts)
  WHERE rn = 1
),
series AS (SELECT DISTINCT metric, tag_user, tag_k FROM pts)
"""

ORACLE_SHINGLES = """
WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), _t -> _t <> '') AS toks
           FROM documents),
shing AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks)-1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM d),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shing GROUP BY 1)
"""


# ---------------------------------------------------------------- registry

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}



def _r(c, n: int) -> Column:
    """Round with a +1e-9 nudge: aggregate ratios of 2-decimal inputs
    are exact rationals that can land precisely ON a rounding boundary
    (e.g. 49.49475), where Spark and DuckDB fall on opposite sides due
    to double association order.  The nudge (≫ double noise ~1e-12,
    ≪ the rounding resolution) moves every boundary case to the same
    side in both engines.  The oracle SQL applies the same nudge via
    register()."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col + F.lit(1e-9), n)

def register(name: str, sql: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            # same boundary nudge as _r() on the Spark side.  Idempotent:
            # a query may legitimately reuse an ALREADY-REGISTERED oracle
            # (e.g. multimodal_transcode_gif reuses multimodal_real_decode's
            # SQL verbatim), and re-nudging would double the offset and put
            # DuckDB on the wrong side of a rounding boundary.
            if "round(1e-9 + " in sql:
                ORACLES[name] = sql
            else:
                ORACLES[name] = sql.replace("round(", "round(1e-9 + ")
        return fn

    return deco


def _ds_by_metric(spark, sf_dir, interval, agg, value_alias, ndigits, run_all=False):
    res = downsample(
        points(spark, sf_dir), START, END, interval, agg, group_cols=["metric"], fill="none", run_all=run_all
    )
    return res.select("metric", "bucket_ts", _r(denan(F.col("value")), ndigits).alias(value_alias))


def _ds_by_metric_sql(iv, agg_sql, value_alias, ndigits):
    return f"""{ORACLE_PTS}
SELECT metric, {_bucket_sql(iv)} AS bucket_ts,
       round({agg_sql}, {ndigits}) AS {value_alias}
FROM dpts WHERE ts >= {START} AND ts < {END}
GROUP BY 1, 2"""


def _rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentsdb_aura_spark.sources.batch import ensure_event_store, rollup_path

    ensure_event_store(spark, sf_dir)
    return spark.read.parquet(rollup_path(sf_dir, 3600))
