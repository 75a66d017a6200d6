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

Shared fixture chains: a chain that two domain modules build lives
here (``_ppl_terciles`` — CCNet's head/middle/tail label —,
``_ccnet_keep`` — the tercile → fused-keep tail — and the oracle
fragments ``_GOPHER_SIGNALS_SQL``, ``_GOPHER_KEEP_QUALITY_SQL``,
``_CCNET_LM_SQL`` and ``_CCNET_BKT_SQL``, shared byte for byte).  A
chain one module uses stays in it: ``containers._crawl_pages`` (WARC →
HTTP → page rows), ``containers._ccnet_crawl_keep``,
``containers._wat_link_records`` and ``containers._capture_history``;
``pipeline._doc_graph_edges``/``_host_page_edges`` (and their oracle
CTEs) and ``pipeline._dup_classifier``.  The lang-id pack
(``_langid_corpus`` → ``_langid_packed`` → ``_langid_models`` →
``_langid_scores``) with its oracle CTEs, and the modified-KN count
tower SQL, are here too: containers' CCNet keeps build them as well.
``register`` rejects a name that is already taken.

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

# The Gopher signal columns over (toks, lines) and the keep_quality rule
# on them, as the curate-chain oracles state them (containers' crawl
# curate, pipeline's ccnet-trained keep and quality gate).
_GOPHER_SIGNALS_SQL = """         CAST(len(toks) AS BIGINT) AS n_tokens,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS mean_word_len,
         list_sum(list_transform(toks, x -> length(x) - length(replace(x, '#', ''))
           + CASE WHEN contains(x, '...') OR contains(x, '…') THEN 1 ELSE 0 END)) * 1.0 / len(toks) AS symbol_word_ratio,
         len(list_filter(lines, l -> substr(l, 1, 2) IN ('- ', '* ', '• '))) * 1.0 / len(lines) AS bullet_line_frac,
         len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) * 1.0 / len(lines) AS ellipsis_line_frac,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(toks) AS alpha_word_frac,
         CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stopword_hits,
         CAST(len(list_filter(toks, x -> list_contains(['dup','obscene','xxx-badword'], x))) AS BIGINT) AS n_badword_hits"""
_GOPHER_KEEP_QUALITY_SQL = """         (n_tokens BETWEEN 10 AND 100000) AND (mean_word_len BETWEEN 3 AND 10)
           AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
           AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
           AND n_stopword_hits >= 2 AS keep_quality"""

# The CCNet perplexity leg as the ccnet keep oracles state it: the
# corpus-fit bigram LM over the ``t`` tokens (``sc``), then the
# per-language head/middle/tail terciles over the ``lid`` langs (``bkt``).
_CCNET_LM_SQL = r"""bg AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS bigram, toks[i+1] AS w1
       FROM t, unnest(range(0, greatest(len(toks) - 1, 0))) AS u(i)),
uni AS (SELECT tok, count(*) AS ucnt
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
big AS (SELECT bigram, count(*) AS bcnt FROM bg GROUP BY 1),
sc AS (SELECT doc_id, round(avg(ln((bcnt + 0.1) / (ucnt + 0.1 * v.v))), 4) AS avg_logprob
       FROM bg JOIN big USING (bigram) JOIN uni ON bg.w1 = uni.tok CROSS JOIN v
       GROUP BY 1)"""
_CCNET_BKT_SQL = """bkt AS (SELECT doc_id, lang, avg_logprob,
          CASE ntile(3) OVER (PARTITION BY lang
                              ORDER BY avg_logprob DESC NULLS LAST, doc_id)
               WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
          END AS ppl_bucket
        FROM (SELECT lid.doc_id, lid.lang, sc.avg_logprob
              FROM lid LEFT JOIN sc USING (doc_id)))"""

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


def _ppl_terciles(scored: DataFrame) -> DataFrame:
    """(doc_id, lang, avg_logprob) with CCNet's per-language
    ``ppl_bucket`` label: perplexity_buckets' tercile 1/2/3 read as
    head/middle/tail."""
    from opentsdb_aura_spark.operators.quality import perplexity_buckets

    label = (
        F.when(F.col("ppl_bucket") == 1, "head")
        .when(F.col("ppl_bucket") == 2, "middle")
        .otherwise("tail")
    )
    return perplexity_buckets(scored).select("doc_id", "lang", "avg_logprob", label.alias("ppl_bucket"))


def _ccnet_keep(gates: DataFrame, langs: DataFrame, lm_scores: DataFrame, gate_cols: tuple[str, ...]) -> DataFrame:
    """The CCNet keep tail: the LM's ``avg_logprob`` rounded to 4 dp,
    split into per-language terciles over ``langs`` (doc_id, lang) and
    joined onto the boolean ``gate_cols`` of ``gates``.  ``ok_ppl`` is
    bucket ∈ {head, middle}; ``keep`` ANDs every gate with it."""
    scores = lm_scores.select("doc_id", _r("avg_logprob", 4).alias("avg_logprob"))
    bkt = _ppl_terciles(langs.join(scores, "doc_id"))
    ok_ppl = F.col("ppl_bucket").isin("head", "middle")
    keep = F.col(gate_cols[0])
    for c in gate_cols[1:]:
        keep = keep & F.col(c)
    return gates.join(bkt, "doc_id").select(
        "doc_id", "lang", "avg_logprob", "ppl_bucket", *gate_cols, ok_ppl.alias("ok_ppl"), (keep & ok_ppl).alias("keep")
    )


def register(name: str, sql: str | None = None):
    """Decorator: add ``fn`` to SPARK_QUERIES under ``name`` and its
    oracle ``sql`` to ORACLES.  A name is registered once: a second
    registration raises ``ValueError`` instead of shadowing the first
    query (direct ``ORACLES[x] = ORACLES[y]`` reuse is not a
    registration)."""

    def deco(fn):
        if name in SPARK_QUERIES or name in ORACLES:
            raise ValueError(f"query {name!r} is already registered")
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


# ------------------------------------------------ modified-KN count tower
# (the quality_kn* oracles in pipeline.py and the ccnet-kn keep in
# containers.py)


def _kn3_coc_sql(src: str, cname: str, a: str) -> str:
    """Count-of-counts → modified-KN discounts for one order, as a
    1-row CTE body (columns {a}1/{a}2/{a}3) mirroring
    quality._kn_discount_row exactly: Y = n1/(n1+2n2)
    (fallback 0.5), D_k clamped at 0, each falling back to 0.5 when
    its count-of-count denominator is empty."""
    return f"""(
  SELECT CASE WHEN n1 > 0 THEN greatest(1 - 2 * y * n2 / n1, 0.0) ELSE 0.5 END AS {a}1,
         CASE WHEN n2 > 0 THEN greatest(2 - 3 * y * n3 / n2, 0.0) ELSE 0.5 END AS {a}2,
         CASE WHEN n3 > 0 THEN greatest(3 - 4 * y * n4 / n3, 0.0) ELSE 0.5 END AS {a}3
  FROM (SELECT CASE WHEN n1 + 2 * n2 > 0 THEN n1 / (n1 + 2 * n2) ELSE 0.5 END AS y,
               n1, n2, n3, n4
        FROM (SELECT sum(CASE WHEN {cname} = 1 THEN 1.0 ELSE 0.0 END) AS n1,
                     sum(CASE WHEN {cname} = 2 THEN 1.0 ELSE 0.0 END) AS n2,
                     sum(CASE WHEN {cname} = 3 THEN 1.0 ELSE 0.0 END) AS n3,
                     sum(CASE WHEN {cname} = 4 THEN 1.0 ELSE 0.0 END) AS n4
              FROM {src})))"""


def _kn_tower_parts(N: int, toks_cte: str) -> list[str]:
    """The order-``N`` count tower over (doc_id, toks) in ``toks_cte``:
    the raw n-gram table ``kn_og``, the top-level counts and the
    continuation-count levels (one GROUP BY per level), then per level
    the context aggregates and the count-of-count discount triple."""
    cols = [f"w{j}" for j in range(1, N + 1)]
    wsel = ", ".join(f"toks[i+{j}] AS w{j}" for j in range(1, N + 1))
    parts = [
        f"""kn_og AS MATERIALIZED (SELECT doc_id, {wsel}
       FROM {toks_cte}, unnest(range(0, greatest(len(toks) - {N - 1}, 0))) AS _kt(i))""",
        f"""kn_g{N} AS MATERIALIZED (SELECT {', '.join(cols)}, CAST(count(*) AS DOUBLE) AS c{N}
       FROM kn_og GROUP BY {', '.join(str(i + 1) for i in range(N))})""",
    ]
    for k in range(N - 1, 0, -1):
        keys = cols[N - k :]
        parts.append(
            f"""kn_g{k} AS MATERIALIZED (SELECT {', '.join(keys)}, CAST(count(*) AS DOUBLE) AS c{k}
       FROM kn_g{k + 1} GROUP BY {', '.join(str(i + 1) for i in range(k))})"""
        )
    for k in range(N, 1, -1):
        ckeys = cols[N - k : N - 1]
        parts.append(
            f"""kn_x{k} AS MATERIALIZED (SELECT {', '.join(ckeys)}, sum(c{k}) AS tot{k},
              sum(CASE WHEN c{k} = 1 THEN 1.0 ELSE 0.0 END) AS n1f{k},
              sum(CASE WHEN c{k} = 2 THEN 1.0 ELSE 0.0 END) AS n2f{k},
              sum(CASE WHEN c{k} >= 3 THEN 1.0 ELSE 0.0 END) AS n3f{k}
       FROM kn_g{k} GROUP BY {', '.join(str(i + 1) for i in range(len(ckeys)))})"""
        )
        parts.append(
            f"kn_dd{k} AS MATERIALIZED {_kn3_coc_sql(f'kn_g{k}', f'c{k}', f'd{k}_')}"
        )
    return parts


def _kn_order_parts(N: int, count_alias: str, toks_cte: str) -> list[str]:
    """CTE parts for the order-``N`` modified-KN tower reading
    (doc_id, toks) from ``toks_cte``: the raw top-level count table,
    the continuation-count tower (one GROUP BY per level), per-level
    context aggregates and count-of-count discount triples, and the
    per-doc score CTE ``kns`` with the textual p-recursion in the SAME
    nesting the Spark Column expression builds — so the two engines
    associate every float identically before the 4-decimal round.
    All CTE names carry a ``kn_`` prefix so the parts compose into
    larger oracles (the ccnet-kn keep) without collisions; all
    MATERIALIZED (each feeds several consumers; DuckDB would otherwise
    inline the tower exponentially)."""
    cols = [f"w{j}" for j in range(1, N + 1)]
    parts = _kn_tower_parts(N, toks_cte)
    parts.append("kn_ut AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS u FROM kn_g2)")
    p = "c1 / u"
    for k in range(2, N + 1):
        d_of = f"CASE WHEN c{k} = 1 THEN d{k}_1 WHEN c{k} = 2 THEN d{k}_2 ELSE d{k}_3 END"
        gamma = f"(d{k}_1 * n1f{k} + d{k}_2 * n2f{k} + d{k}_3 * n3f{k}) / tot{k}"
        p = f"greatest(c{k} - {d_of}, 0.0) / tot{k} + {gamma} * ({p})"
    gram_joins = "\n           ".join(
        f"JOIN kn_g{k} USING ({', '.join(cols[N - k :])})" for k in range(N - 1, 0, -1)
    )
    ctx_joins = "\n           ".join(
        f"JOIN kn_x{k} USING ({', '.join(cols[N - k : N - 1])})" for k in range(N, 1, -1)
    )
    dd_joins = "\n           ".join(f"CROSS JOIN kn_dd{k}" for k in range(N, 1, -1))
    parts.append(
        f"""kns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS {count_alias},
             round(avg(ln({p})), 4) AS avg_logprob
      FROM kn_og JOIN kn_g{N} USING ({', '.join(cols)})
           {gram_joins}
           {ctx_joins}
           {dd_joins}
           CROSS JOIN kn_ut
      GROUP BY 1)"""
    )
    return parts


# ---------------------------------------- trained language-ID (fastText-style)
#
# The lang-id pack and its oracle CTE chain: pipeline.py's text_lang_id_*
# family and containers.py's trained CCNet keep both build them.
#
# CCNet identifies document language with a TRAINED linear classifier
# over hashed character n-grams (fastText langid — Joulin et al. 2017;
# Wenzek et al. 2020 §4.2), not marker-word lookups.  The engine-native
# form: char-trigram presence features (operators/quality.py
# hashed_char_ngram_features), one-vs-rest deterministic batch-GD
# logistic fits (the SAME bounded-collect loop the quality classifier
# uses), and an alphabetical-tie-break argmax over the class margins —
# every stage expressible in plain SQL, so the whole multi-class model
# re-fits in DuckDB and the predictions value-hash.
#
# The fixture corpus's lang column is uncorrelated with its text, so
# the query slice PLANTS per-language marker sentences (the dedup
# planting recipe): each doc's gold-lang marker words are appended
# plus ONE cross-language noise word keyed by doc_id — the classifier
# must weigh n-gram combinations, not single-word presence, and
# training must RECOVER the planted distribution (fit quality is part
# of the hash: a diverged fit mispredicts and reds the gate).

_LANGID_D = 128
_LANGID_LR = 10.0
_LANGID_ITERS = 6


def _langid_langs():
    from opentsdb_aura_spark.operators.text import LANG_MARKERS

    return sorted(LANG_MARKERS), LANG_MARKERS


def _langid_corpus(spark, sf_dir):
    """(doc_id, lang, txt): fixture docs with the gold lang's marker
    sentence appended plus one doc_id-keyed cross-language noise word,
    lowercased — the planted-separable corpus both the Spark fit and
    the DuckDB re-fit train on."""
    langs, markers = _langid_langs()
    d = docs(spark, sf_dir)
    mk = F.when(F.col("lang") == langs[0], F.lit(" ".join(markers[langs[0]])))
    for L in langs[1:]:
        mk = mk.when(F.col("lang") == L, F.lit(" ".join(markers[L])))
    mk = mk.otherwise(F.lit(""))
    noise = [markers[L][0] for L in langs]
    nz = F.when(F.col("doc_id") % 5 == 0, F.lit(noise[0]))
    for i in range(1, 5):
        nz = nz.when(F.col("doc_id") % 5 == i, F.lit(noise[i]))
    return d.select(
        "doc_id",
        "lang",
        F.lower(F.concat_ws(" ", F.col("text"), mk, nz)).alias("txt"),
    )


def _langid_packed(corpus, text=None, text_col="txt"):
    """The lang-id pack: ``text`` (default ``corpus``) featurized as
    char-trigram presence in _LANGID_D buckets and packed ONCE with
    ``corpus``'s gold lang — (doc_id, lang, fx), lazily checkpointed —
    shared by the OvR fit and the scoring pass (the train/score
    shared-materialization path the binary classifier family uses)."""
    from opentsdb_aura_spark.operators.quality import _pack_label_features

    feats = _langid_feats(corpus if text is None else text, text_col)
    return _pack_label_features(
        corpus.select("doc_id", "lang"), feats, ["lang"]
    ).localCheckpoint(eager=False)


def _langid_feats(df, text_col="txt"):
    """Char-trigram presence features of ``text_col`` in _LANGID_D buckets."""
    from opentsdb_aura_spark.operators.quality import hashed_char_ngram_features

    return hashed_char_ngram_features(df, n=3, n_features=_LANGID_D, text_col=text_col)


def _langid_models(packed):
    """One-vs-rest fit: K binary logreg fits over the SAME packed
    frame, all K classes sharing each distributed pass
    (train_ovr_logreg_weights — n_iter bounded collects total, each
    <= D+1 rows wide by K gradient columns; arithmetic identical to K
    independent train_logreg_weights calls, so the unrolled-SQL
    oracles are unchanged)."""
    from opentsdb_aura_spark.operators.quality import train_ovr_logreg_weights

    langs, _ = _langid_langs()
    return train_ovr_logreg_weights(
        None,
        None,
        classes=langs,
        n_features=_LANGID_D,
        lr=_LANGID_LR,
        n_iter=_LANGID_ITERS,
        center=True,
        packed=packed,
    )


def _langid_scores(packed, models, **kw):
    """Every packed doc scored by the OvR models (margins + argmax)."""
    from opentsdb_aura_spark.operators.quality import ovr_logreg_scores

    return ovr_logreg_scores(None, models, None, n_features=_LANGID_D, packed=packed, **kw)


def _langid_planted_txt_sql(text_expr: str = "text") -> str:
    """The planted-corpus text as one SQL expression over
    (``text_expr``, lang, doc_id) — shared by the standalone lang-id
    oracle and the ccnet-trained composition in queries/containers.py
    (which plants the SAME text BEFORE WARC synthesis so the language
    signal survives extraction)."""
    langs, markers = _langid_langs()
    mk = " ".join(
        f"WHEN '{L}' THEN '{' '.join(markers[L])}'" for L in langs
    )
    noise = [markers[L][0] for L in langs]
    nz = " ".join(f"WHEN {i} THEN '{noise[i]}'" for i in range(5))
    return (
        f"lower({text_expr} || ' ' || CASE lang {mk} ELSE '' END"
        f" || ' ' || CASE CAST(doc_id % 5 AS INTEGER) {nz} ELSE '' END)"
    )


def _langid_corpus_sql() -> str:
    return f"""corpus AS MATERIALIZED (
  SELECT doc_id, lang,
         {_langid_planted_txt_sql()} AS txt
  FROM documents)"""


def _langid_ctes(corpus_sql: str | None = None) -> str:
    """Shared CTE chain: planted corpus → char-trigram presence
    triples (identical polynomial hash fold) → shared centering means
    → one unrolled batch-GD chain PER CLASS (the _logreg_oracle block
    with class-suffixed names), ending at each class's final margin
    table m_<L><ITERS>.  Every iteration CTE is MATERIALIZED — the
    chained references would otherwise inline exponentially.

    ``corpus_sql`` swaps the training-corpus CTE (must still be named
    ``corpus`` with columns doc_id/lang/txt) — the ccnet-trained
    composition feeds the EXTRACTED page text instead of the raw
    planted documents."""
    langs, _ = _langid_langs()
    lr, D, R = _LANGID_LR, _LANGID_D, _LANGID_ITERS
    parts = [
        corpus_sql if corpus_sql is not None else _langid_corpus_sql(),
        f"""trip AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         CAST(list_reduce(list_transform(range(1, 4),
                j -> ord(substr(g, CAST(j AS INTEGER), 1))),
              (a, b) -> (a * 31 + b) % 1000003) % {D} AS INTEGER) AS bucket,
         1.0 AS cnt
  FROM (SELECT doc_id, substr(txt, CAST(i AS INTEGER), 3) AS g
        FROM corpus, unnest(range(1, length(txt) - 1)) AS u(i))),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM corpus),
mu AS MATERIALIZED (SELECT bucket, sum(cnt) / nn.n AS mu
  FROM trip CROSS JOIN nn GROUP BY bucket, nn.n)""",
    ]
    for L in langs:
        parts.append(
            f"""lab_{L} AS MATERIALIZED (SELECT doc_id,
  CASE WHEN lang = '{L}' THEN 1.0 ELSE 0.0 END AS y FROM corpus),
m_{L}0 AS (SELECT doc_id, y, 0.0 AS margin FROM lab_{L})"""
        )
        for k in range(R):
            parts.append(
                f"""r_{L}{k} AS MATERIALIZED (SELECT doc_id, 1.0/(1.0+exp(-margin)) - y AS resid FROM m_{L}{k}),
g_{L}{k} AS MATERIALIZED (SELECT bucket, sum(resid * cnt) AS s FROM trip JOIN r_{L}{k} USING (doc_id) GROUP BY 1),
gb_{L}{k} AS MATERIALIZED (SELECT sum(resid) AS s FROM r_{L}{k})"""
            )
            if k == 0:
                parts.append(
                    f"""w_{L}1 AS MATERIALIZED (SELECT bucket, -{lr} * (g_{L}0.s - mu.mu * gb_{L}0.s) / nn.n AS w
  FROM g_{L}0 JOIN mu USING (bucket) CROSS JOIN gb_{L}0 CROSS JOIN nn),
b_{L}1 AS MATERIALIZED (SELECT -{lr} * s / nn.n AS b FROM gb_{L}0 CROSS JOIN nn)"""
                )
            else:
                parts.append(
                    f"""w_{L}{k + 1} AS MATERIALIZED (SELECT g_{L}{k}.bucket, w_{L}{k}.w - {lr} * (g_{L}{k}.s - mu.mu * gb_{L}{k}.s) / nn.n AS w
  FROM g_{L}{k} JOIN mu USING (bucket) JOIN w_{L}{k} USING (bucket) CROSS JOIN gb_{L}{k} CROSS JOIN nn),
b_{L}{k + 1} AS MATERIALIZED (SELECT b_{L}{k}.b - {lr} * s / nn.n AS b FROM gb_{L}{k} CROSS JOIN b_{L}{k} CROSS JOIN nn)"""
                )
            parts.append(
                f"""off_{L}{k + 1} AS MATERIALIZED (SELECT sum(w * mu.mu) AS o FROM w_{L}{k + 1} JOIN mu USING (bucket)),
m_{L}{k + 1} AS MATERIALIZED (SELECT lab_{L}.doc_id, lab_{L}.y, b_{L}{k + 1}.b - off_{L}{k + 1}.o + coalesce(dp_{L}{k + 1}.v, 0) AS margin
  FROM lab_{L} CROSS JOIN b_{L}{k + 1} CROSS JOIN off_{L}{k + 1}
  LEFT JOIN (SELECT trip.doc_id, sum(cnt * w_{L}{k + 1}.w ORDER BY trip.bucket) AS v
             FROM trip JOIN w_{L}{k + 1} USING (bucket) GROUP BY 1) dp_{L}{k + 1} USING (doc_id))"""
            )
    return "WITH " + ",\n".join(parts)


def _langid_pred_sql(prefix: str = "m_") -> str:
    """Alphabetically-first argmax over the class margin columns —
    the cascading CASE equivalent of greatest + first-match."""
    langs, _ = _langid_langs()
    arms = []
    for i, L in enumerate(langs[:-1]):
        conds = " AND ".join(f"{prefix}{L} >= {prefix}{M}" for M in langs[i + 1 :])
        arms.append(f"WHEN {conds} THEN '{L}'")
    return "CASE " + " ".join(arms) + f" ELSE '{langs[-1]}' END"


def _langid_margins_sql() -> tuple[str, str]:
    """Each class's final margin as ``m_<L>`` and the joins of the
    final margin tables m_<L><ITERS> onto ``corpus``."""
    langs, _ = _langid_langs()
    R = _LANGID_ITERS
    margin_cols = ", ".join(f"m_{L}{R}.margin AS m_{L}" for L in langs)
    joins = "\n".join(f"JOIN m_{L}{R} ON m_{L}{R}.doc_id = corpus.doc_id" for L in langs)
    return margin_cols, joins
