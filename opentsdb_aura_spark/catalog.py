"""Query catalog: every driver-visible query, paired with a DuckDB
oracle SQL string (the t2 correctness gate).

Round-5 layout: the registry core (register/SPARK_QUERIES/ORACLES,
table loaders, shared helpers, oracle SQL preludes and the
column-name / oracle-typing rules) lives in
``opentsdb_aura_spark/queries/base.py``; the query registrations are
split by domain under ``opentsdb_aura_spark/queries/`` (metric,
events, tpch, pipeline, multimodal, and the extras_* family:
extras_metric, extras_sketch, extras_tpch, extras_events,
extras_corpus — the round-6 split of the old cross-domain
extras.py).  The fixture chains several queries share are written once
and each query is a front end of them: chains two domain modules use
(the CCNet tercile label and keep tail, the lang-id pack, the KN
tower, the Gopher and CCNet oracle fragments) live in
``queries/base.py``; the crawl page chain, the CCNet crawl keep, the
WAT link pack and the capture history in ``queries/containers.py``;
the doc-graph and host-graph edges and the 'dup' classifier in
``queries/pipeline.py``.
This module re-exports
everything so ``from opentsdb_aura_spark.catalog import ...`` keeps
working unchanged — importing it populates the full registry.
"""

from opentsdb_aura_spark.queries.base import *  # noqa: F401,F403
from opentsdb_aura_spark.queries.base import (  # noqa: F401  (test/tool surface)
    _bucket_sql,
    _ds_by_metric,
    _ds_by_metric_sql,
    _mq,
    _r,
    _rollup,
)

# registration side-effects: importing each domain module fills
# SPARK_QUERIES / ORACLES (order mirrors the old single-file layout)
from opentsdb_aura_spark.queries import (  # noqa: E402,F401
    metric as _q_metric,
    metric_analytic as _q_metric_analytic,
    metric_serving as _q_metric_serving,
    events as _q_events,
    tpch as _q_tpch,
    pipeline as _q_pipeline,
    multimodal as _q_multimodal,
    extras_metric as _q_extras_metric,
    extras_sketch as _q_extras_sketch,
    extras_tpch as _q_extras_tpch,
    extras_events as _q_extras_events,
    extras_corpus as _q_extras_corpus,
    containers as _q_containers,
)
