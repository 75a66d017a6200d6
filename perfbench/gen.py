"""Seeded input generation for every workload.

Everything here is a pure function of the seed: the same seed gives the
same point set, query pool, micro-batch schedule and document corpus.
No Spark here; the workloads hand the generated inputs to the package.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

MINUTE, HOUR, DAY = 60, 3600, 86400
#: store start: 2026-01-01T00:00:00Z (day-aligned, so hourly rollups align)
T0 = 1767225600
SEGMENT_WIDTH = 7200
NAMESPACE = "bench"

GAUGE, COUNTER, LATENCY = "sys.cpu.busy", "net.bytes.in", "http.latency"
METRICS = (GAUGE, COUNTER, LATENCY)
N_DCS = 4

# ------------------------------------------------------------------ store shapes

#: the hot store: 24 h of history, bulk-loaded in set-up.
DASH = dict(hosts=16, step=60, span=DAY, hot_step=10, dup_frac=0.01)
#: the stream that follows the history: ``batches`` micro-batches, each
#: covering ``slice_s`` of event time, every series at ``step``.
INGEST = dict(
    batches=1, step=10, slice_s=MINUTE, retention=DAY, dup_frac=0.02,
    late_frac=0.01, early_frac=0.01, null_frac=0.005,
)
#: corpus_batch: document count of the generated corpus (sf0.1 has 5000).
CORPUS = dict(docs=600, dup_docs=8)

RAW_SCHEMA = pa.schema(
    [
        ("metric", pa.string()),
        ("host", pa.string()),
        ("dc", pa.string()),
        ("ts", pa.int64()),
        ("value", pa.float64()),
        ("ingest_seq", pa.int64()),
    ]
)


def series_list(hosts: int) -> list[tuple[str, str, str]]:
    """(metric, host, dc) for every series: each metric on every host."""
    return [(m, f"h{h:03d}", f"dc{h % N_DCS}") for m in METRICS for h in range(hosts)]


def canonical_tags(host: str, dc: str) -> str:
    """Sorted ``k=v`` form the package hashes into ``series_id``."""
    return f"dc={dc},host={host}"


def _values(rng: np.random.Generator, metric: str, ts: np.ndarray, phase: float) -> np.ndarray:
    n = len(ts)
    if metric == GAUGE:
        return 50 + 20 * np.sin(ts / 3600.0 + phase) + rng.normal(0, 5, n)
    if metric == COUNTER:
        # monotone counter: positive rates, no resets
        return np.cumsum(rng.uniform(100, 1000, n)) + phase * 1e6
    return rng.lognormal(3.0 + phase / 10, 0.6, n)


def _series_points(rng, series, start, end, step, hot_step=None):
    """One point per ``step`` per series (jittered inside the step); the
    first series of the gauge runs at ``hot_step`` (the hot series)."""
    cols = {k: [] for k in ("metric", "host", "dc", "ts", "value")}
    for i, (m, h, dc) in enumerate(series):
        st = hot_step if (hot_step and i == 0) else step
        base = np.arange(start, end, st, dtype=np.int64)
        ts = base + rng.integers(0, st, len(base))
        cols["metric"] += [m] * len(ts)
        cols["host"] += [h] * len(ts)
        cols["dc"] += [dc] * len(ts)
        cols["ts"].append(ts)
        cols["value"].append(_values(rng, m, ts, (i % 7) * 0.9))
    cols["ts"] = np.concatenate(cols["ts"])
    cols["value"] = np.concatenate(cols["value"])
    return cols


def _table(cols: dict, seq: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "metric": cols["metric"],
            "host": cols["host"],
            "dc": cols["dc"],
            "ts": pa.array(cols["ts"], pa.int64()),
            "value": pa.array(cols["value"], pa.float64()),
            "ingest_seq": pa.array(seq, pa.int64()),
        },
        schema=RAW_SCHEMA,
    )


def _with_duplicates(rng, table: pa.Table, frac: float, seq_base: int) -> pa.Table:
    """Re-send a ``frac`` sample of rows later (higher ingest_seq) with a
    new value: last write wins, so the store must keep the re-sent one."""
    n = table.num_rows
    idx = np.sort(rng.choice(n, int(n * frac), replace=False))
    dup = table.take(pa.array(idx))
    dup = dup.set_column(4, "value", pa.array(dup["value"].to_numpy() + 1000.0))
    dup = dup.set_column(5, "ingest_seq", pa.array(seq_base + np.arange(len(idx)), pa.int64()))
    return pa.concat_tables([table, dup])


def dash_points(seed: int) -> pa.Table:
    """The bulk-loaded history: 24 h of points for every series,
    arrival order shuffled (out-of-order ingest_seq), 1% re-sent."""
    rng = np.random.default_rng([seed, 1])
    series = series_list(DASH["hosts"])
    cols = _series_points(rng, series, T0, T0 + DASH["span"], DASH["step"], DASH["hot_step"])
    n = len(cols["ts"])
    table = _table(cols, rng.permutation(n))
    table = _with_duplicates(rng, table, DASH["dup_frac"], n)
    return table.take(pa.array(rng.permutation(table.num_rows)))


# ------------------------------------------------------------------ query pool

#: dashboard templates (OpenTSDB 3.x JSON shapes) and meta calls
TEMPLATES = (
    "ds_sum", "gb_avg_avg", "rate_ds_gb", "per_series", "shift",
    "rollup_hourly", "p90_hist", "meta_tag_values", "meta_cardinality",
)
#: templates the planner may serve from a pre-aggregate table
PREAGG_TEMPLATES = ("rollup_hourly", "p90_hist")
#: recent data is favoured: (window seconds, downsample interval)
DASH_WINDOWS = ((HOUR, MINUTE), (6 * HOUR, 5 * MINUTE), (DAY, 15 * MINUTE))
#: window classes, cycled over the pool: 1 h 5×, 6 h 3×, 24 h 2×
WINDOW_CYCLE = (0, 1, 0, 2, 0, 1, 0, 2, 0, 1)
#: pool size: every template once in every window class of the cycle
POOL_SIZE = len(TEMPLATES) * len(WINDOW_CYCLE)


@dataclass(frozen=True)
class QuerySpec:
    """One pool entry. ``end_back`` places the window ``end_back``
    seconds before the panel's "now": the end of the bulk-loaded hours
    for pre-aggregated panels, the head of the stream for the rest."""

    template: str
    window: int
    interval: int
    end_back: int
    dcs: tuple[str, ...] | None  # optional dc filter
    hosts: tuple[str, ...] | None = None  # per_series host filter

    @property
    def metric(self) -> str:
        if self.template == "rate_ds_gb":
            return COUNTER
        if self.template == "p90_hist":
            return LATENCY
        return GAUGE


def query_pool(seed: int) -> list[QuerySpec]:
    """``POOL_SIZE`` queries in a fixed template × window order, so
    every seed runs the same mix; the seed picks each query's window
    position and filters (a dc filter on about a third of them).  The
    rollup and histogram templates use hour-aligned windows of at least
    6 h and a 1 h interval, so the planner can substitute the
    pre-aggregates."""
    rng = np.random.default_rng([seed, 2])
    pool = []
    for i in range(POOL_SIZE):
        tpl = TEMPLATES[i % len(TEMPLATES)]
        # each pass mixes the window classes over its templates
        win, iv = DASH_WINDOWS[WINDOW_CYCLE[(i // len(TEMPLATES) + i) % len(WINDOW_CYCLE)]]
        end_back = int(rng.integers(0, 4)) * iv
        if tpl in PREAGG_TEMPLATES:
            iv, win = HOUR, max(win, 6 * HOUR)
            end_back = int(rng.integers(0, 3)) * HOUR
        dcs = None
        if rng.random() < 1 / 3:
            dcs = tuple(sorted(f"dc{d}" for d in rng.choice(N_DCS, 2, replace=False)))
        host_sel = None
        if tpl == "per_series":
            host_sel = tuple(sorted(f"h{h:03d}" for h in rng.choice(DASH["hosts"], 8, replace=False)))
            dcs = None
        pool.append(QuerySpec(tpl, int(win), int(iv), int(end_back), dcs, host_sel))
    return pool


def query_json(spec: QuerySpec, end: int) -> dict:
    """The 3.x semantic-query JSON a dashboard panel would POST."""
    start = end - spec.window
    parts = [{"type": "MetricLiteral", "metric": spec.metric}]
    if spec.dcs:
        parts.append({"type": "TagValueLiteralOr", "tagKey": "dc", "filter": "|".join(spec.dcs)})
    if spec.hosts:
        parts.append({"type": "TagValueLiteralOr", "tagKey": "host", "filter": "|".join(spec.hosts)})
    flt = {"type": "Chain", "op": "AND", "filters": parts}
    graph = [{"id": "m1", "type": "TimeSeriesDataSource", "filterId": "f1"}]
    iv = f"{spec.interval}s"
    t = spec.template
    if t == "ds_sum":
        graph += [{"type": "downsample", "aggregator": "sum", "interval": iv},
                  {"type": "groupby", "aggregator": "sum", "tagKeys": ["dc"]}]
    elif t == "gb_avg_avg":
        graph += [{"type": "downsample", "aggregator": "avg", "interval": iv},
                  {"type": "groupby", "aggregator": "avg", "tagKeys": ["dc"]}]
    elif t == "rate_ds_gb":
        graph += [{"type": "rate", "interval": "1s"},
                  {"type": "downsample", "aggregator": "avg", "interval": iv},
                  {"type": "groupby", "aggregator": "sum", "tagKeys": ["dc"]}]
    elif t == "per_series":
        graph += [{"type": "downsample", "aggregator": "avg", "interval": iv}]
    elif t == "shift":
        graph += [{"type": "timeshift", "interval": "1h"},
                  {"type": "downsample", "aggregator": "sum", "interval": iv},
                  {"type": "groupby", "aggregator": "sum", "tagKeys": ["dc"]}]
    elif t == "rollup_hourly":
        graph += [{"type": "downsample", "aggregator": "sum", "interval": iv},
                  {"type": "groupby", "aggregator": "sum", "tagKeys": ["dc"]}]
    elif t == "p90_hist":
        graph += [{"type": "downsample", "aggregator": "p90", "interval": iv},
                  {"type": "groupby", "aggregator": "max", "tagKeys": ["dc"]}]
    else:
        raise ValueError(f"not a graph template: {t}")
    return {"start": start, "end": end, "executionGraph": graph,
            "filters": [{"id": "f1", "filter": flt}]}


# ------------------------------------------------------------------ ingest schedule


@dataclass
class IngestPlan:
    """The micro-batch schedule that follows the history.

    ``batches[k]`` is the k-th raw micro-batch; its ingest clock
    ("now") is ``now[k]``.  ``valid`` holds every unique
    streamed point that must end up stored (last write per (series,
    ts)), ``committed`` their count per batch, and ``planted`` the
    late / early / NULL-ts counts over all batches."""

    batches: list[pa.Table]
    now: list[int]
    valid: pa.Table
    committed: list[int] = field(default_factory=list)  # unique points per batch
    planted: dict = field(default_factory=dict)
    history_end: int = 0


def ingest_plan(seed: int, n_batches: int) -> IngestPlan:
    cfg = INGEST
    rng = np.random.default_rng([seed, 3])
    series = series_list(DASH["hosts"])
    h_end = T0 + DASH["span"]  # the stream starts where the history ends
    seq = 1 << 40  # arrives after every history point
    valid_parts = []
    batches, nows, committed = [], [], []
    late = early = null = 0
    for k in range(n_batches):
        lo = h_end + k * cfg["slice_s"]
        now = lo + cfg["slice_s"]
        cols = _series_points(rng, series, lo, now, cfg["step"])
        n = len(cols["ts"])
        part = _table(cols, seq + np.arange(n))
        seq += n
        part = _with_duplicates(rng, part, cfg["dup_frac"], seq)
        seq += part.num_rows
        # last write wins inside the batch: the valid set keeps the max seq
        last = _last_writes(part)
        valid_parts.append(last)
        committed.append(last.num_rows)
        extra = []
        # at least one of each fault, so every check has something to count
        n_late, n_early, n_null = (
            max(1, int(rng.binomial(part.num_rows, cfg[f]))) for f in ("late_frac", "early_frac", "null_frac")
        )
        for cnt, ts_fn in (
            (n_late, lambda c: now - cfg["retention"] - rng.integers(1, HOUR, c)),
            (n_early, lambda c: now + rng.integers(1, 600, c)),
        ):
            src = part.take(pa.array(rng.choice(part.num_rows, cnt, replace=False)))
            src = src.set_column(3, "ts", pa.array(ts_fn(cnt), pa.int64()))
            src = src.set_column(5, "ingest_seq", pa.array(seq + np.arange(cnt), pa.int64()))
            seq += cnt
            extra.append(src)
        src = part.take(pa.array(rng.choice(part.num_rows, n_null, replace=False)))
        src = src.set_column(3, "ts", pa.nulls(n_null, pa.int64()))
        src = src.set_column(5, "ingest_seq", pa.array(seq + np.arange(n_null), pa.int64()))
        seq += n_null
        extra.append(src)
        late, early, null = late + n_late, early + n_early, null + n_null
        full = pa.concat_tables([part, *extra])
        batches.append(full.take(pa.array(rng.permutation(full.num_rows))))
        nows.append(int(now))
    valid = pa.concat_tables(valid_parts)
    planted = {"late": late, "early": early, "invalid": null}
    return IngestPlan(batches, nows, valid, committed, planted, h_end)


def _last_writes(t: pa.Table) -> pa.Table:
    """Keep the highest-ingest_seq row per (metric, host, ts)."""
    order = np.lexsort((-t["ingest_seq"].to_numpy(), t["ts"].to_numpy(),
                        np.array(t["host"].to_pylist()), np.array(t["metric"].to_pylist())))
    t = t.take(pa.array(order))
    m, h, ts = (np.array(t[c].to_pylist()) for c in ("metric", "host", "ts"))
    keep = np.ones(len(ts), bool)
    keep[1:] = ~((m[1:] == m[:-1]) & (h[1:] == h[:-1]) & (ts[1:] == ts[:-1]))
    return t.filter(pa.array(keep))


# ------------------------------------------------------------------ corpus

_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def corpus(seed: int) -> pa.Table:
    """A documents table shaped like the sf0.1 fixture: 30-word
    vocabulary, 8-96 words per doc, 5 languages, 20 sources, a few
    exact duplicate texts and rare ``dup`` marker tokens."""
    rng = np.random.default_rng([seed, 4])
    n = CORPUS["docs"]
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 97))
        words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), k)]
        if rng.random() < 0.05:
            words[int(rng.integers(0, k))] = "dup"
        texts.append(" ".join(words))
    for i in rng.choice(n, CORPUS["dup_docs"], replace=False):
        texts[i] = texts[(i + 1) % n]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def n_buckets(start: int, end: int, interval: int) -> int:
    return math.ceil((end - start) / interval)
