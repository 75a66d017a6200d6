"""Benchmark entry point.

    python3 perfbench/run.py --workload dash_small --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
the seed, runs it against the package's public API for ``--seconds``,
checks every answer, and prints one JSON object as the last line of
stdout: the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: timing percentiles tried for the tail, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
#: the JVM heap; the machine is shared, so keep it small
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

_ALL = ("wall_ms", "driver_ms", "jobs", "stages", "single_task_stages", "tasks", "failed_tasks",
        "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_records", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
_STAGE = ("wall_ms", "driver_ms", "stages", "tasks", "executor_run_ms")
_BUILD = ("wall_ms", "stages", "executor_run_ms")
_JOB = ("wall_ms", "driver_ms", "stages", "single_task_stages", "tasks", "executor_run_ms",
        "shuffle_write_bytes", "spill_bytes")
#: span name → the fields reported for it in the traced run
SPAN_FIELDS = {
    "session.get_spark": ("wall_ms",),
    "model.normalize_points": ("wall_ms",),
    "sources.batch.write_metrics_store": ("wall_ms", "driver_ms", "stages", "tasks", "executor_run_ms",
                                          "shuffle_write_bytes", "spill_bytes"),
    "operators.meta.build_series_dim": _BUILD,
    "operators.rollup.build_rollup": _BUILD,
    "operators.rollup.build_rollup_histogram": _BUILD,
    "bench.query": ("wall_ms", "self_ms"),
    "plans.opentsdb_json.translate_query": ("wall_ms",),
    "plans.query.run_metric_query": ("wall_ms", "jobs"),
    "plans.opentsdb_json.render_v3_response": _ALL + ("result_rows",),
    "operators.meta.distinct_tag_values": _STAGE,
    "operators.meta.cardinality": _STAGE,
    "streaming.ingest.process_batch": _ALL,
    **{f"queries.{j}": _JOB for j in ("pipeline_ccnet_curate", "text_lang_id_softmax", "dedup_suffix_spans")},
}
#: the spans that return rows to a dashboard
QUERY_SPANS = ("plans.opentsdb_json.render_v3_response", "operators.meta.distinct_tag_values",
               "operators.meta.cardinality")
#: derived per-layer figures every workload reports (0 where it has none)
DERIVED = (
    "plans.query.preagg_served_ratio",
    "sources.rows_scanned_per_row_returned",
    "sources.bytes_per_point",
    "sources.files_per_segment",
    "streaming.ingest.pts_per_s",
    "streaming.ingest.dim_bytes_rewritten_per_batch",
    "streaming.ingest.dropped_late",
    "streaming.ingest.dropped_early",
    "streaming.ingest.dropped_invalid",
    "trace.latency_p50_ms",
)


def layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_bytes") or field == "dim_bytes_rewritten_per_batch":
        return "B"
    if field == "bytes_per_point":
        return "B/pt"
    if field == "pts_per_s":
        return "pts/s"
    if field in ("preagg_served_ratio", "rows_scanned_per_row_returned", "files_per_segment"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{span}.{f}" for span, fields in SPAN_FIELDS.items() for f in fields]
    return names + list(DERIVED)


# ------------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of the whole process tree (driver, JVM and
    Python workers), sampled every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in [me, *descendants(me)]))

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process this run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ------------------------------------------------------------------ statistics


def percentile(xs: list[float], p: float) -> float:
    s = sorted(xs)
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it; the
    maximum, labelled ``none``, when the run has too few samples."""
    for p in TAIL_PERCENTILES:
        if len(xs) * (1 - p / 100) >= 10:
            return f"p{p:g}", percentile(xs, p)
    return "none", max(xs)


# ------------------------------------------------------------------ main


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "opentsdb_aura_spark")):
        print(f"package opentsdb_aura_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(workloads.dumps(result))
    return 0


def run(args, work: str) -> dict:
    import workloads

    cpus = len(os.sched_getaffinity(0))
    for sub in ("store", "local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    # the session is pinned from outside the package: get_spark and the
    # store root read these at import
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if args.trace:
        from tracing import eventlog_conf

        submit += eventlog_conf(os.path.join(work, "eventlog"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_STORE=os.path.join(work, "store"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    from tracing import NullTracer, Tracer

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        from opentsdb_aura_spark import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        if args.trace:
            tracer.spans.append({"id": "pb-session", "name": "session.get_spark", "parent": None,
                                 "start": time.time() - session_s, "end": time.time()})
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds, session_s, cpus)
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        stop_s = time.perf_counter() - t_stop

    lat = res.latencies_ms
    tail_p, tail_v = tail(lat)
    # the run's detail line: the tail needs ten samples beyond it, which
    # a run rarely has, and peak RSS swings with JVM heap growth, so
    # neither is an end-to-end metric; both are reported here
    print(workloads.dumps({"info": res.info, "samples": len(lat), "tail_percentile": tail_p,
                           "latency_tail_ms": tail_v, "peak_rss_mb": sampler.peak_kb / 1024,
                           "failed": res.failed, "attempted": res.attempted, "stop_s": stop_s,
                           "process_s": time.perf_counter() - T_START}))
    if args.trace:
        from tracing import per_call, read_eventlog, span_rows

        rows = span_rows(tracer.spans, read_eventlog(os.path.join(work, "eventlog")))
        metrics = {}
        for span, fields in SPAN_FIELDS.items():
            metrics.update(per_call(rows, span, fields))
        q = [r for r in rows if r["name"] in QUERY_SPANS]
        returned = sum(r.get("result_rows", 0) for r in q)
        scanned = sum(r["input_records"] for r in q)
        res.layer["sources.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
        # the tracing overhead is this minus latency_p50_ms of an untraced
        # run of the same seed: the event log is on for the whole session
        res.layer["trace.latency_p50_ms"] = statistics.median(lat)
        for name in DERIVED:
            metrics[name] = float(res.layer.get(name, 0.0))
        out = {k: {"value": metrics[k], "unit": layer_unit(k)} for k in per_layer_names()}
    else:
        values = {
            "setup_s": res.setup_s,
            "latency_p50_ms": statistics.median(lat),
            "throughput_per_s": res.throughput,
        }
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed, "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
