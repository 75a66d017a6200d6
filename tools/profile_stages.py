"""Per-stage wall profiling for catalog queries via the Spark event log.

Usage: python tools/profile_stages.py <query> [query ...]

Runs each query end-to-end with the noop sink (bench methodology) in a
session with spark.eventLog enabled, then parses the event log and
prints, per query, total wall plus the top stages by task-time with
their callsites, and per run the codegen compile count and compile
time — the guide §1 "which stage is the time going to"
loop, workable headless (spark.ui is disabled in this sandbox).
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_stages.py <query> [query ...]")
        return
    log_dir = tempfile.mkdtemp(prefix="spark-events-")
    # the event log must be on when the JVM starts: pass it as submit
    # args before the engine's session is first built
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "pyspark-shell",
        ]
    )
    from opentsdb_aura_spark import get_spark

    spark = get_spark("profile_stages")
    from opentsdb_aura_spark.catalog import SPARK_QUERIES
    sc = spark.sparkContext
    # warmup (bench methodology: JVM + store + workers are warm)
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    spark.range(64, numPartitions=32).mapInPandas(lambda it: it, "id long").count()
    from opentsdb_aura_spark.sources.batch import ensure_event_store

    ensure_event_store(spark, SF_DIR)

    # the codegen compile layer shows in no stage metric: read the JVM's
    # running compile count and compile time (ns) around each run
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def run(fn) -> tuple[float, float, str]:
        n0, ns0 = compiles.getCount(), codegen.compileTime()
        t0 = time.time()
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        t1 = time.time()
        n, ms = compiles.getCount() - n0, (codegen.compileTime() - ns0) / 1e6
        return t0, t1, f"{t1 - t0:.2f}s, {n} codegen compiles in {ms:.0f} ms"

    marks = {}
    for name in names:
        fn = SPARK_QUERIES[name]
        sc.setJobDescription(f"PROFILE:{name}")
        t0, t1, run1 = run(fn)
        t2, t3, run2 = run(fn)  # second run, warm
        sc.setJobDescription(None)
        marks[name] = (t0, t1, t2, t3)
        print(f"== {name}: run1 {run1}  run2 {run2}", flush=True)

    app_id = sc.applicationId
    spark.stop()
    # Spark 4 event-log layout: <dir>/eventlog_v2_<appid>/events_*_<appid>[.zstd]
    paths = [os.path.join(log_dir, app_id)]
    sub = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(sub):
        paths = sorted(
            os.path.join(sub, p) for p in os.listdir(sub) if p.startswith("events_")
        )
    paths = [p for p in paths if os.path.exists(p)]
    jobs = {}  # job_id -> (desc, submit_ms)
    stage_job = {}  # stage_id -> job_id
    stages = []  # (desc, stage_id, wall_s, name, tasks, details_first_line)
    def lines():
        import subprocess
        for p in paths:
            if p.endswith(".zstd"):
                out = subprocess.run(
                    ["unzstd", "-c", p], capture_output=True, text=True
                ).stdout
                yield from out.splitlines()
            else:
                with open(p) as fh:
                    yield from fh

    if True:
        for line in lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description", "")
                jobs[ev["Job ID"]] = desc
                for si in ev.get("Stage IDs", []):
                    stage_job[si] = ev["Job ID"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                wall = (comp - sub) / 1000.0 if sub and comp else 0.0
                desc = jobs.get(stage_job.get(sid, -1), "")
                det = (si.get("Details") or "").split("\n")
                det = next(
                    (d for d in det if "opentsdb_aura_spark" in d), det[0] if det else ""
                )
                stages.append(
                    (desc, sid, wall, si.get("Stage Name", ""), si.get("Number of Tasks"), det.strip())
                )
    for name in names:
        t0, t1, t2, t3 = marks[name]
        mine = [s for s in stages if s[0] == f"PROFILE:{name}"]
        mine.sort(key=lambda s: -s[2])
        tot = sum(s[2] for s in mine)
        print(f"\n==== {name}  wall run1 {t1 - t0:.2f}s run2 {t3 - t2:.2f}s; "
              f"{len(mine)} stages, Σ stage wall {tot:.2f}s")
        for desc, sid, wall, sname, ntask, det in mine[:18]:
            print(f"  {wall:6.2f}s  stage {sid:>4} x{ntask:<3} {sname.split(' at ')[0][:40]:40} {det[:90]}")


if __name__ == "__main__":
    main()
