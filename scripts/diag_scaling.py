"""Diagnose the multi-executor slowdown: run the pipeline at one
executor count with Spark event logging on, then summarize per-stage
wall time, GC time, shuffle read/write, and spill from the event log.

Usage: python scripts/diag_scaling.py <n_exec> <n_convs> [exec_mem_mb]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EVDIR = "/tmp/spark-events"


def run(n_exec: int, n_convs: int, mem_mb: int, cores: int = 2) -> None:
    os.makedirs(EVDIR, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local"
    from pyspark.sql import SparkSession
    from stats_spark.session import SQL_CONF, LOCAL_SQL_CONF, EXECUTOR_JVM_FLAGS
    from stats_spark.datagen import corpus
    from stats_spark.plans import pipeline
    corpus.TIERS["bench"] = n_convs
    b = (SparkSession.builder
         .master(f"local-cluster[{n_exec},{cores},{mem_mb}]")
         .appName(f"diag-{n_exec}x")
         .config("spark.driver.memory", "8g")
         .config("spark.executor.memory", f"{mem_mb}m")
         .config("spark.local.dir", "/dev/shm/spark-local")
         .config("spark.executor.extraJavaOptions", EXECUTOR_JVM_FLAGS)
         .config("spark.ui.enabled", "false")
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.dir", EVDIR)
         .config("spark.executorEnv.PYTHONPATH", ROOT)
         .config("spark.sql.shuffle.partitions", "32"))
    for k, v in {**SQL_CONF, **LOCAL_SQL_CONF}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    c = corpus.ensure_corpus("bench")
    out = os.path.join(corpus.corpus_dir("bench"), f"diag_out_{n_exec}x")
    t0 = time.time()
    m = pipeline.run_pipeline(spark, c, out, materialize="stage")
    dt = time.time() - t0
    spark.stop()
    print(json.dumps(dict(n_exec=n_exec, seconds=round(dt, 2),
                          parse=m["parse_seconds"],
                          cache=m["cache_seconds"],
                          sink=m["sink_seconds"])))
    summarize(app_id)


def _event_lines(app_id: str):
    """Yield event-log JSON lines — handles both the flat v1 file and
    the rolling v2 dir layout (events_*.zstd)."""
    import io
    import subprocess
    flat = glob.glob(os.path.join(EVDIR, app_id) + "*")
    v2 = sorted(glob.glob(os.path.join(EVDIR, f"eventlog_v2_{app_id}",
                                       "events_*")))
    for fn in v2 or [f for f in flat if os.path.isfile(f)]:
        if fn.endswith(".zstd"):
            raw = subprocess.run(["zstd", "-dc", fn],
                                 capture_output=True).stdout
            yield from io.TextIOWrapper(io.BytesIO(raw), encoding="utf-8")
        else:
            with open(fn) as f:
                yield from f


def summarize(app_id: str) -> None:
    lines = list(_event_lines(app_id))
    if not lines:
        print("no event log for", app_id)
        return
    stages = {}
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = (si["Stage ID"], si["Stage Name"].split("\n")[0])
                dur = (si.get("Completion Time", 0)
                       - si.get("Submission Time", 0)) / 1000
                stages[key] = dict(dur=dur, tasks=si["Number of Tasks"],
                                   name=si["Stage Name"][:60])
            elif ev.get("Event") == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                for key in stages:
                    pass
                rec = stages.setdefault(
                    ("m", sid), dict(run=0.0, gc=0.0, fetch=0.0,
                                     spill=0, cpu=0.0,
                                     deser=0.0, ser=0.0, py=0.0))
                rec["run"] += tm.get("Executor Run Time", 0) / 1000
                rec["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
                rec["gc"] += tm.get("JVM GC Time", 0) / 1000
                rec["deser"] += tm.get("Executor Deserialize Time", 0) / 1000
                srm = tm.get("Shuffle Read Metrics") or {}
                rec["fetch"] += srm.get("Fetch Wait Time", 0) / 1000
                rec["spill"] += tm.get("Disk Bytes Spilled", 0)
    # top stages by wall duration with their aggregate task metrics
    named = [(k, v) for k, v in stages.items() if k[0] != "m"]
    named.sort(key=lambda kv: -kv[1]["dur"])
    print(f"{'stage':>5} {'wall':>8} {'tasks':>5} {'run':>8} {'cpu':>8} "
          f"{'gc':>7} {'fetch':>7} {'deser':>7} name")
    for (sid, _n), v in named[:25]:
        m = stages.get(("m", sid), {})
        print(f"{sid:>5} {v['dur']:>8.1f} {v['tasks']:>5} "
              f"{m.get('run', 0):>8.1f} {m.get('cpu', 0):>8.1f} "
              f"{m.get('gc', 0):>7.1f} {m.get('fetch', 0):>7.1f} "
              f"{m.get('deser', 0):>7.1f} {v['name'][:55]}")
    tot_run = sum(v.get("run", 0) for k, v in stages.items() if k[0] == "m")
    tot_cpu = sum(v.get("cpu", 0) for k, v in stages.items() if k[0] == "m")
    tot_gc = sum(v.get("gc", 0) for k, v in stages.items() if k[0] == "m")
    tot_fetch = sum(v.get("fetch", 0) for k, v in stages.items()
                    if k[0] == "m")
    print(f"TOTAL run={tot_run:.0f}s cpu={tot_cpu:.0f}s gc={tot_gc:.0f}s "
          f"fetch_wait={tot_fetch:.0f}s")


if __name__ == "__main__":
    n_exec = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    mem = int(sys.argv[3]) if len(sys.argv) > 3 else 24576
    cores = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    run(n_exec, n_convs, mem, cores)
