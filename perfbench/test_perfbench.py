"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke test runs every workload (traced and untraced) on a tiny
corpus and takes several minutes; the others are quick or start one
short run each.  Every test that starts a run also checks that no
process the run started is still alive afterwards and that the run's
scratch directories are gone.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procs, spec, tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def survivors(work_dir: str) -> list[str]:
    """Processes whose environment points into ``work_dir`` — every
    process a run starts (worker, JVM, Python workers) inherits it."""
    needle = os.path.abspath(work_dir).encode()
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read()
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if needle in env and state != "Z":
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                found.append(f"{pid}: {f.read()[:120]!r}")
    return found


def bench(work_dir: str, *args: str, env=None, cwd=ROOT, **kw):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--work-dir", work_dir, *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          env=env, **kw)


def assert_clean(work_dir: str) -> None:
    assert survivors(work_dir) == []
    runs = os.path.join(work_dir, "runs")
    assert not os.path.exists(runs) or os.listdir(runs) == []


def test_manifest_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        m = json.load(f)
    assert m == spec.manifest()
    assert set(m) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 2 <= len(m["workloads"]) <= 8
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer")
             for x in m[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in m["workloads"])
    for x in m["end_to_end"] + m["per_layer"]:
        assert UNIT.match(x["unit"]) and x["better"] in ("lower", "higher")
    assert all(0 < x["bound"] <= 0.25 for x in m["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(x["bound"] for x in m["end_to_end"])} \
        in m["end_to_end"]
    assert all(w in spec.WORKLOADS for w in spec.MANIFEST_WORKLOADS)


def test_self_time_and_attribution():
    spans = [
        dict(id=0, name="job", trace=0, parent=None, start=0.0, end=10.0),
        dict(id=1, name="parse", trace=0, parent=0, start=1.0, end=4.0),
        dict(id=2, name="sources.write", trace=0, parent=1, start=3.0,
             end=4.0),
    ]
    assert tracing.self_time(spans, 0) == 7.0
    assert tracing.self_time(spans, 1) == 2.0
    task = dict(run_s=1.0, wall_s=1.0, read_b=0, shuffle_b=0, spill_b=0)
    ev = dict(
        # job 0 carries a description; job 1 (pool thread) does not and
        # maps to the innermost span open at its submission
        jobs={0: dict(submit=1.5, span=1), 1: dict(submit=3.5, span=None)},
        stage_job={10: 0, 11: 1},
        stage_tasks={10: [task, task], 11: [task]})
    by_span = tracing.tasks_by_span(spans, ev)
    assert set(by_span) == {1, 2}
    assert tracing.job_totals(spans, by_span, 0)["task_s"] == 3.0
    assert tracing.layer_totals(spans, by_span, 0, "parse")["task_s"] == 2.0


def test_without_the_program_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = bench(str(tmp_path / ".perfbench_work"), "--workload",
              spec.MANIFEST_WORKLOADS[0],
              "--seed", "1", "--seconds", "1", "--trace", "0",
              env=env, cwd=str(tmp_path), timeout=180)
    assert r.returncode != 0
    assert not r.stdout.strip().endswith("}")


def watch(p: subprocess.Popen, work_dir: str, until=None,
          timeout_s: float = 170) -> set[str]:
    """Poll the run's processes until it exits (or ``until(seen)``
    holds); returns every command line seen."""
    seen: set[str] = set()
    deadline = time.monotonic() + timeout_s
    while p.poll() is None and time.monotonic() < deadline:
        seen.update(s.split(": ", 1)[1] for s in survivors(work_dir))
        if until is not None and until(seen):
            break
        time.sleep(0.2)
    return seen


def python_workers(seen: set[str]) -> bool:
    return any("pyspark.daemon" in s for s in seen)


def test_run_that_raises_mid_job_leaves_nothing_running(tmp_path):
    # the hook raises between ingest's checkpoint job (whose parse stage
    # started pyspark.daemon and its Python workers) and its release job
    work = str(tmp_path / "work")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--work-dir", work,
           "--workload", "ingest", "--seed", "1", "--seconds", "1",
           "--convs", str(spec.SMOKE_CONVS)]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         env=dict(os.environ, PERFBENCH_FAIL_MID_JOB="1"))
    try:
        seen = watch(p, work)
        out, err = p.communicate(timeout=60)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    assert python_workers(seen), seen
    assert p.returncode != 0
    assert "PERFBENCH_FAIL_MID_JOB" in err
    assert not out.strip().endswith("}")
    assert_clean(work)


def test_interrupted_run_leaves_nothing_running(tmp_path):
    work = str(tmp_path / "work")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--work-dir", work,
           "--workload", "ingest", "--seed", "1", "--seconds", "1",
           "--convs", str(spec.SMOKE_CONVS)]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    try:
        # interrupt mid-job, once the JVM has started Python workers
        seen = watch(p, work, until=python_workers)
        assert python_workers(seen) and p.poll() is None, seen
        p.send_signal(signal.SIGINT)
        out, _err = p.communicate(timeout=60)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    assert p.returncode != 0
    assert not out.strip().endswith("}")
    assert_clean(work)


def test_prepared_checkpoint_matches_program_parse(tmp_path):
    # the corpus's checkpoint (reaggregate's input) is written from
    # parse_battle per conversation; it must hold what run_pipeline's
    # parse stage writes
    script = """
import sys
from perfbench import checks, loadgen
from stats_spark import session
from stats_spark.operators import parse
from stats_spark.sources import tables
work = sys.argv[1]
corpus = loadgen.ensure_corpus(work, 3, %d)
spark = session.get_spark("perfbench-test", cores=2, shuffle_partitions=2)
try:
    battles = parse.parse_battles(tables.load_transcripts(spark, corpus),
                                  tables.load_conversations(spark, corpus))
    battles.write.partitionBy("format").parquet(work + "/parsed")
    a = spark.read.parquet(corpus["battles"])
    b = spark.read.parquet(work + "/parsed")
    assert a.schema == b.schema, (a.schema, b.schema)
    assert checks.sink_digest(corpus["battles"]) == checks.sink_digest(
        work + "/parsed")
finally:
    spark.stop()
print("same")
""" % spec.SMOKE_CONVS
    work = str(tmp_path / "work")
    env = dict(os.environ, PYTHONPATH=ROOT, STATS_SPARK_DRIVER_MEM="1g",
               STATS_SPARK_LOCAL_DIR=os.path.join(work, "spark-local"),
               TMPDIR=str(tmp_path))
    p = subprocess.Popen([sys.executable, "-c", script, work], cwd=ROOT,
                         env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=300)
    finally:
        procs.kill_session(p.pid, grace_s=5.0)
        if p.poll() is None:
            p.wait()
    assert p.returncode == 0 and out.strip().endswith("same"), out[-3000:]


def test_smoke_every_workload_prints_every_metric(tmp_path):
    work = str(tmp_path / "work")
    r = bench(work, "--smoke", timeout=1800)
    assert r.returncode == 0, r.stderr[-3000:]
    results = [json.loads(line) for line in r.stdout.splitlines()
               if line.startswith("{")]
    assert len(results) == 2 * len(spec.WORKLOADS)
    for res in results:
        assert res["correct"] and res["failed"] == 0
        assert set(res["metrics"]) in (set(spec.END_TO_END),
                                       set(spec.PER_LAYER))
        for name, v in res["metrics"].items():
            assert f"\n{name} " in "\n" + r.stdout
            assert isinstance(v["value"], float) and v["unit"]
    by = {}
    for line in r.stdout.splitlines():
        if line.startswith("# workload="):
            head = dict(kv.split("=") for kv in line[2:].split())
        elif line.startswith("{"):
            by[(head["workload"], head["trace"])] = json.loads(line)
    layers = {w: {k: v["value"] for k, v in by[(w, "1")]["metrics"].items()}
              for w in spec.WORKLOADS}
    assert layers["reaggregate"]["parse.s"] == 0
    assert layers["anon_release"]["aggregate.s"] == 0
    assert layers["ingest"]["aggregate.s"] == 0
    for w in ("cold_month", "ingest"):
        assert layers[w]["parse.s"] > 0 and layers[w]["parse.battles"] > 0
    for w in ("cold_month", "reaggregate"):
        assert layers[w]["enrich.s"] > 0 and layers[w]["aggregate.s"] > 0
        assert layers[w]["enrich.mon_rows"] > 0
        assert layers[w]["pipeline.materialize_s"] > 0
        assert layers[w]["pipeline.sink_pool_s"] > 0
    for w in ("ingest", "anon_release"):
        assert layers[w]["anonymize.s"] > 0
        assert layers[w]["anonymize.lines_out"] > 0
    assert all(layers[w]["anonymize.leaks"] == 0 for w in layers)
    # every layer the benchmark names runs on a workload BENCHMARK.json
    # lists
    listed = [layers[w] for w in spec.MANIFEST_WORKLOADS]
    for name in ("parse.s", "enrich.s", "aggregate.s", "anonymize.s",
                 "pipeline.checkpoint_s", "pipeline.materialize_s",
                 "pipeline.sink_pool_s", "sources.scan_s",
                 "sources.write_s"):
        assert any(m[name] > 0 for m in listed), name
    assert_clean(work)
