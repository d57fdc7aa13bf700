"""Repository benchmark: parse → enrich → route → aggregate on local Spark.

    python3 perfbench/run.py --workload reaggregate --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke            # tiny corpus, every workload
    python3 perfbench/run.py --write-manifest   # regenerate BENCHMARK.json

Run from the repository root.  Each run generates (or reuses) the corpus
for its seed, then runs the workload in a child process in its own
session and prints every metric with its unit.  The last line of stdout
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procs, spec  # noqa: E402

RUN_BUDGET_S = 170    # BENCHMARK.json workloads: every child is killed
                      # by then, so a run ends within 180 s
MANUAL_BUDGET_S = 900  # cold_month / anon_release, run by hand


class Interrupted(Exception):
    pass


def _on_signal(signum, _frame):
    raise Interrupted(f"signal {signum}")


def cores_arg(value: str) -> int:
    if value == "nproc":
        return len(os.sched_getaffinity(0))
    return int(value)


def child_env(a, run_dir: str, trace: bool) -> dict:
    """Environment of a worker: the session hooks plus temp dirs inside
    the run directory, so even a killed JVM leaves nothing elsewhere."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    env["STATS_SPARK_DRIVER_MEM"] = a.driver_mem
    env["STATS_SPARK_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(a.cores)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # java.io.tmpdir holds Spark's artifact dirs and native-library
    # copies; hsperfdata would go to /tmp regardless of it
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a cluster-manager local dir would override STATS_SPARK_LOCAL_DIR
    env.pop("SPARK_LOCAL_DIRS", None)
    env.pop("STATS_SPARK_EVLOG", None)
    if trace:
        env["STATS_SPARK_EVLOG"] = os.path.join(run_dir, "evlog")
    return env


def run_child(argv: list[str], env: dict, run_dir: str, timeout_s: float,
              tag: str) -> tuple[dict, procs.Child]:
    """Run one worker process to completion; returns its result JSON."""
    child = procs.Child(argv, env, os.path.join(run_dir, f"{tag}.log"))
    try:
        rc = child.wait(timeout_s)
    finally:
        child.close()
    result_path = os.path.join(run_dir, "result.json")
    result = None
    if rc == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
        os.remove(result_path)
    if result is None or result.get("samples") == [] \
            or result.get("traced") == []:
        with open(os.path.join(run_dir, f"{tag}.log"), "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        why = ("timed out" if rc is None else f"exited with {rc}"
               if result is None else "failed every job")
        raise RuntimeError(f"{tag} {why}:\n{tail}")
    return result, child


def run_workload(a, workload: str, seed: int, seconds: float,
                 trace: bool, n_convs: int) -> dict:
    from perfbench import loadgen

    work = os.path.abspath(a.work_dir)
    deadline = time.monotonic() + (
        RUN_BUDGET_S if workload in spec.MANIFEST_WORKLOADS
        else MANUAL_BUDGET_S)
    t0 = time.monotonic()
    corpus = loadgen.ensure_corpus(work, seed, n_convs)
    timeline = {"corpus_s": time.monotonic() - t0}
    run_dir = os.path.join(work, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    info_path = os.path.join(run_dir, "corpus.json")
    with open(info_path, "w") as f:
        json.dump(corpus, f)
    worker = [sys.executable, os.path.join(HERE, "worker.py"),
              "--workload", workload, "--corpus-info", info_path,
              "--run-dir", run_dir, "--cores", str(a.cores)]
    try:
        t0 = time.monotonic()
        r, child = run_child(
            worker + ["--seconds", str(seconds), "--trace", str(int(trace))],
            child_env(a, run_dir, trace), run_dir,
            deadline - time.monotonic(), "run")
        timeline["workload_s"] = time.monotonic() - t0
        timeline.update(r.pop("timeline"))
        wall = r["ready_ts"] - child.launch_ts
        stolen = procs.stolen_share(child.launch_ticks, r["ready_ticks"])
        r.update(setup_wall_s=wall, setup_stolen=stolen,
                 setup_s=wall * (1.0 - stolen),
                 peak_rss_mb=child.peak_rss_mb,
                 corpus=corpus, timeline=timeline)
        if trace:
            traces_dir = os.path.join(work, "traces")
            os.makedirs(traces_dir, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(traces_dir,
                                     f"{workload}-seed{seed}.json"))
        return r
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def metrics_of(r: dict, trace: bool) -> dict:
    job_s = statistics.median(r["samples"])
    if not trace:
        vals = {
            "setup_s": r["setup_s"],
            "job_s": job_s,
            "turns_per_s": r["corpus"]["n_turns"] / job_s,
            "peak_rss_mb": r["peak_rss_mb"],
        }
        return {n: {"value": vals[n], "unit": spec.END_TO_END[n][0]}
                for n in spec.END_TO_END}
    layers = dict(r["layers"])
    layers["session.jvm_start_s"] = r["jvm_start_s"]
    layers["trace.overhead_s"] = (statistics.median(r["traced"])
                                  - statistics.median(r["walls"]))
    layers["failed_ratio"] = r["failed"] / r["attempted"]
    return {n: {"value": float(layers.get(n, 0.0)),
                "unit": spec.PER_LAYER[n][0]}
            for n in spec.PER_LAYER}


def report(workload: str, seed: int, trace: bool, r: dict) -> dict:
    """Print the human-readable lines; return the result object."""
    m = metrics_of(r, trace)
    c = r["corpus"]
    print(f"# workload={workload} seed={seed} trace={int(trace)} "
          f"conversations={c['n_convs']} turns={c['n_turns']} "
          f"datagen={c['datagen']}")
    print(f"# jobs: {len(r['samples'])} timed samples, "
          f"{r['failed']} of {r['attempted']} failed "
          f"(failed_ratio {r['failed'] / r['attempted']:.3f})")
    print("# wall: " + ", ".join(f"{k} {v:.1f}"
                                 for k, v in r["timeline"].items()))
    print(f"# setup: wall_s {r['setup_wall_s']:.3f}, "
          f"stolen {r['setup_stolen']:.3f}")
    for i, j in enumerate(r.get("jobs") or []):
        print(f"# job {i}: " + ", ".join(
            f"{k} {v:.3f}" for k, v in j.items()))
    for name, v in m.items():
        print(f"{name} {v['value']:.6g} {v['unit']}")
    return {"correct": r["failed"] == 0, "attempted": r["attempted"],
            "failed": r["failed"], "metrics": m}


def smoke(a) -> int:
    """Every workload on a tiny corpus, untraced and traced; asserts that
    each metric is printed with its unit."""
    for workload in spec.WORKLOADS:
        for trace in (False, True):
            r = run_workload(a, workload, a.seed, 1, trace,
                             spec.SMOKE_CONVS)
            out = report(workload, a.seed, trace, r)
            want = spec.PER_LAYER if trace else spec.END_TO_END
            for name, (unit, *_rest) in want.items():
                got = out["metrics"].get(name)
                if got is None or got["unit"] != unit:
                    raise SystemExit(f"smoke: {name} missing or unitless")
            if not out["correct"]:
                raise SystemExit(f"smoke: {workload} failed its checks")
            print(json.dumps(out), flush=True)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(spec.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=cores_arg, default="nproc")
    p.add_argument("--driver-mem", default="1536m")
    p.add_argument("--work-dir", default=".perfbench_work")
    p.add_argument("--convs", type=int, default=spec.CORPUS_CONVS)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--write-manifest", action="store_true")
    a = p.parse_args(argv)

    if a.write_manifest:
        print(spec.write_manifest(ROOT))
        return 0
    try:
        import stats_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        if a.smoke:
            return smoke(a)
        if a.workload is None:
            p.error("--workload is required")
        r = run_workload(a, a.workload, a.seed, a.seconds, bool(a.trace),
                         a.convs)
        out = report(a.workload, a.seed, bool(a.trace), r)
    except (Interrupted, RuntimeError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
