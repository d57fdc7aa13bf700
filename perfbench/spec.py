"""What the benchmark measures: workloads, metrics, units and bounds.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/run.py --write-manifest``), so the two cannot drift.
"""

from __future__ import annotations

import json
import os

# The benchmark command.  The settings ride on the command line so
# BENCHMARK.json records them: Spark runs on local[<nproc>] with as many
# shuffle partitions as cores, the driver heap stays far below physical
# RAM, and Spark's local dir lives under the benchmark's own work dir.
# The heap cap also steadies peak_rss_mb: with a 3g cap, G1 grew the
# heap past 2 GB in some runs on a contended host and not in others.
COMMAND = ["python3", "perfbench/run.py",
           "--cores", "nproc", "--driver-mem", "1536m",
           "--work-dir", ".perfbench_work"]

PATHS = ["perfbench"]

RUN_SECONDS = 5

# conversations in the generated corpus (same size for every workload,
# so one seed's corpus is generated once and shared)
CORPUS_CONVS = 400
SMOKE_CONVS = 40

# every workload the benchmark can run; ``name -> why``
WORKLOADS = {
    "reaggregate": "run_pipeline resume=True, materialize=stage over a "
                   "battles checkpoint, usage and battle_counts reports: "
                   "parse idle, enrich and aggregate do the work",
    "ingest": "the month's two raw-transcript jobs: run_pipeline's parse "
              "FSM and battles checkpoint, then the anonymized release "
              "(per-line rewrite, write, leak check)",
    "cold_month": "run_pipeline from raw transcripts to the battles "
                  "checkpoint, 11 routed sinks and rejects (cache "
                  "materialization): the whole monthly stats job",
    "anon_release": "sample public conversations, anonymize, write and "
                    "leak-verify the release: per-line Python rewrite "
                    "plus a transcript-sized write, no aggregate",
}

# the workloads BENCHMARK.json lists; between them they run every layer.
# cold_month and anon_release run by hand; see README.md for why
MANIFEST_WORKLOADS = ["reaggregate", "ingest"]

# end-to-end metrics: name -> (unit, better, bound).  setup_s and job_s
# are wall times with the hypervisor's stolen CPU share taken out (see
# README.md).  Every bound is the largest allowed: on a shared 4-vCPU
# virtual machine the hypervisor took 4-45% of the vCPUs' time from one
# minute to the next
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "job_s": ("s", "lower", 0.25),
    "turns_per_s": ("1/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

# per-layer metrics: name -> (unit, better, end-to-end metric it moves)
PER_LAYER = {
    "session.jvm_start_s": ("s", "lower", "setup_s on all workloads"),
    "session.gc_s": ("s", "lower", "job_s, peak_rss_mb on all workloads"),
    "sources.scan_s": ("s", "lower", "job_s on ingest, cold_month"),
    "sources.read_mb": ("MB", "lower", "job_s on ingest, cold_month"),
    "sources.write_s": ("s", "lower",
                        "job_s on ingest (release); reaggregate via staging"),
    "sources.write_mb": ("MB", "lower", "job_s on ingest"),
    "sources.files_written": ("count", "lower", "job_s on ingest"),
    "sources.lineage_commits": ("count", "lower",
                                "job_s on reaggregate, cold_month"),
    "parse.s": ("s", "lower", "turns_per_s on ingest, cold_month"),
    "parse.task_s": ("s", "lower", "turns_per_s on ingest, cold_month"),
    "parse.shuffle_mb": ("MB", "lower", "turns_per_s on ingest, cold_month"),
    "parse.task_skew": ("ratio", "lower", "turns_per_s on ingest, cold_month"),
    "parse.battles": ("count", "higher", "output check on ingest, cold_month"),
    "parse.rejects": ("count", "lower", "output check on ingest, cold_month"),
    "enrich.s": ("s", "lower", "job_s on reaggregate, cold_month"),
    "enrich.task_s": ("s", "lower", "job_s on reaggregate, cold_month"),
    "enrich.mon_rows": ("count", "higher", "work done by enrich"),
    "aggregate.s": ("s", "lower", "job_s on reaggregate, cold_month"),
    "aggregate.task_s": ("s", "lower", "job_s on reaggregate, cold_month"),
    "aggregate.shuffle_mb": ("MB", "lower",
                             "job_s on reaggregate, cold_month"),
    "aggregate.spill_mb": ("MB", "lower", "job_s, peak_rss_mb"),
    "aggregate.task_skew": ("ratio", "lower",
                            "job_s on reaggregate, cold_month"),
    "aggregate.rows_out": ("count", "higher", "work done by aggregate"),
    "pipeline.checkpoint_s": ("s", "lower", "job_s on ingest, cold_month"),
    "pipeline.materialize_s": ("s", "lower",
                               "job_s on cold_month, reaggregate"),
    "pipeline.sink_pool_s": ("s", "lower",
                             "job_s on cold_month, reaggregate"),
    "pipeline.core_busy": ("ratio", "higher",
                           "job_s on cold_month, reaggregate"),
    "anonymize.s": ("s", "lower", "job_s on ingest, anon_release only"),
    "anonymize.verify_s": ("s", "lower",
                           "job_s on ingest, anon_release only"),
    "anonymize.lines_in": ("count", "higher", "work done by anonymize"),
    "anonymize.lines_out": ("count", "higher", "work done by anonymize"),
    "anonymize.leaks": ("count", "lower", "must be 0"),
    "trace.job_s": ("s", "lower", "traced job wall time"),
    "trace.overhead_s": ("s", "lower",
                         "traced job_s minus untraced job_s"),
    "failed_ratio": ("ratio", "lower", "jobs failed / jobs attempted"),
}


def manifest() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": WORKLOADS[w]}
                      for w in MANIFEST_WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, (u, b, bd) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b, _moves) in PER_LAYER.items()],
    }


def write_manifest(root: str) -> str:
    path = os.path.join(root, "BENCHMARK.json")
    with open(path, "w") as f:
        json.dump(manifest(), f, indent=2)
        f.write("\n")
    return path
