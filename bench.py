"""Benchmark harness (driver contract).

Runs the headline parse→enrich→route→aggregate pipeline over the
deterministic bench transcript corpus plus representative operator
queries at $SPARK_GRAFT_SF_DIR, on local[$SPARK_GRAFT_CPUS].  Prints
ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "turns": N, "turns_per_sec": T, "cpus": C}

Knobs:
  SPARK_GRAFT_SF_DIR      default /root/testdata/sf0.1
  SPARK_GRAFT_CPUS        default 32
  STATS_SPARK_BENCH_CONVS bench corpus size (default 200_000 convs)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _wait_for_scaling_protocol(max_wait_s: float = 1800.0) -> None:
    """If the scaling-evidence protocol (scripts/scaling.py) is mid-LEG,
    wait for it rather than measuring two Spark jobs fighting over the
    same cores — both records would be garbage.  A protocol that is
    merely probe-waiting for a clean window (its sentinel costs a few
    CPU-seconds a minute, and the probe correctly reads the bench as a
    dirty window so no leg launches under us) is not worth waiting on.
    Notes go to stderr; stdout stays the single JSON line."""

    def scan():
        coordinator = leg = None
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == os.getpid():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read().decode(errors="replace")
            except OSError:
                continue
            if "scripts/scaling.py" in cmd:
                coordinator = int(pid)
            # the measured-leg worker is `python -c <WORKER>` whose
            # source names its output dir scale_out_{cores}
            elif "scale_out_" in cmd:
                leg = int(pid)
        return coordinator, leg

    t0 = time.time()
    coordinator, leg = scan()
    while leg is not None and time.time() - t0 < max_wait_s:
        print(f"bench: scaling-protocol leg (pid {leg}) is mid-run — "
              "waiting so neither measurement is polluted", file=sys.stderr)
        time.sleep(30)
        coordinator, leg = scan()
    if leg is not None:
        print(f"bench: scaling leg still running after "
              f"{max_wait_s:.0f}s — proceeding anyway", file=sys.stderr)
    elif coordinator is not None:
        print(f"bench: scaling protocol (pid {coordinator}) is probe-"
              "waiting, not mid-leg — proceeding", file=sys.stderr)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("STATS_SPARK_BENCH_CONVS", "200000"))
    _wait_for_scaling_protocol()

    from stats_spark.session import get_spark
    from stats_spark.datagen import corpus, dims

    corpus.TIERS["bench"] = n_convs
    spark = get_spark("stats_spark_bench", cores=cpus,
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    # one-time corpus generation is NOT part of the measured time
    c = corpus.ensure_corpus("bench", spark=spark)

    from stats_spark.sources import tables
    n_turns = tables.load_transcripts(spark, c).count()

    timings: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # headline: the full routed pipeline over the bench corpus.
    # Best-of-2: identical runs vary ±30% on this shared host (see
    # BENCH.md interference forensics), so a single sample measures
    # the window, not the code.  Both samples are disclosed.
    from stats_spark.plans import pipeline
    out_dir = os.path.join(corpus.corpus_dir("bench"), "out")
    pipe_samples = []
    for _ in range(2):
        t0 = time.time()
        pipeline.run_pipeline(spark, c, out_dir, resume=False)
        pipe_samples.append(round(time.time() - t0, 3))
    timings["pipeline_total"] = min(pipe_samples)

    # S8/A14 round-trip at bench scale: encode the parsed battles to
    # the fixed-width `.db`, then the distributed fixed-width scan +
    # Binary.Stats aggregation reads it back
    def bench_binary_db():
        from stats_spark.operators import binary_db as B
        b = (spark.read.parquet(os.path.join(out_dir, "battles"))
             .filter("error IS NULL"))
        db_dir = os.path.join(corpus.corpus_dir("bench"), "db")
        B.write_db(B.encode_logs(b, gen=1), db_dir, gen=1, n_files=8)
        return B.stats_from_db(spark, db_dir, gen=1,
                               cutoff=1500)["usage"].count()

    timed("binary_db_roundtrip", bench_binary_db)

    # representative operator queries at the driver SF tables
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py"))
    e = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(e)
    for q in ["q1_pricing_summary", "q3_shipping_priority",
              "q_events_sessions", "doc_minhash_lsh", "doc_simhash",
              "emb_cosine_topk"]:
        fn = e.queries()[q]
        timed(q, lambda fn=fn: fn(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    tput = round(n_turns / timings["pipeline_total"], 1)
    print(json.dumps({
        "metric": "parse_enrich_route_aggregate_plus_operator_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("/")[-1],
        "turns": n_turns,
        "turns_per_sec": tput,
        "cpus": cpus,
        "bench_convs": n_convs,
        "pipeline_samples": pipe_samples,
    }))


if __name__ == "__main__":
    main()
