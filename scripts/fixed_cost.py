"""Decompose the pipeline's fixed (non-scaling) cost.

Runs the identical run_pipeline job at one parallelism level in THIS
process and prints the per-phase metrics run_pipeline already returns
(parse / staging / per-sink seconds).  Run it once at 2 and once at 8
cores on the same pre-generated corpus; the per-phase deltas separate
parallel work (shrinks ~4x) from fixed cost (doesn't).

Usage: python scripts/fixed_cost.py <cores> <n_convs> [materialize]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main():
    cores, n_convs = int(sys.argv[1]), int(sys.argv[2])
    mat = sys.argv[3] if len(sys.argv) > 3 else "stage"
    from stats_spark.session import get_spark
    from stats_spark.datagen import corpus
    from stats_spark.plans import pipeline

    corpus.TIERS["bench"] = n_convs
    t_jvm = time.time()
    spark = get_spark(f"fixedcost-{cores}", cores=cores,
                      shuffle_partitions=max(16, cores * 4))
    spark.sparkContext.setLogLevel("ERROR")
    jvm_s = round(time.time() - t_jvm, 2)
    c = corpus.ensure_corpus("bench", spark=spark)
    out = os.path.join(corpus.corpus_dir("bench"), f"fc_out_{cores}")
    t0 = time.time()
    m = pipeline.run_pipeline(spark, c, out, materialize=mat)
    total = round(time.time() - t0, 2)
    print(json.dumps(dict(
        cores=cores, n_convs=n_convs, materialize=mat,
        jvm_start=jvm_s, total=total,
        parse=m["parse_seconds"], stage=m["cache_seconds"],
        sinks_wall=m["sink_seconds"],
        per_sink={s["partition"]: s["seconds"] for s in m["sinks"]})))


if __name__ == "__main__":
    main()
