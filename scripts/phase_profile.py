"""Phase-instrumented pipeline run at one parallelism level.

Usage: python scripts/phase_profile.py <cores> <n_convs>
Prints PHASE lines (parse / cache / each sink solo).
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from stats_spark.session import get_spark                  # noqa: E402
from stats_spark.datagen import corpus                     # noqa: E402
from stats_spark.plans import pipeline                     # noqa: E402
from stats_spark.operators.parse import parse_battles      # noqa: E402
from stats_spark.sources import tables                     # noqa: E402


def main():
    cores, n_convs = int(sys.argv[1]), int(sys.argv[2])
    corpus.TIERS["bench"] = n_convs
    spark = get_spark(f"phase{cores}", cores=cores,
                      shuffle_partitions=max(16, cores * 4))
    spark.sparkContext.setLogLevel("ERROR")
    c = corpus.ensure_corpus("bench")
    tr, cv = tables.load_transcripts(spark, c), tables.load_conversations(spark, c)
    out = os.path.join(ROOT, "data", f"phase_{cores}")

    t0 = time.time()
    battles = parse_battles(tr, cv)
    n_out = max(8, spark.sparkContext.defaultParallelism // 2)
    (battles.repartition(n_out, "format", "conv_id")
     .write.mode("overwrite").partitionBy("format").parquet(out + "/battles"))
    print(f"PHASE parse {time.time()-t0:.1f}", flush=True)

    bat = spark.read.parquet(out + "/battles")
    t1 = time.time()
    # build_frames(cache=True) persists and counts every held frame
    frames = pipeline.build_frames(spark, bat, cache=True)
    print(f"PHASE cache {time.time()-t1:.1f}", flush=True)
    for k in ("_mons_w", "_sides_w", "_battles_w"):
        print(f"PHASE rows {k} {frames[k].count()}", flush=True)

    for s in pipeline.SINKS:
        t1 = time.time()
        df = frames[s]
        part = ("format", "cutoff") if "cutoff" in df.columns else ("format",)
        tables.write_routed(df, out, s, partition_cols=part)
        print(f"PHASE sink {s} {time.time()-t1:.1f}", flush=True)
    print(f"PHASE total {time.time()-t0:.1f}", flush=True)


if __name__ == "__main__":
    main()
