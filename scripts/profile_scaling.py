"""One-shot phase-level profile of the scaling worker: run the full
pipeline at two executor counts ONCE each and print the per-phase
metrics (parse / cache / sinks + per-sink seconds) so the non-scaling
(fixed) component can be located.  Dev tool — BENCH.md evidence comes
from scripts/scaling.py.

Usage: python scripts/profile_scaling.py [n_convs] [execs...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import scripts.scaling as scaling


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    levels = [int(a) for a in sys.argv[2:]] or [1, 4]

    from stats_spark.session import get_spark
    from stats_spark.datagen import corpus
    corpus.TIERS["bench"] = n_convs
    spark = get_spark("profile-gen", cores=32)
    spark.sparkContext.setLogLevel("ERROR")
    corpus.ensure_corpus("bench", spark=spark)
    spark.stop()

    for n_exec in levels:
        out = subprocess.run(
            [sys.executable, "-c", scaling.WORKER, str(n_exec),
             str(n_convs)],
            capture_output=True, text=True, timeout=7200)
        lines = [ln for ln in out.stdout.splitlines()
                 if ln.startswith("{")]
        if not lines:
            print(f"exec={n_exec} FAILED:\n{out.stdout[-2000:]}\n"
                  f"{out.stderr[-2000:]}")
            continue
        print(json.dumps(json.loads(lines[-1]), indent=1))


if __name__ == "__main__":
    main()
