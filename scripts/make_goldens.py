"""Regenerate the committed report snapshot goldens from the t1 corpus
(the analog of the reference's `stats/src/test/update` script)."""

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from stats_spark.session import get_spark            # noqa: E402
from stats_spark.datagen import corpus               # noqa: E402
from stats_spark.operators.parse import parse_battles  # noqa: E402
from stats_spark.plans import pipeline, reports      # noqa: E402
from stats_spark.sources import tables               # noqa: E402

GOLDEN_DIR = os.path.join(ROOT, "tests", "golden")


def main():
    spark = get_spark("make-goldens", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = corpus.ensure_corpus("t1")
    battles = parse_battles(tables.load_transcripts(spark, t1),
                            tables.load_conversations(spark, t1))
    frames = pipeline.build_frames(spark, battles)
    out = "/tmp/stats_spark_goldens"
    shutil.rmtree(out, ignore_errors=True)
    reports.write_reports(spark, frames, out)
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    for rel in ["gen9ou-1500.txt", "leads/gen9ou-1500.txt",
                "metagame/gen9ou-1500.txt"]:
        src = os.path.join(out, rel)
        dst = os.path.join(GOLDEN_DIR, rel.replace("/", "__"))
        shutil.copyfile(src, dst)
        print("wrote", dst)


if __name__ == "__main__":
    main()
