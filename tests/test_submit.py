"""The ship path: package the engine into a zip and run the full
pipeline through a REAL ``spark-submit --py-files`` launch (the north
rule's deployment contract), then resume idempotently."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(t1_dir, out, *extra):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4",
               STATS_SPARK_DRIVER_MEM="4g")
    # keep the test JVM's pyspark out of the way: spark-submit builds
    # its own classpath; the worker python is this interpreter
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run(
        [os.path.join(REPO, "scripts", "submit.sh"),
         "--corpus", t1_dir, "--out", out, *extra],
        capture_output=True, text=True, timeout=600, env=env)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines()
            if ln.startswith("JOB_METRICS ")]
    assert line, r.stdout[-2000:]
    return json.loads(line[0][len("JOB_METRICS "):])


def test_spark_submit_pipeline(t1, tmp_path):
    out = str(tmp_path / "out")
    metrics = _submit(t1["dir"], out)
    for sink in ("usage", "moveset", "leads"):
        assert os.path.exists(os.path.join(out, sink, "_SUCCESS")), sink
    by_sink = {m["partition"]: m for m in metrics["sinks"]}
    assert by_sink["usage"]["rows"] > 0
    assert not by_sink["usage"]["skipped"]

    # idempotent resume: the second launch must skip every committed
    # sink (lineage ledger + _SUCCESS markers) — the S5 resume story
    # through the very same deployment path
    m2 = _submit(t1["dir"], out, "--resume")
    assert all(m["skipped"] for m in m2["sinks"])


PROBE = """
from pyspark.errors.utils import is_debugging_enabled
from stats_spark.session import get_submit_spark
spark = get_submit_spark("probe")
print("PROBE", spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
      is_debugging_enabled())
spark.stop()
"""


@pytest.mark.parametrize("conf,want", [
    ((), "PROBE false False"),
    # an explicit --conf wins over the session default
    (("--conf", "spark.python.sql.dataFrameDebugging.enabled=true"),
     "PROBE true True"),
])
def test_submit_session_call_site_capture(tmp_path, conf, want):
    # a static conf: get_submit_spark must set it before the context
    # starts, or PySpark's process-wide cache of it keeps the default
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    r = subprocess.run(
        [os.environ.get("SPARK_SUBMIT", "spark-submit"),
         "--master", "local[1]", "--driver-memory", "1g",
         "--conf", "spark.ui.enabled=false", *conf, str(probe)],
        capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert want in r.stdout.splitlines(), r.stdout[-2000:]
