"""bench.py's scaling-protocol guard: wait only on a measured LEG
(worker process), never on a merely probe-waiting coordinator.

Fake processes are spawned with marker argv strings so the /proc
cmdline scan sees exactly the shapes the real protocol produces —
no Spark, no sleep-loops beyond a bounded wait.
"""

import importlib.util
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _spawn(marker: str, seconds: float) -> subprocess.Popen:
    # the marker rides in argv, so /proc/<pid>/cmdline contains it --
    # but the cmdline can still read empty for ~1 ms after Popen
    # returns (measured on a Linux 6.18 VM), and the guard's single
    # scan then misses the fake; wait until it is visible
    p = subprocess.Popen(
        [sys.executable, "-c", f"import time; time.sleep({seconds})",
         marker])
    deadline = time.time() + 10
    while time.time() < deadline:
        with open(f"/proc/{p.pid}/cmdline", "rb") as f:
            if marker.encode() in f.read():
                return p
        time.sleep(0.01)
    p.kill()
    p.wait()
    raise RuntimeError(f"fake process {marker!r} never became visible")


def test_no_protocol_returns_immediately():
    b = _load_bench()
    t0 = time.time()
    b._wait_for_scaling_protocol(max_wait_s=20)
    assert time.time() - t0 < 5


def test_probe_waiting_coordinator_does_not_block():
    b = _load_bench()
    p = _spawn("scripts/scaling.py", 30)
    try:
        t0 = time.time()
        b._wait_for_scaling_protocol(max_wait_s=60)
        assert time.time() - t0 < 10  # proceeded despite live coordinator
    finally:
        p.kill()
        p.wait()


def test_leg_worker_blocks_until_done():
    b = _load_bench()
    # worker cmdline names its scale_out_<cores> output dir
    p = _spawn("scale_out_8", 35)
    try:
        t0 = time.time()
        b._wait_for_scaling_protocol(max_wait_s=120)
        waited = time.time() - t0
        # guard polls every 30s: it must have waited at least one poll
        # for the 35s fake leg, then returned once the leg exited
        assert waited >= 30
        assert waited < 110
    finally:
        p.kill()
        p.wait()
