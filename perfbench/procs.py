"""Child-process lifetime: launch in a fresh session, sample the tree's
memory, and make sure nothing it started outlives it.

A workload's processes are the child itself, the Spark JVM it launches
and the JVM's Python workers.  ``pyspark.daemon`` moves itself into a
process group of its own, so the tree is tracked by *session* id: the
child starts a new session and every descendant stays in it.  The
benchmark registers as a child subreaper, so descendants orphaned by a
killed child are re-parented here and reaped instead of lingering as
zombies.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

_PR_SET_CHILD_SUBREAPER = 36


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole machine so far, from
    /proc/stat: busy is user + nice + system + irq + softirq, stolen is
    the time the hypervisor ran something else while a vCPU had work."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def stolen_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the vCPUs' runnable time the hypervisor stole between
    two ``cpu_ticks`` readings."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        # fields: state ppid pgrp session ...
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def resident_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` as the sum of their proportional set
    sizes: a page shared by the forked Python workers counts once in
    total, not once per worker."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1e3


def reap() -> None:
    """Collect any exited child, including re-parented orphans."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_session(sid: int, grace_s: float = 0.0) -> None:
    """Kill every process of session ``sid`` and wait until none is left."""
    deadline = time.monotonic() + grace_s
    while session_pids(sid) and time.monotonic() < deadline:
        reap()
        time.sleep(0.1)
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        reap()


class Child:
    """A command run in its own session, with peak-RSS sampling of every
    process in that session."""

    def __init__(self, argv: list[str], env: dict, log_path: str):
        self.log = open(log_path, "wb")
        self.launch_ts = time.time()
        self.launch_ticks = cpu_ticks()
        self.proc = subprocess.Popen(argv, env=env, stdout=self.log,
                                     stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL,
                                     start_new_session=True)
        self.sid = self.proc.pid
        self.peak_rss_mb = 0.0

    def wait(self, timeout_s: float, poll_s: float = 0.2) -> int | None:
        """Wait for the child to exit, sampling memory; on timeout kill
        the whole session and return None."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            self.peak_rss_mb = max(self.peak_rss_mb,
                                   resident_mb(session_pids(self.sid)))
            rc = self.proc.poll()
            if rc is not None:
                return rc
            time.sleep(poll_s)
        return None

    def close(self) -> None:
        """Stop everything the child started.  The child's own shutdown
        stops Spark and waits for the JVM; whatever is still alive a few
        seconds after it exits is killed."""
        if self.proc.poll() is None:
            kill_session(self.sid)
        else:
            kill_session(self.sid, grace_s=5.0)
        self.proc.wait()
        reap()
        self.log.close()
