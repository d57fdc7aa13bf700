"""Spans around layer calls, joined with Spark's event log.

A span is recorded in the benchmark's own code around each call into a
layer's public function.  While a span is open its name is the Spark job
description, so every job (and through it every stage and task) in the
event log maps back to the span that caused it.  Jobs submitted from
threads the library starts carry no description; those map to the
innermost span open when they were submitted, which is exact because
the traced run drives its calls one after another.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager

_DESC = "perfbench-span:"


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out at the end."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, trace: int):
        sid = len(self.spans)
        rec = dict(id=sid, name=name, trace=trace,
                   parent=self._open[-1] if self._open else None,
                   start=time.time(), end=None)
        self.spans.append(rec)
        self._open.append(sid)
        self.sc.setJobDescription(f"{_DESC}{sid}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            parent = self._open[-1] if self._open else None
            self.sc.setJobDescription(
                None if parent is None
                else f"{_DESC}{parent}:{self.spans[parent]['name']}")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(evlog_dir: str) -> dict:
    """Per-job task totals from a (finished, uncompressed) event log."""
    jobs, stage_job, stage_tasks = {}, {}, {}
    for path in glob.glob(f"{evlog_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    span = (int(desc[len(_DESC):].split(":")[0])
                            if desc.startswith(_DESC) else None)
                    jobs[ev["Job ID"]] = dict(
                        submit=ev["Submission Time"] / 1000.0, span=span)
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    stage_tasks.setdefault(ev["Stage ID"], []).append(dict(
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        wall_s=(info.get("Finish Time", 0)
                                - info.get("Launch Time", 0)) / 1000.0,
                        read_b=(m.get("Input Metrics") or {}).get(
                            "Bytes Read", 0),
                        shuffle_b=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        spill_b=m.get("Disk Bytes Spilled", 0),
                    ))
    return dict(jobs=jobs, stage_job=stage_job, stage_tasks=stage_tasks)


def _innermost(spans: list[dict], ts: float) -> int | None:
    best = None
    for s in spans:
        if s["start"] <= ts <= s["end"]:
            if best is None or s["start"] >= spans[best]["start"]:
                best = s["id"]
    return best


def tasks_by_span(spans: list[dict], ev: dict) -> dict[int, dict]:
    """span id -> {stage id -> [task dicts]} for the jobs each span caused."""
    job_span = {}
    for jid, j in ev["jobs"].items():
        job_span[jid] = (j["span"] if j["span"] is not None
                         else _innermost(spans, j["submit"]))
    out: dict[int, dict] = {}
    for stage, tasks in ev["stage_tasks"].items():
        sid = job_span.get(ev["stage_job"].get(stage))
        if sid is not None:
            out.setdefault(sid, {})[stage] = tasks
    return out


def self_time(spans: list[dict], sid: int) -> float:
    s = spans[sid]
    kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == sid)
    return (s["end"] - s["start"]) - kids


def descendants(spans: list[dict], sid: int) -> list[int]:
    out, todo = [], [sid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo += [c["id"] for c in spans if c["parent"] == cur]
    return out


def skew(stages: dict) -> float:
    """max / median task wall time in the stage with the most task time."""
    if not stages:
        return 0.0
    heavy = max(stages.values(), key=lambda ts: sum(t["run_s"] for t in ts))
    walls = [t["wall_s"] for t in heavy]
    med = statistics.median(walls)
    return max(walls) / med if med > 0 else 0.0


def layer_totals(spans: list[dict], by_span: dict, trace: int,
                 name: str) -> dict:
    """Self time and task totals of every span called ``name`` in one
    traced job."""
    ids = [s["id"] for s in spans if s["trace"] == trace
           and s["name"] == name]
    stages = {}
    for sid in ids:
        stages.update(by_span.get(sid, {}))
    tasks = [t for ts in stages.values() for t in ts]
    return dict(
        self_s=sum(self_time(spans, sid) for sid in ids),
        wall_s=sum(spans[sid]["end"] - spans[sid]["start"] for sid in ids),
        task_s=sum(t["run_s"] for t in tasks),
        shuffle_mb=sum(t["shuffle_b"] for t in tasks) / 1e6,
        spill_mb=sum(t["spill_b"] for t in tasks) / 1e6,
        skew=skew(stages),
    )


def job_totals(spans: list[dict], by_span: dict, root: int) -> dict:
    """Task totals over everything one traced job (span ``root``) caused."""
    tasks = [t for sid in descendants(spans, root)
             for ts in by_span.get(sid, {}).values() for t in ts]
    return dict(
        task_s=sum(t["run_s"] for t in tasks),
        read_mb=sum(t["read_b"] for t in tasks) / 1e6,
    )
