"""One workload in one process: set up Spark, warm up, time jobs, check
every job's output, stop Spark and wait for the JVM to exit.

Launched by ``run.py``, which owns the process tree and the work dirs;
writes its figures as JSON to ``<run-dir>/result.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

SALT = "perfbench-salt"

# the reports reaggregate writes: usage (the mons aggregation family) and
# battle_counts (the battles_w family, written while staging runs), the
# two DuckDB recomputes; rejects is always written
REAGG_SINKS = ["usage", "battle_counts"]


def jvm_gc_s(spark) -> float:
    """Collection time of every garbage collector of the (single, local
    mode) JVM so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def stop_spark(spark) -> None:
    """spark.stop(), then close the gateway and wait for the JVM: it exits
    when its stdin (our pipe) closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Workload:
    """Common shape: ``prepare`` (untimed), ``clear`` between jobs,
    ``job`` (timed), ``check`` on its result, ``cross_check`` once on the
    first good job's output, ``traced`` for the traced run's sequential
    drive."""

    # untimed jobs before the timed ones, so JIT and codegen caches are
    # warm, as they are over a production-sized job
    warmup_jobs = 1

    def __init__(self, spark, corpus: dict, out: str):
        self.spark = spark
        self.corpus = corpus
        self.out = out

    def prepare(self) -> None:
        pass

    def cross_check(self) -> list[str]:
        return []

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(self.out, ignore_errors=True)


def _write_sink(spark, tables, frames, out, sink, tracer, trace):
    """One sink the way run_pipeline writes it: aggregate (materialized
    in its own span), then route + lineage commit."""
    from perfbench import checks

    with tracer.span("aggregate", trace):
        df = frames[sink].cache()
        rows = df.count()
    with tracer.span("sources.write", trace):
        if sink == "rejects":
            path = os.path.join(out, "rejects")
            df.select("conv_id", "format", "day", "error", "ts") \
              .write.mode("overwrite").parquet(path)
        else:
            part = (("format", "cutoff") if "cutoff" in df.columns
                    else ("format",))
            path = tables.write_routed(df, out, sink, partition_cols=part)
        tables.write_lineage(spark, out, "stats_pipeline", [dict(
            partition=sink, path=path, rows=checks.parquet_rows(path),
            seconds=0.0, skipped=False)])
    df.unpersist()
    return rows


def write_checkpoint(spark, battles, path: str) -> None:
    """The battles checkpoint as run_pipeline writes it: 2x parallelism
    output tasks, partitioned on the routing key (traced drive only)."""
    n_out = max(8, spark.sparkContext.defaultParallelism * 2)
    (battles.repartition(n_out, "format", "conv_id")
     .write.mode("overwrite").partitionBy("format").parquet(path))


class Checkpoint(Workload):
    """Raw transcripts → parse FSM → battles checkpoint, through
    ``run_pipeline`` itself: its ledger already records every sink as
    committed, so a ``resume=True`` run with the checkpoint gone re-parses
    and writes the checkpoint, and skips every sink."""

    @property
    def bpath(self) -> str:
        return os.path.join(self.out, "battles")

    def prepare(self) -> None:
        from stats_spark.plans import pipeline
        from stats_spark.sources import tables

        shutil.rmtree(self.out, ignore_errors=True)
        committed = []
        for sink in pipeline.SINKS + ["rejects"]:
            path = os.path.join(self.out, sink)
            os.makedirs(path)
            open(os.path.join(path, "_SUCCESS"), "w").close()
            committed.append(dict(partition=sink, path=path, rows=0,
                                  seconds=0.0, skipped=False))
        tables.write_lineage(self.spark, self.out, "stats_pipeline",
                             committed)

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(self.bpath, ignore_errors=True)

    def job(self) -> dict:
        from stats_spark.plans import pipeline

        return pipeline.run_pipeline(self.spark, self.corpus, self.out,
                                     resume=True)

    def _conv_count(self, parsed: int, rejects: int) -> list[str]:
        if parsed + rejects != self.corpus["n_convs"]:
            return [f"battles {parsed} + rejects {rejects} != "
                    f"{self.corpus['n_convs']} conversations"]
        return []

    def check(self, r: dict) -> list[str]:
        from perfbench import checks

        bad = self._conv_count(*checks.checkpoint_split(self.bpath))
        if not all(m["skipped"] for m in r["sinks"]):
            bad.append("a committed sink was recomputed")
        return bad

    def check_traced(self, c: dict) -> list[str]:
        return self._conv_count(c["parse.battles"], c["parse.rejects"])

    def cross_check(self) -> list[str]:
        from perfbench import checks

        return checks.duckdb_winner_check(self.corpus, self.bpath)

    def traced(self, tracer, trace: int) -> dict:
        from stats_spark.operators import parse
        from stats_spark.sources import tables

        spark, c = self.spark, {}
        with tracer.span("pipeline.checkpoint", trace):
            with tracer.span("sources.scan", trace):
                tr = tables.load_transcripts(spark, self.corpus).cache()
                cv = tables.load_conversations(spark, self.corpus).cache()
                tr.count()
                cv.count()
            with tracer.span("parse", trace):
                battles = parse.parse_battles(tr, cv).cache()
                c["parse.battles"] = battles.filter("error IS NULL").count()
                c["parse.rejects"] = battles.filter(
                    "error IS NOT NULL").count()
            with tracer.span("sources.write", trace):
                write_checkpoint(spark, battles, self.bpath)
        return c


class ColdMonth(Workload):
    """The whole monthly job: run_pipeline from raw transcripts through
    the checkpoint and all 11 sinks plus rejects (by hand only)."""

    @property
    def bpath(self) -> str:
        return os.path.join(self.out, "battles")

    def job(self) -> dict:
        from stats_spark.plans import pipeline

        return pipeline.run_pipeline(self.spark, self.corpus, self.out,
                                     resume=False)

    def check(self, r: dict) -> list[str]:
        from perfbench import checks
        from stats_spark.plans import pipeline

        rows = {m["partition"]: m["rows"] for m in r["sinks"]}
        missing = set(pipeline.SINKS + ["rejects"]) - set(rows)
        if missing:
            return [f"sinks not written: {sorted(missing)}"]
        parsed, _ = checks.checkpoint_split(self.bpath)
        return Checkpoint._conv_count(self, parsed, rows["rejects"])

    def check_traced(self, c: dict) -> list[str]:
        return Checkpoint._conv_count(self, c["parse.battles"],
                                      c["parse.rejects"])

    def cross_check(self) -> list[str]:
        from perfbench import checks

        return checks.duckdb_cross_check(self.out)

    def traced(self, tracer, trace: int) -> dict:
        from stats_spark.plans import pipeline

        c = Checkpoint.traced(self, tracer, trace)
        with tracer.span("pipeline.materialize", trace):
            with tracer.span("enrich", trace):
                frames = pipeline.build_frames(
                    self.spark, self.spark.read.parquet(self.bpath),
                    cache=True)
                mons, *rest = frames["_cached"]
                c["enrich.mon_rows"] = mons.count()
                for df in rest:
                    df.count()
        c.update(_sinks(self, frames, pipeline.SINKS, tracer, trace))
        return c


def _sinks(w: Workload, frames, sinks, tracer, trace) -> dict:
    from stats_spark.sources import tables

    rows = 0
    with tracer.span("pipeline.sink_pool", trace):
        for sink in sinks + ["rejects"]:
            rows += _write_sink(w.spark, tables, frames, w.out, sink,
                                tracer, trace)
    return {"aggregate.rows_out": rows}


class Reaggregate(Workload):
    """Reports re-run from an existing battles checkpoint through the
    staged (parquet) materialization: ``run_pipeline(resume=True,
    materialize="stage")`` for the ``REAGG_SINKS`` reports.  The
    checkpoint comes with the corpus: the library's own per-conversation
    parser's rows (``loadgen.write_battles_checkpoint``)."""

    # one JVM's consecutive jobs took 14.3, 11.9 and 11.6 s: after one
    # warm-up the JIT is still catching up, and how far it got varies
    warmup_jobs = 2

    def __init__(self, spark, corpus: dict, out: str):
        super().__init__(spark, corpus, out)
        self.reference = None

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.corpus["battles"],
                        os.path.join(self.out, "battles"))

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        for name in os.listdir(self.out):
            if name != "battles":
                shutil.rmtree(os.path.join(self.out, name))

    def job(self) -> dict:
        from stats_spark.plans import pipeline

        return pipeline.run_pipeline(self.spark, self.corpus, self.out,
                                     resume=True, materialize="stage",
                                     sinks=REAGG_SINKS)

    def _digests(self) -> dict:
        from perfbench import checks

        return {s: checks.sink_digest(os.path.join(self.out, s))
                for s in REAGG_SINKS + ["rejects"]}

    def _check_outputs(self) -> list[str]:
        # the first job's outputs are checked against DuckDB and become
        # the reference; every later job must reproduce them
        got = self._digests()
        if self.reference is None:
            bad = self.cross_check()
            if not bad:
                self.reference = got
            return bad
        return [f"{s}: rows/digest {got[s]} != first job's "
                f"{self.reference[s]}"
                for s in got if got[s] != self.reference[s]]

    def check(self, r: dict) -> list[str]:
        bad = self._check_outputs()
        if r["parse_seconds"] != 0.0:
            bad.append("the battles checkpoint was not reused")
        if {m["partition"] for m in r["sinks"]} != set(REAGG_SINKS
                                                       + ["rejects"]):
            bad.append(f"sinks written: {r['sinks']}")
        return bad

    def check_traced(self, c: dict) -> list[str]:
        return self._check_outputs()

    def cross_check(self) -> list[str]:
        from perfbench import checks

        return checks.duckdb_cross_check(self.out)

    def traced(self, tracer, trace: int) -> dict:
        from stats_spark.plans import pipeline

        spark, out = self.spark, self.out
        c = {}
        with tracer.span("pipeline.checkpoint", trace):
            with tracer.span("sources.scan", trace):
                checkpoint = spark.read.parquet(os.path.join(out, "battles"))
        with tracer.span("pipeline.materialize", trace):
            with tracer.span("enrich", trace):
                frames = pipeline.build_frames(
                    spark, checkpoint, stage_dir=os.path.join(out, "_stage"))
                c["enrich.mon_rows"] = spark.read.parquet(
                    os.path.join(out, "_stage", "mons")).count()
        c.update(_sinks(self, frames, REAGG_SINKS, tracer, trace))
        return c


class AnonRelease(Workload):
    def prepare(self) -> None:
        from perfbench import checks

        self.expected_lines = checks.expected_anon_lines(self.corpus)

    def _inputs(self):
        from stats_spark.operators import anonymize
        from stats_spark.sources import tables

        cv = tables.load_conversations(self.spark, self.corpus)
        tr = tables.load_transcripts(self.spark, self.corpus)
        sample = anonymize.sample_conversations(cv, 1.0, public_only=True)
        kept = tr.join(sample.select("conv_id"), "conv_id", "left_semi")
        return sample, kept

    def job(self) -> dict:
        from stats_spark.operators import anonymize

        sample, kept = self._inputs()
        path = os.path.join(self.out, "anon")
        anonymize.anonymize_transcripts(kept, sample, SALT) \
            .write.mode("overwrite").parquet(path)
        leaks = anonymize.verify_no_leaks(self.spark.read.parquet(path),
                                          sample).count()
        return dict(leaks=leaks)

    def check(self, r: dict) -> list[str]:
        from perfbench import checks

        bad = []
        if r["leaks"]:
            bad.append(f"{r['leaks']} leaking lines")
        lines = checks.parquet_rows(os.path.join(self.out, "anon"))
        if lines != self.expected_lines:
            bad.append(f"{lines} lines out, expected {self.expected_lines}")
        return bad

    def check_traced(self, c: dict) -> list[str]:
        return self.check({"leaks": c["anonymize.leaks"]})

    def traced(self, tracer, trace: int) -> dict:
        from stats_spark.operators import anonymize

        c = {}
        with tracer.span("sources.scan", trace):
            sample, kept = self._inputs()
            sample = sample.cache()
            kept = kept.cache()
            sample.count()
            c["anonymize.lines_in"] = kept.count()
        with tracer.span("anonymize", trace):
            anon = anonymize.anonymize_transcripts(kept, sample, SALT).cache()
            c["anonymize.lines_out"] = anon.count()
        path = os.path.join(self.out, "anon")
        with tracer.span("sources.write", trace):
            anon.write.mode("overwrite").parquet(path)
        with tracer.span("anonymize.verify", trace):
            c["anonymize.leaks"] = anonymize.verify_no_leaks(
                self.spark.read.parquet(path), sample).count()
        return c


class Ingest(Workload):
    """The month's two jobs over the raw transcripts, one after the
    other: the battles checkpoint (``Checkpoint``) and the anonymized
    release (``AnonRelease``)."""

    def __init__(self, spark, corpus: dict, out: str):
        super().__init__(spark, corpus, out)
        self.parts = [Checkpoint(spark, corpus, os.path.join(out, "stats")),
                      AnonRelease(spark, corpus, os.path.join(out, "anon"))]

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def clear(self) -> None:
        for p in self.parts:
            p.clear()

    def job(self) -> dict:
        checkpoint = self.parts[0].job()
        if os.environ.get("PERFBENCH_FAIL_MID_JOB"):
            # test hook: a run that raises inside a job, with the parse
            # stage's Python workers up
            raise RuntimeError("PERFBENCH_FAIL_MID_JOB")
        return dict(checkpoint=checkpoint, release=self.parts[1].job())

    def check(self, r: dict) -> list[str]:
        return (self.parts[0].check(r["checkpoint"])
                + self.parts[1].check(r["release"]))

    def check_traced(self, c: dict) -> list[str]:
        return self.parts[0].check_traced(c) + self.parts[1].check_traced(c)

    def cross_check(self) -> list[str]:
        return self.parts[0].cross_check()

    def traced(self, tracer, trace: int) -> dict:
        return {**self.parts[0].traced(tracer, trace),
                **self.parts[1].traced(tracer, trace)}


WORKLOADS = {"cold_month": ColdMonth, "reaggregate": Reaggregate,
             "ingest": Ingest, "anon_release": AnonRelease}


def run_job(w: Workload, stats: dict, tracer=None) -> float | None:
    """One checked job — the traced drive when ``tracer`` is given;
    returns its wall time, or None when it failed.  An untraced job's
    wall time and stolen CPU share go to ``stats["jobs"]``."""
    from perfbench import checks, procs

    w.clear()
    stats["attempted"] += 1
    trace = len(stats["traces"])
    before = checks.dir_usage(w.out)
    gc0, ticks0 = jvm_gc_s(w.spark), procs.cpu_ticks()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            r = w.job()
        else:
            with tracer.span("job", trace) as root:
                r = w.traced(tracer, trace)
            r["session.gc_s"] = jvm_gc_s(w.spark) - gc0
        dt = time.perf_counter() - t0
        ticks1, gc1 = procs.cpu_ticks(), jvm_gc_s(w.spark)
        bad = w.check(r) if tracer is None else w.check_traced(r)
        if not bad and not stats["cross_checked"]:
            bad = w.cross_check()
            stats["cross_checked"] = True
    except Exception:
        traceback.print_exc()
        bad = ["raised"]
    if bad:
        stats["failed"] += 1
        print("job failed:", "; ".join(bad), file=sys.stderr, flush=True)
        return None
    if tracer is not None:
        # what the job added under its output dir (inputs kept there,
        # such as reaggregate's checkpoint, are not counted)
        after = checks.dir_usage(w.out)
        r.update({
            "sources.write_mb": after[0] - before[0],
            "sources.files_written": after[1] - before[1],
            "sources.lineage_commits": after[2] - before[2],
        })
        stats["traces"].append(dict(trace=trace, root=root["id"],
                                    job_s=dt, counts=r))
    else:
        stats["jobs"].append(dict(
            wall_s=dt, gc_s=gc1 - gc0,
            stolen=procs.stolen_share(ticks0, ticks1),
            **{k: r[k] for k in ("parse_seconds", "cache_seconds",
                                 "sink_seconds") if k in r}))
    return dt


def traced_metrics(tracer, evlog_dir: str, traces: list[dict],
                   cores: int) -> dict:
    """Per-layer figures of each traced job, medians over the jobs."""
    from perfbench import tracing

    ev = tracing.read_event_log(evlog_dir)
    spans = tracer.spans
    by_span = tracing.tasks_by_span(spans, ev)
    per_job = []
    for t in traces:
        L = {n: tracing.layer_totals(spans, by_span, t["trace"], n)
             for n in ("sources.scan", "sources.write", "parse", "enrich",
                       "aggregate", "anonymize", "anonymize.verify",
                       "pipeline.checkpoint", "pipeline.materialize",
                       "pipeline.sink_pool")}
        job = tracing.job_totals(spans, by_span, t["root"])
        wall = t["job_s"]
        m = {
            "sources.scan_s": L["sources.scan"]["self_s"],
            "sources.read_mb": job["read_mb"],
            "sources.write_s": L["sources.write"]["self_s"],
            "parse.s": L["parse"]["self_s"],
            "parse.task_s": L["parse"]["task_s"],
            "parse.shuffle_mb": L["parse"]["shuffle_mb"],
            "parse.task_skew": L["parse"]["skew"],
            "enrich.s": L["enrich"]["self_s"],
            "enrich.task_s": L["enrich"]["task_s"],
            "aggregate.s": L["aggregate"]["self_s"],
            "aggregate.task_s": L["aggregate"]["task_s"],
            "aggregate.shuffle_mb": L["aggregate"]["shuffle_mb"],
            "aggregate.spill_mb": L["aggregate"]["spill_mb"],
            "aggregate.task_skew": L["aggregate"]["skew"],
            "pipeline.checkpoint_s": L["pipeline.checkpoint"]["wall_s"],
            "pipeline.materialize_s": L["pipeline.materialize"]["wall_s"],
            "pipeline.sink_pool_s": L["pipeline.sink_pool"]["wall_s"],
            "pipeline.core_busy": job["task_s"] / (wall * cores),
            "anonymize.s": L["anonymize"]["self_s"],
            "anonymize.verify_s": L["anonymize.verify"]["self_s"],
            "trace.job_s": wall,
            **t["counts"],
        }
        per_job.append(m)
    keys = {k for m in per_job for k in m}
    return {k: statistics.median(m.get(k, 0) for m in per_job)
            for k in keys}


def run(spark, a) -> dict:
    with open(a.corpus_info) as f:
        corpus = json.load(f)
    w = WORKLOADS[a.workload](spark, corpus, os.path.join(a.run_dir, "out"))
    t0 = time.monotonic()
    w.prepare()
    stats = dict(attempted=0, failed=0, jobs=[], traces=[],
                 cross_checked=False)
    for _ in range(w.warmup_jobs):
        w.clear()
        bad = w.check(w.job())
        if bad:
            raise RuntimeError(f"warm-up job failed its check: {bad}")
    timeline = {"prepare_s": time.monotonic() - t0}
    t0 = time.monotonic()

    samples, traced = [], []
    tracer = None
    if a.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(spark.sparkContext)
    deadline = time.monotonic() + a.seconds
    while not samples or time.monotonic() < deadline:
        dt = run_job(w, stats)
        if dt is not None:
            # the job's time on vCPUs the hypervisor did not take away
            samples.append(dt * (1.0 - stats["jobs"][-1]["stolen"]))
        if tracer is not None:
            # each untraced job is paired with a traced drive; the
            # difference of their medians is the tracing overhead
            dt = run_job(w, stats, tracer)
            if dt is not None:
                traced.append(dt)
        if stats["failed"] >= 3:
            break
    w.clear()
    timeline["timed_s"] = time.monotonic() - t0
    return dict(timeline=timeline, samples=samples,
                walls=[j["wall_s"] for j in stats["jobs"]],
                traced=traced if tracer is not None else None,
                attempted=stats["attempted"], failed=stats["failed"],
                jobs=stats["jobs"], traces=stats["traces"],
                tracer=tracer)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--corpus-info")
    p.add_argument("--run-dir", required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--cores", type=int, required=True)
    a = p.parse_args(argv)

    from perfbench import procs
    from stats_spark import session
    from stats_spark.operators import parse

    t0 = time.perf_counter()
    spark = session.get_spark(
        f"perfbench-{a.workload}", cores=a.cores, shuffle_partitions=a.cores,
        # keep the progress bar out of the run log
        extra_conf={"spark.ui.showConsoleProgress": "false"})
    jvm_start_s = time.perf_counter() - t0
    parse.make_dims_payload()
    result = dict(ready_ts=time.time(), ready_ticks=procs.cpu_ticks(),
                  jvm_start_s=jvm_start_s,
                  timeline={})
    try:
        result.update(run(spark, a))
    finally:
        t0 = time.monotonic()
        stop_spark(spark)
        result["timeline"]["stop_s"] = time.monotonic() - t0
    tracer = result.pop("tracer", None)
    if tracer is not None:
        tracer.dump(os.path.join(a.run_dir, "spans.json"))
        result["layers"] = traced_metrics(
            tracer, os.path.join(a.run_dir, "evlog"), result["traces"],
            a.cores)
    tmp = os.path.join(a.run_dir, "result.json.tmp")
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.rename(tmp, os.path.join(a.run_dir, "result.json"))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    sys.exit(main())
