"""Idempotent resume: a rerun after partial failure recomputes ONLY
the missing sinks, consulting the per-sink lineage ledger (north rule:
resumable from checkpoint with per-partition lineage + metrics)."""

import os
import shutil

import pytest

from stats_spark.plans import pipeline


@pytest.fixture(scope="module")
def out(spark, t1, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("resume"))
    m = pipeline.run_pipeline(spark, t1, d,
                              sinks=["usage", "leads", "battle_counts"])
    return d, m


def test_first_run_commits_lineage(spark, out):
    d, m = out
    done = pipeline.completed_sinks(d)
    assert {"usage", "leads", "battle_counts", "rejects"} <= done
    assert all(not s.get("skipped") for s in m["sinks"])


def test_resume_skips_completed(spark, out):
    d, _ = out
    # simulate a crash that lost one sink's output
    shutil.rmtree(os.path.join(d, "leads"))
    before = {s: os.path.getmtime(os.path.join(d, s, "_SUCCESS"))
              for s in ("usage", "battle_counts")}

    m = pipeline.run_pipeline(spark, t1_paths(d), d,
                              sinks=["usage", "leads", "battle_counts"],
                              resume=True)
    by = {s["partition"]: s for s in m["sinks"]}
    assert by["usage"]["skipped"] and by["battle_counts"]["skipped"]
    assert not by["leads"]["skipped"]
    # untouched sinks were not rewritten
    for s, t in before.items():
        assert os.path.getmtime(os.path.join(d, s, "_SUCCESS")) == t
    # the recomputed sink is back and committed
    assert os.path.exists(os.path.join(d, "leads", "_SUCCESS"))
    assert "leads" in pipeline.completed_sinks(d)
    # parse was NOT rerun: the battles checkpoint was reused
    assert m["parse_seconds"] == 0.0


def t1_paths(_d):
    from stats_spark.datagen import corpus
    return corpus.ensure_corpus("t1")


def test_fresh_rerun_without_resume_overwrites(spark, out):
    d, _ = out
    m = pipeline.run_pipeline(spark, t1_paths(d), d, sinks=["usage"],
                              resume=False)
    by = {s["partition"]: s for s in m["sinks"]}
    assert not by["usage"]["skipped"]


def test_usage_ignores_a_previous_runs_usage_tagged(spark, t1, tmp_path):
    # a previous run left usage_tagged at the default cutoffs; a fresh
    # (resume=False) run with other cutoffs must derive usage from its
    # own aggregation, not from that stale parquet
    d = str(tmp_path)
    pipeline.run_pipeline(spark, t1, d, sinks=["usage_tagged"])
    cutoffs = [0, 1400, 1600, 1800]
    pipeline.run_pipeline(spark, t1, d, sinks=["usage"], cutoffs=cutoffs,
                          resume=False)
    got = spark.read.parquet(os.path.join(d, "usage")) \
        .select("cutoff").distinct().collect()
    assert sorted(r.cutoff for r in got) == cutoffs


def test_torn_ledger_commit_keeps_earlier_commits(spark, tmp_path,
                                                  monkeypatch):
    # a writer killed halfway through a ledger commit must leave the
    # earlier commits readable, so later resumes of the same out_dir work
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stats_spark.sources import tables

    d = str(tmp_path)
    for sink in ("leads", "usage"):
        os.makedirs(os.path.join(d, sink))
        open(os.path.join(d, sink, "_SUCCESS"), "w").close()

    def commit(sink):
        tables.write_lineage(spark, d, "stats_pipeline", [dict(
            partition=sink, path=os.path.join(d, sink), rows=1)])

    commit("leads")
    write_table = pq.write_table

    def torn(table, where, **kw):
        buf = pa.BufferOutputStream()
        write_table(table, buf, **kw)
        data = buf.getvalue().to_pybytes()
        with open(where, "wb") as f:
            f.write(data[:len(data) // 2])
        raise OSError("writer killed mid-file")

    monkeypatch.setattr(pq, "write_table", torn)
    with pytest.raises(OSError):
        commit("usage")
    assert pipeline.completed_sinks(d) == {"leads"}
