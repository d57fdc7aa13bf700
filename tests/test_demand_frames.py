"""Demand-driven frames: build_frames builds, and run_pipeline stages
or caches, only what the requested sinks read (pipeline.PLANS).

A battles_w-only request must never run the pandas-UDF enrichment or
write its staged parquet; the default sink list still builds every
sink plus rejects."""

import os
import shutil
import threading

import pytest

from stats_spark.operators import enrich
from stats_spark.plans import pipeline


@pytest.fixture(scope="module")
def bw_only(spark, t1, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bw_only"))
    m = pipeline.run_pipeline(spark, t1, d, resume=True,
                              materialize="stage",
                              sinks=["battle_counts"])
    return d, m


def _copy_checkpoint(bw_only, d: str) -> None:
    shutil.copytree(os.path.join(bw_only[0], "battles"),
                    os.path.join(d, "battles"))


@pytest.mark.parametrize("mode", ["stage", "cache"])
def test_bw_only_resume_stages_only_battles_w(spark, t1, bw_only, tmp_path,
                                              mode):
    d, m = bw_only
    if mode == "stage":
        assert sorted(os.listdir(os.path.join(d, "_stage"))) == ["battles_w"]
    else:
        d = str(tmp_path)
        _copy_checkpoint(bw_only, d)
        m = pipeline.run_pipeline(spark, t1, d, resume=True,
                                  materialize="cache",
                                  sinks=["battle_counts"])
        spark.catalog.clearCache()
        assert not os.path.exists(os.path.join(d, "_stage"))
    written = {s["partition"] for s in m["sinks"] if not s["skipped"]}
    assert written == {"battle_counts", "rejects"}
    assert os.path.exists(os.path.join(d, "battle_counts", "_SUCCESS"))


@pytest.mark.parametrize("mode", ["lazy", "cache", "stage"])
def test_bw_only_frames_skip_the_enrichment(spark, bw_only, tmp_path,
                                            monkeypatch, mode):
    def boom(*a, **k):
        raise AssertionError("enrich_mons called for battles_w-only sinks")

    monkeypatch.setattr(enrich, "enrich_mons", boom)
    battles = spark.read.parquet(os.path.join(bw_only[0], "battles"))
    kw = dict(cache=mode == "cache",
              stage_dir=str(tmp_path) if mode == "stage" else None)
    f = pipeline.build_frames(spark, battles, sinks=["encounters", "leads"],
                              **kw)
    assert {"encounters", "leads"} <= f.keys()
    for name in ("battle_counts", "usage", "teammates", "rejects",
                 "_mons_w", "_sides_w"):
        assert name not in f, name
    held = {"lazy": [], "cache": ["battles_w"], "stage": ["battles_w"]}
    assert list(f["_held"]) == held[mode]
    assert f["leads"].count() > 0
    spark.catalog.clearCache()


def test_default_sinks_build_everything(spark, bw_only):
    battles = spark.read.parquet(os.path.join(bw_only[0], "battles"))
    f = pipeline.build_frames(spark, battles, cache=True)
    assert set(pipeline.SINKS + ["rejects", "unique_players"]) <= f.keys()
    assert list(f["_held"]) == list(pipeline.HELD)
    assert len(f["_cached"]) == len(pipeline.HELD)
    spark.catalog.clearCache()


def test_unknown_sink_is_refused(spark, bw_only):
    battles = spark.read.parquet(os.path.join(bw_only[0], "battles"))
    with pytest.raises(ValueError, match="unknown sinks"):
        pipeline.build_frames(spark, battles, sinks=["usage", "nope"])


def test_call_site_capture_is_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


@pytest.mark.parametrize("mode", ["stage", "cache"])
def test_enrichment_error_is_raised(spark, t1, bw_only, tmp_path,
                                    monkeypatch, mode):
    # a failing intermediate must fail the run, not hang the sinks that
    # wait on it, and commit none of the sinks that read it
    def boom(*a, **k):
        raise RuntimeError("classify_sides failed")

    monkeypatch.setattr(enrich, "classify_sides", boom)
    d = str(tmp_path)
    _copy_checkpoint(bw_only, d)
    raised = []

    def run():
        try:
            pipeline.run_pipeline(spark, t1, d, resume=True,
                                  materialize=mode)
        except RuntimeError as e:
            raised.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=600)
    spark.catalog.clearCache()
    assert not t.is_alive(), "run_pipeline hung"
    assert [str(e) for e in raised] == ["classify_sides failed"]
    enriched = {s for s in pipeline.SINKS
                if pipeline.source(s) in ("mons_w", "sides_w")}
    assert not enriched & pipeline.completed_sinks(d)
