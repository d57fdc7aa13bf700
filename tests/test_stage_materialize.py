"""Staged (parquet) materialization must be result-identical to the
executor-memory cache path: every sink aggregate is byte-equal whether
the shared intermediates live in cache or under out_dir/_stage.

The staged path is the cluster-scale default (see build_frames) —
this pins that the topology fix cannot drift the numbers.
"""

import os

import pytest

from stats_spark.plans import pipeline
from stats_spark.sources import tables


CHECK = ["usage", "teammates", "encounters", "leads", "battle_counts",
         "metagame", "viability"]


@pytest.fixture(scope="module")
def both(spark, t1, tmp_path_factory):
    outs = {}
    for mode in ("cache", "stage"):
        d = str(tmp_path_factory.mktemp(f"mat_{mode}"))
        pipeline.run_pipeline(spark, t1, d, materialize=mode)
        outs[mode] = d
    return outs


def _norm(v):
    # staged vs cached aggregation differ in partition topology, so
    # float sums differ in the last ulp — compare at 9 significant
    # digits (far tighter than any report's rounding)
    return f"{v:.9g}" if isinstance(v, float) else repr(v)


def _rows(spark, path):
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted("|".join(_norm(v) for v in row)
                  for row in df.select(*cols).collect())


@pytest.mark.parametrize("sink", CHECK)
def test_stage_equals_cache(spark, both, sink):
    a = _rows(spark, os.path.join(both["cache"], sink))
    b = _rows(spark, os.path.join(both["stage"], sink))
    assert a == b and len(a) > 0


PARTIAL = ["usage", "battle_counts"]


@pytest.fixture(scope="module")
def partial(spark, t1, tmp_path_factory):
    outs = {}
    for mode in ("cache", "stage"):
        d = str(tmp_path_factory.mktemp(f"part_{mode}"))
        m = pipeline.run_pipeline(spark, t1, d, materialize=mode,
                                  sinks=PARTIAL)
        outs[mode] = d, {s["partition"]: s["rows"] for s in m["sinks"]}
    return outs


@pytest.mark.parametrize("sink", PARTIAL + ["rejects"])
@pytest.mark.parametrize("mode", ["cache", "stage"])
def test_partial_run_equals_full_run(spark, both, partial, mode, sink):
    # a two-sink run builds and holds only what those sinks read; its
    # outputs must match the all-sinks run's, row for row
    d, rows = partial[mode]
    got = _rows(spark, os.path.join(d, sink))
    assert got == _rows(spark, os.path.join(both[mode], sink))
    assert rows[sink] == len(got)
    assert got or sink == "rejects"  # t1 parses without rejects


def test_partial_stage_holds_only_what_its_sinks_read(partial):
    d, rows = partial["stage"]
    assert set(rows) == set(PARTIAL + ["rejects"])
    assert sorted(os.listdir(os.path.join(d, "_stage"))) == [
        "battles_w", "mons", "side_class"]


def test_stage_dir_holds_all_intermediates(spark, both):
    # staged = the expensive-to-compute compact frames only; the
    # ×cutoff explodes (mons_w / sides_w) are pure codegen past these
    # scans and are deliberately recomputed per sink (see build_frames)
    sd = os.path.join(both["stage"], "_stage")
    for name in ("mons", "side_class", "battles_w"):
        assert os.path.exists(os.path.join(sd, name, "_SUCCESS")), name
    for name in ("mons_w", "sides_w"):
        assert not os.path.exists(os.path.join(sd, name)), name
