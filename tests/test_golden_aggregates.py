"""Golden tests: every Spark aggregate frame vs the plain-Python oracle
on the t1 corpus — the analog of the reference's golden integration
suite (stats/src/test/integration.ts:46-133)."""

import math

import pytest

from stats_spark.operators import aggregate as agg
from stats_spark.plans import pipeline
from stats_spark.sources import tables

from tests import oracle as O

REL = 1e-9


@pytest.fixture(scope="module")
def frames(spark, t1):
    tr = tables.load_transcripts(spark, t1)
    cv = tables.load_conversations(spark, t1)
    from stats_spark.operators.parse import parse_battles
    battles = parse_battles(tr, cv)
    return pipeline.build_frames(spark, battles)


@pytest.fixture(scope="module")
def gold(t1_pandas):
    convs, turns = t1_pandas
    o, battles, rejects = O.run_oracle(convs, turns)
    return o


def approx_map_equal(spark_map, oracle_map, what):
    missing = set(oracle_map) - set(spark_map)
    extra = set(spark_map) - set(oracle_map)
    assert not missing, f"{what}: missing keys {sorted(missing)[:5]}"
    assert not extra, f"{what}: extra keys {sorted(extra)[:5]}"
    for k, ov in oracle_map.items():
        sv = spark_map[k]
        if isinstance(ov, (tuple, list)):
            for a, b in zip(sv, ov):
                assert a == pytest.approx(b, rel=REL, abs=1e-12), \
                    f"{what}[{k}]: {sv} != {ov}"
        else:
            assert sv == pytest.approx(ov, rel=REL, abs=1e-12), \
                f"{what}[{k}]: {sv} != {ov}"


def test_usage(frames, gold):
    cols = ["raw_count", "raw_weight", "saved_count", "saved_weight",
            "usage_raw", "usage_real", "usage_weighted",
            "win_raw", "win_real", "win_weighted"]
    want = {k: tuple(v.get(c, 0) for c in cols) for k, v in gold.usage.items()}
    # the pipeline's usage sink, and usage_by_species (the entry point
    # the parity harness calls) over the same weighted mons frame
    for what, df in (("usage", frames["usage"]),
                     ("usage_by_species",
                      agg.usage_by_species(frames["_mons_w"]))):
        got = {(r.format, r.cutoff, r.species):
               tuple(getattr(r, c) for c in cols)
               for r in df.toPandas().itertuples()}
        approx_map_equal(got, want, what)


def test_usage_tagged(frames, gold):
    pdf = frames["usage_tagged"].toPandas()
    cols = ["raw_count", "raw_weight", "usage_raw", "usage_real",
            "usage_weighted", "win_raw", "win_weighted"]
    got = {(r.format, r.cutoff, r.tag, r.species):
           tuple(getattr(r, c) for c in cols) for r in pdf.itertuples()}
    want = {k: tuple(v.get(c, 0) for c in cols)
            for k, v in gold.usage_tagged.items()}
    approx_map_equal(got, want, "usage_tagged")
    # the 'total' shard must equal the untagged usage frame
    u = frames["usage"].toPandas()
    for r in u.itertuples():
        assert got[(r.format, r.cutoff, "total", r.species)][0] == r.raw_count


def test_usage_totals(frames, gold):
    pdf = frames["usage_totals"].toPandas()
    cols = ["usage_raw", "usage_real", "usage_weighted",
            "win_raw", "win_real", "win_weighted", "raw_count"]
    got = {(r.format, r.cutoff): tuple(getattr(r, f"total_{c}") for c in cols)
           for r in pdf.itertuples()}
    want = {k: tuple(v.get(c, 0) for c in cols) for k, v in gold.totals.items()}
    approx_map_equal(got, want, "usage_totals")


def test_moveset(frames, gold):
    pdf = frames["moveset"].toPandas()
    got = {(r.format, r.cutoff, r.species, r.section, r.key): (r.weight, r.raw)
           for r in pdf.itertuples()}
    want = {k: tuple(v) for k, v in gold.moveset.items()}
    approx_map_equal(got, want, "moveset")


def test_teammates(frames, gold):
    pdf = frames["teammates"].toPandas()
    got = {(r.format, r.cutoff, r.species, r.teammate): r.weight
           for r in pdf.itertuples()}
    approx_map_equal(got, dict(gold.teammates), "teammates")


def test_encounters(frames, gold):
    pdf = frames["encounters"].toPandas()
    got = {(r.format, r.cutoff, r.species, r.opponent):
           tuple(getattr(r, f"o{i}") for i in range(13))
           for r in pdf.itertuples()}
    want = {k: tuple(v) for k, v in gold.encounters.items()}
    approx_map_equal(got, want, "encounters")


def test_leads(frames, gold):
    pdf = frames["leads"].toPandas()
    got = {(r.format, r.cutoff, r.species):
           (r.lead_raw, r.lead_real, r.lead_weighted) for r in pdf.itertuples()}
    want = {k: (v["lead_raw"], v["lead_real"], v["lead_weighted"])
            for k, v in gold.leads.items()}
    approx_map_equal(got, want, "leads")


def test_battle_counts(frames, gold):
    pdf = frames["battle_counts"].toPandas()
    got = {(r.format, r.cutoff): r.battles for r in pdf.itertuples()
           if r.battles > 0}
    want = {k: v for k, v in gold.battles.items() if v > 0}
    approx_map_equal(got, want, "battle_counts")


def test_metagame(frames, gold):
    pdf = frames["metagame"].toPandas()
    got = {(r.format, r.cutoff, r.tag): r.weight for r in pdf.itertuples()}
    approx_map_equal(got, dict(gold.metagame), "metagame")


def test_stalliness(frames, gold):
    # float group keys differ in the last ulp between JVM and libm —
    # compare sorted (value, weight) pairs with tolerance per group
    pdf = frames["stalliness"].toPandas()
    by_group = {}
    for r in pdf.itertuples():
        by_group.setdefault((r.format, r.cutoff), []).append(
            (r.stalliness, r.weight))
    want_by_group = {}
    for (f, c, v), w in gold.stalliness.items():
        want_by_group.setdefault((f, c), []).append((v, w))
    assert set(by_group) == set(want_by_group)
    for k in by_group:
        got = sorted(by_group[k])
        want = sorted(want_by_group[k])
        assert len(got) == len(want), f"stalliness[{k}] count"
        for (gv, gw), (wv, ww) in zip(got, want):
            assert gv == pytest.approx(wv, rel=1e-9, abs=1e-9)
            assert gw == pytest.approx(ww, rel=REL, abs=1e-12)


def test_unique_players(frames, gold):
    pdf = frames["unique_players"].toPandas()
    got = {}
    for r in pdf.itertuples():
        g = None if (r.g is None or (isinstance(r.g, float) and math.isnan(r.g))) else r.g
        got[(r.format, r.cutoff, r.species, r.player)] = (r.r, r.w, g)
    want = {k: (v[0], v[1], v[2]) for k, v in gold.unique.items()}
    assert set(got) == set(want)
    for k, (wr, ww, wg) in want.items():
        gr, gw, gg = got[k]
        assert gr == wr, f"unique[{k}].r"
        assert gw == pytest.approx(ww, rel=REL, abs=1e-12), f"unique[{k}].w"
        assert (gg is None) == (wg is None) and (
            gg is None or gg == pytest.approx(wg)), f"unique[{k}].g"
