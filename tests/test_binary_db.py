"""S8 — fixed-width binary DB sink (BINARY.md:15-31, binary.ts,
workflows/pkmn/db.ts).  Layout pinned byte-for-byte against
hand-computed buffers, round-tripped through the decoder, and the
range-partitioned sink checked for global timestamp order."""

import datetime as dt
import json
import os

import pytest

from stats_spark.operators import binary_db as B

UTC = dt.timezone.utc


def _team(*mons):
    out = []
    for m in mons:
        out.append(dict(
            slot=len(out) + 1, species=m["species"],
            item=m.get("item", "nothing"), ability="steadfastcore",
            nature="hardy", moves=m.get("moves", []), level=100,
            happiness=255, tera_type=None, turns_out=1, kos=0,
            **{f"ev_{k}": 0 for k in ("hp", "atk", "def", "spa",
                                      "spd", "spe")},
            **{f"iv_{k}": 31 for k in ("hp", "atk", "def", "spa",
                                       "spd", "spe")}))
    return out


TEAM_FIELDS = (
    "slot:int,species:string,item:string,ability:string,nature:string,"
    "moves:array<string>,level:int,happiness:int,tera_type:string,"
    "turns_out:int,kos:int,"
    "ev_hp:int,ev_atk:int,ev_def:int,ev_spa:int,ev_spd:int,ev_spe:int,"
    "iv_hp:int,iv_atk:int,iv_def:int,iv_spa:int,iv_spd:int,iv_spe:int"
)
SCHEMA = (
    "conv_id string, ts timestamp, turns int, winner string, "
    "end_type string, p1_name string, p2_name string, "
    "p1_rpr double, p1_rprd double, p2_rpr double, p2_rprd double, "
    f"p1_team array<struct<{TEAM_FIELDS}>>, "
    f"p2_team array<struct<{TEAM_FIELDS}>>"
)


def _battles(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _row(conv_id, ts_ms, winner="alice", end_type="normal",
         p1_rating=(1702.5, 33.4), p2_rating=(1650.0, 40.0),
         p1=None, p2=None, turns=17):
    lk = B.lookups()
    sp = sorted(lk["species"])
    mv = sorted(lk["moves"])
    p1 = p1 if p1 is not None else _team(
        dict(species=sp[0], moves=[mv[0], mv[1]]))
    p2 = p2 if p2 is not None else _team(dict(species=sp[1], moves=[mv[2]]))
    ts = dt.datetime.fromtimestamp(ts_ms / 1000, tz=UTC).replace(tzinfo=None)
    return (conv_id, ts, turns, winner, end_type, "alice", "bob",
            float(p1_rating[0]) if p1_rating else None,
            float(p1_rating[1]) if p1_rating else None,
            float(p2_rating[0]) if p2_rating else None,
            float(p2_rating[1]) if p2_rating else None, p1, p2)


def test_gen1_layout_exact(spark):
    """Every header offset of BINARY.md's table, against bytes built
    by hand (LE fields, winner side first)."""
    lk = B.lookups()
    sp = sorted(lk["species"])
    mv = sorted(lk["moves"])
    ts_ms = 1717200000123
    df = _battles(spark, [_row("c1", ts_ms)])
    row = bytes(B.encode_logs(df, gen=1).collect()[0].row)

    assert len(row) == B.row_size(1) == 77
    assert int.from_bytes(row[0:8], "little") == ts_ms
    assert int.from_bytes(row[8:10], "little") == 17          # turns
    assert row[10] == B.END_NORMAL
    # winner = alice = p1: rpr 1703 (rounded), rprd 33
    assert int.from_bytes(row[11:13], "little") == 1703
    assert row[13] == 33
    assert int.from_bytes(row[14:16], "little") == 1650
    assert row[16] == 40
    # winner team slot 0: species + 2 moves + zero-padding
    assert row[17] == lk["species"][sp[0]]
    assert row[18] == lk["moves"][mv[0]]
    assert row[19] == lk["moves"][mv[1]]
    assert row[20] == 0 and row[21] == 0
    assert row[22:47] == bytes(25)                            # empty slots
    # loser team block starts at 17 + 30
    assert row[47] == lk["species"][sp[1]]
    assert row[48] == lk["moves"][mv[2]]
    assert row[49:77] == bytes(28)


def test_winner_side_first_and_tie(spark):
    """binary.ts:160-161 — p2 win swaps the rating/team blocks; a tie
    keeps p1 first and sets END_TIE."""
    df = _battles(spark, [_row("w2", 1000, winner="bob"),
                          _row("tie", 2000, winner="tie")])
    rows = {r.conv_id: bytes(r.row)
            for r in B.encode_logs(df, gen=1).collect()}
    w2 = rows["w2"]
    assert w2[10] == B.END_NORMAL
    assert int.from_bytes(w2[11:13], "little") == 1650        # bob's rpr
    assert int.from_bytes(w2[14:16], "little") == 1703
    tie = rows["tie"]
    assert tie[10] == B.END_TIE
    assert int.from_bytes(tie[11:13], "little") == 1703       # p1 first


def test_end_types(spark):
    """binary.ts:162-172: forfeit wins over everything; forced
    upgrades normal→forced-win and tie→forced-tie."""
    df = _battles(spark, [
        _row("ff", 1, end_type="forfeit"),
        _row("fw", 2, end_type="forced"),
        _row("ft", 3, end_type="forced", winner="tie"),
    ])
    got = {r.conv_id: bytes(r.row)[10]
           for r in B.encode_logs(df, gen=1).collect()}
    assert got == {"ff": B.END_FORFEIT, "fw": B.END_FORCED_WIN,
                   "ft": B.END_FORCED_TIE}


def test_missing_rating_is_zero(spark):
    df = _battles(spark, [_row("nr", 1, p1_rating=None)])
    row = bytes(B.encode_logs(df, gen=1).collect()[0].row)
    assert row[11:14] == bytes(3)
    assert int.from_bytes(row[14:16], "little") == 1650


def test_gen2_layout_and_hidden_power(spark):
    """Gen-2 slots carry item + trailing hidden-power type byte
    (BINARY.md:58-74); hiddenpower<type> moves collapse to the base
    move id with the type in the trailer (binary.ts:84-91 intent —
    the reference's own charAt(11)-after-rewrite bug is NOT
    reproduced, see module docstring)."""
    lk = B.lookups()
    sp = sorted(lk["species"])
    mv = sorted(lk["moves"])
    it = sorted(lk["items"])
    team = _team(dict(species=sp[2], item=it[0],
                      moves=[mv[0], "hiddenpowerfire"]))
    df = _battles(spark, [_row("g2", 5, p1=team)])
    row = bytes(B.encode_logs(df, gen=2).collect()[0].row)
    assert len(row) == B.row_size(2) == 101
    assert row[17] == lk["species"][sp[2]]
    assert row[18] == lk["items"][it[0]]
    assert row[19] == lk["moves"][mv[0]]
    assert row[20] == lk["moves"]["hiddenpower"]
    assert row[21] == 0 and row[22] == 0
    assert row[23] == B.TYPE_NUM["fire"]
    # no hidden power → Normal (0) trailer; item 'nothing' → 0
    mon2 = 17 + 7
    assert row[mon2 + 1] == 0


def _plain_moves(lk, n):
    return [m for m in sorted(lk["moves"])
            if not m.startswith("hiddenpower")][:n]


def test_gen2_encoder_edge_cases(spark):
    """Team.encode's gen-2 edge cases, against bytes built by hand:
    unknown/null/'nothing' items, unknown species and moves encode 0;
    a 5th move and a 7th mon are dropped; bare ``hiddenpower`` and
    ``hiddenpower<unknown>`` leave the type byte at 0, and the first
    typed hidden power wins; a null mon is a zero slot."""
    lk = B.lookups()
    sp, it = sorted(lk["species"]), sorted(lk["items"])
    mv = _plain_moves(lk, 6)
    S, M, I, T = lk["species"], lk["moves"], lk["items"], B.TYPE_NUM
    hp = M["hiddenpower"]
    p1 = _team(
        dict(species=sp[0], item="notanitem",
             moves=[mv[0], "notamove", "hiddenpower", mv[1], mv[2]]),
        dict(species=sp[1], item=None,
             moves=["hiddenpowerzz", "hiddenpowerfire"]),
        dict(species=sp[2], item="nothing",
             moves=[mv[3], "hiddenpowerice", "hiddenpowerfire"]),
        dict(species=sp[3], item=it[1], moves=[]),
        dict(species="notaspecies", item=it[2], moves=[mv[4]]),
        dict(species=sp[5], item=it[3], moves=["hiddenpowerwater"]),
        dict(species=sp[6], item=it[4], moves=[mv[5]]))
    p2 = [None] + _team(dict(species=sp[1], moves=[mv[0]]))
    df = _battles(spark, [_row("edge", 5, p1=p1, p2=p2)])
    row = bytes(B.encode_logs(df, gen=2).collect()[0].row)
    assert row[17:59] == bytes([
        S[sp[0]], 0, M[mv[0]], 0, hp, M[mv[1]], 0,
        S[sp[1]], 0, hp, hp, 0, 0, 0,
        S[sp[2]], 0, M[mv[3]], hp, hp, 0, T["ice"],
        S[sp[3]], I[it[1]], 0, 0, 0, 0, 0,
        0, I[it[2]], M[mv[4]], 0, 0, 0, 0,
        S[sp[5]], I[it[3]], hp, 0, 0, 0, T["water"]])
    assert row[59:101] == bytes(7) + bytes(
        [S[sp[1]], 0, M[mv[0]], 0, 0, 0, 0]) + bytes(28)


def test_round_trip_decode(spark):
    df = _battles(spark, [_row("rt", 1717200000123)])
    enc = B.encode_logs(df, gen=1).collect()[0]
    d = B.decode_row(bytes(enc.row), gen=1)
    lk = B.lookups()
    sp, mv = sorted(lk["species"]), sorted(lk["moves"])
    assert d["ts_ms"] == 1717200000123 and d["turns"] == 17
    assert d["winner"]["rating"] == dict(rpr=1703, rprd=33)
    assert d["winner"]["team"] == [dict(species=sp[0],
                                        moves=[mv[0], mv[1]])]
    assert d["loser"]["team"] == [dict(species=sp[1], moves=[mv[2]])]


def test_write_db_globally_sorted(spark, tmp_path):
    """The range-partitioned sink: part files concatenate (manifest
    order) into one non-decreasing ts stream — db.ts:70-84's sorted
    merge, distributed."""
    rows = [_row(f"c{i}", ts_ms)
            for i, ts_ms in enumerate([5000, 1000, 9000, 3000, 7000,
                                       2000, 8000, 4000, 6000, 500])]
    enc = B.encode_logs(_battles(spark, rows), gen=1)
    out = str(tmp_path / "gen1ou")
    meta = B.write_db(enc, out, gen=1, n_files=3)
    assert meta["rows"] == 10 and meta["row_size"] == 77
    # parts are disjoint, ordered ranges
    parts = meta["parts"]
    assert all(p["min_ts"] <= p["max_ts"] for p in parts)
    assert all(parts[i]["max_ts"] <= parts[i + 1]["min_ts"]
               for i in range(len(parts) - 1))
    db = str(tmp_path / "gen1ou.db")
    assert B.concat_db(out, db) == 10 * 77
    ts = [d["ts_ms"] for d in B.read_db(db, gen=1)]
    assert ts == sorted(ts)
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        assert json.load(f)["rows"] == 10


# ---------------------------------------------------------------------
# read side — Binary.Stats over the `.db` (binary.ts:245-319)

def _py_stats(db_path, gen, cutoff):
    """Pure-Python twin of Binary.Stats.compute over the test decoder —
    the independent check for the distributed scan+aggregate path."""
    from tests.oracle import weighting

    usage, lead, moves, mates = {}, {}, {}, {}
    tot_u = tot_l = 0.0
    for rec in B.read_db(db_path, gen):
        for player in (rec["winner"], rec["loser"]):
            r = player.get("rating")
            if not r:
                continue  # binary.ts:283
            w = weighting(float(r["rpr"]), float(r["rprd"]), cutoff)
            if not w:
                continue  # binary.ts:286
            team = player["team"]
            for idx, mon in enumerate(team):
                s = mon["species"]
                usage[s] = usage.get(s, 0.0) + w
                tot_u += w
                if idx == 0:
                    lead[s] = lead.get(s, 0.0) + w
                    tot_l += w
                for mv in mon["moves"]:
                    moves[(s, mv)] = moves.get((s, mv), 0.0) + w
                for j in range(idx):
                    t = team[j]["species"]
                    # species_species[s][t] = (species_species[t][s] += w)
                    mates[(s, t)] = mates.get((s, t), 0.0) + w
                    mates[(t, s)] = mates.get((t, s), 0.0) + w
    return usage, lead, moves, mates, tot_u, tot_l


@pytest.fixture(scope="module")
def t1_db(spark, t1, tmp_path_factory):
    """Encode the whole t1 corpus as a gen-1 `.db` (ratings present on
    ~80% of sides; decode truncates teams at empty slots)."""
    from stats_spark.operators.parse import parse_battles
    from stats_spark.sources import tables

    battles = parse_battles(tables.load_transcripts(spark, t1),
                            tables.load_conversations(spark, t1)) \
        .filter("error IS NULL")
    enc = B.encode_logs(battles, gen=1)
    out = str(tmp_path_factory.mktemp("t1db"))
    B.write_db(enc, out, gen=1, n_files=3)
    db = os.path.join(out, "all.db")
    B.concat_db(out, db)
    return out, db


def test_scan_db_row_count_and_splittable(spark, t1_db):
    out, db = t1_db
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        meta = json.load(f)
    df = B.scan_db(spark, out, gen=1)
    assert df.count() == meta["rows"]
    # the single concatenated .db reads back identically
    assert B.scan_db(spark, db, gen=1).count() == meta["rows"]


def test_decode_db_matches_python_decoder(spark, t1_db):
    out, db = t1_db
    rows = B.decode_db(B.scan_db(spark, out, gen=1), gen=1).collect()
    # spot-check one full record against the python decoder
    recs = B.read_db(db, gen=1)
    by_ts = {}
    for r in rows:
        by_ts.setdefault((r.ts_ms, r.winner_side), []).append(r)
    n_mons = sum(len(p["team"]) for rec in recs
                 for p in (rec["winner"], rec["loser"]))
    assert len(rows) == n_mons
    rec = recs[0]
    w_rows = sorted(by_ts[(rec["ts_ms"], 1)], key=lambda r: r.sp_idx)
    assert {r.species for r in w_rows} >= {
        m["species"] for m in rec["winner"]["team"]}


def test_stats_from_db_matches_python_twin(spark, t1_db):
    out, _db = t1_db
    cutoff = 1500
    frames = B.stats_from_db(spark, out, gen=1, cutoff=cutoff)
    usage, lead, moves, mates, tot_u, tot_l = _py_stats(_db, 1, cutoff)

    got_u = {r.species: (r.usage_weighted, r.lead_weighted)
             for r in frames["usage"].collect()}
    assert set(got_u) == set(usage)
    for s, (uw, lw) in got_u.items():
        assert uw == pytest.approx(usage[s], rel=1e-9)
        assert lw == pytest.approx(lead.get(s, 0.0), rel=1e-9)

    tot = frames["totals"].collect()[0]
    assert tot.total_usage == pytest.approx(tot_u, rel=1e-9)
    assert tot.total_lead == pytest.approx(tot_l, rel=1e-9)

    got_m = {(r.species, r.move): r.weight
             for r in frames["move_species"].collect()}
    assert set(got_m) == set(moves)
    for k, v in got_m.items():
        assert v == pytest.approx(moves[k], rel=1e-9)

    got_t = {(r.species, r.teammate): r.weight
             for r in frames["teammates"].collect()}
    assert set(got_t) == set(mates)
    for k, v in got_t.items():
        assert v == pytest.approx(mates[k], rel=1e-9)


# ---------------------------------------------------------------------
# `.db` consumer CLIs: tools/stats cutoff + sizes, tools/teams

def _py_ratings(db_path, gen):
    out = []
    for rec in B.read_db(db_path, gen):
        for player in (rec["winner"], rec["loser"]):
            if player.get("rating"):
                out.append(player["rating"]["rpr"])
    return out


def test_ptile_reference_semantics():
    """tools/stats:20-32 branch for branch."""
    assert B.ptile([], 0.5) == 0
    assert B.ptile([3, 7], 0) == 3
    assert B.ptile([3, 7], 1.5) == 7       # p>=1 -> last element
    assert B.ptile([3, 7], 0.5) == 5.0     # interpolation
    assert B.ptile([1, 2, 10], 0.25) == 1.5


def test_db_rating_cutoff_matches_python_twin(spark, t1_db):
    out, db = t1_db
    ratings = _py_ratings(db, 1)
    for p in (0.0, 0.25, 0.5, 0.9, 2.0):
        # js_sort=True is the reference's default-comparator
        # (lexicographic) order, tools/stats:98
        expect = B.ptile(sorted(ratings, key=str), p)
        got = B.db_rating_cutoff(spark, out, gen=1, percentile=p)
        assert got == pytest.approx(expect, rel=1e-12), p
        expect_n = B.ptile(sorted(ratings), p)
        got_n = B.db_rating_cutoff(spark, out, gen=1, percentile=p,
                                   js_sort=False)
        assert got_n == pytest.approx(expect_n, rel=1e-12), p


def _py_teams(db_path, gen):
    """tools/teams:54-85 twin: team key -> max(rpr - rprd, unrated=0)."""
    teams = {}
    for rec in B.read_db(db_path, gen):
        for player in (rec["winner"], rec["loser"]):
            r = player.get("rating")
            score = (r["rpr"] - r["rprd"]) if r else 0
            if gen == 1:
                key = "]".join(f"{m['species']}|{','.join(m['moves'])}"
                               for m in player["team"])
            else:
                key = "]".join(
                    f"{m['species']}|{m['item'] or ''}|"
                    f"{','.join(m['moves'])}" for m in player["team"])
            teams[key] = max(teams.get(key, 0), score)
    return teams


def test_teams_from_db_matches_python_twin(spark, t1_db):
    out, db = t1_db
    expect = _py_teams(db, 1)
    top = B.teams_from_db(spark, out, gen=1, num=10).collect()
    assert len(top) == 10
    ranked = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))
    for got, (key, score) in zip(top, ranked[:10]):
        assert got.team_key == key
        assert got.score == pytest.approx(score, rel=1e-12)
    # scores weakly decreasing
    scores = [r.score for r in top]
    assert scores == sorted(scores, reverse=True)


def test_write_teams_db_round_trip(spark, t1_db, tmp_path):
    out, db = t1_db
    top = B.teams_from_db(spark, out, gen=1, num=5)
    path = str(tmp_path / "teams.db")
    assert B.write_teams_db(top, path, gen=1, num=5) == 5
    decoded = B.read_teams_db(path, gen=1)
    rows = top.collect()
    assert len(decoded) == 5
    for team, row in zip(decoded, rows):
        key = "]".join(f"{m['species']}|{','.join(m['moves'])}"
                       for m in team)
        assert key == row.team_key
    # tools/teams:101-104 — fewer unique teams than requested errors
    with pytest.raises(ValueError, match="unique teams"):
        B.write_teams_db(B.teams_from_db(spark, out, gen=1, num=3),
                         str(tmp_path / "t2.db"), gen=1, num=10 ** 6)


def test_teams_gen2_key_includes_item_and_hp_type(spark, tmp_path):
    """Gen-2 team keys carry item + the re-attached hiddenpower<type>
    (Log.decode, binary.ts:128-130), and the teams.db block
    round-trips."""
    lk = B.lookups()
    sp, mv, it = (sorted(lk[k]) for k in ("species", "moves", "items"))
    team = _team(dict(species=sp[2], item=it[0],
                      moves=[mv[0], "hiddenpowerfire"]))
    df = _battles(spark, [_row("g2", 5, p1=team)])
    out = str(tmp_path / "g2db")
    B.write_db(B.encode_logs(df, gen=2), out, gen=2, n_files=1)
    top = B.teams_from_db(spark, out, gen=2, num=2).collect()
    keys = {r.team_key for r in top}
    assert f"{sp[2]}|{it[0]}|{mv[0]},hiddenpowerfire" in keys
    path = str(tmp_path / "teams2.db")
    B.write_teams_db(B.teams_from_db(spark, out, gen=2, num=2), path,
                     gen=2, num=2)
    decoded = B.read_teams_db(path, gen=2)
    assert any(m["species"] == sp[2] and m["item"] == it[0]
               and "hiddenpowerfire" in m["moves"]
               for t in decoded for m in t)


def test_write_teams_db_gen2_round_trip(spark, tmp_path):
    """Several gen-2 teams through teams.db and back (Team.decode per
    block, tools/teams:39-52), in frame order: items, a 'nothing' item
    (decodes as no item), hiddenpower<type> re-attached from the type
    byte, and an empty team as an all-zero block."""
    lk = B.lookups()
    sp, it = sorted(lk["species"]), sorted(lk["items"])
    mv = _plain_moves(lk, 5)
    teams = [
        [dict(slot=1, species=sp[0], item=it[0],
              moves=[mv[0], "hiddenpowerfire"]),
         dict(slot=2, species=sp[1], item="nothing", moves=[mv[1]])],
        [dict(slot=1, species=sp[2], item=it[1],
              moves=["hiddenpowerice", mv[2], mv[3], mv[4]])],
        [],
    ]
    top = spark.createDataFrame(
        [(t,) for t in teams],
        "team array<struct<slot:int,species:string,item:string,"
        "moves:array<string>>>")
    path = str(tmp_path / "teams2.db")
    assert B.write_teams_db(top, path, gen=2, num=3) == 3
    assert B.read_teams_db(path, gen=2) == [
        [dict(species=sp[0], item=it[0], moves=[mv[0], "hiddenpowerfire"]),
         dict(species=sp[1], item=None, moves=[mv[1]])],
        [dict(species=sp[2], item=it[1],
              moves=["hiddenpowerice", mv[2], mv[3], mv[4]])],
        [],
    ]


def _py_sizes(db_path, gen, cutoff):
    """tools/stats:101-133 twin over the python stats twin."""
    import math
    usage, _lead, moves, _mates, _tu, _tl = _py_stats(db_path, gen,
                                                      cutoff)
    counts = []
    for s, total in usage.items():
        n = sum(1 for (sp, _mv), w in moves.items()
                if sp == s and math.floor(w / total * 1e4 + 0.5) > 100)
        counts.append(n)
    counts.sort()
    return [B.ptile(counts, i / 100) for i in range(101)]


def test_sizes_from_db_matches_python_twin(spark, t1_db):
    out, db = t1_db
    got = B.sizes_from_db(spark, out, gen=1, cutoff=1500)
    assert got["moves"] == pytest.approx(_py_sizes(db, 1, 1500),
                                         rel=1e-12)
    assert "items" not in got


def test_encode_tz_independent_instant(spark):
    """A non-UTC driver session must not shift the encoded instant:
    the reference stores Date.now()-style epoch ms (db.ts), so the
    encode reads the INSTANT, never the session zone's wall clock
    (regression: a pinned America/New_York session encoded ts 5h low)."""
    ts_ms = 1772331656000  # 2026-03-01, EST window (UTC-5)
    df = _battles(spark, [_row("c1", ts_ms)])
    ref = B.encode_logs(df, gen=1).select("ts_ms", "row_hex").collect()
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = B.encode_logs(df, gen=1).select("ts_ms", "row_hex").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert ref == ny
    assert ref[0]["ts_ms"] == ts_ms


def test_encode_tz_independent_ntz(spark):
    """TIMESTAMP_NTZ battles (a source that never adjusted to UTC)
    encode the stored wall clock as-if-UTC, also zone-independently —
    this is the component-read-out branch of wall_clock_ms."""
    ts_ms = 1772331656000
    naive = dt.datetime.fromtimestamp(ts_ms / 1000, tz=UTC).replace(
        tzinfo=None)
    row = list(_row("c1", ts_ms))
    row[1] = naive
    schema = SCHEMA.replace("ts timestamp,", "ts timestamp_ntz,")
    df = spark.createDataFrame([tuple(row)], schema)
    ref = B.encode_logs(df, gen=1).select("ts_ms", "row_hex").collect()
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = B.encode_logs(df, gen=1).select("ts_ms", "row_hex").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert ref == ny
    assert ref[0]["ts_ms"] == ts_ms


def test_sizes_from_db_counts_each_table_once(spark, tmp_path):
    """tools/stats `sizes` reads the percentile table off ONE count per
    table (moves, and items at gen 2), not one Spark count per
    percentile (101 per table)."""
    lk = B.lookups()
    sp, it = sorted(lk["species"]), sorted(lk["items"])
    mv = _plain_moves(lk, 4)
    rows = [_row(f"s{i}", 1000 + i,
                 p1=_team(dict(species=sp[i % 3], item=it[i % 2],
                               moves=[mv[i % 4], mv[(i + 1) % 4]]),
                          dict(species=sp[3], item=it[2], moves=[mv[0]])))
            for i in range(8)]
    out = str(tmp_path / "sizes2")
    B.write_db(B.encode_logs(_battles(spark, rows), gen=2), out, gen=2,
               n_files=1)
    db = str(tmp_path / "sizes2.db")
    B.concat_db(out, db)
    sc = spark.sparkContext
    group = "test_sizes_from_db_counts_each_table_once"
    sc.setJobGroup(group, "sizes_from_db")
    try:
        got = B.sizes_from_db(spark, out, gen=2, cutoff=1500)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) < 20, len(jobs)
    assert got["moves"] == pytest.approx(_py_sizes(db, 2, 1500), rel=1e-12)
    assert len(got["items"]) == 101
