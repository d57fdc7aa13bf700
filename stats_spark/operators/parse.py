"""PARSE stage: per-conversation matchup FSM + canonicalization.

This is the single genuinely sequential operator in the engine (SURVEY
§2.2 P5): a state machine over the ordered protocol lines of one
conversation, emitting per-slot ``turns_out``/``kos`` counters and the
``(speciesA, speciesB, outcome)`` matchup event list.  Semantics mirror
the reference parser exactly:

  - winner extraction / validation  `/root/reference/stats/src/parser.ts:70-83`
  - FSM (turn/win/move/-enditem/faint/switch/drag/replace)
    `/root/reference/stats/src/parser.ts:121-272`
  - team canonicalization           `/root/reference/stats/src/parser.ts:278-334`
  - slot identification             `/root/reference/stats/src/parser.ts:344-399`
  - Outcome enum                    `/root/reference/stats/src/util.ts:8-22`

Spark execution: ``transcripts.groupBy(conv_id).cogroup(
conversations.groupBy(conv_id)).applyInPandas(...)`` — Arrow-batched,
one Python invocation per conversation group, rows sorted by
``turn_idx`` inside the UDF (the W1 stable-ordering invariant).  The
dimension payload (alias map, species/mega tables, move-flag sets) is a
plain dict captured by the closure — a few KB, broadcast with the task.

Rejected conversations (P8) surface as rows with ``error`` set and are
routed to a dead-letter sink rather than failing the job (the
reference's non-strict mode, `/root/reference/logs/src/worker.ts:65-74`).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from stats_spark.functions.ids import to_id_py

# Outcome enum — util.ts:8-22
POKE1_KOED = 0
POKE2_KOED = 1
DOUBLE_DOWN = 2
POKE1_SWITCHED_OUT = 3
POKE2_SWITCHED_OUT = 4
DOUBLE_SWITCH = 5
POKE1_FORCED_OUT = 6
POKE2_FORCED_OUT = 7
POKE1_UTURN_KOED = 8
POKE2_UTURN_KOED = 9
POKE1_FODDERED = 10
POKE2_FODDERED = 11
UNKNOWN = 12

# Lookup table for outcomes if poke1/poke2 exchanged — stats.ts:474-483
INVERSE_OUTCOMES = [
    POKE2_KOED, POKE1_KOED, DOUBLE_DOWN,
    POKE2_SWITCHED_OUT, POKE1_SWITCHED_OUT, DOUBLE_SWITCH,
    POKE2_FORCED_OUT, POKE1_FORCED_OUT,
    POKE2_UTURN_KOED, POKE1_UTURN_KOED,
    POKE2_FODDERED, POKE1_FODDERED, UNKNOWN,
]


class ParseError(ValueError):
    pass


def make_dims_payload() -> dict:
    """Package the enrichment dimensions as a small plain-dict payload
    (what a real deployment would broadcast).  Built from the synthetic
    dims by default."""
    from stats_spark.datagen import dims

    sp = dims.species_table()
    mv = dims.moves_table()
    it = dims.items_table()
    return dict(
        species=set(sp.species_id),
        mega_formes={r.species_id: r.base_species_id
                     for r in sp.itertuples() if r.is_mega},
        aliases=dims.alias_dict(),
        mega=dims.mega_dict(),          # (species,item) -> (mega_species, ability)
        items=set(it.item_id),
        natures=set(dims.NATURES),
        abilities=set(dims.ABILITIES),
        moves=set(mv.move_id),
        # display-name flag sets — parser.ts:64-65
        roar={mid.capitalize() for mid in dims.ROAR_MOVES},
        uturn={mid.capitalize() for mid in dims.UTURN_MOVES},
        non_singles=set(dims.NON_SINGLES_FORMATS),
        non_6v6=set(dims.NON_6V6_FORMATS),
    )


def from_alias(name_id: str, D: dict) -> str:
    return D["aliases"].get(name_id, name_id)


EV_KEYS = ["ev_hp", "ev_atk", "ev_def", "ev_spa", "ev_spd", "ev_spe"]
IV_KEYS = ["iv_hp", "iv_atk", "iv_def", "iv_spa", "iv_spd", "iv_spe"]
_IV_PAIRS = [(k, k[3:]) for k in IV_KEYS]


# Hidden Power type derivation from IVs — the standard published
# formula (gen.types.getHiddenPower; consumed at parser.ts:304-308)
_HP_TYPES = ["fighting", "flying", "poison", "ground", "rock", "bug",
             "ghost", "steel", "fire", "water", "grass", "electric",
             "psychic", "ice", "dragon", "dark"]
_HP_ORDER = ["hp", "atk", "def", "spe", "spa", "spd"]


def hidden_power_type(ivs: dict) -> str:
    n = sum((ivs.get(k, 31) & 1) << i for i, k in enumerate(_HP_ORDER))
    return _HP_TYPES[n * 15 // 63]


def canonicalize_team(team: Iterable[dict], D: dict) -> list[dict]:
    """parser.ts:278-334 — normalize ids, apply defaults, Hidden Power
    typing, special forme rules (battlebond/rusted sword/shield), mega
    rewrite."""
    out = []
    for slot, p in enumerate(team or []):
        item = to_id_py(p.get("item"))
        item = item if item in D["items"] else "nothing"
        nature = to_id_py(p.get("nature"))
        nature = nature if nature in D["natures"] else "hardy"
        ability = to_id_py(p.get("ability"))
        ability = ability if ability in D["abilities"] else "unknown"
        # species falls back to the nickname field — parser.ts:315-316
        species = from_alias(to_id_py(p.get("species") or p.get("name")), D)
        if species not in D["species"]:
            raise ParseError(f"Unknown species '{p.get('species')}'")
        ivs = {short: (31 if p.get(k) is None else int(p[k]))
               for k, short in _IV_PAIRS}
        # special forme rules — parser.ts:318-330
        if species == "greninja" and ability == "battlebond":
            species = "greninjaash"
        elif species == "zacian" and item == "rustedsword":
            species = "zaciancrowned"
        elif species == "zamazenta" and item == "rustedshield":
            species = "zamazentacrowned"
        else:
            mega = D["mega"].get((species, item))
            if mega:
                species, ability = mega
        raw_moves = p.get("moves")
        raw_moves = [] if raw_moves is None else list(raw_moves)
        moves = [to_id_py(m) for m in raw_moves][:4]
        if D.get("hiddenpower"):
            hpt = None if D.get("legacy") else to_id_py(p.get("hp_type"))
            moves = [m + (hpt or hidden_power_type(ivs))
                     if m == "hiddenpower" else m for m in moves]
        while len(moves) < 4:
            moves.append("")   # toID(undefined) — parser.ts:302-309
        c = dict(
            slot=slot, species=species, item=item, ability=ability,
            nature=nature, moves=moves, name=p.get("name"),
            level=int(p.get("forced_level") or p.get("level") or 100),
            happiness=255 if p.get("happiness") is None else int(p["happiness"]),
            # kept RAW (not id'd) — parser.ts:317 `teraType || 'nothing'`
            tera_type=p.get("tera_type") or "nothing",
            turns_out=0, kos=0,
        )
        for k in EV_KEYS:
            c[k] = int(p.get(k) or 0)
        for k in IV_KEYS:
            c[k] = ivs[k[3:]]
        out.append(c)
    return out


def _empty_mon(slot: int) -> dict:
    """Legacy <6-mon team padding — parser.ts:96-106 (species 'empty',
    empty set)."""
    c = dict(slot=slot, species="empty", item="nothing", ability="unknown",
             nature="hardy", moves=["", "", "", ""], name=None, level=100,
             happiness=255, tera_type="nothing", turns_out=0, kos=0)
    for k in EV_KEYS + IV_KEYS:
        c[k] = 0
    return c


def identify(name: str, side_team: list[dict], D: dict,
             idents: list[str] | None = None, side: str = "") -> int:
    """parser.ts:344-399 — full resolution: nickname exact /
    longest-prefix match, then species lookup with mega/forme reversion
    (FORMES set), else the Illusion+Transform hard error."""
    if idents is not None and (name.startswith(f"{side}a: ")
                               or name.startswith(f"{side}: ")):
        name = name[name.index(" ") + 1:]
        found = []
        for i, n in enumerate(idents):
            if n == name:
                return i
            if n and name.startswith(n):
                found.append((i, n))
        if found:
            longest = max(found, key=lambda f: len(f[1]))
            idents[longest[0]] = longest[1]
            return longest[0]
    else:
        sid = from_alias(to_id_py(name), D)
        if sid not in D["species"]:
            raise ParseError(f"Unknown species '{name}'")
        for i, p in enumerate(side_team):
            if p["species"] == sid:
                return i
        # Try undoing a forme change — parser.ts:382-388
        if sid in D["mega_formes"] or sid in D.get("formes", ()):
            sid = D["mega_formes"].get(sid) or D["formes"][sid]
        for i, p in enumerate(side_team):
            if p["species"].startswith(sid):
                return i
    # Illusion+Transform ambiguity — parser.ts:391-398
    raise ParseError(f"Unable to locate '{name}'")


def parse_battle(meta: dict, lines: list[str], D: dict) -> dict:
    """Parse one conversation → battle row.  Raises ParseError on the
    reference's reject conditions (parser.ts:70-83, 172-174, 205-207)."""
    fmt = meta["format"]
    p1_name, p2_name = meta.get("p1"), meta.get("p2")
    if meta.get("turns") is None:
        raise ParseError("No turn count")
    if p1_name == p2_name:
        raise ParseError("Player battling themself")

    winner = "tie"
    winners = [ln for ln in lines if ln.startswith("|win|")]
    if f"|win|{p1_name}" in winners:
        winner = "p1"
    if f"|win|{p2_name}" in winners:
        if winner == "p1":
            raise ParseError("Battle had two winners")
        winner = "p2"

    teams = {
        "p1": canonicalize_team(meta.get("p1_team"), D),
        "p2": canonicalize_team(meta.get("p2_team"), D),
    }
    # nickname → slot identity lists — parser.ts:85, 99
    idents = {s: [p["name"] or p["species"] for p in teams[s]]
              for s in ("p1", "p2")}
    if D.get("legacy"):
        # legacy pads teams to 6 with 'empty' mons — parser.ts:96-106
        for s in ("p1", "p2"):
            while len(teams[s]) < 6:
                idents[s].append("empty")
                teams[s].append(_empty_mon(len(teams[s])))

    battle = dict(
        conv_id=meta["conv_id"], format=fmt, turns=int(meta["turns"]),
        winner=winner, error=None,
        p1_name=to_id_py(p1_name), p2_name=to_id_py(p2_name),
        p1_rpr=meta.get("p1_rating_rpr"), p1_rprd=meta.get("p1_rating_rprd"),
        p2_rpr=meta.get("p2_rating_rpr"), p2_rprd=meta.get("p2_rating_rprd"),
        matchups=[], ts=meta.get("ts"), day=meta.get("day"),
    )

    if fmt in D["non_singles"]:
        # non-singles: no matchup FSM, no leads — parser.ts:119, stats.ts:176-208
        battle["p1_team"], battle["p2_team"] = teams["p1"], teams["p2"]
        battle["lead_p1"] = battle["lead_p2"] = None
        return battle

    # ---- the FSM — parser.ts:121-272 ---------------------------------
    ROAR, UTURN = D["roar"], D["uturn"]

    def empty_flags():
        return dict(roar=False, uturn=False, fodder=False, hazard=False,
                    uturnko=False, ko={"p1": False, "p2": False},
                    switch={"p1": False, "p2": False})

    active: dict[str, int | None] = {"p1": None, "p2": None}
    flags = empty_flags()
    turn_matchups: list[list] = []
    matchups: list[list] = []

    for raw in lines:
        if len(raw) < 2 or not raw.startswith("|"):
            continue
        line = [s.strip() for s in raw.split("|")]
        kind = line[1]

        if kind == "turn":
            matchups.extend(turn_matchups)
            flags = empty_flags()
            turn_matchups = []
            if active["p1"] is None or active["p2"] is None:
                raise ParseError("Turn before both sides active")
            teams["p1"][active["p1"]]["turns_out"] += 1
            teams["p2"][active["p2"]]["turns_out"] += 1

        elif kind in ("win", "tie"):
            if flags["ko"]["p1"] or flags["ko"]["p2"]:
                poke1 = teams["p1"][active["p1"]]
                poke2 = teams["p2"][active["p2"]]
                matchup = [poke1["species"], poke2["species"], UNKNOWN]
                if flags["ko"]["p1"] and flags["ko"]["p2"]:
                    poke1["kos"] += 1
                    poke2["kos"] += 1
                    matchup[2] = DOUBLE_DOWN
                else:
                    (poke1 if flags["ko"]["p1"] else poke2)["kos"] += 1
                    if flags["uturnko"]:
                        if turn_matchups:
                            turn_matchups.pop()
                        matchup[2] = (POKE1_UTURN_KOED if flags["ko"]["p1"]
                                      else POKE2_UTURN_KOED)
                    else:
                        matchup[2] = POKE1_KOED if flags["ko"]["p1"] else POKE2_KOED
                turn_matchups.append(matchup)
            matchups.extend(turn_matchups)

        elif kind == "move":
            if len(line) < 4:
                raise ParseError(f"Could not parse line: '{raw}'")
            flags["hazard"] = False
            move = line[3]
            if move in ROAR:
                flags["roar"] = True
            elif move in UTURN:
                flags["uturn"] = True

        elif kind == "-enditem":
            if "Red Card" in raw:
                flags["roar"] = True
            elif "Eject Button" in raw:
                flags["uturn"] = True

        elif kind == "faint":
            side = "p1" if line[2].startswith("p1") else "p2"
            flags["ko"][side] = True
            if flags["switch"][side]:
                flags["fodder"] = True
            if flags["uturn"]:
                flags["uturn"] = False
                flags["uturnko"] = True

        elif kind in ("replace", "switch", "drag"):
            if len(line) < 4:
                raise ParseError(f"Could not parse line: '{raw}'")
            name = line[3].split(",")[0]
            side = "p1" if line[2].startswith("p1") else "p2"
            if kind == "replace":
                active[side] = identify(name, teams[side], D,
                                        idents[side], side)
                continue

            if active["p1"] is not None and active["p2"] is not None:
                flags["switch"][side] = True
                if (flags["switch"]["p1"] and flags["switch"]["p2"]
                        and not flags["fodder"]):
                    # review the previous matchup — parser.ts:216-236
                    if not turn_matchups:
                        raise ParseError("Double switch without prior matchup")
                    matchup = turn_matchups[-1]
                    p = "p1" if flags["ko"]["p1"] else "p2"
                    if not flags["ko"]["p1"] and not flags["ko"]["p2"]:
                        matchup[2] = DOUBLE_SWITCH
                    elif flags["ko"]["p1"] and flags["ko"]["p2"]:
                        teams["p1"][active["p1"]]["kos"] += 1
                        teams["p2"][active["p2"]]["kos"] += 1
                        matchup[2] = DOUBLE_DOWN
                    else:
                        teams[p][active[p]]["kos"] += 1
                        matchup[2] = (POKE1_UTURN_KOED if flags["ko"]["p1"]
                                      else POKE2_UTURN_KOED)
                else:
                    # close out old matchup
                    poke1 = teams["p1"][active["p1"]]
                    poke2 = teams["p2"][active["p2"]]
                    matchup = [poke1["species"], poke2["species"], UNKNOWN]
                    if flags["ko"]["p1"] or flags["ko"]["p2"]:
                        if flags["fodder"] and flags["hazard"]:
                            matchup[2] = (POKE1_FODDERED if flags["ko"]["p1"]
                                          else POKE2_FODDERED)
                        else:
                            (poke1 if flags["ko"]["p1"] else poke2)["kos"] += 1
                            matchup[2] = (POKE1_KOED if flags["ko"]["p1"]
                                          else POKE2_KOED)
                    else:
                        if flags["roar"]:
                            matchup[2] = (POKE1_FORCED_OUT if flags["switch"]["p1"]
                                          else POKE2_FORCED_OUT)
                        else:
                            matchup[2] = (POKE1_SWITCHED_OUT if flags["switch"]["p1"]
                                          else POKE2_SWITCHED_OUT)
                    turn_matchups.append(matchup)
                # new matchup
                flags["uturn"] = flags["roar"] = flags["fodder"] = False
                flags["hazard"] = True

            active[side] = identify(name, teams[side], D, idents[side], side)

    battle["matchups"] = [dict(a=a, b=b, outcome=o) for a, b, o in matchups]
    battle["p1_team"], battle["p2_team"] = teams["p1"], teams["p2"]

    # leads — stats.ts:516-535 (first matchup pair, else first turns_out>0)
    leads = {"p1": "empty", "p2": "empty"}
    if matchups:
        leads["p1"], leads["p2"] = matchups[0][0], matchups[0][1]
    else:
        for side in ("p1", "p2"):
            for p in teams[side]:
                if p["turns_out"] > 0:
                    leads[side] = p["species"]
                    break
    battle["lead_p1"], battle["lead_p2"] = leads["p1"], leads["p2"]
    return battle


TEAM_FIELDS = (
    "slot:int,species:string,item:string,ability:string,nature:string,"
    "moves:array<string>,level:int,happiness:int,tera_type:string,"
    "turns_out:int,kos:int,"
    + ",".join(f"{k}:int" for k in EV_KEYS) + ","
    + ",".join(f"{k}:int" for k in IV_KEYS)
)

BATTLE_SCHEMA = (
    "conv_id string, format string, day string, turns int, winner string, "
    "error string, p1_name string, p2_name string, "
    "p1_rpr double, p1_rprd double, p2_rpr double, p2_rprd double, "
    f"p1_team array<struct<{TEAM_FIELDS}>>, "
    f"p2_team array<struct<{TEAM_FIELDS}>>, "
    "matchups array<struct<a:string,b:string,outcome:int>>, "
    "lead_p1 string, lead_p2 string, ts timestamp"
)

_NULL_BATTLE_KEYS = [
    "turns", "winner", "p1_name", "p2_name", "p1_rpr", "p1_rprd", "p2_rpr",
    "p2_rprd", "p1_team", "p2_team", "matchups", "lead_p1", "lead_p2",
]


def _reject_row(meta: dict, err: str) -> dict:
    row = dict(conv_id=meta.get("conv_id"), format=meta.get("format"),
               day=meta.get("day"), error=err, ts=meta.get("ts"))
    for k in _NULL_BATTLE_KEYS:
        row[k] = None
    return row


def parse_battles(transcripts, conversations, dims_payload: dict | None = None):
    """The Spark PARSE operator → one battle row per conversation.

    Physical strategy (chosen over per-group ``applyInPandas``, which
    costs one Python invocation + pandas construction per conversation
    — measured ~2.5 ms/conv of pure overhead):

      1. JVM-side line packing: ``groupBy(conv_id).agg(sort_array(
         collect_list(struct(turn_idx, text))))`` — Tungsten hash agg
         restores the W1 turn ordering and shrinks the fact table to
         one row per conversation.
      2. equi-join with the conversations sidecar on conv_id (both
         sides now battle-granularity; at cluster scale bucket both
         tables by conv_id to eliminate the shuffles).
      3. ONE ``mapInPandas`` over the joined rows — the Python FSM
         runs in a plain loop over Arrow batches of whole
         conversations, thousands per invocation.

    Rejected conversations surface as rows with ``error`` set (P8
    dead-letter routing, not job failure).
    """
    from pyspark.sql import functions as F

    D = dims_payload or make_dims_payload()

    # Arrow ships ONE string per conversation each way — nested
    # structs across the Python boundary cost ~10× more than the FSM
    # itself (millions of per-field object conversions).
    packed = (transcripts
              .groupBy("conv_id")
              .agg(F.array_join(
                  F.transform(
                      F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                      lambda x: x["text"]),
                  "\n").alias("lines_txt")))
    from pyspark.sql.types import StringType

    cv = conversations
    for col in ("p1_team", "p2_team"):
        if not isinstance(cv.schema[col].dataType, StringType):
            cv = cv.withColumn(col, F.to_json(col))
    joined = cv.join(packed, "conv_id", "full_outer")

    meta_cols = [c for c in cv.columns]
    nested = ("p1_team", "p2_team", "matchups")

    def fn(batches):
        import json
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            metas = pdf[meta_cols].to_dict("records")
            for meta, lines_txt in zip(metas, pdf["lines_txt"].tolist()):
                for key in ("p1_team", "p2_team"):
                    t = meta.get(key)
                    meta[key] = json.loads(t) if isinstance(t, str) else []
                lines = lines_txt.split("\n") if lines_txt else []
                if meta.get("p1") is None:   # transcript without metadata
                    row = _reject_row(dict(conv_id=meta["conv_id"]),
                                      "No conversation metadata")
                else:
                    try:
                        row = parse_battle(meta, lines, D)
                    except ParseError as e:
                        row = _reject_row(meta, str(e))
                for key in nested:
                    row[key] = (json.dumps(row[key])
                                if row[key] is not None else None)
                rows.append(row)
            if rows:
                yield pd.DataFrame(rows)

    raw_schema = (BATTLE_SCHEMA
                  .replace(f"p1_team array<struct<{TEAM_FIELDS}>>", "p1_team string")
                  .replace(f"p2_team array<struct<{TEAM_FIELDS}>>", "p2_team string")
                  .replace("matchups array<struct<a:string,b:string,outcome:int>>",
                           "matchups string"))
    # The joined rows are tiny by bytes but expensive by CPU (the FSM) —
    # AQE would coalesce them onto one or two tasks.  Spread explicitly
    # across the cluster before entering Python.  ×8 granularity: with
    # ×3 the FSM stage ran 3 waves whose per-task CPU varies ~±50%
    # (conversation length is format-skewed), so the last wave's
    # straggler idled most cores for tens of seconds (event-log audit:
    # 24 tasks, 31 s mean / 48 s max at 8 cores).  Finer tasks bound
    # the tail at ~1/8 of a wave for ~no per-task overhead (the FSM
    # amortizes per Arrow batch, not per task).
    sc = joined.sparkSession.sparkContext
    joined = joined.repartition(sc.defaultParallelism * 8)
    out = joined.mapInPandas(fn, schema=raw_schema)
    team_t = f"array<struct<{TEAM_FIELDS}>>"
    return (out
            .withColumn("p1_team", F.from_json("p1_team", team_t))
            .withColumn("p2_team", F.from_json("p2_team", team_t))
            .withColumn("matchups",
                        F.from_json("matchups",
                                    "array<struct<a:string,b:string,outcome:int>>")))
