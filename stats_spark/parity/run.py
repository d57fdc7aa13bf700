"""Run the engine over the reference's fixture logs and render the
LEGACY usage/leads reports byte-for-byte (reports.ts:98-172 with
legacy=true, the mode integration.ts:57-67 generated the goldens in).

The aggregation itself is the production engine: parse_battles →
sides/mons frames → aggregate.usage_by_species / leads /
battle_counts.  Only the dims payload (curated real gen data instead of
the synthetic dims) and the format gate sets (the reference's legacy
sets) differ.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stats_spark.operators import aggregate as agg
from stats_spark.operators import enrich
from stats_spark.operators.parse import parse_battles
from stats_spark.parity import fixtures, gen_data
from stats_spark.plans.pipeline import battles_weighted

CUTOFFS = [0, 1500, 1630, 1760]


def build_format_frames(spark, fmt: str) -> dict:
    """Parse one fixture format and produce the usage/leads aggregate
    frames at all four cutoffs."""
    tr, cv = fixtures.to_spark(spark, fmt)
    payload = gen_data.dims_payload(legacy=True)
    battles = parse_battles(tr, cv, payload).cache()

    ns, n6 = payload["non_singles"], payload["non_6v6"]
    sides = enrich.with_effective_rating(
        enrich.sides_from_battles(battles.filter("error IS NULL"),
                                  non_singles=ns, non_6v6=n6))
    mons = (sides.select("conv_id", "format", "side", "short", "outcome",
                         "rating_valid", "eff_rpr", "eff_rprd",
                         F.explode("team").alias("mon"))
            .select("*", F.col("mon.species").alias("species"),
                    F.col("mon.turns_out").alias("turns_out"))
            .drop("mon"))
    usage = agg.usage_by_species(enrich.with_cutoff_weights(mons, CUTOFFS))
    totals = agg.usage_totals(usage)

    bw = battles_weighted(battles.filter("error IS NULL"), CUTOFFS,
                          non_singles=ns, non_6v6=n6)
    leads = agg.leads(bw)
    counts = agg.battle_counts(bw)
    return dict(battles=battles, usage=usage, totals=totals, leads=leads,
                counts=counts)


def gen_for_format(fmt: str) -> int:
    """util.ts genForFormat."""
    import re
    m = re.match(r"gen(\d)", fmt)
    return int(m.group(1)) if m else 6


def side_class_frame(spark, battles):
    """Per-(conv_id, side) legacy classification rows: the reference
    classifies during parse (parser.ts:113); here it is a mapInPandas
    over the parsed battles (teams cross the Arrow boundary as JSON —
    see the parse operator's rationale)."""
    import json

    import pandas as pd

    b = battles.filter("error IS NULL").select(
        "conv_id", "format",
        F.to_json("p1_team").alias("t1"), F.to_json("p2_team").alias("t2"))

    def fn(batches):
        from stats_spark.parity import classifier_legacy as C
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                gen = gen_for_format(r.format)
                for side, tj in (("p1", r.t1), ("p2", r.t2)):
                    team = json.loads(tj) if tj else []
                    bias, stall, tags = C.classify_team(gen, team)
                    rows.append(dict(conv_id=r.conv_id, side=side,
                                     team_bias=bias, team_stalliness=stall,
                                     tags=tags, n_slots=len(team)))
            if rows:
                yield pd.DataFrame(rows)

    schema = ("conv_id string, side string, team_bias long, "
              "team_stalliness double, tags array<string>, n_slots int")
    return b.mapInPandas(fn, schema=schema)


def add_metagame_frames(spark, fmt: str, frames: dict) -> dict:
    """metagame tag weights + stalliness samples: the reference adds
    weights.s once per team SLOT (incl. legacy 'empty' padding) —
    stats.ts:284-297."""
    battles = frames["battles"]
    sc = side_class_frame(spark, battles)
    payload = gen_data.dims_payload(legacy=True)
    sides = enrich.with_effective_rating(
        enrich.sides_from_battles(battles.filter("error IS NULL"),
                                  non_singles=payload["non_singles"],
                                  non_6v6=payload["non_6v6"]))
    sw = enrich.with_weight(enrich.explode_cutoffs(
        sides.join(sc, ["conv_id", "side"]), CUTOFFS))
    meta = (sw.filter(~F.col("short"))
            .select("format", "cutoff",
                    (F.col("weight") * F.col("n_slots")).alias("w"),
                    F.explode("tags").alias("tag"))
            .groupBy("format", "cutoff", "tag")
            .agg(F.sum("w").alias("weight")))
    samples = (sw.filter(~F.col("short"))
               .select("format", "cutoff", "team_stalliness", "weight",
                       "n_slots"))
    frames["meta"] = meta
    frames["samples"] = samples
    return frames


def render_metagame(fmt: str, cutoff: int, frames: dict) -> str:
    """reports.ts:367-412 via the engine's exact renderer, with the
    reference's per-slot sample expansion."""
    from stats_spark.plans.reports import render_metagame_report

    tags = [(r.tag, r.weight) for r in
            frames["meta"].filter((F.col("cutoff") == cutoff)
                                  & (F.col("format") == fmt)).collect()]
    samples = []
    for r in frames["samples"].filter((F.col("cutoff") == cutoff)
                                      & (F.col("format") == fmt)).collect():
        samples.extend([(r.team_stalliness, r.weight)] * r.n_slots)
    tot = {r["format"]: r["total_usage_weighted"] for r in
           frames["totals"].filter(F.col("cutoff") == cutoff).collect()}
    return render_metagame_report(tags, tot.get(fmt, 0.0), samples)


def mon_frame(spark, battles):
    """Per-mon rows for the moveset/detailed aggregates: the set fields
    plus the LEGACY spread (stats.ts:391-412 — only def round-trips;
    gen-aware stat math runs in Python per mon, like the reference)."""
    import json

    import pandas as pd

    b = battles.filter("error IS NULL").select(
        "conv_id", "format", "p1_name", "p2_name",
        F.to_json("p1_team").alias("t1"), F.to_json("p2_team").alias("t2"))

    def fn(batches):
        from stats_spark.parity import gen_stats as G
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                gen = gen_for_format(r.format)
                for side, tj, player in (("p1", r.t1, r.p1_name),
                                         ("p2", r.t2, r.p2_name)):
                    for mon in json.loads(tj) if tj else []:
                        if mon["species"] == "empty":
                            continue
                        evs = {s: mon.get(f"ev_{s}", 0) for s in G.STATS}
                        ivs = {s: mon.get(f"iv_{s}", 31) for s in G.STATS}
                        level = int(mon.get("level") or 100)
                        spread = G.legacy_spread(
                            gen, mon["species"], mon["nature"], evs, ivs,
                            level)
                        base = G.BASE_STATS[mon["species"]]
                        stats_str = "/".join(str(G.calc_stat(
                            gen, s, base[i], int(ivs[s]), int(evs[s]),
                            level, mon["nature"]))
                            for i, s in enumerate(G.STATS))
                        rows.append(dict(
                            conv_id=r.conv_id, format=r.format, side=side,
                            player=player, species=mon["species"],
                            ability=("illuminate"
                                     if mon["ability"] == "unknown"
                                     else mon["ability"]),
                            item=mon["item"], tera_type=mon["tera_type"],
                            happiness=int(mon.get("happiness") or 0),
                            moves=list(mon["moves"]), spread=spread,
                            stats_str=stats_str,
                            turns_out=int(mon.get("turns_out") or 0)))
            if rows:
                yield pd.DataFrame(rows)

    schema = ("conv_id string, format string, side string, player string, "
              "species string, ability string, item string, "
              "tera_type string, happiness int, moves array<string>, "
              "spread string, stats_str string, turns_out int")
    return b.mapInPandas(fn, schema=schema)


def add_detailed_frames(spark, fmt: str, frames: dict) -> dict:
    """moveset maps (weights.m — legacy: invalid ratings weight the
    maps at the 1500/130 default, stats.ts:262-267), teammates,
    encounters and viability for the detailed report."""
    from stats_spark.functions.weights import weighting_expr
    from stats_spark.operators import aggregate as agg
    from stats_spark.plans.pipeline import battles_weighted

    battles = frames["battles"].filter("error IS NULL")
    payload = gen_data.dims_payload(legacy=True)
    ns, n6 = payload["non_singles"], payload["non_6v6"]

    sides = enrich.with_effective_rating(
        enrich.sides_from_battles(battles, non_singles=ns, non_6v6=n6))
    sides_w = enrich.with_weight(enrich.explode_cutoffs(sides, CUTOFFS))
    # legacy m-weight: invalid ratings → weighting(1500, 130, cutoff)
    sides_w = sides_w.withColumn(
        "m_rpr", F.when(F.col("rating_valid"), F.col("eff_rpr"))
                  .otherwise(F.lit(1500.0)))
    sides_w = sides_w.withColumn(
        "m_rprd", F.when(F.col("rating_valid"), F.col("eff_rprd"))
                   .otherwise(F.lit(130.0)))
    sides_w = sides_w.withColumn(
        "weight_m", weighting_expr("m_rpr", "m_rprd", "cutoff"))

    mons = mon_frame(spark, battles)
    mons_w = mons.join(
        sides_w.select("conv_id", "side", "cutoff", "weight", "weight_m",
                       "short", "outcome", "rating_valid", "gxe"),
        ["conv_id", "side"])

    # seven-key maps in one explode (the engine operator shape), over m
    sections = F.flatten(F.array(
        F.array(F.struct(F.lit("Abilities").alias("section"),
                         F.col("ability").alias("key"))),
        F.array(F.struct(F.lit("Items").alias("section"),
                         F.col("item").alias("key"))),
        F.array(F.struct(F.lit("Tera Types").alias("section"),
                         F.col("tera_type").alias("key"))),
        F.array(F.struct(F.lit("Happiness").alias("section"),
                         F.col("happiness").cast("string").alias("key"))),
        F.array(F.struct(F.lit("Spreads").alias("section"),
                         F.col("spread").alias("key"))),
        F.array(F.struct(F.lit("Stats").alias("section"),
                         F.col("stats_str").alias("key"))),
        F.transform("moves", lambda m: F.struct(
            F.lit("Moves").alias("section"), m.alias("key"))),
    ))
    frames["d_moveset"] = (
        mons_w.select("format", "cutoff", "species", "weight_m",
                      F.explode(sections).alias("kv"))
        .groupBy("format", "cutoff", "species", "kv.section", "kv.key")
        .agg(F.sum("weight_m").alias("weight")))

    # p.raw / p.saved accumulate weights.m (stats.ts:311-316)
    frames["d_raw_m"] = (mons_w.groupBy("format", "cutoff", "species")
                         .agg(F.sum("weight_m").alias("raw_weight_m"),
                              F.count("*").alias("raw_count"),
                              F.sum(F.when(F.col("rating_valid"),
                                           F.col("weight_m"))
                                     .otherwise(0.0)).alias("saved_weight_m"),
                              F.sum(F.col("rating_valid").cast("int"))
                               .alias("saved_count")))

    # the production aggregates read the wide cutoff shape
    sides_wide = enrich.with_cutoff_weights(sides, CUTOFFS)
    frames["d_teammates"] = agg.teammates(sides_wide)
    # the reference's 'empty' teammate is an order-dependent OVERWRITE,
    # not a sum: updateTeammates receives a FRESH {} for empty mons
    # (stats.ts:299-300), so pokemon[b].teammates['empty'] ends at the
    # weight of the LAST battle processed (fs.readdirSync is
    # libuv-alphasorted → lexicographic conv_id order, p2 after p1)
    from pyspark.sql import Window
    has_empty = F.exists("team", lambda m: m["species"] == "empty")
    cand = (sides_w.filter(~F.col("short") & has_empty)
            .select("format", "cutoff", "conv_id", "side", "weight",
                    F.explode("team").alias("m"))
            .filter(F.col("m.species") != "empty")
            .select("format", "cutoff", "conv_id", "side", "weight",
                    F.col("m.species").alias("species")))
    w_last = Window.partitionBy("format", "cutoff", "species") \
                   .orderBy(F.desc("conv_id"), F.desc("side"))
    frames["d_empty_tm"] = (cand.withColumn("rn", F.row_number().over(w_last))
                            .filter(F.col("rn") == 1)
                            .select("format", "cutoff", "species",
                                    F.col("weight").alias("empty_w")))
    # getTeammates (reports.ts:736-746) forces a teammate's value to 0
    # when stats.pokemon[id] does not exist; stats.pokemon['empty'] is
    # created only by updateTeammates over a team with >= TWO empty
    # slots (the earlier empty appears as the pair's b side)
    n_empty = F.size(F.filter("team", lambda m: m["species"] == "empty"))
    frames["d_empty_exists"] = {
        r.format for r in
        sides_w.filter(~F.col("short") & (n_empty >= 2))
        .select("format").distinct().collect()}
    bw = battles_weighted(battles, CUTOFFS, non_singles=ns, non_6v6=n6)
    frames["d_encounters"] = agg.encounters(bw)
    frames["d_unique"] = agg.unique_players(mons.join(
        sides_wide.select("conv_id", "side", "short", "gxe",
                          *enrich.WIDE_COLS),
        ["conv_id", "side"]))
    frames["d_viability"] = agg.viability(frames["d_unique"])
    return frames


# JS localeCompare approximation for toDisplayObject tie-breaks: the
# default ICU collation compares case-insensitively with punctuation at
# lower strength; names here are ASCII so (alnum+space lowered, then
# raw) is a faithful stand-in.
def _lc_key(s: str):
    primary = "".join(c for c in s.lower() if c.isalnum() or c == " ")
    return (primary, s)


def _display_map(section: str, key: str, names: dict) -> str:
    if section in ("Spreads", "Happiness"):
        return key
    if section == "Tera Types":
        return key[0].upper() + key[1:] if key else key
    if section == "Moves" and key == "":
        return "Nothing"
    if section == "Items" and key == "nothing":
        return "Nothing"
    return names.get(key) or gen_data.display_name(key)


def render_detailed(fmt: str, cutoff: int, frames: dict,
                    names: dict | None = None) -> str:
    """detailedMovesetReport — reports.ts:335-365 + toMovesetStatistics
    (reports.ts:657-725), byte-exact incl. JSON key ordering (insertion
    order = usage ranking; map keys ordered weight desc, display-name
    localeCompare asc) and JS number formatting."""
    names = names or {}
    counts = {r["format"]: r["battles"] for r in
              frames["counts"].filter(F.col("cutoff") == cutoff).collect()}
    t = {r["format"]: r.asDict() for r in
         frames["totals"].filter(F.col("cutoff") == cutoff).collect()}
    tot = t.get(fmt, {})
    usage_rows = [r.asDict() for r in frames["usage"]
                  .filter((F.col("cutoff") == cutoff)
                          & (F.col("format") == fmt)).collect()]
    real = fmt in gen_data.REAL_RANKED
    total = max(1.0, (tot.get("total_usage_real") if real
                      else tot.get("total_usage_weighted")) or 0.0)

    def usage_of(r):
        n = r["usage_real"] if real else r["usage_weighted"]
        return _round(n / total * 6, 1e7)

    usage_rows.sort(key=lambda r: (-usage_of(r), r["species"]))

    ms = {}
    for r in frames["d_moveset"].filter((F.col("cutoff") == cutoff)
                                        & (F.col("format") == fmt)).collect():
        ms.setdefault(r.species, {}).setdefault(r.section, []) \
          .append((r.key, r.weight))
    tm = {}
    for r in frames["d_teammates"].filter(
            (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect():
        if r.teammate != "empty" and r.species != "empty":
            tm.setdefault(r.species, []).append((r.teammate, r.weight))
    empty_exists = fmt in frames.get("d_empty_exists", ())
    for r in frames["d_empty_tm"].filter(
            (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect():
        tm.setdefault(r.species, []).append(
            ("empty", r.empty_w if empty_exists else 0.0))
    enc = {}
    for r in frames["d_encounters"].filter(
            (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect():
        enc.setdefault(r.species, []).append(
            (r.opponent, [r[f"o{i}"] for i in range(13)]))
    via = {r.species: [r.n, int(r.gxe_max), int(r.gxe_p1), int(r.gxe_p20)]
           for r in frames["d_viability"].filter(
               (F.col("cutoff") == cutoff)
               & (F.col("format") == fmt)).collect()}

    data = {}
    for r in usage_rows:
        sp = r["species"]
        if sp == "empty":
            continue
        u = usage_of(r)
        if u < 0.0001:
            break
        entry = {}
        entry["Raw count"] = int(r["raw_count"])
        entry["usage"] = u
        entry["Viability Ceiling"] = via.get(sp, [0, 0, 0, 0])
        secs = ms.get(sp, {})
        for section in ("Abilities", "Items", "Tera Types", "Spreads",
                        "Happiness", "Moves"):
            kvs = secs.get(section, [])
            kvs.sort(key=lambda kv: (-kv[1],
                                     _lc_key(_display_map(section, kv[0],
                                                          names))))
            entry[section] = {k: _round(w) for k, w in kvs}
        mates = tm.get(sp, [])
        mates = [(gen_data.display_species(k), w) for k, w in mates]
        mates.sort(key=lambda kv: (-kv[1], _lc_key(kv[0])))
        entry["Teammates"] = {k: _round(w) for k, w in mates}
        cc = []
        for opp, o in enc.get(sp, []):
            n = sum(o[:6])
            # integration.ts:202 passes min=[0, -Infinity] to
            # movesetReports — every encountered opponent qualifies
            if n <= 0:
                continue
            p = _round((o[0] + o[3]) / n)
            d = _round(((p * (1.0 - p)) / n) ** 0.5)
            score = _round(p - 4 * d)
            cc.append((opp, dict(n=_round(n), p=p, d=d), score))
        # util.ts:351 sorts by RAW id; keys display-map on emit
        cc.sort(key=lambda x: (-x[2], x[0]))
        entry["Checks and Counters"] = {
            gen_data.display_species(k): v for k, v, _s in cc}
        data[gen_data.display_species(sp)] = entry

    info = {"metagame": fmt, "cutoff": cutoff, "cutoff deviation": 0,
            "team type": None, "number of battles": counts.get(fmt, 0)}
    return _json_js({"info": info, "data": data})


def render_movesets_txt(fmt: str, cutoff: int, frames: dict) -> str:
    """movesetReport — reports.ts:190-332 with min=[0, -Infinity] (the
    integration harness's arguments): section truncation rules, display
    names, the Tera-Types skip, and the C&C heading gate."""
    import math

    names: dict = {}
    t = {r["format"]: r.asDict() for r in
         frames["totals"].filter(F.col("cutoff") == cutoff).collect()}
    tot = t.get(fmt, {})
    usage_rows = [r.asDict() for r in frames["usage"]
                  .filter((F.col("cutoff") == cutoff)
                          & (F.col("format") == fmt)).collect()]
    real = fmt in gen_data.REAL_RANKED
    total = max(1.0, (tot.get("total_usage_real") if real
                      else tot.get("total_usage_weighted")) or 0.0)

    def usage_of(r):
        n = r["usage_real"] if real else r["usage_weighted"]
        return _round(n / total * 6, 1e7)

    usage_rows.sort(key=lambda r: (-usage_of(r), r["species"]))
    rawm = {r.species: r.asDict() for r in frames["d_raw_m"].filter(
        (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect()}
    ms = {}
    for r in frames["d_moveset"].filter((F.col("cutoff") == cutoff)
                                        & (F.col("format") == fmt)).collect():
        ms.setdefault(r.species, {}).setdefault(r.section, []) \
          .append((r.key, r.weight))
    tm = {}
    for r in frames["d_teammates"].filter(
            (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect():
        if r.teammate != "empty" and r.species != "empty":
            tm.setdefault(r.species, []).append((r.teammate, r.weight))
    empty_exists = fmt in frames.get("d_empty_exists", ())
    for r in frames["d_empty_tm"].filter(
            (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect():
        tm.setdefault(r.species, []).append(
            ("empty", r.empty_w if empty_exists else 0.0))
    enc = {}
    for r in frames["d_encounters"].filter(
            (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect():
        enc.setdefault(r.species, []).append(
            (r.opponent, [r[f"o{i}"] for i in range(13)]))
    via = {r.species: int(r.gxe_max) for r in frames["d_viability"].filter(
        (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect()}

    W = 40
    pad = lambda s: s.ljust(W + 1) + "|"            # noqa: E731
    sep = "+" + "-" * W + "+\n"
    out = ""
    for r in usage_rows:
        sp = r["species"]
        if sp == "empty":
            continue
        if usage_of(r) < 0.0001:
            break
        rm = rawm.get(sp, {})
        raw_w = max(rm.get("raw_weight_m") or 0.0, 1e-300)
        out += sep + pad(f"| {gen_data.display_species(sp)}") + "\n" + sep
        out += pad(f"| Raw count: {int(rm.get('raw_count') or 0)}") + "\n"
        sc, sw = rm.get("saved_count") or 0, rm.get("saved_weight_m") or 0.0
        avg = _round_str(sw / sc, 1e12) if sc else "---"
        out += pad(f"| Avg. weight: {avg}") + "\n"
        out += pad(f"| Viability Ceiling: {via.get(sp, 0)}") + "\n" + sep

        secs = ms.get(sp, {})

        def ordered(section):
            kvs = list(secs.get(section, []))
            kvs.sort(key=lambda kv: (-kv[1],
                                     _lc_key(_display_map(section, kv[0],
                                                          names))))
            return kvs

        def disp(n, w):
            return pad(f"| {n} {100 * w:.3f}%") + "\n"

        def other(t, f=1):
            return pad(f"| Other {abs(f * 100 * (1 - t)):.3f}%") + "\n"

        out += pad("| Abilities") + "\n"
        totv = 0.0
        for i, (k, v) in enumerate(ordered("Abilities")):
            if i > 5:
                out += other(totv)
                break
            w = v / raw_w
            out += disp(gen_data.display_name(k), w)
            totv += w
        out += sep
        out += pad("| Items") + "\n"
        totv = 0.0
        for k, v in ordered("Items"):
            if totv > 0.95:
                out += other(totv)
                break
            w = v / raw_w
            out += disp("Nothing" if k == "nothing"
                        else gen_data.display_name(k), w)
            totv += w
        out += sep
        out += pad("| Spreads") + "\n"
        totv = 0.0
        for i, (k, v) in enumerate(ordered("Spreads")):
            if totv > 0.95 or i > 5:
                out += other(totv)
                break
            w = v / raw_w
            out += disp(k, w)
            totv += w
        out += sep
        out += pad("| Moves") + "\n"
        totv = 0.0
        for k, v in ordered("Moves"):
            if totv > 0.95:
                out += other(totv, 4)
                break
            w = v / raw_w
            out += disp("Nothing" if k == ""
                        else gen_data.display_name(k), w)
            totv += w / 4
        out += sep
        totv = 0.0
        tera = ordered("Tera Types")
        if not (len(tera) == 1 and tera[0][0].lower() == "nothing"):
            out += pad("| Tera Types") + "\n"
            for k, v in tera:
                if totv > 0.95:
                    out += other(totv)
                    break
                w = v / raw_w
                out += disp(k[0].upper() + k[1:], w)
                totv += w
            out += sep
            totv = 0.0
        out += pad("| Teammates") + "\n"
        mates = [(gen_data.display_species(k), w) for k, w in tm.get(sp, [])]
        mates.sort(key=lambda kv: (-kv[1], _lc_key(kv[0])))
        totv = 0.0
        for i, (k, v) in enumerate(mates):
            if totv > 0.95 or i > 10:
                break
            if v < 0.005 * raw_w:
                break
            w = v / raw_w
            out += pad(f"| {k} {100 * w:.3f}%") + "\n"
            totv += w / 5
        out += sep
        cc = []
        for opp, o in enc.get(sp, []):
            n = sum(o[:6])
            if n <= 0:
                continue
            p = _round((o[0] + o[3]) / n)
            d = _round(((p * (1.0 - p)) / n) ** 0.5)
            score = _round(p - 4 * d)
            cc.append((opp, dict(n=n, p=p, d=d, koed=o[0], switched=o[3]),
                       score))
        cc.sort(key=lambda x: (-x[2], x[0]))
        if any(v["p"] - 4.0 * v["d"] >= 0.5 for _k, v, _s in cc):
            out += pad("| Checks and Counters") + "\n"
            for i, (k, v, score) in enumerate(cc):
                if i > 11:
                    break
                line = (f"| {gen_data.display_species(k)} "
                        f"{100 * score:.3f} "
                        f"({100 * v['p']:.2f}±{100 * v['d']:.2f})")
                out += line.ljust(W + 1) + "|\n"
                ko = 100 * v["koed"] / v["n"]
                swo = 100 * v["switched"] / v["n"]
                line2 = f"|\t({ko:.1f}% KOed / {swo:.1f}% switched out)"
                if ko < 10:
                    line2 += " "
                if swo < 10:
                    line2 += " "
                out += line2 + "\n"
            out += sep
    return out


def render_display(fmt: str, cutoff: int, frames: dict) -> str:
    """Display.fromStatistics — display.ts:94-172 (min=0, the
    integration harness's argument), serialized with a
    json-stringify-pretty-compact emulation (maxLength 80, indent 2)."""
    R = lambda v: _round(v, 1e4)  # noqa: E731

    def fsel(name):
        return [r.asDict() for r in frames[name].filter(
            (F.col("cutoff") == cutoff) & (F.col("format") == fmt)).collect()]

    usage_rows = fsel("usage")
    t = {r["format"]: r.asDict() for r in
         frames["totals"].filter(F.col("cutoff") == cutoff).collect()}
    tot = t.get(fmt, {})
    counts = {r["format"]: r["battles"] for r in
              frames["counts"].filter(F.col("cutoff") == cutoff).collect()}
    leads = {r["species"]: r for r in fsel("leads")}
    lead_tot = dict(
        raw=sum(r["lead_raw"] for r in leads.values()) or 0,
        real=sum(r["lead_real"] for r in leads.values()) or 0,
        weighted=sum(r["lead_weighted"] for r in leads.values()) or 0.0)
    rawm = {r["species"]: r for r in fsel("d_raw_m")}
    uniq = fsel("d_unique")
    per_sp: dict = {}
    per_player: dict = {}
    gxes: dict = {}
    for r in uniq:
        sp, pl = r["species"], r["player"]
        d = per_sp.setdefault(sp, dict(raw=0, real=0, weighted=0.0))
        d["raw"] += 1
        if r["r"] is not None:
            d["real"] += r["r"]
        if r["w"] is not None:
            d["weighted"] += r["w"]
        if r["g"] is not None:
            gxes.setdefault(sp, []).append(int(r["g"]))
        a = per_player.setdefault(pl, dict(r=None, w=None))
        if r["r"] is not None:
            a["r"] = (a["r"] or 0) | int(r["r"])
        if r["w"] is not None:
            a["w"] = max(a["w"] or 0.0, r["w"])
    uniq_tot = dict(
        raw=len(per_player),
        real=sum(a["r"] or 0 for a in per_player.values()),
        weighted=sum(a["w"] or 0.0 for a in per_player.values()))
    ms = {}
    for r in fsel("d_moveset"):
        ms.setdefault(r["species"], {}).setdefault(r["section"], []) \
          .append((r["key"], r["weight"]))
    tm = {}
    for r in fsel("d_teammates"):
        if r["teammate"] != "empty" and r["species"] != "empty":
            tm.setdefault(r["species"], []).append((r["teammate"],
                                                    r["weight"]))
    empty_exists = fmt in frames.get("d_empty_exists", ())
    for r in fsel("d_empty_tm"):
        tm.setdefault(r["species"], []).append(
            ("empty", r["empty_w"] if empty_exists else 0.0))
    enc = {}
    for r in fsel("d_encounters"):
        enc.setdefault(r["species"], []).append(
            (r["opponent"], [r[f"o{i}"] for i in range(13)]))

    real = fmt in gen_data.REAL_RANKED
    dsp = lambda k: gen_data.display_species(k, legacy=False)  # noqa: E731
    usage_rows.sort(key=lambda r: (
        -(r["usage_real"] if real else r["usage_weighted"]),
        _lc_key(dsp(r["species"]))))

    def calc_usage(n, d, f=1):
        return {"raw": R(n["raw"] / d["raw"] * f) if d["raw"] else None,
                "real": R(n["real"] / d["real"] * f) if d["real"] else None,
                "weighted": (R(n["weighted"] / d["weighted"] * f)
                             if d["weighted"] else None)}

    def to_display(kvs, weight, disp):
        kvs = [(disp(k), v) for k, v in kvs]
        kvs.sort(key=lambda kv: (-kv[1], _lc_key(kv[0])))
        out = {}
        for k, v in kvs:
            r = R(v / weight)
            if not r:
                break
            out[k] = r
        return out

    pokemon = {}
    for r in usage_rows:
        sp = r["species"]
        if sp == "empty":
            continue
        # display.ts calcUsage divides by the RAW totals (no max(1,…))
        usage = calc_usage(
            dict(raw=r["usage_raw"], real=r["usage_real"],
                 weighted=r["usage_weighted"]),
            dict(raw=tot.get("total_usage_raw") or 0,
                 real=tot.get("total_usage_real") or 0,
                 weighted=tot.get("total_usage_weighted") or 0.0),
            6)
        if not usage["weighted"]:
            break
        rm = rawm.get(sp, {})
        raw_w = max(rm.get("raw_weight_m") or 0.0, 1e-300)
        lu = leads.get(sp)
        lead = calc_usage(
            dict(raw=lu["lead_raw"] if lu else 0,
                 real=lu["lead_real"] if lu else 0,
                 weighted=lu["lead_weighted"] if lu else 0.0), lead_tot)
        u_sp = per_sp.get(sp, dict(raw=0, real=0, weighted=0.0))
        win = calc_usage(
            dict(raw=r["win_raw"], real=r["win_real"],
                 weighted=r["win_weighted"]),
            dict(raw=r["usage_raw"], real=r["usage_real"],
                 weighted=r["usage_weighted"]))
        g = sorted(gxes.get(sp, []), reverse=True)
        import math
        via = ([len(g), g[0], g[math.ceil(0.01 * len(g)) - 1],
                g[math.ceil(0.2 * len(g)) - 1]] if g else [0, 0, 0, 0])
        secs = ms.get(sp, {})
        sc, sw = rm.get("saved_count") or 0, rm.get("saved_weight_m") or 0.0
        cc = []
        for opp, o in enc.get(sp, []):
            n = sum(o[:6])
            if n <= 0:
                continue
            p = _round((o[0] + o[3]) / n)
            d = _round(((p * (1.0 - p)) / n) ** 0.5)
            score = _round(p - 4 * d)
            cc.append((opp, [R(n), R(o[0] / n), R(o[3] / n)], score))
        cc.sort(key=lambda x: (-x[2], x[0]))
        pokemon[dsp(sp)] = {
            "lead": lead,
            "usage": usage,
            "unique": calc_usage(u_sp, uniq_tot, 6),
            "win": win,
            "count": int(rm.get("raw_count") or 0),
            "weight": R(sw / sc) if sc else None,
            "viability": via,
            "abilities": to_display(secs.get("Abilities", []), raw_w,
                                    gen_data.display_name),
            "items": to_display(
                secs.get("Items", []), raw_w,
                lambda k: "Nothing" if k == "nothing"
                else gen_data.display_name(k)),
            "teraTypes": to_display(
                secs.get("Tera Types", []), raw_w,
                lambda k: k[0].upper() + k[1:] if k else k),
            "stats": to_display(secs.get("Stats", []), raw_w, lambda k: k),
            "moves": to_display(
                secs.get("Moves", []), raw_w,
                lambda k: "Nothing" if k == ""
                else gen_data.display_name(k)),
            # display getTeammates SKIPS non-species ids ('empty') —
            # display.ts:331-333
            "teammates": to_display(
                [(dsp(k), v) for k, v in
                 tm.get(sp, []) if k != "empty"], raw_w, lambda k: k),
            "counters": {dsp(k): v
                         for k, v, _s in cc},
        }

    tags = [(r["tag"], r["weight"]) for r in fsel("meta")]
    tags.sort(key=lambda kv: (-kv[1], kv[0]))
    W = max(1.0, tot.get("total_usage_weighted") or 0.0)
    tag_obj = {}
    for k, v in tags:
        rr = R(v / W)
        if not rr:
            break
        tag_obj[k] = rr
    samples = []
    for r in fsel("samples"):
        samples.extend([(r["team_stalliness"], r["weight"])] * r["n_slots"])
    from stats_spark.plans.reports import stalliness_histogram
    hist, _bs, mean, htot = stalliness_histogram(samples)
    # JS 0/0 = NaN -> JSON null (util.ts mean with zero total)
    mean_j = R(mean) if htot else None
    doc = {
        "battles": counts.get(fmt, 0),
        "pokemon": pokemon,
        "metagame": {
            "tags": tag_obj,
            "stalliness": {
                "histogram": [[R(b), R(n)] for b, n in hist],
                "mean": mean_j,
                "total": R(htot),
            },
        },
    }
    return _pretty_js(doc)


def _pretty_js(obj, indent=0, max_length=80, reserved=0) -> str:
    """json-stringify-pretty-compact(v3) emulation: inline when the
    compact form fits in (maxLength - indent - reserved), where
    reserved covers the key prefix and trailing comma already occupying
    the line; else expand with 2-space indentation."""
    compact = _compact_js(obj)
    if len(compact) <= max_length - indent - reserved:
        return compact
    if isinstance(obj, dict) and obj:
        pad = " " * (indent + 2)
        keys = list(obj)
        parts = []
        for i, k in enumerate(keys):
            key_part = _json_js_str(k) + ": "
            rsv = len(key_part) + (1 if i < len(keys) - 1 else 0)
            parts.append(pad + key_part
                         + _pretty_js(obj[k], indent + 2, max_length, rsv))
        return "{\n" + ",\n".join(parts) + "\n" + " " * indent + "}"
    if isinstance(obj, (list, tuple)) and obj:
        pad = " " * (indent + 2)
        parts = [pad + _pretty_js(v, indent + 2, max_length,
                                  1 if i < len(obj) - 1 else 0)
                 for i, v in enumerate(obj)]
        return "[\n" + ",\n".join(parts) + "\n" + " " * indent + "]"
    return compact


def _compact_js(obj) -> str:
    """Single-line JSON.stringify-with-spaces (', ' and ': ')."""
    if isinstance(obj, dict):
        return "{" + ", ".join(
            f"{_json_js_str(k)}: {_compact_js(v)}" for k, v in obj.items()) \
            + "}"
    if isinstance(obj, (list, tuple)):
        return "[" + ", ".join(_compact_js(v) for v in obj) + "]"
    return _json_js(obj)


def _round(v: float, p: float = 1e10) -> float:
    import math
    return math.floor(v * p + 0.5) / p


def _json_js(obj) -> str:
    """JSON.stringify: compact, insertion order, JS number formatting
    (integral floats print without '.0'; exponents unpadded)."""
    if isinstance(obj, dict):
        # JS object property enumeration: canonical array-index keys
        # ascend numerically BEFORE string keys in insertion order —
        # this is why golden Happiness maps print {"0":…,"255":…}
        def is_index(k):
            s = str(k)
            return s.isdigit() and (s == "0" or not s.startswith("0"))
        keys = sorted([k for k in obj if is_index(k)], key=lambda k: int(k))
        keys += [k for k in obj if not is_index(k)]
        items = ",".join(f"{_json_js_str(k)}:{_json_js(obj[k])}"
                         for k in keys)
        return "{" + items + "}"
    if isinstance(obj, (list, tuple)):
        return "[" + ",".join(_json_js(v) for v in obj) + "]"
    if obj is None:
        return "null"
    if isinstance(obj, bool):
        return "true" if obj else "false"
    if isinstance(obj, float):
        if obj == int(obj) and abs(obj) < 1e15:
            return str(int(obj))
        r = repr(obj)
        if "e" in r:  # JS prints e-7, Python e-07
            m, e = r.split("e")
            e = e.replace("-0", "-").replace("+0", "+").replace("+", "")
            r = f"{m}e{e}"
        return r
    if isinstance(obj, int):
        return str(obj)
    return _json_js_str(obj)


def _json_js_str(s) -> str:
    import json
    return json.dumps(str(s), ensure_ascii=False)


def _js_num(v: float) -> str:
    """JS Number#toString for the roundStr path (shortest repr)."""
    r = repr(v)
    return r[:-2] if r.endswith(".0") else r


def _round_str(v: float, p: float) -> str:
    """util.ts:277-284 — Math.round is half-up toward +inf."""
    import math
    num = math.floor(v * p + 0.5) / p
    return f"{num:.1f}" if num == math.floor(num) else _js_num(num)


def render_usage(fmt: str, cutoff: int, frames: dict) -> str:
    """reports.ts:98-137, legacy=true."""
    rows = [r.asDict() for r in
            frames["usage"].filter(F.col("cutoff") == cutoff).collect()]
    tot = {r["format"]: r.asDict() for r in
           frames["totals"].filter(F.col("cutoff") == cutoff).collect()}
    counts = {r["format"]: r["battles"] for r in
              frames["counts"].filter(F.col("cutoff") == cutoff).collect()}
    t = tot.get(fmt, {})
    battles = counts.get(fmt, 0)
    total = dict(
        raw=max(1.0, t.get("total_usage_raw") or 0),
        real=max(1.0, t.get("total_usage_real") or 0),
        weighted=max(1.0, t.get("total_usage_weighted") or 0.0),
    )

    entries = [r for r in rows if r["species"] != "empty"]
    if fmt in gen_data.REAL_RANKED:
        entries.sort(key=lambda r: (-r["usage_real"], r["species"]))
    else:
        entries.sort(key=lambda r: (-r["usage_weighted"], r["species"]))

    s = f"Total battles: {battles}\n"
    avg = (_round_str((t.get("total_usage_weighted") or 0.0) / battles / 12,
                      1e3) if battles else "0.0")
    s += f"Avg. weight/team: {avg}\n"
    bar = ("+ ---- + ------------------ + --------- + ------ + ------- "
           "+ ------ + ------- + \n")
    s += bar
    s += ("| Rank | Pokemon            | Usage %   | Raw    | %       "
          "| Real   | %       | \n")
    s += bar
    for i, r in enumerate(entries):
        if r["usage_raw"] == 0:
            break
        poke = gen_data.display_species(r["species"]).ljust(18)
        use = f"{100 * r['usage_weighted'] / total['weighted'] * 6:.5f}" \
            .rjust(8)
        rawp = f"{100 * r['usage_raw'] / total['raw'] * 6:.3f}".rjust(6)
        realp = f"{100 * r['usage_real'] / total['real'] * 6:.3f}".rjust(6)
        s += (f"| {str(i + 1).ljust(4)} | {poke} | {use}% "
              f"| {str(r['usage_raw']).ljust(6)} | {rawp}% "
              f"| {str(r['usage_real']).ljust(6)} | {realp}% | \n")
    s += bar
    return s


def render_leads(fmt: str, cutoff: int, frames: dict) -> str:
    """reports.ts:139-172, legacy=true."""
    rows = [r.asDict() for r in
            frames["leads"].filter((F.col("cutoff") == cutoff)
                                   & (F.col("format") == fmt)).collect()]
    counts = {r["format"]: r["battles"] for r in
              frames["counts"].filter(F.col("cutoff") == cutoff).collect()}
    battles = counts.get(fmt, 0)
    total_raw = max(1.0, sum(r["lead_raw"] for r in rows))
    total_w = max(1.0, sum(r["lead_weighted"] for r in rows))

    s = f"Total leads: {battles * 2}\n"
    bar = "+ ---- + ------------------ + --------- + ------ + ------- + \n"
    s += bar
    s += "| Rank | Pokemon            | Usage %   | Raw    | %       | \n"
    s += bar
    rows = [r for r in rows if r["species"] != "empty"]
    rows.sort(key=lambda r: (-r["lead_weighted"], -r["lead_raw"],
                             r["species"]))
    for i, r in enumerate(rows):
        if r["lead_raw"] == 0:
            break
        poke = gen_data.display_species(r["species"]).ljust(18)
        use = f"{100 * r['lead_weighted'] / total_w:.5f}".rjust(8)
        pct = f"{100 * r['lead_raw'] / total_raw:.3f}".rjust(6)
        s += (f"| {str(i + 1).ljust(4)} | {poke} | {use}% "
              f"| {str(r['lead_raw']).ljust(6)} | {pct}% | \n")
    s += bar
    return s
