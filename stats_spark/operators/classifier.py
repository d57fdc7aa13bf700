"""Full team classifier — the Spark port of the reference's biggest
logic block (C1–C6):

  derive_move_tables   the 13 move-category tables DERIVED from the
                       moves dim's mechanical attributes, mirroring
                       `/root/reference/stats/src/classifier.ts:524-762`
                       (computeGreaterSetupMoves … computeLesserOffensiveMoves)
  mon_classifier_cols  per-mon stalliness (classifyForme,
                       classifier.ts:113-144) with ability/item/move
                       modifiers, forme-averaged for megas
                       (classifyPokemon, classifier.ts:60-107 — C4),
                       plus the per-mon tag indicator columns
  classify_sides       per-side aggregation + the FULL tag set
                       (classifier.ts:203-393): weather, batonpass,
                       tailwind, trickroom(+combos), gravity, voltturn,
                       dragmag, trapper, fear(+combos), choice,
                       swagplay, monotype, stalliness bucket(+weather
                       offense/stall combos)

Everything is declarative column math over broadcast literal sets (the
tables are a few hundred ids — they ship inside the plan), so the whole
classifier stays inside whole-stage codegen; no Python in the path.

The reference caps its per-team style counters (e.g. ``style.choice <
4``) *before* incrementing; since every threshold test is of the form
``counter > k`` with ``cap >= k+1`` and increments are monotone, an
uncapped per-mon indicator SUM crosses ``k`` iff the capped walk does —
so plain sums are threshold-equivalent (the one exception, gravity,
whose first branch ``> 2`` is unreachable under its own cap of 2, is
mirrored exactly: see tag_gravity below).  The plain-Python oracle in
tests/oracle.py implements the capped walk literally as an independent
check of this equivalence.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, functions as F

from stats_spark.datagen import dims
from stats_spark.functions import statcalc

LOG3_LOG2 = statcalc.LOG3_LOG2

TARGETS_FOES = {"normal", "adjacentFoe", "allAdjacentFoes", "foeSide"}

SLOW_NATURES = ("brave", "relaxed", "quiet", "sassy")


@lru_cache(maxsize=1)
def derive_move_tables() -> dict[str, frozenset]:
    """The 13 category tables, derived from move attributes exactly the
    way classifier.ts:524-762 derives them from ``gen.moves``."""
    ma = dims.move_attributes()
    rows = ma.to_dict("records")

    def ids(pred):
        return frozenset(r["move_id"] for r in rows if pred(r))

    def boosts_any(r):
        return any(r[f"boost_{s}"] != 0
                   for s in ("atk", "spa", "spe", "def", "spd", "eva"))

    def targets_foes(r):
        return r["target"] in TARGETS_FOES

    # computeGreaterSetupMoves — classifier.ts:524-547
    greater_setup = ids(lambda r: (
        boosts_any(r) and not targets_foes(r) and r["role"] != "shellsmash"
        and ((r["boost_atk"] >= 1 and r["boost_spe"] >= 1)
             or r["boost_atk"] >= 2
             or (r["boost_spa"] >= 1 and r["boost_spe"] >= 1)
             or r["boost_spa"] >= 2))) | ids(lambda r: (
        r["base_power"] >= 80 and r["sec_self_boost"]
        and r["sec_chance"] >= 50))

    # computeLesserSetupMoves — classifier.ts:555-577
    lesser_setup = (
        ids(lambda r: (not targets_foes(r) and r["boost_spe"] == 0
                       and ((r["boost_atk"] == 1 and r["boost_spa"] == 0)
                            or (r["boost_spa"] == 1 and r["boost_atk"] == 0))))
        | ids(lambda r: (0 < r["base_power"] < 80 and r["sec_self_boost"]
                         and r["sec_chance"] >= 50))
        | ids(lambda r: (not targets_foes(r) and r["boost_spe"] >= 1
                         and r["boost_atk"] == 0 and r["boost_spa"] == 0))
        | ids(lambda r: not targets_foes(r) and r["boost_eva"] >= 1))

    # computeBatonPassMoves — classifier.ts:588-605
    baton_pass = (
        ids(lambda r: boosts_any(r) and r["target"] in ("self", "allies"))
        | ids(lambda r: (r["base_power"] > 0 and r["sec_self_boost"]
                         and r["sec_chance"] >= 50))
        | ids(lambda r: r["role"] in ("substitute", "bellydrum")))

    # computeGravityMoves — classifier.ts:617-633 (low accuracy, ground
    # type, grounded hazards)
    gravity = (
        ids(lambda r: (r["target"] in ("normal", "allAdjacentFoes", "any")
                       and 0 < r["accuracy"] <= 80))
        | ids(lambda r: r["type"] == "ground" and r["target"] != "all")
        | ids(lambda r: r["hazard"]))

    # computeRecoveryMoves — classifier.ts:640-649
    recovery = ids(lambda r: (r["heal"] and not r["selfdestruct"]
                              and r["target"] in ("self", "allies")))

    # computeProtectionMoves — classifier.ts:655-659
    protection = ids(lambda r: r["stalling"])

    # computePhazingMoves — classifier.ts:663-665
    phazing = ids(lambda r: r["force_switch"])

    # computeParalysisMoves — classifier.ts:669-679
    paralysis = (ids(lambda r: r["status"] == "par" and r["base_power"] == 0)
                 | ids(lambda r: (r["sec_status"] == "par"
                                  and r["sec_chance"] == 100
                                  and r["accuracy"] == 100)))

    # computeConfusionMoves — classifier.ts:685-701
    confusion = (ids(lambda r: r["volatile"] == "confusion")
                 | ids(lambda r: (r["sec_volatile"] == "confusion"
                                  and r["sec_chance"] == 100
                                  and r["accuracy"] == 100)))

    # computeSleepMoves — classifier.ts:707-717
    sleep = (ids(lambda r: r["status"] == "slp" and r["base_power"] == 0)
             | ids(lambda r: (r["sec_status"] == "slp"
                              and r["sec_chance"] == 100
                              and r["accuracy"] == 100)))

    # computeOHKOMoves — classifier.ts:721-723
    ohko = ids(lambda r: r["ohko"])

    # computeGreaterOffensiveMoves — classifier.ts:730-735
    greater_offensive = (ids(lambda r: r["selfdestruct"])
                         | ids(lambda r: r["role"] in ("destinybond",
                                                       "perishsong")))

    # computeLesserOffensiveMoves — classifier.ts:743-762
    lesser_offensive = ids(lambda r: (
        r["recoil"] or r["crash"] or r["locked"] or r["drop_def"]))

    return dict(
        greater_setup=greater_setup, lesser_setup=lesser_setup,
        baton_pass=baton_pass, gravity=gravity, recovery=recovery,
        protection=protection, phazing=phazing, paralysis=paralysis,
        confusion=confusion, sleep=sleep, ohko=ohko,
        greater_offensive=greater_offensive,
        lesser_offensive=lesser_offensive,
    )


@lru_cache(maxsize=1)
def role_moves() -> dict[str, frozenset]:
    """role -> move ids (the literal-id checks in classifier.ts)."""
    out: dict[str, set] = {}
    for mid, role in dims.MOVE_ROLES.items():
        out.setdefault(role, set()).add(mid)
    return {k: frozenset(v) for k, v in out.items()}


@lru_cache(maxsize=1)
def weather_moves() -> dict[str, frozenset]:
    ma = dims.move_attributes()
    out: dict[str, set] = {}
    for r in ma.itertuples():
        if r.weather:
            out.setdefault(r.weather, set()).add(r.move_id)
    return {k: frozenset(v) for k, v in out.items()}


@lru_cache(maxsize=1)
def ability_sets() -> dict[str, frozenset]:
    """stall classes + flag sets from the ability dim."""
    out: dict[str, set] = {}
    for aid, (cls, flags) in dims.ABILITY_ATTRS.items():
        out.setdefault(cls, set()).add(aid)
        for fl in flags:
            out.setdefault(f"flag_{fl}", set()).add(aid)
    return {k: frozenset(v) for k, v in out.items()}


@lru_cache(maxsize=1)
def item_sets() -> dict[str, frozenset]:
    out: dict[str, set] = {}
    for iid, (mod, flags) in dims.ITEM_ATTRS.items():
        if mod:
            out.setdefault(f"mod_{mod}", set()).add(iid)
        for fl in flags:
            out.setdefault(f"flag_{fl}", set()).add(iid)
    return {k: frozenset(v) for k, v in out.items()}


# ---------------------------------------------------------------------
# move-set membership as ONE bitmask per mon
#
# The classifier tests ~35 move sets per mon; testing each with
# arrays_overlap is ~35 linear string scans per row (measured 15 µs/row
# at 2.3M mons).  Instead: every (table|role|weather|pivot) predicate
# gets a bit, a literal map move_id -> bit-OR is built on the driver
# (71 moves × 1 long), the mon folds its 4 moves through the map once,
# and every membership test is a bitwise AND.

@lru_cache(maxsize=1)
def _bit_layout() -> dict[str, int]:
    T = derive_move_tables()
    names = ([f"t_{k}" for k in sorted(T)]
             + [f"r_{r}" for r in sorted(set(dims.MOVE_ROLES.values()))]
             + [f"w_{w}" for w in ("rain", "sun", "sand", "hail")]
             + ["pivot"])
    assert len(names) <= 63, "bitmask overflow"
    return {n: i for i, n in enumerate(names)}


@lru_cache(maxsize=1)
def _move_masks() -> dict[str, int]:
    bits = _bit_layout()
    T = derive_move_tables()
    W = weather_moves()
    masks: dict[str, int] = {}

    def add(mid, name):
        masks[mid] = masks.get(mid, 0) | (1 << bits[name])

    for k, tbl in T.items():
        for mid in tbl:
            add(mid, f"t_{k}")
    for mid, role in dims.MOVE_ROLES.items():
        add(mid, f"r_{role}")
    for w, tbl in W.items():
        for mid in tbl:
            add(mid, f"w_{w}")
    for mid in dims.UTURN_MOVES:
        add(mid, "pivot")
    return masks


def move_mask_col(moves_col: str = "moves") -> F.Column:
    """Fold the mon's move list through the literal id→bits map."""
    masks = _move_masks()
    entries = []
    for mid, m in sorted(masks.items()):
        entries += [F.lit(mid), F.lit(m).cast("long")]
    mp = F.create_map(*entries)
    return F.aggregate(
        F.transform(F.col(moves_col),
                    lambda m: F.coalesce(mp[m], F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, v: acc.bitwiseOR(v))


def _mask_test(name: str) -> F.Column:
    """(move_mask & bit(name)) != 0 — set membership in O(1)."""
    bit = 1 << _bit_layout()[name]
    return F.col("move_mask").bitwiseAND(F.lit(bit).cast("long")) != 0


def _in(col, values) -> F.Column:
    if not values:
        return F.lit(False)
    return F.col(col).isin(sorted(values))


def ability_stalliness_mod() -> F.Column:
    """classifier.ts:411-418."""
    A = ability_sets()
    return (F.when(_in("ability", A.get("greater_off", ())), -1.0)
             .when(_in("ability", A.get("lesser_off", ())), -0.5)
             .when(_in("ability", A.get("lesser_def", ())), 0.5)
             .when(_in("ability", A.get("greater_def", ())), 1.0)
             .otherwise(0.0))


def item_stalliness_mod() -> F.Column:
    """classifier.ts:445-477 — the generic boosting/defensive classes
    (the species-specific rules have no analog in the synthetic dims)."""
    expr = F.lit(0.0)
    for iid, (mod, _flags) in sorted(dims.ITEM_ATTRS.items()):
        if mod:
            expr = F.when(F.col("item") == iid, F.lit(float(mod))) \
                    .otherwise(expr)
    return expr


def moves_stalliness_mod() -> F.Column:
    """classifier.ts:479-516 — named-role checks + table checks + the
    bellydrum > shellsmash > greaterSetup > lesserSetup else-chain.
    All membership tests are move_mask bit tests."""
    mod = F.lit(0.0)
    for role, delta in [("toxic", 1.0), ("spikes", 0.5),
                        ("toxicspikes", 0.5), ("willowisp", 0.5),
                        ("psychoshift", 0.5), ("healbell", 0.5),
                        ("haze", 0.5), ("substitute", -0.5),
                        ("superfang", -0.5), ("trick", -0.5),
                        ("endeavor", -1.0)]:
        mod = mod + F.when(_mask_test(f"r_{role}"), F.lit(delta)).otherwise(0.0)

    for table, delta in [("recovery", 1.0), ("protection", 1.0),
                         ("phazing", 0.5), ("paralysis", 0.5),
                         ("confusion", 0.5), ("sleep", -0.5),
                         ("lesser_offensive", -0.5),
                         ("greater_offensive", -1.0), ("ohko", -1.0)]:
        mod = mod + F.when(_mask_test(f"t_{table}"), F.lit(delta)) \
                     .otherwise(0.0)

    setup = (F.when(_mask_test("r_bellydrum"), -2.0)
              .when(_mask_test("r_shellsmash"), -1.5)
              .when(_mask_test("t_greater_setup"), -1.0)
              .when(_mask_test("t_lesser_setup"), -0.5)
              .otherwise(0.0))
    return mod + setup


def combo_stalliness_mod() -> F.Column:
    """classifier.ts:124-137 — move/ability combination rules."""
    A = ability_sets()
    trapping = (F.when(_in("ability", A.get("flag_trapping", ())), -1.0)
                 .when(_mask_test("r_meanlook") | _mask_test("r_block"),
                       -0.5)
                 .otherwise(0.0))
    harvest = F.when(_in("ability", A.get("flag_harvest", ()))
                     | _mask_test("r_recycle"), 1.0).otherwise(0.0)
    sand_hail = F.when(
        _in("ability", A.get("flag_weather_sand", frozenset())
            | A.get("flag_weather_hail", frozenset()))
        | _mask_test("w_sand") | _mask_test("w_hail"), 0.5).otherwise(0.0)
    return trapping + harvest + sand_hail


def mon_classifier_cols(mons: DataFrame) -> DataFrame:
    """Adds ``stalliness`` (forme-averaged classifyForme — C4), ``bias``
    and the per-mon tag indicator columns.  Expects the enriched mons
    frame with ``stat_*`` (current forme), ``is_mega``, ``b2_*``
    (base-forme base stats) and ``base_types`` columns (see
    enrich.enrich_mons)."""
    A = ability_sets()
    I = item_sets()  # noqa: E741
    has_role = lambda role: _mask_test(f"r_{role}")  # noqa: E731

    mons = mons.withColumn("move_mask", move_mask_col("moves"))

    stall_cur = statcalc.base_stalliness(
        F.col("stat_hp"), F.col("stat_atk"), F.col("stat_spa"),
        F.col("stat_def"), F.col("stat_spd"), F.col("level"),
        F.col("species"))
    # base-forme stats computed inline (only evaluated on mega rows —
    # the when() below branch-guards them in codegen)
    bstat = {
        s: statcalc.calc_stat(s, F.col(f"b2_{s}"), F.col(f"iv_{s}"),
                              F.col(f"ev_{s}"), F.col("level"),
                              F.col("plus"), F.col("minus"))
        for s in ("hp", "atk", "def", "spa", "spd")
    }
    stall_base = statcalc.base_stalliness(
        bstat["hp"], bstat["atk"], bstat["spa"], bstat["def"], bstat["spd"],
        F.col("level"), F.col("base_species_id"))
    # classifyPokemon — megas average the base + mega formes (the
    # modifiers are forme-independent here, so only the base-stat term
    # differs); classifier.ts:96-100
    base_term = F.when(F.col("is_mega"), (stall_cur + stall_base) / 2.0) \
                 .otherwise(stall_cur)
    stalliness = (base_term + ability_stalliness_mod()
                  + item_stalliness_mod() + moves_stalliness_mod()
                  + combo_stalliness_mod() - F.lit(LOG3_LOG2))

    bias = (F.col("ev_atk") + F.col("ev_spa") - F.col("ev_hp")
            - F.col("ev_def") - F.col("ev_spd"))

    # BATCHED withColumns: eager per-call analysis of these wide
    # literal-set trees cost whole driver-seconds per pipeline build
    # (see enrich.with_cutoff_weights)
    out = mons.withColumns({"stalliness": stalliness,
                            "bias": bias.cast("long")})

    # weather points — tag() lines 226-251: ability setter = 2, move
    # setter = 2 with the matching rock item else 1
    def weather_pts(w: str) -> F.Column:
        ability_pts = F.when(
            _in("ability", A.get(f"flag_weather_{w}", ())), 2).otherwise(0)
        move_pts = F.when(
            _mask_test(f"w_{w}"),
            F.when(_in("item", I.get(f"flag_rock_{w}", ())), 2).otherwise(1)
        ).otherwise(0)
        return ability_pts + move_pts

    out = out.withColumns({f"w_{w}": weather_pts(w)
                           for w in ("rain", "sun", "sand", "hail")})

    ind = {
        # tag() lines 253-257
        "i_batonpass": (has_role("batonpass")
                        & (_in("ability", A.get("flag_setup", ()))
                           | _mask_test("t_baton_pass"))),
        "i_tailwind": has_role("tailwind"),
        "i_trickroom": has_role("trickroom") & ~has_role("imprison"),
        "i_slow": ((F.col("ev_spe") < 5)
                   & (F.col("nature").isin(*SLOW_NATURES)
                      | (F.col("b2_spe") <= 50))),
        "i_gravity": has_role("gravity"),
        "i_gravity_moves": _mask_test("t_gravity"),
        "i_voltturn": (_in("item", I.get("flag_voltturn", ()))
                       | _mask_test("pivot")),
        "i_trapper": (_in("ability", A.get("flag_trapping", ()))
                      | _mask_test("r_meanlook") | _mask_test("r_block")),
        "i_dragon": F.array_contains(F.col("base_types"), "dragon"),
        "i_clearance": (_in("ability", A.get("flag_clearance", ()))
                        | has_role("rapidspin")),
        "i_fear": ((_in("ability", A.get("flag_sturdy", ()))
                    | _in("item", I.get("flag_sash", ())))
                   & has_role("endeavor")),
        "i_choice": (_in("item", I.get("flag_choice", ()))
                     & ~_in("ability", A.get("flag_klutz", ()))),
        "i_swagplay": has_role("foulplay") | has_role("swagger"),
    }
    return out.withColumns({name: col.cast("int")
                            for name, col in ind.items()})


_COUNTERS = ["i_batonpass", "i_tailwind", "i_trickroom", "i_slow",
             "i_gravity", "i_gravity_moves", "i_voltturn", "i_trapper",
             "i_dragon", "i_clearance", "i_fear", "i_choice", "i_swagplay"]


def classify_sides(mons: DataFrame) -> DataFrame:
    """Per-side classification — classifyTeam + tag()
    (classifier.ts:11-54, 203-393): bias = Σ mon bias, stalliness =
    mean mon stalliness, tags = the full reference tag set."""
    aggs = [F.sum("bias").alias("team_bias"),
            F.avg("stalliness").alias("team_stalliness"),
            F.count("*").alias("team_size"),
            F.collect_list("base_types").alias("type_lists")]
    aggs += [F.sum(f"w_{w}").alias(f"n_{w}")
             for w in ("rain", "sun", "sand", "hail")]
    aggs += [F.sum(c).alias("n" + c[1:]) for c in _COUNTERS]
    agg = mons.groupBy("conv_id", "side").agg(*aggs)

    # monotype: a type shared by every team member (base formes)
    agg = agg.withColumn(
        "shared_types",
        F.aggregate(F.slice("type_lists", 2, 16),
                    F.element_at("type_lists", 1),
                    lambda acc, x: F.array_intersect(acc, x)))

    rain, sun = F.col("n_rain") >= 2, F.col("n_sun") >= 2
    sand, hail = F.col("n_sand") >= 2, F.col("n_hail") >= 2
    n_weather = (rain.cast("int") + sun.cast("int")
                 + sand.cast("int") + hail.cast("int"))
    # gravity's first branch (>2) is unreachable under the reference's
    # own cap of 2 — the effective rule is both counters >= 2
    tag_gravity = (F.col("n_gravity") >= 2) & (F.col("n_gravity_moves") >= 2)
    trickroom = ((F.col("n_trickroom") > 2)
                 | ((F.col("n_trickroom") > 1) & (F.col("n_slow") >= 2)))
    fear = (F.col("n_fear") >= 3) & (F.col("n_clearance") >= 2)
    stall = F.col("team_stalliness")
    one_weather = n_weather == 1

    def when_tag(cond, name):
        return F.when(cond, F.lit(name))

    fixed = F.array_compact(F.array(
        when_tag(rain, "rain"), when_tag(sun, "sun"),
        when_tag(sand, "sand"), when_tag(hail, "hail"),
        when_tag(n_weather == 4, "allweather"),
        when_tag((n_weather > 1) & (n_weather < 4), "multiweather"),
        when_tag(n_weather == 0, "weatherless"),
        when_tag(F.col("n_batonpass") >= 2, "batonpass"),
        when_tag(F.col("n_tailwind") >= 2, "tailwind"),
        when_tag(trickroom, "trickroom"),
        when_tag(trickroom & rain, "trickrain"),
        when_tag(trickroom & sun, "tricksun"),
        when_tag(trickroom & sand, "tricksand"),
        when_tag(trickroom & hail, "trickhail"),
        when_tag(tag_gravity, "gravity"),
        when_tag((F.col("n_voltturn") >= 3) & (F.col("n_batonpass") <= 1),
                 "voltturn"),
        when_tag((F.col("n_dragon") >= 2) & (F.col("n_trapper") >= 1),
                 "dragmag"),
        when_tag(F.col("n_trapper") >= 3, "trapper"),
        when_tag(fear, "fear"),
        when_tag(fear & sand, "sandfear"),
        when_tag(fear & hail, "hailfear"),
        when_tag(fear & trickroom, "trickfear"),
        when_tag(F.col("n_choice") >= 4, "choice"),
        when_tag(F.col("n_swagplay") >= 2, "swagplay"),
        # stalliness buckets — classifier.ts:355-390
        when_tag(stall <= -1.0, "hyperoffense"),
        when_tag((stall <= -1.0) & one_weather & rain, "rainoffense"),
        when_tag((stall <= -1.0) & one_weather & sun, "sunoffense"),
        when_tag((stall <= -1.0) & one_weather & sand, "sandoffense"),
        when_tag((stall <= -1.0) & one_weather & hail, "hailoffense"),
        when_tag((stall > -1.0) & (stall < 0.0), "offense"),
        when_tag((stall >= 0.0) & (stall < 1.0), "balance"),
        when_tag((stall >= 1.0) & (stall < LOG3_LOG2), "semistall"),
        when_tag(stall >= LOG3_LOG2, "stall"),
        when_tag((stall >= LOG3_LOG2) & one_weather & rain, "rainstall"),
        when_tag((stall >= LOG3_LOG2) & one_weather & sun, "sunstall"),
        when_tag((stall >= LOG3_LOG2) & one_weather & sand, "sandstall"),
        when_tag((stall >= LOG3_LOG2) & one_weather & hail, "hailstall"),
    ))
    mono = F.when(
        F.size("shared_types") > 0,
        F.concat(F.array(F.lit("monotype")),
                 F.transform("shared_types",
                             lambda t: F.concat(F.lit("mono"), t)))
    ).otherwise(F.array().cast("array<string>"))
    tags = F.concat(fixed, mono)

    return agg.select("conv_id", "side", "team_bias", "team_stalliness",
                      "team_size", tags.alias("tags"))
