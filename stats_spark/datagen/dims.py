"""Synthetic enrichment dimension tables (broadcast lookups).

Stand-ins for the reference's ``@pkmn/data`` generation tables
(species/moves/items/natures) and static metadata
(``stats/src/aliases.json``, format gates in ``stats/src/util.ts``).
All data here is deterministic, derived from SEED, and entirely
fictional — the *shapes* mirror FIXTURES.md §3.

These tables are a few KB: at cluster scale they ship as broadcast
joins (J1–J5 in SURVEY.md §2.4) or as plain Python dicts captured by
the parse UDF.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd

SEED = 42

TYPES = [
    "normal", "fire", "water", "electric", "grass", "ice", "fighting",
    "poison", "ground", "flying", "psychic", "bug", "rock", "ghost",
    "dragon", "dark", "steel", "fairy",
]

# Nature -> (boosted stat, lowered stat); neutral natures map to (None, None).
# Standard 25-nature chart (public game data; reference consumes it via
# gen.natures.get — stats.ts:343).
NATURES: dict[str, tuple[str | None, str | None]] = {
    "hardy": (None, None), "lonely": ("atk", "def"), "brave": ("atk", "spe"),
    "adamant": ("atk", "spa"), "naughty": ("atk", "spd"),
    "bold": ("def", "atk"), "docile": (None, None), "relaxed": ("def", "spe"),
    "impish": ("def", "spa"), "lax": ("def", "spd"),
    "timid": ("spe", "atk"), "hasty": ("spe", "def"), "serious": (None, None),
    "jolly": ("spe", "spa"), "naive": ("spe", "spd"),
    "modest": ("spa", "atk"), "mild": ("spa", "def"), "quiet": ("spa", "spe"),
    "bashful": (None, None), "rash": ("spa", "spd"),
    "calm": ("spd", "atk"), "gentle": ("spd", "def"), "sassy": ("spd", "spe"),
    "careful": ("spd", "spa"), "quirky": (None, None),
}

STAT_KEYS = ["hp", "atk", "def", "spa", "spd", "spe"]

# Move-flag sets — analog of parser.ts:64-65 (ROAR / UTURN move sets)
# but over our fictional move names.
ROAR_MOVES = {"gustoff", "vortexpull", "tailtoss"}
UTURN_MOVES = {"dashback", "sparkswap", "relaypass"}

# classifier-ish move categories (classifier.ts:518-767 analog).
# Still used by the corpus generator and the parser flag sets; the
# classifier now derives its 13 category tables from move ATTRIBUTES
# (classifier.derive_move_tables — the C6 data-driven path).
MOVE_CATEGORIES = {
    "recovery": {"mendwound", "softglow", "rootsiphon"},
    "protection": {"wardveil", "mirrorguard"},
    "setup": {"bladedance", "mindamp", "ironfocus", "quickstep"},
    "phazing": ROAR_MOVES,
    "pivot": UTURN_MOVES,
    "sleep": {"dozeweave"},
    "paralysis": {"staticweb"},
}

# Named single-move roles the classifier checks literally
# (classifier.ts:479-516 movesStallinessModifier + :203-306 tag()),
# mapped onto our fictional move universe.  One role per move id.
MOVE_ROLES = {
    "venomsurge": "toxic",          # +1.0
    "stonelance": "spikes",         # +0.5, grounded hazard
    "venomcrush": "toxicspikes",    # +0.5, grounded hazard
    "embergale": "willowisp",       # +0.5
    "gleamhowl": "psychoshift",     # +0.5
    "gleamsurge": "healbell",       # +0.5
    "frostwave": "haze",            # +0.5
    "shadowwave": "substitute",     # -0.5, baton-passable
    "wildcrush": "superfang",       # -0.5
    "gleamstrike": "trick",         # -0.5
    "wildburst": "endeavor",        # -1.0, fear combo
    "twinhowl": "bellydrum",        # -2.0
    "stonehowl": "shellsmash",      # -1.5
    "wildwave": "raindance",
    "emberburst": "sunnyday",
    "stonecrush": "sandstorm",      # +0.5 weather combo
    "frosthowl": "hail",            # +0.5 weather combo
    "gleamcrush": "gravity",
    "gleamburst": "trickroom",
    "shadowburst": "imprison",
    "irongale": "tailwind",
    "twinslash": "rapidspin",       # hazard clearance
    "relaypass": "batonpass",       # (already the pivot trio's 3rd move)
    "twinbolt": "swagger",          # confusion + swagplay
    "shadowfang": "foulplay",       # swagplay
    "gleamgale": "recycle",         # +1.0 harvest combo
    "shadowsurge": "destinybond",   # greater offensive
    "embercrush": "selfdestruct",   # greater offensive
    "shadowgale": "meanlook",       # trapping move
    "venomgale": "block",           # trapping move
    "wildlance": "ohko",            # guillotine analog
}

# ability classifier attributes — classifier.ts:109, 194, 395-416
ABILITY_ATTRS = {
    # ability_id: (stall_class, flags)
    "steadfastcore": ("neutral", {"clearance"}),      # magicbounce analog
    "stormcall": ("neutral", {"weather_rain"}),       # drizzle analog
    "thickhide": ("lesser_def", set()),
    "quickwit": ("neutral", {"setup"}),               # speedboost analog
    "regrowth": ("greater_def", {"harvest"}),         # harvest analog
    "nightveil": ("neutral", {"trapping"}),           # shadowtag analog
    "sandrush": ("lesser_off", set()),                # per the reference list
    "flareheart": ("greater_off", set()),
    "unknown": ("neutral", set()),
    "megapower": ("neutral", set()),
}

# item classifier attributes — classifier.ts:420-477
ITEM_ATTRS = {
    # item_id: (stall_mod, flags)
    "nothing": (0.0, set()),
    "redcard": (0.0, set()),
    "ejectbutton": (-0.5, {"voltturn"}),              # GREATER_BOOSTING member
    "everlast": (-0.5, {"choice"}),                   # choiceband analog
    "focusband": (-0.5, {"choice", "sash"}),          # choicescarf/focussash
    "glowdust": (-0.5, {"choice"}),                   # choicespecs analog
    "sharpclaw": (-0.25, set()),                      # LESSER_BOOSTING
    "mistherb": (-1.0, set()),                        # lightclay analog
    "heavyplate": (0.5, set()),                       # eviolite analog
    "swiftorb": (-0.5, set()),                        # GREATER_BOOSTING
    "leechseedling": (0.0, {"rock_rain"}),            # damprock analog
}

_SYL_A = ["var", "mor", "tel", "zan", "qui", "fen", "lor", "dra", "pel", "nox",
          "cal", "rym", "ost", "bel", "tur", "gal", "ilo", "ves", "kar", "dum",
          "sol", "mar", "tin", "hex"]
_SYL_B = ["adon", "elith", "orix", "unda", "ivar", "osk", "arel", "yph", "omir",
          "atl", "ester", "ion", "urn", "ax", "eon", "ight"]

MEGA_BASES = ["varadonite", "telorixite", "noxeonite"]  # mega stones (see items)


def _rng() -> np.random.Generator:
    return np.random.default_rng(SEED)


@lru_cache(maxsize=1)
def species_table() -> pd.DataFrame:
    """dim_species — FIXTURES.md §3.1.

    72 base species + 3 mega formes.  Base stats seeded; types seeded.
    """
    rng = _rng()
    rows = []
    names = []
    for i in range(72):
        a = _SYL_A[int(rng.integers(len(_SYL_A)))]
        b = _SYL_B[int(rng.integers(len(_SYL_B)))]
        name = (a + b).capitalize()
        while name.lower() in names:
            name += _SYL_B[int(rng.integers(len(_SYL_B)))]
        names.append(name.lower())
        stats = rng.integers(40, 141, size=6)
        t1, t2 = rng.choice(len(TYPES), size=2, replace=False)
        types = [TYPES[t1]] + ([TYPES[t2]] if rng.random() < 0.55 else [])
        tier = ["OU", "UU", "RU", "NU", "Ubers"][int(rng.integers(5))]
        rows.append(dict(
            species_id=name.lower(), display_name=name,
            base_species_id=name.lower(),
            base_hp=int(stats[0]), base_atk=int(stats[1]), base_def=int(stats[2]),
            base_spa=int(stats[3]), base_spd=int(stats[4]), base_spe=int(stats[5]),
            types=types, tier=tier, is_mega=False,
        ))
    # 3 mega formes of the first 3 species (util.ts:62-65 / isMega analog)
    for i in range(3):
        base = dict(rows[i])
        rows.append(dict(
            species_id=base["species_id"] + "mega",
            display_name=base["display_name"] + "-Mega",
            base_species_id=base["species_id"],
            base_hp=base["base_hp"], base_atk=base["base_atk"] + 30,
            base_def=base["base_def"] + 20, base_spa=base["base_spa"] + 30,
            base_spd=base["base_spd"] + 20, base_spe=base["base_spe"] + 10,
            types=base["types"], tier=base["tier"], is_mega=True,
        ))
    return pd.DataFrame(rows)


@lru_cache(maxsize=1)
def moves_table() -> pd.DataFrame:
    """dim_moves — flat list of fictional move ids with category flags."""
    rng = _rng()
    base = sorted({m for cat in MOVE_CATEGORIES.values() for m in cat})
    extra = []
    verbs = ["strike", "burst", "wave", "fang", "beam", "slash", "bolt",
             "gale", "surge", "crush", "lance", "howl"]
    mods = ["ember", "frost", "stone", "venom", "gleam", "shadow", "iron",
            "wild", "twin", "arc"]
    for v in verbs:
        for m in mods:
            if rng.random() < 0.45:
                extra.append(m + v)
    move_ids = base + sorted(set(extra) - set(base))
    rows = []
    for mid in move_ids:
        flags = sorted(c for c, ms in MOVE_CATEGORIES.items() if mid in ms)
        rows.append(dict(
            move_id=mid,
            display_name=mid.capitalize(),
            category_flags=flags,
        ))
    return pd.DataFrame(rows)


_MOVE_ATTR_DEFAULTS = dict(
    type="normal", base_power=0, accuracy=101, target="normal",
    boost_atk=0, boost_spa=0, boost_spe=0, boost_def=0, boost_spd=0,
    boost_eva=0, sec_chance=0, sec_self_boost=False, sec_status=None,
    sec_volatile=None, status=None, volatile=None, heal=False,
    selfdestruct=False, stalling=False, force_switch=False, ohko=False,
    recoil=False, crash=False, locked=False, drop_def=False, hazard=False,
    weather=None,
)

# hand-assigned mechanical attributes for category + role moves — chosen
# so classifier.derive_move_tables() reproduces each move's intended
# category through the reference's derivation predicates
# (classifier.ts:524-762), not through a hardcoded list.
_MOVE_ATTRS: dict[str, dict] = {
    # recovery (heal, self-target, no selfdestruct)
    "mendwound": dict(heal=True, target="self"),
    "softglow": dict(heal=True, target="self"),
    "rootsiphon": dict(heal=True, target="allies"),
    # protection (stalling moves)
    "wardveil": dict(stalling=True, target="self"),
    "mirrorguard": dict(stalling=True, target="self"),
    # setup: two greater (multi-stage attack boost), two lesser
    "bladedance": dict(boost_atk=2, target="self"),
    "mindamp": dict(boost_spa=2, target="self"),
    "ironfocus": dict(boost_atk=1, target="self"),
    "quickstep": dict(boost_spe=1, target="self"),
    # phazing (force switch)
    "gustoff": dict(force_switch=True),
    "vortexpull": dict(force_switch=True),
    "tailtoss": dict(force_switch=True),
    # pivot attacks (the parser's UTURN set)
    "dashback": dict(base_power=70, accuracy=100, type="bug"),
    "sparkswap": dict(base_power=70, accuracy=100, type="electric"),
    "relaypass": dict(target="self"),   # batonpass analog
    # status movs
    "dozeweave": dict(status="slp", accuracy=75),
    "staticweb": dict(status="par", accuracy=90),
    # role moves
    "venomsurge": dict(status="tox", accuracy=90),
    "stonelance": dict(hazard=True, target="foeSide", type="rock"),
    "venomcrush": dict(hazard=True, target="foeSide", type="poison"),
    "embergale": dict(status="brn", accuracy=75, type="fire"),
    "gleamhowl": dict(accuracy=100),
    "gleamsurge": dict(target="allies"),
    "frostwave": dict(target="all", type="ice"),
    "shadowwave": dict(target="self", type="ghost"),
    "wildcrush": dict(base_power=1, accuracy=90),
    "gleamstrike": dict(accuracy=100),
    "wildburst": dict(base_power=1, accuracy=100),
    "twinhowl": dict(target="self"),
    "stonehowl": dict(boost_atk=2, boost_spa=2, boost_spe=2, drop_def=True,
                      target="self", type="rock"),
    "wildwave": dict(weather="rain", target="all", type="water"),
    "emberburst": dict(weather="sun", target="all", type="fire"),
    "stonecrush": dict(weather="sand", target="all", type="rock"),
    "frosthowl": dict(weather="hail", target="all", type="ice"),
    "gleamcrush": dict(target="all"),
    "gleamburst": dict(target="all", type="psychic"),
    "shadowburst": dict(target="self", type="ghost"),
    "irongale": dict(boost_spe=1, target="allies", type="flying"),
    "twinslash": dict(base_power=50, accuracy=100),
    "twinbolt": dict(volatile="confusion", accuracy=85, type="electric"),
    "shadowfang": dict(base_power=95, accuracy=100, type="dark"),
    "gleamgale": dict(target="self"),
    "shadowsurge": dict(target="self", type="ghost"),
    "embercrush": dict(selfdestruct=True, base_power=200, type="fire"),
    "shadowgale": dict(type="ghost"),
    "venomgale": dict(type="poison"),
    "wildlance": dict(ohko=True, base_power=1, accuracy=30),
}


@lru_cache(maxsize=1)
def move_attributes() -> pd.DataFrame:
    """dim_moves with full mechanical attributes — the analog of the
    ``@pkmn/data`` Move objects that classifier.ts:524-762 derives its
    13 category tables from.  Hand-assigned for category/role moves;
    seeded-random (separate stream, existing ids untouched) for the
    generic attack moves."""
    mt = moves_table()
    rng = np.random.default_rng(np.random.SeedSequence([SEED, 777]))
    attack_types = ["normal", "fire", "water", "electric", "grass", "ice",
                    "ground", "rock", "steel", "dark"]
    rows = []
    for mid in mt.move_id:
        row = dict(_MOVE_ATTR_DEFAULTS)
        row["move_id"] = mid
        row["role"] = MOVE_ROLES.get(mid)
        if mid in _MOVE_ATTRS:
            row.update(_MOVE_ATTRS[mid])
        else:
            # generic attack move: seeded attributes
            row["type"] = attack_types[int(rng.integers(len(attack_types)))]
            row["base_power"] = int(rng.integers(8, 25)) * 5
            row["accuracy"] = [70, 75, 80, 85, 90, 95, 100, 100, 100, 101][
                int(rng.integers(10))]
            r = rng.random()
            if r < 0.12:
                row["recoil"] = True
            elif r < 0.17:
                row["crash"] = True
            elif r < 0.22:
                row["locked"] = True
            elif r < 0.30:
                row["sec_self_boost"] = True
                row["sec_chance"] = 50 if rng.random() < 0.5 else 100
        rows.append(row)
    return pd.DataFrame(rows)


@lru_cache(maxsize=1)
def items_table() -> pd.DataFrame:
    """dim_items — includes mega stones for the J3 mega-derivation join
    (util.ts:67-93 analog) plus the Red Card / Eject Button analogs the
    parser sniffs for (parser.ts:183-189)."""
    sp = species_table()
    rows = [
        dict(item_id="nothing", display_name="Nothing",
             mega_evolves_species=None, mega_result_species=None,
             mega_result_ability=None),
        dict(item_id="redcard", display_name="Red Card",
             mega_evolves_species=None, mega_result_species=None,
             mega_result_ability=None),
        dict(item_id="ejectbutton", display_name="Eject Button",
             mega_evolves_species=None, mega_result_species=None,
             mega_result_ability=None),
    ]
    for generic in ["everlast", "focusband", "sharpclaw", "mistherb",
                    "heavyplate", "swiftorb", "leechseedling", "glowdust"]:
        rows.append(dict(item_id=generic, display_name=generic.capitalize(),
                         mega_evolves_species=None, mega_result_species=None,
                         mega_result_ability=None))
    for i, stone in enumerate(MEGA_BASES):
        base = sp.iloc[i]
        rows.append(dict(
            item_id=stone, display_name=stone.capitalize(),
            mega_evolves_species=base.species_id,
            mega_result_species=base.species_id + "mega",
            mega_result_ability="megapower",
        ))
    return pd.DataFrame(rows)


ABILITIES = ["steadfastcore", "stormcall", "thickhide", "quickwit",
             "regrowth", "nightveil", "sandrush", "flareheart", "unknown"]


@lru_cache(maxsize=1)
def aliases_table() -> pd.DataFrame:
    """dim_aliases — alias id -> canonical species id (aliases.json analog)."""
    sp = species_table()
    rows = []
    for i in range(0, 24, 3):
        sid = sp.iloc[i].species_id
        rows.append(dict(alias_id=sid[:4], species_id=sid))
    return pd.DataFrame(rows)


# Format universe: (format, weight among generated convs, gen, singles, 6v6)
# Weights are orders-of-magnitude skewed (logs/DESIGN.md:9-11) so the
# groupBy(format, ...) aggregations exercise AQE skew handling.
FORMATS = [
    ("gen9ou",              0.42, 9, True,  True),
    ("gen8ou",              0.20, 8, True,  True),
    ("gen9ubers",           0.12, 9, True,  True),
    ("gen9uu",              0.08, 9, True,  True),
    ("gen7ou",              0.06, 7, True,  True),
    ("gen9doublesou",       0.05, 9, False, True),
    ("gen9monotype",        0.04, 9, True,  True),
    ("gen9randombattle",    0.02, 9, True,  True),   # skipped by accept filter
    ("gen9challengecup1v1", 0.01, 9, True,  False),  # non-6v6
    # historical (gen-6-era) format names — each exercises one branch
    # of canonicalizeFormat (util.ts:261-275); weights small, per the
    # reference's long-tail format distribution
    ("smogondoubles",       0.008, 6, False, True),   # → doublesou
    ("orasou",              0.006, 6, True,  True),   # → ou
    ("pokebankoubeta",      0.005, 6, True,  True),   # → ou
    ("battlespotdoubles",   0.004, 6, False, False),  # → vgc2015 (4v4)
    ("uucurrent",           0.003, 6, True,  True),   # → uu
    ("xybattlespotsinglesbeta", 0.002, 6, True, False),  # → …singles (3v3)
    ("capbeta",             0.002, 6, True,  True),   # → cap
]


def canonicalize_format(fmt: str) -> str:
    """J5 — util.ts:261-275, rule for rule (including the JS slice
    semantics: ``slice(8, -4)`` strips the 'pokebank' prefix AND a
    4-char suffix in one move)."""
    if fmt.endswith("current"):
        fmt = fmt[:-7]
    if fmt.startswith("pokebank"):
        fmt = fmt[8:-4]
    if fmt.startswith("oras"):
        fmt = fmt[4:]
    if fmt == "capbeta":
        return "cap"
    if fmt == "vgc2014beta":
        return "vgc2014"
    if fmt.startswith("xybattlespot") and fmt.endswith("beta"):
        fmt = fmt[:-4]
    if fmt in ("battlespotdoubles", "battlespotdoublesvgc2015"):
        return "vgc2015"
    if fmt == "smogondoubles":
        return "doublesou"
    if fmt == "smogondoublesubers":
        return "doublesubers"
    if fmt == "smogondoublesuu":
        return "doublesuu"
    return fmt

# accept() analog — logs/src/worker.ts:25-28 + workflows/smogon/stats.ts:37-41
SKIP_SUBSTRINGS = ("random", "custom", "petmod", "seasonal", "metronome")

DEFAULT_CUTOFFS = [0, 1500, 1630, 1760]

NON_SINGLES_FORMATS = {f for f, _, _, s, _ in FORMATS if not s}
NON_6V6_FORMATS = {f for f, _, _, _, x in FORMATS if not x}


def accept_format(fmt: str) -> bool:
    return not any(s in fmt for s in SKIP_SUBSTRINGS)


@lru_cache(maxsize=1)
def formats_table() -> pd.DataFrame:
    rows = []
    for fmt, _w, gen, singles, is6v6 in FORMATS:
        rows.append(dict(
            format=fmt, canonical_format=canonicalize_format(fmt), gen=gen,
            is_singles=singles, is_6v6=is6v6,
            accepted=accept_format(fmt),
            cutoffs=DEFAULT_CUTOFFS,
        ))
    return pd.DataFrame(rows)


# ---- plain-dict views for UDF capture / the pytest oracle --------------

@lru_cache(maxsize=1)
def species_dict() -> dict[str, dict]:
    return {r["species_id"]: dict(r) for r in species_table().to_dict("records")}


@lru_cache(maxsize=1)
def alias_dict() -> dict[str, str]:
    return dict(zip(aliases_table().alias_id, aliases_table().species_id))


@lru_cache(maxsize=1)
def mega_dict() -> dict[tuple[str, str], tuple[str, str]]:
    """(species_id, item_id) -> (mega_species_id, mega_ability)."""
    out = {}
    for r in items_table().to_dict("records"):
        if r["mega_evolves_species"]:
            out[(r["mega_evolves_species"], r["item_id"])] = (
                r["mega_result_species"], r["mega_result_ability"])
    return out


def to_spark(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf)
