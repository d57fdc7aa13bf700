"""P9 complete: full battle-log anonymization (teams, inputLog, and
every protocol message type), the Spark twin of the reference's
`anon/src/index.ts` Anonymizer + Verifier.

The transcript-line anonymizer in `operators/anonymize.py` covers the
driver corpus's line-stream shape; THIS module anonymizes whole raw
battle logs (the reference's `Log` JSON: teams + protocol log +
inputLog) and reproduces the reference's own goldens byte-for-byte
(`anon/src/testdata/{anon,salt,team}.json`, asserted by
tests/test_anon_log.py — the checks `anon/src/index.test.ts:12-46`
runs on the TypeScript side).

Semantics ported:
  - player anonymization: salted md5-prefix hash or 'Player N'
    (index.ts:70-77, hash index.ts:446-452)
  - team anonymization with nickname→species mapping fed to the log
    rewriter (anonymizeTeam, index.ts:105-133; copyPokemonSet field
    set index.ts:453-474)
  - inputLog: keep only `>p\\d ` command lines (index.ts:135-144) —
    the `>player` lines carrying names/teams are dropped
  - the full per-message switch (index.ts:165-439): drop chatter/join/
    raw/html..., keep structural lines, rewrite idents/sides/players,
    kwArg handling ([of]/[spread]/[wisher]), the Farfetch’d details
    exception, '|' == 'done'
  - Verifier: post-anonymization leak scan with the reference's
    name-or-id word-boundary regex (index.ts:478-505)

At scale this runs as one Arrow-batched `mapInPandas` over a DataFrame
of raw-log JSON strings (one battle per row) — pure per-row string
work, no shuffle; see `anonymize_logs`.
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Callable

IDENT = re.compile(r"^p\d[a-d]?: .*$")
_IDENT_PARTS = re.compile(r"^(p\d)([a-d])?: (.*)$", re.S)
_KWARG = re.compile(r"^\[([a-z0-9]+)\](?: (.*))?$", re.S)
_INPUT_KEEP = re.compile(r"^>p\d ")

# PS mishandles certain names — details strings keep the typographic
# apostrophe (index.ts:419-423)
EXCEPTIONS = {
    "Farfetch'd": "Farfetch’d",
    "Farfetch'd-Galar": "Farfetch’d-Galar",
    "Sirfetch'd": "Sirfetch’d",
}

# message types dropped entirely (index.ts:226-252)
_DROP = {
    "", "t:", ":", "c:", "chat", "join", "leave", "unlink", "raw",
    "html", "uhtml", "uhtmlchange", "warning", "error", "bigerror",
    "chatmsg", "chatmsg-raw", "controlshtml", "hidelines", "fieldhtml",
    "inactive", "inactiveoff", "debug", "seed", "message", "-message",
    "-hint", "c", "j", "l", "n",
}
# message types kept verbatim (index.ts:254-266)
_KEEP = {
    "done", "gametype", "gen", "tier", "rule", "teamsize", "clearpoke",
    "teampreview", "start", "rated", "turn", "upkeep", "tie",
}
# args[1] is an ident; everything else passes through (index.ts:312-346)
_ARG1_IDENT = {
    "-crit", "-supereffective", "-resisted", "-immune", "-invertboost",
    "-clearboost", "-clearnegativeboost", "-endability", "-cureteam",
    "-mustrecharge", "-primal", "-zpower", "-zbroken", "faint",
    "-damage", "-status", "-curestatus", "-hitcount", "-singlemove",
    "-singleturn", "-terastallize", "-mega", "-start", "-end", "-item",
    "-enditem", "-fail", "cant", "swap", "-boost", "-unboost",
    "-setboost", "-burst",
}
# args[1] ident + args[2] details (index.ts:348-357)
_IDENT_DETAILS = {"detailschange", "-formechange", "switch", "drag",
                  "replace"}
# args[1] ident + optional args[2] ident (index.ts:395-403)
_IDENT_PAIR = {"-transform", "-miss", "-waiting", "-copyboost",
               "-clearpositiveboost", "-swapboost"}
# combine-only (kwArgs still rewritten — index.ts:257-266 second group)
_COMBINE = {"-clearallboost", "-weather", "-fieldstart", "-fieldend",
            "-ohko", "-center", "-combine", "-swapsideconditions",
            "-fieldactivate"}

_COPY_FIELDS = ("name", "species", "item", "ability", "moves", "nature",
                "gender", "evs", "ivs", "level")
_COPY_OPTIONAL = ("forcedLevel", "shiny", "happiness", "pokeball",
                  "hpType")


class LeakError(ValueError):
    pass


def hash10(s: str, salt: str) -> str:
    """index.ts:446-452 — md5(s + salt) hex prefix."""
    return hashlib.md5(f"{s}{salt}".encode()).hexdigest()[:10]


def to_id(s: str) -> str:
    return re.sub(r"[^a-z0-9]+", "", (s or "").lower())


class Verifier:
    """index.ts:478-505 — word-boundary scan for any original name or
    its id in anonymized output."""

    def __init__(self):
        self.names: set[str] = set()
        self.leaks: list[dict] = []
        self._regex = None

    def verify(self, inp: str, out: str) -> bool:
        if self._regex is None:
            parts = []
            for n in self.names:
                parts.append(re.escape(n))
                i = to_id(n)
                if i:
                    parts.append(re.escape(i))
            self._regex = re.compile(r"\b(" + "|".join(parts) + r")\b")
        if self._regex.search(out):
            self.leaks.append({"input": inp, "output": out})
            return False
        return True

    def ok(self) -> bool:
        return not self.leaks


def parse_battle_line(line: str):
    """Protocol.parseBattleLine for the anonymizer's needs: '|'-split
    args with trailing '[key] value' elements peeled into ordered
    kwArgs; a bare '|' is the 'done' message."""
    parts = line.split("|")[1:]
    if parts == [""]:
        return ["done"], []
    kwargs: list[tuple[str, object]] = []
    while len(parts) > 1:
        m = _KWARG.match(parts[-1])
        if not m:
            break
        parts.pop()
        kwargs.insert(0, (m.group(1),
                          True if m.group(2) is None else m.group(2)))
    return parts, kwargs


# legacy '-activate' effects that modern protocol reports as '-block'
# (Showdown battle-text-parser upgradeArgs — the conversion
# @pkmn/protocol's parseBattleLine applies before the reference's
# switch sees the line; the anon.json golden pins the Disguise case)
_BLOCK_EFFECTS = {
    "ingrain", "quickguard", "wideguard", "craftyshield", "matblock",
    "protect", "mist", "safeguard", "electricterrain", "mistyterrain",
    "psychicterrain", "telepathy", "stickyhold", "suctioncups",
    "aromaveil", "flowerveil", "sweetveil", "disguise",
    "safetygoggles", "protectivepads",
}


def _effect_id(effect: str | None) -> str:
    if not effect:
        return ""
    if ":" in effect:
        effect = effect.split(":", 1)[1]
    return to_id(effect)


def _upgrade(args, kwargs):
    """Legacy→modern protocol upgrade for '-activate' lines (the subset
    parseBattleLine applies; other upgrades don't survive into the
    anonymizer's fixture surface).  Old 3-arg '-activate' gains the
    modern empty 4th arg; block-type effects become '-block'."""
    if args[0] != "-activate" or len(args) >= 5:
        return args
    keys = {k for k, _v in kwargs}
    if keys & {"item", "move", "number", "ability"}:
        return args
    pokemon, effect = (args[1] if len(args) > 1 else ""), \
        (args[2] if len(args) > 2 else "")
    arg3 = args[3] if len(args) > 3 else ""
    if _effect_id(effect) in _BLOCK_EFFECTS:
        return ["-block", pokemon, effect, arg3]
    return ["-activate", pokemon, effect, arg3]


def _combine(args, kwargs, pokemon):
    buf = "|" + "|".join("" if a is None else str(a) for a in args)
    kws = []
    for k, v in kwargs:
        if k == "of":
            if v == "":
                continue
            v = pokemon(v)
        elif k == "spread" and v is not True:
            v = ",".join(pokemon(s) if IDENT.match(s) else s
                         for s in v.split(","))
        kws.append(f"[{k}]" if v is True else f"[{k}] {v}")
    return buf + ("|" + "|".join(kws) if kws else "")


def anonymize_line(line: str, player_map: dict[str, str],
                   pokemon_map: dict[str, str]) -> str | None:
    """The full switch (index.ts:185-439).  Returns None to drop."""
    if line == "":
        return line
    if not line.startswith("|"):
        return None
    args, kwargs = parse_battle_line(line)
    args = _upgrade(args, kwargs)

    def player(name: str) -> str:
        anon = player_map.get(to_id(name))
        if anon is None:
            raise LeakError(f"Unknown player: {name}")
        return anon

    def pokemon(ident: str) -> str:
        m = _IDENT_PARTS.match(ident)
        if not m:
            raise LeakError(f"Bad ident: {ident}")
        p, pos, name = m.groups()
        anon = pokemon_map.get(f"{p}: {name}")
        if anon is None:
            raise LeakError(f"Unknown Pokemon: {ident}")
        return f"{p}{pos or ''}: {anon}"

    def side(s: str) -> str:
        return s[:4] + player(s[4:])

    def details(d: str) -> str:
        split = d.split(",")
        split[0] = EXCEPTIONS.get(split[0], split[0])
        return ",".join(split)

    def combine():
        return _combine(args, kwargs, pokemon)

    def arg(i):
        return args[i] if i < len(args) else None

    def setarg(i, v):
        while len(args) <= i:
            args.append("")
        args[i] = v

    cmd = args[0]
    # legacy protocol message (index.ts:211)
    if cmd == "-nothing":
        return combine()
    if cmd == "name":
        existing = player_map.get(to_id(arg(2) or ""))
        if existing is not None:
            player_map[to_id(arg(1) or "")] = existing
        return None
    if cmd in _DROP:
        return None
    if cmd in _KEEP:
        return line
    if cmd == "poke":
        setarg(2, details(arg(2) or ""))
        return combine()
    if cmd in _COMBINE:
        return combine()
    if cmd == "-activate":
        if arg(1) and IDENT.match(args[1]):
            args[1] = pokemon(args[1])
        return combine()
    if cmd == "player":
        if not arg(2):
            return line
        setarg(2, player(args[2]))
        setarg(3, "1")
        setarg(4, "")
        return combine()
    if cmd in ("-sidestart", "-sideend"):
        setarg(1, side(arg(1) or ""))
        return combine()
    if cmd == "win":
        setarg(1, player(arg(1) or ""))
        return combine()
    if cmd in ("-anim", "-prepare"):
        setarg(1, pokemon(arg(1) or ""))
        if arg(3):
            args[3] = pokemon(args[3])
        return combine()
    if cmd == "move":
        setarg(1, pokemon(arg(1) or ""))
        if arg(3) and args[3] != "null" and IDENT.match(args[3]):
            args[3] = pokemon(args[3])
        return combine()
    if cmd == "-notarget":
        if arg(1):
            args[1] = pokemon(args[1])
        return combine()
    if cmd in _ARG1_IDENT:
        if arg(1):
            args[1] = pokemon(args[1])
        return combine()
    if cmd in _IDENT_DETAILS:
        setarg(1, pokemon(arg(1) or ""))
        setarg(2, details(arg(2) or ""))
        return combine()
    if cmd == "-block":
        setarg(1, pokemon(arg(1) or ""))
        if arg(4):
            pokemon(args[4])
        setarg(4, arg(4) or "")
        return combine()
    if cmd == "-sethp":
        setarg(1, pokemon(arg(1) or ""))
        if arg(3):
            args[3] = pokemon(args[3])
        return combine()
    if cmd == "-ability":
        if arg(1) != "":
            setarg(1, pokemon(arg(1) or ""))
        a3 = arg(3)
        if a3 and IDENT.match(a3):
            args[3] = pokemon(a3)
        elif a3 and ":" in a3:
            args[3] = side(a3)
        elif arg(4):
            args[4] = pokemon(args[4])
        return combine()
    if cmd == "-heal":
        setarg(1, pokemon(arg(1) or ""))
        for i, (k, v) in enumerate(kwargs):
            if k == "wisher":
                position = args[1].split(": ")[0]
                full = pokemon(f"{position}: {v}")
                kwargs[i] = (k, full.split(": ")[1])
        return combine()
    if cmd in _IDENT_PAIR:
        setarg(1, pokemon(arg(1) or ""))
        if arg(2):
            args[2] = pokemon(args[2])
        return combine()
    raise LeakError(f"Unknown protocol message {cmd}: '{line}'")


def anonymize_team(team: list[dict], base_name: Callable[[str], str],
                   salt: str | None = None, prefix: str = "",
                   pokemon_map: dict | None = None, copy: bool = True,
                   verifier: Verifier | None = None) -> list[dict]:
    """index.ts:105-133.  ``base_name`` maps a species id to its
    baseSpecies display name (gen.species data)."""
    out = []
    for mon in team:
        if copy:
            copied = {k: mon[k] for k in _COPY_FIELDS if k in mon}
            if "moves" in copied:
                copied["moves"] = list(copied["moves"])
            for k in ("evs", "ivs"):
                if k in copied:
                    copied[k] = dict(copied[k])
            for k in _COPY_OPTIONAL:
                if k in mon:
                    copied[k] = mon[k]
            mon = copied
        name = mon.get("name")
        mon["name"] = (hash10(name, salt) if salt
                       else base_name(mon["species"]))
        if pokemon_map is not None:
            pokemon_map[f"{prefix}{name}"] = mon["name"]
        if verifier is not None and mon["name"] != name:
            verifier.names.add(name)
        out.append(mon)
    return out


def anonymize_input_log(lines: list[str],
                        verifier: Verifier | None = None) -> list[str]:
    """index.ts:135-144 — only `>pN <choice>` lines survive."""
    out = []
    for line in lines:
        if _INPUT_KEEP.match(line):
            if verifier is not None:
                verifier.verify(line, line)
            out.append(line)
    return out


def anonymize_raw(raw: dict, base_name: Callable[[str], str],
                  salt: str | None = None,
                  verifier: Verifier | None = None,
                  copy: bool = False) -> dict:
    """Anonymizer.anonymize (index.ts:61-103) over one raw Log dict."""
    p1 = hash10(raw["p1"], salt) if salt else "Player 1"
    p2 = hash10(raw["p2"], salt) if salt else "Player 2"
    winner = (p1 if raw.get("winner") == raw["p1"]
              else p2 if raw.get("winner") == raw["p2"] else "")
    player_map = {to_id(raw["p1"]): p1, to_id(raw["p2"]): p2}
    if verifier is not None:
        verifier.names.add(raw["p1"])
        verifier.names.add(raw["p2"])
    rate = lambda r: ({"rpr": r["rpr"], "rprd": r["rprd"]}  # noqa: E731
                      if r else None)
    pokemon_map: dict[str, str] = {}
    out = {
        "format": raw["format"],
        "endType": raw.get("endType"),
        "turns": raw["turns"],
        "score": raw.get("score"),
        "p1rating": rate(raw.get("p1rating")),
        "p2rating": rate(raw.get("p2rating")),
        "p1team": anonymize_team(raw["p1team"], base_name, salt, "p1: ",
                                 pokemon_map, copy, verifier),
        "p2team": anonymize_team(raw["p2team"], base_name, salt, "p2: ",
                                 pokemon_map, copy, verifier),
        "p1": p1,
        "p2": p2,
        "winner": winner,
    }
    log = []
    for line in raw.get("log", ()):
        anon = anonymize_line(line, player_map, pokemon_map)
        if anon is not None:
            if verifier is not None:
                verifier.verify(line, anon)
            log.append(anon)
    out["log"] = log
    out["inputLog"] = anonymize_input_log(raw.get("inputLog", ()),
                                          verifier)
    return out


def anonymize_logs(df, base_names: dict[str, str],
                   salt: str | None = None, raw_col: str = "raw"):
    """Spark operator: anonymize a DataFrame of raw battle-log JSON
    strings (one battle per row) — Arrow-batched ``mapInPandas``, no
    shuffle, leak-verified per row.  Returns (conv_id?, anon json,
    n_leaks).  JSON-in/JSON-out keeps nested teams away from Arrow
    struct edges (empty-batch segfault gotcha)."""
    import pandas as pd

    id_cols = [c for c in df.columns if c != raw_col]
    bn = base_names

    def fn(batches):
        for pdf in batches:
            # columnar .tolist() zip, not iterrows: the per-row JSON
            # parse + protocol rewrite dominates, but row materialization
            # shouldn't add per-cell Series overhead on top
            anons, leaks = [], []
            for raw_s in pdf[raw_col].tolist():
                raw = json.loads(raw_s)
                v = Verifier()
                anon = anonymize_raw(
                    raw, lambda s: bn.get(s, s), salt, verifier=v)
                anons.append(json.dumps(anon))
                leaks.append(len(v.leaks))
            out = pdf[id_cols].copy()
            out["anon"] = anons
            out["n_leaks"] = leaks
            yield out

    schema = ", ".join(
        [f"{c} {t}" for c, t in df.dtypes if c != raw_col]
        + ["anon string", "n_leaks int"])
    return df.mapInPandas(fn, schema=schema)
