"""Load the reference's fixture battle logs into the engine's input
shape (the ``input_hint`` transcript/conversation tables).

One fixture log (``stats/src/test/testdata/logs/<format>/log.N.json``)
becomes one conversation: the raw protocol lines are the transcript
rows (conv_id, turn_idx, role, text, tool, ts) and the battle metadata
+ teams become the conversation row — exactly the same two-table shape
the synthetic corpus uses, so the identical parse → enrich → aggregate
engine runs on both.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime, timedelta

import pandas as pd

from stats_spark.parity.gen_data import REFERENCE

LOGS = os.path.join(REFERENCE, "stats", "src", "test", "testdata", "logs")
REPORTS = os.path.join(REFERENCE, "stats", "src", "test", "testdata",
                       "reports")

EV_KEYS = ["hp", "atk", "def", "spa", "spd", "spe"]
BASE_TS = datetime(2024, 1, 1)


def _flatten_mon(p: dict) -> dict:
    mon = dict(
        species=p.get("species"), name=p.get("name"), item=p.get("item"),
        ability=p.get("ability"), nature=p.get("nature"),
        moves=list(p.get("moves") or []), level=p.get("level"),
        forced_level=p.get("forcedLevel"), happiness=p.get("happiness"),
        tera_type=p.get("teraType"), hp_type=p.get("hpType"),
    )
    evs, ivs = p.get("evs") or {}, p.get("ivs") or {}
    for k in EV_KEYS:
        mon[f"ev_{k}"] = evs.get(k)
        mon[f"iv_{k}"] = ivs.get(k)
    return mon


def load_format(fmt: str):
    """-> (conversations pdf, transcripts pdf) for one fixture format."""
    metas, turns = [], []
    for i, path in enumerate(
            sorted(glob.glob(os.path.join(LOGS, fmt, "log.*.json")))):
        with open(path) as f:
            raw = json.load(f)
        conv_id = f"{fmt}-{os.path.basename(path)}"
        ts = BASE_TS + timedelta(hours=i)
        r1, r2 = raw.get("p1rating") or {}, raw.get("p2rating") or {}
        metas.append(dict(
            conv_id=conv_id, format=fmt, p1=raw["p1"], p2=raw["p2"],
            winner=raw.get("winner"), end_type=raw.get("endType"),
            turns=raw.get("turns"),
            p1_rating_rpr=_f(r1.get("rpr")), p1_rating_rprd=_f(r1.get("rprd")),
            p2_rating_rpr=_f(r2.get("rpr")), p2_rating_rprd=_f(r2.get("rprd")),
            p1_team=json.dumps([_flatten_mon(p) for p in raw["p1team"]]),
            p2_team=json.dumps([_flatten_mon(p) for p in raw["p2team"]]),
            ts=ts, day=ts.date().isoformat(),
        ))
        for j, line in enumerate(raw.get("log") or []):
            turns.append(dict(conv_id=conv_id, turn_idx=j, role="system",
                              text=line, tool=None,
                              ts=ts + timedelta(seconds=j), format=fmt,
                              day=ts.date().isoformat()))
    return pd.DataFrame(metas), pd.DataFrame(turns)


def _f(v):
    return None if v is None else float(v)


def formats() -> list[str]:
    """The fixture formats; none where the reference is absent."""
    return sorted(os.listdir(LOGS)) if os.path.isdir(LOGS) else []


def to_spark(spark, fmt: str):
    """-> (transcripts df, conversations df) with the engine schemas
    (teams ship as JSON strings; parse_battles decodes in the UDF)."""
    convs, turns = load_format(fmt)
    cv_schema = ("conv_id string, format string, p1 string, p2 string, "
                 "winner string, end_type string, turns int, "
                 "p1_rating_rpr double, p1_rating_rprd double, "
                 "p2_rating_rpr double, p2_rating_rprd double, "
                 "p1_team string, p2_team string, ts timestamp, day string")
    tr_schema = ("conv_id string, turn_idx int, role string, text string, "
                 "tool string, ts timestamp, format string, day string")
    cv = spark.createDataFrame(convs, cv_schema)
    tr = spark.createDataFrame(turns, tr_schema)
    return tr, cv


def golden(fmt: str, report: str, cutoff: int) -> str:
    ext = "json" if report in ("detailed", "display") else "txt"
    with open(os.path.join(REPORTS, fmt, f"{report}.{cutoff}.{ext}")) as f:
        return f.read()
