"""S7 — unified display-JSON sink (the reference's "new format").

One JSON document per (format, cutoff) combining the aggregate frames,
mirroring the shape of `DisplayStatistics` (display.ts:10-48):

  { "battles": N,
    "usage": {"raw": .., "real": .., "weighted": ..},
    "pokemon": { species: { "usage": {...}, "abilities": {...},
                 "items": {...}, "moves": {...}, "teammates": {...},
                 "viability": [n, max, p1, p20] } },
    "metagame": { "tags": {...}, "stalliness": {"mean": ..} } }

Maps are emitted in the reference's display order (weight desc, key
asc — util.ts:296-309) with values rounded at PRECISION 1e-4-ish
(display.ts:8 uses 1e4).  The per-(format, cutoff) documents are tiny
(post-aggregation), so assembly is driver-side over collected frames.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def _round(v: float, p: float = 1e4) -> float:
    return round(v * p) / p


def build_display(frames: dict, top_keys: int = 50) -> dict:
    """Assembles display documents keyed by (format, cutoff).

    Every collect is BOUNDED: moveset/teammate maps are truncated to
    ``top_keys`` per (species, section) DISTRIBUTEDLY with a window
    rank before collection (spreads/stats keys are near-unique per team
    at scale — collecting the full maps is a driver OOM at 100×), and
    the stalliness mean is a two-scalar aggregate, never the samples."""
    from pyspark.sql import Window, functions as F

    docs: dict = defaultdict(lambda: dict(
        battles=0, usage={}, pokemon=defaultdict(dict), metagame={}))

    for r in frames["battle_counts"].collect():
        docs[(r.format, r.cutoff)]["battles"] = r.battles
    for r in frames["usage_totals"].collect():
        docs[(r.format, r.cutoff)]["usage"] = dict(
            raw=r.total_usage_raw, real=r.total_usage_real,
            weighted=_round(r.total_usage_weighted))
    for r in frames["usage"].collect():
        d = docs[(r.format, r.cutoff)]["pokemon"][r.species]
        d["usage"] = dict(raw=r.usage_raw, real=r.usage_real,
                          weighted=_round(r.usage_weighted))
        d["count"] = r.raw_count
    for r in frames["viability"].collect():
        d = docs[(r.format, r.cutoff)]["pokemon"][r.species]
        d["viability"] = [r.n, r.gxe_max, r.gxe_p1, r.gxe_p20]

    w = Window.partitionBy("format", "cutoff", "species", "section") \
              .orderBy(F.desc("weight"), F.asc("key"))
    ms = (frames["moveset"]
          .withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= top_keys))
    by_species: dict = defaultdict(list)
    for r in ms.collect():
        by_species[(r.format, r.cutoff, r.species, r.section)].append(
            (r.rn, r.key, r.weight))
    for (fmt, cutoff, species, section), kvs in by_species.items():
        kvs.sort()
        docs[(fmt, cutoff)]["pokemon"][species][section] = {
            k: _round(wt) for _rn, k, wt in kvs}

    wt = Window.partitionBy("format", "cutoff", "species") \
               .orderBy(F.desc("weight"), F.asc("teammate"))
    tmf = (frames["teammates"]
           .withColumn("rn", F.row_number().over(wt))
           .filter(F.col("rn") <= top_keys))
    tm: dict = defaultdict(list)
    for r in tmf.collect():
        tm[(r.format, r.cutoff, r.species)].append((r.rn, r.teammate,
                                                    r.weight))
    for (fmt, cutoff, species), kvs in tm.items():
        kvs.sort()
        docs[(fmt, cutoff)]["pokemon"][species]["teammates"] = {
            k: _round(wv) for _rn, k, wv in kvs}

    meta: dict = defaultdict(dict)
    for r in frames["metagame"].collect():
        meta[(r.format, r.cutoff)][r.tag] = _round(r.weight)
    stall = {(r.format, r.cutoff): (r.vw, r.tw) for r in
             frames["stalliness"].groupBy("format", "cutoff")
             .agg(F.sum(F.col("stalliness") * F.col("weight")).alias("vw"),
                  F.sum("weight").alias("tw")).collect()}
    for key, d in docs.items():
        tags = dict(sorted(meta.get(key, {}).items(),
                           key=lambda kv: (-kv[1], kv[0])))
        sw = stall.get(key)
        d["metagame"] = dict(
            tags=tags,
            stalliness=dict(mean=_round(sw[0] / sw[1]) if sw and sw[1] else 0.0))
        d["pokemon"] = dict(sorted(d["pokemon"].items()))
    return dict(docs)


def write_display(frames: dict, out_dir: str) -> int:
    docs = build_display(frames)
    base = os.path.join(out_dir, "display")
    os.makedirs(base, exist_ok=True)
    for (fmt, cutoff), doc in docs.items():
        with open(os.path.join(base, f"{fmt}-{cutoff}.json"), "w") as f:
            json.dump(doc, f, separators=(",", ":"), sort_keys=False)
    return len(docs)
