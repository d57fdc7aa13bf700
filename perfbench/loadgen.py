"""Seeded corpus generator.

``stats_spark.datagen.corpus.ensure_corpus`` always uses the library's
fixed seed, so this module calls ``gen_conversation(i, n, seed)`` itself
and writes the same layout: ``transcripts.parquet`` partitioned by
``format`` and a flat ``conversations.parquet``.  Next to them it writes
``battles``, the battles checkpoint of the corpus, for the workloads that
start from one.  Corpora are cached per (seed, size, datagen version)
under the work dir and generated before any timing starts.
"""

from __future__ import annotations

import json
import os
import shutil

KEEP_CACHED = 6  # corpora kept on disk; older ones are pruned
LAYOUT = "l2"    # bumped when the cached files change


def corpus_paths(d: str) -> dict:
    return {"transcripts": os.path.join(d, "transcripts.parquet"),
            "conversations": os.path.join(d, "conversations.parquet"),
            "battles": os.path.join(d, "battles"),
            "dir": d}


def ensure_corpus(work_dir: str, seed: int, n_convs: int) -> dict:
    """Generate (or reuse) the corpus for ``seed``; returns its paths plus
    ``seed``, ``n_convs`` and ``n_turns``."""
    from stats_spark.datagen import corpus

    version = corpus.datagen_version()
    base = os.path.join(work_dir, "corpus")
    d = os.path.join(base, f"seed{seed}_n{n_convs}_{version}_{LAYOUT}")
    marker = os.path.join(d, "_DONE.json")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        metas, turns = [], []
        for i in range(n_convs):
            m, t = corpus.gen_conversation(i, n_convs, seed)
            metas.append(m)
            turns.extend(t)
        import pandas as pd

        corpus._write_parquet(pd.DataFrame(turns),
                              os.path.join(tmp, "transcripts.parquet"),
                              partition_cols=["format"])
        corpus._write_parquet(pd.DataFrame(metas),
                              os.path.join(tmp, "conversations.parquet"))
        write_battles_checkpoint(corpus_paths(tmp),
                                 os.path.join(tmp, "battles"))
        with open(os.path.join(tmp, "_DONE.json"), "w") as f:
            json.dump({"seed": seed, "n_convs": n_convs,
                       "n_turns": len(turns), "datagen": version}, f)
        os.rename(tmp, d)
        _prune(base, keep=d)
    with open(marker) as f:
        info = json.load(f)
    return {**corpus_paths(d), **info}


def _prune(base: str, keep: str) -> None:
    entries = [os.path.join(base, e) for e in os.listdir(base)]
    entries = sorted((e for e in entries if e != keep),
                     key=os.path.getmtime, reverse=True)
    for e in entries[KEEP_CACHED - 1:]:
        shutil.rmtree(e, ignore_errors=True)


def battles_rows(corpus: dict) -> list[dict]:
    """The parsed battles of a generated corpus, one row per conversation,
    from the library's own per-conversation parser
    (``operators.parse.parse_battle``): the rows ``run_pipeline``'s parse
    stage checkpoints.  Used to give ``reaggregate`` its input checkpoint
    without a parse job."""
    from collections import defaultdict
    from datetime import timezone

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from stats_spark.operators import parse

    dims = parse.make_dims_payload()
    lines = defaultdict(list)
    for t in ds.dataset(corpus["transcripts"], format="parquet",
                        partitioning="hive").to_table(
            columns=["conv_id", "turn_idx", "text"]).to_pylist():
        lines[t["conv_id"]].append((t["turn_idx"], t["text"]))
    rows = []
    for meta in pq.read_table(corpus["conversations"]).to_pylist():
        text = [x for _, x in sorted(lines.pop(meta["conv_id"], []))]
        try:
            row = parse.parse_battle(meta, text, dims)
        except parse.ParseError as e:
            row = parse._reject_row(meta, str(e))
        # naive timestamps are UTC (the session time zone), not local
        if row["ts"] is not None and row["ts"].tzinfo is None:
            row["ts"] = row["ts"].replace(tzinfo=timezone.utc)
        rows.append(row)
    if lines:
        raise ValueError(f"{len(lines)} transcripts without metadata")
    return rows



def _ddl_fields(ddl: str, sep: str) -> list[tuple[str, str]]:
    """Top-level ``name<sep>type`` pairs of a Spark DDL field list."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            name, typ = ddl[start:i].strip().split(sep, 1)
            out.append((name.strip(), typ.strip()))
            start = i + 1
    return out


def _arrow_type(ddl: str):
    import pyarrow as pa

    if ddl.startswith("array<"):
        return pa.list_(_arrow_type(ddl[len("array<"):-1]))
    if ddl.startswith("struct<"):
        return pa.struct([pa.field(n, _arrow_type(t)) for n, t in
                          _ddl_fields(ddl[len("struct<"):-1], ":")])
    return {"string": pa.string(), "int": pa.int32(),
            "double": pa.float64(),
            "timestamp": pa.timestamp("us", tz="UTC")}[ddl]


def write_battles_checkpoint(corpus: dict, path: str) -> None:
    """A battles checkpoint as Spark reads it back: ``battles_rows``
    under ``parse.BATTLE_SCHEMA``, parquet partitioned on ``format``,
    with a ``_SUCCESS`` marker."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from stats_spark.operators import parse

    schema = pa.schema([pa.field(n, _arrow_type(t)) for n, t in
                        _ddl_fields(parse.BATTLE_SCHEMA, " ")])
    ds.write_dataset(pa.Table.from_pylist(battles_rows(corpus), schema),
                     path, format="parquet", partitioning=["format"],
                     partitioning_flavor="hive",
                     existing_data_behavior="delete_matching")
    open(os.path.join(path, "_SUCCESS"), "w").close()
