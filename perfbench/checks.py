"""Output checks: row counts from parquet footers, order-independent
content digests, and DuckDB recomputations over the battles checkpoint."""

from __future__ import annotations

import glob
import hashlib
import os
from datetime import datetime, timezone


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_files(path))


def checkpoint_split(path: str) -> tuple[int, int]:
    """(parsed battles, rejects) in a battles checkpoint."""
    import pyarrow.dataset as ds

    battles = ds.dataset(path, format="parquet", partitioning="hive")
    total = battles.count_rows()
    parsed = battles.count_rows(filter=ds.field("error").is_null())
    return parsed, total - parsed


def dir_usage(path: str) -> tuple[float, int, int]:
    """(MB on disk, data files, lineage commits) under ``path``."""
    size, files, commits = 0, 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            if os.path.basename(root) == "_lineage":
                commits += n.startswith("commit-")
            else:
                files += n.endswith(".parquet")
    return size / 1e6, files, commits


def _norm(v) -> str:
    # cache and staged materialization sum floats in different orders,
    # so compare at 9 significant digits (as tests/test_stage_materialize)
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, datetime):
        # Spark's INT96 timestamps read back naive, pyarrow's tz-aware;
        # both are UTC
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def sink_digest(path: str) -> tuple[int, str]:
    """(rows, digest) of a parquet tree, independent of row and file
    order; hive partition columns are part of each row."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet",
                       partitioning="hive").to_table()
    cols = sorted(table.column_names)
    rows = sorted(
        hashlib.md5("|".join(_norm(r[c]) for c in cols).encode()).hexdigest()
        for r in table.select(cols).to_pylist())
    return len(rows), hashlib.md5("".join(rows).encode()).hexdigest()


def _sql_list(values) -> str:
    return "(" + ", ".join("'" + v.replace("'", "''") + "'"
                           for v in sorted(values)) + ")"


def _canon_case(col: str = "format") -> str:
    from stats_spark.datagen import dims

    pairs = [(f, dims.canonicalize_format(f)) for f, *_ in dims.FORMATS]
    whens = " ".join(f"WHEN '{f}' THEN '{c}'" for f, c in pairs if f != c)
    return f"CASE {col} {whens} ELSE {col} END" if whens else col


def duckdb_cross_check(out_dir: str) -> list[str]:
    """Recompute battle_counts and cutoff-0 usage raw counts from the
    battles checkpoint in DuckDB and compare with the job's sinks.
    Returns the mismatches (empty when the job is right)."""
    import duckdb

    from stats_spark.datagen import dims
    from stats_spark.operators import enrich

    accepted = [f for f, *_ in dims.FORMATS if dims.accept_format(f)]
    battles = os.path.join(out_dir, "battles", "**", "*.parquet")
    singles = f"format NOT IN {_sql_list(enrich.NON_SINGLES_FORMATS)}"
    short = (f"(format NOT IN {_sql_list(enrich.NON_6V6_FORMATS)} AND "
             f"(turns < 2 OR (turns < 3 AND {singles})))")
    leads_ok = ("(lead_p1 IS NOT NULL AND lead_p2 IS NOT NULL AND "
                "lead_p1 <> 'empty' AND lead_p2 <> 'empty')")
    ok = (f"SELECT * REPLACE ({_canon_case()} AS format) "
          f"FROM read_parquet('{battles}', hive_partitioning = true) "
          f"WHERE error IS NULL AND format IN {_sql_list(accepted)}")
    con = duckdb.connect()
    try:
        want_counts = dict(con.execute(f"""
            SELECT format, sum(CASE WHEN {singles}
                                    THEN ({leads_ok} AND NOT {short})
                                    ELSE NOT {short} END::INT)
            FROM ({ok}) GROUP BY 1""").fetchall())
        want_usage = {(f, s): n for f, s, n in con.execute(f"""
            SELECT format, m.species, count(*) FROM (
              SELECT format, unnest(p1_team) AS m FROM ({ok})
              UNION ALL
              SELECT format, unnest(p2_team) AS m FROM ({ok}))
            GROUP BY 1, 2""").fetchall()}
        got_counts = dict(con.execute(f"""
            SELECT format, battles FROM read_parquet(
              '{out_dir}/battle_counts/**/*.parquet', hive_partitioning = true)
            WHERE cutoff = 0""").fetchall())
        got_usage = {(f, s): n for f, s, n in con.execute(f"""
            SELECT format, species, raw_count FROM read_parquet(
              '{out_dir}/usage/**/*.parquet', hive_partitioning = true)
            WHERE cutoff = 0""").fetchall()}
    finally:
        con.close()
    bad = []
    if got_counts != want_counts:
        bad.append(f"battle_counts: job {sorted(got_counts.items())[:5]} "
                   f"duckdb {sorted(want_counts.items())[:5]}")
    if got_usage != want_usage:
        diff = {k for k in got_usage.keys() | want_usage.keys()
                if got_usage.get(k) != want_usage.get(k)}
        bad.append(f"usage raw_count differs on {len(diff)} "
                   f"(format, species) keys, e.g. {sorted(diff)[:3]}")
    return bad


def duckdb_winner_check(corpus: dict, checkpoint: str) -> list[str]:
    """Per-format conversation counts and every parsed battle's winner
    side, recomputed in DuckDB from the generator's own conversation
    records, against the battles checkpoint."""
    import duckdb

    battles = os.path.join(checkpoint, "**", "*.parquet")
    con = duckdb.connect()
    try:
        per_format = con.execute(f"""
            SELECT coalesce(c.format, b.format), count(c.conv_id),
                   count(b.conv_id)
            FROM read_parquet('{corpus["conversations"]}') c
            FULL JOIN read_parquet('{battles}', hive_partitioning = true) b
              USING (conv_id)
            GROUP BY 1 HAVING count(c.conv_id) <> count(b.conv_id)
            """).fetchall()
        winners = con.execute(f"""
            SELECT count(*) FILTER (WHERE b.winner <> CASE c.winner
                       WHEN c.p1 THEN 'p1' WHEN c.p2 THEN 'p2'
                       ELSE 'tie' END),
                   count(*)
            FROM read_parquet('{corpus["conversations"]}') c
            JOIN read_parquet('{battles}', hive_partitioning = true) b
              USING (conv_id)
            WHERE b.error IS NULL""").fetchone()
    finally:
        con.close()
    bad = []
    if per_format:
        bad.append(f"conversations per format differ: {per_format[:5]}")
    if winners[0] or not winners[1]:
        bad.append(f"{winners[0]} of {winners[1]} parsed winners differ "
                   "from the generator's")
    return bad


def expected_anon_lines(corpus: dict) -> int:
    """Lines the release must hold: public conversations' lines whose
    message type the anonymizer keeps."""
    import duckdb

    from stats_spark.operators.anonymize import KEEP_TYPES

    tr = os.path.join(corpus["transcripts"], "**", "*.parquet")
    con = duckdb.connect()
    try:
        return con.execute(f"""
            SELECT count(*)
            FROM read_parquet('{tr}', hive_partitioning = true) t
            JOIN read_parquet('{corpus["conversations"]}') c USING (conv_id)
            WHERE NOT c.roomid LIKE '%pw'
              AND split_part(t.text, '|', 2) IN {_sql_list(KEEP_TYPES)}
            """).fetchone()[0]
    finally:
        con.close()
