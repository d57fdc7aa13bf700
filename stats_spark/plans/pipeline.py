"""The end-to-end parse → enrich → route → aggregate job.

Spark restatement of the reference's `process smogon/stats` lifecycle
(SURVEY §3.1): partition-pruned scan → cogrouped FSM parse → broadcast
enrich → cutoff/tag fan-out → hash aggregations → routed sinks with
per-partition lineage records.

Scale notes (the 100 TB story):
  - transcripts and conversations shuffle ONCE each (the cogroup);
    at cluster scale both tables are bucketed by conv_id, removing it.
  - battles is the compact intermediate (≈1/25th of transcripts); it
    is optionally checkpointed to parquet — the reference's per-(format,
    day) checkpoint layer (S5) — making every downstream aggregate
    restartable without reparsing.
  - every aggregate groups on (format, cutoff, ...); AQE skew splitting
    plus the high-cardinality species/key suffix keeps hot formats from
    serializing on one task.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from stats_spark.datagen import dims
from stats_spark.operators import aggregate as agg
from stats_spark.operators import enrich
from stats_spark.operators.parse import parse_battles
from stats_spark.functions.weights import weighting_expr  # noqa: F401 (parity/streaming callers import via this module)
from stats_spark.sources import tables


# date/format-dependent cutoff selection — workflows/smogon/stats.ts:42-72
CUTOFF_SETS = {
    "default": [0, 1500, 1630, 1760],
    "popular": [0, 1500, 1695, 1825],
}

POPULAR = {
    6: ["ou", "oususpecttest", "doublesou", "randombattle",
        "smogondoubles", "doublesou", "doublesoususpecttest"],
    7: ["gen7ou", "gen7oususpecttest", "gen7doublesou",
        "gen7doublesoususpecttest", "gen7pokebankou",
        "gen7pokebankoususpecttest", "gen7pokebankdoublesou"],
    8: ["gen8doublesou", "gen8doublesoususpect", "gen8ou",
        "gen8oususpecttest"],
    9: ["gen9doublesou", "gen9doublesoususpect", "gen9ou",
        "gen9oususpecttest"],
}


def cutoffs_for(fmt: str, date: str) -> list[int]:
    """workflows/smogon/stats.ts:60-72, rule for rule."""
    if fmt in POPULAR[6]:
        return CUTOFF_SETS["popular"]
    if fmt == "gen7doublesou" and date < "2017-02":
        return CUTOFF_SETS["default"]
    if fmt in POPULAR[7]:
        return CUTOFF_SETS["default"] if date > "2020-01" \
            else CUTOFF_SETS["popular"]
    if fmt == "smogondoublessuspecttest" and date == "2015-04":
        return CUTOFF_SETS["popular"]
    popular = fmt in POPULAR[8] or fmt in POPULAR[9]
    return CUTOFF_SETS["popular"] if popular else CUTOFF_SETS["default"]


def cutoff_map(date: str, formats: list[str] | None = None) -> dict:
    # the pipeline keys battles by CANONICAL format (J5), so the map
    # carries canonical names alongside the raw ones — the reference
    # likewise computes cutoffsFor(canonicalizeFormat(batch.format))
    # (workflows/smogon/stats.ts:124-130)
    fmts = set(formats or [f for f, *_ in dims.FORMATS])
    fmts |= {dims.canonicalize_format(f) for f in fmts}
    return {f: cutoffs_for(f, date) for f in sorted(fmts)}


# the columns every battles_w consumer (encounters / leads /
# battle_counts) reads — shared by the stage and cache prune sites so
# the two lists cannot drift
BW_COLS = ["conv_id", "format", "cutoff", "short", "singles",
           "leads_ok", "lead_p1", "lead_p2", "w_p1", "w_p2", "matchups"]


def battles_weighted(battles: DataFrame,
                     cutoffs=dims.DEFAULT_CUTOFFS,
                     non_singles: set | None = None,
                     non_6v6: set | None = None) -> DataFrame:
    """Battle × cutoff frame with both sides' weights and gate flags —
    feeds encounters / leads / battle counts."""
    non_6v6 = sorted(enrich.NON_6V6_FORMATS if non_6v6 is None else non_6v6)
    non_singles = sorted(enrich.NON_SINGLES_FORMATS if non_singles is None
                         else non_singles)
    singles = ~F.col("format").isin(non_singles)
    short = (~F.col("format").isin(non_6v6)
             & ((F.col("turns") < 2) | ((F.col("turns") < 3) & singles)))
    df = (battles
          .withColumn("singles", singles)
          .withColumn("short", short)
          .withColumn("leads_ok",
                      F.col("lead_p1").isNotNull()
                      & F.col("lead_p2").isNotNull()
                      & (F.col("lead_p1") != "empty")
                      & (F.col("lead_p2") != "empty")))
    for s in ("p1", "p2"):
        outcome = (F.when(F.col("winner") == "tie", 0)
                    .when(F.col("winner") == s, 1).otherwise(-1))
        df = (df.withColumn(f"{s}_outcome", outcome)
                .withColumnRenamed(f"{s}_rpr", "rpr")
                .withColumnRenamed(f"{s}_rprd", "rprd")
                .withColumn("outcome", F.col(f"{s}_outcome")))
        df = enrich.with_effective_rating(df)
        df = (df.withColumnRenamed("eff_rpr", f"{s}_eff_rpr")
                .withColumnRenamed("eff_rprd", f"{s}_eff_rprd")
                .drop("rpr", "rprd", "outcome", "rating_valid", "gxe"))
    df = enrich.explode_cutoffs(df, cutoffs)
    from stats_spark.functions.weights import (weighting_arg_expr,
                                               weighting_expr_from_arg)
    for s in ("p1", "p2"):
        # JVM-side erf weighting (same sqlgen expr as the mons path),
        # argument staged as a column so codegen computes it once
        # instead of at each of erf's ~30 sites (see
        # enrich.with_cutoff_weights)
        df = df.withColumn(
            f"_wx_{s}", weighting_arg_expr(f"{s}_eff_rpr",
                                           f"{s}_eff_rprd", "cutoff"))
    for s in ("p1", "p2"):
        df = df.withColumn(
            f"w_{s}", weighting_expr_from_arg(f"_wx_{s}",
                                              f"{s}_eff_rprd", "cutoff"))
    return df.drop("_wx_p1", "_wx_p2")


SINKS = ["usage", "usage_tagged", "usage_totals", "moveset", "teammates",
         "encounters", "leads", "battle_counts", "metagame", "stalliness",
         "viability"]

# the shared intermediate each frame's plan reads — build_frames builds,
# and stages or caches, only what the requested sinks reach through it.
# unique_players is viability's input (not a routed sink); rejects
# reads the battles frame alone.
SINK_INPUT = {
    **dict.fromkeys(("usage_tagged", "usage", "usage_totals", "moveset",
                     "unique_players", "viability"), "mons_w"),
    **dict.fromkeys(("teammates", "metagame", "stalliness"), "sides_w"),
    **dict.fromkeys(("encounters", "leads", "battle_counts"), "battles_w"),
    "rejects": "battles",
}

# the intermediates build_frames can hold (cache or stage), in
# dependency order
HELD = ("mons", "side_class", "mons_w", "sides_w", "battles_w")

# the battles_w-only aggregates, by sink name
BW_PLANS = {"encounters": agg.encounters, "leads": agg.leads,
            "battle_counts": agg.battle_counts}


def build_frames(spark: SparkSession, battles: DataFrame,
                 cutoffs=dims.DEFAULT_CUTOFFS,
                 cache: bool = False,
                 stage_dir: str | None = None,
                 on_battles_w=None,
                 sinks=(*SINKS, "rejects")) -> dict:
    """Lazy aggregate DataFrames for ``sinks`` from a parsed battles
    frame — demand-driven: only the plans the requested sinks read are
    built, and only the shared intermediates they read (``SINK_INPUT``)
    are staged or cached.  The default (all 11 sinks plus rejects)
    builds everything.  The returned dict holds each requested sink,
    the sink frames it derives from (usage_tagged under usage,
    unique_players under viability), ``battles``, the weighted frames
    built (``_mons_w``/``_sides_w``/``_battles_w``) and ``_held``: the
    cached or staged intermediates by name (see ``HELD``).

    The intermediates: ``mons`` (the pruned enrichment, the CPU-heavy
    pandas-UDF stage) is held only when a mons_w sink is requested —
    mons_w and side_class both read it; ``side_class`` when a mons_w or
    sides_w sink is; ``battles_w`` when a battles_w sink is.  A
    battles_w-only request never runs the enrichment at all.  Plan
    building is driver time with no Spark job running (thousands of
    py4j round trips per sink family), so a partial run skips it too.

    ``on_battles_w`` (stage mode only): callback invoked with the
    requested battles_w sink plans (sink → DataFrame, read from the
    staged parquet) ON THE STAGING WORKER THREAD as soon as battles_w
    lands — run_pipeline uses it to write those sinks WHILE the heavier
    mons/side_class staging still runs, filling the cores the staging
    phase leaves idle (measured ~4.5 of 8 busy).  Exceptions propagate
    through the future's result().

    ``cache=True`` persists the held intermediates (mons, side_class
    and the pruned mons_w, sides_w, battles_w) — every sink reuses them
    instead of re-running the enrichment; use when materializing
    several sinks in one job.  ``_cached`` lists the cached frames in
    that (dependency) order.

    ``stage_dir`` switches to STAGED materialization: each held
    intermediate among mons, side_class and battles_w is written to
    parquet under ``stage_dir`` (eagerly, at build time) and re-read,
    so every sink job is a cheap columnar scan + aggregate with no
    dependence on executor-memory cache locality.  This is the
    cluster-scale path: cached blocks live on specific executors, and
    11 concurrent sink jobs racing over 8+ executors schedule tasks
    non-local to the blocks, stalling on remote block fetch or
    recompute of the pandas-UDF enrichment lineage.  Parquet staging
    makes the expensive enrichment run exactly once regardless of
    topology — the same reason the reference checkpoints its
    per-format intermediates to disk (logs/src/checkpoints.ts) rather
    than holding them in memory."""
    unknown = set(sinks) - SINK_INPUT.keys()
    if unknown:
        raise ValueError(f"unknown sinks: {sorted(unknown)}")
    reads = {SINK_INPUT[s] for s in sinks}
    want_bw = "battles_w" in reads
    want_mons_w = "mons_w" in reads
    want_sides_w = "sides_w" in reads
    stage = None
    if stage_dir is not None:
        cache = False

        def stage(df: DataFrame, name: str) -> DataFrame:
            ts = time.time()
            path = os.path.join(stage_dir, name)
            df.write.mode("overwrite").parquet(path)
            rd = spark.read.parquet(path)
            if os.environ.get("STATS_SPARK_STAGE_TIMING"):
                print(f"STAGE_TIMING {name} {time.time() - ts:.1f}s",
                      flush=True)
            # a compact staged frame (few dozen MB) packs into 1-2 scan
            # splits under maxPartitionBytes, and the explode-heavy
            # consumers then run their whole pre-shuffle CPU on one
            # task.  Re-spread cheap bytes up to the cluster's
            # parallelism; at real scale the frames exceed
            # parallelism × maxPartitionBytes and this is a no-op.
            par = spark.sparkContext.defaultParallelism
            if rd.rdd.getNumPartitions() < par:
                rd = rd.repartition(par)
            return rd

    frames = dict(battles=battles)
    held: dict[str, DataFrame] = {}  # name → cached / staged frame

    def hold(df: DataFrame, name: str) -> DataFrame:
        if cache:
            df = df.cache()
        elif stage:
            df = stage(df, name)
        held[name] = df
        return df

    if want_bw or want_mons_w or want_sides_w:
        # J5: all downstream routing — gates, cutoffs, aggregation
        # keys, sink partitions — uses the CANONICAL format name, so
        # historical eras merge into their modern trees exactly as the
        # reference's setupApply does (workflows/smogon/stats.ts:124-
        # 130).  The accept filter stays on the raw name (it runs
        # upstream of canonicalization in the reference too:
        # logs/src/worker.ts:25-28).
        ok = (enrich.accepted_battles(battles)
              .withColumn("format", enrich.canonical_format_map_col()))
        # battles is compact on disk (a 150k-conversation checkpoint is
        # a few dozen MB) so the scan yields only 1-2 input partitions
        # — but each row fans out ×48 downstream (2 sides × 6 mons × 4
        # cutoffs).  Re-spread by bytes-cheap shuffle so every later
        # stage parallelizes.  ×4 granularity: the pandas-UDF
        # enrichment inherits this count; at ×2 it ran exactly 2 waves
        # with a 40 s max / 78 s mean-of-8 task spread (event-log
        # audit), wasting ~a straggler tail per wave.
        ok = ok.repartition(
            battles.sparkSession.sparkContext.defaultParallelism * 4)

    def bw_plans(bw: DataFrame) -> dict:
        return {s: BW_PLANS[s](bw) for s in BW_PLANS if s in sinks}

    bw_future, _bw_pool = None, None
    if stage and want_bw:
        # battles_w derives from the battles checkpoint alone — no
        # dependence on the enrichment lineage — so its staging write
        # overlaps the mons/side_class staging instead of queueing
        # behind it (measured: the old serial-then-barrier layout ran
        # the staging phase at ~4.5 of 8 cores)
        from concurrent.futures import ThreadPoolExecutor
        _bw_pool = ThreadPoolExecutor(max_workers=1)

        def _stage_bw():
            df = hold(battles_weighted(ok, cutoffs).select(*BW_COLS),
                      "battles_w")
            plans = bw_plans(df)
            if on_battles_w is not None:
                on_battles_w(plans)
            return df, plans

        bw_future = _bw_pool.submit(_stage_bw)

    try:
        if want_mons_w or want_sides_w:
            sides = enrich.with_effective_rating(
                enrich.sides_from_battles(ok))
            # enrichment (stats + classifier columns) is the CPU-heavy
            # stage; prune it to the columns the aggregates consume and
            # hold it ONCE when both side_class and mons_w read it,
            # instead of re-running the enrichment per consumer
            from stats_spark.operators.classifier import _COUNTERS
            mons = enrich.enrich_mons(sides, spark).select(
                "conv_id", "side", "format", "species", "player",
                "rating_valid", "short", "outcome", "turns_out", "gxe",
                "ability", "item", "tera_type", "happiness", "spread",
                "stats_str", "moves", "stalliness", "bias", "base_types",
                "eff_rpr", "eff_rprd",
                *[f"w_{w}" for w in ("rain", "sun", "sand", "hail")],
                *_COUNTERS)
            if want_mons_w:
                mons = hold(mons, "mons")
            side_class = hold(enrich.classify_sides(mons), "side_class")

        # WIDE cutoff shape: cutoff_0..3/w_0..3 columns, NOT ×4 rows —
        # the aggregates sum the four weight columns in one pass and
        # unpivot the grouped output (aggregate._stacked).  The explode
        # form quadrupled every shuffle row and hash-agg probe, making
        # the sink phase memory-bound at high core counts (BENCH.md).
        # Past the held mons / side_class, the cutoff weighting is
        # pure whole-stage codegen: stage mode does NOT stage mons_w /
        # sides_w — cheaper for each sink to recompute from the staged
        # scans than to double-write the weighted parquet through a
        # half-utilized serial barrier (measured: staging them ran the
        # phase at ~4.5/8 cores).  Cache mode caches them pruned to
        # the aggregate columns (the full frame is ~45 cols).
        prune = cache or stage
        wx = [f"cutoff_{i}" for i in range(enrich.N_CUTOFFS)] + \
             [f"w_{i}" for i in range(enrich.N_CUTOFFS)]
        if want_mons_w:
            # side tags ride along on every mon row so the A13 tag
            # fan-out is a plain explode downstream (single pass for
            # total + all tag shards)
            mons_j = mons.join(side_class.select("conv_id", "side", "tags"),
                               ["conv_id", "side"])
            mons_w = enrich.with_cutoff_weights(mons_j, cutoffs)
            if prune:
                mons_w = mons_w.select(
                    "format", "species", "player",
                    "rating_valid", "short", "outcome", "turns_out", "gxe",
                    "ability", "item", "tera_type", "happiness", "spread",
                    "stats_str", "moves", "tags", *wx)
            if cache:
                mons_w = hold(mons_w, "mons_w")
            frames["_mons_w"] = mons_w
        if want_sides_w:
            sides_w = enrich.with_cutoff_weights(
                sides.join(side_class, ["conv_id", "side"]), cutoffs)
            if prune:
                sides_w = sides_w.select(
                    "conv_id", "format", "side", "short",
                    "team", "team_size", "tags", "team_stalliness", *wx)
            if cache:
                sides_w = hold(sides_w, "sides_w")
            frames["_sides_w"] = sides_w
        if want_bw:
            if stage:
                battles_w, plans = bw_future.result()
            else:
                battles_w = battles_weighted(ok, cutoffs)
                if cache:
                    battles_w = hold(battles_w.select(*BW_COLS),
                                     "battles_w")
                plans = bw_plans(battles_w)
            frames["_battles_w"] = battles_w
            frames.update(plans)
    finally:
        if _bw_pool is not None:
            # on the success path result() already ran — shutdown is a
            # no-op; on an error path (e.g. staging mons fails) this
            # cancels a not-yet-started staging job and never blocks
            # error propagation on the worker thread
            bw_future.cancel()
            _bw_pool.shutdown(wait=False, cancel_futures=True)

    # materialization order matters: mons first (one enrichment pass),
    # then side_class (from cached mons), then the ×cutoff frames
    frames["_held"] = {k: held[k] for k in HELD if k in held}
    frames["_cached"] = list(frames["_held"].values()) if cache else []

    def want(*names) -> bool:
        return any(n in sinks for n in names)

    if want("usage_tagged", "usage", "usage_totals"):
        frames["usage_tagged"] = agg.usage_by_species_tagged(
            agg.with_tag_dimension(frames["_mons_w"]))
    if want("usage", "usage_totals"):
        # the usage family derives from the ONE tagged aggregation (its
        # 'total' shard is usage_by_species column-for-column)
        frames["usage"] = agg.usage_from_tagged(frames["usage_tagged"])
    if want("usage_totals"):
        frames["usage_totals"] = agg.usage_totals(frames["usage"])
    if want("moveset"):
        frames["moveset"] = agg.moveset_maps(frames["_mons_w"])
    if want("unique_players", "viability"):
        frames["unique_players"] = agg.unique_players(frames["_mons_w"])
    if want("viability"):
        frames["viability"] = agg.viability(frames["unique_players"])
    if want("teammates"):
        frames["teammates"] = agg.teammates(frames["_sides_w"])
    if want("metagame"):
        frames["metagame"] = agg.metagame(frames["_sides_w"])
    if want("stalliness"):
        frames["stalliness"] = agg.stalliness_samples(frames["_sides_w"])
    if want("rejects"):
        # rejects key canonical too — the reference counts parse
        # rejects under the canonicalized batch format
        frames["rejects"] = (enrich.rejected_battles(battles)
                             .withColumn("format",
                                         enrich.canonical_format_map_col()))
    return frames


def resolve_materialize(master: str, materialize: str) -> str:
    """``"auto"`` → topology-aware choice: executor-memory cache when
    every cached block is process-local by construction (single-JVM
    ``local``/``local[...]`` master), parquet staging for any
    multi-executor master ("local-cluster[...]", standalone, YARN,
    k8s) where 11 concurrent sink jobs would stall on remote block
    fetch / lineage recompute (see build_frames)."""
    if materialize != "auto":
        return materialize
    single_jvm = master == "local" or master.startswith("local[")
    return "cache" if single_jvm else "stage"


def _parquet_rows(path: str) -> int:
    """Exact row count of a just-written parquet tree from the file
    FOOTERS, driver-side — the sink pool used to launch a Spark count
    job per sink for this (12 jobs, ~0.5-0.9 s each at bench scale;
    a footer sum is ~20 ms and reads no data pages).  Counting our own
    freshly-committed output is driver-scale metadata work at any
    corpus size: one footer per file the write itself just created."""
    import glob as _glob

    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in _glob.glob(os.path.join(path, "**", "*.parquet"),
                                   recursive=True))


def completed_sinks(spark: SparkSession, out_dir: str,
                    job: str = "stats_pipeline") -> set[str]:
    """Sinks the lineage ledger records as committed AND whose output
    still carries a _SUCCESS marker — the resume predicate
    (logs/src/checkpoints.ts:31-47 analog).

    Read on the driver with pyarrow, the way tables.write_lineage
    writes it: the ledger is a few rows per commit, and reading it
    through Spark cost a job per run (~0.2 s warm, ~4 s as a JVM's
    first read).  ``spark`` is unused; kept for the call sites."""
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(path):
        return set()
    rows = pq.read_table(path, columns=["job", "partition", "path"])
    return {r["partition"] for r in rows.to_pylist()
            if r["job"] == job
            and os.path.exists(os.path.join(r["path"], "_SUCCESS"))}


def run_pipeline(spark: SparkSession, corpus_paths: dict, out_dir: str,
                 cutoffs=dims.DEFAULT_CUTOFFS,
                 checkpoint_battles: bool = True,
                 sinks: list[str] | None = None,
                 count_rows: bool = True,
                 resume: bool = False,
                 date: str | None = None,
                 materialize: str = "auto") -> dict:
    """Full job: scan → parse → enrich → aggregate → ROUTE to per-sink
    partitioned parquet trees + per-sink lineage records.

    ``resume=True`` makes the run idempotent: the battles checkpoint is
    reused when its _SUCCESS marker exists, and any sink the lineage
    ledger records as committed (with its output intact) is skipped —
    only missing/incomplete sinks are recomputed.

    Demand-driven: the sinks left to write (``sinks`` minus the ledger's
    committed ones, plus rejects unless committed) go to build_frames,
    so the driver builds only their plans and Spark stages or caches
    only the intermediates they read — a battles_w-only resume never
    runs the enrichment, and a run with nothing left builds nothing.

    ``date`` ('YYYY-MM') switches to the reference's date/format-
    dependent cutoff sets (popular formats get [0,1500,1695,1825]).

    ``materialize`` picks how the shared intermediates are held while
    the 11 sinks consume them: ``"stage"`` writes them to parquet under
    ``out_dir/_stage`` — topology-independent, the cluster-scale path;
    ``"cache"`` uses executor-memory caching — faster single-JVM,
    degrades under multi-executor concurrent sinks (see build_frames).
    ``"auto"`` (default) picks by topology: a single-JVM ``local[*]``
    master (all cached blocks are process-local by construction) gets
    cache; any multi-executor master (local-cluster, standalone, YARN,
    k8s) gets the staged path."""
    t0 = time.time()
    materialize = resolve_materialize(spark.sparkContext.master or "",
                                      materialize)
    if date is not None:
        cutoffs = cutoff_map(date)
    done = completed_sinks(spark, out_dir) if resume else set()

    bpath = os.path.join(out_dir, "battles")
    if (resume and checkpoint_battles
            and os.path.exists(os.path.join(bpath, "_SUCCESS"))):
        battles = spark.read.parquet(bpath)
        t_parse = 0.0
    else:
        tr = tables.load_transcripts(spark, corpus_paths)
        cv = tables.load_conversations(spark, corpus_paths)
        battles = parse_battles(tr, cv)
        if checkpoint_battles:
            # S5 checkpoint: compact columnar intermediate, partitioned
            # on the routing key; downstream re-reads it (resume point).
            # 2× parallelism: the encode+compress cost per output task
            # is conversation-length skewed, so exactly-one-wave writes
            # idle ~2 cores behind the longest task (event-log audit:
            # 5.9/8 busy cores during the checkpoint write at 1.2M)
            n_out = max(8, spark.sparkContext.defaultParallelism * 2)
            (battles.repartition(n_out, "format", "conv_id")
             .write.mode("overwrite").partitionBy("format")
             .parquet(bpath))
            battles = spark.read.parquet(bpath)
        t_parse = time.time() - t0

    todo = [s for s in (sinks or SINKS) if s not in done]
    metrics = [dict(partition=s, path=os.path.join(out_dir, s), rows=-1,
                    seconds=0.0, skipped=True) for s in (sinks or SINKS)
               if s in done]

    t_cache = t_sinks = 0.0
    if todo or "rejects" not in done:
        t1 = time.time()
        from concurrent.futures import ThreadPoolExecutor

        def write_df(sink: str, df: DataFrame) -> dict:
            ts = time.time()
            part = (("format", "cutoff") if "cutoff" in df.columns
                    else ("format",))
            path = tables.write_routed(df, out_dir, sink,
                                       partition_cols=part)
            rows = _parquet_rows(path) if count_rows else -1
            m = dict(partition=sink, path=path, rows=rows,
                     seconds=round(time.time() - ts, 2), skipped=False)
            # per-sink lineage commit — a killed run resumes from here
            # (driver-side pyarrow append to a uniquely-named file; no
            # Spark job, safe under the concurrent sink pool)
            tables.write_lineage(spark, out_dir, "stats_pipeline", [m])
            return m

        # battles_w-only sinks, written from battles_w as soon as it is
        # live — in stage mode on the staging worker thread, WHILE
        # mons/side_class still stage, on the cores that phase leaves
        # idle.  build_frames built exactly the ones in todo.
        overlap_metrics: list[dict] = []

        def on_bw(plans: dict) -> None:
            if plans:
                with ThreadPoolExecutor(max_workers=len(plans)) as p:
                    overlap_metrics.extend(
                        p.map(lambda s: write_df(s, plans[s]), plans))

        # demand-driven: only the todo sinks' plans are built, and only
        # the intermediates they read are staged or cached
        wanted = todo + ([] if "rejects" in done else ["rejects"])
        # mat_gate[sink]() blocks until the cache that sink consumes is
        # materialized (cache mode only; staged mode materializes
        # everything before the pool starts, so no gates are needed)
        mat_gate: dict = {}
        mat_pool = bw_future = None
        mat_done: dict = {}
        if materialize == "stage":
            # staged path: build_frames writes the shared intermediates
            # to parquet eagerly; t_cache below is the staging time
            # (and includes the overlapped battles_w sink writes)
            frames = build_frames(spark, battles, cutoffs,
                                  stage_dir=os.path.join(out_dir,
                                                         "_stage"),
                                  on_battles_w=on_bw, sinks=wanted)
            t_cache = time.time() - t1
        else:
            frames = build_frames(spark, battles, cutoffs, cache=True,
                                  sinks=wanted)
            # PIPELINED materialization: the sink pool starts
            # immediately and each sink gates on the future of the ONE
            # cache it consumes, so sinks launch the moment their
            # input is live instead of behind an all-cache barrier
            # (the barrier idled the pool for the whole second-level
            # build, ~6 s at bench scale).  The first-level caches
            # (mons, side_class) still build serially — everything
            # downstream depends on them — then mons_w and sides_w
            # materialize concurrently.  battles_w and its three sinks
            # depend only on the battles checkpoint, so they run from
            # the first second, back-filling the cores the serial
            # cache builds leave idle.  FIFO job scheduling interleaves
            # it all; each cache is counted exactly once by its own
            # future, so no sink ever computes uncached partitions.
            # Only the caches some todo sink reads exist at all.
            held = frames["_held"]
            mat_pool = ThreadPoolExecutor(max_workers=4)

            def mat_base():
                for k in ("mons", "side_class"):
                    if k in held:
                        held[k].count()
                mat_done["base"] = time.time()

            base_fut = mat_pool.submit(mat_base)

            def after_base(key):
                base_fut.result()
                held[key].count()
                mat_done[key] = time.time()

            for key in ("mons_w", "sides_w"):
                if key in held:
                    fut = mat_pool.submit(after_base, key)
                    for s, src in SINK_INPUT.items():
                        if src == key:
                            mat_gate[s] = fut.result

            def _bw_overlap():
                held["battles_w"].count()  # materialize the cache
                mat_done["battles_w"] = time.time()
                on_bw({s: frames[s] for s in BW_PLANS if s in frames})

            if "battles_w" in held:
                bw_future = mat_pool.submit(_bw_overlap)
        t2 = time.time()

        # the usage family chains off ONE aggregation: usage_tagged's
        # 'total' shard IS usage_by_species column-for-column (the tag
        # fan-out adds the sentinel to every mon), so usage and
        # usage_totals derive from the WRITTEN usage_tagged parquet —
        # two of the heaviest mons-explode scans disappear from the
        # sink pool.  Equality is pinned by test_golden_aggregates +
        # test_stage_materialize.
        def write_usage_chain() -> list[dict]:
            out = []
            ut_path = os.path.join(out_dir, "usage_tagged")
            if "usage_tagged" in mat_gate:
                mat_gate["usage_tagged"]()
            if "usage_tagged" in todo:
                out.append(write_df("usage_tagged", frames["usage_tagged"]))
            if "usage" in todo:
                # derive from the written parquet when it exists (the
                # normal full-pipeline path); fall back to the direct
                # aggregation for partial-sink runs
                src = (agg.usage_from_tagged(spark.read.parquet(ut_path))
                       if os.path.exists(os.path.join(ut_path, "_SUCCESS"))
                       else frames["usage"])
                out.append(write_df("usage", src))
            if "usage_totals" in todo:
                upath = os.path.join(out_dir, "usage")
                src = (agg.usage_totals(spark.read.parquet(upath))
                       if os.path.exists(os.path.join(upath, "_SUCCESS"))
                       else frames["usage_totals"])
                out.append(write_df("usage_totals", src))
            return out

        def write_rejects() -> list[dict]:
            # dead-letter route — P8 rejects; independent of every
            # sink, so it rides the pool instead of trailing the run
            rej = frames["rejects"].select("conv_id", "format", "day",
                                           "error", "ts")
            rpath = os.path.join(out_dir, "rejects")
            rej.write.mode("overwrite").parquet(rpath)
            m = dict(partition="rejects", path=rpath,
                     rows=_parquet_rows(rpath) if count_rows else -1,
                     seconds=0.0, skipped=False)
            tables.write_lineage(spark, out_dir, "stats_pipeline", [m])
            return [m]

        USAGE_CHAIN = ("usage_tagged", "usage", "usage_totals")
        # longest-ladder-first submission: the usage chain is a serial
        # 3-sink dependency ladder (~3× any single sink) — submitted
        # last it trails the run nearly alone (event-log audit: the
        # final ~50 s at 8 cores ran at <0.8 utilization).  Front-load
        # it, then the heavy single sinks, so the pool's tail is the
        # small cheap jobs.
        HEAVY = ("moveset", "teammates", "viability")
        # the battles_w sinks are written by the overlap path (on_bw /
        # _bw_overlap) in BOTH modes — never by the pool
        plain = sorted((s for s in todo
                        if s not in BW_PLANS and s not in USAGE_CHAIN),
                       key=lambda s: s not in HEAVY)
        def write_sink(s: str) -> list[dict]:
            gate = mat_gate.get(s)
            if gate is not None:
                gate()  # wait for this sink's input cache (cache mode)
            return [write_df(s, frames[s])]

        tasks = []
        if any(s in todo for s in USAGE_CHAIN):
            tasks.append(write_usage_chain)
        if "rejects" not in done:
            tasks.append(write_rejects)
        tasks += [lambda s=s: write_sink(s) for s in plain]

        # the sinks are many *small* jobs — submit them concurrently so
        # scheduling overhead overlaps and the executors stay saturated
        # (Spark's scheduler interleaves jobs from multiple threads).
        # Pool width is tunable: wide pools thrash the LLC/memory bus
        # when several explode-heavy jobs run at high core counts
        # (measured in BENCH.md's decomposition).
        from concurrent.futures import ThreadPoolExecutor
        default_width = max(2, min(6, spark.sparkContext.defaultParallelism
                                   // 4))
        width = int(os.environ.get("STATS_SPARK_SINK_POOL",
                                   str(default_width)))
        try:
            with ThreadPoolExecutor(max_workers=width) as pool:
                for out in pool.map(lambda fn: fn(), tasks):
                    metrics += out
            if bw_future is not None:
                bw_future.result()  # surface overlap errors, join writes
        finally:
            if mat_pool is not None:
                mat_pool.shutdown(wait=False, cancel_futures=True)
        metrics += overlap_metrics
        if materialize != "stage":
            # cache materialization overlaps the sink pool by design;
            # t_cache is the span until the LAST cache went live
            t_cache = ((max(mat_done.values()) - t1)
                       if mat_done else time.time() - t1)
        t_sinks = time.time() - t2
    if "rejects" in done:
        metrics.append(dict(partition="rejects",
                            path=os.path.join(out_dir, "rejects"),
                            rows=-1, seconds=0.0, skipped=True))
    return dict(seconds=time.time() - t0, parse_seconds=round(t_parse, 2),
                cache_seconds=round(t_cache, 2),
                sink_seconds=round(t_sinks, 2), sinks=metrics)
