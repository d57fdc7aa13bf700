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
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from stats_spark.datagen import dims
from stats_spark.operators import aggregate as agg
from stats_spark.operators import enrich
from stats_spark.operators.parse import parse_battles
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


def _usage_tagged(mons_w: DataFrame) -> DataFrame:
    return agg.usage_by_species_tagged(agg.with_tag_dimension(mons_w))


def _rejects(battles: DataFrame) -> DataFrame:
    # rejects key canonical too — the reference counts parse rejects
    # under the canonicalized batch format
    return (enrich.rejected_battles(battles)
            .withColumn("format", enrich.canonical_format_map_col()))


# plan → (the frame it reads, the function that builds it from that
# frame).  A plan reads a shared intermediate (mons_w, sides_w,
# battles_w, or battles itself) or another plan: the usage family chains
# off ONE tagged aggregation (its 'total' shard is usage_by_species
# column-for-column), and unique_players is viability's input, not a
# routed sink.
PLANS = {
    "usage_tagged": ("mons_w", _usage_tagged),
    "usage": ("usage_tagged", agg.usage_from_tagged),
    "usage_totals": ("usage", agg.usage_totals),
    "moveset": ("mons_w", agg.moveset_maps),
    "unique_players": ("mons_w", agg.unique_players),
    "viability": ("unique_players", agg.viability),
    "teammates": ("sides_w", agg.teammates),
    "metagame": ("sides_w", agg.metagame),
    "stalliness": ("sides_w", agg.stalliness_samples),
    "encounters": ("battles_w", agg.encounters),
    "leads": ("battles_w", agg.leads),
    "battle_counts": ("battles_w", agg.battle_counts),
    "rejects": ("battles", _rejects),
}


def source(name: str) -> str:
    """The shared intermediate ``name``'s plan reads, following the
    ``PLANS`` chain (usage_totals → usage → usage_tagged → mons_w)."""
    while name in PLANS:
        name = PLANS[name][0]
    return name


# the usage ladder: each sink derives from the one before it
USAGE_CHAIN = ("usage_tagged", "usage", "usage_totals")
# the heaviest single sinks, started first
HEAVY = ("moveset", "teammates", "viability")

# the intermediates build_frames can hold (cache or stage), in
# dependency order
HELD = ("mons", "side_class", "mons_w", "sides_w", "battles_w")

# the ones staged to parquet.  Past the staged mons / side_class the
# cutoff weighting is pure whole-stage codegen: cheaper for each sink to
# recompute mons_w / sides_w from the staged scans than to double-write
# the weighted parquet (measured: staging them ran the phase at ~4.5 of
# 8 cores)
STAGED = ("mons", "side_class", "battles_w")

# the columns each frame's consumers read — the enrichment and the
# weighted frames are ~45 columns wide
MONS_W_COLS = ["format", "species", "player", "rating_valid", "short",
               "outcome", "turns_out", "gxe", "ability", "item",
               "tera_type", "happiness", "spread", "stats_str", "moves",
               "tags", *enrich.WIDE_COLS]
SIDES_W_COLS = ["conv_id", "format", "side", "short", "team", "team_size",
                "tags", "team_stalliness", *enrich.WIDE_COLS]
BW_COLS = ["conv_id", "format", "cutoff", "short", "singles",
           "leads_ok", "lead_p1", "lead_p2", "w_p1", "w_p2", "matchups"]


@contextmanager
def _described(spark: SparkSession, layer: str, name: str):
    """Every Spark job this thread submits inside the block carries the
    job description ``stats:<layer>:<name>``, so the event log names
    the layer and sink of each job.  A job description is a per-thread
    local property and the pools' threads start with none; the
    thread's previous one is restored on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"stats:{layer}:{name}")
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def _holder(spark: SparkSession, cache: bool, stage_dir: str | None,
            held: dict):
    """``hold(df, name)`` for one strategy: the frame, live, recorded
    in ``held``.  Stage (``stage_dir`` set): write the STAGED frames to
    parquet and read them back; cache: persist and count; neither: the
    plan as is."""
    if stage_dir is not None:
        def hold(df: DataFrame, name: str) -> DataFrame:
            if name not in STAGED:
                return df
            path = os.path.join(stage_dir, name)
            with _described(spark, "hold", name):
                df.write.mode("overwrite").parquet(path)
                df = spark.read.parquet(path)
            # a compact staged frame (few dozen MB) packs into 1-2 scan
            # splits under maxPartitionBytes, and the explode-heavy
            # consumers then run their whole pre-shuffle CPU on one
            # task.  Re-spread cheap bytes up to the cluster's
            # parallelism; at real scale the frames exceed
            # parallelism × maxPartitionBytes and this is a no-op.
            par = spark.sparkContext.defaultParallelism
            if df.rdd.getNumPartitions() < par:
                df = df.repartition(par)
            held[name] = df
            return df
    elif cache:
        def hold(df: DataFrame, name: str) -> DataFrame:
            df = df.cache()
            with _described(spark, "hold", name):
                df.count()
            held[name] = df
            return df
    else:
        def hold(df: DataFrame, name: str) -> DataFrame:
            return df
    return hold


def _intermediates(pool, spark: SparkSession, battles: DataFrame, cutoffs,
                   hold, sinks) -> dict:
    """Submit to ``pool`` the shared intermediates ``sinks`` read; returns
    source name → future of the live frame (see ``source``).

    One task stages battles_w, one the mons → side_class chain, and one
    each mons_w and sides_w, which wait on the chain: at most four
    tasks, so on a pool of four or more that one nested wait cannot
    deadlock.  A battles_w-only request never runs the enrichment."""
    reads = {source(s) for s in sinks}
    futs = {"battles": Future()}
    futs["battles"].set_result(battles)
    if not reads & {"mons_w", "sides_w", "battles_w"}:
        return futs
    # J5: all downstream routing — gates, cutoffs, aggregation keys,
    # sink partitions — uses the CANONICAL format name, so historical
    # eras merge into their modern trees exactly as the reference's
    # setupApply does (workflows/smogon/stats.ts:124-130).  The accept
    # filter stays on the raw name (it runs upstream of
    # canonicalization in the reference too: logs/src/worker.ts:25-28).
    ok = (enrich.accepted_battles(battles)
          .withColumn("format", enrich.canonical_format_map_col()))
    # battles is compact on disk (a 150k-conversation checkpoint is a
    # few dozen MB) so the scan yields only 1-2 input partitions — but
    # each row fans out ×12 downstream (2 sides × 6 mons).  Re-spread
    # by bytes-cheap shuffle so every later stage parallelizes.  ×4
    # granularity: the enrichment (JVM expressions only) inherits
    # this count; at ×2 it ran exactly 2 waves with a 40 s max / 78 s
    # mean-of-8 task spread (event-log audit), wasting ~a straggler tail
    # per wave.
    ok = ok.repartition(spark.sparkContext.defaultParallelism * 4)
    if "battles_w" in reads:
        # battles_w derives from the battles checkpoint alone, so it
        # goes live alongside the enrichment instead of queueing behind
        futs["battles_w"] = pool.submit(
            lambda: hold(battles_weighted(ok, cutoffs).select(*BW_COLS),
                         "battles_w"))
    if not reads & {"mons_w", "sides_w"}:
        return futs
    sides = enrich.with_effective_rating(enrich.sides_from_battles(ok))

    def chain():
        # enrichment (stats + classifier columns) is the CPU-heavy
        # stage; prune it to the columns the aggregates consume and
        # hold it ONCE when both side_class and mons_w read it, instead
        # of re-running the enrichment per consumer
        from stats_spark.operators.classifier import _COUNTERS
        mons = enrich.enrich_mons(sides, spark).select(
            "conv_id", "side", "format", "species", "player",
            "rating_valid", "short", "outcome", "turns_out", "gxe",
            "ability", "item", "tera_type", "happiness", "spread",
            "stats_str", "moves", "stalliness", "bias", "base_types",
            "eff_rpr", "eff_rprd",
            *[f"w_{w}" for w in ("rain", "sun", "sand", "hail")],
            *_COUNTERS)
        if "mons_w" in reads:
            mons = hold(mons, "mons")
        return mons, hold(enrich.classify_sides(mons), "side_class")

    base = pool.submit(chain)

    # WIDE cutoff shape: cutoff_0..3/w_0..3 columns, NOT ×4 rows — the
    # aggregates sum the four weight columns in one pass and unpivot the
    # grouped output (aggregate._stacked).  The explode form quadrupled
    # every shuffle row and hash-agg probe, making the sink phase
    # memory-bound at high core counts (BENCH.md).
    def mons_w():
        mons, side_class = base.result()
        # side tags ride along on every mon row so the A13 tag fan-out
        # is a plain explode downstream (single pass for total + all
        # tag shards)
        df = mons.join(side_class.select("conv_id", "side", "tags"),
                       ["conv_id", "side"])
        return hold(enrich.with_cutoff_weights(df, cutoffs)
                    .select(*MONS_W_COLS), "mons_w")

    def sides_w():
        df = sides.join(base.result()[1], ["conv_id", "side"])
        return hold(enrich.with_cutoff_weights(df, cutoffs)
                    .select(*SIDES_W_COLS), "sides_w")

    for name, fn in (("mons_w", mons_w), ("sides_w", sides_w)):
        if name in reads:
            futs[name] = pool.submit(fn)
    return futs


def _plan(name: str, frames: dict, futs: dict) -> DataFrame:
    """``name``'s frame, memoised in ``frames``: a shared intermediate
    is its future's result, a plan is built over the frame it reads."""
    if name not in frames:
        if name in futs:
            frames[name] = futs[name].result()
        else:
            src, fn = PLANS[name]
            frames[name] = fn(_plan(src, frames, futs))
    return frames[name]


def build_frames(spark: SparkSession, battles: DataFrame,
                 cutoffs=dims.DEFAULT_CUTOFFS,
                 cache: bool = False,
                 stage_dir: str | None = None,
                 sinks=(*SINKS, "rejects")) -> dict:
    """Aggregate DataFrames for ``sinks`` from a parsed battles frame —
    demand-driven: only the plans the requested sinks read are built
    (``PLANS``), and only the shared intermediates they read are held.
    The default (all 11 sinks plus rejects) builds everything.  The
    returned dict holds each requested sink, the plans it derives from
    (usage_tagged under usage, unique_players under viability),
    ``battles``, the weighted frames read (``_mons_w``/``_sides_w``/
    ``_battles_w``) and ``_held``: the cached or staged intermediates
    by name, in ``HELD`` order.

    The schedule is the one run_pipeline uses: the intermediates go
    live on a pool of four (``_intermediates``), and build_frames waits
    for all of them before building the requested plans over them.
    ``mons`` (the pruned enrichment, the CPU-heavy stage) is
    read only by a mons_w or sides_w sink, and held only when a mons_w
    sink is requested — mons_w and side_class both read it.  Plan
    building is driver time with no Spark job running (thousands of
    py4j round trips per sink family), so a partial request skips it
    too.  The weighted frames are always pruned to the columns their
    consumers read.

    ``cache=True`` persists and counts every held intermediate (mons,
    side_class, mons_w, sides_w, battles_w) before returning, so every
    sink reuses them instead of re-running the enrichment.  ``_cached``
    lists them in dependency order.

    ``stage_dir`` switches to STAGED materialization: mons, side_class
    and battles_w are written to parquet under ``stage_dir`` and read
    back, so every sink job is a cheap columnar scan + aggregate with
    no dependence on executor-memory cache locality.  This is the
    cluster-scale path: cached blocks live on specific executors, and
    11 concurrent sink jobs racing over 8+ executors schedule tasks
    non-local to the blocks, stalling on remote block fetch or
    recompute of the enrichment lineage.  Parquet staging
    makes the expensive enrichment run exactly once regardless of
    topology — the same reason the reference checkpoints its
    per-format intermediates to disk (logs/src/checkpoints.ts) rather
    than holding them in memory."""
    unknown = set(sinks) - PLANS.keys()
    if unknown:
        raise ValueError(f"unknown sinks: {sorted(unknown)}")
    cache = cache and stage_dir is None
    held: dict[str, DataFrame] = {}
    hold = _holder(spark, cache, stage_dir, held)
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = _intermediates(pool, spark, battles, cutoffs, hold, sinks)
        frames = {name: f.result() for name, f in futs.items()}
    for s in sinks:
        _plan(s, frames, futs)
    for name in ("mons_w", "sides_w", "battles_w"):
        if name in frames:
            frames[f"_{name}"] = frames.pop(name)
    frames["_held"] = {k: held[k] for k in HELD if k in held}
    frames["_cached"] = list(frames["_held"].values()) if cache else []
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


def completed_sinks(out_dir: str,
                    job: str = "stats_pipeline") -> set[str]:
    """Sinks the lineage ledger records as committed AND whose output
    still carries a _SUCCESS marker — the resume predicate
    (logs/src/checkpoints.ts:31-47 analog).

    Read on the driver with pyarrow, the way tables.write_lineage
    writes it: the ledger is a few rows per commit, and reading it
    through Spark cost a job per run (~0.2 s warm, ~4 s as a JVM's
    first read)."""
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
                 sinks: list[str] | None = None,
                 resume: bool = False,
                 date: str | None = None,
                 materialize: str = "auto") -> dict:
    """Full job: scan → parse → checkpoint → enrich → aggregate → ROUTE
    to per-sink partitioned parquet trees + per-sink lineage records.

    ``resume=True`` makes the run idempotent: the battles checkpoint is
    reused when its _SUCCESS marker exists, and any sink the lineage
    ledger records as committed (with its output intact) is skipped —
    only missing/incomplete sinks are recomputed.

    Demand-driven: the sinks left to write (``sinks`` minus the ledger's
    committed ones, plus rejects unless committed) are the only plans
    built, and Spark stages or caches only the intermediates they read —
    a battles_w-only resume never runs the enrichment, and a run with
    nothing left builds nothing.

    ``date`` ('YYYY-MM') switches to the reference's date/format-
    dependent cutoff sets (popular formats get [0,1500,1695,1825]).

    ``materialize`` picks how the shared intermediates are held while
    the sinks consume them: ``"stage"`` writes them to parquet under
    ``out_dir/_stage`` — topology-independent, the cluster-scale path;
    ``"cache"`` uses executor-memory caching — faster single-JVM,
    degrades under multi-executor concurrent sinks (see build_frames).
    ``"auto"`` (default) picks by topology: a single-JVM ``local[*]``
    master (all cached blocks are process-local by construction) gets
    cache; any multi-executor master (local-cluster, standalone, YARN,
    k8s) gets the staged path.

    Both strategies run on one schedule: the intermediates go live as
    futures (``_intermediates``), and every sink waits for its input's
    future on a thread of its own, builds its plan, then takes one of
    the write slots, so each sink starts the moment its input is live —
    the battles_w sinks and rejects while the enrichment still runs.
    The usage ladder is one serial task holding one slot."""
    t0 = time.time()
    materialize = resolve_materialize(spark.sparkContext.master or "",
                                      materialize)
    if date is not None:
        cutoffs = cutoff_map(date)
    done = completed_sinks(out_dir) if resume else set()

    bpath = os.path.join(out_dir, "battles")
    with _described(spark, "checkpoint", "battles"):
        if resume and os.path.exists(os.path.join(bpath, "_SUCCESS")):
            battles = spark.read.parquet(bpath)
            t_parse = 0.0
        else:
            tr = tables.load_transcripts(spark, corpus_paths)
            cv = tables.load_conversations(spark, corpus_paths)
            # S5 checkpoint: compact columnar intermediate, partitioned on
            # the routing key; downstream re-reads it (resume point).  2×
            # parallelism: the encode+compress cost per output task is
            # conversation-length skewed, so exactly-one-wave writes idle ~2
            # cores behind the longest task (event-log audit: 5.9/8 busy
            # cores during the checkpoint write at 1.2M)
            n_out = max(8, spark.sparkContext.defaultParallelism * 2)
            (parse_battles(tr, cv).repartition(n_out, "format", "conv_id")
             .write.mode("overwrite").partitionBy("format").parquet(bpath))
            battles = spark.read.parquet(bpath)
            t_parse = time.time() - t0

    todo = [s for s in (sinks or SINKS) if s not in done]
    metrics = [dict(partition=s, path=os.path.join(out_dir, s), rows=-1,
                    seconds=0.0, skipped=True) for s in (sinks or SINKS)
               if s in done]
    wanted = todo + ([] if "rejects" in done else ["rejects"])

    t_cache = t_sinks = 0.0
    if wanted:
        t1 = time.time()

        def write_df(sink: str, df: DataFrame) -> dict:
            ts = time.time()
            if sink == "rejects":
                # dead-letter route — P8 rejects, one unpartitioned tree
                path = os.path.join(out_dir, sink)
                (df.select("conv_id", "format", "day", "error", "ts")
                 .write.mode("overwrite").parquet(path))
            else:
                part = (("format", "cutoff") if "cutoff" in df.columns
                        else ("format",))
                path = tables.write_routed(df, out_dir, sink,
                                           partition_cols=part)
            m = dict(partition=sink, path=path, rows=_parquet_rows(path),
                     seconds=round(time.time() - ts, 2), skipped=False)
            # per-sink lineage commit — a killed run resumes from here
            # (driver-side pyarrow append to a uniquely-named file; no
            # Spark job, safe under concurrent sink writes)
            tables.write_lineage(spark, out_dir, "stats_pipeline", [m])
            return m

        # the sinks are many *small* jobs — written concurrently so
        # scheduling overhead overlaps and the executors stay saturated
        # (Spark's scheduler interleaves jobs from multiple threads).
        # The write width is bounded: wide pools thrash the LLC/memory
        # bus when several explode-heavy jobs run at high core counts
        # (measured in BENCH.md's decomposition).
        slots = threading.Semaphore(
            max(2, min(6, spark.sparkContext.defaultParallelism // 4)))

        def write_sink(s: str) -> list[dict]:
            with _described(spark, "sink", s):
                df = _plan(s, {}, futs)
                with slots:
                    return [write_df(s, df)]

        # the usage family chains off ONE aggregation: usage_tagged's
        # 'total' shard IS usage_by_species column-for-column, so usage
        # and usage_totals derive from the WRITTEN parent parquet — two
        # of the heaviest mons-explode scans disappear.  Equality is
        # pinned by test_golden_aggregates + test_stage_materialize.
        ladder = [s for s in USAGE_CHAIN if s in todo]

        def write_ladder() -> list[dict]:
            futs["mons_w"].result()  # wait for the input outside a slot
            frames, out = {}, []
            with slots:
                for s in ladder:
                    parent = PLANS[s][0]
                    with _described(spark, "sink", s):
                        # a parent's parquet only when this run wrote it
                        # or the ledger commits it — never a previous
                        # run's
                        if parent in done or parent in (m["partition"]
                                                        for m in out):
                            frames[parent] = spark.read.parquet(
                                os.path.join(out_dir, parent))
                        out.append(write_df(s, _plan(s, frames, futs)))
            return out

        # longest-ladder-first submission: the usage ladder is a serial
        # 3-sink dependency chain (~3× any single sink) — started last
        # it trails the run nearly alone (event-log audit: the final
        # ~50 s at 8 cores ran at <0.8 utilization).  Front-load it,
        # then the heavy single sinks, so the tail is the small jobs.
        tasks = [write_ladder] if ladder else []
        tasks += [lambda s=s: write_sink(s)
                  for s in sorted((s for s in wanted if s not in ladder),
                                  key=lambda s: s not in HEAVY)]
        stage = materialize == "stage"
        hold = _holder(spark, not stage,
                       os.path.join(out_dir, "_stage") if stage else None,
                       {})
        # one thread per task: every sink waits on a future without
        # starving the (at most four) intermediate tasks
        with ThreadPoolExecutor(max_workers=4 + len(tasks)) as pool:
            futs = _intermediates(pool, spark, battles, cutoffs, hold,
                                  wanted)
            live = [time.time()]
            for f in futs.values():
                f.add_done_callback(lambda _: live.append(time.time()))
            for fut in [pool.submit(fn) for fn in tasks]:
                metrics += fut.result()
        # the intermediates go live while sinks write: t_cache is the
        # span until the LAST one was live
        t_cache = max(live) - t1
        t_sinks = time.time() - t1
    if "rejects" in done:
        metrics.append(dict(partition="rejects",
                            path=os.path.join(out_dir, "rejects"),
                            rows=-1, seconds=0.0, skipped=True))
    return dict(seconds=time.time() - t0, parse_seconds=round(t_parse, 2),
                cache_seconds=round(t_cache, 2),
                sink_seconds=round(t_sinks, 2), sinks=metrics)
