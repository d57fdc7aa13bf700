"""ENRICH stage: broadcast-lookup enrichment + weighting + classification.

Everything here is declarative DataFrame API — broadcast hash joins
against the KB-sized dimension tables (SURVEY §2.4 J1–J5) and column
math — so Catalyst keeps it inside whole-stage codegen.  The only
Python is the Arrow-vectorized erf weighting UDF (A1).

Frames produced (all derived from the PARSE output `battles`):

  sides       one row per (battle, side): player, outcome, ratings,
              team array, short/singles gates
  mons        sides × explode(team) ⋈ dim_species ⋈ dim_natures,
              + computed stats, spread/stats strings, stalliness, bias
  side_class  per-side classification (bias, mean stalliness, tags)
              — classifier.ts:11-54 analog
  mons_w      mons × explode(cutoffs) + erf weight + gxe
  sides_w     sides ⋈ side_class × explode(cutoffs) + weight + gxe
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from stats_spark.datagen import dims
from stats_spark.functions import statcalc
from stats_spark.functions.weights import (gxe_expr, weighting_expr, WIN_RPR,
                                           LOSS_RPR, OUTCOME_RPRD,
                                           DEFAULT_RPR, DEFAULT_RPRD)


# Gate sets extended with the canonical names of flagged formats: the
# pipeline canonicalizes the format column after the accept filter
# (workflows/smogon/stats.ts:124), so e.g. ``battlespotdoubles`` rows
# reach the gates as ``vgc2015`` — the reference's own NON_6V6 /
# NON_SINGLES sets likewise list canonical names (util.ts:101-257).
# Defined here rather than in datagen.dims because dims.py is part of
# the corpus version hash (generation code only).
NON_SINGLES_FORMATS = frozenset(
    dims.NON_SINGLES_FORMATS
    | {dims.canonicalize_format(f) for f in dims.NON_SINGLES_FORMATS})
NON_6V6_FORMATS = frozenset(
    dims.NON_6V6_FORMATS
    | {dims.canonicalize_format(f) for f in dims.NON_6V6_FORMATS})


def dim_species_df(spark) -> DataFrame:
    return spark.createDataFrame(dims.species_table())


def dim_natures_df(spark) -> DataFrame:
    rows = [dict(nature=n, plus=p, minus=m) for n, (p, m) in dims.NATURES.items()]
    return spark.createDataFrame(rows)


def dim_formats_df(spark) -> DataFrame:
    return spark.createDataFrame(dims.formats_table())


def accepted_battles(battles: DataFrame) -> DataFrame:
    """F1 format accept filter + dead-letter split.  On the partitioned
    source this filter is pushed into partition pruning."""
    accepted = [f for f, *_ in dims.FORMATS if dims.accept_format(f)]
    return battles.filter(F.col("error").isNull()
                          & F.col("format").isin(accepted))


def rejected_battles(battles: DataFrame) -> DataFrame:
    return battles.filter(F.col("error").isNotNull())


def canonical_format_map_col(col: str = "format"):
    """Closed-world fast path for J5: the canonicalizeFormat rules
    precomputed over the known format universe as a literal-map lookup
    — one small expression in a single projection.  The general rule
    pipeline (canonicalize_format_df below) handles arbitrary names
    but costs five full-width projections, which was measured to blow
    the enrichment stage's generated method past janino's 64 KB limit
    (the battle schema's team struct arrays are re-emitted per step).
    Exact within any accept-filtered frame: the accept list and this
    map are built from the same dims.FORMATS universe, and the rule
    content itself lives in dims.canonicalize_format (unit-tested on
    every branch of util.ts:261-275)."""
    pairs = []
    for f, *_ in dims.FORMATS:
        c = dims.canonicalize_format(f)
        if c != f:
            pairs += [F.lit(f), F.lit(c)]
    m = F.create_map(*pairs)
    # try_element_at: null (not an ANSI error) on a non-rewritten name
    return F.coalesce(F.try_element_at(m, F.col(col)), F.col(col))


def canonicalize_format_df(df: DataFrame, col: str = "format") -> DataFrame:
    """J5 ``canonicalizeFormat`` (util.ts:261-275) as pure column
    expressions — whole-stage codegen, no UDF, no join.  The reference
    applies it at the workflow layer before gen routing / cutoff
    selection / aggregation keying (workflows/smogon/stats.ts:124-130),
    so historical-era names merge into their modern report trees
    (``orasou`` → ``ou``, ``smogondoubles`` → ``doublesou``, …).

    The three strip rules apply sequentially (matching the TS flow),
    then the exact-name rewrites fire on the stripped value.  Note the
    TS ``slice(8, -4)`` for the ``pokebank`` prefix strips the
    trailing 4 chars unconditionally — the quirk is preserved.

    Each step lands in its own projected column rather than one nested
    CASE expression: a single-Column version references the previous
    step three times per rule (condition, rewrite, passthrough), which
    cubes the expression tree per level and was measured to blow the
    generated method past janino's 64 KB limit, knocking the whole
    enrichment stage out of whole-stage codegen.  Multi-use aliases
    are NOT collapsed by CollapseProject, so this form stays linear."""
    tmp = "_canon_fmt"
    s = F.col(col)
    df = df.withColumn(tmp, F.when(
        s.endswith("current"),
        s.substr(F.lit(1), F.length(s) - 7)).otherwise(s))
    t = F.col(tmp)
    df = df.withColumn(tmp, F.when(
        t.startswith("pokebank"),
        t.substr(F.lit(9), F.length(t) - 12)).otherwise(t))
    df = df.withColumn(tmp, F.when(
        t.startswith("oras"),
        t.substr(F.lit(5), F.length(t) - 4)).otherwise(t))
    df = df.withColumn(tmp, F.when(
        t.startswith("xybattlespot") & t.endswith("beta"),
        t.substr(F.lit(1), F.length(t) - 4)).otherwise(t))
    return (df.withColumn(col, F.when(t == "capbeta", F.lit("cap"))
              .when(t == "vgc2014beta", F.lit("vgc2014"))
              .when(t.isin("battlespotdoubles", "battlespotdoublesvgc2015"),
                    F.lit("vgc2015"))
              .when(t == "smogondoubles", F.lit("doublesou"))
              .when(t == "smogondoublesubers", F.lit("doublesubers"))
              .when(t == "smogondoublesuu", F.lit("doublesuu"))
              .otherwise(t))
            .drop(tmp))


def sides_from_battles(battles: DataFrame,
                       non_singles: set | None = None,
                       non_6v6: set | None = None) -> DataFrame:
    """Explode battle rows to one row per (battle, side) — the unit the
    reference iterates in updateTagged (stats.ts:138-143).  Format gate
    sets default to the synthetic dims; the parity path passes the
    reference's legacy sets."""
    side_struct = [
        F.struct(
            F.lit(s).alias("side"),
            F.col(f"{s}_name").alias("player"),
            F.col(f"{s}_rpr").alias("rpr"),
            F.col(f"{s}_rprd").alias("rprd"),
            F.col(f"{s}_team").alias("team"),
            F.col(f"lead_{s}").alias("lead"),
        ) for s in ("p1", "p2")
    ]
    non_6v6 = sorted(NON_6V6_FORMATS if non_6v6 is None else non_6v6)
    non_singles = sorted(NON_SINGLES_FORMATS if non_singles is None
                         else non_singles)
    singles = ~F.col("format").isin(non_singles)
    # short-battle gate — stats.ts:134-136
    short = (~F.col("format").isin(non_6v6)
             & ((F.col("turns") < 2) | ((F.col("turns") < 3) & singles)))
    return (battles
            .withColumn("singles", singles)
            .withColumn("short", short)
            .select("conv_id", "format", "day", "turns", "winner", "ts",
                    "singles", "short",
                    F.explode(F.array(*side_struct)).alias("s"))
            .select("conv_id", "format", "day", "turns", "winner", "ts",
                    "singles", "short", "s.*")
            .withColumn("outcome",
                        F.when(F.col("winner") == "tie", F.lit(0))
                         .when(F.col("winner") == F.col("side"), F.lit(1))
                         .otherwise(F.lit(-1))))


def with_effective_rating(df: DataFrame) -> DataFrame:
    """Resolve Glicko defaults — stats.ts:245-258.  ``save`` marks a
    valid provided rating (drives the `saved` counters + GXE)."""
    valid = (F.col("rpr").isNotNull() & F.col("rprd").isNotNull()
             & (F.col("rprd") != 0))
    return df.withColumns({
        "rating_valid": valid,
        "eff_rpr": (F.when(valid, F.col("rpr"))
                     .when(F.col("outcome") == 1, F.lit(WIN_RPR))
                     .when(F.col("outcome") == -1, F.lit(LOSS_RPR))
                     .otherwise(F.lit(DEFAULT_RPR))),
        "eff_rprd": (F.when(valid, F.col("rprd"))
                      .when(F.col("outcome") != 0, F.lit(OUTCOME_RPRD))
                      .otherwise(F.lit(DEFAULT_RPRD))),
        "gxe": F.when(F.col("rpr").isNotNull()
                      & F.col("rprd").isNotNull(),
                      gxe_expr("rpr", "rprd"))})


def enrich_mons(sides: DataFrame, spark) -> DataFrame:
    """Explode teams and enrich each set: computed stats (A5), spread &
    stats strings, per-mon classifier columns (C2–C4).  Dimension joins
    are explicit broadcasts; the second species join fetches the BASE
    forme's stats/types for mega forme-averaging and team analysis
    (classifier.ts:60-77, 217-219)."""
    sp = F.broadcast(dim_species_df(spark).select(
        "species_id", "display_name", "base_species_id", "is_mega",
        *[F.col(f"base_{s}").alias(f"b_{s}") for s in statcalc.STATS],
        "types", "tier"))
    sp_base = F.broadcast(dim_species_df(spark).select(
        F.col("species_id").alias("bsp_id"),
        *[F.col(f"base_{s}").alias(f"b2_{s}") for s in statcalc.STATS],
        F.col("types").alias("base_types")))
    nat = F.broadcast(dim_natures_df(spark))

    mons = (sides
            .select("conv_id", "format", "day", "side", "player", "outcome",
                    "short", "singles", "rpr", "rprd", "rating_valid",
                    "eff_rpr", "eff_rprd", "gxe", "winner",
                    F.explode("team").alias("mon"))
            .select("*", "mon.*").drop("mon"))
    mons = (mons
            .join(sp, mons.species == sp.species_id, "left").drop("species_id")
            .join(sp_base, F.col("base_species_id") == F.col("bsp_id"), "left")
            .drop("bsp_id")
            .join(nat, "nature", "left"))

    # BATCHED withColumns: the calc_stat/stat_to_ev CASE trees are
    # large, and eager per-withColumn analysis of them cost whole
    # driver-seconds per pipeline build (see with_cutoff_weights)
    mons = mons.withColumns({
        f"stat_{s}": statcalc.calc_stat(
            s, F.col(f"b_{s}"), F.col(f"iv_{s}"), F.col(f"ev_{s}"),
            F.col("level"), F.col("plus"), F.col("minus"))
        for s in statcalc.STATS})
    # spread string "Nature:ev/.../ev" with EVs canonicalized through
    # the stat round-trip — stats.ts:391-412
    ev_cols = [
        statcalc.stat_to_ev(s, F.col(f"stat_{s}"), F.col(f"b_{s}"),
                            F.col(f"iv_{s}"), F.col("level"),
                            F.col("plus"), F.col("minus")).cast("long")
        for s in statcalc.STATS
    ]
    mons = mons.withColumns({
        "spread": F.concat(F.initcap("nature"), F.lit(":"),
                           F.concat_ws("/", *ev_cols)),
        "stats_str": F.concat_ws("/", *[F.col(f"stat_{s}").cast("long")
                                        for s in statcalc.STATS])})

    from stats_spark.operators import classifier
    return classifier.mon_classifier_cols(mons)


def classify_sides(mons: DataFrame) -> DataFrame:
    """Per-side classification — delegates to the full classifier port
    (operators.classifier: classifyTeam + the complete tag set)."""
    from stats_spark.operators import classifier
    return classifier.classify_sides(mons)


def cutoff_array_col(cutoffs=dims.DEFAULT_CUTOFFS):
    """Per-row cutoff array: a plain list applied to every format, or a
    dict[format, list[int]] for the reference's date/format-dependent
    cutoff sets (workflows/smogon/stats.ts:55-72) selected JVM-side
    from a broadcast literal map."""
    if isinstance(cutoffs, dict):
        entries = []
        for fmt, cs in sorted(cutoffs.items()):
            entries += [F.lit(fmt), F.array(*[F.lit(c) for c in cs])]
        mp = F.create_map(*entries)
        default = F.array(*[F.lit(c) for c in dims.DEFAULT_CUTOFFS])
        return F.coalesce(mp[F.col("format")], default)
    return F.array(*[F.lit(c) for c in cutoffs])


def explode_cutoffs(df: DataFrame,
                    cutoffs=dims.DEFAULT_CUTOFFS) -> DataFrame:
    """A13 multi-cutoff fan-out: one pass computes every cutoff — the
    dimension becomes an ordinary group-by column."""
    return df.withColumn("cutoff", F.explode(cutoff_array_col(cutoffs)))


N_CUTOFFS = 4  # every reference cutoff set has exactly four entries
# the columns with_cutoff_weights adds
WIDE_COLS = [f"{c}_{i}" for c in ("cutoff", "w") for i in range(N_CUTOFFS)]


def with_cutoff_weights(df: DataFrame,
                        cutoffs=dims.DEFAULT_CUTOFFS) -> DataFrame:
    """WIDE multi-cutoff fan-out: ``cutoff_0..3`` + erf weights
    ``w_0..3`` as COLUMNS instead of ×4 rows.  Only the weight varies
    by cutoff, so exploding quadruples every downstream shuffle row
    and hash-agg probe for nothing — the aggregates sum the four
    weight columns in one pass over the un-multiplied rows and unpivot
    the (tiny) grouped output back to a ``cutoff`` dimension
    (aggregate._stacked).  Measured: the explode form made the sink
    phase memory-bound at high core counts (BENCH.md)."""
    from stats_spark.functions.weights import (weighting_arg_expr,
                                               weighting_expr_from_arg)
    sets = ([dims.DEFAULT_CUTOFFS] + list(cutoffs.values())
            if isinstance(cutoffs, dict) else [list(cutoffs)])
    assert all(len(s) == N_CUTOFFS for s in sets), sets
    df = df.withColumn("_cuts", cutoff_array_col(cutoffs))
    # stage the erf arguments as columns: inlined, each of the four
    # weights re-emits its (rpr-cutoff)/rprd/sqrt(2) subtree at ~30
    # erf sites and the projection exceeds janino's 64 KB doConsume
    # limit — the whole wide-weight stage then ran INTERPRETED (r06;
    # the same defect class as VERDICT r05's binary-decode finding).
    # Three BATCHED withColumns (not 12 withColumn calls): PySpark
    # analyzes the whole upstream tree eagerly per call, and with the
    # ~30-site erf trees that driver-side analysis alone cost ~1.8 s
    # per pipeline build (guide §5: the driver should do no heavy
    # work).  Batches stay separate because each references columns
    # the previous batch created.
    df = df.withColumns({f"cutoff_{i}": F.col("_cuts").getItem(i)
                         for i in range(N_CUTOFFS)})
    df = df.withColumns({f"_wx_{i}": weighting_arg_expr(
        "eff_rpr", "eff_rprd", f"cutoff_{i}") for i in range(N_CUTOFFS)})
    df = df.withColumns({f"w_{i}": weighting_expr_from_arg(
        f"_wx_{i}", "eff_rprd", f"cutoff_{i}") for i in range(N_CUTOFFS)})
    return df.drop("_cuts", *[f"_wx_{i}" for i in range(N_CUTOFFS)])


def with_weight(df: DataFrame) -> DataFrame:
    """A1 erf weighting per (row, cutoff) — JVM-side Cody erf, inside
    whole-stage codegen (no Python in the hot path)."""
    return df.withColumn("weight",
                         weighting_expr("eff_rpr", "eff_rprd", "cutoff"))
