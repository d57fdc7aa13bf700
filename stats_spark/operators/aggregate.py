"""AGGREGATE stage: salted-ready hash aggregations (SURVEY §2.5).

Every aggregate is a commutative sum/max — Spark's partial+final hash
aggregation replaces the reference's explicit update/combine split
(stats.ts:214-242, 585-653) with zero code.  Output keys always lead
with (format, cutoff): format is the skewed dimension
(logs/DESIGN.md:9-11), handled by AQE skew splitting plus the fact
that species/key columns fan the hot keys out naturally.

Input frames come from operators.enrich and plans.pipeline:
  mons_w    one row per (battle, side, mon), with gxe/short flags
  sides_w   one row per (battle, side), with tags/classification
  battles_w battle × cutoff rows, with per-side weights, leads, matchups

mons_w and sides_w carry the WIDE cutoff shape of
enrich.with_cutoff_weights: the format's four cutoffs as ``cutoff_0..3``
and their erf weights as ``w_0..3`` columns, not ×4 rows.  Only the
weight varies by cutoff, so their aggregates sum the four weight
columns in one pass and unpivot the small grouped output back to a
``cutoff`` row dimension (``_stacked``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from stats_spark.operators.enrich import N_CUTOFFS, WIDE_COLS
from stats_spark.operators.parse import INVERSE_OUTCOMES

GK = ["format", "cutoff"]  # global grouping dimensions


def not_short(col) -> F.Column:
    return F.when(~F.col("short"), col).otherwise(F.lit(0))


def _cutoff_firsts():
    """Group-key carry for the per-format cutoff values (constant
    within a format, so first() is deterministic)."""
    return [F.first(f"cutoff_{i}").alias(f"cutoff_{i}")
            for i in range(N_CUTOFFS)]


def _per_cutoff(name: str, fn) -> list:
    """``fn(w_i)`` aliased ``name_i`` for every cutoff i."""
    return [fn(F.col(f"w_{i}")).alias(f"{name}_{i}")
            for i in range(N_CUTOFFS)]


def _stacked(grouped: DataFrame, keys: list[str], cols: list[str],
             extra: list[str] = ()) -> DataFrame:
    """Unpivot a wide-cutoff grouped frame back to a ``cutoff`` row
    dimension: emits (keys..., cutoff, cols..., extra...) where each
    ``c`` in cols comes from ``c_i`` and cutoff from ``cutoff_i``."""
    rows = ", ".join(
        ", ".join([f"cutoff_{i}"] + [f"{c}_{i}" for c in cols])
        for i in range(N_CUTOFFS))
    names = ", ".join(["cutoff"] + list(cols))
    return grouped.select(
        *keys, F.expr(f"stack({N_CUTOFFS}, {rows}) AS ({names})"),
        *extra)


def with_tag_dimension(df: DataFrame) -> DataFrame:
    """A13 tag fan-out: explode the side's team tags PLUS the sentinel
    'total' so one aggregation pass produces the untagged statistics and
    every tagged shard simultaneously — the single-pass answer to the
    reference's ~20× monotype reprocessing hot spot (FAQ.md:74-76;
    stats.ts:122-212 updates all tag trees in one battle visit)."""
    return df.withColumn(
        "tag",
        F.explode(F.concat(F.array(F.lit("total")),
                           F.coalesce(F.col("tags"), F.array()))))


TAGGED_COLS = ["format", "cutoff", "tag", "species", "raw_count",
               "raw_weight", "saved_count", "saved_weight", "usage_raw",
               "usage_real", "usage_weighted", "win_raw", "win_real",
               "win_weighted"]


def usage_by_species_tagged(mons_wt: DataFrame) -> DataFrame:
    """Per-(tag, species) usage counters.  Input: mons frame ⋈ side
    tags → with_tag_dimension.  Only the weighted counters vary by
    cutoff, so the counts aggregate once.  tag='total' is
    usage_by_species column-for-column (usage_from_tagged below
    extracts it), so the pipeline aggregates the mons scan ONCE for the
    whole usage family."""
    win = F.col("outcome") == 1
    real = F.col("turns_out") > 0
    g = mons_wt.groupBy("format", "tag", "species").agg(
        F.count("*").alias("raw_count"),
        F.sum(F.col("rating_valid").cast("int")).alias("saved_count"),
        F.sum(not_short(F.lit(1))).alias("usage_raw"),
        F.sum(not_short(real.cast("int"))).alias("usage_real"),
        F.sum(not_short(win.cast("int"))).alias("win_raw"),
        F.sum(not_short((win & real).cast("int"))).alias("win_real"),
        *_cutoff_firsts(),
        *_per_cutoff("raw_weight", F.sum),
        *_per_cutoff("saved_weight", lambda w: F.sum(
            F.when(F.col("rating_valid"), w).otherwise(0.0))),
        *_per_cutoff("usage_weighted", lambda w: F.sum(not_short(w))),
        *_per_cutoff("win_weighted", lambda w: F.sum(
            not_short(F.when(win, w).otherwise(0.0)))))
    return _stacked(
        g, ["format", "tag", "species"],
        ["raw_weight", "saved_weight", "usage_weighted", "win_weighted"],
        extra=["raw_count", "saved_count", "usage_raw", "usage_real",
               "win_raw", "win_real"],
    ).select(*TAGGED_COLS)


USAGE_COLS = ["format", "cutoff", "species", "raw_count", "raw_weight",
              "saved_count", "saved_weight", "usage_raw", "usage_real",
              "usage_weighted", "win_raw", "win_real", "win_weighted"]


def usage_by_species(mons_w: DataFrame) -> DataFrame:
    """A3 usage counters per species — stats.ts:284-296, 359-372: the
    'total' shard of the tagged aggregate, which is every mon row.

    raw_*   every battle (even short) — the moveset denominator
    usage_* short battles excluded; `real` = appeared on the field
    win_*   winner side only
    """
    return usage_from_tagged(usage_by_species_tagged(
        mons_w.withColumn("tag", F.lit("total"))))


def usage_from_tagged(usage_tagged: DataFrame) -> DataFrame:
    """usage_by_species extracted from the tagged aggregate: the
    sentinel 'total' shard is definitionally every mon row, so its
    counters equal the untagged aggregation exactly (pinned by
    tests/test_golden_aggregates.py)."""
    return (usage_tagged.filter(F.col("tag") == "total")
            .select(*USAGE_COLS))


def usage_totals(usage_species: DataFrame) -> DataFrame:
    """Global usage/win counters per (format, cutoff) — derived from the
    species-level aggregate instead of rescanning mons."""
    sums = [F.sum(c).alias(f"total_{c}") for c in
            ("usage_raw", "usage_real", "usage_weighted",
             "win_raw", "win_real", "win_weighted", "raw_count")]
    return usage_species.groupBy(*GK).agg(*sums)


# moveset sections — stats.ts:329-357 (A4)
_SECTIONS = [
    ("abilities", lambda: F.array(F.struct(
        F.lit("abilities").alias("section"),
        F.when(F.col("ability") == "unknown", "illuminate")
         .otherwise(F.col("ability")).alias("key")))),
    ("items", lambda: F.array(F.struct(
        F.lit("items").alias("section"), F.col("item").alias("key")))),
    ("tera_types", lambda: F.array(F.struct(
        F.lit("tera_types").alias("section"), F.col("tera_type").alias("key")))),
    ("happinesses", lambda: F.array(F.struct(
        F.lit("happinesses").alias("section"),
        F.col("happiness").cast("string").alias("key")))),
    ("spreads", lambda: F.array(F.struct(
        F.lit("spreads").alias("section"), F.col("spread").alias("key")))),
    ("stats", lambda: F.array(F.struct(
        F.lit("stats").alias("section"), F.col("stats_str").alias("key")))),
    ("moves", lambda: F.transform("moves", lambda m: F.struct(
        F.lit("moves").alias("section"), m.alias("key")))),
]


def moveset_maps(mons_w: DataFrame) -> DataFrame:
    """All seven per-species weighted key maps in ONE shuffle: build the
    (section, key) pairs as an array per mon, explode once, aggregate.
    Moveset counters include short battles (weights.m — stats.ts:299+)."""
    pairs = F.flatten(F.array(*[mk() for _, mk in _SECTIONS]))
    g = (mons_w
         .select("format", "species", *WIDE_COLS,
                 F.explode(pairs).alias("kv"))
         .groupBy("format", "species", "kv.section", "kv.key")
         .agg(*_cutoff_firsts(), *_per_cutoff("weight", F.sum),
              F.count("*").alias("raw")))
    return _stacked(g, ["format", "species", "section", "key"],
                    ["weight"], extra=["raw"]).select(
        *GK, "species", "section", "key", "weight", "raw")


def teammates(sides_w: DataFrame) -> DataFrame:
    """A6/J6 teammate co-occurrence: unordered slot pairs generated
    JVM-side with higher-order functions (no self-join), emitted in both
    directions (updateTeammates is symmetric — stats.ts:449-471).
    Short battles excluded (guarded by the !short caller in
    updateStats)."""
    pairs = F.flatten(F.expr(
        "transform(team, (x, i) -> "
        " transform(slice(team, 1, i), y -> "
        "  array(struct(y.species as a, x.species as b),"
        "        struct(x.species as a, y.species as b))))"))
    g = (sides_w
         .filter(~F.col("short"))
         .select("format", *WIDE_COLS,
                 F.explode(F.flatten(pairs)).alias("p"))
         .groupBy("format", F.col("p.a").alias("species"),
                  F.col("p.b").alias("teammate"))
         .agg(*_cutoff_firsts(), *_per_cutoff("weight", F.sum),
              F.count("*").alias("raw")))
    return _stacked(g, ["format", "species", "teammate"],
                    ["weight"], extra=["raw"]).select(
        *GK, "species", "teammate", "weight", "raw")


def encounters(battles_w: DataFrame) -> DataFrame:
    """A7/J7 encounter matrix: explode matchups, add the mirrored
    (b, a, inverse) projection, pivot the 13-outcome dimension.
    Weight = min(p1, p2 weights); gated on leads being updated
    (stats.ts:186-199)."""
    base = (battles_w
            .filter(F.col("leads_ok") & ~F.col("short") & F.col("singles"))
            .withColumn("w", F.least("w_p1", "w_p2"))
            .select(*GK, "w", F.explode("matchups").alias("m")))
    fwd = base.select(*GK, "w", F.col("m.a").alias("species"),
                      F.col("m.b").alias("opponent"),
                      F.col("m.outcome").alias("outcome"))
    inv_map = F.array(*[F.lit(v) for v in INVERSE_OUTCOMES])
    rev = base.select(*GK, "w", F.col("m.b").alias("species"),
                      F.col("m.a").alias("opponent"),
                      F.element_at(inv_map, F.col("m.outcome") + 1)
                       .alias("outcome"))
    return (fwd.unionByName(rev)
            .groupBy(*GK, "species", "opponent")
            .pivot("outcome", list(range(13)))
            .agg(F.sum("w"))
            .na.fill(0.0, [str(i) for i in range(13)])
            .select(*GK, "species", "opponent",
                    *[F.col(str(i)).alias(f"o{i}") for i in range(13)]))


def leads(battles_w: DataFrame) -> DataFrame:
    """A8 lead stats — stats.ts:516-557.  One row per battle side whose
    lead resolved; raw == real for leads."""
    side_lead = F.explode(F.array(
        F.struct(F.col("lead_p1").alias("species"), F.col("w_p1").alias("w")),
        F.struct(F.col("lead_p2").alias("species"), F.col("w_p2").alias("w"))))
    return (battles_w
            .filter(F.col("leads_ok") & ~F.col("short") & F.col("singles"))
            .select(*GK, side_lead.alias("l"))
            .groupBy(*GK, F.col("l.species").alias("species"))
            .agg(F.count("*").alias("lead_raw"),
                 F.count("*").alias("lead_real"),
                 F.sum("l.w").alias("lead_weighted")))


def battle_counts(battles_w: DataFrame) -> DataFrame:
    """A11 battles counter: singles count battles whose leads updated;
    non-singles count non-short battles (stats.ts:175-208)."""
    counted = F.when(F.col("singles"),
                     F.col("leads_ok") & ~F.col("short"))\
               .otherwise(~F.col("short"))
    return (battles_w.groupBy(*GK)
            .agg(F.sum(counted.cast("int")).alias("battles")))


def metagame(sides_w: DataFrame) -> DataFrame:
    """A10 metagame tag weights.  The reference adds the side's weight
    once per team slot (updateStats iterates mons — stats.ts:284-296),
    so the effective weight is team_size × w."""
    g = (sides_w
         .filter(~F.col("short"))
         .select("format", "team_size", *WIDE_COLS,
                 F.explode("tags").alias("tag"))
         .groupBy("format", "tag")
         .agg(*_cutoff_firsts(), *_per_cutoff(
             "weight", lambda w: F.sum(w * F.col("team_size")))))
    return _stacked(g, ["format", "tag"], ["weight"]).select(
        *GK, "tag", "weight")


STALLINESS_GRID = 1e-4


def stalliness_samples(sides_w: DataFrame) -> DataFrame:
    """A10 stalliness distribution, binned to a fixed 1e-4 grid:
    (value, summed weight) — scales unlike the reference's in-memory
    sample list (its known hot spot, FAQ.md:85-90).  Raw-float grouping
    would make cardinality ≈ distinct teams; the W8 histogram re-bins
    far coarser than 1e-4 anyway, so the grid is lossless downstream.
    floor(x/g + 0.5)*g is half-up toward +inf on both engines (JS
    Math.round semantics)."""
    binned = (F.floor(F.col("team_stalliness") / STALLINESS_GRID + 0.5)
              * STALLINESS_GRID)
    g = (sides_w
         .filter(~F.col("short"))
         .groupBy("format", binned.alias("stalliness"))
         .agg(*_cutoff_firsts(), *_per_cutoff(
                 "weight", lambda w: F.sum(w * F.col("team_size"))),
              F.sum("team_size").alias("n")))
    return _stacked(g, ["format", "stalliness"], ["weight"],
                    extra=["n"]).select(
        *GK, "stalliness", "weight", "n")


def unique_players(mons_w: DataFrame) -> DataFrame:
    """A9 per-(species, player) dedup — the reference's memory hot spot,
    here a two-level exact hash aggregation.
    r = OR(real), w = max(weight) over short-excluded rows;
    g = max(gxe) over ALL rows (stats.ts:318-327, 374-385)."""
    real = (F.col("turns_out") > 0).cast("int")
    g = mons_w.groupBy("format", "species", "player").agg(
        F.max(not_short(real)).alias("r"),
        *_cutoff_firsts(),
        *_per_cutoff("w", lambda w: F.max(not_short(w))),
        F.max("gxe").alias("g"))
    return _stacked(g, ["format", "species", "player"], ["w"],
                    extra=["r", "g"]).select(
        *GK, "species", "player", "r", "w", "g")


def viability(unique: DataFrame) -> DataFrame:
    """W6 viability ceiling [n, max, p1, p20] — exact order statistics
    via window rank, no collect_list (util.ts:311-321)."""
    gx = unique.filter(F.col("g").isNotNull())
    w = Window.partitionBy(*GK, "species").orderBy(F.desc("g"))
    ranked = gx.withColumn("rn", F.row_number().over(w))
    counts = gx.groupBy(*GK, "species").agg(F.count("*").alias("n"))
    j = ranked.join(counts, GK + ["species"])
    picked = j.filter(
        (F.col("rn") == 1)
        | (F.col("rn") == F.ceil(0.01 * F.col("n")))
        | (F.col("rn") == F.ceil(0.2 * F.col("n"))))
    return (picked.groupBy(*GK, "species", "n")
            .agg(F.max("g").alias("gxe_max"),
                 F.max(F.when(F.col("rn") == F.ceil(0.01 * F.col("n")),
                              F.col("g"))).alias("gxe_p1"),
                 F.max(F.when(F.col("rn") == F.ceil(0.2 * F.col("n")),
                              F.col("g"))).alias("gxe_p20"))
            .select(*GK, "species", "n", "gxe_max",
                    F.coalesce("gxe_p1", "gxe_max").alias("gxe_p1"),
                    F.coalesce("gxe_p20", "gxe_max").alias("gxe_p20")))
