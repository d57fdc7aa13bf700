"""Stat / EV column math (JVM-side, whole-stage codegen).

Column-expression ports of the standard stat formula used by the
reference via ``gen.stats.calc`` plus its EV back-computation
(`/root/reference/stats/src/stats.ts:414-447`) and base-stalliness
(`/root/reference/stats/src/classifier.ts:146-161`).  Pure integer /
double math — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

LOG3_LOG2 = 1.5849625007211562  # log(3)/log(2) — classifier.ts:6

STATS = ["hp", "atk", "def", "spa", "spd", "spe"]


def nature_mult(stat: str, plus: Column, minus: Column) -> Column:
    return (F.when(plus == stat, F.lit(1.1))
             .when(minus == stat, F.lit(0.9))
             .otherwise(F.lit(1.0)))


def calc_stat(stat: str, base: Column, iv: Column, ev: Column,
              level: Column, plus: Column, minus: Column) -> Column:
    """gen.stats.calc (gen>=3 semantics)."""
    core = F.floor((2 * base + iv + F.floor(ev / 4)) * level / 100)
    if stat == "hp":
        return F.when(base == 1, F.lit(1)).otherwise(core + level + 10)
    return F.floor((core + 5) * nature_mult(stat, plus, minus))


def stat_to_ev(stat: str, val: Column, base: Column, iv: Column,
               level: Column, plus: Column, minus: Column) -> Column:
    """statToEV — stats.ts:430-447 (gen>=3; no DV handling)."""
    if stat == "hp":
        ev = (F.ceil((val - level - 10) * 100 / level) - 2 * base - iv) * 4
        return F.when(base == 1, F.lit(0)).otherwise(F.greatest(F.lit(0), ev))
    n = nature_mult(stat, plus, minus)
    ev = (F.ceil((F.ceil(val / n) - 5) * 100 / level) - 2 * base - iv) * 4
    return F.greatest(F.lit(0), ev)


def base_stalliness(hp: Column, atk: Column, spa: Column, df: Column,
                    spd: Column, level: Column, species: Column) -> Column:
    """classifier.ts:146-161; Shedinja/Ditto special cases kept for
    parity even though the synthetic dims never produce them."""
    expr = -F.log(
        ((F.floor(2.0 * level + 10) / 250.0)
         * F.greatest(atk, spa) / F.greatest(df, spd) * 120.0 + 2.0)
        * 0.925 / hp
    ) / F.log(F.lit(2.0))
    return (F.when(species == "shedinja", F.lit(0.0))
             .when(species == "ditto", F.lit(LOG3_LOG2))
             .otherwise(expr))
