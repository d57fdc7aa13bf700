"""Glicko-based battle weighting.

Numpy ports of the reference's weighting math:
  - ``weighting(r, rd, cutoff)`` — erf CDF of the rating above the
    cutoff; 0 when rd > 100 at cutoffs above 1500
    (`/root/reference/stats/src/util.ts:416-419`).
  - ``victory_chance`` — Glicko-1 expected score
    (`/root/reference/stats/src/util.ts:410-414`).
  - default ratings for unrated / outcome-only players
    (`/root/reference/stats/src/stats.ts:245-258`).

Exposed as numpy functions (used inside vectorized pandas UDFs) and as
JVM-side SQL expressions for DataFrame plans (``weighting_expr``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from stats_spark.functions.erf import erf

SQRT2 = np.sqrt(2.0)

# outcome-adjusted default ratings for unrated players (stats.ts:252-256)
DEFAULT_RPR, DEFAULT_RPRD = 1500.0, 130.0
WIN_RPR, LOSS_RPR, OUTCOME_RPRD = 1540.16061434, 1459.83938566, 122.858308077


def weighting_np(rpr, rprd, cutoff) -> np.ndarray:
    rpr = np.asarray(rpr, dtype=np.float64)
    rprd = np.asarray(rprd, dtype=np.float64)
    cutoff = np.asarray(cutoff, dtype=np.float64)
    w = (erf((rpr - cutoff) / rprd / SQRT2) + 1.0) / 2.0
    return np.where((rprd > 100) & (cutoff > 1500), 0.0, w)


def victory_chance_np(r1, d1, r2, d2) -> np.ndarray:
    c = (3.0 * np.log(10.0) ** 2) / (400.0 * np.pi) ** 2
    d = np.asarray(d1, dtype=np.float64) ** 2 + np.asarray(d2, dtype=np.float64) ** 2
    return 1.0 / (1.0 + 10.0 ** ((np.asarray(r2, dtype=np.float64) - r1)
                                 / 400.0 / np.sqrt(1.0 + c * d)))


def gxe_np(rpr, rprd) -> np.ndarray:
    """round(100 * victoryChance(rpr, rprd, 1500, 130)) — stats.ts:141-143.

    floor(x+0.5) mirrors JS Math.round (half-up; np.round is half-even).
    NaN-in → NaN-out (unrated players have no GXE)."""
    return np.floor(100.0 * victory_chance_np(rpr, rprd, 1500.0, 130.0) + 0.5)


def effective_rating_np(rpr, rprd, outcome):
    """Resolve (rpr, rprd) with the reference's defaults.

    ``outcome``: +1 win, -1 loss, 0 tie/unknown.  A rating with rprd==0
    is invalid (stats.ts:248)."""
    rpr = np.asarray(rpr, dtype=np.float64)
    rprd = np.asarray(rprd, dtype=np.float64)
    outcome = np.asarray(outcome, dtype=np.float64)
    valid = ~np.isnan(rpr) & ~np.isnan(rprd) & (rprd != 0)
    out_rpr = np.where(valid, rpr,
                       np.where(outcome > 0, WIN_RPR,
                                np.where(outcome < 0, LOSS_RPR, DEFAULT_RPR)))
    out_rprd = np.where(valid, rprd,
                        np.where(outcome != 0, OUTCOME_RPRD, DEFAULT_RPRD))
    return out_rpr, out_rprd, valid


def weighting_expr(rpr_col: str, rprd_col: str, cutoff_col: str) -> F.Column:
    """JVM-side erf weighting: the same Cody rational-Chebyshev erf the
    numpy path uses, emitted as a Spark SQL expression (sqlgen mirrors
    the SPECFUN evaluation order, so results agree with weighting_np to
    the last ulp of exp()).  Keeps the hot mons×cutoffs frame entirely
    inside whole-stage codegen — no Arrow round-trip.

    Hot multi-cutoff projections should use ``weighting_arg_expr`` +
    ``weighting_expr_from_arg`` instead: the inline form re-emits the
    (rpr-cutoff)/rprd/sqrt(2) subtree at each of erf's ~30 argument
    sites, and four inlined copies pushed the pipeline's wide-weight
    projection past janino's 64 KB limit (interpreted fallback)."""
    from stats_spark.functions import sqlgen
    return F.expr(sqlgen.weighting_sql(
        rpr_col, rprd_col, f"CAST({cutoff_col} AS DOUBLE)"))


def weighting_arg_expr(rpr_col: str, rprd_col: str,
                       cutoff_col: str) -> F.Column:
    """The erf argument (rpr-cutoff)/rprd/sqrt(2) as a column, staged
    once so ``weighting_expr_from_arg`` reads an attribute instead of
    recomputing the subtree per erf site (same ops, same order)."""
    return F.expr(f"(({rpr_col} - CAST({cutoff_col} AS DOUBLE)) "
                  f"/ {rprd_col} / sqrt(2.0))")


def weighting_expr_from_arg(arg_col: str, rprd_col: str,
                            cutoff_col: str) -> F.Column:
    """erf weighting over a pre-staged argument column (see
    ``weighting_arg_expr``)."""
    from stats_spark.functions import sqlgen
    return F.expr(sqlgen.weighting_from_arg_sql(
        arg_col, rprd_col, f"CAST({cutoff_col} AS DOUBLE)"))


def gxe_expr(rpr_col: str, rprd_col: str) -> F.Column:
    """JVM-side GXE: floor(100 * victoryChance(r, d, 1500, 130) + 0.5)
    (stats.ts:141-143), plain column math."""
    c = (3.0 * float(np.log(10.0)) ** 2) / (400.0 * float(np.pi)) ** 2
    r, d = F.col(rpr_col), F.col(rprd_col)
    dd = d * d + 130.0 * 130.0
    vc = 1.0 / (F.pow(F.lit(10.0), (1500.0 - r) / 400.0
                      / F.sqrt(1.0 + F.lit(c) * dd)) + 1.0)
    return F.floor(100.0 * vc + 0.5)
