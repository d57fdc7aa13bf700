"""Scaling-efficiency evidence (north rule: ≥0.8 from N to 4N executors).

No real cluster exists in this sandbox, so per the evidence protocol we
run the identical pipeline job on the identical input at two
parallelism levels (default local[2] vs local[8]) in fresh JVMs and
report throughput at both plus raw efficiency
(T_low/T_high)/(cpus_high/cpus_low).

Interference-gated protocol (this host has noisy neighbors AND
shared-host frequency scaling):

  * a CLOCK SENTINEL — equal pure-CPU work per process, no memory
    traffic, no JVM — runs at BOTH concurrency levels immediately
    before and after every measured leg;
  * a leg is CLEAN only if both bracketing sentinel readings AT THE
    LEG'S OWN concurrency are within TOL (default 5%) of the
    ROUND-BEST reading at that concurrency.  Round-best = the fastest
    reading ever observed at that concurrency across ALL protocol
    runs this round (persisted in data/sentinel_history.json), not
    just this process's session — otherwise a uniformly loaded
    session would grade its own depressed legs "clean" against its
    own depressed best.  Loaded-window legs are DISCARDED by
    protocol, not normalized after the fact (the other level's
    reading is published but does not gate: it measures a different
    turbo/contention regime and certifies nothing about this leg);
  * before LAUNCHING a leg the protocol probes the window with the
    same sentinel and only starts the (10-30 min) leg once the
    reading at the leg's own concurrency clears the gate — probing
    costs seconds, a doomed leg costs half an hour of machine time,
    and a leg launched into a dirty window can never grade clean
    (round-best only falls); probe waits are published per leg;
  * legs from every protocol run at the same (corpus, levels) are
    MERGED (persisted in data/scaling_legs_*.json) and re-gated
    against the round-best sentinels, so evidence accumulates across
    runs and a kill/restart loses nothing;
  * the protocol keeps running until ≥N_CLEAN (default 3) clean legs
    exist at BOTH levels (or the wall-clock budget runs out, in which
    case whatever cleared the gate is reported, with the shortfall
    disclosed);
  * raw efficiency uses min-of-clean per level; every leg's sentinel
    readings are published in BENCH.md, which is rewritten after
    EVERY completed leg (never lost to a mid-run kill) and only when
    at least one clean leg exists at each level.

The hardware clock ceiling (round-best sentinel_low / sentinel_high)
is still reported — it bounds any job's raw efficiency on a turbo
host and is the figure a real N→4N scale-out (more hosts, constant
clocks) does not pay — but the headline number is RAW.

While probe-waiting, if the host instead holds a STABLE clock that is
below round-best (two consecutive probes agree at both levels within
TOL and the within-window ceiling is ≥0.97), the dead time is spent on
a UNIFORM-WINDOW PAIRED MEASUREMENT: T_high, T_low, T_high, T_low,
T_high (a TWO-SIDED job bracket), each leg bracketed by sentinels.
Two validity instruments per pair, graded independently:
sentinel-valid (clock held through the first T_high→T_low window AND
within-pair ceiling ≥0.97) and job-bracket-valid (the T_high legs
agree within TOL at the job's own clock AND the T_low legs agree
within TOL — BOTH sides of the ratio certified; the python sentinel
and the JVM job demonstrably decouple on this host, which is why the
job is its own clock).  The bracket must cover both sides: efficiency
is (T_low/T_high)/4, so an interference spike during a T_low leg
INFLATES the number exactly as a spike during a T_high leg deflates
it — the r05 bracket flanked only the T_high legs and could not
detect the inflating direction (VERDICT r05 #1).  Nothing is
normalized — a constant clock cancels in the ratio — and each pair's
absolute clock vs round-best is disclosed.  Pairs are reported in
their own BENCH.md section; the round-best-gated table stays the
headline.

Usage: python scripts/scaling.py [n_convs] [low_cores] [high_cores]
Env:   SCALING_N_CLEAN (3)  SCALING_TOL (0.05)
       SCALING_BUDGET_S (7200)  SCALING_MAX_LEGS (12)
       SCALING_PROBE_SLEEP_S (45)  SCALING_PAIRS (3)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HISTORY_PATH = os.path.join(ROOT, "data", "sentinel_history.json")
LEGS_PATH = os.path.join(ROOT, "data", "scaling_legs_{n}_{low}_{high}.json")
PAIRS_PATH = os.path.join(ROOT, "data", "scaling_pairs_{n}_{low}_{high}.json")

WORKER = r"""
import json, os, sys, time
cores, n_convs = int(sys.argv[1]), int(sys.argv[2])
from stats_spark.session import get_spark
from stats_spark.datagen import corpus
from stats_spark.plans import pipeline
from stats_spark.sources import tables

corpus.TIERS["bench"] = n_convs
spark = get_spark(f"scale-{cores}", cores=cores,
                  shuffle_partitions=max(16, cores * 4))
spark.sparkContext.setLogLevel("ERROR")
c = corpus.ensure_corpus("bench", spark=spark)
n_turns = tables.load_transcripts(spark, c).count()
out = os.path.join(corpus.corpus_dir("bench"), f"scale_out_{cores}")
t0 = time.time()
m = pipeline.run_pipeline(spark, c, out, materialize="stage")
dt = time.time() - t0
print(json.dumps(dict(cores=cores, seconds=round(dt, 2), turns=n_turns,
                      parse_seconds=m["parse_seconds"],
                      turns_per_sec=round(n_turns / dt, 1))))
"""


def _BURN(n):
    s = 0
    for i in range(n):
        s += i * i % 7
    return s


def cpu_reference(procs: int, n: int = 50_000_000) -> float:
    """Per-core speed at this concurrency: wall time for EQUAL work per
    process (pure CPU, no memory traffic).  Sensitive to both neighbor
    load (stolen cycles) and shared/turbo frequency scaling."""
    import multiprocessing as mp

    with mp.Pool(procs) as p:
        t0 = time.time()
        p.map(_BURN, [n] * procs)
        return time.time() - t0


def sentinel(low: int, high: int) -> dict:
    """One bracketing sample: sentinel wall time at each level (best of
    2 back-to-back runs — a single sample can eat one scheduler hiccup)."""
    return {
        "low": round(min(cpu_reference(low) for _ in range(2)), 3),
        "high": round(min(cpu_reference(high) for _ in range(2)), 3),
    }


def load_json(path, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def save_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def run_level(cores: int, n_convs: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cores), str(n_convs)],
        cwd=ROOT, capture_output=True, text=True, timeout=7200)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def shutdown_gateway():
    """spark.stop() leaves the Py4J gateway JVM alive (~0.3-0.5 cores
    of GC/idle threads for the rest of the protocol) — kill it so the
    measured runs share the machine with nothing."""
    try:
        from pyspark.sql import SparkSession
        from pyspark import SparkContext
        SparkSession._instantiatedSession = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
    except Exception as e:  # surface, don't silently bias the protocol
        print(f"WARNING: gateway shutdown failed: {e!r}", file=sys.stderr)
    # gateway.shutdown() closes the Py4J socket but the JVM has been
    # observed to linger (measured: ~1.5% CPU of idle GC threads for
    # 20+ min) — SIGKILL any java child of this process directly
    import signal
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().split()
            if parts[3] == str(os.getpid()) and "java" in parts[1]:
                os.kill(int(pid), signal.SIGKILL)
                os.waitpid(int(pid), os.WNOHANG)
                print(f"killed lingering JVM {pid}", file=sys.stderr)
        except (OSError, IndexError, ChildProcessError):
            continue


def pair_valid(s0: dict, s1: dict, s2: dict, tol: float,
               ceiling_floor: float = 0.97) -> tuple[bool, float, bool]:
    """Grade a uniform-window (T_high, T_low) pair from its three
    bracketing sentinel samples.  Valid iff (a) the clock held through
    the whole pair — the three readings at EACH concurrency spread
    less than tol — and (b) the within-pair clock ceiling
    (per-core speed at high concurrency vs low) is ≥ ceiling_floor,
    i.e. no turbo differential between the two legs' regimes.  No
    reading is adjusted: a valid pair's raw ratio needs no
    normalization because the absolute clock, whatever it is, is the
    SAME for both legs and both concurrencies.

    Returns (valid, ceiling, stable)."""
    lows = [s0["low"], s1["low"], s2["low"]]
    highs = [s0["high"], s1["high"], s2["high"]]
    stable = (max(lows) / min(lows) <= 1 + tol
              and max(highs) / min(highs) <= 1 + tol)
    ceiling = round(min(lows) / min(highs), 4)
    return stable and ceiling >= ceiling_floor, ceiling, stable


class Protocol:
    """Round-persistent state: sentinel bests + merged legs."""

    def __init__(self, n_convs, low, high, tol):
        self.n_convs, self.low, self.high, self.tol = n_convs, low, high, tol
        self.legs_path = LEGS_PATH.format(n=n_convs, low=low, high=high)
        self.legs = load_json(self.legs_path, [])
        self.pairs_path = PAIRS_PATH.format(n=n_convs, low=low, high=high)
        self.pairs = load_json(self.pairs_path, [])
        self.history = load_json(HISTORY_PATH, {})

    def observe(self, sample: dict) -> None:
        """Fold a sentinel sample into the round-best history.

        A new best must be CORROBORATED: a candidate reading faster
        than the current best becomes pending and only starts gating
        once a second, independent sample agrees with it within tol
        (ADVICE r05: one anomalously lucky sample would otherwise
        permanently raise the gate and retroactively discard every
        future leg for the lifetime of the history file).  The first
        reading at a level seeds the best directly — the gate needs a
        baseline."""
        pend = self.history.setdefault("_pending", {})
        for k, lv in (("low", self.low), ("high", self.high)):
            key = str(lv)
            cur = self.history.get(key)
            s = sample[k]
            if cur is None:
                self.history[key] = s
            elif s < cur:
                if cur <= s * (1 + self.tol):
                    # a within-tol refinement barely moves the gate —
                    # the current best itself corroborates it
                    self.history[key] = s
                    continue
                cand = pend.get(key)
                if (cand is not None
                        and max(s, cand) / min(s, cand) <= 1 + self.tol):
                    self.history[key] = min(s, cand)
                    pend.pop(key, None)
                else:
                    pend[key] = s
        save_json(HISTORY_PATH, self.history)

    def best(self) -> dict:
        return {"low": self.history.get(str(self.low), float("inf")),
                "high": self.history.get(str(self.high), float("inf"))}

    def window_clean(self, sample: dict, level: int) -> bool:
        k = "low" if level == self.low else "high"
        return sample[k] <= self.best()[k] * (1 + self.tol)

    def gate(self) -> tuple[dict, dict]:
        """Re-gate ALL merged legs against the round-best sentinels.
        A leg is CLEAN iff both bracketing readings at the leg's own
        concurrency are within tol of the round-best at that
        concurrency (the other level's reading is published but does
        not gate — different turbo/contention regime).  A clean leg
        whose OTHER-level readings sit far off round-best (>2×tol) is
        additionally FLAGGED, not discarded, so readers can see the
        weaker cross-level bracket (ADVICE r05)."""
        best = self.best()
        counts = {self.low: 0, self.high: 0}
        for leg in self.legs:
            k = "low" if leg["level"] == self.low else "high"
            o = "high" if k == "low" else "low"
            ok = all(leg[b][k] <= best[k] * (1 + self.tol)
                     for b in ("pre", "post"))
            leg["clean"] = ok
            leg["xlevel_off"] = any(
                leg[b][o] > best[o] * (1 + 2 * self.tol)
                for b in ("pre", "post"))
            if ok:
                counts[leg["level"]] += 1
        return counts, best

    def add_leg(self, leg: dict) -> None:
        self.legs.append(leg)
        self.observe(leg["post"])
        save_json(self.legs_path, self.legs)

    def add_pair(self, pair: dict) -> None:
        self.pairs.append(pair)
        save_json(self.pairs_path, self.pairs)

    def valid_pairs(self) -> list[dict]:
        """Pairs valid under EITHER instrument: the sentinel rule or
        the two-sided job bracket.  r05 records whose bracket flanked
        only the T_high legs are re-graded job-INVALID here — that
        instrument's safety argument was inverted (a T_low spike
        inflates (T_low/T_high)/k undetected; VERDICT r05 #1) — but
        they can still be sentinel-valid."""
        return [q for q in self.pairs
                if q["valid"] or _job_valid(q)]


def run_pair(p: Protocol, pre: dict) -> dict | None:
    """Uniform-window paired measurement with a TWO-SIDED job bracket:
    T_high, T_low, T_high, T_low, T_high back to back, each flanked by
    sentinel samples (`pre` is the probe that qualified the window).
    All legs also merge into the absolute round-best-gated store with
    their real brackets (they grade clean there only if the window
    happened to be at round-best speed).

    Why both sides: efficiency is (T_low/T_high)/k, so interference
    that lengthens a T_low leg INFLATES the measured number exactly as
    a lengthened T_high leg deflates it.  The r05 bracket repeated only
    the T_high leg (T_high–T_low–T_high) and claimed the bracket
    "cannot inflate the number" — backwards, and the long T_low leg
    was precisely the least-instrumented window (VERDICT r05 #1).
    Here BOTH T_low legs must agree within tol AND all T_high legs
    must agree within tol for the job instrument to certify; its
    quantity is (mean T_low / mean T_high)/k over the certified legs.

    Aborts early (recording whatever is certified so far) when the
    window drifts or a side's spread already exceeds tol — a dead
    instrument is not worth 30 more minutes of machine time."""
    low, high, tol, n = p.low, p.high, p.tol, p.n_convs
    # attempt id allocated ONCE, counting aborted attempts, so an
    # aborted attempt's legs can never share an id with the next
    # recorded pair (ADVICE r05: legs 13-15 of the 1.2M store)
    attempt = max([g.get("pair") or 0 for g in p.legs]
                  + [len(p.pairs)]) + 1

    def leg(level, run, s_pre, s_post):
        p.add_leg(dict(level=level, run=run, pre=s_pre, post=s_post,
                       probe_wait_s=0, pair=attempt))

    def spread(vals):
        return round(max(vals) / min(vals), 4)

    r_h1 = run_level(high, n)
    s1 = sentinel(low, high)
    p.observe(s1)
    leg(high, r_h1, pre, s1)
    if max(pre["high"], s1["high"]) / min(pre["high"], s1["high"]) \
            > 1 + tol:
        print(json.dumps(dict(pair_attempt=attempt, pair_aborted=True,
                              pre=pre, mid=s1)), flush=True)
        return None
    r_l1 = run_level(low, n)
    s2 = sentinel(low, high)
    p.observe(s2)
    leg(low, r_l1, s1, s2)

    highs, lows_j = [r_h1["seconds"]], [r_l1["seconds"]]
    sents = [pre, s1, s2]
    aborted = None
    r_h2 = run_level(high, n)
    s3 = sentinel(low, high)
    p.observe(s3)
    leg(high, r_h2, s2, s3)
    highs.append(r_h2["seconds"])
    sents.append(s3)
    if spread(highs) > 1 + tol:
        aborted = "t_high spread exceeded tol after leg 3"
    else:
        r_l2 = run_level(low, n)
        s4 = sentinel(low, high)
        p.observe(s4)
        leg(low, r_l2, s3, s4)
        lows_j.append(r_l2["seconds"])
        sents.append(s4)
        if spread(lows_j) > 1 + tol:
            aborted = "t_low spread exceeded tol after leg 4"
        else:
            r_h3 = run_level(high, n)
            s5 = sentinel(low, high)
            p.observe(s5)
            leg(high, r_h3, s4, s5)
            highs.append(r_h3["seconds"])
            sents.append(s5)

    valid, ceiling, stable = pair_valid(pre, s1, s2, tol)
    h_spread, l_spread = spread(highs), spread(lows_j)
    # job instrument: certified only when BOTH sides' legs agree at
    # the job's own clock, with the full five-leg bracket completed
    job_valid = (len(highs) == 3 and len(lows_j) == 2
                 and h_spread <= 1 + tol and l_spread <= 1 + tol)
    best_low = p.best()["low"]
    clock_vs_best = round(min(s["low"] for s in sents) / best_low, 3) \
        if best_low and best_low != float("inf") else None
    # each instrument certifies ITS OWN quantity, computable by any
    # reader from the published legs:
    #  * the sentinel rule certifies the pre..s2 span, which covers
    #    T_high(A) and T_low(A) only → raw_s = (T_low_A/T_high_A)/k;
    #  * the two-sided job bracket certifies every T_high and T_low
    #    leg → raw_ab = (mean T_low / mean T_high)/k.
    # Mixing them (e.g. averaging a bracket leg into a sentinel-valid
    # pair whose own instrument never certified that leg) answers
    # neither question.
    k = high / low
    raw_s = round((lows_j[0] / highs[0]) / k, 3)
    raw_ab = round(((sum(lows_j) / len(lows_j))
                    / (sum(highs) / len(highs))) / k, 3)
    pair = dict(
        attempt=attempt,
        t_low=lows_j[0], t_high=highs[0],
        t_high2=highs[1] if len(highs) > 1 else None,
        t_low2=lows_j[1] if len(lows_j) > 1 else None,
        t_high3=highs[2] if len(highs) > 2 else None,
        raw_s=raw_s, raw_ab=raw_ab,
        job_spread=h_spread, job_spread_low=l_spread,
        job_valid=job_valid, job_aborted=aborted,
        s0=pre, s1=s1, s2=s2,
        sents=sents, valid=valid, ceiling=ceiling,
        stable=stable, clock_vs_round_best=clock_vs_best)
    # `raw` carries the value certified by the pair's OWN valid
    # instrument (job bracket preferred — it certifies every leg);
    # an invalid-both pair records raw=None (ADVICE r05: the old
    # alias stored raw_ab even when only the sentinel graded valid)
    pair["raw"] = (raw_ab if job_valid else raw_s if valid else None)
    p.add_pair(pair)
    print(json.dumps(dict(pair=len(p.pairs), **pair)), flush=True)
    return pair


def write_report(p: Protocol, n_clean: int, partial_note: str = "") -> None:
    counts, best = p.gate()
    low, high, tol = p.low, p.high, p.tol
    if not (counts[low] > 0 and counts[high] > 0):
        print(f"no clean leg at both levels yet {counts} — "
              "BENCH.md left untouched", file=sys.stderr)
        return
    ceiling = round(best["low"] / best["high"], 4)

    def leg_secs(level):
        return [leg["run"]["seconds"] for leg in p.legs
                if leg["level"] == level and leg["clean"]]

    t_low, t_high = min(leg_secs(low)), min(leg_secs(high))
    eff = round((t_low / t_high) / (high / low), 3)
    eff_norm = round(eff / ceiling, 3)
    turns = next((g["run"]["turns"] for g in p.legs
                  if g["run"].get("turns")), 0)

    result = dict(n_convs=p.n_convs, low_cores=low, high_cores=high,
                  t_low=t_low, t_high=t_high,
                  scaling_efficiency_raw=eff,
                  hw_clock_ceiling=ceiling,
                  scaling_efficiency_clock_normalized=eff_norm,
                  clean_legs=counts, tol=tol,
                  legs=[dict(level=g["level"], seconds=g["run"]["seconds"],
                             clean=g["clean"], pre=g["pre"], post=g["post"])
                        for g in p.legs])
    print(json.dumps(result), flush=True)

    rows = "\n".join(
        "| {i} | local[{lv}] | {s} | {c} | {pl} / {ph} | {ql} / {qh} | {w} |"
        .format(
            i=i + 1, lv=g["level"], s=g["run"]["seconds"],
            c=(("yes ⚠ other-level off" if g.get("xlevel_off")
                else "yes") if g["clean"] else "NO — discarded"),
            pl=g["pre"]["low"], ph=g["pre"]["high"],
            ql=g["post"]["low"], qh=g["post"]["high"],
            w=g.get("probe_wait_s", "—"))
        for i, g in enumerate(p.legs))
    gate = "" if (counts[low] >= n_clean and counts[high] >= n_clean) else (
        f"\n> **Disclosure:** the protocol targets ≥{n_clean} clean legs"
        f" per level; this record currently holds {counts[low]}×local[{low}]"
        f" / {counts[high]}×local[{high}] clean legs.\n")

    md = f"""# BENCH — throughput + scaling evidence

Full parse→enrich→route→aggregate pipeline (staged materialization —
the cluster deployment path) over the deterministic synthetic
transcript corpus ({p.n_convs:,} conversations, {turns:,} turn rows;
skewed format sizes per `logs/DESIGN.md:9-11`).  Identical job,
identical input, two parallelism levels, fresh JVM per leg — the
sandbox evidence protocol for the north rule's two-cluster-size
criterion.

**Interference-gated protocol**: a pure-CPU clock sentinel (equal work
per process, no memory traffic, no JVM) runs at BOTH concurrency
levels immediately before and after every leg; a leg is kept only if
both bracketing readings AT THE LEG'S OWN concurrency are within
{tol:.0%} of the **round-best** reading at that concurrency — the
fastest reading ever observed at that concurrency across all protocol
runs this round (persisted in `data/sentinel_history.json`), so a
uniformly loaded session cannot grade its own depressed legs clean
against its own depressed best.  Gating bests this round:
{best['low']}s at {low}-way, {best['high']}s at {high}-way.  (The
other level's reading is published for the record but does not gate:
it measures a different turbo/contention regime and certifies nothing
about this leg.  A clean leg whose other-level readings sit >2×tol
off round-best is flagged "⚠ other-level off" — kept, but the weaker
cross-level bracket is visible.)  Legs from loaded windows are discarded by protocol —
no after-the-fact normalization enters the headline number.  Before
each leg launches, the window is probed with the same sentinel until
it clears the gate (probe wait published per leg), so machine time is
not burned on legs doomed to discard.  Legs accumulate across protocol
runs at the same corpus size and are re-gated as a set.  Efficiency
uses min-of-clean per level ({counts[low]} clean local[{low}] legs,
{counts[high]} clean local[{high}] legs).
{gate}{partial_note}
| leg | parallelism | wall-clock (s) | clean | sentinel pre (c{low} / c{high}) | sentinel post (c{low} / c{high}) | probe wait (s) |
| --- | --- | --- | --- | --- | --- | --- |
{rows}

| parallelism | best clean wall-clock (s) | turns/sec |
| --- | --- | --- |
| local[{low}] | {t_low} | {round(turns / t_low, 1):,} |
| local[{high}] | {t_high} | {round(turns / t_high, 1):,} |

**Raw scaling efficiency {low}→{high} cores:
(T{low}/T{high}) / ({high}/{low}) = {eff}** (target ≥ 0.8).

**Hardware clock ceiling** on this host this round: the sentinel
runs {ceiling}× slower per core at {high}-way concurrency than at
{low}-way (shared-host turbo/frequency scaling).  That ceiling bounds
ANY job's raw efficiency at {ceiling} on this box; a real N→4N
*executor* scale-out (more hosts, constant clocks) does not pay it.
Clock-normalized efficiency — context, not the headline: {eff_norm}.

Measured by `scripts/scaling.py {p.n_convs} {low} {high}`;
`bench.py` reports the per-round headline numbers the driver records.
"""
    if p.pairs:
        md += _pairs_section(p)
    # retained evidence sections (waste forensics, fixed-cost method,
    # headline config) live in a supplement file
    # so protocol reruns don't erase them
    supp = os.path.join(ROOT, "scripts", "bench_supplement.md")
    if os.path.exists(supp):
        with open(supp) as f:
            md += f.read()
    with open(os.path.join(ROOT, "BENCH.md"), "w") as f:
        f.write(md)
    print("wrote", os.path.join(ROOT, "BENCH.md"), file=sys.stderr)


def _raw_s(q, k):
    return q.get("raw_s") or round((q["t_low"] / q["t_high"]) / k, 3)


def _raw_ab(q, k):
    if q.get("t_high2") is None:
        return None
    if "raw_ab" in q:
        return q["raw_ab"]
    mean = (q["t_high"] + q["t_high2"]) / 2
    return round((q["t_low"] / mean) / k, 3)


def _job_valid(q) -> bool:
    """Two-sided job-bracket validity.  r05 pairs (no second T_low
    leg) are re-graded INVALID under this instrument: their one-sided
    bracket could not detect an inflating T_low spike (VERDICT r05
    #1), whatever their stored job_valid flag says."""
    return bool(q.get("job_valid")) and q.get("t_low2") is not None


def _pairs_section(p: Protocol) -> str:
    low, high, tol = p.low, p.high, p.tol
    k = high / low

    def sent_chain(q):
        ss = q.get("sents") or [q[s] for s in ("s0", "s1", "s2")
                                if s in q] + \
            ([q["s3"]] if "s3" in q else [])
        return " → ".join(f"{s['low']}/{s['high']}" for s in ss)

    rows = "\n".join(
        "| {i} | {tl} | {tl2} | {th} | {th2} | {th3} | **{rs}** | {rab} "
        "| {jsh} | {jsl} | {jv} | {c} | {cvb} | {chain} | {v} |"
        .format(
            i=i + 1, tl=q["t_low"], tl2=q.get("t_low2") or "—",
            th=q["t_high"], th2=q.get("t_high2") or "—",
            th3=q.get("t_high3") or "—",
            rs=_raw_s(q, k), rab=_raw_ab(q, k) or "—",
            jsh=q.get("job_spread", "—"),
            jsl=q.get("job_spread_low", "—"),
            jv=("yes" if _job_valid(q)
                else "NO (one-sided r05 bracket)" if q.get("job_valid")
                else "NO"),
            c=q["ceiling"], cvb=q.get("clock_vs_round_best", "—"),
            chain=sent_chain(q),
            v="yes" if q["valid"] else "NO")
        for i, q in enumerate(p.pairs))
    sent_valid = [q for q in p.pairs if q["valid"]]
    job_valid = [q for q in p.pairs if _job_valid(q)]

    def fmt(raws):
        raws = sorted(raws)
        med = raws[len(raws) // 2]
        return f"{', '.join(str(r) for r in raws)} (median {med})"

    lines = []
    if sent_valid:
        lines.append(f"**{len(sent_valid)} sentinel-valid pair(s): "
                     f"raw (T{low}A/T{high}A)/{k:.0f} = "
                     f"{fmt([_raw_s(q, k) for q in sent_valid])}.**")
    if job_valid:
        lines.append(f"**{len(job_valid)} job-bracket-valid pair(s): "
                     f"raw (mean T{low}/mean T{high})/{k:.0f} = "
                     f"{fmt([_raw_ab(q, k) for q in job_valid])}.**")
    summary = ("\n".join(lines) if lines
               else "No pair has graded valid under either instrument "
                    "yet.")
    return f"""
## Uniform-window paired measurement (no normalization)

Complementary evidence for the same criterion, taken when the host
holds a STABLE clock that is below round-best: local[{high}] and
local[{low}] legs interleaved T{high}–T{low}–T{high}–T{low}–T{high}
(a TWO-SIDED job bracket), every leg flanked by sentinel samples.
Two independent validity instruments, both graded per pair, neither
adjusting any number:

* **sentinel-valid** — the pure-CPU clock sentinel held through the
  T{high}A→T{low}A window (the three readings s0→s2 at each
  concurrency spread < {tol:.0%}) AND the within-pair clock ceiling
  (per-core sentinel speed at {high}-way vs {low}-way) is ≥ 0.97,
  i.e. neither leg pays a turbo differential the other doesn't.
  This instrument certifies T{high}A and T{low}A, so its quantity is
  `raw (sentinel)` = (T{low}A/T{high}A)/{k:.0f};
* **job-bracket-valid** — ALL local[{high}] legs agree within
  {tol:.0%} at the JOB's own clock (`T{high} spread`) AND BOTH
  local[{low}] legs agree within {tol:.0%} (`T{low} spread`).  The
  python sentinel and the JVM pipeline demonstrably decouple on this
  host, which is why the job is its own clock.  The bracket covers
  BOTH sides of the ratio because efficiency is (T{low}/T{high})/{k:.0f}:
  interference during a T{low} leg INFLATES the number exactly as
  interference during a T{high} leg deflates it, so a bracket that
  repeated only the T{high} leg (the r05 shape, re-graded invalid in
  this table) could not detect the inflating direction.  Its quantity
  is `raw (job)` = (mean T{low} / mean T{high})/{k:.0f} over the
  certified legs.

Each instrument grades only the legs its own samples certify — a
sentinel-valid pair does not average in bracket legs its span never
covered — and every number in the table is recomputable from the
published legs.

Nothing is normalized: the absolute clock, whatever it is, is the
same for all legs of a valid pair, so the raw ratio stands on its
own — the faithful sandbox analog of a constant-clock N→4N executor
scale-out (more hosts, same clocks), the regime the round-best-gated
table's {low}-way legs get a turbo bonus in.  Each pair's absolute
clock is disclosed as `clock slowdown ×` — the pair window's best
{low}-way sentinel over the round-best (1.31 = the host ran 31%
slower than the round-best window).  Pair legs also appear in the
merged table above with their real brackets, graded by the
round-best gate like any other leg.

| pair | T{low} A (s) | T{low} B (s) | T{high} A (s) | T{high} B (s) | T{high} C (s) | raw (sentinel) | raw (job) | T{high} spread | T{low} spread | job valid | ceiling | clock slowdown × | sentinels (c{low}/c{high}) | sentinel valid |
| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |
{rows}

{summary}
"""


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_clean = int(os.environ.get("SCALING_N_CLEAN", "3"))
    tol = float(os.environ.get("SCALING_TOL", "0.05"))
    budget = float(os.environ.get("SCALING_BUDGET_S", "7200"))
    max_legs = int(os.environ.get("SCALING_MAX_LEGS", "12"))
    probe_sleep = float(os.environ.get("SCALING_PROBE_SLEEP_S", "45"))
    pairs_target = int(os.environ.get("SCALING_PAIRS", "3"))

    p = Protocol(n_convs, low, high, tol)

    # pre-generate the corpus once so no leg pays generation
    from stats_spark.session import get_spark
    from stats_spark.datagen import corpus
    corpus.TIERS["bench"] = n_convs
    gen_cores = max(high, os.cpu_count() or high)
    spark = get_spark("scale-gen", cores=gen_cores)
    spark.sparkContext.setLogLevel("ERROR")
    corpus.ensure_corpus("bench", spark=spark)
    spark.stop()
    shutdown_gateway()

    t_start = time.time()
    sentinel(low, high)  # warm-up: the first sample after the corpus
    #                      JVM teardown reads hot/loaded — discard it
    p.observe(sentinel(low, high))
    # rough per-leg duration estimates (refined from completed legs)
    est = {low: 1800.0, high: 650.0}

    while True:
        counts, _ = p.gate()
        if counts[low] >= n_clean and counts[high] >= n_clean:
            break
        have = {lv: sum(1 for g in p.legs if g["level"] == lv)
                for lv in (low, high)}
        elapsed = time.time() - t_start
        if ((len(p.legs) >= max_legs or elapsed > budget)
                and have[low] > 0 and have[high] > 0):
            print(f"WARNING: stopping with clean counts {counts} "
                  f"(target {n_clean} per level)", file=sys.stderr)
            break
        # refresh per-leg duration estimates from completed legs
        for lv in (low, high):
            done = [g["run"]["seconds"] for g in p.legs if g["level"] == lv]
            if done:
                est[lv] = min(done)
        # which levels still need clean legs? (a level with NO legs at
        # all outranks everything — the report needs one per level)
        if have[low] == 0 or have[high] == 0:
            needed = [low if have[low] == 0 else high]
        else:
            short = [lv for lv in (low, high) if counts[lv] < n_clean]
            # shortest estimated leg first: clean windows are the
            # scarce resource, and a short leg both fits more windows
            # and risks less machine time if the window closes mid-leg.
            # Scheduling only — grading (min-of-clean per level, both
            # levels required) is unaffected by launch order.
            needed = sorted(short, key=lambda lv: (est[lv], counts[lv]))
        # probe the window; launch the first needed level whose own
        # concurrency reads clean — a doomed leg costs 10-30 min, a
        # probe costs seconds.  A leg launched into a dirty window can
        # NEVER grade clean (round-best only falls), so there is no
        # launch-anyway fallback: wait until the window clears or the
        # budget runs out (the merged prior record stands either way).
        # While waiting, if the host holds a STABLE below-round-best
        # clock (two consecutive probes agree at both levels and the
        # within-window ceiling is ≥0.97), spend the dead time on a
        # uniform-window paired measurement instead of idling.
        waited = 0.0
        prev_probe = None
        while True:
            probe = sentinel(low, high)
            p.observe(probe)
            clean_levels = [lv for lv in needed
                            if p.window_clean(probe, lv)]
            if clean_levels:
                level = clean_levels[0]
                break
            if time.time() - t_start > budget:
                level = None
                break
            if (len(p.valid_pairs()) < pairs_target
                    and prev_probe is not None
                    and all(max(prev_probe[k], probe[k])
                            / min(prev_probe[k], probe[k]) <= 1 + tol
                            for k in ("low", "high"))
                    and probe["low"] / probe["high"] >= 0.97):
                slow = probe["low"] / p.best()["low"]
                # five-leg two-sided bracket: 2×T_low + 3×T_high
                if ((time.time() - t_start)
                        + (2 * est[low] + 3 * est[high]) * slow
                        <= budget * 1.15):
                    run_pair(p, probe)
                    write_report(p, n_clean)
                    prev_probe = None
                    continue
            if waited and waited % 600 < probe_sleep:
                print(f"still waiting for a clean window ({waited:.0f}s; "
                      f"probe {probe}, gate {p.best()} +{tol:.0%})",
                      file=sys.stderr)
            prev_probe = probe
            time.sleep(probe_sleep)
            waited += probe_sleep
        if level is None:
            print("WARNING: budget exhausted while waiting for a clean "
                  "window", file=sys.stderr)
            break
        # don't start a leg the budget can't fit (stops mid-run churn)
        if (time.time() - t_start) + est[level] > budget * 1.15 and \
                have[low] > 0 and have[high] > 0:
            print(f"WARNING: {est[level]:.0f}s leg does not fit the "
                  "remaining budget — stopping", file=sys.stderr)
            break
        run = run_level(level, n_convs)
        post = sentinel(low, high)
        leg = dict(level=level, run=run, pre=probe, post=post,
                   probe_wait_s=round(waited))
        p.add_leg(leg)
        print(json.dumps(dict(leg=len(p.legs), level=level,
                              seconds=run["seconds"], pre=probe, post=post,
                              probe_wait_s=round(waited))), flush=True)
        write_report(p, n_clean)

    write_report(p, n_clean)


if __name__ == "__main__":
    main()
