#!/usr/bin/env python3
"""Flag per-query bench drift against the pinned reference shares.

Usage: python3 tools/check_bench_drift.py BENCH_rN.json [factor] [--sf1|--sf10]
       python3 tools/check_bench_drift.py [artifact] [factor] --pipeline
       python3 tools/check_bench_drift.py [artifact] [factor] --solo

--solo checks the once-per-round per-arm STREAMING SOLO SWEEP (VERDICT
r17 item 1) against tools/bench_reference_solo.json: each non-leader
gate arm run via its SPARK_GRAFT_BENCH_ONLY solo fallback so a kernel
regression the 13-arm leader wall would dilute below the gate cannot
ship silently. Produce the artifact with
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_ONLY=<the 12 non-leader q_streaming_* arms> \
  SPARK_GRAFT_BENCH_OUT=target/bench_solo_last.json \
  sbt -batch "runMain graft.Bench"
(default artifact: target/bench_solo_last.json).

--pipeline checks the CurationPipelineDrive composed run instead of
per-query bench shares: the artifact (default target/pipeline_last.json,
written by the drive) is compared to tools/pipeline_reference.json —
sec_min is gated at factor x the pin AND the three shape counts
(docs_after_gates, docs_in_mixture, sequences) must match EXACTLY,
the semantics-regression alarm: a chain that got faster because a gate
started dropping everything fails loudly.

With --sf1, the run is compared against tools/bench_reference_sf1.json
(the x10-amplified target/sf1 pins, seeded round 11) with a higher
absolute noise floor, and the truncation fallback reads
target/bench_sf1_last.json. Super-linear regressions that stay hidden
at sf0.1 (a plan that is 1.2x at sf0.1 can be 12x at sf1) surface here
mechanically. --sf10 does the same against the x100 scale-gate pins
(tools/bench_reference_sf10.json, the 7 heavy queries + q_semdedup,
seeded round 14 from warm-isolated runs on target/sf10).

The reference (tools/bench_reference.json) pins each query's best
full-run time observed across rounds at sf0.1 — min-over-rounds
discards contention outliers, approximating an isolated run. A query
whose current time exceeds factor x reference (default 2.0) is flagged
so regressions like round-5's q_fingerprint 9x are caught mechanically
instead of by eyeballing totals. New queries (absent from the
reference) are listed informationally; fold them into the reference
once they have a few rounds of history.

Exit code: 0 if nothing drifted, 1 if any query exceeds the factor.
"""
import json
import re
import sys
from pathlib import Path

SF1 = "--sf1" in sys.argv
SF10 = "--sf10" in sys.argv
PIPELINE = "--pipeline" in sys.argv
SOLO = "--solo" in sys.argv
if sum((SF1, SF10, PIPELINE, SOLO)) > 1:
    sys.exit("error: --sf1 / --sf10 / --pipeline / --solo are mutually "
             "exclusive (each selects its own reference pins); pass exactly one")
sys.argv = [a for a in sys.argv
            if a not in ("--sf1", "--sf10", "--pipeline", "--solo")]

_SUFFIX = "_solo" if SOLO else ("_sf10" if SF10 else ("_sf1" if SF1 else ""))
REF_PATH = Path(__file__).parent / f"bench_reference{_SUFFIX}.json"
# below this absolute cost, ratio noise is meaningless (first-touch
# and scheduling jitter are a large share of tiny queries); amplified
# runs carry ~10-100x the work so the floor scales with them
MIN_FLAG_SECONDS = 3.0 if SF10 else (1.0 if SF1 else 0.3)

# The one-pass streaming gate (round 17) made every NON-LEADER arm's
# full-run number a deposit lookup: machinery, not a kernel — its
# jitter (a deposit fetch that re-runs a few-job store query can spread
# 0.3 -> 0.76 s) carries no regression signal, and a BENCH_ONLY subset
# without the leader silently takes the SOLO fallback and reads
# 10-100x the deposit pin (ADVICE r17). Full-run modes therefore never
# gate non-leader arms; their real per-arm signal is the once-per-round
# solo sweep checked with --solo against bench_reference_solo.json
# (artifact: target/bench_solo_last.json, produced by
# SPARK_GRAFT_BENCH_ONLY=<non-leader arms> SPARK_GRAFT_BENCH_OUT=...).
STREAM_LEADER = "q_streaming_best_of_n"
STREAM_ARMS = {
    "q_streaming_best_of_n", "q_streaming_bm25", "q_streaming_chunks",
    "q_streaming_decontam", "q_streaming_domain_quota",
    "q_streaming_embed_neardup", "q_streaming_kmv", "q_streaming_neardup",
    "q_streaming_psi", "q_streaming_reservoir", "q_streaming_rl_metrics",
    "q_streaming_sessionize", "q_streaming_sft"}


FALLBACK = Path(__file__).parent.parent / "target" / (
    f"bench{_SUFFIX}_last.json" if _SUFFIX else "bench_last.json")


# 1-min load average at/above which a drift flag is annotated as
# contention-suspect: this box shows multi-minute HOST-steal windows
# reading load ~10 with zero runnable local processes (BASELINE.md);
# a flag raised inside one is a re-measure-idle instruction, not a
# regression verdict.
CONTENTION_LOAD = 8.0


# The reference pins are seeded from the driver's 32-core regime; a
# fallback artifact recorded at any other cpu count (e.g. the driver's
# cpus=8 scaling run, which clobbered bench_last.json in round 18 and
# poisoned the fallback with 8-core numbers) measures a different
# machine shape and must never gate the pins.
PIN_CPUS = 32


def _check_cpus(d, source):
    cpus = d.get("cpus")
    if cpus is not None and int(cpus) != PIN_CPUS:
        raise SystemExit(
            f"refusing {source}: recorded cpus={cpus} != pin regime "
            f"{PIN_CPUS} — re-run the bench at SPARK_GRAFT_CPUS={PIN_CPUS} "
            "(cpus!=32 runs persist to cpus-suffixed artifacts precisely "
            "so they cannot gate the 32-core pins)")


def load_bench(path):
    """Returns (queries, loadavg) — loadavg is the Bench-recorded
    [before, after] 1-min load pair, or None for pre-round-16
    artifacts that did not record it."""
    d = json.load(open(path))
    if "queries" in d:  # a raw graft.Bench output line
        _check_cpus(d, path)
        return d["queries"], d.get("loadavg")
    if isinstance(d.get("parsed"), dict) and "queries" in d.get("parsed", {}):
        _check_cpus(d["parsed"], path)
        return d["parsed"]["queries"], d["parsed"].get("loadavg")
    m = re.search(r'\{"metric".*\}', d.get("tail", ""))
    parsed = None
    if m:
        try:
            parsed = json.loads(m.group(0))
        except json.JSONDecodeError:
            pass  # tail-capture truncated the line mid-JSON
    if parsed is not None:
        _check_cpus(parsed, path)
        if "queries" in parsed:
            return parsed["queries"], parsed.get("loadavg")
        # The bench's LAST stdout line is a compact summary with no
        # "queries" map; per-query data lives in the file it names,
        # which holds this run's line only when "ok".
        qf = parsed.get("queries_file")
        if qf and parsed.get("ok", True):
            qpath = Path(qf)
            if not qpath.is_absolute():
                qpath = Path(__file__).parent.parent / qpath
            if qpath.exists():
                q = json.load(open(qpath))
                _check_cpus(q, qpath)
                return q["queries"], q.get("loadavg")
    # Bench.scala persists the full line to target/bench_last.json for
    # exactly this case: the 199-query line exceeds tail capture.
    if FALLBACK.exists():
        print(f"(artifact {path} truncated/absent; using {FALLBACK})")
        d = json.load(open(FALLBACK))
        _check_cpus(d, FALLBACK)
        return d["queries"], d.get("loadavg")
    raise SystemExit(f"no bench JSON line found in {path} and no {FALLBACK}")


def check_pipeline(factor):
    ref = json.load(open(Path(__file__).parent / "pipeline_reference.json"))
    art_path = Path(sys.argv[1]) if len(sys.argv) > 1 else (
        Path(__file__).parent.parent / "target" / "pipeline_last.json")
    if not art_path.exists():
        raise SystemExit(f"no pipeline artifact at {art_path}; run "
                         "`Test/runMain graft.drive.CurationPipelineDrive "
                         f"{ref['dir']}` first")
    cur = json.load(open(art_path))
    problems = []
    if cur.get("dir") != ref["dir"]:
        problems.append(f"SCALE  artifact ran on {cur.get('dir')!r}, "
                        f"pin is for {ref['dir']!r}")
    sec = cur.get("sec_min")
    if sec is None or sec > factor * ref["sec_min"]:
        problems.append(f"DRIFT  sec_min {sec}s vs pin {ref['sec_min']}s "
                        f"(gate {factor}x)")
    for k, want in ref["shape"].items():
        got = cur.get(k)
        if got != want:
            problems.append(f"SHAPE  {k}={got} vs pinned {want} "
                            "(exact-match semantics gate)")
    for p in problems:
        print(p)
    if not problems:
        print(f"pipeline OK: sec_min {sec}s <= {factor}x {ref['sec_min']}s, "
              f"shape counts exact ({', '.join(f'{k}={v}' for k, v in ref['shape'].items())})")
    sys.exit(1 if problems else 0)


def main():
    factor = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    if PIPELINE:
        check_pipeline(factor)
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    ref_doc = json.load(open(REF_PATH))
    ref = ref_doc["seconds"]
    # measure-on-demand pins (e.g. the ~28-min isotropic q_embed_neardup
    # at sf10) are recorded but never gate a recurring run: skip with an
    # informational line whether present or absent in the artifact
    on_demand = ref_doc.get("measure_on_demand", {})
    cur, loadavg = load_bench(sys.argv[1])
    # the BEFORE value is the contention signal: the after value is
    # polluted by the bench's own local[32] work (a legitimate idle sf1
    # run ends near load ~7). Host steal shows up as a high load at
    # session start, before any query has run.
    contended = bool(loadavg) and loadavg[0] >= CONTENTION_LOAD
    if loadavg:
        print(f"loadavg: {loadavg[0]} at start (contention signal), "
              f"{loadavg[1]} at end (includes own work)"
              + (" — CONTENDED (host-steal regime)" if contended else ""))

    drifted, new, unflagged_ratios = [], [], []
    leader_present = STREAM_LEADER in cur
    for q, t in sorted(cur.items()):
        if q == "_warmup":
            continue
        if SOLO and (q not in STREAM_ARMS or q == STREAM_LEADER):
            # the solo sweep's scope is the 12 non-leader arms; the
            # leader's solo run IS the full group pass, gated by its
            # full-run pin, and anything else in the artifact is noise
            print(f"SKIP  {q}: outside the solo-sweep scope")
            continue
        if not SOLO and q in STREAM_ARMS and q != STREAM_LEADER:
            if leader_present:
                print(f"DEPOSIT {q}: {t:.2f}s (deposit-lookup machinery, "
                      "not gated; per-arm kernel signal lives in the solo "
                      "sweep — check_bench_drift.py --solo)")
            else:
                print(f"SKIP  {q}: leader {STREAM_LEADER} absent from this "
                      "run, so this arm took the SOLO fallback — full-run "
                      "deposit pins do not apply; compare with --solo")
            continue
        if q in on_demand:
            print(f"SKIP  {q}: measure-on-demand pin ({on_demand[q]:.1f}s "
                  "recorded; not gated)")
            continue
        if q not in ref:
            new.append((q, t))
            continue
        if t > factor * ref[q] and t > MIN_FLAG_SECONDS:
            drifted.append((q, t, ref[q], t / ref[q]))
        elif t >= MIN_FLAG_SECONDS:
            unflagged_ratios.append(t / ref[q])

    # Host-regime factor: the loadavg gate only sees external steal at
    # session start; a JVM-soaked host can run everything 2-3x slow at
    # near-zero loadavg (the round-9/round-16 regime). The UNFLAGGED
    # pinned queries >= MIN_FLAG_SECONDS act as in-run controls: their
    # median ratio-to-pin is ~1.0-1.2 on a healthy host. Two regimes:
    #  - UNIFORM (median >= REGIME_FACTOR): the whole run is 1.4x+ —
    #    the judge's isolated-box case (controls read 2-3x). Every
    #    flag measures the host.
    #  - TAIL (>= max(TAIL_MIN_COUNT, TAIL_MIN_FRAC of observations)
    #    read >= TAIL_RATIO): the run had degraded windows that
    #    inflated a subset — the r16 driver-run case (median 1.10 but
    #    15/118 controls at 1.5-1.9x alongside 5 flags at 2.0-3.5x).
    #    Round-18 calibration (VERDICT r17 item 3): the FLAGGED queries
    #    themselves count as tail observations — a flag at 2-3.5x on
    #    untouched code IS a degraded-window reading, and the r17
    #    driver run sat one control short of the gate (10 vs 11) with
    #    4 such flags un-annotated. To keep a genuine MASS regression
    #    (many flags, quiet controls) from self-annotating, the tail
    #    must also carry minimum UNFLAGGED support.
    #    Retro-validation: r16 sf0.1 run 15+5/123 (fires); r17 driver
    #    run 10+4/114 (fires — previously missed by one); builder's
    #    idle 0-drift sf1 run 6+0/61 (quiet); a healthy run with one
    #    true regression (r14 q_distinct_kmv class) has quiet controls
    #    and stays un-annotated; a synthetic 10-flag mass regression
    #    with quiet controls fails the unflagged-support guard.
    REGIME_FACTOR = 1.4
    TAIL_RATIO = 0.75 * factor     # 1.5 at the default 2.0 gate
    TAIL_MIN_COUNT, TAIL_MIN_FRAC = 8, 0.10
    TAIL_MIN_UNFLAGGED = 4         # mass-regression guard (see above)
    regime = (sorted(unflagged_ratios)[len(unflagged_ratios) // 2]
              if unflagged_ratios else None)
    tail_unflagged = sum(1 for r in unflagged_ratios if r >= TAIL_RATIO)
    tail_n = tail_unflagged + sum(1 for _, _, _, r in drifted if r >= TAIL_RATIO)
    n_obs = len(unflagged_ratios) + len(drifted)
    tail_gate = max(TAIL_MIN_COUNT, TAIL_MIN_FRAC * n_obs)
    degraded = regime is not None and regime >= REGIME_FACTOR
    tail_degraded = (not degraded) and unflagged_ratios and tail_n >= tail_gate \
        and tail_unflagged >= max(TAIL_MIN_UNFLAGGED,
                                  0.05 * len(unflagged_ratios))
    if regime is not None:
        print(f"regime factor: median ratio-to-pin over "
              f"{len(unflagged_ratios)} unflagged controls >= "
              f"{MIN_FLAG_SECONDS:g}s = {regime:.2f}; "
              f"{tail_n} observations >= {TAIL_RATIO:g}x "
              f"({tail_unflagged} unflagged + {tail_n - tail_unflagged} "
              f"flagged; tail gate {tail_gate:.1f})"
              + (f" — HOST-REGIME DEGRADED (median >= {REGIME_FACTOR:g}): "
                 "flags below measure the host, not the code"
                 if degraded else "")
              + (" — TAIL-DEGRADED: run had slow windows; flags below are "
                 "contention-suspect" if tail_degraded else ""))

    suffix = (f" [contention-suspect: load ≥ {CONTENTION_LOAD:g} during run "
              "— re-measure idle before treating as regression]"
              if contended else "")
    if degraded:
        suffix += (f" [host-regime — re-measure: run's own controls at "
                   f"{regime:.2f}x their pins]")
    elif tail_degraded:
        suffix += (f" [host-regime (tail) — re-measure: {tail_n} observations "
                   f"({tail_unflagged} unflagged) read >= {TAIL_RATIO:g}x "
                   "their pins]")
    for q, t, r, ratio in drifted:
        print(f"DRIFT {q}: {t:.2f}s vs reference {r:.2f}s ({ratio:.1f}x){suffix}")
    for q, t in new:
        print(f"NEW   {q}: {t:.2f}s (no reference yet)")
    kept = sum(1 for q in cur if q != "_warmup" and q in ref) - len(drifted)
    print(f"\n{kept} queries within {factor}x of reference; "
          f"{len(drifted)} drifted; {len(new)} new")
    sys.exit(1 if drifted else 0)


if __name__ == "__main__":
    main()
