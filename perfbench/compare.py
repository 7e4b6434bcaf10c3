#!/usr/bin/env python3
"""Compare benchmark runs: same code twice, or a parent against a change.

Run N alternating-order sets and record every result:

    python3 perfbench/compare.py run --a PARENT_DIR [--b CHANGE_DIR] \
        --sets 10 [--workloads admit curate] [--seed0 100] [--out runs.jsonl]

Each set runs every workload once on each side with the same seed
(seed0 + set index); even sets run A first, odd sets B first. Without
--b both sides run the same checkout. Then, or later from the file:

    python3 perfbench/compare.py report runs.jsonl [--bench BENCHMARK.json]

For each workload x end-to-end metric the report prints each side's
median and quartiles (statistics.quantiles, n=4) and a verdict, using
the bounds in BENCHMARK.json:

  unresolved  a side's quartile spread, as a share of its median, is
              wider than the metric's bound (unless every B run beats
              every A run);
  better      B wins at least nine tenths of all sets run (ties count
              for neither; a set where B's run failed or was incorrect
              counts as lost), the medians differ by more than A's
              quartile spread, and B has no more failed runs and no
              more failed operations than A;
  worse       B's median is worse than A's by more than the bound;
  same        otherwise: no change beyond the bound.

The report also prints, per workload and side, the runs, the failed or
incorrect runs and the failed operations. With one side only, it lists
medians, quartiles and spreads.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_one(checkout, workload, seed, seconds, trace=0):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    return {"exit": p.returncode, "result": res}


def cmd_run(a):
    bench = json.load(open(os.path.join(a.a, "BENCHMARK.json")))
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    sides = {"A": os.path.abspath(a.a), "B": os.path.abspath(a.b or a.a)}
    with open(a.out, "a") as out:
        for i in range(a.sets):
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for w in workloads:
                for side in order:
                    r = run_one(sides[side], w, a.seed0 + i, seconds)
                    r.update({"set": i, "side": side, "workload": w, "seed": a.seed0 + i})
                    out.write(json.dumps(r) + "\n")
                    out.flush()
                    res = r["result"] or {}
                    print("set %d %s %-7s exit %s correct %s" % (i, side, w, r["exit"],
                          res.get("correct")), file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def verdict(metric, a_runs, b_runs, sets, b_fails_more):
    """Apply the bound and the 9-of-10-pairs rule. Runs are {set: value}
    of the correct runs; `sets` are all the sets run, so a set in which
    B failed (or either side is missing) counts as a pair B lost."""
    lower = metric["better"] == "lower"
    bound = metric.get("bound", 0.0)
    a_vals, b_vals = list(a_runs.values()), list(b_runs.values())
    aq, bq = quartiles(a_vals), quartiles(b_vals)
    spread = lambda q: (q[2] - q[0]) / q[1] if q[1] else float("inf")
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    wins = sum(1 for s in sets if s in a_runs and s in b_runs and better(b_runs[s], a_runs[s]))
    rel = (bq[1] - aq[1]) / aq[1] if aq[1] else 0.0
    worse_by = rel if lower else -rel
    all_better = all(better(y, x) for x in a_vals for y in b_vals)
    if max(spread(aq), spread(bq)) > bound and not all_better:
        v = "unresolved"
    elif (sets and not b_fails_more and wins >= 0.9 * len(sets)
          and abs(bq[1] - aq[1]) > (aq[2] - aq[0])):
        v = "better"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "same"
    return aq, bq, wins, len(sets), v


def cmd_report(a):
    bench = json.load(open(a.bench))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    rows = [json.loads(l) for l in open(a.runs) if l.strip()]
    data = {}
    sets = {}       # workload -> every set run
    runs = {}       # (workload, side) -> runs
    bad_runs = {}   # (workload, side) -> failed or incorrect runs
    bad_ops = {}    # (workload, side) -> failed operations
    for r in rows:
        w, side = r["workload"], r["side"]
        sets.setdefault(w, set()).add(r["set"])
        runs[(w, side)] = runs.get((w, side), 0) + 1
        res = r.get("result")
        bad_ops[(w, side)] = bad_ops.get((w, side), 0) + (res["failed"] if res else 0)
        if not res or not res.get("correct") or r.get("exit"):
            bad_runs[(w, side)] = bad_runs.get((w, side), 0) + 1
            continue
        for name, m in res["metrics"].items():
            data.setdefault((w, name, side), {})[r["set"]] = m["value"]
    sides = sorted({k[1] for k in runs})
    fmt = lambda q: "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])
    for w in sorted(sets):
        print("%-7s %s" % (w, "  ".join(
            "%s: %d runs, %d failed or incorrect, %d failed operations"
            % (s, runs.get((w, s), 0), bad_runs.get((w, s), 0), bad_ops.get((w, s), 0))
            for s in sides)))
        b_fails_more = (bad_runs.get((w, "B"), 0) > bad_runs.get((w, "A"), 0)
                        or bad_ops.get((w, "B"), 0) > bad_ops.get((w, "A"), 0))
        for name, m in metrics.items():
            a_runs = data.get((w, name, "A"), {})
            b_runs = data.get((w, name, "B"), {})
            if not a_runs:
                continue
            if len(sides) == 1:
                q = quartiles(list(a_runs.values()))
                sp = (q[2] - q[0]) / q[1] if q[1] else float("inf")
                print("%-7s %-13s n=%-2d median [q1, q3] %s  spread %.3f (bound %s)"
                      % (w, name, len(a_runs), fmt(q), sp, m["bound"]))
                continue
            if not b_runs:
                print("%-7s %-13s A %s  B no correct run  worse" % (w, name, fmt(quartiles(list(a_runs.values())))))
                continue
            aq, bq, wins, n, v = verdict(m, a_runs, b_runs, sorted(sets[w]), b_fails_more)
            print("%-7s %-13s A %s  B %s  B wins %d/%d  %s"
                  % (w, name, fmt(aq), fmt(bq), wins, n, v))


def main():
    ap = argparse.ArgumentParser(description="Compare graft benchmark runs.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--a", required=True, help="checkout of the parent (or the only side)")
    r.add_argument("--b", help="checkout of the change; default: --a again")
    r.add_argument("--sets", type=int, default=10)
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--seed0", type=int, default=100)
    r.add_argument("--seconds", type=float)
    r.add_argument("--out", default="runs.jsonl")
    p = sub.add_parser("report")
    p.add_argument("runs")
    p.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    if a.cmd == "run":
        cmd_run(a)
        a = argparse.Namespace(runs=a.out, bench=os.path.join(a.a, "BENCHMARK.json"))
    cmd_report(a)


if __name__ == "__main__":
    main()
