#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload admit|curate --seed N --seconds S --trace 0|1

Builds the engine and the harness from source if needed (see build.py),
runs the workload in one JVM under local[4], and prints as the last
line of standard output one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, the span file is written to
<build dir>/traces/<workload>-seed<N>.spans.jsonl and the traced and
untraced end-to-end values are printed side by side on stderr. Progress
and Spark logs go to stderr. Exits 0 when every output check passed,
1 when one failed or the run aborted, 2 when the build failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("admit", "curate")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_times():
    """(steal, total) jiffies of the host, or None where /proc is absent."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f[:8])
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print("graftbench: build failed: %s" % e, file=sys.stderr)
        return 2

    bdir = build.build_dir()
    os.makedirs(os.path.join(bdir, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="%s-seed%d-" % (a.workload, a.seed),
                            dir=os.path.join(bdir, "work"))
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    trace_out = os.path.join(bdir, "traces", "%s-seed%d.spans.jsonl" % (a.workload, a.seed))
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "w"), "--out", result_path]
    if a.trace:
        cmd += ["--trace-out", os.path.abspath(trace_out)]

    cpu0 = cpu_times()
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("graftbench: run exceeded %d s, killed" % JVM_TIMEOUT_S, file=sys.stderr)
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
            rc = proc.wait()
        cpu1 = cpu_times()
        try:
            with open(result_path) as fh:
                res = json.load(fh)
        except (OSError, ValueError):
            res = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        print("graftbench: no result (JVM exit code %s)" % rc, file=sys.stderr)
        return 1

    metrics = res["metrics"]
    if a.trace:
        metrics["host.loadavg"] = {"value": os.getloadavg()[0], "unit": "count"}
        steal = 0.0
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            steal = 100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        metrics["host.steal_pct"] = {"value": steal, "unit": "%"}
    for line in res.get("checks", []):
        print("graftbench: check %s" % line, file=sys.stderr)
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}
    sys.stdout.flush()
    print(json.dumps(out))
    return 0 if out["correct"] and rc == 0 else 1


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
