#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's main sources (src/main/scala, plus
src/main/resources) together with the benchmark harness
(perfbench/scala) with the Scala compiler that ships in the Spark
distribution's jars, into <build dir>/classes-<digest>. The digest
covers every source file, so an edited tree rebuilds and an unchanged
one reuses its classes. The build dir is $CARGO_TARGET_DIR when set,
else .bench_build, relative to the checkout root.

    python3 perfbench/build.py     # builds, prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("Spark jars with a Scala compiler not found; set SPARK_HOME")
    return jars


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def build(quiet=False):
    """Compile if needed; return the classes directory."""
    engine = _files(os.path.join(ROOT, "src", "main", "scala"), ".scala")
    harness = _files(os.path.join(HERE, "scala"), ".scala")
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not harness:
        raise BuildError("no benchmark sources under perfbench/scala")
    resources_dir = os.path.join(ROOT, "src", "main", "resources")
    resources = _files(resources_dir)
    h = hashlib.sha256()
    for f in engine + harness + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "_javatmp"))
    jars = spark_jars()
    cp = os.path.join(jars, "*")
    args_file = os.path.join(tmp, "_javatmp", "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(engine + harness))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(tmp, "_javatmp"),
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", tmp, "@" + args_file]
    if not quiet:
        print("graftbench: compiling %d engine + %d benchmark sources"
              % (len(engine), len(harness)), file=sys.stderr)
    rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed with code %d" % rc)
    shutil.rmtree(os.path.join(tmp, "_javatmp"))
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, resources_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("graftbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
