#!/usr/bin/env python3
"""Build file of the serving benchmark.

Compiles the server's sources (`src/main/scala`) together with the
benchmark's own (`servebench/src`) with the Scala compiler that ships in
Spark's jar directory, into `<build>/servebench/servebench.jar`. `<build>` is
`$CARGO_TARGET_DIR` when set, else `.bench_build`, both relative to the
checkout root. The compile is skipped when a stamp of every source's content
matches the last build.

    python3 servebench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SERVER_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "servebench") if not os.path.isabs(d) else os.path.join(d, "servebench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("servebench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(SERVER_SRC):
        raise SystemExit("servebench: server sources missing at src/main/scala; "
                         "run from the root of a full checkout")
    out = []
    for base in (SERVER_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the jar, compiling first when the sources changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = build_dir()
    jar = os.path.join(out, "servebench.jar")
    stamp_file = os.path.join(out, "servebench.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return jar
    os.makedirs(out, exist_ok=True)
    for stale in (stamp_file, class_archive()):
        if os.path.exists(stale):
            os.remove(stale)
    classes = os.path.join(out, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", cp] + files
    print(f"servebench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    # a jar, not a directory: the JVM's class-data archive only covers jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.replace(jar + ".tmp", jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return jar


def class_archive():
    """The JVM class-data archive of a benchmark run (see run.py)."""
    return os.path.join(build_dir(), "servebench.jsa")


if __name__ == "__main__":
    print(build())
