#!/usr/bin/env python3
"""ServeBench: end-to-end serving benchmark of the SQL gateway.

Builds the server and the benchmark from source (see build.py), then runs one
workload in one JVM: the server (Engine.session -> QueryGateway ->
BatchWindow -> WorkSharingExecutor) and a closed loop of 4 socket clients.
The last line of standard output is the JSON result.

    python3 servebench/run.py --workload mixed_window --seed 1 --seconds 15 --trace 0
    python3 servebench/run.py --self-test

Workloads: mixed_window, stream_direct, shared_scan. `--trace 1` spends half
of `--seconds` untraced and half in a traced in-process run, and reports the
per-layer metrics instead of the end-to-end ones. Must be run from the root
of a checkout; see README.md.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("shared_scan", "mixed_window", "stream_direct")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(jar, main, args, capture=False, archive=False):
    """Runs `main` in a fresh JVM with the server's run options; every file
    the JVM writes stays under the build directory. With `archive`, the
    first such run of a build dumps the classes it loaded into a class-data
    archive and later runs map it, which halves the JVM's cold start."""
    out = build.build_dir()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = build.class_archive()
    cds = [] if not archive else [f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
                                  else f"-XX:ArchiveClassesAtExit={jsa}"]
    # JVM log lines (the archive's among them) go to stderr: stdout is the result
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}"] + cds + [
           f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"), main] + args
    proc = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"servebench: {main} timed out after {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        raise SystemExit(f"servebench: {main} exited with {proc.returncode}")
    return stdout.decode() if capture else None


def self_test(jar):
    """The benchmark's own tests: the response check rejects one corrupted
    row, and a seed yields a byte-identical statement stream every time."""
    jvm(jar, "servebench.CheckTest", [])
    for w in WORKLOADS:
        a, b, c = (jvm(jar, "servebench.ServeBench",
                       ["--workload", w, "--seed", str(s), "--dump-stream", "200"], capture=True)
                   for s in (7, 7, 8))
        if a != b or a == c or not a:
            raise SystemExit(f"servebench: stream of {w} is not a function of the seed")
        print(f"stream {w}: seed 7 sha256 {hashlib.sha256(a.encode()).hexdigest()[:16]}, "
              f"identical on rerun, differs for seed 8")
    print("self-test passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    jar = build.build()
    if a.self_test:
        self_test(jar)
        return
    if a.workload is None:
        ap.error("--workload is required")
    jvm(jar, "servebench.ServeBench",
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--out", build.build_dir()], archive=True)


if __name__ == "__main__":
    main()
