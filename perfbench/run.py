#!/usr/bin/env python3
"""Benchmark of the graft library: builds it from source, then runs one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record iterative

Run from the root of a checkout. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (see
BENCHMARK.json). The exit code is 0 only when every output check passed.

Build outputs, logs, per-query detail and traces go to .bench_build/ in the
checkout. The library is compiled by perfbench/build.sbt, which depends on
the checkout's own build, so the library's build file is used unchanged.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected_outputs.tsv")
WORKLOADS = ("monoid_agg", "iterative")
# a run must end within 180 s; the JVM is stopped before that
JVM_TIMEOUT_S = 170
# A fixed, pre-touched heap, so that heap growth and first-touch page faults
# do not land in the timed passes. peak_rss_mb is therefore not read from the
# resident set, which holds the whole heap, but from what the program holds
# (see perfbench/README.md).
HEAP = "2g"

# what Spark on JDK 17 needs when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "tools", "scala"),
              os.path.join(HERE, "src")):
        for base, dirs, names in os.walk(d):
            dirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile the library and the harness once per source state; returns the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    # resolve only from local caches: the build must not reach the network
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the scratch files of sbt and of the JVMs its launcher starts in
    # the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            stdin=subprocess.DEVNULL)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java(cp, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(BUILD, 'derby')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)


def run_jvm(cp, args, log_name):
    cmd = java(cp, args)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", log_name)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s and was stopped, see {log}", 3)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    if p.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        if lines:
            print(lines[-1])
        fail(f"the benchmark JVM exited with {p.returncode}, see {log}", 4)
    print(lines[-1])
    return p.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40,
                    help="cap on the steady passes, whose number is fixed per workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", choices=("iterative",))
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: run from the root of a checkout of the library")
    if not os.path.isdir(DATA):
        fail(f"input tables missing: {DATA}")
    t0 = time.time()
    cp = build()
    print(f"# build ready in {time.time() - t0:.1f} s")
    common = ["--data", DATA, "--out", os.path.join(BUILD, "out"), "--expected", EXPECTED]
    if a.selftest or a.record:
        mode = ["--mode", "selftest"] if a.selftest else ["--mode", "record", "--workload", a.record]
        os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
        with open(os.path.join(BUILD, "logs", f"{mode[1]}.log"), "w") as lf:
            sys.exit(subprocess.call(java(cp, mode + common), cwd=ROOT, stderr=lf,
                                     stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S))
    if a.workload is None:
        fail("--workload is required")
    sys.exit(run_jvm(cp, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace)] + common,
                     f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))


if __name__ == "__main__":
    main()
