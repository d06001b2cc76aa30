#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark driver from source (scalac, once per
source state; later runs reuse the build), runs the workload in one JVM and
relays its output. The last line of standard output is the result JSON.
Exits non-zero when the build fails, a call fails, an answer is wrong, or
the result does not carry exactly the metrics BENCHMARK.json declares.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src" / "main" / "scala"
TARGET = BENCH / "target"
STAMP = TARGET / "perfbench.stamp"
WORK = BENCH / "work"

# Spark 4 on JDK 17 needs these outside spark-submit (the program's own
# build passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(cmd, timeout, **kw):
    """Run `cmd` with stdout captured; None if it outlives `timeout` (it is
    then killed and reaped)."""
    try:
        return subprocess.run(cmd, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=timeout, **kw)
    except subprocess.TimeoutExpired:
        return None


def program_jars():
    """The jars the program builds and runs against: the directory its own
    build names as unmanagedBase (the Spark distribution's jars, which
    carry the Scala compiler and library of the program's Scala
    version)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    jars = sorted((ROOT / m.group(1)).glob("*.jar")) if m else []
    if not any(j.name.startswith("scala-compiler-") for j in jars):
        sys.exit("the program's build names no unmanagedBase holding a "
                 "Scala compiler")
    return [str(j) for j in jars]


def source_hash(jars):
    """Hash of everything the build reads: both source trees and the jars
    they compile against."""
    h = hashlib.sha256("\n".join(jars).encode())
    for tree in (PROGRAM_SRC, BENCH_SRC):
        for p in sorted(p for p in tree.rglob("*") if p.is_file()):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def scalac(jars, src, out, classpath, timeout):
    """Compile every .scala file under `src` into a fresh `out`."""
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    proc = run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(jars),
                "scala.tools.nsc.Main", "-d", str(out),
                "-classpath", ":".join(classpath)]
               + sorted(str(p) for p in src.rglob("*.scala")), timeout)
    if proc is None:
        sys.exit(f"compiling {src.relative_to(ROOT)} timed out")
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        sys.exit(f"compiling {src.relative_to(ROOT)} failed "
                 f"(scalac exit {proc.returncode})")


def build():
    """Compile program + driver unless this source state is already built;
    return the runtime classpath. Plain scalac from those jars, no build
    tool: the build reads nothing but the sources and the jars, and writes
    only under perfbench/target."""
    if not PROGRAM_SRC.is_dir() or not (ROOT / "build.sbt").is_file():
        sys.exit("the program's build.sbt and src/main/scala are not next to "
                 "perfbench/")
    jars = program_jars()
    digest = source_hash(jars)
    classpath = [str(TARGET / "program"), str(TARGET / "bench")] + jars
    if STAMP.exists() and STAMP.read_text() == digest:
        return ":".join(classpath)
    STAMP.unlink(missing_ok=True)
    log("building (scalac: program, then benchmark driver)")
    scalac(jars, PROGRAM_SRC, TARGET / "program", jars, 480)
    scalac(jars, BENCH_SRC, TARGET / "bench", classpath[:1] + jars, 240)
    STAMP.write_text(digest)
    return ":".join(classpath)


def declared(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    work = WORK / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if args.trace:
        # long call sites, so every stage names the store/operator files
        # on its stack
        cmd.append("-Dspark.callstack.depth=400")
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work)]
    try:
        proc = run(cmd, args.seconds + 150, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc is None:
        sys.exit("workload timed out")
    if proc.returncode != 0:
        sys.stdout.write(proc.stdout)
        sys.exit(proc.returncode)
    lines = proc.stdout.strip().splitlines()
    got = set(json.loads(lines[-1])["metrics"]) if lines else set()
    want = {m["name"] for m in declared(args.trace)}
    if got != want:
        sys.exit(f"result metrics differ from BENCHMARK.json: "
                 f"extra {sorted(got - want)}, missing {sorted(want - got)}")
    sys.stdout.write(proc.stdout)


if __name__ == "__main__":
    main()
