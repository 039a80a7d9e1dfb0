#!/usr/bin/env python3
"""Run one graft workload benchmark.

    python3 perfbench/run.py --workload <embed|ingest|curate> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark (the
checkout's library sources plus perfbench/src) with sbt into .bench_build/;
later runs reuse that build while the sources are unchanged. Each run
writes its artifact into a fresh directory under .bench_runs/. The last
line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB = ROOT / "src" / "main"
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_runs"
RUN_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_sha256():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (LIB, BENCH / "src" / "main"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compile once per source state; return the runtime classpath."""
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "source.sha256"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail("build did not report a classpath")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip()


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["embed", "ingest", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not (LIB / "scala" / "graft").is_dir():
        fail(f"no graft sources under {LIB}: run from the root of a graft checkout")
    stamp = source_sha256()
    cp = build(stamp)
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--runs", str(RUNS),
              "--commit", commit(), "--source-sha256", stamp])
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    for l in lines:
        if l is not result:
            print(l)
    if result is not None:
        print(result)
    sys.exit(p.returncode if result is not None else (p.returncode or 1))


if __name__ == "__main__":
    main()
