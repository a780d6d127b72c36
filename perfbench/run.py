#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from source
with sbt (once per source state; the build is cached under the build
directory), then runs one harness JVM and prints its metric lines followed,
as the last line of stdout, by one JSON result object. Everything the run
writes stays under the build directory: `$CARGO_TARGET_DIR` when set, else
`.bench_build`. Logs go to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("short-mix", "placement-heavy", "stats-daily")
HEAP = "2g"
YOUNG = "512m"
DEADLINE_S = 175          # a run must end within 180 s once built
BUILD_DEADLINE_S = 840    # the first run in a checkout also builds

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


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, deadline_s, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(build_dir):
    """Returns the harness classpath, building first if sources changed.

    Each source state gets its own copy of the compiled class directories,
    under `classes-<digest>/`, so a later build in sbt's shared output
    directories cannot change what a cached source state runs."""
    digest = source_hash()
    own = build_dir / f"classes-{digest[:16]}"
    stamp = own / "classpath.json"
    if stamp.is_file():
        return json.loads(stamp.read_text())["classpath"], digest
    log("building engine and harness with sbt")
    build_dir.mkdir(parents=True, exist_ok=True)
    out = build_dir / "build.log"
    with open(out, "w") as f:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_DEADLINE_S, cwd=HERE, env=sbt_env(), stdout=f,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = out.read_text().splitlines()
    if rc != 0 or not lines:
        sys.exit(f"perfbench: build failed (exit {rc}); see {out}")
    if source_hash() != digest:
        sys.exit("perfbench: sources changed during the build")
    shutil.rmtree(own, ignore_errors=True)
    own.mkdir()
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if Path(entry).is_dir():
            shutil.copytree(entry, own / f"cp{i}")
            entry = str(own / f"cp{i}")
        entries.append(entry)
    classpath = os.pathsep.join(entries)
    stamp.write_text(json.dumps({"sources": digest, "classpath": classpath}))
    return classpath, digest


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        sys.exit("perfbench: engine sources not found; run from a checkout "
                 "of the repository")
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath, digest = build(build_dir)

    run_dir = build_dir / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "scratch", "spark-local"):
        (run_dir / sub).mkdir(parents=True)
    out = run_dir / "result.json"
    java = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            # a fixed heap and young generation: G1 resizes neither from
            # run to run, so peak RSS follows the heap regions the program
            # touches rather than G1's sizing decisions
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dderby.system.home={run_dir}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--dir", str(run_dir), "--out", str(out),
            "--expected", str(HERE / "expected.json"),
            "--commit", f"{commit()} sources:{digest[:12]}"]
    env = dict(os.environ, SPARK_GRAFT_WORK_DIR=str(run_dir / "scratch"),
               SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    try:
        # the JVM's stdout goes to our stderr: only metric lines reach stdout
        t0 = time.monotonic()
        rc = run_bounded(java, DEADLINE_S, cwd=run_dir, env=env,
                         stdout=sys.stderr, stdin=subprocess.DEVNULL)
        log(f"harness JVM ran {time.monotonic() - t0:.1f} s")
        if rc != 0 or not out.is_file():
            sys.exit(f"perfbench: harness failed (exit {rc})")
        res = json.loads(out.read_text())
        traces = build_dir / "traces"
        for t in run_dir.glob("trace-*.jsonl"):
            traces.mkdir(exist_ok=True)
            shutil.move(str(t), traces / t.name)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in res["lines"]:
        print(line)
    print(json.dumps(res["result"]), flush=True)


if __name__ == "__main__":
    main()
