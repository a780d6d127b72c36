#!/usr/bin/env python3
"""Certifies the expected fingerprints of a registry-query workload.

    python3 perfbench/certify.py <workload>

Run from the repository root. Generates the workload's tables, runs every
query of the workload through `graft.Verify`, checks each result against
its DuckDB oracle SQL with `scripts/drivercheck.py` (exact values, dtype
kinds), and only if all of them match writes the fingerprints of those
verified results into `perfbench/expected.json`. Needs the `duckdb` Python
module that `scripts/drivercheck.py` uses.
"""
import json
import shutil
import subprocess
import sys

import run

def java(classpath, work, *args):
    cmd = ["java", *[x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={work}", "-cp", classpath, *args]
    return subprocess.run(cmd, cwd=work, check=True, capture_output=True, text=True,
                          env=dict(run.os.environ, SPARK_GRAFT_WORK_DIR=str(work))).stdout


def main():
    workload = sys.argv[1]
    build_dir = run.ROOT / run.os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath, _ = run.build(build_dir)
    root = build_dir / f"certify-{workload}"
    shutil.rmtree(root, ignore_errors=True)
    work, data, out = root / "work", root / "data", root / "verify"
    work.mkdir(parents=True)
    names = java(classpath, work, "perfbench.Main", "--generate", workload,
                 str(data), str(work)).split()
    java(classpath, work, "graft.Verify", str(data), str(out), *names)
    check = subprocess.run([sys.executable, "scripts/drivercheck.py", str(data), str(out), *names],
                           cwd=run.ROOT, capture_output=True, text=True)
    print(check.stdout)
    verified = {line.split()[1].rstrip(":") for line in check.stdout.splitlines()
                if line.startswith("OK")}
    if check.returncode != 0 or verified != set(names):
        sys.exit("certify: not every query matched its oracle SQL: "
                 f"{sorted(set(names) - verified)}; expected.json unchanged")
    fps = dict(line.split() for line in java(
        classpath, work, "perfbench.Main", "--fingerprint", workload, str(out),
        str(work)).splitlines() if line.strip())
    path = run.HERE / "expected.json"
    expected = json.loads(path.read_text()) if path.is_file() else {}
    expected[workload] = dict(sorted(fps.items()))
    path.write_text(json.dumps(dict(sorted(expected.items())), indent=2) + "\n")
    shutil.rmtree(root)
    print(f"certify: {len(fps)} fingerprints of {workload} written to {path}")


if __name__ == "__main__":
    main()
