#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness together
with the engine's main sources (perfbench/build.py) and writes the input
tables (perfbench.GenData); later runs reuse both while the sources are
unchanged. Build output, data and per-run scratch live under .bench_build/.

Workloads: sweep and cube_maintain (see perfbench/README.md). `--record`
with the sweep rewrites the panel's entries in perfbench/golden.tsv from
the fingerprints the run computes.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer with --trace 1). The
exit code is nonzero when the build, the run or an output check fails.
"""
import argparse
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
from build import BUILD, ENGINE_SRC, HERE, ROOT, build, fail, java, \
    run_child, tail, tree_hash

RUN_TIMEOUT_S = 170
GEN_TIMEOUT_S = 120
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def data_dir(cp):
    """The input tables, written by perfbench.GenData (no Spark session)
    once per generator version."""
    out = os.path.join(BUILD, "data", "sf0.1")
    stamp = os.path.join(out, ".done")
    want = tree_hash([os.path.join(HERE, "src", "main", "scala", "perfbench",
                                   "GenData.scala")])
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        log = os.path.join(BUILD, "gen.log")
        with open(log, "w") as f:
            rc = run_child([java(), "-Xmx1g", "-XX:-UsePerfData", "-cp", cp,
                            "perfbench.GenData", "tables", out, "0.1"],
                           ROOT, os.environ, f, GEN_TIMEOUT_S)
        if rc != 0:
            fail(f"input generation failed (rc={rc}):\n{tail(log)}", 3)
        with open(stamp, "w") as f:
            f.write(want)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail("run from the repository root: the engine sources "
             "(src/main/scala) are missing")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    data = data_dir(cp)

    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java(), f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", data, "--work", work,
            "--out", os.path.join(BUILD, "trace"),
            "--golden", os.path.join(HERE, "golden.tsv")]
    if a.record:
        cmd.append("--record")
    out_path = os.path.join(BUILD, "run.out")
    log = os.path.join(BUILD, "run.log")
    try:
        with open(out_path, "w") as out, open(log, "w") as err:
            rc = run_child(cmd, ROOT, os.environ, out, RUN_TIMEOUT_S, err)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in open(out_path).read().splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "correct" in obj:
            result = line
    if result is None:
        fail(f"run produced no result (rc={rc}):\n{tail(log)}", 1)
    if rc != 0:
        sys.stderr.write(tail(log))
    print(result)
    sys.exit(rc)


if __name__ == "__main__":
    main()
