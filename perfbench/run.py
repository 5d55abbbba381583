#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, print one JSON result line.

    python3 perfbench/run.py --workload service|queries --seed N \
        --seconds S --trace 0|1

Builds the engine plus the harness from source with sbt (once per source
state; `perfbench/target/` caches it), starts one JVM that brings up a
local[nproc] Spark session, the service and its HTTP server, runs the
workload, and writes the raw record to `perfbench/out/`. The last line of
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, and the spans are in
`perfbench/out/<workload>-seed<N>-trace1.json`. Exit status: 0 when every
operation was right, 1 when any failed, 2 when the build or run broke.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}")
    want = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    log = os.path.join(HERE, "out", "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {os.path.relpath(log)}")
    if rc != 0:
        fail(f"build failed (sbt exit {rc}); see {os.path.relpath(log)}")
    with open(STAMP, "w") as fh:
        fh.write(want)


def java_cmd(args, out, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}{os.pathsep}"
            f"{os.path.join(spark_home(), 'jars', '*')}",
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--work", work,
            "--expected", os.path.join(HERE, "expected", "queries.json")]
    return cmd


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["service", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    outdir = os.path.join(HERE, "out")
    os.makedirs(outdir, exist_ok=True)
    out = os.path.join(outdir, name + ".json")
    if os.path.exists(out):
        os.remove(out)
    work = os.path.join(HERE, "work", args.workload)
    log = os.path.join(outdir, name + ".log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(java_cmd(args, out, work), cwd=HERE,
                                stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {os.path.relpath(log)}")
    if rc not in (0, 1) or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {rc}); see {os.path.relpath(log)}")

    with open(out) as fh:
        raw = json.load(fh)
    attempted, failed = stats.failures(raw["ops"])
    if args.trace:
        values, units = stats.per_layer(raw), stats.PER_LAYER
    else:
        values, units = stats.end_to_end(raw), stats.END_TO_END
    detail = {"named": stats.named(raw), "metrics": values,
              "nproc": raw["nproc"], "max_heap_mb": raw["max_heap_mb"],
              "stall_max_s": raw["stall_max_s"], "setup": raw["setup"],
              "failures": raw["failures"]}
    with open(os.path.join(outdir, name + ".metrics.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    for f in raw["failures"][:10]:
        print(f"perfbench: failed {f}", file=sys.stderr)
    print(f"perfbench: {args.workload} nproc={raw['nproc']} "
          f"max_heap_mb={raw['max_heap_mb']:.0f} "
          f"stall_max_s={raw['stall_max_s']:.3f} "
          + " ".join(f"{k}={v:.4g}" for k, v in detail["named"].items()),
          file=sys.stderr)
    correct = failed == 0 and rc == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
