#!/usr/bin/env python3
"""Benchmark of the stateful streaming engine and its batch query library.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. One run: build the program and the harness
with sbt if their sources changed (offline, before anything is timed),
generate the seed's inputs if they are not cached, start one JVM on the
compiled classes that warms up and then runs the workload in whole rounds
for at least S seconds, check every output against DuckDB, and print one
JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1 (which also writes the run's spans). See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(HERE, "work")
CORES = 2          # local[CORES]; never more than nproc
PARTITIONS = 2     # spark.sql.shuffle.partitions = state-store partitions
HEAP = "2g"        # -Xms = -Xmx
JIT = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC"]
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800


def load_spec():
    """BENCHMARK.json at the repository root: the workload names and the
    names and units of the metrics this script prints."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("no BENCHMARK.json at %s" % ROOT, 2)
    with open(path) as f:
        return json.load(f)


# what a JVM on the program's classes needs outside spark-submit (the same
# list as the root build's forked runs)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the compiled classes depend on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm",
                                                             "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "jvm", "build.sbt"),
             os.path.join(HERE, "jvm", "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Classpath of the compiled program and harness; runs sbt only when
    the sources changed since the last build."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program sources at %s (missing %s)" % (ROOT, need), 2)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            old, cp = f.read().strip(), g.read().strip()
        if old == stamp and all(os.path.exists(p) for p in cp.split(":")):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
        if os.path.exists(repos) else ""))
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "jvm"), env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    lines = r.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if r.returncode != 0 or "perfbench" not in cp or " " in cp:
        fail("build failed:\n" + "\n".join(lines[-40:]))
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, inputs, out, scratch):
    cores = min(args.cores, os.cpu_count() or 1)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP] + JIT + ADD_OPENS +
           ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--inputs", inputs, "--out", out,
            "--work", scratch, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--partitions", str(PARTITIONS)])
    # the run fixes its own core count and keeps Spark's scratch files in
    # the work directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS")}
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        launch_ms = int(time.time() * 1000)
        cmd += ["--launch-ms", str(launch_ms)]
        try:
            r = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=log,
                               stderr=log, env=env, timeout=JVM_TIMEOUT_S)
            status = "exited with %d" % r.returncode
        except subprocess.TimeoutExpired:
            r, status = None, "did not finish in %d s" % JVM_TIMEOUT_S
    if r is None or r.returncode != 0:
        with open(log_path) as f:
            fail("JVM %s:\n%s" % (status, f.read()[-4000:]))
    with open(os.path.join(out, "jvm_result.json")) as f:
        return json.load(f)


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=CORES,
                    help="local[k] threads (README's local[1] reference)")
    args = ap.parse_args()

    cp = ensure_built()
    inputs = gen.ensure_inputs(os.path.join(WORK, "inputs"), args.seed,
                               args.workload)
    scratch = os.path.join(WORK, "runs", "%s-%d-%d" % (args.workload,
                                                       args.seed,
                                                       os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    out = os.path.join(scratch, "out")
    try:
        jvm = run_jvm(cp, args, inputs, out, scratch)
        if jvm["failed"]:
            # the checks need every pipeline's or query's output
            errs = ["operation failed: " + e for e in jvm["failures"]]
        else:
            con = checks.connect()
            timed = os.path.join(inputs, "timed")
            if args.workload == "stream_stateful":
                errs = checks.check_stream(con, out, jvm, timed)
            else:
                errs = checks.check_batch(con, out, jvm, timed)
            con.close()
        keep = os.path.join(WORK, "results")
        os.makedirs(keep, exist_ok=True)
        tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
        if args.trace:
            shutil.copy(os.path.join(out, "trace.jsonl"),
                        os.path.join(keep, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    w = jvm["window"]
    mrows = jvm["rows"] / 1e6
    if args.trace:
        values = jvm["layers"]
        names = spec["per_layer"]
        extra = sorted(set(values) - {m["name"] for m in names})
        if extra:
            print("perfbench: layer figures not in BENCHMARK.json: "
                  + ", ".join(extra), file=sys.stderr)
    else:
        values = {"setup_s": jvm["setup_s"],
                  "rows_per_s": jvm["rows"] / w["wall_s"],
                  "step_p50_ms": jvm["step_p50_ms"],
                  "cpu_s_per_mrow": w["cpu_s"] / mrows if mrows else None}
        names = spec["end_to_end"]
    # a per-layer figure that does not apply to the workload reads 0, as
    # does a figure with no sample because its operations failed
    metrics = {m["name"]: {"value": values.get(m["name"]) or 0.0,
                           "unit": m["unit"]} for m in names}
    result = {"correct": not errs, "attempted": jvm["attempted"],
              "failed": jvm["failed"], "metrics": metrics}
    with open(os.path.join(keep, tag + ".json"), "w") as f:
        json.dump({"result": result, "errors": errs, "window": w,
                   "rows": jvm["rows"]}, f, indent=1)
    for e in errs:
        print("perfbench: mismatch: " + e, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
