#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload taxi_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (the harness is a separate build under perfbench/harness
that depends on the root build); later runs reuse the build while the
sources are unchanged. Everything the benchmark writes goes under
`.bench_build/` in the root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. See
perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

# Input sizes. The gate tables are a scale factor of the engine's test data
# (0.01 = 60,000 lineitem rows); the taxi CSV is rows of raw trips.
GATE_SF = 0.001
TAXI_ROWS = 100_000
# The gate tables are fixed inputs, the same on every run: fixpoint loops
# run as many rounds as their data needs, so tables drawn per seed would
# change the work itself.
TABLES_SEED = 42
# Overrides the heap the root build's JVM options ask for, the last -Xmx
# being the one the JVM takes.
JVM_HEAP = "4g"
RUN_LIMIT_S = 170


# Processes this run started; a signal stops them before the run exits.
CHILDREN = []


def spawn(cmd, **kwargs):
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kwargs)
    CHILDREN.append(proc)
    return proc


def stop_children(signum, frame):
    for proc in CHILDREN:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    sys.exit(128 + signum)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build, to reuse a build that is current."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "harness")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile the engine and the harness; return the JVM launch arguments."""
    stamp = source_stamp(root)
    launch = os.path.join(HERE, "harness", "target", "launch.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch) as f:
                    return f.read().splitlines()
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                   cwd=os.path.join(HERE, "harness"),
                   stdout=f, stderr=subprocess.STDOUT).wait()
    if rc != 0 or not os.path.exists(launch):
        fail(f"build failed (sbt exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as f:
        return f.read().splitlines()


def other_spark_jvms():
    """Pids of other running JVMs that load Spark: they contend for the cores."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"java" in cmd and (b"spark" in cmd.lower() or b"sbt-launch" in cmd):
            pids.append(int(pid))
    return pids


def run_once(args, root, out, launch, trace, deadline):
    """One harness JVM: generate inputs, run, check. Returns (metrics,
    detail, ops); keeps the detail under .bench_build/last.
    """
    t_setup = time.time()
    work = os.path.join(out, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    if args.workload == "taxi_pipeline":
        expected = {"raw": gen.taxi_csv(os.path.join(data, "raw.csv"), args.seed, TAXI_ROWS)}
    else:
        gen.tables(data, TABLES_SEED, GATE_SF)
        expected = {}

    contenders = other_spark_jvms()
    if contenders:
        print(f"perfbench: WARNING: {len(contenders)} other Spark JVM(s) running "
              f"(pids {contenders}); timings from this run are contended", file=sys.stderr)

    cmd = ["java", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           *launch, f"-Xmx{JVM_HEAP}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--gates", ",".join(report.WORKLOADS[args.workload]), "--data", data, "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/tmp")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = spawn(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the harness JVM ran out of time; see {work}/jvm.log", 4)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"the harness JVM failed (exit {rc}); see {work}/jvm.log", 4)
    with open(result_path) as f:
        res = json.load(f)
    if expected:
        res["raw_rows"] = expected["raw"]["raw_rows"]
    ops = check.check(args.workload, res, expected, work)

    kept = os.path.join(out, "last")
    os.makedirs(kept, exist_ok=True)
    name = f"{args.workload}-{args.seed}-trace{trace}"
    spans, untraced = None, None
    if trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(kept, name + ".spans.jsonl"))
        untraced = report.median(untraced_batch_s(kept, args.workload), None)
    metrics, detail = report.metrics(args.workload, res, t_setup, spans, untraced,
                                     contended=bool(contenders))
    detail["failures"] = [o for o in ops if not o["ok"]][:20]
    with open(os.path.join(kept, name + ".json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return metrics, detail, ops


def untraced_batch_s(kept, workload):
    """batch_s of the untraced runs of `workload` kept in this checkout."""
    out = []
    for f in sorted(os.listdir(kept)):
        if f.startswith(workload + "-") and f.endswith("-trace0.json"):
            with open(os.path.join(kept, f)) as fh:
                out.append(json.load(fh)["metrics"]["batch_s"]["value"])
    return out


def main():
    deadline = time.time() + RUN_LIMIT_S
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(report.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("perfbench", "harness", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    launch = build(root, out)
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)  # a build does not count

    metrics, detail, ops = run_once(args, root, out, launch, args.trace, deadline)
    failed = sum(1 for o in ops if not o["ok"])
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
