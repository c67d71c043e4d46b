#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark driver from source (sbt, once per
source state), synthesizes the seed tables for the seed, starts fresh JVMs
that drive the engine at local[4], checks every timed result against an
independent answer, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Exits non-zero, without a result line,
if the build or a run fails; exits 1 after the result line if a check fails.
Workloads, sizes and the metric map are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170

# events rows / documents per seed table; rows of the fixed table the
# long-tail generators read
EVENTS = 6000
DOCS = 400
TAIL_EVENTS = 4000
TAIL_SEED = 0
WORKLOADS = ("ingest_mix", "analyst_queries")

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


def stamp(roots):
    """Hash of the named files and of every file under the named directories."""
    h = hashlib.sha256()
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def source_stamp():
    return stamp([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                  os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                  os.path.join(ROOT, "project", "build.properties"),
                  os.path.join(HERE, "project", "build.properties")])


def input_stamp():
    """Hash of everything that shapes the inputs: the seed-table synthesis,
    the benchmark's mix composition and the engine's generators. Every input
    cache path carries it, so a change to any of them writes new inputs."""
    return stamp([os.path.join(HERE, "inputs.py"),
                  os.path.join(HERE, "src", "main", "scala", "graft", "perfbench", "Inputs.scala"),
                  os.path.join(ROOT, "src", "main", "scala", "graft", "gen")])[:12]


def build(deadline):
    """Classpath of the compiled engine + driver; sbt runs only when the
    sources changed since the last build in this checkout."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=os.environ.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}")
    r = subprocess.run(["sbt", "-batch", "export perfbench/Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(1, deadline - time.time()))
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def seed_tables(seed):
    """Seed tables for this seed, kept for reuse by later runs (the most
    recent 12 seeds; older ones are removed)."""
    import inputs
    base = os.path.join(WORK, "data")
    path = inputs.materialize(os.path.join(base, f"ev{EVENTS}-doc{DOCS}-{input_stamp()}-seed{seed}"),
                              seed, EVENTS, DOCS)
    os.utime(path)
    dirs = sorted((os.path.join(base, d) for d in os.listdir(base)), key=os.path.getmtime)
    for d in dirs[:-12]:
        shutil.rmtree(d, ignore_errors=True)
    return path


def tail_dir():
    """Where the long-tail turns live: one fixed table per input stamp; the
    mix paths include its name."""
    return os.path.join(WORK, f"tail-ev{TAIL_EVENTS}-{input_stamp()}")


def jvm(cp, args, log, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{mem}", f"-Xmx{mem}", f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main"] + args)
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=WORK, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {DEADLINE_S}s (log: {log})")
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {r.returncode} (log: {log})")


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def op_p50(ops):
    """Median latency of the workload's operation. An analyst round is six
    different queries, so its typical latency is the sum of each query's
    median, which one slow query in one round cannot move."""
    if not ops:
        return float("nan")
    if "queries" not in ops[0]:
        return statistics.median(op["s"] for op in ops)
    per_query = {}
    for op in ops:
        for q in op["queries"]:
            per_query.setdefault(q["name"], []).append(q["s"])
    return sum(statistics.median(v) for v in per_query.values())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/ (run from a full checkout)")
    end_to_end, per_layer = metric_specs()
    os.makedirs(WORK, exist_ok=True)
    tail = os.path.join(tail_dir(), "turns")
    if not os.path.exists(os.path.join(WORK, "classpath.txt")) or \
            not os.path.exists(os.path.join(tail, "_SUCCESS")):
        deadline += 720  # the first run in a checkout compiles and writes the tail
    cp = build(deadline)
    sys.path.insert(0, HERE)
    import checks
    import inputs

    run_dir = os.path.join(WORK, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    common = ["--tail", tail, "--work", run_dir, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace)]
    if not os.path.exists(os.path.join(tail, "_SUCCESS")):
        tables = inputs.materialize(tail_dir(), TAIL_SEED, TAIL_EVENTS, 0)
        out = os.path.join(run_dir, "tail.json")
        jvm(cp, ["--workload", "tail", "--data", tables, "--out", out] + common, out + ".log", deadline)
    data = seed_tables(a.seed)
    base = ["--workload", a.workload, "--data", data] + common
    out = os.path.join(run_dir, "result.json")
    jvm(cp, base + ["--out", out], out + ".log", deadline)
    with open(out) as fh:
        raw = json.load(fh)

    fails = checks.check(raw, data)
    ops = checks.all_ops(raw)
    attempted = len(ops)
    failed = sum(1 for op in ops if not op["ok"])
    good = [op for op in raw["ops"] if op["ok"]]
    if a.trace == 0:
        values = {
            "setup_s": raw["setup_s"],
            "op_s_p50": op_p50(good),
            "live_heap_mb": raw["live_heap_mb"],
        }
        specs = end_to_end
    else:
        values = dict.fromkeys((m["name"] for m in per_layer), 0.0)
        unknown = set(raw["layers"]) - set(values)
        if unknown:
            fail(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        values.update(raw["layers"])
        specs = per_layer
    for f in fails[:10]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    result = {
        "correct": not fails,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs},
    }
    print(json.dumps(result))
    sys.exit(0 if not fails else 1)


if __name__ == "__main__":
    main()
