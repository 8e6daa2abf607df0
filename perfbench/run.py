#!/usr/bin/env python3
"""Benchmark of the graft blockchair daily pipeline and its dashboard.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM program with sbt (perfbench/build.sbt); later runs start the JVM
directly. Workloads:

  daily_etl        generated days of blockchair dumps, one day at a time,
                   through schema gate, fetch + land, models and checks
  dashboard_serve  a closed-loop client over the marts: the six dashboard
                   queries and the fund trace, through the result cache

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1; names and units from BENCHMARK.json). Everything a run writes
stays under perfbench/ and is deleted when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["daily_etl", "dashboard_serve"]
DAYS = 3
TX_PER_DAY = 1000
BUILD_TIMEOUT_S = 850
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project", "build.properties")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed. Returns the classpath and
    the JVM options the root build runs Spark with."""
    program = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not (os.path.isdir(program) and
            os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are "
             "not in this checkout", 2)
    stamp_file = os.path.join(HERE, "target", "bench-build.json")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], cached["java_options"]
    log("building the program and the benchmark with sbt")
    t = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath", "show javaOptions"], cwd=HERE,
            stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    lines = p.stdout.splitlines()
    classpath = [ln for ln in lines if not ln.startswith("[") and
                 os.path.join("perfbench", "target") in ln]
    options = [ln[len("[info] * "):] for ln in lines
               if ln.startswith("[info] * ")]
    if p.returncode != 0 or len(classpath) != 1 or not options:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath[0],
                   "java_options": options}, f)
    log(f"built in {time.time() - t:.1f} s")
    return classpath[0], options


def canary():
    """Fixed single-thread CPU work; its time tracks the host's speed."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) % 1_000_003
    assert acc == 307_811, acc
    return time.perf_counter() - t


def run_jvm(classpath, java_options, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the benchmark is small; a 3 GiB heap cap (the last -Xmx wins) keeps
    # it from growing into memory shared with other processes
    cmd = [java, *java_options, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "graftbench.Main", *args]
    out_log = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(out_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(out_log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM ended with {code}", 4)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f), launched


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath, java_options = build()
    if time.time() > deadline - 60:  # the first run also builds
        deadline = time.time() + RUN_LIMIT_S
    canary_before = canary()

    import checks  # imports duckdb; only after the build has succeeded
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        import gen
        inputs = os.path.join(work, "dumps")
        t = time.perf_counter()
        ledger = gen.generate(inputs, a.seed, days=DAYS, tx_per_day=TX_PER_DAY)
        gen.write_request_inputs(inputs, ledger)
        gen_s = time.perf_counter() - t
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--inputs", inputs,
                "--cpus", str(len(os.sched_getaffinity(0)))]
        res, launched = run_jvm(classpath, java_options, args, work,
                                deadline)
        problems = list(res["errors"])
        problems += checks.run(a.workload, res["checks"], ledger, inputs)
        m = res["metrics"]
        m["setup_s"] = gen_s + m["setup_end_epoch_ms"] / 1e3 - launched
        canary_after = canary()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"{a.workload}: op samples {int(m['op_samples'])}, heavy-op samples "
        f"{int(m['heavy_op_samples'])}, canary {canary_before:.3f}/"
        f"{canary_after:.3f} s, wall {time.time() - started:.1f} s")
    if a.trace:
        layers = res["layers"]
        layers["host.canary_s"] = (canary_before + canary_after) / 2
        covered = sum(v for k, v in layers.items() if k.endswith(".self_s"))
        gap = layers["spans.wall_s"] - covered - layers["spans.uncovered_s"]
        if abs(gap) > 1e-6 * max(1.0, layers["spans.wall_s"]):
            problems.append(f"layer self times + uncovered time miss the "
                            f"wall time by {gap:.6f} s")
        chosen = spec["per_layer"]
        absent = [x["name"] for x in chosen
                  if layers.get(x["name"]) is None]
        if absent:
            log(f"no work on {a.workload} for: {', '.join(absent)}")
        metrics = {x["name"]: {"value": layers.get(x["name"]) or 0.0,
                               "unit": x["unit"]} for x in chosen}
    else:
        metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                   for x in spec["end_to_end"]}
    for p in problems:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
