#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload suite|ingest|serve --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the library and
the harness from source into .bench_build/ (sbt, offline). Inputs are
generated from the seed under .bench_build/runs/ and removed afterwards.

Prints each metric with its unit, then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. Exits with 1
after printing it when any correctness check failed, with 2 and no
result when the run could not be made. With --trace 0 the
metrics are the end-to-end ones, measured untraced; with --trace 1 they
are the per-layer ones, from a traced phase that follows an untraced
one in the same process (their difference is trace.overhead_pct). The
traced run also keeps its trace under .bench_build/traces/, which
census.py turns into the stage census and stream phase tables.

--self-test shows that the checks catch wrong output: the suite with one
expected row count off by one, and ingest with a store that drops a
micro-batch, must both report failures.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha1()
    roots = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness unless the sources are unchanged."""
    if not os.path.isdir(LIB_SRC):
        fail(f"no library sources at {os.path.relpath(LIB_SRC, ROOT)}; "
             "run from the root of a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classes.sha1")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail("build failed, see .bench_build/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    return True


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(main, *args, heap="2g", tmp=None):
    cp = os.pathsep.join([CLASSES, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # fixed, pre-touched heap, as the library's own build runs it
    mem = [f"-Xmx{heap}", f"-Xms{heap}", "-XX:+AlwaysPreTouch"]
    props = ["-Dspark.ui.enabled=false"] + ([f"-Djava.io.tmpdir={tmp}"] if tmp else [])
    return ["java", *opens, *mem, *props, "-cp", cp, main, *args]


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(cfg, work, cpus, deadline, log_name):
    """Run one harness process; returns its result.json."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log_path = os.path.join(BUILD, "logs", log_name)
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(java_cmd("perfbench.Main", cfg_path, tmp=os.path.join(work, "tmp")),
                             cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded the time limit, see .bench_build/logs/{log_name}")
    result = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"harness exited with {p.returncode}, see .bench_build/logs/{log_name}")
    shutil.copy(result, log_path[:-len(".log")] + ".result.json")
    with open(result) as f:
        return json.load(f)


def prepare(workload, spec, seed, work):
    """Generate the workload's inputs; returns the data dir."""
    if workload == "suite":
        if not os.path.isdir(FIXTURE):
            fail("the suite fixture is missing")
        return FIXTURE
    import gen_inputs
    data = os.path.join(work, "data")
    gen_inputs.generate(workload, data, seed, spec["generator"])
    return data


def suite_params(spec):
    with open(os.path.join(HERE, "expected_counts.json")) as f:
        counts = json.load(f)
    p = dict(spec["params"])
    p["expected"] = {q: counts[q] for q in p["queries"]}
    return p


def measure(workload, seed, seconds, trace, params_override=None, cpus=None,
            deadline=None):
    """Generate inputs and run the harness once; returns (result, trace path).
    The result's setup_s runs from the start of input generation."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)[workload]
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}-{cpus or 0}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        data = prepare(workload, spec, seed, work)
        params = suite_params(spec) if workload == "suite" else dict(spec["params"])
        params.update(params_override or {})
        cfg = {"workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
               "data": data, "work": work, "params": params,
               "spark_conf": spec.get("spark_conf", {})}
        res = run_jvm(cfg, work, cpus or cores(), deadline or time.time() + RUN_LIMIT_S,
                      f"{workload}-{seed}-{'trace' if trace else 'run'}-{cpus or cores()}.log")
        res["setup_s"] = res["setup_end_ms"] / 1e3 - t0
        trace_path = None
        if trace:
            trace_path = os.path.join(BUILD, "traces", f"{workload}-{seed}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            shutil.move(os.path.join(work, "trace.json"), trace_path)
        return res, trace_path
    finally:
        shutil.rmtree(work, ignore_errors=True)


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(bench, kind, values, res):
    units = {m["name"]: m["unit"] for m in bench[kind]}
    metrics = {}
    for name, unit in units.items():
        v = values.get(name)
        if v is None or v != v:
            fail(f"metric {name} was not measured")
        metrics[name] = {"value": v, "unit": unit}
        print(f"{name:36s} {v:14.4f} {unit}")
    for e in res.get("errors", []):
        print(f"check failed: {e}")
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    if not correct:
        sys.exit(1)


def self_test():
    build()
    ok = True
    spec = json.load(open(os.path.join(HERE, "workloads.json")))["suite"]
    p = suite_params(spec)
    q = "q_semi_join"
    wrong = {"queries": [q, "q_docs_by_lang"], "min_passes": 1,
             "expected": {q: p["expected"][q] + 1, "q_docs_by_lang": p["expected"]["q_docs_by_lang"]}}
    res, _ = measure("suite", 1, 1, 0, params_override=wrong)
    caught = res["failed"] > 0 and any(q in e for e in res["errors"])
    print(f"suite with a wrong expected count for {q}: "
          f"{'reported' if caught else 'NOT reported'} ({res['failed']} failed)")
    ok &= caught
    res, _ = measure("ingest", 1, 1, 0, params_override={"drop_batch": 1, "min_rounds": 1})
    caught = res["failed"] > 0
    print(f"ingest with a store that drops batch 1: "
          f"{'reported' if caught else 'NOT reported'} ({res['failed']} failed)")
    ok &= caught
    print("self-test " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["suite", "ingest", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if not a.workload:
        ap.error("--workload is required")
    start = time.time()
    bench = load_benchmark()
    seconds = a.seconds or bench["run_seconds"]
    if build():  # a run that had to build gets its time limit after the build
        start = time.time()
    deadline = start + RUN_LIMIT_S
    res, trace_path = measure(a.workload, a.seed, seconds, a.trace, deadline=deadline)
    if not a.trace:
        values = dict(res["untraced"]["metrics"], setup_s=res["setup_s"])
        return report(bench, "end_to_end", values, res)
    import layers
    baseline = None
    if a.workload == "ingest":
        baseline, _ = measure("ingest", a.seed, seconds, 0, cpus=1, deadline=deadline,
                              params_override={"min_rounds": 1})
        for k in ("attempted", "failed", "errors"):
            res[k] += baseline[k]
    values = layers.compute(a.workload, json.load(open(trace_path)), res, baseline)
    print(f"trace: {os.path.relpath(trace_path, ROOT)}")
    report(bench, "per_layer", values, res)


if __name__ == "__main__":
    main()
