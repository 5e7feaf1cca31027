"""Per-layer metrics of one traced run, computed from its trace JSON and
the harness result alone.

The trace holds the spans the harness records around its calls into
each layer, Spark's job and stage events, and streaming progress. Work
counts and busy times are normalised per unit of the workload's work:
per pass over the query subset (suite), per round of the three
pipelines (ingest), per phase of fixed length (serve). A layer the
workload never enters reads 0.
"""
import statistics

PIPELINES = ["hourly", "account", "cube"]
OPS = ("query", "pipeline.run", "store.lookupRows", "store.compact")
# Spark stamps jobs in whole epoch milliseconds, spans carry fractions
SLACK_MS = 2.0


def q(xs, p):
    """Percentile by linear interpolation, as the harness computes it."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spans(trace, name):
    return [s for s in trace["spans"] if s["name"] == name]


def stages_in(trace, start, end):
    return [st for st in trace["stages"] if start <= st["submit"] <= end]


def jobs_in(trace, start, end):
    return [j for j in trace["jobs"] if start <= j["start"] <= end]


def stream_runs(trace):
    """run_id -> {"start", "end", "name", "batches": [progress...]}."""
    runs = {}
    for ev in trace["progress"]:
        r = runs.setdefault(ev["run_id"], {"batches": [], "start": None, "end": None,
                                           "name": ev.get("name", "")})
        if ev["event"] == "start":
            r["start"] = ev["ts"]
        elif ev["event"] == "end":
            r["end"] = ev["ts"]
        else:
            r["batches"].append(ev)
    for r in runs.values():
        r["batches"].sort(key=lambda b: b["batch"])
    return runs


def pipeline_of(trace):
    """run_id -> pipeline name, by the pipeline.run span its start falls in."""
    out = {}
    pspans = spans(trace, "pipeline.run")
    for rid, r in stream_runs(trace).items():
        t = r["start"] if r["start"] is not None else (
            r["batches"][0]["ts"] if r["batches"] else None)
        for s in pspans:
            if t is not None and s["start"] - 1 <= t <= s["end"]:
                out[rid] = s["attrs"]["pipeline"]
    return out


def op_jobs_stages(trace):
    """The jobs that start inside a top-level operation span, and their
    stages: the program's own work, without any job the harness runs
    between operations."""
    ops = [(s["start"], s["end"]) for s in trace["spans"] if s["name"] in OPS]
    jobs = [j for j in trace["jobs"]
            if any(a - SLACK_MS <= j["start"] <= b + SLACK_MS for a, b in ops)]
    ids = {i for j in jobs for i in j["stages"]}
    return jobs, [st for st in trace["stages"] if st["stage"] in ids]


def heaviest_one_task(trace):
    """How many top-level operations ran their heaviest stage on one task."""
    n = 0
    for s in trace["spans"]:
        if s["name"] not in OPS:
            continue
        st = stages_in(trace, s["start"], s["end"])
        if st and max(st, key=lambda x: x.get("run_ms", 0))["tasks"] == 1:
            n += 1
    return n


def compute(workload, trace, result, baseline=None):
    ut = result["untraced"]
    tr = result["traced"]
    ux, tx = ut["extra"], tr["extra"]
    units = {"suite": tx.get("passes", 1), "ingest": tx.get("rounds", 1)}.get(workload, 1)
    m = {}

    def span_sum(name):
        return sum(s["end"] - s["start"] for s in spans(trace, name))

    m["queries.build_ms"] = span_sum("queries.build") / units
    m["plans.plan_ms"] = span_sum("plans.plan") / units

    jobs, st = op_jobs_stages(trace)
    job_iv = [(j["start"], j["end"]) for j in jobs]
    stage_iv = [(s["submit"], s["complete"]) for s in st if s["submit"] > 0 and s["complete"] > 0]
    exec_ms = union_ms(job_iv)
    m["operators.exec_ms"] = exec_ms / units
    m["operators.idle_ms"] = (exec_ms - union_ms(stage_iv)) / units
    m["operators.jobs"] = len(jobs) / units
    m["operators.stages"] = len(st) / units
    m["operators.tasks"] = sum(s["tasks"] for s in st) / units
    for key, name in [("run_ms", "task_run_ms"), ("cpu_ms", "task_cpu_ms"), ("gc_ms", "gc_ms")]:
        m[f"operators.{name}"] = sum(s.get(key, 0) for s in st) / units
    for key, name in [("shuffle_write_b", "shuffle_write_mb"),
                      ("shuffle_read_b", "shuffle_read_mb"), ("spill_b", "spill_mb")]:
        m[f"operators.{name}"] = sum(s.get(key, 0) for s in st) / 1e6 / units
    m["operators.one_task_heavy_stages"] = heaviest_one_task(trace) / units
    m["sources.input_mb"] = sum(s.get("input_b", 0) for s in st) / 1e6 / units
    m["sources.input_rows"] = sum(s.get("input_rows", 0) for s in st) / units

    m["memo.cold_premium_s"] = sum(
        max(0.0, ux["pass1_ms"][k] - v) for k, v in ux.get("query_median_ms", {}).items()) / 1e3

    runs = stream_runs(trace)
    owner = pipeline_of(trace)
    sinks = spans(trace, "store.sinkBatch")
    for p in PIPELINES:
        pruns = [s for s in spans(trace, "pipeline.run") if s["attrs"]["pipeline"] == p]
        batches = [b for rid, r in runs.items() if owner.get(rid) == p for b in r["batches"]]
        n = max(1, len(pruns))
        rows = sum(b["rows"] for b in batches)
        wall = sum(s["end"] - s["start"] for s in pruns)
        dur = lambda k: sum(b["duration"].get(k, 0) for b in batches) / n  # noqa: E731
        ops = [o for b in batches for o in b["state"]]
        m[f"ingest.{p}.events_per_s"] = rows / (wall / 1e3) if wall else 0.0
        m[f"ingest.{p}.source_ms"] = dur("latestOffset") + dur("getBatch")
        m[f"ingest.{p}.plan_ms"] = dur("queryPlanning")
        m[f"state.{p}.update_ms"] = sum(o["update_ms"] for o in ops) / n
        m[f"state.{p}.commit_ms"] = sum(o["commit_ms"] for o in ops) / n
        m[f"state.{p}.rows"] = max((o["rows_total"] for o in ops), default=0)
        m[f"state.{p}.mb"] = max((o["mem_b"] for o in ops), default=0) / 1e6
        m[f"checkpoint.{p}.log_ms"] = dur("walCommit") + dur("commitOffsets")
        psinks = [s for s in sinks if s["attrs"]["pipeline"] == p]
        m[f"store.{p}.sink_ms"] = sum(s["end"] - s["start"] for s in psinks) / n
        m[f"store.{p}.sink_files"] = sum(s["attrs"].get("files", 0) for s in psinks) / n

    lookups = spans(trace, "store.lookupRows")
    lk_ms = [s["end"] - s["start"] for s in lookups]
    m["store.lookup_p50_ms"] = q(lk_ms, 0.5)
    m["store.lookup_p90_ms"] = q(lk_ms, 0.9)
    m["store.lookup_jobs"] = (sum(len(jobs_in(trace, s["start"], s["end"])) for s in lookups)
                              / len(lookups)) if lookups else 0.0
    m["store.batch_dirs_mean"] = statistics.mean(
        s["attrs"]["batch_dirs"] for s in lookups) if lookups else 0.0
    compacts = spans(trace, "store.compact")
    m["store.compact_ms"] = statistics.mean(
        s["end"] - s["start"] for s in compacts) if compacts else 0.0
    m["store.compactions"] = len(compacts)
    m["store.mb"] = tx.get("store_mb", 0.0)

    reqs = spans(trace, "http.request")
    overhead = []
    for r in reqs:
        inside = [s for s in lookups if r["start"] <= s["start"] and s["end"] <= r["end"]
                  and s["attrs"]["prefix"] == r["attrs"]["prefix"]]
        if inside:
            overhead.append((r["end"] - r["start"]) - min(s["end"] - s["start"] for s in inside))
    m["http.overhead_p50_ms"] = q(overhead, 0.5)
    m["http.resp_kb"] = statistics.mean(r["attrs"]["bytes"] for r in reqs) / 1e3 if reqs else 0.0
    m["http.p50_ms"] = ux.get("http_p50_ms", 0.0)
    m["http.p90_ms"] = ux.get("http_p90_ms", 0.0)
    m["serve.freshness_p50_ms"] = ux.get("freshness_p50_ms", 0.0)
    m["serve.freshness_p90_ms"] = ux.get("freshness_p90_ms", 0.0)
    m["serve.runner_start_stop_ms"] = ux.get("runner_start_stop_ms_median", 0.0)
    m["serve.send_late_p90_ms"] = ux.get("send_late_p90_ms", 0.0)
    m["serve.land_late_p90_ms"] = ux.get("land_late_p90_ms", 0.0)

    m["suite.batch_s"] = ux.get("batch_s", 0.0)
    m["suite.stream_s"] = ux.get("stream_s", 0.0)
    m["ingest.events_per_s"] = ux.get("events_per_s", 0.0)
    m["ingest.parallel_speedup"] = (
        ux["events_per_s"] / baseline["untraced"]["extra"]["events_per_s"]
        if baseline else 0.0)
    m["trace.overhead_pct"] = 100.0 * (tr["metrics"]["work_s"] / ut["metrics"]["work_s"] - 1)
    return {k: float(v) for k, v in m.items()}
