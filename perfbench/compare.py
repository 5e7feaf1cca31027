#!/usr/bin/env python3
"""Record sets of benchmark runs and compare them against the bounds in
BENCHMARK.json.

    python3 perfbench/compare.py record OUT.jsonl [--workloads suite,ingest,serve]
                                 [--seeds 1-10] [--seconds S]
    python3 perfbench/compare.py A.jsonl [B.jsonl]

`record` runs perfbench/run.py once per workload and seed (untraced) and
appends one line per run: {"workload", "seed", "result"}.

With one set, prints per workload and end-to-end metric the median,
quartiles (statistics.quantiles, n=4) and spread (IQR / median), and
flags a spread wider than the metric's bound. With
two sets, also prints B's median, its change against A's, and the
verdict: "worse" when B's median is worse than A's by more than the
bound, otherwise "ok". Runs that report incorrect output or failed
operations are flagged too.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                d = json.loads(line)
                runs.setdefault(d["workload"], []).append(d["result"])
    return runs


def stats(values):
    if len(values) < 2:
        return values[0], values[0], values[0], float("nan")
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def summary(bench, a, b=None):
    ok = True
    for w in [x["name"] for x in bench["workloads"]]:
        if w not in a:
            continue
        bad = sum(1 for r in a[w] + (b or {}).get(w, []) if not r["correct"] or r["failed"])
        print(f"\n[{w}] runs: A={len(a[w])}" + (f" B={len(b.get(w, []))}" if b else "")
              + (f"  INCORRECT RUNS: {bad}" if bad else ""))
        ok &= bad == 0
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            med, q1, q3, spread = stats([r["metrics"][name]["value"] for r in a[w]])
            flag = "  SPREAD>BOUND" if spread > bound else ""
            ok &= not flag
            line = (f"  {name:16s} A {med:12.4f} [{q1:.4f}, {q3:.4f}] "
                    f"spread {spread:6.1%} (bound {bound:.0%}){flag}")
            if b and w in b:
                bmed, _, _, bspread = stats([r["metrics"][name]["value"] for r in b[w]])
                change = (bmed - med) / med
                worse = change > bound if lower else -change > bound
                ok &= not worse
                line += (f" | B {bmed:12.4f} spread {bspread:6.1%} change {change:+7.1%} "
                         f"{'worse' if worse else 'ok'}")
            print(line + f" {m['unit']}")
    return ok


def record(out, workloads, seeds, seconds):
    lo, _, hi = seeds.partition("-")
    for w in workloads.split(","):
        for s in range(int(lo), int(hi or lo) + 1):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            # exit code 1 still prints a result: one with failed checks,
            # recorded so the summary flags it
            if p.returncode not in (0, 1):
                print(p.stderr, file=sys.stderr)
                sys.exit(f"{w} seed {s}: run.py exited with {p.returncode}")
            line = p.stdout.strip().splitlines()[-1]
            with open(out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "result": json.loads(line)}) + "\n")
            print(f"{w} seed {s}: {line}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if len(sys.argv) > 1 and sys.argv[1] == "record":
        ap = argparse.ArgumentParser()
        ap.add_argument("out")
        ap.add_argument("--workloads", default=",".join(x["name"] for x in bench["workloads"]))
        ap.add_argument("--seeds", default="1-10")
        ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
        a = ap.parse_args(sys.argv[2:])
        return record(a.out, a.workloads, a.seeds, a.seconds)
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    a = load(sys.argv[1])
    b = load(sys.argv[2]) if len(sys.argv) == 3 else None
    sys.exit(0 if summary(bench, a, b) else 1)


if __name__ == "__main__":
    main()
