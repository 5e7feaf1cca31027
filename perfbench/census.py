#!/usr/bin/env python3
"""Stage census and stream phase tables from one traced run's JSON alone.

    python3 perfbench/census.py .bench_build/traces/<workload>-<seed>.json

Stage census: one row per top-level operation (a declared query, a
pipeline run, a store lookup or compaction) with wall time, Spark jobs,
stages, tasks, the task count of its heaviest stage (by summed task run
time), summed stage wall (stgSec) and wall minus that (floor, the
scheduling and planning time no stage covers). For queries it shows the
traced pass whose wall is the median.

Stream phases: one block per streaming query run, inside the operation
that started it, with one line per micro-batch: input rows, trigger,
addBatch, queryPlanning, latestOffset, getBatch, walCommit and
commitOffsets durations (ms), and the state operators' commit and update
times and updated/total rows.
"""
import json
import sys

import layers


def ops(trace):
    return [s for s in trace["spans"] if s["name"] in layers.OPS]


def census_row(trace, span):
    st = layers.stages_in(trace, span["start"], span["end"])
    wall = (span["end"] - span["start"]) / 1e3
    stg = sum(s["complete"] - s["submit"] for s in st) / 1e3
    heavy = max(st, key=lambda s: s.get("run_ms", 0))["tasks"] if st else 0
    return {"wall": wall, "jobs": len(layers.jobs_in(trace, span["start"], span["end"])),
            "stg": len(st), "tasks": sum(s["tasks"] for s in st), "heavy": heavy,
            "stgSec": stg, "floor": wall - stg}


def label(span):
    a = span["attrs"]
    return a.get("query") or (f"{span['name']}:{a['pipeline']}" if "pipeline" in a
                              else span["name"])


def stage_census(trace):
    groups = {}
    for s in ops(trace):
        groups.setdefault(label(s), []).append(census_row(trace, s))
    rows = []
    for name, rs in groups.items():
        rs.sort(key=lambda r: r["wall"])
        rows.append((name, rs[(len(rs) - 1) // 2], len(rs)))
    out = [f"{'operation':34s} {'wall':>7s} {'jobs':>5s} {'stg':>4s} {'tasks':>6s} "
           f"{'heavy':>5s} {'stgSec':>7s} {'floor':>7s} {'n':>3s}"]
    for name, r, n in sorted(rows, key=lambda x: (-x[1]["jobs"], x[0])):
        out.append(f"{name:34s} {r['wall']:7.3f} {r['jobs']:5d} {r['stg']:4d} {r['tasks']:6d} "
                   f"{r['heavy']:5d} {r['stgSec']:7.3f} {r['floor']:7.3f} {n:3d}")
    tot = [r for _, r, _ in rows]
    out.append(f"TOTAL wall={sum(r['wall'] for r in tot):.1f} s "
               f"jobs={sum(r['jobs'] for r in tot)} stageSec={sum(r['stgSec'] for r in tot):.1f}")
    return out


def stream_phases(trace):
    runs = layers.stream_runs(trace)
    out = []
    for span in ops(trace):
        if span["name"] not in ("query", "pipeline.run"):  # the ops that start streams
            continue
        mine = [(rid, r) for rid, r in runs.items()
                if r["start"] is not None and span["start"] - 1 <= r["start"] <= span["end"]]
        if not mine:
            continue
        wall = (span["end"] - span["start"]) / 1e3
        out.append(f"== {label(span)} wall={wall:.3f} s ({len(mine)} stream run(s))")
        for rid, r in sorted(mine, key=lambda x: x[1]["start"]):
            b = r["batches"]
            last = b[-1]["ts"] + b[-1]["duration"].get("triggerExecution", 0) if b else r["start"]
            end = r["end"] if r["end"] is not None else last
            start_gap = (b[0]["ts"] - r["start"]) if b else 0
            out.append(f"  run {r['name'] or '<unnamed>'} span={end - r['start']:.0f}ms "
                       f"startGap={start_gap:.0f}ms stopGap={max(0.0, end - last):.0f}ms "
                       f"batches={len(b)}")
            for x in b:
                d = x["duration"]
                so = x["state"]
                out.append(
                    f"    batch {x['batch']} rows={x['rows']:<6d} "
                    f"trig={d.get('triggerExecution', 0):5d} addBatch={d.get('addBatch', 0):5d} "
                    f"plan={d.get('queryPlanning', 0):4d} latestOff={d.get('latestOffset', 0):4d} "
                    f"getBatch={d.get('getBatch', 0):3d} wal={d.get('walCommit', 0):3d} "
                    f"commitOff={d.get('commitOffsets', 0):3d} "
                    f"stCommit={sum(o['commit_ms'] for o in so):4d} "
                    f"stUpd={sum(o['update_ms'] for o in so):4d} "
                    f"rowsUpd={sum(o['rows_updated'] for o in so)} "
                    f"rowsTot={sum(o['rows_total'] for o in so)}")
    return out


def main(path):
    with open(path) as f:
        trace = json.load(f)
    print(f"# stage census ({trace['workload']})")
    print("\n".join(stage_census(trace)))
    print(f"\n# stream phases ({trace['workload']})")
    print("\n".join(stream_phases(trace)))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
