"""Seeded event corpora for the ingest and serve workloads.

Events carry the fixture's `events` schema (event_id, ts timestamp[us],
user_id, event_type, value with two decimals, props JSON) so the
library's file-source ingest reads them unchanged. Accounts are
Zipf-skewed, there are five event types and thirty days, and files are
time-ordered with strictly ascending modification times, the order a
file-watch source admits them in.

The same seed and parameters always give the same rows.
"""
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
FIRST_DAY = "2024-01-01"  # the UTC day of T0_US
DAY_US = 86_400 * 1_000_000


def _events(rng, n_events, n_accounts, zipf_s, days):
    ranks = np.arange(1, n_accounts + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    # hot accounts get scattered ids, not 1..k
    ids = rng.permutation(n_accounts).astype(np.int64) + 1
    users = ids[rng.choice(n_accounts, size=n_events, p=p)]
    ts = np.sort(rng.integers(T0_US, T0_US + days * DAY_US, size=n_events))
    types = rng.integers(0, len(EVENT_TYPES), size=n_events)
    cents = rng.integers(1, 50_000, size=n_events)
    ks = rng.integers(0, 100, size=n_events)
    return ts, users, types, cents, ks


def _table(first_id, ts, users, types, cents, ks):
    n = len(ts)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users, type=pa.int64()),
        "event_type": pa.array([EVENT_TYPES[t] for t in types], type=pa.string()),
        "value": pa.array(np.round(cents / 100.0, 2), type=pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in ks], type=pa.string()),
    })


def write_files(out_dir, bounds, cols, first_mtime, prefix):
    """Write rows [bounds[i], bounds[i+1]) as one parquet file each,
    stamped with ascending mtimes one second apart."""
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        path = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(_table(lo, *(c[lo:hi] for c in cols)), path)
        os.utime(path, (first_mtime + i, first_mtime + i))
        names.append({"file": os.path.basename(path), "rows": int(hi - lo)})
    return names


def ingest_corpus(root, seed, p, now):
    """`events.parquet/` dir of `files` equal time-ordered files, plus a
    smaller `warm/events.parquet/` corpus for the untimed warm-up round."""
    files = {}
    for sub, n, k, s in [("", p["events"], p["files"], seed),
                         ("warm", p["warm_events"], p["warm_files"], seed + 1)]:
        rng = np.random.default_rng(s)
        cols = _events(rng, n, p["accounts"], p["zipf_s"], p["days"])
        bounds = np.linspace(0, n, k + 1).astype(int)
        files[sub or "timed"] = write_files(os.path.join(root, sub, "events.parquet"),
                                            bounds, cols, now - 86_400, "part")
    return {"events": p["events"], "files": files}


def serve_corpus(root, seed, p, now):
    """The first `prebuilt_events` rows of the time-ordered corpus as the
    store's initial `events.parquet/` files, the rest as small chunk
    files under `chunks/`, landed into the source dir on schedule."""
    rng = np.random.default_rng(seed)
    n = p["prebuilt_events"] + p["chunks"] * p["chunk_events"]
    cols = _events(rng, n, p["accounts"], p["zipf_s"], p["days"])
    # chunks must be a time-ordered continuation: take them from the
    # end of the sorted corpus
    pre = np.linspace(0, p["prebuilt_events"], p["prebuilt_files"] + 1).astype(int)
    chunk_bounds = p["prebuilt_events"] + p["chunk_events"] * np.arange(p["chunks"] + 1)
    pre_files = write_files(os.path.join(root, "events.parquet"), pre, cols,
                            now - 86_400, "part")
    chunk_files = write_files(os.path.join(root, "chunks"), chunk_bounds, cols,
                              now - 3_600, "chunk")
    return {"events": int(n), "first_day": FIRST_DAY, "days": p["days"],
            "prebuilt": pre_files, "chunks": chunk_files}


def generate(workload, root, seed, params):
    now = int(time.time())
    if workload == "ingest":
        meta = ingest_corpus(root, seed, params, now)
    elif workload == "serve":
        meta = serve_corpus(root, seed, params, now)
    else:
        raise ValueError(workload)
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(meta, f)
    return meta
