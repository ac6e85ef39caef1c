"""Pure helpers of the benchmark: statistics, trace self times, failure
counting, result digests and input fingerprints. No process control
here, so perfbench/tests can exercise every rule directly."""
import hashlib
import json
import math
import os
import statistics

import pyarrow as pa
import pyarrow.parquet as pq


# ---- statistics -----------------------------------------------------------

def tail(samples, beyond=10):
    """Highest percentile that still has at least `beyond` samples above it.

    Returns (value, percentile, sample_count), or None when there are not
    enough samples for any percentile to qualify."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n, n


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def calm(passes, max_steal, need=3):
    """The passes whose host CPU-steal share stayed under `max_steal`, or
    every pass when fewer than `need` did."""
    ok = [p for p in passes if p["steal"] < max_steal]
    return ok if len(ok) >= need else passes


# ---- trace ----------------------------------------------------------------

def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length([(a, b) for a, b in clipped if b > a])


def clip_tree(spans):
    """Copies of `spans` with every span clipped to its parent's interval
    (parents first), so a late listener timestamp cannot leak outside."""
    by_id = {s["id"]: dict(s) for s in spans}
    done = set()

    def fix(sid):
        if sid in done:
            return
        s = by_id[sid]
        p = by_id.get(s["parent"])
        if p is not None:
            fix(p["id"])
            s["start"] = min(max(s["start"], p["start"]), p["end"])
            s["end"] = max(min(s["end"], p["end"]), s["start"])
        done.add(sid)

    for sid in list(by_id):
        fix(sid)
    return list(by_id.values())


def layer_self_times(spans):
    """Exclusive wall time per layer.

    Each instant goes to the spans active then that have no active child
    (split evenly when several are). For nested spans without overlap this
    is exactly duration minus child coverage; with concurrent siblings the
    shares still add up to the root's wall time, never more."""
    spans = clip_tree(spans)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    edges = sorted({t for s in spans for t in (s["start"], s["end"])})
    out = {}
    for a, b in zip(edges, edges[1:]):
        active = {s["id"]: s for s in spans if s["start"] <= a and s["end"] >= b}
        leaves = [s for sid, s in active.items()
                  if not any(c in active for c in children.get(sid, ()))]
        for s in leaves:
            out[s["layer"]] = out.get(s["layer"], 0.0) + (b - a) / len(leaves)
    return out


# ---- failures -------------------------------------------------------------

def count_failures(passes, wrong):
    """(attempted, failed, failing names) over every query execution.

    `passes` are the harness's pass records; an execution fails when it
    raised or was cancelled. `wrong` names queries whose checked output
    differs from the oracle; each counts as one more failed attempt."""
    attempted, failed, names = 0, 0, set()
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            if q["error"]:
                failed += 1
                names.add(q["name"])
    failed += len(wrong)
    names |= set(wrong)
    return attempted, failed, sorted(names)


# ---- result digests (tools/check.py semantics) ----------------------------

def _cell(v):
    # check.py: two floats compare by value (NaN equals NaN, -0.0 equals
    # 0.0); anything else compares by its string form
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(float(v) + 0.0)
    return str(v)


def frame_digest(df):
    """Order-insensitive digest of a result frame: columns sorted by name,
    rows compared as a multiset of per-cell canonical strings."""
    cols = sorted(df.columns)
    rows = sorted(tuple(_cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return {"columns": cols, "rows": len(rows), "digest": h.hexdigest()}


# ---- input fingerprints ---------------------------------------------------

def fingerprint(data_dir, tables):
    """Row count and content hash of each table (Arrow IPC of its values,
    so it does not depend on parquet encoding details)."""
    out = {}
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        tbl = pq.read_table(path).replace_schema_metadata(None).combine_chunks()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        out[t] = {"rows": tbl.num_rows,
                  "sha256": hashlib.sha256(sink.getvalue()).hexdigest()[:16]}
    return out


class StaleData(Exception):
    pass


def verify(data_dir, expected):
    """Raise StaleData unless every table exists with the recorded row
    count and content hash."""
    bad = []
    for t, want in expected.items():
        try:
            got = fingerprint(data_dir, [t])[t]
        except (OSError, pa.ArrowException) as e:
            bad.append(f"{t}: unreadable ({e})")
            continue
        if got != want:
            bad.append(f"{t}: rows {got['rows']} sha {got['sha256']}, "
                       f"expected rows {want['rows']} sha {want['sha256']}")
    if bad:
        raise StaleData(f"{data_dir} does not match its recorded fingerprint: "
                        + "; ".join(bad))
