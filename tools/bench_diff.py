#!/usr/bin/env python3
"""Compare two bench detail artifacts (BENCH_DETAIL.json format, or a
driver BENCH_r{N}.json whose 'tail' holds the truncated detail — only
fully-parsed files are used). Prints per-query min-wall deltas
('queries') sorted by regression, plus totals; when both files carry
'queries_cpu', the same for min process-CPU seconds, the certifying
number on a host with CPU steal.
Usage: python3 tools/bench_diff.py <old.json> <new.json> [top_n]
"""
import sys, json


def load(path):
    d = json.load(open(path))
    if "queries" in d:
        return d
    if d.get("parsed") and "queries" in d["parsed"]:
        return d["parsed"]
    raise SystemExit(f"{path}: no queries map found")


def diff(title, old, new, top):
    common = sorted(set(old) & set(new))
    rows = [(new[q] - old[q], old[q], new[q], q) for q in common
            if old[q] >= 0 and new[q] >= 0]
    rows.sort(reverse=True)
    print(f"== {title}")
    print(f"total old={sum(r[1] for r in rows):.1f}s new={sum(r[2] for r in rows):.1f}s")
    print(f"\nworst {top} regressions (delta, old, new):")
    for d, o, n, q in rows[:top]:
        print(f"  {d:+7.2f}  {o:7.2f} -> {n:7.2f}  {q}")
    print(f"\nbest {top} improvements:")
    for d, o, n, q in rows[-top:][::-1]:
        print(f"  {d:+7.2f}  {o:7.2f} -> {n:7.2f}  {q}")


old, new = load(sys.argv[1]), load(sys.argv[2])
top = int(sys.argv[3]) if len(sys.argv) > 3 else 15
oq, nq = old["queries"], new["queries"]
print(f"common={len(set(oq) & set(nq))} only_old={sorted(set(oq)-set(nq))} "
      f"only_new={sorted(set(nq)-set(oq))}")
diff("min wall s (queries)", oq, nq, top)
if "queries_cpu" in old and "queries_cpu" in new:
    print()
    diff("min CPU s (queries_cpu)", old["queries_cpu"], new["queries_cpu"], top)
