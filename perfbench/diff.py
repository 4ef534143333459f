#!/usr/bin/env python3
"""Compare the counters of two traced benchmark results.

    python3 perfbench/diff.py OLD.json NEW.json

OLD and NEW are result files written by `run.py --trace 1` (under
.bench_build/results/), for the same workload. Every counter that
differs is listed, whatever the wall times did: the per-layer metrics of
BENCHMARK.json, then the engine counters summed per layer call (span
layer and name). A counter is flagged with "!" when the result file
lists it as repeating exactly across runs of one commit
(`summary.exact_counters`, `summary.exact_call_counters`, written by
metrics.py); the others (times, bytes, spill, task counts) drift from
run to run and are listed as context only; per-call times are left out.

Exit status: 0 when no exact counter moved, 1 when one did, 2 on bad
input.
"""
import collections
import json
import sys


def load(path):
    with open(path) as f:
        r = json.load(f)
    if "summary" not in r or "layers" not in r["summary"]:
        print(f"{path}: not a traced result (run.py --trace 1)",
              file=sys.stderr)
        sys.exit(2)
    return r


def per_call(r):
    """Engine counters other than times, summed per (layer, name) of the
    workload's own spans and of the isolated layer calls."""
    out = collections.defaultdict(collections.Counter)
    for s in r.get("spans", []):
        key = f"{s['layer']}.{s['name']}" + (
            " (isolated)" if s["request"] == -1 else "")
        out[key]["calls"] += 1
        out[key]["result_rows"] += s["result_rows"]
        for k, v in s["counters"].items():
            if not isinstance(v, float):
                out[key][k] += v
    return out


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    if a["workload"] != b["workload"]:
        print(f"workloads differ: {a['workload']} vs {b['workload']}",
              file=sys.stderr)
        sys.exit(2)
    exact = set(a["summary"]["exact_counters"])
    exact_call = set(a["summary"]["exact_call_counters"])
    moved = 0
    print(f"workload {a['workload']}: seeds {a['seed']} -> {b['seed']}, "
          f"cores {a['cores']} -> {b['cores']}")
    print("\nper-layer metrics that differ (! = exact counter moved)")
    la, lb = a["summary"]["layers"], b["summary"]["layers"]
    for k in la:
        va, vb = la[k]["value"], lb.get(k, {}).get("value")
        if va != vb:
            mark = "!" if k in exact else " "
            moved += mark == "!"
            print(f" {mark} {k:<42} {fmt(va):>14} -> {fmt(vb):>14} "
                  f"{la[k]['unit']}")
    print("\nengine counters per layer call that differ "
          "(! = exact counter moved)")
    ca, cb = per_call(a), per_call(b)
    for key in sorted(set(ca) | set(cb)):
        for k in sorted(set(ca[key]) | set(cb[key])):
            if ca[key][k] != cb[key][k]:
                mark = "!" if k in exact_call or k == "calls" else " "
                moved += mark == "!"
                print(f" {mark} {key:<52} {k:<20} {ca[key][k]} -> "
                      f"{cb[key][k]}")
    print(f"\n{moved} exact counter(s) moved")
    sys.exit(1 if moved else 0)


if __name__ == "__main__":
    main()
