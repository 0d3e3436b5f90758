#!/usr/bin/env python3
"""Per-layer diff of two traced runs, workload by workload.

    python3 perfbench/diff_traces.py BEFORE AFTER

BEFORE and AFTER are trace files written by `run.py --trace 1` (under
perfbench/target/traces) or directories of them. Files of the same workload
are averaged, then every layer figure is printed side by side with the
after/before ratio. Figures that differ by more than MARK (5%) are marked
with '*'.
"""
import argparse
import glob
import json
import os
import sys
from collections import defaultdict

MARK = 0.05


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    if not files:
        sys.exit(f"no trace files under {path}")
    by_workload = defaultdict(list)
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        by_workload[rec["setup"]["workload"]].append(rec)
    out = {}
    for w, recs in by_workload.items():
        keys = sorted({k for r in recs for k in r["summary"]})
        out[w] = {
            "runs": len(recs),
            "setup": recs[-1]["setup"],
            "summary": {k: sum(r["summary"].get(k) or 0.0 for r in recs) / len(recs)
                        for k in keys},
        }
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    for w in sorted(set(before) | set(after)):
        if w not in before or w not in after:
            print(f"== {w}: only in {'after' if w in after else 'before'}\n")
            continue
        b, c = before[w], after[w]
        print(f"== {w}  (before: {b['runs']} run(s), {b['setup'].get('source')}; "
              f"after: {c['runs']} run(s), {c['setup'].get('source')}; "
              f"nproc {b['setup'].get('nproc')} / {c['setup'].get('nproc')})")
        print(f"  {'layer figure (per op)':36s} {'before':>14s} {'after':>14s} {'after/before':>12s}")
        for k in sorted(set(b["summary"]) | set(c["summary"])):
            x, y = b["summary"].get(k), c["summary"].get(k)
            if x is None or y is None:
                print(f"  {k:36s} {x if x is not None else '-':>14} {y if y is not None else '-':>14}")
                continue
            ratio = y / x if x else (1.0 if y == x else float("inf"))
            mark = "*" if abs(ratio - 1.0) > MARK else " "
            print(f"{mark} {k:36s} {x:14.6g} {y:14.6g} {ratio:12.3f}")
        print()


if __name__ == "__main__":
    main()
