#!/usr/bin/env python3
"""Mover adjudication helper: compare the current BENCH_*_FULL pair
against a committed baseline revision's pair, per the round procedure
(>=2x movers above a materiality floor need a REPEAT=3 steady-state
at the final tree).

Usage: python3 tools/movers.py [baselineRev] [floorSec]
"""
import json, subprocess, sys

rev = sys.argv[1] if len(sys.argv) > 1 else "87f729f"
floor = float(sys.argv[2]) if len(sys.argv) > 2 else 1.5

def committed(path):
    out = subprocess.run(["git", "show", f"{rev}:{path}"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        return None
    return json.loads(out.stdout)

def now(path):
    return json.load(open(path))

for mode in ("shared", "isolate"):
    old = committed(f"BENCH_FULL_{mode}.json")
    if old is None:
        sys.exit(f"no BENCH_FULL_{mode}.json at {rev} — check the revision "
                 "(git show failed); nothing to diff against")
    new = now(f"BENCH_FULL_{mode}.json")
    oq, nq = old["queries"], new["queries"]
    print(f"== {mode}: old total {old.get('value')} ({len(oq)} q) -> "
          f"new total {new.get('value')} ({len(nq)} q)")
    # the totals above cover different query sets when operators were
    # added or deleted; only the shared-query sums compare like for like
    common = oq.keys() & nq.keys()
    print(f"  shared {len(common)} q: old {sum(oq[k] for k in common):.2f} -> "
          f"new {sum(nq[k] for k in common):.2f}; "
          f"only old {len(oq.keys() - common)} q, only new {len(nq.keys() - common)} q")
    movers = []
    for k, v in nq.items():
        if k in oq and v >= floor and oq[k] > 0 and v / oq[k] >= 2.0:
            movers.append((v / oq[k], k, oq[k], v))
    for r, k, a, b in sorted(movers, reverse=True):
        print(f"  MOVER {k}: {a:.2f} -> {b:.2f}  ({r:.2f}x)")
    if not movers:
        print("  no movers >=2x above the floor")
    faster = sorted(((oq[k] / v, k, oq[k], v) for k, v in nq.items()
                     if k in oq and oq[k] >= floor and v > 0
                     and oq[k] / v >= 2.0), reverse=True)
    for r, k, a, b in faster[:8]:
        print(f"  faster {k}: {a:.2f} -> {b:.2f}  ({r:.2f}x)")
