#!/usr/bin/env python3
"""Plan-regression gate: compare per-query plan FINGERPRINTS between the
committed PLANS.tsv and a freshly generated one, and fail on
un-annotated growth.

graft.Plans writes one row per query: node-class counts of its executed
plan (Plans.fingerprint). Fields:
  - shuffles / broadcasts / sorts / expands / windows: node counts
  - global_windows: windows with an empty partition spec
  - bhj / smj / shj / bnlj / cart: join-strategy node counts. A BHJ->SMJ
    flip on one query can hide inside stable shuffle/broadcast totals,
    so the strategies are gated directly and a paired bhj-down/smj-up
    flip gets a named diagnostic.
  - pushdown:   1 if any scan carries a non-empty PushedFilters
  - readschema: 1 if any scan carries a ReadSchema

Failure policy:
  - growth of any GROW_FAIL field fails (plan regressed without
    PLANS.tsv being regenerated + reviewed);
  - pushdown 1 -> 0 fails (a filter stopped reaching a scan);
  - key-set drift (query added/removed without regenerating) fails;
  - a fresh file with zero plan nodes fails (the gate would be vacuous);
  - SHRINK only warns: an improvement, but the committed file is stale
    — regenerate it.
Which queries may carry an unpartitioned window is held by
PlanSpec.boundedGlobalWindows; here global_windows is gated like any
other count.

Usage: check_plans.py COMMITTED.tsv FRESH.tsv
"""
import csv
import sys


def parse(path):
    """{query: {field: int}} from a PLANS.tsv file."""
    with open(path, encoding="utf-8", newline="") as f:
        return {row.pop("query"): {k: int(v) for k, v in row.items()}
                for row in csv.DictReader(f, delimiter="\t")}


GROW_FAIL = ["shuffles", "sorts", "expands", "windows", "global_windows",
             "smj", "shj", "bnlj", "cart"]


def main():
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    committed, fresh = parse(sys.argv[1]), parse(sys.argv[2])
    fails, warns = [], []
    if set(committed) != set(fresh):
        added = sorted(set(fresh) - set(committed))
        removed = sorted(set(committed) - set(fresh))
        fails.append(f"key drift vs committed PLANS.tsv: added={added} "
                     f"removed={removed} — regenerate PLANS.tsv")
    for q in sorted(set(committed) & set(fresh)):
        old, new = committed[q], fresh[q]
        for k in GROW_FAIL:
            if new[k] > old[k]:
                fails.append(f"{q}: {k} grew {old[k]} -> {new[k]}")
            elif new[k] < old[k]:
                warns.append(f"{q}: {k} shrank {old[k]} -> {new[k]} "
                             f"(improvement — regenerate PLANS.tsv)")
        if old["pushdown"] and not new["pushdown"]:
            fails.append(f"{q}: PushedFilters disappeared from every scan")
        # the named flip: a broadcast join silently degraded to a
        # shuffle-backed strategy (the case totals can hide)
        if new["bhj"] < old["bhj"] and \
                new["smj"] + new["shj"] > old["smj"] + old["shj"]:
            fails.append(
                f"{q}: broadcast join degraded (bhj {old['bhj']} -> "
                f"{new['bhj']}, smj+shj {old['smj'] + old['shj']} -> "
                f"{new['smj'] + new['shj']}) — a small side stopped "
                f"broadcasting; annotate or fix before regenerating")
    # if the fresh file counts ZERO nodes overall, Plans broke and every
    # comparison above was vacuous — fail loudly instead of passing.
    total_nodes = sum(v[k] for v in fresh.values()
                      for k in ("shuffles", "broadcasts", "sorts", "windows"))
    if fresh and total_nodes == 0:
        fails.append("fresh PLANS fingerprints contain ZERO plan nodes — "
                     "Plans produced no usable output")
    for w in warns:
        print(f"WARN  {w}")
    for f in fails:
        print(f"FAIL  {f}")
    n = len(set(committed) & set(fresh))
    print(f"== plan gate: {n} fingerprints compared, "
          f"{len(fails)} fail, {len(warns)} warn ==")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
