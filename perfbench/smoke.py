#!/usr/bin/env python3
"""Smoke test of the benchmark: runs every workload at sf0.001 for one
short run, untraced and traced, and checks that each run's last line is
a result whose outputs are correct and which carries every metric that
BENCHMARK.json names, with its unit. It also checks that the failed
operations the runner reports on standard error are exactly the two
known defects, with their error classes.

    python3 perfbench/smoke.py          # from the root of a checkout
"""
import json
import re
import subprocess
import sys

# (workload) -> {(kind, table): error class fragment}
KNOWN_FAILURES = {
    "import_deid": {("jdbc_import", "lineitem"): "SQLSTATE 42818",
                    ("deid_import", "orders"): "CAST_INVALID_INPUT"},
    "commit_curate": {},
}
FAILED = re.compile(r"^\[perfbench\] failed \d+x: (\S+) (\S+): (.*)$")


def main():
    bench = json.load(open("BENCHMARK.json"))
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                      "--trace", str(trace), "--scale", "sf0.001"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{w} trace={trace}: exit {p.returncode}, no result")
                continue
            r = json.loads(lines[-1])
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(r)}")
            if r.get("correct") is not True or r.get("attempted", 0) < 1:
                problems.append(f"{w} trace={trace}: correct={r.get('correct')} attempted={r.get('attempted')}")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != wanted[trace]:
                missing = sorted(set(wanted[trace]) - set(got))
                extra = sorted(set(got) - set(wanted[trace]))
                units = sorted(k for k in set(got) & set(wanted[trace]) if got[k] != wanted[trace][k])
                problems.append(f"{w} trace={trace}: missing {missing}, extra {extra}, other unit {units}")
            failures = {(m[1], m[2]): m[3] for m in map(FAILED.match, p.stderr.splitlines()) if m}
            known = KNOWN_FAILURES[w]
            if set(failures) != set(known) or any(known[k] not in failures[k] for k in known):
                problems.append(f"{w} trace={trace}: failed operations {failures}, expected {known}")
            print(f"{w} trace={trace}: {r['attempted']} operations, {r['failed']} failed {sorted(failures.items())}")
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAIL" if problems else "ok")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
