#!/usr/bin/env python3
"""Plan-regression gate (r13, VERDICT r12 item 7): compare per-query
plan FINGERPRINTS between the committed PLANS.md and a freshly
generated one, and fail on un-annotated growth.

A fingerprint is the scale-relevant shape of a plan, not its text
(expression ids churn every run):
  - shuffles:   count of ShuffleExchange nodes ("Exchange hash/range/...")
  - broadcasts: count of BroadcastExchange nodes
  - sorts:      count of Sort nodes (excluding TakeOrdered)
  - expands:    count of Expand nodes (a multi-countDistinct rewrite replicates the scan)
  - windows:    count of Window exec nodes
  - pushdown:   whether any scan carries a non-empty PushedFilters
  - readschema: whether any FileScan prunes columns (ReadSchema present)
  - join STRATEGY (r15, VERDICT r14 item 8): per-query counts of
    BroadcastHashJoin / SortMergeJoin / ShuffledHashJoin /
    BroadcastNestedLoopJoin / CartesianProduct nodes. A BHJ->SMJ flip
    on one query can hide inside stable shuffle/broadcast TOTALS (one
    more shuffle and one less broadcast can cancel across edits), so
    the strategy counts are gated directly: any growth in
    smj/shj/bnlj/cart fails, and a paired bhj-down/smj-up flip gets a
    named diagnostic.

Failure policy:
  - a query whose shuffles/sorts/expands/windows GREW vs the committed
    file fails the gate (plan regressed without PLANS.md being
    regenerated + reviewed);
  - pushdown present -> absent fails (a filter stopped reaching a scan);
  - key-set drift (query added/removed without regenerating) fails;
  - SHRINK only warns: an improvement, but the committed file is stale
    — regenerate it.

Usage: check_plans.py COMMITTED.md FRESH.md
"""
import re
import sys


def parse(path):
    """{query: fingerprint dict} from a PLANS.md file."""
    text = open(path, encoding="utf-8").read()
    out = {}
    # sections: "## name\n\n```\n<plan>\n```"
    for m in re.finditer(r"^## (\S+)\n+```\n(.*?)\n```", text, re.M | re.S):
        name, plan = m.group(1), m.group(2)
        out[name] = fingerprint(plan)
    return out


def window_groups(s):
    """Top-level [-delimited groups in a Window node's tail.

    A Window node prints `Window [exprs], [partitionSpec], [orderSpec]`,
    omitting EMPTY trailing specs. So 3 groups = partitioned; 1 group =
    global (neither spec); 2 groups is ambiguous — (exprs, partition)
    when the order spec is empty, (exprs, order) when the PARTITION spec
    is empty — disambiguated by the ASC/DESC sort-direction markers that
    only an order spec carries.
    """
    depth, groups, cur = 0, [], []
    for ch in s:
        if ch == "[":
            if depth == 0:
                cur = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
            depth = max(0, depth)
            continue
        if depth >= 1:
            cur.append(ch)
    return groups


def is_unpartitioned_window(tail):
    g = window_groups(tail)
    if len(g) >= 3:
        return False
    if len(g) <= 1:
        return True
    return " ASC" in g[1] or " DESC" in g[1]


def fingerprint(plan):
    lines = plan.splitlines()
    def count(pred):
        return sum(1 for ln in lines if pred(ln.strip()))
    def node(ln):
        # strip tree-drawing prefix and any `*(N) ` codegen annotation
        # to the operator name (format-drift tolerance: simple AND
        # codegen-annotated explain outputs both fingerprint)
        return re.sub(r"^\*\(\d+\) ", "", re.sub(r"^[:+\-| ]*", "", ln))
    def is_window(l):
        n = node(l)
        return n.startswith("Window ") or n.startswith("RunningWindowFunction")
    return {
        "shuffles": count(lambda l: node(l).startswith("Exchange ")),
        "broadcasts": count(lambda l: node(l).startswith("BroadcastExchange")),
        "sorts": count(lambda l: node(l).startswith("Sort ")),
        "expands": count(lambda l: node(l).startswith("Expand")),
        "windows": count(is_window),
        "global_windows": count(
            lambda l: is_window(l)
            and is_unpartitioned_window(node(l)[len("Window "):])),
        "bhj": count(lambda l: node(l).startswith("BroadcastHashJoin")),
        "smj": count(lambda l: node(l).startswith("SortMergeJoin")),
        "shj": count(lambda l: node(l).startswith("ShuffledHashJoin")),
        "bnlj": count(lambda l: node(l).startswith("BroadcastNestedLoopJoin")),
        "cart": count(lambda l: node(l).startswith("CartesianProduct")),
        "pushdown": re.search(r"PushedFilters: \[[^\]]", plan) is not None,
        "readschema": "ReadSchema:" in plan,
        "truncated": "[PLAN TRUNCATED]" in plan,
    }


GROW_FAIL = ["shuffles", "sorts", "expands", "windows", "global_windows",
             "smj", "shj", "bnlj", "cart"]

# Queries allowed to carry an UNPARTITIONED window: mirrors (and is
# spec-held 1:1 against) PlanSpec.boundedGlobalWindows — every entry
# there justifies why the window's input is provably bounded
# (sketch-/bucket-/domain-sized, never table-sized). A new global
# window anywhere else fails the gate even if PLANS.md was regenerated.
GLOBAL_WINDOW_ALLOWLIST = {
    "ann_cell_balance", "dedup_component_stats", "dlp_quantile_bucketing",
    "embed_pair_hist", "ingest_gap_audit", "layout_compaction_plan",
    "pipeline_mix_weights", "q_funnel_conversion", "q_skyline",
    "text_vocab", "text_zipf_fit", "q_rfm_segments", "dlp_top_coding",
    "q_forecast_backtest", "q_abc_class",
    "q_customer_lifespan", "q_weekly_volatility", "layout_cluster_depth",
    "q_discount_elasticity", "q_runs_test", "q_order_linecount_dist",
    "dedup_pair_sim_histogram", "q_chi_square", "stream_concurrency_curve",
    "q_ks_binned", "text_heaps_curve", "stream_shadow_diff",
    "ann_incremental_assign",
}


def main():
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    committed, fresh = parse(sys.argv[1]), parse(sys.argv[2])
    fails, warns = [], []
    if set(committed) != set(fresh):
        added = sorted(set(fresh) - set(committed))
        removed = sorted(set(committed) - set(fresh))
        fails.append(f"key drift vs committed PLANS.md: added={added} "
                     f"removed={removed} — regenerate PLANS.md")
    for q in sorted(set(committed) & set(fresh)):
        old, new = committed[q], fresh[q]
        for k in GROW_FAIL:
            if new[k] > old[k]:
                fails.append(f"{q}: {k} grew {old[k]} -> {new[k]}")
            elif new[k] < old[k]:
                warns.append(f"{q}: {k} shrank {old[k]} -> {new[k]} "
                             f"(improvement — regenerate PLANS.md)")
        if old["pushdown"] and not new["pushdown"]:
            fails.append(f"{q}: PushedFilters disappeared from every scan")
        # the named flip: a broadcast join silently degraded to a
        # shuffle-backed strategy (the case totals can hide)
        if new.get("bhj", 0) < old.get("bhj", 0) and \
                new.get("smj", 0) + new.get("shj", 0) > \
                old.get("smj", 0) + old.get("shj", 0):
            fails.append(
                f"{q}: broadcast join degraded (bhj {old['bhj']} -> "
                f"{new['bhj']}, smj+shj {old['smj'] + old['shj']} -> "
                f"{new['smj'] + new['shj']}) — a small side stopped "
                f"broadcasting; annotate or fix before regenerating")
        if new["global_windows"] > 0 and q not in GLOBAL_WINDOW_ALLOWLIST:
            fails.append(
                f"{q}: {new['global_windows']} UNPARTITIONED window(s) and "
                f"not in GLOBAL_WINDOW_ALLOWLIST — justify the bound in "
                f"PlanSpec.boundedGlobalWindows and add it here")
    # a truncated plan dump is a blind spot for every count above —
    # Plans.scala caps at 400k chars (line-safe) and stamps the cut;
    # any stamped section must be investigated, not silently skipped
    truncated = [q for q, f in fresh.items() if f.get("truncated")]
    if truncated:
        fails.append(f"{len(truncated)} plan section(s) truncated at the "
                     f"Plans.scala cap — raise it; first: {truncated[:5]}")
    # format-drift detector: if the fresh file fingerprints to ZERO nodes
    # overall, the explain format changed (or Plans broke) and every
    # comparison above was vacuous — fail loudly instead of passing.
    total_nodes = sum(v[k] for v in fresh.values()
                      for k in ("shuffles", "broadcasts", "sorts", "windows"))
    if fresh and total_nodes == 0:
        fails.append("fresh PLANS fingerprints contain ZERO plan nodes — "
                     "explain format drifted or Plans produced no output")
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
