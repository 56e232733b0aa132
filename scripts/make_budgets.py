#!/usr/bin/env python3
"""Regenerate bench_budgets.json from the committed bench_full.json.

Per-query budget = max(2.5 * t, t + 0.75) seconds, plus a total-level
budget of 1.5 * baseline total. The baseline is per-query MINIMA over
the round's full runs (scripts/merge_baseline.py) — i.e. the quiet-box
cost — so the margins are sized against the CONTENTED-run noise
observed on this shared box: uniform 1.1-1.3x drift plus occasional
+0.7 s single-query spikes on sub-second queries (largest observed:
0.24 s -> 0.92 s). A real plan regression (lost broadcast, cartesian,
codegen-cache eviction) shows 2-10x on the affected query and still
trips the gate. Calibration: Bench records the MEDIAN
of 3 passes per query (round 8 on), which discards the single-pass
contention spikes that shared-box noise produces; medians on this box
wobble well under 2x per query and ~1.2x on totals on identical code,
while real plan regressions (a lost broadcast, a cartesian product, a
silent codegen-cache eviction) show up as 2-10x on the affected query.
The gate is sized to catch the latter and never flake on the former.

Budgets are derived from the baseline's query set, so a retired query
drops out of the budgets (and the total) automatically as long as the
baseline itself is fresh; if the previous budgets file carries entries
the new baseline no longer has, they are reported as dropped so a
stale-baseline regeneration is loud instead of silent.

Run this whenever the bench_full.json baseline is deliberately
refreshed (from a WARM, full, multi-pass run) and folded by
scripts/merge_baseline.py: an input without its `merged_from_runs` mark
is refused; Bench (full multi-pass
runs only) exits nonzero when a query or the total breaches, when a
registered query has no budget entry, or when a query throws.

Usage: python3 scripts/make_budgets.py [bench_full.json] [bench_budgets.json]
"""
import json
import os
import sys

src = sys.argv[1] if len(sys.argv) > 1 else "bench_full.json"
dst = sys.argv[2] if len(sys.argv) > 2 else "bench_budgets.json"

with open(src) as f:
    full = json.load(f)

# Budgets are sized against a per-query MINIMA fold. A single run (the
# bench rewrites bench_full.json with one median run) would loosen every
# budget without a word, so only a fold carrying merge_baseline.py's
# mark is accepted.
if "merged_from_runs" not in full:
    sys.exit(f"refusing to budget {src}: it has no merged_from_runs mark, so it is "
             "one bench run, not a per-query minima fold. Fold the round's runs "
             "with scripts/merge_baseline.py first and budget its output.")

if full.get("failures"):
    sys.exit(f"refusing to budget a baseline with failed queries: {sorted(full['failures'])}")

qmax = full.get("queries_max", {})
budgets = {
    # 1.3x the observed max: identical-code runs have measured +15%
    # between their own maxima (q_dedup_semantic 1.53 -> 1.76, round
    # 10), so a 1.15x floor breaches on pure drift; a real regression
    # is 2-10x and still trips 1.3x easily
    name: round(max(2.5 * t, t + 0.75, 1.3 * qmax.get(name, 0.0)), 3)
    for name, t in sorted(full["queries"].items())
}

dropped = []
if os.path.exists(dst):
    with open(dst) as f:
        prev = json.load(f).get("budgets", {})
    dropped = sorted(set(prev) - set(budgets))

# The total budget gets the same observed-max floor as the per-query
# budgets: identical code has measured up to sum(queries_max) under
# neighbor contention (r9: 160.8s vs 104.2s quiet minima), so a total
# gate below 1.15x that level flakes on contention the per-query gates
# were already sized to absorb. A real regression still trips it: a
# uniform 1.5x-on-quiet slowdown or any multi-second single-query
# regression clears the floor.
total_max = sum(qmax.get(n, t) for n, t in full["queries"].items())

# Metered stream queries (harness drive loops record per-pass micro-batch
# DATA seconds under "stream_data") gate on DATA time instead of wall:
# the MemoryStream/checkpoint machinery floor is noisy and amortizes on a
# real long-running stream, so a wall budget there either flakes or hides
# a plan regression under the floor. Budget statistic: fastest observed
# data pass, same margin formula as wall budgets. The query keeps NO wall
# entry (Bench skips the wall gate when a data budget exists).
stream_data = full.get("stream_data", {})
prev_data = {}
if os.path.exists(dst):
    with open(dst) as f:
        prev_data = json.load(f).get("data_budgets_observed", {})
data_budgets = {}
data_observed = {}
for name, passes in sorted(stream_data.items()):
    if not passes:
        continue
    t = min(passes)
    # fold with the previously observed minimum (the min-ratchet the wall
    # baseline uses via merge_baseline.py)
    t = min(t, prev_data.get(name, t))
    data_observed[name] = round(t, 3)
    data_budgets[name] = round(max(2.5 * t, t + 0.75), 3)
    budgets.pop(name, None)

out = {
    "source_sf": full.get("sf"),
    "total_budget": round(max(1.5 * full["value"], 1.15 * total_max), 1),
    "budgets": budgets,
    "data_budgets": data_budgets,
    "data_budgets_observed": data_observed,
}
with open(dst, "w") as f:
    json.dump(out, f, indent=1)
    f.write("\n")
print(f"wrote {dst}: {len(budgets)} wall budgets, {len(data_budgets)} data budgets, "
      f"total_budget={out['total_budget']}s from {src} (sf={full.get('sf')})")
dropped = [d for d in dropped if d not in data_budgets]  # moved, not dropped
if dropped:
    print(f"dropped stale budget entries (not in the new baseline): {','.join(dropped)}")
