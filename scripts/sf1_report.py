#!/usr/bin/env python3
"""Assemble BENCH_sf1_subset.json — the 10x scale probe artifact.

Inputs: bench_dev.json (the 1-pass sf1 subset run), bench_full.json
(the committed sf0.1 quiet-minima baseline), and the sf1 oracle sweep
results piped from scripts/check.py (pass/fail lines on stdin or a
file). Emits per-query sf1 wall, sf0.1 minimum, the ratio, and a
verdict: a query is flagged when sf1 wall > RATIO_BAR x its sf0.1
minimum (10x data; the bar leaves headroom for the single cold pass
vs warm minima).

Usage: python3 scripts/sf1_report.py <check_output.txt> [out.json]
"""
import json
import re
import sys

RATIO_BAR = 12.0

check_file = sys.argv[1]
out = sys.argv[2] if len(sys.argv) > 2 else "BENCH_sf1_subset.json"

dev = json.load(open("bench_dev.json"))
base = json.load(open("bench_full.json"))

oracle = {}
for line in open(check_file):
    m = re.match(r"(PASS|FAIL) (q_\w+)", line.strip())
    if m:
        oracle[m.group(2)] = m.group(1) == "PASS"

queries = {}
flagged = []
for q, t in sorted(dev["queries"].items()):
    b = base["queries"].get(q)
    ratio = round(t / b, 2) if b else None
    queries[q] = {
        "sf1_sec": round(t, 3),
        "sf01_min_sec": b,
        "ratio": ratio,
        "oracle": oracle.get(q),
    }
    if ratio is not None and ratio > RATIO_BAR:
        flagged.append(q)

# Diagnosis of the round-12 flags (kept with the artifact so the
# numbers stay interpretable): both breaches are RESULT-quadratic, not
# plan regressions — the corpus's simhash-near-dup pair density is
# intrinsically ~n^2/150 (1,681 pairs at 500 docs -> 19.6M at 50k,
# both oracle-exact), so any pair-LIST enumeration grows ~100x per 10x
# of docs. q_dedup_lsh_audit pays the same candidate growth inside its
# 1-row audit aggregate. The 100 TB shape for reporting near-dups at
# this density is the CLUSTER form (q_dedup_clusters / keep_best:
# linear rows), with pair lists reserved for sampled audits.
FINDINGS = {
    "q_dedup_simhash_pairs": "result-quadratic: pair-list output grows "
        "~n^2/150 on this corpus (19.6M rows at sf1); use the cluster "
        "form (q_dedup_clusters) at scale, pair lists for sampled audits",
    "q_dedup_lsh_audit": "same candidate-pair density growth inside the "
        "audit aggregate; output stays 1 row, cost tracks candidates",
    # r14 full-registry additions, all the same two classes:
    "q_dedup_containment": "inverted-shingle intersection cost is "
        "sum(df(shingle)^2); the synthetic 30-token vocab makes shingle "
        "doc-frequency grow ~linearly with corpus, so the self-join is "
        "corpus-quadratic. Production corpora have power-law shingle df; "
        "the standard mitigation (hot-shingle df cap) changes semantics, "
        "so the exact form stays the audit and LSH blocking is the scale path",
    "q_dedup_ngram": "same inverted-shingle df^2 growth as "
        "q_dedup_containment (shared index shape)",
    "q_dedup_cosine": "LABELED brute baseline (onePass tier): exact "
        "all-pairs cosine audit for its LSH-blocked twin — "
        "work-quadratic by definition; the twin is the scale path",
    "q_sim_binary": "labeled brute baseline: exact Hamming scan over "
        "all vectors auditing the 1-bit quantization ladder — "
        "work-quadratic by definition",
    # r14 second-window additions — the sf0.1 minima tightened ~2.5x
    # after the codegen-cache fixes, so the ratio bar now catches the
    # two remaining members of the same two classes:
    "q_dedup_minhash_pairs": "result-quadratic pair-LIST enumeration "
        "over LSH band candidates (the q_dedup_simhash_pairs class): "
        "planted near-dup density makes verified pairs grow "
        "~quadratically with corpus; the cluster form "
        "(q_dedup_clusters) is the scale path, pair lists are sampled "
        "audits",
    "q_sim_matryoshka": "the COARSE stage is a full prefix-dot scan "
        "per query (N^2/47 16-dim dots via broadcast join — no index), "
        "pinning MRL rerank semantics against an exact coarse ranking; "
        "at scale the coarse stage runs through the indexed paths "
        "(q_sim_ivf_search / q_sim_project_search) and only the "
        "rerank's candidate set survives",
}

# Driver-heap contract (VERDICT r13 item 7): the budgeted-collect sites
# record the bytes they ACTUALLY retained (graft.HeapWatermark, emitted
# by Bench as heap_watermarks). Assert each site under the documented
# 512 MiB HeapWatermark.Budget at 10x data — measured, not estimated.
HEAP_BUDGET = 512 * 1024 * 1024
watermarks = dev.get("heap_watermarks", {})
heap_breaches = sorted(
    s for s, b in watermarks.items() if b > HEAP_BUDGET)
jvm_peaks = [p.get("jvm_heap_peak_mb") for p in dev.get("env", {}).get("passes", [])
             if isinstance(p, dict) and p.get("jvm_heap_peak_mb") is not None]

# SAMPLED-TIER DEMOTION (VERDICT r14 #7): the 8 diagnosed members of
# the two known classes (result-quadratic pair enumeration, labeled
# brute baselines) are excluded from the sf1 run via SPARK_GRAFT_SKIP —
# their sampled scale IS sf0.1, where they stay fully oracle- and
# budget-gated every round; the probe validates their scale-path twins
# (clusters / lsh_gate / ivf / project_search), which run in full.
# Each carries its FINDINGS diagnosis in the artifact either way.
DEMOTED_SAMPLED = [
    "q_dedup_simhash_pairs", "q_dedup_lsh_audit", "q_dedup_containment",
    "q_dedup_ngram", "q_dedup_cosine", "q_sim_binary",
    "q_dedup_minhash_pairs", "q_sim_matryoshka"]

doc = {
    "metric": "sf1_scale_probe",
    "findings": {q: FINDINGS.get(q, "unexplained - investigate") for q in flagged},
    "demoted_sampled": {q: FINDINGS[q] for q in DEMOTED_SAMPLED
                        if q not in dev["queries"]},
    "heap_watermarks_bytes": watermarks,
    "heap_budget_bytes": HEAP_BUDGET,
    "heap_breaches": heap_breaches,
    "jvm_heap_peak_mb": max(jvm_peaks) if jvm_peaks else None,
    "sf": dev.get("sf"),
    "scale_vs_baseline": 10,
    "ratio_bar": RATIO_BAR,
    "total_sf1_sec": round(dev["value"], 1),
    "total_sf01_min_sec": round(
        sum(base["queries"][q] for q in dev["queries"] if q in base["queries"]), 1),
    "n_queries": len(queries),
    "n_oracle_pass": sum(1 for v in queries.values() if v["oracle"]),
    "n_oracle_fail": sum(1 for v in queries.values() if v["oracle"] is False),
    "flagged_superlinear": flagged,
    "env": dev.get("env"),
    "queries": queries,
}
with open(out, "w") as f:
    json.dump(doc, f, indent=1)
    f.write("\n")
print(f"wrote {out}: {len(queries)} queries, total {doc['total_sf1_sec']}s "
      f"({doc['total_sf1_sec']/max(doc['total_sf01_min_sec'],0.001):.1f}x the sf0.1 minima sum), "
      f"oracle {doc['n_oracle_pass']} pass / {doc['n_oracle_fail']} fail, "
      f"flagged: {flagged or 'none'}")
if watermarks:
    mx = max(watermarks.values())
    print(f"driver collect high-water: {mx >> 20} MiB across {len(watermarks)} sites "
          f"(budget {HEAP_BUDGET >> 20} MiB); jvm heap peak "
          f"{doc['jvm_heap_peak_mb']} MB")
if heap_breaches:
    sys.exit(f"HEAP BUDGET BREACH at 10x data: {heap_breaches} — the bounded-driver "
             "contract failed measured; move the site to the distributed path")
