#!/usr/bin/env python3
"""Steadiness check: run each workload in two separate sets of runs and
compare them.

    python3 perfbench/steady.py --runs 10 [--workloads insight_mix,curation] [--out FILE]

Set A uses seeds 1..N and set B seeds 1001..1000+N. For every end-to-end
metric and set it reports the median, the quartiles and the spread, the
distance between the quartiles (`statistics.quantiles(n=4)`) as a share of
the median. It flags a metric

  - whose spread in either set exceeds its bound, or
  - whose set-B median is worse than set A's by more than its bound,

and marks a spread above a third of the bound as marginal. Exit code 1
when anything is flagged. Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.monotonic() - t0
    return res


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default: all of BENCHMARK.json")
    ap.add_argument("--out", help="write the report as JSON here too")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seeds = {"A": range(1, args.runs + 1), "B": range(1001, 1001 + args.runs)}
    report, flagged = {"run_seconds": bench["run_seconds"], "workloads": {}}, []
    for w in names:
        sets = {}
        for s in seeds:
            runs = [run_once(w, seed, bench["run_seconds"]) for seed in seeds[s]]
            bad = [r for r in runs if not r["correct"]]
            if bad:
                flagged.append(f"{w} set {s}: {len(bad)} runs not correct")
            sets[s] = {
                "seeds": list(seeds[s]),
                "wall_s": summary([r["wall_s"] for r in runs]),
                "metrics": {m["name"]: summary([r["metrics"][m["name"]]["value"] for r in runs])
                            for m in bench["end_to_end"]},
            }
        report["workloads"][w] = sets
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            for s, st in sets.items():
                sp = st["metrics"][name]["spread"]
                tag = "ok"
                if sp > bound:
                    tag = "FLAG"
                    flagged.append(f"{w} {name} set {s}: spread {sp:.3f} > bound {bound}")
                elif sp > bound / 3:
                    tag = "marginal"
                print(f"{w:16s} {name:12s} set {s}: median {st['metrics'][name]['median']:.5g} "
                      f"q1 {st['metrics'][name]['q1']:.5g} q3 {st['metrics'][name]['q3']:.5g} "
                      f"spread {sp:.3f} (bound {bound}) {tag}")
            a, b = sets["A"]["metrics"][name]["median"], sets["B"]["metrics"][name]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            tag = "ok" if worse <= bound else "FLAG"
            if tag == "FLAG":
                flagged.append(f"{w} {name}: set B median worse by {worse:.3f} > {bound}")
            print(f"{w:16s} {name:12s} B vs A: {worse:+.3f} worse (bound {bound}) {tag}")
        for s, st in sets.items():
            print(f"{w:16s} run wall set {s}: median {st['wall_s']['median']:.1f}s")
    report["flagged"] = flagged
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print("flagged:" if flagged else "nothing flagged", *flagged, sep="\n  ")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
