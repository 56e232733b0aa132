#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload stream_identity --seed 1 --seconds 4 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (`build.py`); each seed's inputs are generated once (`gen.py`)
and reused. The JVM measures; this script then checks Spark's outputs
against their DuckDB oracles outside the timers and prints

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the `end_to_end` metrics of BENCHMARK.json for `--trace 0` and the
`per_layer` metrics for `--trace 1`. A per-layer metric that the workload
does not exercise reads 0 and is named on stderr with the reason.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170
WORKLOADS = ("insight_mix", "stream_identity", "curation")
# generator knobs per workload (see gen.py --help); all at the sf0.1 shape
GEN_ARGS = {
    "insight_mix": ["--events", "100000"],
    "stream_identity": ["--events", "15000"],
    "curation": ["--docs", "2000", "--vectors", "1000"],
}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap():
    """Driver heap as the repo's test command sizes it: half of RAM, 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def inputs(workload, seed):
    """Generate the seed's inputs once; a finished dir has meta.json."""
    knobs = hashlib.sha256(" ".join(GEN_ARGS[workload]).encode()).hexdigest()[:8]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{knobs}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                        "--seed", str(seed), "--out", d] + GEN_ARGS[workload],
                       check=True, stdout=subprocess.DEVNULL)
    return d


def run_jvm(cp, args, input_dir, out_dir, budget_s):
    cmd = ["java", f"-Xmx{heap()}", "-Xss8m", f"-Djava.io.tmpdir={out_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--input", input_dir,
            "--out", out_dir, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus()), "--inject-failure", "1" if args.inject_failure else "0"]
    os.makedirs(f"{out_dir}/tmp", exist_ok=True)
    with open(f"{out_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"run: JVM exceeded {budget_s:.0f}s")
    if rc != 0:
        with open(f"{out_dir}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"run: JVM exited with code {rc}")
    with open(f"{out_dir}/jvm.log") as f:  # the harness's own timing lines
        sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))
    with open(f"{out_dir}/result.json") as f:
        return json.load(f)


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="fail each window's first op (tests the failure accounting)")
    args = ap.parse_args(argv)
    t0 = time.monotonic()

    end_to_end, per_layer = metric_spec()
    cp = build.build()
    input_dir = inputs(args.workload, args.seed)
    t_gen = time.monotonic()
    out_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    try:
        res = run_jvm(cp, args, input_dir, out_dir, DEADLINE_S - (time.monotonic() - t0))
        t_jvm = time.monotonic()
        verdicts = [(c["name"], c["ok"], c["detail"]) for c in res["jvm_checks"]]
        verdicts += checks.run(input_dir, res["oracle_checks"])
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    bad = [v for v in verdicts if not v[1]]
    for name, _, detail in bad:
        print(f"check failed: {name}: {detail}", file=sys.stderr)
    for e in res["errors"]:
        print(f"op failed: {e}", file=sys.stderr)
    attempted = res["attempted"] + len(verdicts)
    failed = res["failed"] + len(bad)

    metrics = {}
    if args.trace:
        layers = dict(res["layers"])
        layers["failed_op_ratio"] = failed / attempted
        for m in per_layer:
            if m["name"] not in layers:
                print(f"layer metric {m['name']}: absent, {args.workload} does not exercise it",
                      file=sys.stderr)
            metrics[m["name"]] = {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
    else:
        missing = [m["name"] for m in end_to_end if m["name"] not in res["e2e"]]
        if missing:
            raise SystemExit(f"run: no value for {missing}: every op failed")
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in end_to_end}
    print(f"{len(verdicts)} checks, {len(bad)} failed; {res['attempted']} ops, "
          f"{res['failed']} failed; build+inputs {t_gen - t0:.1f}s, jvm {t_jvm - t_gen:.1f}s, "
          f"checks {time.monotonic() - t_jvm:.1f}s", file=sys.stderr)
    print(json.dumps({"correct": not bad and res["failed"] == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
