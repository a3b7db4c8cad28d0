#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, and agreement between two sets of runs.

    python3 perfbench/stability.py [--runs 10] [--trace-runs 0] [--first-seed 100]

Runs two sets. Each set runs every workload of BENCHMARK.json --runs times,
each run with another seed, and reports for each end-to-end metric the
median and the distance between the first and third quartile as a share of
the median (statistics.quantiles, n=4). Every spread but that of setup_s
must stay within the metric's bound: set-up is one JVM and session start
per run, and its spread follows the host's steal, which the benchmark
cannot average away; setup_s is still held to its bound between the two
sets. The second set uses fresh seeds, and each metric's two
medians must differ by no more than the bound, in either direction; the
share of failed operations must be identical. With --trace-runs N, N traced
runs per workload follow and report the per-layer metrics, among them the
tracing overhead each run measures in its own JVM. Exits 1 when a check
fails.
"""
import argparse
import functools
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
print = functools.partial(print, flush=True)  # progress shows while runs go on


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run {workload} seed {seed} exited with {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    # run.py logs the JVM's own figures (host steal, per-query times) on stderr
    figs = [l.split("figures ", 1)[1] for l in p.stderr.splitlines() if "figures {" in l]
    extra = json.loads(figs[-1])["metrics"] if figs else {}
    shown = {k: round(v, 3) for k, v in extra.items() if isinstance(v, float)}
    print(f"    {workload} seed {seed}: {json.dumps(shown)}")
    return out


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def one_set(spec, runs, first_seed):
    out = {}
    for w in (w["name"] for w in spec["workloads"]):
        results = [run(w, first_seed + i, spec["run_seconds"], 0) for i in range(runs)]
        out[w] = results
        for r in results:
            if not r["correct"]:
                print(f"  {w}: a run reported incorrect outputs")
    return out


def summarize(spec, label, results, ok):
    print(f"set {label}")
    meds = {}
    for w, rs in results.items():
        att = sum(r["attempted"] for r in rs)
        fail = sum(r["failed"] for r in rs)
        print(f"  {w}: {len(rs)} runs, {fail}/{att} operations failed, "
              f"correct in {sum(r['correct'] for r in rs)}")
        ok &= all(r["correct"] for r in rs)
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            med, iqr = spread(vals)
            meds[(w, m["name"])] = med
            flag = ""
            if iqr > m["bound"] and m["name"] != "setup_s":
                flag, ok = "  SPREAD ABOVE BOUND", False
            elif iqr > m["bound"]:
                flag = "  spread above the bound (not gated)"
            elif iqr > m["bound"] / 3:
                flag = "  spread above a third of the bound"
            print(f"    {m['name']:18s} median {med:12.4f} {m['unit']:6s} "
                  f"IQR/median {iqr:.3f} (bound {m['bound']}){flag}")
    return meds, ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace-runs", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=100)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    ok = True
    sets = []
    for k in range(2):
        res = one_set(spec, args.runs, args.first_seed + 1000 * k)
        meds, ok = summarize(spec, "AB"[k], res, ok)
        sets.append((res, meds))
    print("second set against the first")
    for m in spec["end_to_end"]:
        for w in workloads:
            a, b = sets[0][1][(w, m["name"])], sets[1][1][(w, m["name"])]
            diff = (b - a) / a
            flag = "" if abs(diff) <= m["bound"] else "  DIFFERS BY MORE THAN THE BOUND"
            ok &= abs(diff) <= m["bound"]
            print(f"  {w:8s} {m['name']:18s} {a:12.4f} -> {b:12.4f} ({diff:+.3f}){flag}")
    for w in workloads:
        shares = [sum(r["failed"] for r in s[0][w]) / sum(r["attempted"] for r in s[0][w])
                  for s in sets]
        if shares[0] != shares[1]:
            ok = False
            print(f"  {w}: failed share differs: {shares}")
    if args.trace_runs:
        print("traced runs (per-layer metrics)")
        for w in workloads:
            rs = [run(w, args.first_seed + 500 + i, spec["run_seconds"], 1)
                  for i in range(args.trace_runs)]
            ok &= all(r["correct"] for r in rs)
            over = [r["metrics"]["trace.overhead_pct"]["value"] for r in rs]
            print(f"  {w}: tracing overhead " + ", ".join(f"{v:+.1f}%" for v in over))
            for name, v in rs[0]["metrics"].items():
                print(f"    {name:28s} {v['value']:14.4f} {v['unit']}")
    print("OK" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
