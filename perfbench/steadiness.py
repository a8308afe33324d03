#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Run from the repository root:

    python3 perfbench/steadiness.py --runs 10 --first-seed 1 [--workloads a,b] [--trace]

Runs perfbench/run.py once per seed (seeds first-seed .. first-seed+runs-1)
on each workload, then prints, per workload and metric, the median and the
spread: the distance between the first and third quartile of the runs, as
Python's statistics.quantiles(values, n=4) gives them, as a share of the
median. With --trace it also makes one traced run per workload on the
first seed and reports the tracing overhead: the traced typical operation
latency (trace.op_s) over the untraced one (op_s), minus one. Raw results go to
perfbench/out/steadiness-<first-seed>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode})")
    lines = p.stdout.strip().split("\n")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["headline"] = lines[:-1]
    return res


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = range(args.first_seed, args.first_seed + args.runs)
    out = {}
    for w in workloads:
        runs = [run(w, s, spec["run_seconds"], 0) for s in seeds]
        rec = {"runs": runs, "metrics": {}}
        print(f"{w}: {len(runs)} runs, wall {statistics.median(r['wall_s'] for r in runs):.1f} s "
              f"median, {sum(r['wall_s'] for r in runs):.0f} s total, "
              f"failed {sum(r['failed'] for r in runs)}")
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, sp = statistics.median(vals), spread(vals)
            rec["metrics"][name] = {"median": med, "spread": sp, "values": vals}
            flag = ("  <-- ABOVE ITS BOUND" if sp > bounds[name] else
                    "  <-- above a third of its bound" if sp >= bounds[name] / 3 else "")
            print(f"  {name:<14} median {med:12.6g}  spread {sp:7.2%}  "
                  f"bound {bounds[name]:.0%}{flag}")
        if args.trace:
            traced = run(w, args.first_seed, spec["run_seconds"], 1)
            base = runs[0]["metrics"]["op_s"]["value"]
            rec["traced"] = traced
            rec["tracing_overhead"] = traced["metrics"]["trace.op_s"]["value"] / base - 1
            print(f"  tracing overhead on op_s (seed {args.first_seed}): "
                  f"{rec['tracing_overhead']:+.1%}")
        out[w] = rec
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out", f"steadiness-{args.first_seed}.json"), "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
