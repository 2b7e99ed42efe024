#!/usr/bin/env python3
"""Runs one workload over several seeds and reports each metric's spread.

    python3 pipebench/spread.py --workload corrections --seeds 1-10 [--trace 1]

For every end-to-end metric: the median of the per-run values, the first
and third quartiles (statistics.quantiles(values, n=4)) and their distance
as a share of the median, which is how run-to-run spread is judged against
a metric's bound in BENCHMARK.json. With --trace 1 the figures are those of traced
runs, whose medians against an untraced set give the tracing overhead. The
per-run results and the summary are written to
pipebench/out/spread-<workload>-t<trace>-<seeds>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(bench["run_seconds"]), "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit("seed %d failed (exit %d)" % (seed, p.returncode))
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(BENCH, "out", "%s-s%d-t%s.json" % (
                args.workload, seed, args.trace))) as f:
            e2e = json.load(f)["end_to_end"]
        runs.append({"seed": seed, "wall_s": wall, "result": res,
                     "end_to_end": e2e})
        print("seed %d: %.1f s correct=%s %s" % (
            seed, wall, res["correct"], " ".join(
                "%s=%.4g" % (k, v)
                for k, v in sorted(e2e.items()))), flush=True)
    # With tracing on, the end-to-end figures come from the artifacts, so
    # their medians against an untraced set give the tracing overhead.
    summary = {}
    for name in sorted(runs[0]["end_to_end"]):
        vals = [r["end_to_end"][name] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else None,
                         "bound": bounds.get(name)}
    for name, s in summary.items():
        print("%-18s median %-12.5g spread %.3f bound %s" % (
            name, s["median"], s["spread"], s["bound"]))
    print("run wall: median %.1f s, max %.1f s, all correct: %s" % (
        statistics.median(r["wall_s"] for r in runs),
        max(r["wall_s"] for r in runs),
        all(r["result"]["correct"] for r in runs)))
    out = os.path.join(BENCH, "out", "spread-%s-t%s-%s.json" % (
        args.workload, args.trace, args.seeds))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
