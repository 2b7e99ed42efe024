#!/usr/bin/env python3
"""Smoke test of the pipeline benchmark at toy size (20 symbols x 10 days).

    python3 pipebench/smoke.py

For every workload BENCHMARK.json names, an untraced and a traced run must
finish, pass the output check and print every metric BENCHMARK.json lists
for that mode, each with its unit. The traced run must leave a span file
that covers every layer. Last, a run whose output check loses one silver
row must report correct=false. Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SEED = 1

# Span names each layer must contribute to a traced run's span file.
LAYER_SPANS = {
    "streaming": ["streaming.bronze", "streaming.cdf"],
    "sources": ["trigger.bronze", "trigger.cdf"],
    "tables": ["tables.bronze", "tables.quarantine", "tables.silver",
               "tables.gold"],
    "read": ["read.symbol_latest", "read.day_slice", "read.time_travel",
             "read.cdf_range", "resolve"],
    "session": ["wave", "land", "medallion"],
}


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(SEED), "--seconds", "1", "--trace",
         str(trace), "--scale", "toy"] + list(extra),
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit("FAIL %s trace=%d: exit %d" % (workload, trace, p.returncode))
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            res = run(w, trace)
            tag = "%s trace=%d" % (w, trace)
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  "%s: output check passes" % tag)
            got = res["metrics"]
            missing = [m["name"] for m in want[trace]
                       if got.get(m["name"], {}).get("unit") != m["unit"]]
            check(not missing, "%s: prints all %d metrics with units %s" % (
                tag, len(want[trace]), missing or ""))
        spans_file = os.path.join(BENCH, "out", "spans-%s-s%d-t1.json" % (w, SEED))
        with open(spans_file) as f:
            names = {s["name"] for s in json.load(f)}
        for layer, spans in LAYER_SPANS.items():
            check(set(spans) <= names, "%s: span file covers %s (%s)" % (
                w, layer, ", ".join(sorted(set(spans) - names)) or "all spans"))
    res = run(bench["workloads"][0]["name"], 0, "--drop-silver-row", "true")
    check(not res["correct"] and res["failed"] >= 1,
          "output check fails when one silver row is removed")


if __name__ == "__main__":
    main()
