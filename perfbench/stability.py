#!/usr/bin/env python3
"""Repeated runs of the benchmark and their stability table.

    python3 perfbench/stability.py run <workload> <trace 0|1> <seed>... >> runs.jsonl
    python3 perfbench/stability.py table runs.jsonl...
    python3 perfbench/stability.py compare first.jsonl second.jsonl
    python3 perfbench/stability.py layers

``run`` calls run.py once per seed (``run_seconds`` from BENCHMARK.json)
and appends one JSON line per run with its wall time. ``table`` prints,
per workload and end-to-end metric, the median, the quartiles
(``statistics.quantiles(n=4)``) and the interquartile spread as a share
of the median next to the metric's bound. ``compare`` sets the second
set's medians against the first's. ``layers`` prints each traced
run's layer split and tracing overhead from ``.bench_build/results/``.
"""
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, seeds):
    s = spec()
    for seed in seeds:
        t0 = time.time()
        p = subprocess.run(s["command"] + ["--workload", workload, "--seed", seed,
                                           "--seconds", str(s["run_seconds"]),
                                           "--trace", trace],
                           cwd=REPO, stdout=subprocess.PIPE, text=True)
        last = (p.stdout.strip().splitlines() or ["null"])[-1]
        print(json.dumps({"workload": workload, "seed": int(seed), "trace": int(trace),
                          "exit": p.returncode, "elapsed_s": round(time.time() - t0, 1),
                          "result": json.loads(last) if p.returncode == 0 else None}),
              flush=True)


def table(files):
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    rows = [json.loads(line) for f in files for line in open(f) if line.strip()]
    for w in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == w and r["trace"] == 0 and r["result"]]
        ok = all(r["result"]["correct"] and r["result"]["failed"] == 0 for r in runs)
        print(f"\n### {w}: {len(runs)} runs, seeds "
              f"{', '.join(str(r['seed']) for r in runs)}; all correct: {ok}; "
              f"run wall median {stats.median([r['elapsed_s'] for r in runs]):.1f} s\n")
        print("| metric | unit | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|---|")
        for m, b in bounds.items():
            v = [r["result"]["metrics"][m]["value"] for r in runs]
            q1, q2, q3 = stats.quartiles(v)
            unit = runs[0]["result"]["metrics"][m]["unit"]
            print(f"| {m} | {unit} | {q2:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{stats.spread(v):.3f} | {b} |")


def compare(first, second):
    """Second set's median against the first's, per workload and metric."""
    spec_ = spec()
    sets = [[json.loads(line) for line in open(f) if line.strip()] for f in (first, second)]
    print("| workload | metric | first median | second median | change | bound |")
    print("|---|---|---|---|---|---|")
    for w in sorted({r["workload"] for r in sets[0]}):
        for m in spec_["end_to_end"]:
            a, b = (stats.median([r["result"]["metrics"][m["name"]]["value"] for r in rows
                                  if r["workload"] == w and r["trace"] == 0 and r["result"]])
                    for rows in sets)
            print(f"| {w} | {m['name']} | {a:.4g} | {b:.4g} | {100 * (b / a - 1):+.1f}% | "
                  f"{m['bound']} |")


def layers():
    """Layer split of each traced run, and its tracing overhead against the
    untraced run of the same workload and seed."""
    d = os.path.join(REPO, ".bench_build", "results")
    kept = [json.load(open(os.path.join(d, f))) for f in sorted(os.listdir(d))]
    for r in kept:
        if r["trace"] != 1:
            continue
        f = f"{r['workload']} seed {r['seed']}"
        ops = r["trace_ops"]
        wall = sum(o["end"] - o["start"] for o in ops)
        busy = sum(o["busy_ms"] for o in ops)
        by_kind = {}
        for o in ops:
            by_kind[o["kind"]] = by_kind.get(o["kind"], 0) + o["end"] - o["start"]
        print(f"\n{f}: ops {len(ops)}, op wall {wall} ms, stage-busy {busy} ms "
              f"({100 * busy / wall:.0f}%), driver gap {wall - busy} ms "
              f"({100 * (wall - busy) / wall:.0f}%)")
        print("  wall by op kind: " + ", ".join(
            f"{k} {v} ms ({100 * v / wall:.0f}%)" for k, v in sorted(by_kind.items())))
        print("  " + json.dumps({k: round(v, 2) for k, v in r["metrics"].items() if v}))
        base = [u["metrics"] for u in kept if u["workload"] == r["workload"]
                and u["seed"] == r["seed"] and u["trace"] == 0]
        if base:
            print("  tracing overhead (traced minus untraced, same seed): " + ", ".join(
                f"{m} {v - base[0][m]:+.3g} ({100 * (v / base[0][m] - 1):+.1f}%)"
                for m, v in r["end_to_end"].items()))


if __name__ == "__main__":
    if len(sys.argv) >= 5 and sys.argv[1] == "run":
        run(sys.argv[2], sys.argv[3], sys.argv[4:])
    elif len(sys.argv) >= 3 and sys.argv[1] == "table":
        table(sys.argv[2:])
    elif len(sys.argv) == 4 and sys.argv[1] == "compare":
        compare(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 2 and sys.argv[1] == "layers":
        layers()
    else:
        sys.exit(__doc__)
