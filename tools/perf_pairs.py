#!/usr/bin/env python3
"""Alternating benchmark pairs of a parent and a change checkout, and their verdict.

    python3 tools/perf_pairs.py [--out FILE] [--report-only] <parent-dir> <change-dir> <workload> <seed>...

For each seed, runs ``perfbench/run.py --workload <workload> --seed <seed>
--seconds <run_seconds> --trace 0`` once in each checkout, ``run_seconds``
taken from the change's ``BENCHMARK.json``. The parent runs first on odd
seeds and the change first on even seeds. Each run appends one JSON line
to ``--out`` (default ``perf_pairs.jsonl``).

Then it prints, per end-to-end metric, over the seeds given:

* each side's median and quartiles (``statistics.quantiles(n=4)``) and
  interquartile spread as a share of the median;
* the pairs the change won (ties count for neither side);
* the gain verdict: the change wins at least nine tenths of the pairs and
  its median beats the parent's by more than the parent's interquartile
  distance;
* the bound check: the change's median is worse than the parent's by no
  more than the metric's bound; ``unresolved`` when either side's spread
  exceeds the bound and not every change run beats every parent run.

``--report-only`` prints the report from the lines already in ``--out``
(the last line per checkout and seed counts) without running anything.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "perfbench"))

import stats  # noqa: E402


def spec(repo):
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(side, repo, workload, seed, seconds, command, out):
    t0 = time.time()
    p = subprocess.run(command + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"],
                       cwd=repo, stdout=subprocess.PIPE, text=True)
    last = (p.stdout.strip().splitlines() or ["null"])[-1]
    try:
        result = json.loads(last) if p.returncode == 0 else None
    except ValueError:
        result = None
    line = {"workload": workload, "seed": seed, "side": side, "dir": repo,
            "exit": p.returncode, "elapsed_s": round(time.time() - t0, 1),
            "loadavg_end": open("/proc/loadavg").read().split()[:3], "result": result}
    with open(out, "a") as f:
        f.write(json.dumps(line) + "\n")
    print(f"[pairs] {workload} seed {seed} {side}: exit {p.returncode}, "
          f"{line['elapsed_s']} s", file=sys.stderr, flush=True)


def pairs(out, dirs, workload, seeds):
    """{seed: {side: result}} from the last line per side and seed."""
    by = {}
    for raw in open(out):
        if not raw.strip():
            continue
        r = json.loads(raw)
        if r["workload"] == workload and r["seed"] in seeds and r["dir"] == dirs[r["side"]]:
            by.setdefault(r["seed"], {})[r["side"]] = r["result"]
    return {s: v for s, v in by.items() if v.get("parent") and v.get("change")}


def fmt(v):
    return f"{v:.4g}"


def report(out, dirs, workload, seeds, manifest):
    got = pairs(out, dirs, workload, seeds)
    n = len(got)
    print(f"\n### {workload}: {n} pairs, seeds {', '.join(str(s) for s in sorted(got))}\n")
    if n == 0:
        return
    for side in ("parent", "change"):
        att = sum(r[side]["attempted"] for r in got.values())
        failed = sum(r[side]["failed"] for r in got.values())
        correct = all(r[side]["correct"] for r in got.values())
        print(f"{side}: {failed} of {att} ops failed; all correct: {correct}")
    print("\n| metric | parent median [q1, q3] | change median [q1, q3] | change | "
          "spread p / c | wins | gain verdict | bound | bound check |")
    print("|---|---|---|---|---|---|---|---|---|")
    for m in manifest["end_to_end"]:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        p = [got[s]["parent"]["metrics"][name]["value"] for s in sorted(got)]
        c = [got[s]["change"]["metrics"][name]["value"] for s in sorted(got)]

        def better(a, b):
            return a < b if lower else a > b

        wins = sum(better(b, a) for a, b in zip(p, c))
        losses = sum(better(a, b) for a, b in zip(p, c))
        pm, cm = stats.median(p), stats.median(c)
        change = (cm / pm - 1) if pm else float("inf")
        worse_by = change if lower else -change
        if n >= 2:
            pq1, _, pq3 = stats.quartiles(p)
            cq1, _, cq3 = stats.quartiles(c)
            p_spread, c_spread = stats.spread(p), stats.spread(c)
            gain = wins * 10 >= 9 * n and better(cm, pm) and abs(pm - cm) > pq3 - pq1
            quartile_cols = (f"{fmt(pm)} [{fmt(pq1)}, {fmt(pq3)}]",
                             f"{fmt(cm)} [{fmt(cq1)}, {fmt(cq3)}]")
        else:
            p_spread = c_spread = float("inf")
            gain = False
            quartile_cols = (fmt(pm), fmt(cm))
        every_better = all(better(x, y) for x in c for y in p)
        if worse_by > m["bound"]:
            check = "WORSE"
        elif max(p_spread, c_spread) > m["bound"] and not every_better:
            check = "unresolved"
        else:
            check = "ok"
        print(f"| {name} | {quartile_cols[0]} | {quartile_cols[1]} | {100 * change:+.1f}% | "
              f"{p_spread:.3f} / {c_spread:.3f} | {wins}/{n} ({losses} lost) | "
              f"{'gain' if gain else 'no gain'} | {m['bound']} | {check} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default="perf_pairs.jsonl")
    ap.add_argument("--report-only", action="store_true")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    a = ap.parse_args()
    dirs = {"parent": os.path.realpath(a.parent), "change": os.path.realpath(a.change)}
    manifest = spec(dirs["change"])
    if a.workload not in {w["name"] for w in manifest["workloads"]}:
        sys.exit(f"unknown workload {a.workload}")
    if not a.report_only:
        for seed in a.seeds:
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            for side in order:
                run_one(side, dirs[side], a.workload, seed, manifest["run_seconds"],
                        manifest["command"], a.out)
    report(a.out, dirs, a.workload, set(a.seeds), manifest)


if __name__ == "__main__":
    main()
