#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads (lake_upsert, corpus_small), one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script

1. compiles ``src/main/scala`` and the harness in ``perfbench/scala``
   with the Scala compiler that ships in the Spark jars directory (no
   sbt), into ``.bench_build/`` (reused while the sources are unchanged);
2. generates the workload's inputs from the seed (``perfbench/gen.py``);
3. launches one JVM with pinned heap, GC, JIT and ``local[k]`` settings
   and per-run temp, warehouse and local dirs, which runs the first op,
   a fixed warm-up and then whole timed passes for ``--seconds``;
4. checks the outputs (``perfbench/check.py``) outside the timed region;
5. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1`` (the traced run also writes its spans to
   ``.bench_build/traces/``).

Host load (loadavg, CPU pressure, steal) is written to stderr and to the
kept result file as a diagnostic; it is not a metric.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(REPO, ".bench_build")
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# input kind, warm-up passes, least timed passes
WORKLOADS = {
    "lake_upsert": ("lake", 2, 2),
    "corpus_small": ("corpus", 1, 2),
}
# the corpus workload's queries (``CorpusWorkload.Queries`` in the harness);
# every workload reports an ``op.<query>_ms`` for each, 0 where none ran
QUERIES = sorted([
    "q21_dedup_minhash", "q24_dedup_embedding", "q25_ann_bruteforce",
    "q47_dedup_components", "q49_top_terms", "q50_dedup_apply", "q54_quality_filter",
    "q55_decontaminate", "q56_repetition", "q66_verified_dedup", "q67_stratified_quota",
    "q70_ann_chunked", "q71_weighted_quota_rows", "q74_ann_lsh_chunked",
    "q75_ann_ivf_chunked"])
DEADLINE_S = 170  # a run must end within 180 s
HEAP = "1536m"
YOUNG = "512m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"[bench] {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark jars directory the sbt build compiles against."""
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    die("no Spark jars directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build():
    main_src = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main_src) or not sources(main_src):
        die(f"no program sources under {main_src}; run from the repository root")
    jars = spark_jars()
    resources = os.path.join(REPO, "src", "main", "resources")
    files = sources(main_src) + sources(os.path.join(BENCH, "scala"))
    if os.path.isdir(resources):
        files += sorted(p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                        if os.path.isfile(p))
    h = hashlib.sha256(jars.encode())
    for p in files:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, ".ok")):
            t0 = time.time()
            shutil.rmtree(out, ignore_errors=True)
            main_out, bench_out = os.path.join(out, "main"), os.path.join(out, "bench")
            os.makedirs(main_out)
            os.makedirs(bench_out)
            compiler = [p for n in ("scala-compiler", "scala-library", "scala-reflect")
                        for p in glob.glob(os.path.join(jars, f"{n}-2.*.jar"))]
            scalac = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={out}", "-cp", ":".join(compiler),
                      "scala.tools.nsc.Main", "-nowarn", "-classpath"]
            cp = os.path.join(jars, "*")
            for dest, cpath, srcs in (
                    (main_out, cp, sources(main_src)),
                    (bench_out, main_out + ":" + cp, sources(os.path.join(BENCH, "scala")))):
                r = subprocess.run(scalac + [cpath, "-d", dest] + srcs,
                                   stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
                if r.returncode != 0:
                    log(r.stdout[-4000:])
                    die("compilation failed")
            if os.path.isdir(resources):
                shutil.copytree(resources, main_out, dirs_exist_ok=True)
            open(os.path.join(out, ".ok"), "w").close()
            log(f"[bench] compiled in {time.time() - t0:.1f} s")
    return [os.path.join(out, "bench"), os.path.join(out, "main"), os.path.join(jars, "*")]


# ---------------------------------------------------------------- inputs

def inputs(kind, seed):
    """Generated inputs, cached per (kind, seed, generator source): equal
    seeds give identical files, so a second run of a seed reuses them."""
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{kind}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, ".ok")):
        shutil.rmtree(d, ignore_errors=True)
        (gen.lake if kind == "lake" else gen.corpus)(seed, d)
        open(os.path.join(d, ".ok"), "w").close()
    return d


# ---------------------------------------------------------------- host

def host_sample():
    s = {"loadavg": open("/proc/loadavg").read().split()[:3]}
    try:
        s["cpu_psi_some_total_us"] = int(
            open("/proc/pressure/cpu").readline().split("total=")[1])
    except (OSError, IndexError, ValueError):
        pass
    fields = open("/proc/stat").readline().split()[1:]
    s["cpu_ticks"] = sum(int(x) for x in fields)
    s["steal_ticks"] = int(fields[7]) if len(fields) > 7 else 0
    return s


def host_diag(a, b, wall):
    d = {"loadavg_start": a["loadavg"], "loadavg_end": b["loadavg"]}
    if "cpu_psi_some_total_us" in a and "cpu_psi_some_total_us" in b:
        d["cpu_psi_some_pct"] = round(
            100 * (b["cpu_psi_some_total_us"] - a["cpu_psi_some_total_us"]) / 1e6 / wall, 2)
    ticks = b["cpu_ticks"] - a["cpu_ticks"]
    d["steal_pct"] = round(100 * (b["steal_ticks"] - a["steal_ticks"]) / ticks, 2) if ticks else 0
    return d


# ---------------------------------------------------------------- metrics

def end_to_end(r, launch, kind):
    passes = r["passes"]
    op_kind = "job" if kind == "lake" else "query"
    ops = [ms for k, _, ms in r["samples"] if k == op_kind]
    return {
        "setup_s": (r["setup_end_epoch_ms"] / 1000 - launch, "s"),
        "first_op_s": (r["first_op_ms"] / 1000, "s"),
        "pass_s": (stats.median([p["wall_ms"] for p in passes]) / 1000, "s"),
        "cpu_s": (stats.median([p["cpu_ms"] for p in passes]) / 1000, "s"),
        "op_gmean_ms": (stats.geomean(ops), "ms"),
        "write_amp": (r["bytes_written"] / r["bytes_in"], "ratio"),
        "peak_rss_mb": (r["peak_rss_kb"] / 1024, "MB"),
    }


def per_layer(r, kind, live_bytes):
    """Per-layer metrics of a traced run. A layer the workload does not
    exercise reads 0 (``lake.*`` on a corpus workload, ``op.*`` on the
    lake workload)."""
    by = {}
    for k, n, v in r["samples"]:
        by.setdefault(k, []).append(v)

    def med(k):
        return stats.median(by[k]) if by.get(k) else 0.0

    def mean(k):
        return sum(by[k]) / len(by[k]) if by.get(k) else 0.0

    n_pass = len(r["passes"])
    m = {"runner.load_ms": (med("load"), "ms"),
         "lake.snapshot_ms": (med("snapshot"), "ms"),
         "lake.read_p50_ms": (med("read"), "ms"),
         "lake.delete_ms": (med("delete"), "ms"),
         "lake.compact_ms": (med("compact"), "ms"),
         "lake.vacuum_ms": (med("vacuum"), "ms"),
         "lake.files_added": (mean("files_added"), "count"),
         "lake.files_removed": (mean("files_removed"), "count"),
         "lake.bytes_written": (mean("commit_bytes"), "bytes"),
         "lake.rewrite_ratio": (med("rewrite_ratio"), "ratio"),
         "lake.files_live": (med("files_live"), "count"),
         "lake.scan_files": (med("scan_files"), "count")}
    log_at = r.get("log_at") or []
    if len(log_at) == 2 and log_at[1][2] > log_at[0][2]:
        commits = log_at[1][2] - log_at[0][2]
        m["lake.log_bytes"] = ((log_at[1][1] - log_at[0][1]) / commits, "bytes")
        m["lake.checkpoints"] = ((log_at[1][0] - log_at[0][0]) / n_pass, "count")
    else:
        m["lake.log_bytes"] = (0.0, "bytes")
        m["lake.checkpoints"] = (0.0, "count")
    m["lake.space_amp"] = (r["table_bytes"] / live_bytes if kind == "lake" and live_bytes
                           else 0.0, "ratio")
    for q in QUERIES:
        m[f"op.{q}_ms"] = (med_named(r["samples"], "query", q), "ms")
    ops = [o for o in r["trace"]["ops"] if o["kind"] in ("job", "query", "read", "delete",
                                                         "compact", "vacuum")]
    n = len(ops) or 1

    def per_op(key):
        return sum(o[key] for o in ops) / n

    wall = sum(o["end"] - o["start"] for o in ops)
    m.update({
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.stages": (per_op("stages"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.driver_gap_ms": ((wall - sum(o["busy_ms"] for o in ops)) / n, "ms"),
        "spark.busy_ms": (per_op("busy_ms"), "ms"),
        "spark.result_bytes": (per_op("result_bytes"), "bytes"),
        "sql.plan_ms": (per_op("plan_ms"), "ms"),
        "spark.exec_run_ms": (per_op("exec_run_ms"), "ms"),
        "spark.exec_cpu_ms": (per_op("exec_cpu_ms"), "ms"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (per_op("spill_bytes"), "bytes"),
        "sql.broadcast_build_ms": (per_op("broadcast_build_ms"), "ms"),
        "sql.broadcast_bytes": (per_op("broadcast_bytes"), "bytes"),
        "jvm.jit_ms": (r["jit_setup_ms"], "ms"),
        "jvm.gc_ms": (r["gc_ms"] / n_pass, "ms"),
    })
    return m


def manifest_units(section):
    """{name: unit} of a metric section of BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def med_named(samples, kind, name):
    v = [ms for k, n, ms in samples if k == kind and n == name]
    return stats.median(v) if v else 0.0


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    kind, warmup, min_passes = WORKLOADS[a.workload]

    classpath = build()
    input_dir = inputs(kind, a.seed)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    threads = min(3, os.cpu_count() or 1)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
            "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2",
            "-XX:ReservedCodeCacheSize=256m", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-cp", ":".join(classpath), "perfbench.PerfBench",
            "--workload", a.workload, "--input", input_dir, "--out", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--warmup", str(warmup), "--min-passes", str(min_passes),
            "--threads", str(threads)])
    host0 = host_sample()
    launch = time.time()
    # SIGTERM unwinds through the finally below, so the JVM never outlives us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (launch - started)))
        except subprocess.TimeoutExpired:
            die(f"the JVM did not finish in time; log: {run_dir}/jvm.log", 1)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    host1 = host_sample()
    wall = time.time() - launch
    res_file = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_file):
        log(open(os.path.join(run_dir, "jvm.log")).read()[-3000:])
        die(f"the JVM exited with {proc.returncode}", 1)
    r = json.load(open(res_file))
    if r.get("fatal"):
        die(f"the run aborted: {r['fatal']}", 1)

    # correctness gate (untimed)
    failed = len(r["errors"])
    for e in r["errors"]:
        log(f"[bench] op failed: {e}")
    live_bytes = 0
    if kind == "lake":
        f, live_bytes = check.check_lake(input_dir, os.path.join(run_dir, "final_table"),
                                         r["lake_log"], gen.LAKE_KEYS, log)
        failed += f
    else:
        if sorted(r["oracle_sql"]) != QUERIES:
            die(f"the harness ran queries {sorted(r['oracle_sql'])}, not {QUERIES}", 1)
        counts = {}
        for k, n, _ in r["samples"]:
            if k == "query":
                counts[n] = counts.get(n, 0) + 1
        failed += check.check_corpus(input_dir, os.path.join(run_dir, "results"),
                                     r["oracle_sql"], counts, os.path.join(BUILD, "oracle"), log)

    e2e = end_to_end(r, launch, kind)
    metrics = per_layer(r, kind, live_bytes) if a.trace else e2e
    declared = manifest_units("per_layer" if a.trace else "end_to_end")
    got = {k: u for k, (_, u) in metrics.items()}
    if got != declared:
        die(f"reported metrics {got} differ from BENCHMARK.json {declared}", 1)
    diag = host_diag(host0, host1, wall)
    op_samples = [ms for k, _, ms in r["samples"] if k in ("job", "query")]
    diag["op_p50_ms"] = round(stats.median(op_samples), 3)
    try:
        diag["op_p90_ms"] = stats.tail_percentile(op_samples, 90)
    except ValueError as e:
        diag["op_p90_ms"] = f"not reported: {e}"
    diag.update(passes=len(r["passes"]), ops_measured=len(op_samples), jvm_wall_s=round(wall, 2),
                jit_measured_ms=r["jit_measured_ms"], gc_measured_ms=r["gc_ms"])
    log(f"[bench] {a.workload} seed={a.seed} trace={a.trace} {json.dumps(diag)}")

    keep = os.path.join(BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    base = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # a traced run keeps its end-to-end figures too: traced minus untraced
    # is the tracing overhead
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": diag,
               "passes": r["passes"], "metrics": {k: v for k, (v, _) in metrics.items()},
               "end_to_end": {k: v for k, (v, _) in e2e.items()}}
    if a.trace:
        summary["trace_ops"] = r["trace"]["ops"]
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", base + ".json"), "w") as f:
            json.dump(r["trace"], f)
    with open(os.path.join(keep, base + ".json"), "w") as f:
        json.dump(summary, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(r["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
