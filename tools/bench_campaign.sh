#!/bin/bash
# Benchmark campaign for one round, graft vs the DuckDB oracle at sf0.1,
# sf1 and sf10:
#
#   SF01_DIR=<sf0.1 testdata dir> tools/bench_campaign.sh <round>
#
# Every output lands in /tmp/<round>_* (pass meta, bench JSONs, compare
# tables, merged tables, the sf1→sf10 scale check). The protocol (r15
# onward): two gated passes per scale on BOTH engines, per-query MIN
# merged by tools/min_merge.py, plus
#   * loadavg is RECORDED PER PASS into a meta sidecar and prepended to
#     every merged table;
#   * the DuckDB side is load-GATED too (the spark pass that precedes
#     it leaves a decaying 1-min loadavg);
#   * a THIRD pass runs AUTOMATICALLY when the two passes' totals
#     disagree by >15% on either engine — min-merged in, so an
#     environmental burst self-heals instead of needing a manual
#     supplementary run;
#   * the merged table also carries the job-floor-netted totals
#     (tools/net_ratio.py), so the headline does not swing on sub-50ms
#     oracle denominators under co-tenant noise.
# DuckDB caps: none at sf0.1 (RUNS=2 per pass), 600 s/query at sf1,
# 300 s/query at sf10 — a capped row reports ">Ns" and the aggregate
# excludes that query from BOTH engines. sf1/sf10 come from
# tools/gen_testdata.py under /tmp/testdata; the oracle SQL from a
# graft.Verify run into /tmp/vout. Earlier rounds' protocols
# are in git history (tools/bench_campaign_r10.sh … r18.sh).
R=${1:?usage: SF01_DIR=<sf0.1 dir> tools/bench_campaign.sh <round>}
SF01=${SF01_DIR:?set SF01_DIR to the sf0.1 testdata directory}
set -x
cd "$(dirname "$0")/.."
export SPARK_GRAFT_LOAD_WAIT_S=900
ORACLE=/tmp/vout/oracle_sql.json
META=/tmp/${R}_pass_meta.txt
: > $META

gate_load () { # wait (≤900 s) for the 1-min loadavg to decay below 0.5
  local deadline=$((SECONDS + 900))
  while awk '{exit ($1 < 0.5) ? 1 : 0}' /proc/loadavg; do
    if (( SECONDS > deadline )); then
      echo "GATE TIMEOUT at $(cat /proc/loadavg)" | tee -a $META; return; fi
    sleep 10
  done
}

run_bench () { # sfdir out iters   (graft.Bench self-gates on load)
  SPARK_GRAFT_SF_DIR=$1 SPARK_GRAFT_BENCH_OUT=$2 SPARK_GRAFT_BENCH_ITERS=$3 \
    sbt -batch "runMain graft.Bench" 2>&1 | tail -2
  python3 -c "import json,sys; j=json.load(open('$2')); print(f\"pass $2: spark load start={j['loadavg']} end={j['loadavg_end']} gated={j['load_gated']}\")" >> $META
}

run_cmp () { # sfdir bench_json cmp_md runs timeout  (gated DuckDB pass)
  gate_load
  echo "pass $3: duckdb load start=$(awk '{print $1}' /proc/loadavg)" >> $META
  RUNS=$4 TIMEOUT=$5 python3 tools/bench_compare.py $1 $2 $3 $ORACLE
  echo "pass $3: duckdb load end=$(awk '{print $1}' /proc/loadavg)" >> $META
}

need_third () { # cmp_a cmp_b — exit 0 when totals disagree >15%
  python3 - "$1" "$2" <<'EOF'
import sys, re
def totals(p):
    for line in open(p):
        m = re.match(r'\|\s*\*\*total[^|]*\|\s*\*\*([\d.]+)\*\*\s*\|\s*\*\*([\d.]+)\*\*', line)
        if m: return float(m.group(1)), float(m.group(2))
    raise SystemExit(f"no totals row in {p}")
a, b = totals(sys.argv[1]), totals(sys.argv[2])
def dis(x, y): return abs(x - y) / max(min(x, y), 1e-9)
bad = dis(a[0], b[0]) > 0.15 or dis(a[1], b[1]) > 0.15
print(f"totals spark {a[0]:.2f}/{b[0]:.2f} duckdb {a[1]:.2f}/{b[1]:.2f} third_pass={'YES' if bad else 'no'}")
sys.exit(0 if bad else 1)
EOF
}

merge () { # out_md cmp...  (prepends the per-pass load header,
           # appends the job-floor-netted totals)
  local out=$1; shift
  { echo "<!-- per-pass load stamps:"; cat $META; echo "-->";
    python3 tools/min_merge.py "$@"; } > $out
  python3 tools/net_ratio.py $out >> $out
}

run_scale () { # tag sfdir iters runs timeout
  local tag=$1 sfdir=$2 iters=$3 runs=$4 timeout=$5
  run_bench $sfdir /tmp/${R}_bench_${tag}_a.json $iters
  run_cmp $sfdir /tmp/${R}_bench_${tag}_a.json /tmp/${R}_cmp_${tag}_a.md $runs $timeout
  run_bench $sfdir /tmp/${R}_bench_${tag}_b.json $iters
  run_cmp $sfdir /tmp/${R}_bench_${tag}_b.json /tmp/${R}_cmp_${tag}_b.md $runs $timeout
  local cmps="/tmp/${R}_cmp_${tag}_a.md /tmp/${R}_cmp_${tag}_b.md"
  if need_third /tmp/${R}_cmp_${tag}_a.md /tmp/${R}_cmp_${tag}_b.md; then
    run_bench $sfdir /tmp/${R}_bench_${tag}_c.json $iters
    run_cmp $sfdir /tmp/${R}_bench_${tag}_c.json /tmp/${R}_cmp_${tag}_c.md $runs $timeout
    cmps="$cmps /tmp/${R}_cmp_${tag}_c.md"
  fi
  merge /tmp/${R}_merged_${tag}.md $cmps
}

run_scale sf01 "$SF01" 3 2 0
run_scale sf1  /tmp/testdata/sf1   3 1 600
run_scale sf10 /tmp/testdata/sf10  2 1 300

python3 tools/scale_check.py /tmp/${R}_bench_sf1_a.json /tmp/${R}_bench_sf10_a.json 10 > /tmp/${R}_scale_sf1_sf10.md
echo CAMPAIGN_DONE
