#!/usr/bin/env bash
# End-of-change gate: oracle checks at sf0.01, sf0.1 and on the empty
# corpus, the scale and skew probes, then two back-to-back full
# benches of the same binary and their paired statistic. Usage:
#   scripts/gate.sh <testdata-dir>      # the dir holding sf0.001..sf0.1
# Run on a QUIET machine and keep the log (`| tee gate.log`): a bench
# whose canary reads ratio > 1.1 or spread > 0.2 prints UNTRUSTED, and
# its timings say more about the host than about the code. Freeze any
# artifact a spec replays under its own name BEFORE this script
# overwrites the live benchdata/bench_v2_* files.
set -uo pipefail
TESTDATA="$(cd "$1" && pwd)"
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
OUT="$(mktemp -d -t graft_gate.XXXXXX)"
echo "cpus $SPARK_GRAFT_CPUS, outputs under $OUT"

step() { echo; echo "=== [$(date +%H:%M:%S)] $1 ==="; }

# verify <sf-dir> <out-name>: full-surface dump, then the DuckDB oracle
verify() {
  scripts/java_bench.sh graft.Verify "$1" "$OUT/$2" >/dev/null 2>&1 \
    && echo "verify $2 OK" || echo "VERIFY $2 FAILED"
  python3 scripts/check.py "$1" "$OUT/$2" 2>&1 | tail -4
}

# canary: flag a bench run the host made untrustworthy
canary() {
  python3 - <<'PY'
import json
c = json.load(open('bench_canary.json'))
bad = c.get('ratio', 0) > 1.1 or c['spread'] > 0.2
print(f"canary ratio {c.get('ratio')} spread {c['spread']}"
      + (" UNTRUSTED" if bad else ""))
PY
}

step "verify + oracle, sf0.01 (full surface)"
verify "$TESTDATA/sf0.01" sf0.01

step "verify + oracle, sf0.1 (full surface — slow)"
verify "$TESTDATA/sf0.1" sf0.1

step "verify + oracle on the EMPTY corpus (full surface)"
# every query must survive the input shape a large deployment produces
# routinely (a partition pruned to nothing). The RELATIVE dir
# regression-proves the streamSrcDir symlink absolutization.
python3 scripts/make_empty.py "$TESTDATA/sf0.001" benchdata/sf0 >/dev/null
verify benchdata/sf0 sf0

step "scale and skew probes"
bash scripts/scale_probe.sh 2>&1 | grep -E "^==|done"
bash scripts/skew_probe.sh 2>&1 | grep -E "^==|done"

# bench <run>: one full v2 bench at sf0.1 (3 interleaved passes,
# per-query medians), sidecars kept as benchdata/*_run<run>.json
bench() {
  SPARK_GRAFT_SF_DIR="$TESTDATA/sf0.1" scripts/java_bench.sh graft.Bench \
    2>/dev/null | tail -1
  canary
  cp bench_result.json "benchdata/bench_v2_run$1.json"
  cp bench_reps.json "benchdata/bench_v2_run$1_reps.json"
  cp bench_shuffle.json "benchdata/shuffle_run$1.json"
}

step "full v2 bench, run A"
bench A
cp bench_shuffle.json benchdata/shuffle_ref.json
echo "shuffle_ref.json refreshed from run A's sidecar"

step "probe report (after run A: drift block compares same-SF sidecars)"
python3 scripts/probe_report.py 2>&1 | tail -30

step "full v2 bench, run B (same binary, back to back)"
bench B

step "paired same-binary statistic A vs B with plan-identity sidecars (bar: zero flags)"
scripts/java_bench.sh graft.BenchCompare \
  benchdata/bench_v2_runA_reps.json benchdata/bench_v2_runB_reps.json \
  benchdata/shuffle_runA.json benchdata/shuffle_runB.json \
  && echo "paired statistic PASS" || echo "paired statistic FAIL"

step "shuffle drift run B vs run A (bar: 0 production-name flags)"
python3 - <<'EOF'
import json
ref = json.load(open('benchdata/shuffle_runA.json'))['queries']
cur = json.load(open('benchdata/shuffle_runB.json'))['queries']
flags = []
for q in sorted(set(ref) & set(cur)):
    rb, cb = ref[q]['shuffle_bytes'], cur[q]['shuffle_bytes']
    if rb == 0 and cb == 0:
        continue
    r = cb / rb if rb > 0 else float('inf')
    if r > 1.2 or r < 1 / 1.2:
        flags.append((q, rb, cb, round(r, 3)))
prod = [f for f in flags if not f[0].endswith('_audit')]
print(f"shuffle drift run B vs run A: {len(flags)} flagged "
      f"of {len(set(ref) & set(cur))}, {len(prod)} on production names "
      f"(bar: 0 production)")
for q, rb, cb, r in flags:
    tag = '' if q.endswith('_audit') else '  <- PRODUCTION'
    print(f"  {q}: {rb} -> {cb} bytes ({r}x){tag}")
pinned = ['q16_distinct_counts', 'q27_profile', 'ann_recall_curve',
          'dedup_jaccard', 'dedup_jaccard_prune_audit']
bad = [q for q, *_ in flags if q in pinned]
print("pinned set drift-free" if not bad else f"PINNED SET FLAGS: {bad}")
EOF
