#!/usr/bin/env bash
# Same-host A/B runner: freeze the CURRENT compiled classes under a tag,
# then run the filtered probe-protocol bench (minimal warm-up, single
# pass) from the frozen snapshot, 3 reps x {sf1, sf0.1}. Run it once on
# the "before" build and once on the "after" build with the same
# queries. Usage:
#   scripts/ab.sh <testdata-dir> <tag> <query...>
# Output: one JSON line per run in
#   $TMPDIR/graft_ab_<tag>/{sf1,sf0.1}_{1,2,3}.json
# (benchdata/sf1 comes from scripts/scale_probe.sh.)
set -uo pipefail
TESTDATA="$(cd "$1" && pwd)"; TAG="$2"; shift 2
cd "$(dirname "$0")/.."
OUT="${TMPDIR:-/tmp}/graft_ab_$TAG"
# the snapshot is laid out like the checkout, so its own copy of
# scripts/java_bench.sh runs the frozen classes with the usual JVM flags
rm -rf "$OUT"; mkdir -p "$OUT/scripts" "$OUT/target/scala-2.13"
cp scripts/java_bench.sh "$OUT/scripts/"
cp -r target/scala-2.13/classes "$OUT/target/scala-2.13/"
ln -s "$PWD/benchdata" "$OUT/benchdata"
export SPARK_GRAFT_WARMUP_NAMES="text_stats,ev_type_stats,q0_scan,mm_meta"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
for rep in 1 2 3; do
  for sf in "$PWD/benchdata/sf1" "$TESTDATA/sf0.1"; do
    t=$(basename "$sf")
    SPARK_GRAFT_SF_DIR="$sf" "$OUT/scripts/java_bench.sh" graft.Bench "$@" \
      2>/dev/null | tail -2 | head -1 > "$OUT/${t}_${rep}.json"
    echo "done $TAG $t rep $rep"
  done
done
echo ALL_DONE
