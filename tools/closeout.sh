#!/bin/bash
# Serialized scale close-out: the Bench pair at the source sf dir, Bench
# over the ScaleCorpus corpus of every factor, and ScaleBench at every
# factor <= 10. One JVM at a time, so no step shares the host with another.
#
#   SPARK_GRAFT_SF_DIR=<sf dir> tools/closeout.sh OUT_DIR FACTOR...
#
# Every main reads its settings from the environment as usual:
# SPARK_GRAFT_MASTER selects a cluster point (e.g. local-cluster[4,8,20480],
# which also needs SPARK_HOME and SPARK_SCALA_VERSION=2.13), and
# SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM / SPARK_GRAFT_EXEC_MEM pass through.
# Corpora land in ScaleCorpus's default dirs under the checkout's target/
# (written once, shared with ScaleBench). OUT_DIR gets, per step, a JSON
# artifact (Bench) or a SCALE-line file (ScaleBench) plus its .out/.err
# logs, and status.txt: one begin/done line per step, then ALL_DONE.
set -u
if [ $# -lt 2 ]; then
  echo "usage: SPARK_GRAFT_SF_DIR=<sf dir> $0 OUT_DIR FACTOR..." >&2
  exit 2
fi
: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the source sf dir}"
for f in "${@:2}"; do
  case $f in
    ''|*[!0-9]*) echo "factor '$f' is not a replica count" >&2; exit 2 ;;
  esac
done
mkdir -p "$1" || exit 2
out=$(cd "$1" && pwd)
shift
cd "$(dirname "$0")/.." || exit 2

status=$out/status.txt
fails=0
echo "start $(date -u +%FT%TZ) sf=$SPARK_GRAFT_SF_DIR" \
  "master=${SPARK_GRAFT_MASTER:-local} factors=$*" > "$status"

# run STEP MAIN [ARG...] [-- VAR=VALUE...]: one sbt runMain, logs under OUT_DIR
run() {
  local step=$1 args=() envs=()
  shift
  while [ $# -gt 0 ] && [ "$1" != -- ]; do args+=("$1"); shift; done
  [ $# -gt 0 ] && shift && envs=("$@")
  echo "$step:begin $(date -u +%H:%M:%S)" >> "$status"
  env "${envs[@]}" sbt -batch "runMain ${args[*]}" > "$out/$step.out" 2> "$out/$step.err"
  local rc=$?
  [ $rc -eq 0 ] || fails=$((fails + 1))
  echo "$step:done rc=$rc $(date -u +%H:%M:%S)" >> "$status"
  return $rc
}

declare -A corpus
for f in "$@"; do
  run "corpus_x$f" graft.ScaleCorpus "$f" &&
    corpus[$f]=$(grep -o '\[scalecorpus\] done: [^ ]*' "$out/corpus_x$f.out" | cut -d' ' -f3)
done

for i in 1 2; do
  run "bench_sf_$i" graft.Bench -- SPARK_GRAFT_BENCH_OUT="$out/bench_sf_$i.json"
done

for f in "$@"; do
  if [ -z "${corpus[$f]:-}" ]; then
    echo "bench_x$f:skipped (no corpus)" >> "$status"
    continue
  fi
  run "bench_x$f" graft.Bench -- SPARK_GRAFT_SF_DIR="${corpus[$f]}" \
    SPARK_GRAFT_BENCH_OUT="$out/bench_x$f.json"
done

for f in "$@"; do
  [ "$f" -le 10 ] || continue
  run "scalebench_x$f" graft.ScaleBench "$f"
  grep -o 'SCALE {.*}' "$out/scalebench_x$f.out" > "$out/scalebench_x$f.jsonl"
done

echo "ALL_DONE failures=$fails $(date -u +%H:%M:%S)" >> "$status"
[ $fails -eq 0 ]
