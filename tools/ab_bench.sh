#!/usr/bin/env bash
# Interleaved A/B runs of one e2ebench workload: a git ref (extracted with
# `git archive`) against the working tree, then e2ebench/compare.py's
# verdicts over the pairs.
#
#   tools/ab_bench.sh [-n PAIRS] [-w WORKLOAD] [-s FIRST_SEED] [-o OUT_DIR] [REF]
#
# Defaults: 10 pairs of serve-search, seeds 501.., REF = HEAD, OUT_DIR =
# /tmp/ab_bench_<workload>; every run lasts BENCHMARK.json's run_seconds.
# Pair i runs seed FIRST_SEED+i on both sides; the side that runs first
# alternates from pair to pair, so a drift of the machine's load over the
# sweep falls on both sides alike. Each run's stdout lands in
# OUT_DIR/{base,new}/<workload>-<seed>.out (the file names compare.py
# pairs on), its stderr next to it as .log. Each side builds into its own
# OUT_DIR/<side>_build, so neither rebuilds the other's classes. Run from
# the repository root.
set -u

pairs=10 workload=serve-search seed0=501 out=""
while getopts "n:w:s:o:" opt; do
  case "$opt" in
    n) pairs=$OPTARG ;;
    w) workload=$OPTARG ;;
    s) seed0=$OPTARG ;;
    o) out=$OPTARG ;;
    *) sed -n '2,16p' "$0"; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
ref=${1:-HEAD}
out=${out:-/tmp/ab_bench_$workload}
repo=$(git rev-parse --show-toplevel) || exit 2
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$repo/BENCHMARK.json") || exit 2

rm -rf "$out/base_src" "$out/base" "$out/new"
mkdir -p "$out/base_src" "$out/base" "$out/new"
git -C "$repo" archive "$ref" | tar -x -C "$out/base_src" || exit 2
echo "ab_bench: $workload, $pairs pairs, base $ref ($(git -C "$repo" rev-parse --short "$ref")) vs working tree, outputs in $out" >&2

# run SIDE SEED: one e2ebench run of the side's checkout
run() {
  local side=$1 seed=$2 root
  if [ "$side" = base ]; then root=$out/base_src; else root=$repo; fi
  (cd "$root" && CARGO_TARGET_DIR="$out/${side}_build" python3 e2ebench/run.py \
      --workload "$workload" --seed "$seed" --seconds "$seconds" --trace 0) \
    > "$out/$side/$workload-$seed.out" 2> "$out/$side/$workload-$seed.log"
  local rc=$?
  echo "ab_bench: $side seed $seed exit $rc: $(tail -n 1 "$out/$side/$workload-$seed.out" | cut -c1-160)" >&2
  return $rc
}

failed=0
for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then order="base new"; else order="new base"; fi
  for side in $order; do run "$side" "$seed" || failed=$((failed + 1)); done
done

python3 "$repo/e2ebench/compare.py" "$out/base" "$out/new" --benchmark "$repo/BENCHMARK.json"
if ((failed > 0)); then
  echo "ab_bench: $failed run(s) exited non-zero (a failed check or a missing metric); see $out/*/*.log" >&2
  exit 1
fi
