#!/bin/bash
# Paired A/B timing of two commits with graft.Bench.
#
#   tools/ab.sh BASE HEAD [q1,q2,...]
#
# BASE and HEAD are any git revisions; the query list defaults to Bench's
# headline set. Each distinct commit is exported with `git archive` into a
# scratch dir under ${TMPDIR:-/tmp} and compiled once (`sbt -batch
# compile`); the current tools/run_class.sh is copied in, so the export
# runs its own classes. Then ten pairs of separate Bench JVMs run in one
# window, alternating which side goes first. /tmp/graft_* is wiped before
# every run: Replay.maintainedGen keeps persistent state there under keys
# that do not include the commit, so one side could otherwise read state
# the other side built. Host steal is read from /proc/stat around each run.
#
# Per query the report gives both medians, BASE's interquartile range,
# the median of the ten pair ratios (HEAD/BASE, < 1 means HEAD is faster),
# a 95% percentile-bootstrap interval for that median, and how many pairs
# HEAD won. The verdict is "faster" (or "slower") only when HEAD wins (or
# loses) at least 9 of 10 pairs and the medians differ by more than
# BASE's interquartile range; otherwise "same". Only the
# "queries" map of Bench's stdout line is read, so any older commit whose
# Bench prints that line can be measured. SPARK_GRAFT_SF_DIR and
# SPARK_GRAFT_CPUS pass through to Bench.
set -euo pipefail
if [ $# -lt 2 ] || [ $# -gt 3 ]; then
  echo "usage: $0 BASE HEAD [q1,q2,...]" >&2
  exit 2
fi
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
TOP="$(git -C "$HERE" rev-parse --show-toplevel)"
BASE_SHA="$(git -C "$TOP" rev-parse --verify "$1^{commit}")"
HEAD_SHA="$(git -C "$TOP" rev-parse --verify "$2^{commit}")"
QUERIES="${3:-}"
PAIRS=10
WORK="$(mktemp -d "${TMPDIR:-/tmp}/ab.XXXXXX")"
echo "[ab] base $1 = $BASE_SHA, head $2 = $HEAD_SHA, work dir $WORK" >&2

build() { # $1 = commit sha; compiles once per distinct commit
  local dir="$WORK/$1"
  [ -d "$dir" ] && return 0
  mkdir -p "$dir"
  git -C "$TOP" archive "$1" | tar -x -C "$dir"
  cp "$HERE/run_class.sh" "$dir/tools/run_class.sh"
  echo "[ab] compiling $1" >&2
  if ! (cd "$dir" && sbt -batch compile) > "$dir.build.log" 2>&1; then
    echo "[ab] build of $1 failed; see $dir.build.log" >&2
    exit 1
  fi
}
build "$BASE_SHA"
build "$HEAD_SHA"

steal() { awk '$1 == "cpu" { print $9 }' /proc/stat; }

run() { # $1 = pair index, $2 = side, $3 = commit sha
  local out="$WORK/run_$1_$2"
  rm -rf /tmp/graft_*
  local s0; s0="$(steal)"
  if ! (cd "$WORK/$3" && tools/run_class.sh graft.Bench) \
      > "$out.out" 2> "$out.err"; then
    echo "[ab] pair $1 $2 failed; tail of $out.err:" >&2
    tail -20 "$out.err" >&2
    exit 1
  fi
  local s1; s1="$(steal)"
  echo "$1 $2 $(( s1 - s0 ))" >> "$WORK/runs.txt"
  echo "[ab] pair $1 $2 done" >&2
}

if [ -n "$QUERIES" ]; then
  export SPARK_GRAFT_BENCH_ONLY="$QUERIES"
else
  unset SPARK_GRAFT_BENCH_ONLY
fi
for i in $(seq 0 $((PAIRS - 1))); do
  if [ $((i % 2)) -eq 0 ]; then
    run "$i" base "$BASE_SHA"; run "$i" head "$HEAD_SHA"
  else
    run "$i" head "$HEAD_SHA"; run "$i" base "$BASE_SHA"
  fi
done

python3 - "$WORK" "$QUERIES" <<'EOF'
import json, random, re, statistics, sys

work, wanted = sys.argv[1], [q for q in sys.argv[2].split(",") if q]
times, steal = {}, {"base": [], "head": []}
for line in open(f"{work}/runs.txt"):
    pair, side, jiffies = line.split()
    steal[side].append(int(jiffies) / 100.0)
    text = open(f"{work}/run_{pair}_{side}.out").read()
    found = re.findall(r'"queries":(\{[^{}]*\})', text)
    if not found:
        sys.exit(f"[ab] no Bench queries map in run_{pair}_{side}.out")
    for q, sec in json.loads(found[-1]).items():
        times.setdefault(q, {}).setdefault(side, {})[int(pair)] = sec

rng = random.Random(42)
def interval(ratios, draws=10000):
    meds = sorted(statistics.median(rng.choices(ratios, k=len(ratios)))
                  for _ in range(draws))
    return meds[int(0.025 * draws)], meds[int(0.975 * draws) - 1]

print(f"{'query':<24}{'base_med':>10}{'base_iqr':>10}{'head_med':>10}"
      f"{'ratio':>8}{'95% interval':>18}{'wins':>7}  verdict")
for q in wanted or sorted(times):
    sides = times.get(q, {})
    pairs = sorted(set(sides.get("base", {})) & set(sides.get("head", {})))
    if not pairs:
        print(f"{q:<24} missing from the Bench output")
        continue
    base = [sides["base"][p] for p in pairs]
    head = [sides["head"][p] for p in pairs]
    ratios = [h / b for b, h in zip(base, head)]
    lo, hi = interval(ratios)
    wins = sum(h < b for b, h in zip(base, head))
    losses = sum(h > b for b, h in zip(base, head))
    q1, bmed, q3 = statistics.quantiles(base, n=4)
    hmed = statistics.median(head)
    verdict = ("faster" if 10 * wins >= 9 * len(pairs) and bmed - hmed > q3 - q1
               else "slower" if 10 * losses >= 9 * len(pairs)
               and hmed - bmed > q3 - q1 else "same")
    print(f"{q:<24}{bmed:>10.3f}{q3 - q1:>10.3f}{hmed:>10.3f}"
          f"{statistics.median(ratios):>8.3f}"
          f"{f'[{lo:.3f}, {hi:.3f}]':>18}{f'{wins}/{len(pairs)}':>7}  {verdict}")
for side in ("base", "head"):
    print(f"steal s/run {side}: " + " ".join(f"{s:.2f}" for s in steal[side]))
EOF
