#!/bin/bash
# Controlled bench: measure HEAD against a baseline ref IN THE SAME
# WINDOW, so box-speed drift between capture times can never masquerade
# as a code regression (or a speedup).
#
# The round-14 lesson, institutionalized: the same tree measured 162 s in
# a morning window and 205 s the same night (median per-query ratio 1.38
# on identical code). Any cross-window comparison is therefore
# meaningless at the ±30% level; the honest procedure — rebuild the
# baseline tree in a worktree and interleave baseline/HEAD runs back to
# back — previously lived in PLAN.md prose and had to be reinvented each
# session. Now it is this tool.
#
# Usage: tools/controlled_bench.sh <baseline_ref> [out_prefix] [sfdir] [max_load] [pairs]
#   baseline_ref  any commit-ish (e.g. the previous round's bench commit)
#   out_prefix    output prefix (default BENCH_ctrl) — writes
#                 <prefix>_head.json, <prefix>_base.json, <prefix>_ratio.json
#   sfdir         scale-factor dir (default /root/testdata/sf0.1)
#   max_load      1-min loadavg gate before EACH run (default 4.0)
#   pairs         how many (base, head) interleaved pairs to run
#                 (default 1; per-query times keep the MINIMUM across
#                 pairs — the classic noise floor estimator)
#
# Both trees must time queries with the full-row action (the bit_xor of
# xxhash64 over every column, BASELINE.md "Recorded sf0.1 bench anchor");
# the script REFUSES a baseline tree that predates it rather than report
# a ratio between two different measurement rules.
#
# Output: <prefix>_ratio.json with the common-query totals, the ratio,
# and per-query regressions at the judge's 1.1x / 0.8 s
# threshold.
set -euo pipefail
cd "$(dirname "$0")/.."
ref=${1:?usage: controlled_bench.sh <baseline_ref> [out_prefix] [sfdir] [max_load] [pairs]}
prefix=${2:-BENCH_ctrl}
sf=${3:-/root/testdata/sf0.1}
max_load=${4:-4.0}
pairs=${5:-1}
# normalize the prefix to an absolute path: run_bench cd's into trees
case "$prefix" in /*) : ;; *) prefix="$PWD/$prefix" ;; esac

refsha=$(git rev-parse --verify "$ref^{commit}")
wtroot=$(mktemp -d /tmp/ctrlbench.XXXXXX)
wt=$wtroot/base
echo "controlled_bench: baseline $refsha -> worktree $wt" >&2
git worktree add --detach "$wt" "$refsha" >&2

# rule guard: trees before round 17 timed queries with a bare count(); the
# full-row action lives in Bench.scala up to its move into Session.scala
if ! grep -qs xxhash64 "$wt/src/main/scala/graft/Bench.scala" \
     "$wt/src/main/scala/graft/Session.scala"; then
  echo "controlled_bench: baseline $refsha predates the full-row rule;" \
       "its times are not comparable" >&2
  git worktree remove --force "$wt" >/dev/null 2>&1 || true
  rm -rf "$wtroot"
  exit 1
fi
cleanup() {
  git worktree remove --force "$wt" >/dev/null 2>&1 || true
  rm -rf "$wtroot"
}
trap cleanup EXIT

load() { cut -d' ' -f1 /proc/loadavg; }
wait_quiet() {
  local waited=0
  while ! awk -v l="$(load)" -v m="$max_load" 'BEGIN{exit !(l<=m)}'; do
    [ "$waited" -ge 1800 ] && { echo "controlled_bench: load never settled" >&2; exit 1; }
    echo "controlled_bench: load $(load) > $max_load — waiting 30s" >&2
    sleep 30; waited=$((waited+30))
  done
}

# one bench run in a given tree; copies the full-record JSON to $2
# (log-then-grep, not a live pipe: head-of-pipe SIGPIPE under pipefail
# killed the first cut of this script after a clean baseline run)
run_bench() { # $1=tree dir, $2=outfile
  wait_quiet
  ( cd "$1" && rm -f BENCH_last_run.json &&
    SPARK_GRAFT_SF_DIR="$sf" sbt -batch "runMain graft.Bench" \
      >"$2.log" 2>/dev/null ) || true
  if [ -s "$1/BENCH_last_run.json" ]; then
    cp "$1/BENCH_last_run.json" "$2.tmp"
  else
    grep -E '^\{"metric"' "$2.log" > "$2.tmp" || true
  fi
  [ -s "$2.tmp" ] || { echo "controlled_bench: no JSON from $1 (see $2.log)" >&2; exit 1; }
  head -1 "$2.tmp" > "$2" && rm -f "$2.tmp" "$2.log"
}

# warm both trees' compile OUTSIDE the measured window
echo "controlled_bench: compiling both trees" >&2
( cd "$wt" && sbt -batch compile >/dev/null 2>&1 )
sbt -batch compile >/dev/null 2>&1

basefiles=(); headfiles=()
for i in $(seq 1 "$pairs"); do
  echo "controlled_bench: pair $i/$pairs — baseline run" >&2
  run_bench "$wt" "${prefix}_base_$i.json"
  basefiles+=("${prefix}_base_$i.json")
  echo "controlled_bench: pair $i/$pairs — HEAD run" >&2
  run_bench "$PWD" "${prefix}_head_$i.json"
  headfiles+=("${prefix}_head_$i.json")
done

python3 - "$prefix" "$refsha" "${basefiles[@]}" -- "${headfiles[@]}" <<'EOF'
import json, sys
prefix, refsha = sys.argv[1], sys.argv[2]
rest = sys.argv[3:]
split = rest.index("--")
basefiles, headfiles = rest[:split], rest[split + 1:]

def min_merge(files):
    out = {}
    for f in files:
        for q, t in json.load(open(f))["queries"].items():
            out[q] = min(out.get(q, float("inf")), t)
    return out

base = min_merge(basefiles)
head = min_merge(headfiles)

# Persist the MIN-MERGED per-query maps as the saved head/base records —
# the same numbers ratio.json's totals use — so the artifacts reproduce
# the verdict math (the per-pair raw files <prefix>_{base,head}_<i>.json
# stay on disk alongside them).
def dump_merged(first_file, merged, out):
    rec = json.load(open(first_file))
    rec["queries"] = {q: round(t, 4) for q, t in sorted(merged.items())}
    rec["value"] = round(sum(merged.values()), 2)
    rec["merged_from_pairs"] = len(basefiles)
    json.dump(rec, open(out, "w"))
dump_merged(headfiles[0], head, f"{prefix}_head.json")
dump_merged(basefiles[0], base, f"{prefix}_base.json")
common = sorted(set(base) & set(head))
bt = sum(base[q] for q in common)
ht = sum(head[q] for q in common)
regress = sorted((q for q in common
                  if head[q] > base[q] * 1.1 and head[q] - base[q] > 0.8),
                 key=lambda q: base[q] - head[q])
new_qs = sorted(set(head) - set(base))
result = {
    "baseline_ref": refsha,
    "common_n": len(common),
    "base_total_sec": round(bt, 2),
    "head_total_sec": round(ht, 2),
    "ratio": round(ht / bt, 4) if bt else None,
    "regressions": [
        {"q": q, "base": round(base[q], 2), "head": round(head[q], 2)}
        for q in regress],
    "new_queries": {q: round(head[q], 2) for q in new_qs},
    "new_total_sec": round(sum(head[q] for q in new_qs), 2),
}
json.dump(result, open(f"{prefix}_ratio.json", "w"), indent=1)
print(f"controlled_bench: common-{len(common)} ratio "
      f"{result['ratio']} (head {ht:.1f} / base {bt:.1f} s), "
      f"{len(regress)} regressions, "
      f"{len(new_qs)} new queries ({result['new_total_sec']} s)")
EOF
echo "controlled_bench: wrote ${prefix}_ratio.json" >&2
