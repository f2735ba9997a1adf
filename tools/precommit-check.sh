#!/usr/bin/env bash
# Snapshot-safety gate (judge r8): NEVER let a non-compiling tree reach
# a commit or an end-of-round snapshot. Run before any commit of source
# changes; the round checklist ends with this script.
#
#   tools/precommit-check.sh          # one-grower, one-lifetime,
#                                     # one-loop, one-packer,
#                                     # run-owned-broadcast,
#                                     # one-scorer and one-metric-pass
#                                     # checks, then compile main +
#                                     # tests (~20 s warm)
#   tools/precommit-check.sh --test   # additionally run the full suite
#                                     # and the benchmark's unit tests
#   tools/precommit-check.sh --bench  # additionally run one short
#                                     # boost_wide benchmark pass on
#                                     # seeds 1 and 2, require their
#                                     # outputs correct and, at 4
#                                     # threads, their models pinned
#   tools/precommit-check.sh --dev    # additionally run the ChaosCheck
#                                     # and SkewCheck goldens and one
#                                     # PlanDump at sf0.001; each must
#                                     # exit 0
#
# Flags combine (`--test --bench --dev` in any order); the steps always
# run in the order above. An unknown argument prints this usage and
# exits 2 before anything runs.
#
# The benchmark stores model fingerprints per source digest, so its own
# check accepts whatever model a source change produces. The --bench
# step therefore pins the boost_wide fingerprints of seed 1 and of
# seed 2 below (seed 2 is held out: a speed change is tuned on seed 1,
# so seed 2 checks the model on a seed nobody tuned against). An edit
# that changes the model must update both pins in the same commit and
# say why in CHANGES.md. The pins hold for 4 threads (the partition
# count); with another thread count the check is skipped.
#
# Exit 0 = safe to commit/snapshot. Anything else: fix or `git stash`
# the in-flight hunk before snapshotting.
set -euo pipefail
cd "$(dirname "$0")/.."

BOOST_WIDE_S1_PIN="model=dfc7eca23b657c26b3125bb3;pred=40c3b4cf96571000"
BOOST_WIDE_S2_PIN="model=70c17dc21a20acc14df7316c;pred=40c380edb212c000"

run_test=0 run_bench=0 run_dev=0
for arg in "$@"; do
  case "$arg" in
    --test) run_test=1 ;;
    --bench) run_bench=1 ;;
    --dev) run_dev=1 ;;
    *)
      echo "[precommit] unknown argument: $arg" >&2
      echo "usage: tools/precommit-check.sh [--test] [--bench] [--dev]" >&2
      exit 2 ;;
  esac
done

# One tree grower: every tree grows through Trainer.buildTrees, so no
# other main source may run its own histogram aggregation.
growers="$(grep -rl --include='*.scala' 'aggregateHist(' src/main |
  grep -v '/Trainer\.scala$' || true)"
if [[ -n "$growers" ]]; then
  echo "[precommit] SECOND TREE GROWER: only Trainer.scala may call" \
    "aggregateHist( — grow trees through Trainer.buildTrees instead:"
  echo "$growers"
  exit 1
fi

# One run lifetime: every boosting loop sets and clears its graft-train-*
# job group through RunLifetime, so no other main source may do either.
groupers="$(grep -rlE --include='*.scala' 'setJobGroup\(|clearJobGroup\(' \
  src/main | grep -v '/RunLifetime\.scala$' || true)"
if [[ -n "$groupers" ]]; then
  echo "[precommit] SECOND JOB-GROUP OWNER: only RunLifetime.scala may" \
    "call setJobGroup( or clearJobGroup( — run the loop inside a" \
    "RunLifetime instead:"
  echo "$groupers"
  exit 1
fi

# One boosting loop: every tree model (single-label, multi-label and
# vector-leaf) trains in Trainer.boost's round loop, so a `life.rounds`
# loop runs only in Trainer.scala and in gblinear's GraftLinear.scala
# (gblinear is not a tree model).
loops="$(grep -rl --include='*.scala' 'life\.rounds' src/main |
  grep -vE '/(Trainer|GraftLinear)\.scala$' || true)"
if [[ -n "$loops" ]]; then
  echo "[precommit] SECOND BOOSTING LOOP: only Trainer.scala (tree" \
    "models) and GraftLinear.scala (gblinear) may run life.rounds —" \
    "train through Trainer.boostTargets instead:"
  echo "$loops"
  exit 1
fi

# One block packer: every training input (single-label, multi-label,
# vector-leaf, eval) is binned by GraftBoost.toBinned, so `.binRow(`
# has exactly one call site in src/main outside Binner.scala.
binners="$(grep -rn --include='*.scala' '\.binRow(' src/main |
  grep -v '/Binner\.scala:' || true)"
if [[ "$(grep -c . <<<"$binners")" -ne 1 ]]; then
  echo "[precommit] NOT ONE BLOCK PACKER: \`.binRow(\` must have exactly" \
    "one call site outside Binner.scala (GraftBoost.toBinned) — pack" \
    "through toBinned instead:"
  echo "${binners:-(none)}"
  exit 1
fi

# Run-owned broadcasts: every broadcast the learner makes belongs to a
# RunLifetime (`life.broadcast`), so a failing job or a hard stop frees
# it with the run; no learner source calls a raw `.broadcast(`.
rawbc="$(grep -rn --include='*.scala' '\.broadcast(' src/main/scala/graft/learner |
  grep -v '/RunLifetime\.scala:' | grep -v '\blife\.broadcast(' || true)"
if [[ -n "$rawbc" ]]; then
  echo "[precommit] RAW BROADCAST IN THE LEARNER: create it through the" \
    "run's RunLifetime (life.broadcast / life.destroy) instead:"
  echo "$rawbc"
  exit 1
fi

# One scoring expression: every per-row model output (margin,
# prediction, leaf ids, contributions, interactions) is a mode of
# EnsembleScore, the only case class in its file.
scorers="$(grep -c 'case class' src/main/scala/graft/functions/EnsembleScore.scala || true)"
if [[ "$scorers" -ne 1 ]]; then
  echo "[precommit] NOT ONE SCORING EXPRESSION: EnsembleScore.scala holds" \
    "$scorers case classes — add an EnsembleScore.Output mode instead"
  exit 1
fi

# One metric pass: every eval metric but cox-nloglik sums in the one
# partition-ordered job of Metrics.computeAll, so Metrics.scala holds a
# single runJob( and no completion-order or second summing path.
metrics=src/main/scala/graft/learner/Metrics.scala
sumpaths="$(grep -nE 'treeAggregate|treeReduce|detSum2' "$metrics" || true)"
passes="$(grep -c 'runJob(' "$metrics" || true)"
if [[ -n "$sumpaths" || "$passes" -gt 1 ]]; then
  echo "[precommit] NOT ONE METRIC PASS: Metrics.scala must sum every" \
    "metric in computeAll's one runJob( (found $passes) — add a Term" \
    "instead of a treeAggregate, treeReduce or detSum2 path:"
  echo "${sumpaths:-(no second summing path)}"
  exit 1
fi

echo "[precommit] sbt Test/compile ..."
if ! sbt -batch "Test/compile" >/tmp/precommit-compile.log 2>&1; then
  echo "[precommit] COMPILE FAILED — do not commit/snapshot this tree:"
  grep -E "\[error\]" /tmp/precommit-compile.log | head -30
  exit 1
fi
echo "[precommit] compile green."

if (( run_test )); then
  echo "[precommit] sbt test ..."
  if ! sbt -batch test >/tmp/precommit-test.log 2>&1; then
    echo "[precommit] TESTS FAILED:"
    grep -E "\*\*\* FAILED|\[error\]" /tmp/precommit-test.log | head -30
    exit 1
  fi
  grep -E "Tests: succeeded" /tmp/precommit-test.log | tail -1 || true
  echo "[precommit] perfbench unit tests ..."
  if ! python3 -m unittest discover -s perfbench/tests \
      >/tmp/precommit-perfbench.log 2>&1; then
    echo "[precommit] PERFBENCH TESTS FAILED:"
    tail -30 /tmp/precommit-perfbench.log
    exit 1
  fi
  tail -3 /tmp/precommit-perfbench.log
  echo "[precommit] tests green."
fi

if (( run_bench )); then
  for seed in 1 2; do
    pin_var="BOOST_WIDE_S${seed}_PIN"
    log="/tmp/precommit-bench-s${seed}.log"
    echo "[precommit] perfbench boost_wide seed $seed smoke ..."
    if ! python3 perfbench/run.py --workload boost_wide --seed "$seed" \
        --seconds 1 --trace 0 >"$log" 2>&1; then
      echo "[precommit] BENCHMARK RUN FAILED (seed $seed):"
      tail -30 "$log"
      exit 1
    fi
    if ! tail -n 1 "$log" | python3 -c \
        'import json, sys; sys.exit(0 if json.loads(sys.stdin.read()).get("correct") is True else 1)'; then
      echo "[precommit] BENCHMARK OUTPUTS INCORRECT (seed $seed):"
      tail -5 "$log"
      exit 1
    fi
    echo "[precommit] benchmark outputs correct."
    if ! python3 - "$seed" "${!pin_var}" \
        "perfbench/.work/report-boost_wide-s${seed}-t0.json" <<'PY'
import json, sys
seed, pin, path = sys.argv[1], sys.argv[2], sys.argv[3]
with open(path) as fh:
    report = json.load(fh)
if report["threads"] != 4:
    print("[precommit] model pin skipped: the pin holds for 4 threads, "
          "this run used %d" % report["threads"])
    sys.exit(0)
bad = [p["fingerprint"] for p in report["timed"] if p["fingerprint"] != pin]
if bad:
    print("[precommit] MODEL CHANGED: boost_wide seed %s fingerprint %s, "
          "pinned %s" % (seed, bad[0], pin))
    sys.exit(1)
print("[precommit] seed %s model matches the pin (%d passes)."
      % (seed, len(report["timed"])))
PY
    then
      exit 1
    fi
  done
fi

if (( run_dev )); then
  plans="$(mktemp -d)"
  trap 'rm -rf "$plans"' EXIT
  dev_step() {
    local name="$1"; shift
    echo "[precommit] $name ..."
    if ! "$@" >/tmp/precommit-dev.log 2>&1; then
      echo "[precommit] $name FAILED:"
      grep -E "CHAOS|SKEW|PLAN FAIL|Exception|\[error\] \(" \
        /tmp/precommit-dev.log | head -20
      exit 1
    fi
    grep -E "^(CHAOS|SKEW|dumped) " /tmp/precommit-dev.log || true
  }
  dev_step ChaosCheck sbt -batch "runMain graft.ChaosCheck"
  dev_step "SkewCheck lines" sbt -batch "runMain graft.SkewCheck lines 20000"
  dev_step PlanDump env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
    SPARK_GRAFT_ONLY=s1_csv_roundtrip \
    sbt -batch "runMain graft.PlanDump $plans"
  echo "[precommit] dev goldens green."
fi
