#!/usr/bin/env bash
# Pre-round gate (dev-side mirror of the driver's checks + the sf0.1
# value gate from VERDICT r7 item 2).
#
#   tools/round_gate.sh [--skip-tests]
#
# Runs, in order, failing fast:
#   1. sbt test                      (full ScalaTest suite)
#   2. ExtensionsDemo                (a fresh JVM installed only through
#      spark.sql.extensions=graft.GraftExtensions must fold the rule and
#      plan the as-of strategy)
#   3. Verify + check_oracle  sf0.01 (the driver's t2 correctness SF)
#   4. Verify + check_oracle  sf0.1  (the bench SF — scale-sensitive
#      params drift with volume; q129's 6-dp rounding-boundary flip was
#      only visible here). Emits CORRECTNESS_sf01.json in the repo root
#      as the committed artifact.
#
# duckdb/pyarrow are dev-container tools (same as the driver's oracle),
# not dependencies of the shipped library.
set -euo pipefail
cd "$(dirname "$0")/.."

CPUS="${SPARK_GRAFT_CPUS:-16}"

if [[ "${1:-}" != "--skip-tests" ]]; then
  echo "== sbt test =="
  sbt -batch test
fi

echo "== ExtensionsDemo =="
demo="$(sbt -batch "runMain graft.ExtensionsDemo")"
for want in "RULE_FOLDED=true" "ASOF_STRATEGY planned=true"; do
  if ! grep -qF "$want" <<<"$demo"; then
    echo "ExtensionsDemo did not print $want"
    exit 1
  fi
done

echo "== Verify + oracle @ sf0.01 =="
SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.Verify /root/testdata/sf0.01 target/verify_gate001"
python3 tools/check_oracle.py /root/testdata/sf0.01 target/verify_gate001

echo "== Verify + oracle @ sf0.1 =="
SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.Verify /root/testdata/sf0.1 target/verify_gate01"
python3 tools/check_oracle.py /root/testdata/sf0.1 target/verify_gate01 CORRECTNESS_sf01.json

echo "== gate green =="
