#!/usr/bin/env bash
# Full local correctness gate: sbt tests + driver-style DuckDB oracle diff.
# Usage: scripts/check.sh [sfDir]  (default /root/testdata/sf0.01)
# Runs under the same environment as the tier-1 test command: offline sbt,
# a driver heap of half the host's memory clamped to 2..8 GiB (instead of
# build.sbt's 24g default), one Spark core per CPU and a fixed local dir.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft_check_XXXX)"

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

sbt -batch test
sbt -batch "runMain graft.Verify $SF_DIR $OUT"
python3 tools/check_oracle.py "$SF_DIR" "$OUT"
echo "ALL GREEN: tests + oracle diff @ $SF_DIR"
