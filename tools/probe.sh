#!/bin/bash
# Isolated bench probe: run graft.Bench on the compiled classes for a
# comma-separated query list, without sbt start-up, with the JVM flags
# and classpath of tools/run_verify.sh. Usage:
#   tools/probe.sh <queries-csv> [repeat=4] [sfdir]
# sfdir defaults to Bench's own (SPARK_GRAFT_SF_DIR); SPARK_GRAFT_CPUS
# defaults to nproc; SPARK_GRAFT_EXPLAIN=1 prints each query's plan.
set -e
source "$(dirname "$0")/run_verify.sh"
exec env SPARK_GRAFT_ONLY="$1" \
  SPARK_GRAFT_REPEAT="${2:-4}" \
  ${3:+SPARK_GRAFT_SF_DIR="$3"} \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
  java $OPENS -Xmx16g -cp "$CP" graft.Bench
