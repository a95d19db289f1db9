#!/bin/sh
# Orchestrate the replicated-scale study (SCALING.md round-6 addendum):
# one subprocess per (engine, sf, query) so any single run -- e.g. a
# deliberately quadratic oracle at 100x data -- is bounded by a hard
# timeout without stalling the rest of the study.
#
# The queries are bench.py's HEADLINE. Run from the repository root.
#
# Usage: sh tools_scale_run.sh <sf_dir> <out_prefix> [timeout_s]
# Appends "<query> <median_ms>" (or "<query> TIMEOUT"/"<query> ERROR")
# to <out_prefix>.spark.txt / <out_prefix>.duckdb.txt.
set -u
SF_DIR=$1
OUT=$2
TMO=${3:-600}
QUERIES=$(python -c "import bench; print(' '.join(bench.HEADLINE))") || exit 1

for ENGINE in spark duckdb; do
  F="$OUT.$ENGINE.txt"
  : > "$F"
  for Q in $QUERIES; do
    if OUTLINE=$(timeout "$TMO" python tools_scale_study.py "$ENGINE" "$SF_DIR" "$Q" 2>>"$OUT.$ENGINE.err"); then
      echo "$OUTLINE" >> "$F"
    else
      RC=$?
      if [ "$RC" -eq 124 ]; then echo "$Q TIMEOUT" >> "$F"; else echo "$Q ERROR" >> "$F"; fi
    fi
    tail -1 "$F"
  done
done
