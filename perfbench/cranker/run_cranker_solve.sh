#!/bin/sh
# Benchmark copy of examples/cranker_standin/run_cranker_solve.sh, with the
# same optional timing line as run_cranker_read.sh.
if [ -n "$PERFBENCH_STAGE_LOG" ]; then t0=$(date +%s.%N); fi
awk -F'\t' '{print $1 "\t" $2 "\t" ($2 % 7 == 0 ? "match" : "nomatch")}' "$1" > "$2"
if [ -n "$PERFBENCH_STAGE_LOG" ]; then
  echo "solve $t0 $(date +%s.%N) $(wc -c < "$1") $1" >> "$PERFBENCH_STAGE_LOG"
fi
