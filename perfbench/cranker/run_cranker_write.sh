#!/bin/sh
# Benchmark copy of examples/cranker_standin/run_cranker_write.sh, with the
# same optional timing line as run_cranker_read.sh.
if [ -n "$PERFBENCH_STAGE_LOG" ]; then t0=$(date +%s.%N); fi
[ -n "$MCR_CACHE_ROOT" ] || { echo "MCR_CACHE_ROOT not set" >&2; exit 3; }
cp "$2" "$3"
if [ -n "$PERFBENCH_STAGE_LOG" ]; then
  echo "write $t0 $(date +%s.%N) $(wc -c < "$2") $2" >> "$PERFBENCH_STAGE_LOG"
fi
