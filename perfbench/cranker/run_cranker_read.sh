#!/bin/sh
# Benchmark copy of examples/cranker_standin/run_cranker_read.sh: the same
# output, plus one timing line per call when PERFBENCH_STAGE_LOG is set
# (stage, start, end, input bytes, input path).
if [ -n "$PERFBENCH_STAGE_LOG" ]; then t0=$(date +%s.%N); fi
head -n1 "$1" | grep -q "^peptide_id" || { echo "missing header" >&2; exit 4; }
awk -F'\t' 'NR==1{next} {print $1 "\t" length($2)}' "$1" > "$2"
if [ -n "$PERFBENCH_STAGE_LOG" ]; then
  echo "read $t0 $(date +%s.%N) $(wc -c < "$1") $1" >> "$PERFBENCH_STAGE_LOG"
fi
