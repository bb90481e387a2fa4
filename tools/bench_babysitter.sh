#!/bin/bash
# Clean-window bench babysitter.
#
# This VM has host-level co-tenants: CPU and, worse, memory-bus pressure
# arrive intermittently and wreck shuffle-/scan-heavy bench cells 5-12x
# while leaving scalar cells untouched (BASELINE.md, round-3 host-pollution
# event; the polluted run is kept as BENCH/bench_r3_run1_polluted_host.json).
# bench.py already refuses witness-dirty snapshots; this script closes the
# loop by only LAUNCHING when the host shows two consecutive clean samples
# (1-thread busy probe < 400 ms AND 256 MB memstream > 8000 MB/s — the same
# witnesses bench.py emit gates on), and by re-arming + retrying any run
# whose snapshot was refused because contention arrived mid-run.
#
# Usage:
#   tools/bench_babysitter.sh <snapshot.json> [ENV=VAL ...]
# e.g.
#   tools/bench_babysitter.sh BENCH/bench_scaling.json SPARK_GRAFT_PHASES=scaling
#
# Never run other Spark work while this is armed: your own load reads as a
# dirty window and delays the launch (and would pollute a running bench).
set -u
cd "$(dirname "$0")/.."
OUT=$1; shift
DEADLINE=$(( $(date +%s) + ${BABYSIT_MAX_S:-12600} ))
TRIES=${BABYSIT_MAX_TRIES:-4}

# Thresholds are overridable for a LABELED degraded-window run (e.g. a
# multi-hour pollution event that would otherwise starve the round of any
# post-fix snapshot): BABYSIT_PROBE_MS=450 BABYSIT_MIN_MBPS=7000 ... —
# name the output *_tier2.json and never quote it next to clean cells.
PROBE_MS_MAX=${BABYSIT_PROBE_MS:-400}
MIN_MBPS=${BABYSIT_MIN_MBPS:-8000}

probe_clean() {
python - "$PROBE_MS_MAX" "$MIN_MBPS" <<'PY'
import time, sys
import numpy as np
probe_max, mbps_min = float(sys.argv[1]), float(sys.argv[2])
t0 = time.time(); acc = 0
for j in range(3_000_000):
    acc += j * j
probe = (time.time() - t0) * 1000
buf = np.ones(32_000_000)  # 256 MB
t0 = time.time(); s = buf.sum()
mbps = 256 / (time.time() - t0)
print(f"{time.strftime('%H:%M:%S')} probe={probe:.0f}ms mem={mbps:.0f}MB/s", flush=True)
sys.exit(0 if (probe < probe_max and mbps > mbps_min) else 1)
PY
}

wait_clean() {
  local streak=0
  while [ "$(date +%s)" -lt "$DEADLINE" ]; do
    if probe_clean; then streak=$((streak + 1)); else streak=0; fi
    [ "$streak" -ge 2 ] && return 0
    sleep 60
  done
  return 1
}

try=0
while [ ! -s "$OUT" ] && [ "$(date +%s)" -lt "$DEADLINE" ] && [ "$try" -lt "$TRIES" ]; do
  wait_clean || { echo "no clean window before deadline"; exit 1; }
  try=$((try + 1))
  echo "$(date +%H:%M:%S) launching $(basename "$OUT") (try $try)"
  env "$@" SPARK_GRAFT_SNAPSHOT="$OUT" python bench.py
  if [ -s "$OUT" ]; then
    echo "$(date +%H:%M:%S) $(basename "$OUT") written"
  else
    echo "$(date +%H:%M:%S) $(basename "$OUT") refused (witness-dirty); re-arming"
  fi
done
[ -s "$OUT" ]
