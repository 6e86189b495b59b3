#!/bin/bash
# Canary-gated bench runner. Runs graft.Bench (which embeds the JVM
# host-weather canary before and after its timed loop and emits
# canary_pre_s / canary_post_s in the JSON line — see Bench.canarySeconds
# and BASELINE.md §3). If either canary reading exceeds the quiet band,
# the whole bench is retried once after a cool-down: a hot canary means
# external CPU pressure was present during the window, so the per-key
# numbers are weather, not plan cost. Both JSON lines are printed either
# way; the LAST line is the one to record.
#
# Usage: scripts/bench.sh [sf_dir]   (else SPARK_GRAFT_SF_DIR; env as run.sh)
# Env:   GRAFT_CANARY_MAX  quiet-band upper bound in seconds (default 3.5;
#                          quiet readings on this host are ~1.4-2.0 s)
#        GRAFT_RETRY_SLEEP cool-down before the retry (default 60 s)
set -e
cd "$(dirname "$0")/.."
MAX="${GRAFT_CANARY_MAX:-3.5}"
SLEEP="${GRAFT_RETRY_SLEEP:-60}"

run_once() { scripts/run.sh graft.Bench "$@"; }

quiet() { # quiet <captured-stdout> → exit 0 iff both canaries within band
  # parse only the LAST stdout line: stray JVM/Spark stdout noise above
  # the JSON must not make a genuinely quiet run look contaminated.
  # (The line goes in via argv — a pipe would be clobbered by the heredoc
  # that already occupies python's stdin.)
  local last
  last="$(printf '%s' "$1" | tail -n 1)"
  python3 - "$last" "$MAX" <<'EOF'
import json, sys
j = json.loads(sys.argv[1]); mx = float(sys.argv[2])
ok = j.get("canary_pre_s", 99) <= mx and j.get("canary_post_s", 99) <= mx
sys.exit(0 if ok else 1)
EOF
}

OUT="$(run_once "$@")"
echo "$OUT"
if ! quiet "$OUT"; then
  echo "bench.sh: canary outside quiet band (>${MAX}s) — host weather suspected; retrying once in ${SLEEP}s" >&2
  sleep "$SLEEP"
  OUT="$(run_once "$@")"
  echo "$OUT"
  if ! quiet "$OUT"; then
    echo "bench.sh: retry also weather-contaminated; treat numbers as an upper bound only" >&2
  fi
fi
