#!/bin/bash
# Wait for a healthy CPU window, then probe the named queries on a base
# checkout ($AB_BASE) and on this tree back-to-back, same window.
# Usage: AB_BASE=<base checkout> ab_probe.sh q1,q2,... [reps] [tag]
# Env: AB_OUT (result dir, default .).
set -u
QUERIES="$1"
REPS="${2:-3}"
TAG="${3:-ab}"
BASE="${AB_BASE:?set AB_BASE to the base checkout}"
OUT="$(cd "${AB_OUT:-.}" && pwd)"
HERE="$(cd "$(dirname "$0")/.." && pwd)"
probe() {
  # bench.py's fixed-work steal gauge, timed inside a function as
  # query_probe.py does (a module-level loop reads about 2.5x slower)
  python - <<'PY'
import time
def gauge():
    t0=time.time(); s=0
    for i in range(10_000_000): s+=i
    return round(time.time()-t0,3)
print(gauge())
PY
}
for i in $(seq 1 240); do
  P=$(probe)
  OK=$(python -c "print(1 if $P < 0.5 else 0)")
  if [ "$OK" = "1" ]; then echo "healthy probe $P after $i checks"; break; fi
  echo "probe $P — steal window, waiting ($i)"; sleep 60
done
cd "$BASE" && python tools/query_probe.py "$QUERIES" "$REPS" > "$OUT/${TAG}_base.json" 2>"$OUT/${TAG}_base.err"
echo "base done: $(tail -c 400 "$OUT/${TAG}_base.json")"
cd "$HERE" && python tools/query_probe.py "$QUERIES" "$REPS" > "$OUT/${TAG}_new.json" 2>"$OUT/${TAG}_new.err"
echo "new done: $(tail -c 400 "$OUT/${TAG}_new.json")"
probe
