#!/bin/bash
# Quiet-sample hunter (r14): loop quiet_gate -> bench until a sample is
# BOTH probe-quiet on entry AND clean in hindsight (after-calib gemm
# inside the BASELINE window, bounded steal), or attempts run out.
# r15 (ADVICE fixes): ANY nonzero rc counts as a failed attempt — never
# judge the record unless this attempt's bench.py exited 0 AND
# rewrote the file (freshness stat-check); on reject or final failure
# the previously accepted record is restored, so the file on
# disk is always an ACCEPTED sample (or absent).
set -u
cd /root/repo
ATTEMPTS=${1:-6}
# bench.py writes one record per core count (get_spark's default is 32)
REC="bench_last_${SPARK_GRAFT_CPUS:-32}.json"
SAVED=""
if [ -f "$REC" ]; then
  SAVED=$(mktemp /tmp/bench_saved_XXXX.json)
  cp "$REC" "$SAVED"
fi
restore() {
  if [ -n "$SAVED" ]; then cp "$SAVED" "$REC"; else rm -f "$REC"; fi
}
for i in $(seq 1 "$ATTEMPTS"); do
  echo "=== attempt $i $(date -u +%H:%M:%S)" >&2
  mtime0=$(stat -c %Y "$REC" 2>/dev/null || echo 0)
  python tools/quiet_gate.py --thresh 0.11 --max-wait 3600 -- python bench.py >/dev/null 2>&1
  rc=$?
  if [ "$rc" -eq 3 ]; then echo "host never quiet; retrying" >&2; continue; fi
  if [ "$rc" -ne 0 ]; then echo "bench.py failed rc=$rc; retrying" >&2; continue; fi
  mtime1=$(stat -c %Y "$REC" 2>/dev/null || echo 0)
  if [ "$mtime1" -le "$mtime0" ] && [ "$mtime0" -ne 0 ]; then
    echo "$REC not rewritten (stale); retrying" >&2
    continue
  fi
  verdict=$(REC="$REC" python - <<'EOF'
import json, os
d = json.load(open(os.environ["REC"]))
g0 = d["calib"]["before"]["gemm_sec"]; g1 = d["calib"]["after"]["gemm_sec"]
steal = sum(d.get("steal_ticks", {}).values())
ok = g0 < 0.12 and g1 < 0.12 and steal < 2000
print(f"{'ACCEPT' if ok else 'REJECT'} headline={d['value']} gemm={g0}/{g1} steal={steal}")
EOF
)
  echo "$verdict" >&2
  case "$verdict" in
    ACCEPT*) [ -n "$SAVED" ] && rm -f "$SAVED"; exit 0 ;;
    *) cp "$REC" "/tmp/bench_rejected_$i.json"; restore ;;
  esac
done
restore
[ -n "$SAVED" ] && rm -f "$SAVED"
echo "no quiet sample in $ATTEMPTS attempts" >&2
exit 4
