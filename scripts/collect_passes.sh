#!/bin/bash
# Opportunistic clean-window bench collector (VERDICT r10 item 1).
#
# Loop: probe instantaneous steal for 20 s; when it reads below the
# protocol's 0.5% recording rule (BASELINE.md:133), run one full
# `python bench.py` pass (snapshotting BENCH_RUN.json to
# $OUTDIR/pass_NN.json) — each clean window yields one min-merge pool
# member. Each pass's own recorded steal_pct decides whether it
# qualifies at merge time.
#
# Touch $OUTDIR/STOP to stop the loop after the current pass (avoids
# pkill, which matches the caller's own compound command).
#
# Usage: collect_passes.sh [OUTDIR] [MAX_PASSES]
set -u
OUTDIR="${1:-/tmp/r11_passes}"
MAX="${2:-12}"
mkdir -p "$OUTDIR"
cd /root/repo

steal_now() {
    read -r _ u0 n0 s0 i0 w0 q0 sq0 st0 _ < /proc/stat
    sleep 20
    read -r _ u1 n1 s1 i1 w1 q1 sq1 st1 _ < /proc/stat
    local t0=$((u0+n0+s0+i0+w0+q0+sq0+st0))
    local t1=$((u1+n1+s1+i1+w1+q1+sq1+st1))
    local dt=$((t1-t0)); [ "$dt" -le 0 ] && dt=1
    awk -v a="$((st1-st0))" -v b="$dt" 'BEGIN{printf "%.2f", 100*a/b}'
}

# resume numbering after existing passes
n=$(ls "$OUTDIR"/pass_*.json 2>/dev/null | wc -l)
while [ "$n" -lt "$MAX" ]; do
    [ -e "$OUTDIR/STOP" ] && { echo "STOP flag — exiting"; break; }
    if pgrep -f "python bench.py" >/dev/null || pgrep -f "python3 bench.py" >/dev/null; then
        # (matches either spelling; the launch below always uses python3)
        echo "[$(date +%H:%M:%S)] a bench process is already running — waiting 120s"
        sleep 120
        continue
    fi
    s=$(steal_now)
    ok=$(awk -v s="$s" 'BEGIN{print (s < 0.5) ? 1 : 0}')
    ts=$(date +%H:%M:%S)
    if [ "$ok" = "1" ]; then
        # only claim a pass number once the bench exits 0 (ADVICE r11:
        # a failing launch must not silently consume the MAX budget)
        try=$((n+1))
        echo "[$ts] steal=$s% < 0.5% -> launching pass attempt $try"
        python3 bench.py > "$OUTDIR/pass_$(printf '%02d' "$try").log" 2>&1
        rc=$?
        if [ "$rc" = "0" ] && [ -s BENCH_RUN.json ]; then
            n=$try
            cp BENCH_RUN.json "$OUTDIR/pass_$(printf '%02d' "$n").json"
            echo "[$(date +%H:%M:%S)] pass $n done rc=0"
        else
            echo "[$(date +%H:%M:%S)] bench attempt failed rc=$rc — not counted; waiting 120s"
            sleep 120
            continue
        fi
    else
        echo "[$ts] steal=$s% >= 0.5% -> waiting 120s"
        sleep 120
    fi
done
echo "collector done: $n passes in $OUTDIR"
