"""Single source of truth for the bench gate's canary-normalization
constants and family classification (r10 VERDICT stretch 8: these lived
in both bench.py and scripts/merge_bench.py, where a drifted copy would
silently skew the gate).

Provenance of each value is documented at its definition; the model
itself is derived and evidenced in BASELINE.md ("canary normalization")
and PERFORMANCE.md ("round-10 canary calibration").
"""

from __future__ import annotations

# Reference memory-bandwidth canary (256 MiB numpy copy, GB/s): the r8
# five-pass committed record's conditions, under which the current anchor
# margin was established. The r7->r8 bisect proved code-identical trees
# drift linearly with this axis.
REF_MEMBW_GBPS = 2.98

# Reference single-thread CPU canary (sha256 over 256 MiB, seconds): same
# r8 record. Round 9 proved this axis drifts independently of membw.
REF_CPU_SEC = 0.1373

# CPU-canary sensitivity: retired in r13 (PERFORMANCE.md), still reported.
ALPHA_CPU = 0.0

# Bound on the total canary credit (r10 VERDICT "What's wrong" #2 and
# ADVICE: on a slow-canary host the two-axis correction reached 0.67x on
# the driver's noisy single pass — more correction than the two-point
# alpha fit can responsibly support). The combined factor is clamped to
# at most this much CREDIT; the penalty direction (factor > 1, fast host)
# is never clamped — penalizing ourselves needs no evidence bar.
CANARY2_CREDIT_FLOOR = 0.75

# Absolute scheduling-floor grace for the per-query regression flag
# (seconds). Designed for the ~90 sub-second queries where local[32] job
# scheduling dominates; see perq_threshold() for how it is applied.
PERQ_ABS_GRACE_SEC = 0.4

# Family classification (BASELINE.md "family rules"): lifecycle gates run
# real start->drain->stop / write-layout-then-serve cycles dominated by
# fixed per-run commit IO and are compared per-query, never in a mean.
STREAMING_LIFECYCLE = {
    "q93_streaming_dedup", "q94_interval_join", "q164_streaming_index",
    "q199_streaming_drift", "q205_streaming_cdc", "q210_streaming_ivf",
    "q212_streaming_cdc_bucketed", "q215_merge_on_read",
}
MAINTENANCE_LIFECYCLE = {
    "q211_bucketed_merge", "q213_ivf_compaction", "q214_bucketed_pit",
    "q217_bucketed_evolve",
    # r12 (VERDICT r11 #3): q161 writes a fresh inverted index inside the
    # timed query (__spark_entry__.py q161 body) — a write-layout-then-
    # serve gate by BASELINE.md's family rule, misclassified as batch
    # since its introduction. The serve-only latency signal moves to
    # q161b_bm25_serve (prebuilt index), which stays in batch.
    "q161_bm25_indexed",
}


def canary2_factor(membw_gbps: float | None) -> float:
    """Normalization factor (multiply a measured time by this to express
    it at reference-host conditions): membw-linear, credit-clamped at
    CANARY2_CREDIT_FLOOR. A None/0 canary means the axis is unavailable."""
    f = membw_gbps / REF_MEMBW_GBPS if membw_gbps else 1.0
    return max(f, CANARY2_CREDIT_FLOOR)


def to_ref_time(sec: float, membw_gbps: float | None) -> float:
    """Express a measured per-query time at reference-host conditions.

    The single shared per-query normalizer (ADVICE r11: bench.py and
    scripts/merge_bench.py each carried an unclamped copy, so a canary
    over-credit beyond the evidence bound could suppress a normalized
    regression flag that the batch-mean metric would have kept). Built on
    canary2_factor, so the CANARY2_CREDIT_FLOOR clamp applies to every
    use of the model: credit is bounded at 0.75x, penalty never clamped.
    Applied to BOTH sides of the flag line (measurement with its window's
    canary, anchor with its introduction-round canary)."""
    return sec * canary2_factor(membw_gbps)


def perq_threshold(anchor_sec: float) -> float:
    """Per-query regression-flag line for a given anchor (raw or
    normalized — pass the matching anchor value).

    r12 (VERDICT r11 #2): max(2x, +grace) instead of the additive
    2x + grace. The old form granted every query the full scheduling-
    floor slack ON TOP of its 2x headroom, which for the 1-2 s queries
    is ~0.4 s of free drift the floor was never meant to cover (q152 was
    the query it shielded). max() keeps the floor where it matters (a
    0.1 s query may honestly double twice over on scheduling noise) and
    reduces to a clean 2x once the anchor clears the grace."""
    return max(2.0 * anchor_sec, anchor_sec + PERQ_ABS_GRACE_SEC)


def classify_family(name: str) -> str:
    if name in STREAMING_LIFECYCLE:
        return "streaming_lifecycle"
    if name in MAINTENANCE_LIFECYCLE:
        return "maintenance_lifecycle"
    if name.startswith("report_"):
        return "reports"
    return "batch"
