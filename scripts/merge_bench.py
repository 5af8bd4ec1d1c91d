"""Min-merge N full bench passes into the committed round record.

Usage: python scripts/merge_bench.py /tmp/bench_pass_*.json

Per-query minima across passes (each pass is itself min-of-3 inside
bench.py); families recomputed exactly like bench.py; canaries recorded
as the best observed window (min cpu-canary seconds, max membw) —
consistent with pairing per-query minima with the conditions that
produced them; steal listed per pass. Writes BENCH_LOCAL.json and
prints the gate numbers. (Was /tmp-only in r9; committed in r10 per
the round-workflow note.)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench_constants
from bench_constants import (
    ALPHA_CPU,
    REF_CPU_SEC,
    REF_MEMBW_GBPS,
    canary2_factor,
    classify_family,
    perq_threshold,
    to_ref_time,
)


def main() -> None:
    passes = [json.load(open(p)) for p in sys.argv[1:]]
    assert passes, "pass files required"
    queries: dict[str, float] = {}
    for p in passes:
        for k, v in p["queries"].items():
            queries[k] = min(queries.get(k, v), v)
    fams: dict[str, list[float]] = {
        "batch": [], "streaming_lifecycle": [], "maintenance_lifecycle": [],
        "reports": [],
    }
    for k, v in queries.items():
        if k == "extract_210k":
            continue
        fams[classify_family(k)].append(v)
    families = {
        f: {"n": len(vs), "total": round(sum(vs), 4),
            "mean": round(sum(vs) / len(vs), 4)}
        for f, vs in fams.items() if vs
    }
    total = round(sum(v for k, v in queries.items() if k != "extract_210k"), 4)
    n = sum(1 for k in queries if k != "extract_210k")
    cpu = min(p["canary_sha256_256mb_sec"] for p in passes)
    membw = max(p["canary_membw_gbps"] for p in passes)
    bm = families["batch"]["mean"]

    anchors_raw = json.load(open("BASELINE_PERQ.json"))
    v2 = anchors_raw.get("_format") == 2
    anchors = anchors_raw["anchors"] if v2 else {
        k: {"sec": s, "cpu_sec": None, "membw_gbps": None}
        for k, s in anchors_raw.items()
    }

    # shared clamped normalizer + max(2x, +grace) flag line: both live in
    # bench_constants since r12 (ADVICE r11 item 1 / VERDICT r11 #2)
    regressions = {}
    regressions_raw = {}
    for k, v in queries.items():
        if k not in anchors:
            continue
        a = anchors[k]
        now_n = to_ref_time(v, membw)
        anch_n = to_ref_time(a["sec"], a.get("membw_gbps"))
        if now_n > perq_threshold(anch_n):
            regressions[k] = {
                "sec": round(v, 3), "sec_normalized": round(now_n, 3),
                "anchor": a["sec"], "anchor_normalized": round(anch_n, 3),
            }
        # un-normalized view beside the normalized one (ADVICE r10): a
        # query flagged in BOTH is the strong regression signal
        if v > perq_threshold(a["sec"]):
            regressions_raw[k] = {"sec": round(v, 3), "anchor": a["sec"]}

    result = {
        "metric": "suite_wall",
        "value": total,
        "unit": "sec",
        "canary_sha256_256mb_sec": cpu,
        "canary_membw_gbps": membw,
        "n_queries": n,
        "mean_per_query": round(total / max(n, 1), 4),
        "families": families,
        "steal_pct": min(p["steal_pct"] for p in passes),
        "steal_per_pass": [p["steal_pct"] for p in passes],
        "n_passes": len(passes),
        "queries": dict(sorted(queries.items())),
        "sf": passes[0]["sf"],
        "canary_ref_membw_gbps": REF_MEMBW_GBPS,
        "canary_ref_cpu_sec": REF_CPU_SEC,
        "canary_alpha_cpu": ALPHA_CPU,
        "canary2_credit_floor": bench_constants.CANARY2_CREDIT_FLOOR,
        "batch_mean_canary_normalized": round(bm * (membw / REF_MEMBW_GBPS), 4),
        "batch_mean_canary2_normalized": round(
            bm * canary2_factor(membw), 4
        ),
        "perq_regressions": regressions,
        "perq_regressions_raw": regressions_raw,
    }
    with open("BENCH_LOCAL.json", "w") as fh:
        json.dump(result, fh)
    print(json.dumps({k: v for k, v in result.items() if k != "queries"}, indent=1))


if __name__ == "__main__":
    main()
