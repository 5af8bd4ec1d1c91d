"""Steadiness tool: run one workload N times with different seeds and print,
for each metric, the median, the quartiles and the relative spread
(q3 - q1) / median next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload curation_gates --runs 10 --seed 100 \\
        --save /path/to/set_a.json [--against /path/to/set_b.json]

``--against`` compares the medians with an earlier saved set: the shift
(new - old) / old, signed so that positive is worse, must stay within the
bound, and the share of failed ops must be exactly the same.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}, bench


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, str]:
    """One run's result line and its diagnostic line (passes, host)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    diag = [ln for ln in out.stderr.splitlines() if ln.startswith("perfbench ")]
    return json.loads(out.stdout.strip().splitlines()[-1]), (diag or [""])[-1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed; run i uses seed + i")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="write the runs to this JSON file")
    ap.add_argument("--against", help="compare medians with a saved set")
    args = ap.parse_args()
    spec, bench = _spec()

    runs = []
    for i in range(args.runs):
        r, diag = _run(args.workload, args.seed + i, bench["run_seconds"], args.trace)
        runs.append(r)
        print(f"run {i + 1}/{args.runs} seed={args.seed + i} failed={r['failed']}/"
              f"{r['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        print(f"    {diag}", flush=True)
    if args.save:
        with open(args.save, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs}, fh, indent=1)

    old = None
    if args.against:
        with open(args.against) as fh:
            old = json.load(fh)["runs"]

    ok = all(r["correct"] for r in runs)
    print(f"\n{'metric':<32} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} "
          f"{'bound':>6} {'shift':>7}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        spread = (q3 - q1) / med if med else 0.0
        m = spec.get(name, {})
        bound = m.get("bound")
        line = (f"{name:<32} {med:>11.4g} {q1:>11.4g} {q3:>11.4g} {spread:>7.3f} "
                f"{bound if bound is not None else '-':>6}")
        if old is not None:
            before = statistics.median(r["metrics"][name]["value"] for r in old)
            shift = (med - before) / before if before else 0.0
            if m.get("better") == "higher":
                shift = -shift
            line += f" {shift:>+7.3f}"
            if bound is not None and shift > bound:
                line += "  WORSE THAN BOUND"
                ok = False
        if bound is not None and spread > bound:
            line += "  SPREAD OVER BOUND"
            ok = False
        elif bound is not None and spread > bound / 3:
            line += "  (spread over a third of the bound)"
        print(line)

    share = {r["failed"] / r["attempted"] for r in runs}
    print(f"\nfailed share per run: {sorted(share)}")
    if len(share) != 1:
        ok = False
    if old is not None and {r["failed"] / r["attempted"] for r in old} != share:
        print("failed share differs from the saved set")
        ok = False
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
