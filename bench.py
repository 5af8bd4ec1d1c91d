"""Benchmark harness: run every queries() entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:

    {"metric": "suite_wall", "value": N, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": 0.1}

Each query is timed as: build the DataFrame (lazy) + materialize fully via
``df.write.format("noop")`` — measures the real distributed execution
without driver-side collect overhead dominating small results.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
import bench_constants
from hfsa_spark import get_spark


def _steal_jiffies() -> int:
    """Cumulative CPU steal jiffies from /proc/stat (field 8) — this host is
    a noisy VM (3-12% steal, PERFORMANCE.md); recording steal alongside the
    timings lets a round-over-round drift be attributed to the host."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8])
    except Exception:
        return -1


def _total_jiffies() -> int:
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return sum(int(x) for x in parts[1:])
    except Exception:
        return -1


def _cpu_canary() -> float:
    """Seconds to SHA-256 256 MiB single-threaded — a deterministic,
    data-independent host-speed yardstick recorded alongside the suite.

    Why (r8 finding): steal_pct alone does NOT capture this host's
    performance drift. The r8 bisect ran the r6-recorded code
    back-to-back with HEAD on the same day: both clocked q131_pagerank
    at ~4.3 s where the r6 record says 2.29 s, while full-suite passes
    showed steal at 0.08-0.21%% — the host is simply slower than in the
    r6 recording window (noisy-neighbor memory bandwidth / frequency,
    invisible to steal). Cross-round comparisons should divide by the
    canary ratio before calling anything a regression."""
    import hashlib

    t0 = time.perf_counter()
    h = hashlib.sha256()
    block = b"\x5a" * (1 << 20)
    for _ in range(256):
        h.update(block)
    return round(time.perf_counter() - t0, 4)


def _membw_canary() -> float:
    """GB/s copying a 256 MiB numpy buffer — the memory-bandwidth axis
    of the host yardstick (shuffle/sort-heavy queries like pagerank are
    bandwidth-bound, and neighbor contention there is invisible to both
    steal_pct and a cache-resident CPU canary)."""
    import numpy as np

    a = np.full(1 << 28, 90, dtype=np.uint8)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        b = a.copy()
        best = min(best, time.perf_counter() - t0)
        del b
    return round((1 << 28) / best / 1e9, 2)


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _bench_report_suite(spark, timings: dict[str, float]) -> None:
    """The hfsa report suite over the reference's JMH benchmark dataset
    shape — 807 dirs / 209,560 files (BASELINE.md protocol row 1).
    The namespace is generated distributed and persisted as partitioned
    parquet once per machine; timings measure the report queries."""
    import tempfile

    from hfsa_spark.extract import generated_namespace
    from hfsa_spark.extract.pathmat import write_inodes

    ns_path = os.path.join(tempfile.gettempdir(), "hfsa_bench_ns210k")
    if not os.path.exists(os.path.join(ns_path, "_SUCCESS")):
        t0 = time.perf_counter()
        write_inodes(generated_namespace(spark, num_users=10, num_groups=5), ns_path)
        timings["extract_210k"] = round(time.perf_counter() - t0, 4)
    inodes = spark.read.parquet(ns_path)

    from hfsa_spark.operators.inodeinfo import inode_info
    from hfsa_spark.operators.pathreport import path_report
    from hfsa_spark.operators.smallfiles import small_files_report
    from hfsa_spark.operators.summary import summary_report
    from hfsa_spark.operators.userusage import user_usage_report

    def run(name, thunk):
        for _ in range(2):
            # cache-cold per execution — same rationale as the main loop
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            thunk()
            elapsed = round(time.perf_counter() - t0, 4)
            timings[name] = min(timings.get(name, elapsed), elapsed)

    run("report_summary_210k", lambda: summary_report(inodes).by_user.collect())
    run(
        "report_smallfiles_210k",
        lambda: small_files_report(inodes, limit_bytes=2 * 1024 * 1024).path_hotspots.collect(),
    )
    run(
        "report_userusage_210k",
        lambda: user_usage_report(inodes, user="user3", now_ms=1600000000000).collect(),
    )
    run(
        "report_path_210k",
        lambda: path_report(inodes, dirs=["/a"]).counts.collect(),
    )
    run(
        "report_inode_210k",
        lambda: inode_info(inodes, [16385, "/a/b"]).collect(),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = {a for a in sys.argv[1:] if not a.startswith("-")}
    spark = get_spark("hfsa_bench")

    qs = entrymod.queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}

    # JMH-style warm-up: run every query once at the smallest scale factor
    # first. Whole-stage codegen caches on the generated source, which is
    # identical across scale factors for the same plan shape — so this pays
    # the one-time janino/JIT compile cost (measured at up to 8 s for the
    # largest expression trees) outside the timed section, and the timed
    # sf0.1 runs measure steady-state execution, not first-touch compilation.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name, fn in qs.items():
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass  # warm-up is best-effort; the timed run surfaces real errors
    else:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet")
        (
            li.limit(10_000)
            .join(od.limit(10_000), li["l_orderkey"] == od["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg({"l_quantity": "sum"})
            .count()
        )

    # Three timed runs, report the min ("best observed"): this host shows
    # 3-12% CPU steal with occasional multi-second stalls, and a single
    # sample can be 2× off. Min-of-N measures the engine, not the host.
    steal0, jif0 = _steal_jiffies(), _total_jiffies()
    timings: dict[str, float] = {}
    for _ in range(3):
        for name, fn in qs.items():
            # Measurement hygiene (r12): several operators persist()
            # multi-consumer intermediates/outputs inside one query. The
            # CacheManager matches on plan equality, so WITHOUT clearing,
            # run 2/3 of the same query (and a later query sharing an
            # identical subtree, e.g. q101 over q100's spans) would read
            # run 1's cached blocks instead of computing from parquet —
            # min-of-3 would time a cache re-read, not the engine. Every
            # timed execution must start cache-cold.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 4)
            timings[name] = min(timings.get(name, elapsed), elapsed)
    steal1, jif1 = _steal_jiffies(), _total_jiffies()

    if not only:
        _bench_report_suite(spark, timings)

    # extract_210k only runs when /tmp is cold — report it, but keep it out
    # of the total so suite_wall is comparable across rounds
    total = round(sum(v for k, v in timings.items() if k != "extract_210k"), 4)
    n = sum(1 for k in timings if k != "extract_210k")
    steal_pct = (
        round(100.0 * (steal1 - steal0) / max(jif1 - jif0, 1), 2)
        if steal0 >= 0 and jif1 > jif0
        else None
    )
    # Per-family means so the cross-round comparison stays apples-to-apples:
    # streaming-lifecycle gates (q93/q94 run a REAL Structured-Streaming
    # start→drain→stop cycle, ~10× a median batch query) and the 210k-inode
    # report suite would otherwise inflate the batch mean as more land.
    # Cross-round comparisons use families.batch.mean (rule in BASELINE.md).
    # family sets + classification live in bench_constants (single source
    # of truth shared with scripts/merge_bench.py; r10 VERDICT stretch 8)
    fams: dict[str, list[float]] = {
        "batch": [], "streaming_lifecycle": [], "maintenance_lifecycle": [],
        "reports": [],
    }
    for k, v in timings.items():
        if k == "extract_210k":
            continue
        fams[bench_constants.classify_family(k)].append(v)
    families = {
        fam: {"n": len(vs), "total": round(sum(vs), 4),
              "mean": round(sum(vs) / len(vs), 4)}
        for fam, vs in fams.items() if vs
    }
    # host-speed yardstick: min of 3 (the canary must measure the host,
    # not a scheduling blip), taken AFTER the timed runs so it never
    # perturbs them
    canary = min(_cpu_canary() for _ in range(3))
    membw = _membw_canary()
    result = {
        "metric": "suite_wall",
        "value": total,
        "unit": "sec",
        "canary_sha256_256mb_sec": canary,
        "canary_membw_gbps": membw,
        # the suite GROWS across rounds as operators are added —
        # compare families.batch.mean (or per-query values) across
        # rounds, not raw suite_wall
        "n_queries": n,
        "mean_per_query": round(total / max(n, 1), 4),
        "families": families,
        "steal_pct": steal_pct,  # host CPU-steal share during the timed runs
        "queries": timings,
        "sf": _sf_of(sf_dir),
    }
    # Canary-normalized gate number (BASELINE.md "canary normalization"):
    # the r7→r8 bisect proved batch-mean drift tracks shared host MEMORY
    # BANDWIDTH (code-identical trees differed with the membw canary),
    # so the cross-round comparable is batch mean scaled to the
    # reference bandwidth — the r8 five-pass committed record's
    # 2.98 GB/s, the conditions under which the current anchor margin
    # was established. Slower host → normalized < raw (credit), faster
    # host → normalized > raw (penalty): symmetric, can't be gamed by
    # picking a noisy window. Constants + model provenance live in
    # bench_constants.py (shared with scripts/merge_bench.py); the
    # canary2 number's total credit is clamped at CANARY2_CREDIT_FLOOR.
    REF_MEMBW_GBPS = bench_constants.REF_MEMBW_GBPS
    REF_CPU_SEC = bench_constants.REF_CPU_SEC
    ALPHA_CPU = bench_constants.ALPHA_CPU
    bm = families.get("batch", {}).get("mean")
    if bm is not None and membw:
        result["canary_ref_membw_gbps"] = REF_MEMBW_GBPS
        result["batch_mean_canary_normalized"] = round(
            bm * (membw / REF_MEMBW_GBPS), 4
        )
    if bm is not None and membw and canary:
        result["canary_ref_cpu_sec"] = REF_CPU_SEC
        result["canary_alpha_cpu"] = ALPHA_CPU
        result["canary2_credit_floor"] = bench_constants.CANARY2_CREDIT_FLOOR
        result["batch_mean_canary2_normalized"] = round(
            bm * bench_constants.canary2_factor(membw), 4
        )
    # Per-query anchors: BASELINE_PERQ.json freezes each query's first
    # committed min-of-N time at its introduction round (BASELINE.md's r1
    # suite anchor predates most queries, so "2x of baseline" is otherwise
    # only enforceable suite-wide). Any query >2x its own anchor +0.4s
    # noise grace is flagged in the result. --update-anchors appends
    # anchors for queries that don't have one yet (never overwrites).
    anchors_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_PERQ.json"
    )
    if abs(_sf_of(sf_dir) - 0.1) < 1e-9:
        try:
            with open(anchors_path) as fh:
                raw_anchors = json.load(fh)
        except (OSError, ValueError):
            # a missing or corrupted anchor file must never lose the
            # just-finished timed run
            raw_anchors = {}
        v2 = isinstance(raw_anchors, dict) and raw_anchors.get("_format") == 2
        anchors = raw_anchors.get("anchors", {}) if v2 else {
            k: {"sec": s, "cpu_sec": None, "membw_gbps": None}
            for k, s in raw_anchors.items()
        }

        # Normalize BOTH sides of the flag line to the r8 reference
        # conditions (r9 VERDICT next-round #2): the measurement with
        # THIS run's canaries, each anchor with the canaries of its
        # introduction round (null = recorded at/before the reference,
        # treated as reference conditions — conservative, since the r8
        # bisect showed pre-reference windows were FASTER). The shared
        # clamped normalizer and the max(2x, +grace) flag line both live
        # in bench_constants (r12, ADVICE r11 / VERDICT r11 #2).
        regressions = {}
        regressions_raw = {}
        for k, v in timings.items():
            if k not in anchors:
                continue
            a = anchors[k]
            now_n = bench_constants.to_ref_time(v, membw)
            anch_n = bench_constants.to_ref_time(a["sec"], a.get("membw_gbps"))
            if now_n > bench_constants.perq_threshold(anch_n):
                regressions[k] = {
                    "sec": round(v, 3),
                    "sec_normalized": round(now_n, 3),
                    "anchor": a["sec"],
                    "anchor_normalized": round(anch_n, 3),
                }
            # ADVICE r10: the normalized flag line can mask a genuine
            # regression whenever the canary model over-credits — emit the
            # UN-normalized flags beside it so both views are on record
            # (raw flags are expected nonzero on slow-host days; a query
            # flagged in BOTH views is the strong regression signal).
            if v > bench_constants.perq_threshold(a["sec"]):
                regressions_raw[k] = {"sec": round(v, 3), "anchor": a["sec"]}
        result["perq_regressions"] = regressions
        result["perq_regressions_raw"] = regressions_raw
        if "--update-anchors" in sys.argv:
            fresh = {
                k: {
                    "sec": round(v, 4),
                    "cpu_sec": canary,
                    "membw_gbps": membw,
                }
                for k, v in timings.items()
                if k not in anchors and k != "extract_210k"
            }
            if fresh:
                anchors.update(fresh)
                out_anchors = dict(sorted(anchors.items()))
                payload = (
                    {**raw_anchors, "anchors": out_anchors}
                    if v2
                    else {  # first write upgrades the file to v2
                        "_format": 2,
                        "_ref": {
                            "cpu_sec": REF_CPU_SEC,
                            "membw_gbps": REF_MEMBW_GBPS,
                            "alpha_cpu": ALPHA_CPU,
                        },
                        "anchors": out_anchors,
                    }
                )
                with open(anchors_path, "w") as fh:
                    json.dump(payload, fh, indent=1)
                print(f"# anchored {len(fresh)} new queries", file=sys.stderr)

    # Durable full-name record (the driver's stdout capture keeps only the
    # last 2000 chars; both BENCH_r01 and BENCH_r02 ended up parsed:null
    # because the full-name queries dict alone exceeds that window).
    # Default target is the UNCOMMITTED scratch file BENCH_RUN.json so a
    # driver/ad-hoc run never dirties the tree; the committed round record
    # BENCH_LOCAL.json is written only under an explicit --record flag.
    # Partial (`bench.py qNN ...`) runs must not clobber either artifact.
    out_name = None
    if not only:
        record = os.environ.get("SPARK_GRAFT_BENCH_RECORD") == "1" or "--record" in sys.argv
        out_name = "BENCH_LOCAL.json" if record else "BENCH_RUN.json"
        try:
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   out_name), "w") as fh:
                json.dump(result, fh)
        except OSError:
            pass
    # Printed line: the driver parses the LAST ~2000 stdout chars. The full
    # 224-entry per-query dict is ~2.5k chars even with qNN keys and
    # 2-decimal values, so it can NEVER fit alongside the summary — the r11
    # guard therefore dropped it entirely, which blinded the driver's
    # per-query regression and scaling ground truth (PERF_r12 per_query={},
    # VERDICT r12 #1). Fix: pack as many per-query entries as fit under the
    # window, ordered by DESCENDING time — the expensive tail (where
    # regressions and scaling behavior live) is always visible, and a query
    # that regresses RISES into the printed set, so the truncation cannot
    # hide a slowdown. queries_omitted counts the cheap entries that did
    # not fit; the full-name, full-precision record is in the JSON file
    # named by queries_in (BENCH_RUN.json / BENCH_LOCAL.json).
    def _abbr(k: str) -> str:
        head = k.split("_")[0]
        return head if k.startswith("q") and head[1:].isdigit() else k

    compact = dict(result)
    compact["queries"] = {}
    compact["queries_omitted"] = len(timings)
    if out_name:
        compact["queries_in"] = out_name
    budget = 1880 - len(json.dumps(compact, separators=(",", ":")))
    entries = sorted(
        ((_abbr(k), round(v, 2)) for k, v in timings.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    kept: dict[str, float] = {}
    used = 0
    for k, v in entries:
        frag_len = len(json.dumps({k: v}, separators=(",", ":"))) - 2 + 1
        if used + frag_len > budget:
            break  # strictly the top-by-time prefix — deterministic
        kept[k] = v
        used += frag_len
    compact["queries"] = kept
    if len(kept) == len(timings):
        compact.pop("queries_omitted")
    else:
        compact["queries_omitted"] = len(timings) - len(kept)
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
