"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload fsimage_reports --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process, one closed-loop client
thread, one session from ``hfsa_spark.get_spark`` on ``local[nproc]``:

1. set-up: start the session, generate the seeded inputs and write them;
2. first pass: every op kind once in the fresh session;
   it is the only warm-up the run budget allows (README.md);
3. timed window: whole passes until ``--seconds`` of op time is spent.

Each op's answer is checked after its pass, outside the op's time. With
``--trace 0`` the line carries the end-to-end metrics; with ``--trace 1``
the per-layer metrics (see README.md). A diagnostic line on stderr gives
the pass times, the wall-clock window figures, the CPU split between the
program and the JVM's JIT and GC threads, and the host's CPU steal.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(run_dir: str, trace: bool) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers into ``run_dir``, and make ``hfsa_spark`` importable by the
    workers. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    args = [
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"',
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
GC_THREADS = ("GC Thread#", "G1 ", "VM Thread")


def _stat(path: str) -> list[str]:
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds (user + system) of this process and every descendant:
    the gateway JVM, Spark's Python workers, and the reaped children each
    one has waited for. Time the host steals from this VM is not in it.

    The JVM's JIT compiler threads and its GC threads are told apart by
    name, so that ``program`` is the tree's CPU without them. A service
    thread's CPU is known up to the last sample that saw it alive."""

    def __init__(self) -> None:
        self.jvm_pid: int | None = None
        self.seen: dict[int, tuple[str, int]] = {}  # tid -> (jit|gc, ticks)
        self.gone = {"jit": 0, "gc": 0}             # ticks of reused tids

    def _service(self) -> None:
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            base = f"/proc/{self.jvm_pid}/task/{tid}"
            try:
                with open(f"{base}/comm") as fh:
                    comm = fh.read().strip()
                kind = ("jit" if comm.startswith(JIT_THREADS) else
                        "gc" if comm.startswith(GC_THREADS) else None)
                if kind is None:
                    continue
                f = _stat(f"{base}/stat")
            except OSError:  # the thread ended while it was read
                continue
            ticks, old = int(f[11]) + int(f[12]), self.seen.get(int(tid))
            if old is not None and (old[0] != kind or old[1] > ticks):
                self.gone[old[0]] += old[1]
            self.seen[int(tid)] = (kind, ticks)

    def sample(self) -> dict[str, float]:
        parent, ticks = {}, {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                f = _stat(f"/proc/{pid}/stat")
            except OSError:  # the process ended while the tree was read
                continue
            parent[int(pid)], ticks[int(pid)] = int(f[1]), sum(map(int, f[11:15]))
        mine = {os.getpid()}
        for pid in parent:
            p = pid
            while p in parent and p not in mine and p > 1:
                p = parent[p]
            if p in mine:
                mine.add(pid)
        if self.jvm_pid is not None:
            self._service()
        hz = os.sysconf("SC_CLK_TCK")
        out = {k: (v + sum(t for kind, t in self.seen.values() if kind == k)) / hz
               for k, v in self.gone.items()}
        out["tree"] = sum(ticks.get(p, 0) for p in mine) / hz
        out["program"] = out["tree"] - out["jit"] - out["gc"]
        return out


def _geomean(per_kind: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median."""
    return math.exp(statistics.fmean(math.log(statistics.median(v))
                                     for v in per_kind.values()))


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host, for the diagnostic line."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


class Runner:
    def __init__(self, spark, ops, tracer, meter: CpuMeter, tmp: str):
        self.spark, self.ops, self.tracer, self.tmp = spark, ops, tracer, tmp
        self.meter = meter
        self.attempted = 0
        self.failed = 0
        self.wrong = 0

    def run_pass(self) -> tuple[float, list[tuple[str, float, dict]]]:
        """One pass over every op kind; returns (op time, [(kind, wall s,
        {program, jit, gc, tree}: CPU s)]). Answers are checked after the
        pass, outside the op time."""
        done, total = [], 0.0
        for op in self.ops:
            self.spark.catalog.clearCache()
            before = set(os.listdir(self.tmp)) if op.kind.startswith("gate") else None
            self.tracer.op_start(op.kind)
            cpu0 = self.meter.sample()
            t0 = time.perf_counter()
            try:
                res, err = op.run(), None
            except Exception:  # an op that raises counts as failed; go on
                res, err = None, traceback.format_exc()
            dt = time.perf_counter() - t0
            cpu1 = self.meter.sample()
            cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
            if before is not None:
                self.tracer.add_count("leftover_tmp_dirs",
                                      len(set(os.listdir(self.tmp)) - before))
            self.tracer.op_end()
            total += dt
            done.append((op, res, err, dt, cpu))
        for op, res, err, _, _ in done:
            self.attempted += 1
            if err is None:
                try:
                    err = op.check(res)
                except Exception:  # an answer the check cannot read is wrong
                    err = traceback.format_exc()
                self.wrong += err is not None
            if err is not None:
                self.failed += 1
                print(f"FAILED {op.kind}: {err}", file=sys.stderr)
        return total, [(op.kind, dt, cpu) for op, _, _, dt, cpu in done]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", help="curation_gates only: read the query tables "
                    "from this directory instead of generating them, to compare "
                    "the generated tables with a reference set")
    args = ap.parse_args()

    for need in ("hfsa_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    extra = {}
    if args.tables:
        if args.workload != "curation_gates":
            print("perfbench: --tables applies to curation_gates only", file=sys.stderr)
            return 2
        extra["tables"] = os.path.abspath(args.tables)

    # a plain SIGTERM would skip the clean-up in the finally block below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    cwd = os.getcwd()
    spark = None
    try:
        _isolate(run_dir, bool(args.trace))
        os.chdir(run_dir)  # spark-warehouse and metastore files land here
        from hfsa_spark import get_spark

        tracer = Tracer(bool(args.trace))
        meter = CpuMeter()
        jiffies = _cpu_jiffies()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
        meter.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer.install(spark)
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        ops = workloads.WORKLOADS[args.workload](spark, args.seed, work, tracer, **extra)
        runner = Runner(spark, ops, tracer, meter, os.environ["TMPDIR"])

        t_inputs = time.time() - T_PROCESS
        first_s, first_ops = runner.run_pass()
        setup_wall_s = time.time() - T_PROCESS
        setup_cpu = meter.sample()
        jit_s, _ = tracer.jvm_times(spark)
        tracer.ops.clear()  # per-layer figures cover the timed window only

        passes, lat, cpu, service = [], {}, {}, []
        while sum(passes) < args.seconds:
            t, done = runner.run_pass()
            passes.append(t)
            for kind, dt, c in done:
                lat.setdefault(kind, []).append(dt)
                cpu.setdefault(kind, []).append(c["program"])
                service.append(c)
        _, gc_s = tracer.jvm_times(spark)
        rss = _peak_rss_mb(meter.jvm_pid)
        n_ops = sum(map(len, lat.values()))
        window_s = sum(passes)
        steal = [b - a for a, b in zip(jiffies, _cpu_jiffies())]
        wall = {"ops_per_s": (n_ops / window_s, "1/s"), "op_geomean_s": (_geomean(lat), "s")}
        per_op = {k: statistics.fmean(c[k] for c in service) for k in ("jit", "gc", "tree")}
        print(f"perfbench {args.workload} seed={args.seed} start={start_s:.2f}s "
              f"inputs_ready={t_inputs:.2f}s first_pass={first_s:.2f}s "
              f"setup_wall={setup_wall_s:.2f}s setup_cpu="
              f"{ {k: round(v, 2) for k, v in setup_cpu.items()} } "
              f"window_cpu_per_op={ {k: round(v, 2) for k, v in per_op.items()} } "
              f"window_passes={[round(t, 2) for t in passes]} "
              f"window={window_s:.2f}s ops={n_ops} "
              f"steal={100 * steal[0] / max(steal[1], 1):.1f}% "
              f"wall_ops_per_s={wall['ops_per_s'][0]:.4f} "
              f"wall_op_geomean_s={wall['op_geomean_s'][0]:.4f} "
              f"first={[(k, round(t, 2)) for k, t, _ in first_ops]} "
              f"cpu={[(k, round(statistics.median(v), 2)) for k, v in cpu.items()]} "
              f"median={[(k, round(statistics.median(v), 2)) for k, v in lat.items()]} "
              f"cpus={os.cpu_count()} defaultParallelism="
              f"{spark.sparkContext.defaultParallelism}", file=sys.stderr)
        _stop(spark)
        spark = None

        if args.trace:
            metrics = {
                "session.start_s": (start_s, "s"),
                "session.setup_wall_s": (setup_wall_s, "s"),
                "session.first_pass_s": (first_s, "s"),
                "session.jit_s": (jit_s, "s"),
                "session.gc_s": (gc_s, "s"),
                "session.peak_rss_mb": (rss, "MB"),
            }
            metrics.update({f"window.{k}": v for k, v in wall.items()})
            metrics["window.jit_cpu_s"] = (per_op["jit"], "s")
            metrics["window.gc_cpu_s"] = (per_op["gc"], "s")
            metrics["window.jit_gc_cpu_share"] = (
                (per_op["jit"] + per_op["gc"]) / per_op["tree"], "share")
            units = {"mb": "MB", "_s": "s"}
            for name, v in tracer.layer_metrics(os.path.join(run_dir, "events")).items():
                unit = next((u for suf, u in units.items() if name.endswith(suf)), "count")
                metrics[name] = (v, unit)
        else:
            metrics = {
                "setup_s": (setup_cpu["program"], "s"),
                "ops_per_cpu_s": (n_ops / sum(map(sum, cpu.values())), "1/s"),
                "op_cpu_geomean_s": (_geomean(cpu), "s"),
            }
        print(json.dumps({
            "correct": runner.wrong == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = os.path.dirname(run_dir)
            if not os.listdir(parent):
                os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
