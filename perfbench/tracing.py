"""Per-layer tracing for the traced run (``--trace 1``), all from outside
the program:

* op spans recorded by the runner (kind, wall start/end in epoch ms);
* the Spark event log, switched on through ``PYSPARK_SUBMIT_ARGS`` and
  parsed after the session stops: jobs, stages and tasks are charged to the
  op whose span holds the job's submission time;
* a ``StreamingQueryListener`` that keeps every trigger's ``durationMs``
  split;
* JVM compilation and GC time read over py4j;
* wrappers around the public extract/sink/api functions the runner calls
  and around the DataFrame methods that materialize or act on the driver.

Nothing here is imported by the program; the wrappers are installed on
the benchmark's own process only when tracing is on.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

MATERIALIZE = ("localCheckpoint", "checkpoint", "persist", "cache")
DRIVER_ACTIONS = ("collect", "first", "head", "count", "isEmpty", "toPandas")
DURATION_KEYS = ("addBatch", "queryPlanning", "getBatch", "latestOffset",
                 "walCommit", "commitOffsets", "triggerExecution")


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Collects spans and counters for one run. With ``enabled`` false every
    hook is a no-op, so the untraced run pays nothing but a flag test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.ops: list[dict] = []        # one per op: kind, t0, t1 (epoch ms)
        self._op: dict | None = None
        self._tls = threading.local()    # per-thread nesting of wrapped calls
        self._own = False                # the runner's own final action
        self.progress: list[tuple[float, dict]] = []

    # ---------------------------------------------------------- op spans --

    def op_start(self, kind: str) -> None:
        if self.enabled:
            self._op = {"kind": kind, "t0": now_ms(), "counts": defaultdict(int),
                        "timers": defaultdict(float)}

    def op_end(self) -> None:
        if self.enabled and self._op is not None:
            self._op["t1"] = now_ms()
            self.ops.append(self._op)
            self._op = None

    def add_time(self, name: str, seconds: float) -> None:
        if self._op is not None:
            self._op["timers"][name] += seconds

    def add_count(self, name: str, n: int = 1) -> None:
        if self._op is not None:
            self._op["counts"][name] += n

    def timed(self, name: str, fn, less_dataframe_calls: bool = False):
        """Wrap ``fn`` so its wall time accrues to ``name``. With
        ``less_dataframe_calls``, the time of the wrapped DataFrame calls
        made inside it (the Spark jobs of its collects) is left out, so
        that only the layer's own Python time remains."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0, df0 = time.perf_counter(), self._df_s()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                if less_dataframe_calls:
                    dt -= self._df_s() - df0
                self.add_time(name, dt)
        return wrapper

    def _df_s(self) -> float:
        """Wall time spent so far in outermost wrapped DataFrame calls on
        this thread."""
        return getattr(self._tls, "df_s", 0.0)

    def own_action(self, fn, *a, **kw):
        """Run the runner's own result collection without counting it as a
        driver action of the program."""
        self._own = True
        try:
            return fn(*a, **kw)
        finally:
            self._own = False

    # ----------------------------------------------------------- installs --

    def install(self, spark) -> None:
        """Wrap DataFrame methods, the extract functions load_fsimage calls,
        and register the streaming listener."""
        if not self.enabled:
            return
        df_cls = type(spark.range(1))
        for name in MATERIALIZE + DRIVER_ACTIONS:
            setattr(df_cls, name, self._count_calls(
                getattr(df_cls, name),
                "plans.materializations" if name in MATERIALIZE else "plans.driver_actions",
                name))

        import hfsa_spark.extract.fsimage as fsimage

        fsimage.parse_fsimage = self.timed("extract.decode_s", fsimage.parse_fsimage)
        fsimage.load_fsimage_distributed = self.timed(
            "extract.decode_s", fsimage.load_fsimage_distributed)
        fsimage.materialize_paths = self.timed("extract.paths_s", fsimage.materialize_paths)
        self._listen(spark)

    def _count_calls(self, fn, counter: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            # streaming foreachBatch code calls back on py4j threads
            depth = getattr(tracer._tls, "depth", 0)
            tracer._tls.depth = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                tracer._tls.depth = depth
                if depth == 0:
                    tracer._tls.df_s = tracer._df_s() + time.perf_counter() - t0
                if depth == 0 and not tracer._own:
                    tracer.add_count(counter)
                    if name == "localCheckpoint":
                        tracer.add_count("localCheckpoint")
        return wrapper

    def _listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                t = (ts - datetime(1970, 1, 1)).total_seconds() * 1000.0
                progress.append((t, dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    # -------------------------------------------------------------- JVM --

    @staticmethod
    def jvm_times(spark) -> tuple[float, float]:
        """(total JIT compilation s, total GC s) of the driver JVM."""
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0
        return jit, gc

    # -------------------------------------------------------- reporting --

    def layer_metrics(self, event_dir: str) -> dict[str, float]:
        """Per-op means over the recorded ops; each mean of a layer's own
        figure runs over the op kinds that call into that layer."""
        ops = self.ops
        jobs, stage_job, tasks = _parse_event_log(event_dir)
        per_op = [_op_layers(o, jobs, stage_job, tasks) for o in ops]
        _attach_progress(ops, per_op, self.progress)

        def mean(key: str, sel=None) -> float:
            vals = [p.get(key, 0) for p, o in zip(per_op, ops) if sel is None or sel(o)]
            return statistics.fmean(vals) if vals else 0.0

        def of(prefix: str):
            return lambda o: o["kind"].startswith(prefix)

        is_load, is_gate = of("load"), of("gate")
        return {
            "operators.jobs_per_op": mean("jobs"),
            "operators.stages_per_op": mean("stages"),
            "operators.tasks_per_op": mean("tasks"),
            "operators.driver_gap_s": mean("gap_s"),
            "operators.op_wall_s": mean("wall_s"),
            "operators.executor_run_s": mean("run_s"),
            "operators.executor_cpu_s": mean("cpu_s"),
            "operators.shuffle_read_mb": mean("shuffle_read_mb"),
            "operators.shuffle_write_mb": mean("shuffle_write_mb"),
            "operators.spill_mb": mean("spill_mb"),
            "plans.materializations_per_op": mean("plans.materializations"),
            "plans.driver_actions_per_op": mean("plans.driver_actions"),
            "extract.decode_s": mean("extract.decode_s", is_load),
            "extract.paths_s": mean("extract.paths_s", is_load),
            "extract.paths_levels": mean("localCheckpoint", is_load),
            "extract.write_s": mean("extract.write_s", is_load),
            "extract.jobs_per_load": mean("jobs", is_load),
            "sinks.format_s": mean("sinks.format_s", of("report")),
            "api.lookup_s": mean("api.lookup_s", of("api")),
            "streaming.triggers_per_gate": mean("triggers", is_gate),
            "streaming.trigger_s": mean("triggerExecution", is_gate),
            "streaming.add_batch_s": mean("addBatch", is_gate),
            "streaming.query_planning_s": mean("queryPlanning", is_gate),
            "streaming.get_batch_s": mean("getBatch", is_gate),
            "streaming.latest_offset_s": mean("latestOffset", is_gate),
            "streaming.wal_commit_s": mean("walCommit", is_gate),
            "streaming.commit_offsets_s": mean("commitOffsets", is_gate),
            "streaming.outside_trigger_s": mean("outside_trigger_s", is_gate),
            "streaming.leftover_tmp_dirs": mean("leftover_tmp_dirs", is_gate),
        }


def _parse_event_log(event_dir: str):
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)  # stage id -> task metrics
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(event_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"t0": ev["Submission Time"], "t1": ev["Submission Time"]}
                    for s in ev["Stage Infos"]:
                        stage_job[s["Stage ID"]] = jid
                elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif e == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
    return jobs, stage_job, tasks


def _op_layers(op: dict, jobs: dict, stage_job: dict, tasks: dict) -> dict:
    t0, t1 = op["t0"], op["t1"]
    mine = {jid for jid, j in jobs.items() if t0 <= j["t0"] <= t1}
    spans = sorted((jobs[j]["t0"], min(jobs[j]["t1"], t1)) for j in mine)
    covered, end = 0.0, t0
    for a, b in spans:  # union of the job spans
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    stages = [s for s, j in stage_job.items() if j in mine and s in tasks]
    mets = [m for s in stages for m in tasks[s]]
    mb = 1 << 20
    out = {
        "jobs": len(mine),
        "stages": len(stages),
        "tasks": len(mets),
        "wall_s": (t1 - t0) / 1000.0,
        "gap_s": (t1 - t0 - covered) / 1000.0,
        "run_s": sum(m.get("Executor Run Time", 0) for m in mets) / 1000.0,
        "cpu_s": sum(m.get("Executor CPU Time", 0) for m in mets) / 1e9,
        "shuffle_read_mb": sum(
            (m.get("Shuffle Read Metrics") or {}).get("Remote Bytes Read", 0)
            + (m.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
            for m in mets) / mb,
        "shuffle_write_mb": sum(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for m in mets) / mb,
        "spill_mb": sum(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        for m in mets) / mb,
    }
    out.update(op["counts"])
    out.update(op["timers"])
    return out


def _attach_progress(ops: list[dict], per_op: list[dict], progress) -> None:
    """Charge each trigger (by its start time) to the op span holding it."""
    for o, p in zip(ops, per_op):
        trig = [d for t, d in progress if o["t0"] <= t <= o["t1"]]
        p["triggers"] = len(trig)
        for k in DURATION_KEYS:
            p[k] = sum(d.get(k, 0) for d in trig) / 1000.0
        p["outside_trigger_s"] = p["wall_s"] - p["triggerExecution"]
