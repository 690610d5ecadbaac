"""Layer tracing from outside the package.

A :class:`Tracer` times calls into the package's public functions and
reads what Spark did during them from Spark's own status store. Every
span runs in a Spark job group of its own, so the jobs of one operation
are exactly the jobs of the groups opened while it ran.

With tracing off, :meth:`Tracer.span` is a no-op and nothing is
patched: the end-to-end runs measure the unmodified call path.
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

# (module, attribute, layer name) of every public function the traced
# run wraps. A function imported by name into another package module is
# wrapped there too (see Tracer._patch_function), so calls made inside
# the package are attributed as well as the benchmark's own calls.
PATCHED_FUNCTIONS = [
    ("data_engineering_spark.catalog", "load_table", "catalog.load"),
    ("data_engineering_spark.catalog", "register_views", "catalog.load"),
    ("data_engineering_spark.functions.dialect", "rewrite_redshift_sql", "functions.dialect.rewrite"),
    ("data_engineering_spark.functions.nl2sql", "run_nl", "functions.nl2sql.compile"),
    ("data_engineering_spark.pipeline.etl", "run_sql_etl", "pipeline.run_sql_etl"),
    ("data_engineering_spark.sources.writers", "truncate_and_load", "sources.writers.write"),
    ("data_engineering_spark.sources.writers", "partition_overwrite", "sources.writers.write"),
    ("data_engineering_spark.sources.writers", "write_serving_index", "sources.writers.write"),
    ("data_engineering_spark.sources.writers", "retention_prune", "sources.writers.retention_prune"),
    ("data_engineering_spark.operators.merge", "apply_cdc", "operators.merge.apply_cdc"),
]
# LakeTable methods: writes are commits, reads are scans.
PATCHED_METHODS = [
    ("create", "sources.txlog.commit"),
    ("append", "sources.txlog.commit"),
    ("overwrite", "sources.txlog.commit"),
    ("compact", "sources.txlog.commit"),
    ("scan", "sources.txlog.scan"),
    ("version_changes", "sources.txlog.scan"),
]
# Writers whose output directory (second argument) is diffed to count
# the files and bytes each call wrote.
WRITER_LAYER = "sources.writers.write"
# Layers whose time excludes nested layers: run_nl's own time is the
# NL compile plus SQL analysis, without the catalog loads it makes.
SELF_TIME_LAYERS = {"functions.nl2sql.compile"}


class Tracer:
    """Spans, job groups and status-store reads for one process."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.wall = defaultdict(float)  # layer → inclusive seconds
        self.ops: list[dict] = []  # per-operation Spark figures
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self.recording = False  # spans are recorded in the timed phase only
        self.files_written = 0
        self.bytes_written = 0
        self._stack: list[list] = []  # [name, gid, child seconds]
        self._groups: list[str] = []
        self._active = defaultdict(int)  # layer → open spans (recursion guard)
        self._seq = 0
        if enabled:
            self._store = self.sc._jsc.sc().statusStore()
            self._bus = self.sc._jsc.sc().listenerBus()
            self._patch_all()

    # ---------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        if not (self.enabled and self.recording):
            yield
            return
        t_in = time.perf_counter()
        self._seq += 1
        gid = f"perfbench-{self._seq}"
        self._groups.append(gid)
        self.sc.setJobGroup(gid, name)
        frame = [name, gid, 0.0]
        self._stack.append(frame)
        self._active[name] += 1
        t0 = time.perf_counter()
        self.self_s += t0 - t_in
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            t_out = time.perf_counter()
            self._stack.pop()
            self._active[name] -= 1
            if self._active[name] == 0:
                self.wall[name] += dt - (frame[2] if name in SELF_TIME_LAYERS else 0.0)
            if self._stack:
                self._stack[-1][2] += dt
                self.sc.setJobGroup(self._stack[-1][1], self._stack[-1][0])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.self_s += time.perf_counter() - t_out

    @contextmanager
    def op(self):
        """One timed operation: afterwards its jobs are read back."""
        self._groups = []
        t0 = time.perf_counter()
        with self.span("op"):
            yield
        wall = time.perf_counter() - t0
        if self.enabled and self.recording:
            t_in = time.perf_counter()
            self.ops.append(self._op_stats(wall))
            self.self_s += time.perf_counter() - t_in

    # ------------------------------------------------------- status store

    def _op_stats(self, wall: float) -> dict:
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = sorted({j for g in self._groups for j in tracker.getJobIdsForGroup(g)})
        spans, stages = [], set()
        out = defaultdict(float)
        for jid in jobs:
            jd = self._store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                spans.append(
                    (jd.submissionTime().get().getTime() / 1e3, jd.completionTime().get().getTime() / 1e3)
                )
            ids = jd.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        ran = 0
        for sid in stages:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            ran += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        busy = _union(spans)
        out.update(
            jobs=len(jobs),
            stages=ran,
            wall_s=wall,
            driver_s=max(wall - busy, 0.0),
            job_s=[b - a for a, b in spans],
        )
        return out

    # ------------------------------------------------------------ patching

    def _patch_all(self) -> None:
        import importlib

        from data_engineering_spark.sources.txlog import LakeTable

        for mod, attr, layer in PATCHED_FUNCTIONS:
            self._patch_function(getattr(importlib.import_module(mod), attr), layer)
        for attr, layer in PATCHED_METHODS:
            setattr(LakeTable, attr, self._wrap(getattr(LakeTable, attr), layer))

    def _patch_function(self, fn, layer: str) -> None:
        wrapped = self._wrap(fn, layer)
        for name, mod in list(sys.modules.items()):
            if not name.startswith("data_engineering_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, wrapped)

    def _wrap(self, fn, layer: str):
        def traced(*args, **kwargs):
            if layer != WRITER_LAYER or not self.recording:
                with self.span(layer):
                    return fn(*args, **kwargs)
            t_in = time.perf_counter()
            target = args[1] if len(args) > 1 else kwargs["table_dir"]
            before = _listing(target)
            self.self_s += time.perf_counter() - t_in
            with self.span(layer):
                out = fn(*args, **kwargs)
            t_in = time.perf_counter()
            new = [size for path, (size, mtime) in _listing(target).items() if before.get(path, (0, 0))[1] != mtime]
            self.files_written += len(new)
            self.bytes_written += sum(new)
            self.self_s += time.perf_counter() - t_in
            return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", layer)
        return traced

    # -------------------------------------------------------------- report

    def counters(self) -> dict[str, float]:
        return {
            "sources.writers.files_written": self.files_written,
            "sources.writers.bytes_written_mb": self.bytes_written / 2**20,
        }

    def spark_metrics(self) -> dict[str, float]:
        """Totals over the traced operations (``spark.*``)."""
        tot = defaultdict(float)
        job_s: list[float] = []
        for o in self.ops:
            for k, v in o.items():
                if k == "job_s":
                    job_s.extend(v)
                elif k != "wall_s":
                    tot[k] += v
        keys = ("jobs", "stages", "tasks", "driver_s", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_read_mb", "shuffle_write_mb", "failed_tasks")
        out = {f"spark.{k}": tot[k] for k in keys}
        out["spark.job_p50_s"] = median(job_s) if job_s else 0.0
        return out


def session_cpu_s(only: bytes = b"") -> float:
    """CPU seconds used so far by the processes of this process's
    session whose command line contains ``only``: each process's own
    time plus that of the children it has reaped (PySpark's daemon reaps
    its workers). Time stolen by the hypervisor is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[3] is the session, [11..14] utime stime cutime cstime
        if int(fields[3]) == sid and only in cmd:
            total += sum(int(x) for x in fields[11:15])
    return total / tick


def _listing(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime) of the parquet files under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _union(spans: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
