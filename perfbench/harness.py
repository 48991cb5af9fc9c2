"""Run plumbing shared by the three workloads: process environment, Spark
session set-up, per-call timing and tracing, memory sampling and the
per-run operation ledger.

Nothing here knows a workload.  A workload hands every call it wants
measured to :meth:`Run.call`, which times it from outside and, in traced
mode, reads the Spark jobs, tasks, executor CPU and shuffle bytes the call
caused (one job group per call, read back from the status store).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def configure_environment(run_dir: str) -> None:
    """Set what the JVM and the Python workers inherit, before the JVM
    starts.  Pandas-UDF tasks run in fresh Python workers that import the
    package by name, so the repo root goes on their PYTHONPATH; scratch
    (shuffle files, temp files) stays inside the run directory."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


class RssSampler:
    """Peak resident memory of this process and every descendant (the JVM
    and its Python workers), sampled from /proc every ``period`` seconds.

    Each process counts its proportional set size: a page shared by k
    processes counts 1/k in each.  Plain RSS would count shared pages
    once per sharer, and a JVM caught mid-fork (the child still a
    copy-on-write image of the parent) would read as two JVMs."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self.peak_by_process: dict[str, int] = {}  # MB per command name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        by_name: dict[str, int] = {}
        for pid in process_tree():
            try:
                rss = _pss_bytes(pid)
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            by_name[name] = by_name.get(name, 0) + rss
        total = sum(by_name.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_process = {k: v >> 20 for k, v in by_name.items()}


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces: the fields resume after ')'
    return stat.rsplit(")", 1)[1].split()


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def new_session():
    from wpvectordb_spark.session import get_spark

    return get_spark("perfbench")


class Run:
    """One benchmark run: the session, the clock, the ledger of attempted
    and failed operations, and (traced) the per-call spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.recording = False  # True only inside the measured rounds
        self.warm_walls: dict[str, float] = {}
        self.call_walls: dict[str, list[float]] = {}
        self.layers: dict[str, list[dict]] = {}
        self.spans: list[dict] = []
        self.trace_overhead_s = 0.0
        self._parent: str | None = None
        self._open: dict = {}
        self._seq = 0
        self._t0 = time.perf_counter()

    # -- set-up ---------------------------------------------------------------
    def start_session(self) -> float:
        """(Re)start the session and run its first job; the first call
        launches the JVM, later ones stop the context and create a new one
        in the same JVM.  Returns the wall time."""
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = new_session()
        self.spark.range(1).collect()
        return time.perf_counter() - t

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- measurement ------------------------------------------------------------
    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def begin(self, name: str) -> None:
        """Open a parent span (a round); calls until the next ``begin`` are
        its children."""
        self._parent = name
        t = self.elapsed()
        self._open = {"name": name, "start": t, "end": t, "parent": None,
                      "workload": self.workload, "counts": {}}
        if self.trace:
            self.spans.append(self._open)

    def end(self) -> None:
        self._open["end"] = self.elapsed()
        self._parent = None

    def call(self, layer: str, fn):
        """Time ``fn()`` — which must force its own result — under
        ``layer``.  Returns ``(result, wall_s)``; ``result`` is None when
        the call raised (the operation then counts as failed).  Outside
        the measured rounds (warm-up) nothing is recorded."""
        sc = self.spark.sparkContext
        group = None
        if self.trace and self.recording:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            sc.setJobGroup(group, layer, interruptOnCancel=False)
        start = self.elapsed()
        t = time.perf_counter()
        try:
            result = fn()
        except Exception:
            traceback.print_exc()
            result = None
        wall = time.perf_counter() - t
        if not self.recording:
            self.warm_walls[layer] = round(wall, 2)
            return result, wall
        self.attempted += 1
        self.call_walls.setdefault(layer, []).append(round(wall, 3))
        if result is None:
            self.failed += 1
        if group is not None:
            t_over = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            counts = {"wall_s": wall, **job_counts(self.spark, group)}
            self.trace_overhead_s += time.perf_counter() - t_over
            if result is not None:
                self.record_layer(layer, counts)
            self.spans.append({"name": layer, "start": start, "end": start + wall,
                               "parent": self._parent, "workload": self.workload,
                               "counts": counts})
        return result, wall

    def record_layer(self, layer: str, counts: dict) -> None:
        self.layers.setdefault(layer, []).append(counts)

    def check(self, what: str, ok: bool) -> bool:
        """Record the output check of the operation just called; a failed
        one marks that operation failed (the caller's round goes on)."""
        if not ok and self.recording:
            self.mismatches.append(what)
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr, flush=True)
        return ok

    # -- output -------------------------------------------------------------------
    def layer_metrics(self, names: list[str]) -> dict:
        """Median of each quantity over the run's calls of each layer; a
        layer this workload never calls reads 0 (it did no work here)."""
        out = {}
        for name in names:
            layer, quantity = name.rsplit(".", 1)
            vals = [c[quantity] for c in self.layers.get(layer, []) if quantity in c]
            out[name] = statistics.median(vals) if vals else 0.0
        return out

    def write_trace(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "trace_overhead_s": self.trace_overhead_s,
                       "spans": self.spans}, f, indent=1)


def job_counts(spark, group: str) -> dict:
    """Jobs, tasks, executor CPU seconds and shuffle-write bytes of every
    job run under ``group``.  Reads the status store after draining the
    listener bus; where that internal API is missing, falls back to the
    public status tracker (jobs and tasks only)."""
    from py4j.protocol import Py4JError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Py4JError:  # internal API: degrade to what the tracker has
        pass
    job_ids = list(tracker.getJobIdsForGroup(group))
    stages = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks, cpu_ns, shuffle = 0, 0, 0
    try:
        store = jsc.statusStore()
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JError:  # a stage never submitted has no attempt
                continue
            tasks += sd.numCompleteTasks()
            cpu_ns += sd.executorCpuTime()
            shuffle += sd.shuffleWriteBytes()
    except Py4JError:
        tasks, cpu_ns, shuffle = 0, 0, 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
    return {"jobs": len(job_ids), "tasks": tasks, "executor_cpu_s": cpu_ns / 1e9,
            "shuffle_bytes": shuffle}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


class Round:
    """Wall time of one round's write calls and read calls, and the
    recall of its searches; a call that failed or did not pass its check
    makes the round partial, and partial rounds are left out of the
    metrics."""

    def __init__(self):
        self.write_s = 0.0
        self.read_s = 0.0
        self.recalls: list[float] = []
        self.whole = True

    def add(self, kind: str, wall: float, ok: bool) -> bool:
        if not ok:
            self.whole = False
        elif kind == "write":
            self.write_s += wall
        else:
            self.read_s += wall
        return ok

    def add_median(self, kind: str, walls: list[float], ok: bool) -> bool:
        """A call repeated within the round counts once, at its median."""
        return self.add(kind, statistics.median(walls) if walls else 0.0, ok)

    def merge(self, other: "Round") -> "Round":
        self.write_s += other.write_s
        self.read_s += other.read_s
        self.recalls += other.recalls
        self.whole &= other.whole
        return self


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def write_parquet(path: str, files: int, **columns) -> str:
    """Write equal-length columns (numpy arrays, 2-D ones as list
    columns, or pyarrow arrays) as ``files`` parquet files under ``path``;
    returns ``path``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    fresh_dir(path)
    n = len(next(iter(columns.values())))
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        lo, hi = bounds[i], bounds[i + 1]
        arrays = {}
        for name, col in columns.items():
            part = col[lo:hi]
            if isinstance(part, pa.Array):
                arrays[name] = part
            elif part.ndim == 2:
                arrays[name] = pa.FixedSizeListArray.from_arrays(
                    pa.array(part.reshape(-1)), part.shape[1]).cast(pa.list_(pa.from_numpy_dtype(part.dtype)))
            else:
                arrays[name] = pa.array(part)
        pq.write_table(pa.table(arrays), os.path.join(path, f"part-{i:05d}.parquet"))
    return path
