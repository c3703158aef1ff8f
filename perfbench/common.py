"""Shared pieces of the benchmark: the pinned environment, the Spark
session, statistics, spans and the Spark status counters.

Nothing here runs at import time; ``run.py`` calls ``pin_environment``
before the first pyspark import so the JVM inherits the pinned settings.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager

WORK_DIRNAME = ".perfbench_work"


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(root: str, run_dir: str) -> dict:
    """Pin what the engine reads from the environment and return it for the
    record: ``local[nproc]`` via SPARK_GRAFT_CPUS, a driver heap well below
    host RAM (the session default is 48g), PYTHONPATH so pandas UDF workers
    import the package, a private SPARK_LOCAL_DIRS and TMPDIR, and one
    thread per native pool in this process."""
    cpus = host_cpus()
    mem_gb = max(1, min(4, host_mem_bytes() // (4 * 1024**3)))
    local_dirs = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_gb}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "OMP_NUM_THREADS": "1",
        "PYARROW_IO_THREADS": "1",
    }
    os.environ.update(env)
    return env


def start_session(run_dir: str):
    """The engine's own session factory, with the warehouse, Derby home and
    JVM temp files kept inside the run directory."""
    from kafka_spark_streaming_pipeline_spark.session import get_spark

    wh = os.path.join(run_dir, "warehouse")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": wh,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={wh} -Djava.io.tmpdir={os.environ['TMPDIR']} "
                "-XX:-UsePerfData"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> set[int]:
    """Every process below ``pid`` in the process tree, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out: set[int] = set()
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _await_gone(pids: set[int], timeout: float) -> set[int]:
    deadline = time.time() + timeout
    left = {p for p in pids if _running(p)}
    while left and time.time() < deadline:
        time.sleep(0.05)
        left = {p for p in left if _running(p)}
    return left


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM pyspark launched for it, and
    wait until the JVM and every process below it (the Python UDF daemon and
    its workers) have ended.  pyspark leaves the JVM to notice that this
    process has exited, which it does only after this process is gone; so
    the JVM is told to exit here, by closing its stdin, and waited for.
    Safe to call when the session never started."""
    import signal
    import subprocess

    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        procs |= _descendants(os.getpid())
        SparkContext._gateway = None
        SparkContext._jvm = None
        if jvm is not None:
            if jvm.stdin is not None:
                jvm.stdin.close()
            try:
                jvm.wait(60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait(30)
        left = _await_gone(procs, 30)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        left = _await_gone(left, 10)
        if left:
            raise RuntimeError(f"processes still running after shutdown: {sorted(left)}")


def make_run_dir(root: str, workload: str, seed: int) -> str:
    d = os.path.join(root, WORK_DIRNAME, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


# ------------------------------------------------------------ statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# ------------------------------------------------------------------ spans


class Tracer:
    """Spans around calls into the engine's layers.

    A span is ``{id, parent, trace, name, start, end}``; the parent is the
    innermost open span of the same thread (the streaming sink runs on a
    callback thread).  Spans of one request (one micro-batch, one document
    batch, one query) share ``trace``.  Kept in memory, written once at the
    end.  Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"parent": stack[-1]["id"] if stack else None, "trace": trace,
               "name": name, "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total seconds, and self seconds (span
        duration minus the part of it covered by child spans)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"] or c["start"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0,
             "end": None if s["end"] is None else s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "layers": self.summary(), **extra}, f, indent=1)


# --------------------------------------------------- Spark status surfaces


class SparkCounters:
    """Job, stage, shuffle and spill counts per job group, read from Spark's
    status tracker and application status store (both populated with the
    UI off).  Job groups are set only in traced runs."""

    def __init__(self, spark, tracer: Tracer):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jsc = self.sc._jsc.sc()

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store has seen the jobs that just ended."""
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def group_stats(self, group: str) -> dict:
        with self.tracer.span("trace.counters"):
            return self._group_stats(group)

    def _group_stats(self, group: str) -> dict:
        self.settle()
        store = self.jsc.statusStore()
        jobs = self.tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        shuffle = spill = 0
        ran = 0
        for sid in stage_ids:
            try:
                d = store.lastStageAttempt(sid)
            except Exception:  # skipped stages have no attempt
                continue
            if d.numCompleteTasks() > 0:
                ran += 1
            shuffle += d.shuffleWriteBytes()
            spill += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return {"jobs": len(jobs), "stages": ran, "shuffle_bytes": shuffle,
                "spill_bytes": spill}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
