"""Shared benchmark plumbing: session lifecycle, progress listener, job
census, spans, percentiles and the result line.

Everything here observes the engine from outside, through its public
calls and Spark's own reports (``StreamingQueryListener`` progress, the
``statusTracker`` job census, ``/proc`` for the JVM's memory and the
CPUs' steal).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import threading
import time
import uuid
from dataclasses import dataclass, field

#: Local cores the benchmark gives Spark; fixed so that runs on larger
#: machines measure the same topology.
CORES = 4
#: Driver heap. The engine defaults to 16g for multi-GB shuffles; the
#: benchmark's inputs are small and the machine is shared.
DRIVER_MEM = "2g"
#: Set-ups measured per run; ``setup_s`` is their median.
SETUP_REPS = 3
#: A tail is the highest percentile with this many samples above it.
TAIL_BEYOND = 10


def work_root(root: str, name: str) -> str:
    """A fresh scratch directory inside the checkout."""
    path = os.path.join(root, ".perfbench", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def configure_env(root: str, scratch: str) -> None:
    """Environment the engine and its Python workers read. Must run
    before the first session starts the JVM."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher is a JVM of its own.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [root, *filter(None, os.environ.get("PYTHONPATH", "").split(":"))]
    os.environ["PYTHONPATH"] = ":".join(paths)


def new_session(app_name: str, scratch: str, master: str | None = None):
    from ohlc_spark_streaming_spark.session import build_session

    tmp = os.path.join(scratch, "tmp")
    return build_session(
        app_name=app_name,
        master=master,
        extra_confs={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def shutdown_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to
    exit (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_ticks() -> tuple[int, int]:
    """Busy and steal ticks of all CPUs since boot, from ``/proc/stat``.
    Steal is time a virtual CPU was ready to run but its host ran
    something else."""
    with open("/proc/stat") as f:
        fields = map(int, f.readline().split()[1:9])
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time this machine wanted between two
    ``cpu_ticks()`` readings that its host withheld."""
    busy = after[0] - before[0]
    steal = after[1] - before[1]
    return steal / max(busy + steal, 1)


def unstolen(duration: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """A wall time with the host's steal taken out: about the time the
    interval would have taken had every CPU it kept busy run
    uninterrupted.

    On a shared virtual machine the host withholds from a few to a third
    of the CPU time, varying from minute to minute; uncorrected, that
    swings run times by more than the benchmark's bounds.
    """
    return duration * (1.0 - steal_share(before, after))


def time_setups(start_once) -> tuple[float, object]:
    """Run ``start_once()`` ``SETUP_REPS`` times, each returning
    ``(handle, teardown)``; all but the last are torn down. Returns the
    median time, steal taken out, and the last handle. The first set-up
    also launches the JVM, so the median is that of a warm re-build."""
    times = []
    handle = None
    for i in range(SETUP_REPS):
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        handle, teardown = start_once()
        times.append(unstolen(time.perf_counter() - t0, ticks, cpu_ticks()))
        if i < SETUP_REPS - 1:
            teardown()
    return statistics.median(times), handle


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it.

    Returns ``(value, percentile, n)``. With ``2 * TAIL_BEYOND`` samples
    or fewer no such percentile sits above the median, so the maximum is
    reported (percentile 100).
    """
    s = sorted(values)
    n = len(s)
    if n <= 2 * TAIL_BEYOND:
        return s[-1], 100.0, n
    rank = n - TAIL_BEYOND  # 1-based rank with TAIL_BEYOND samples above it
    return s[rank - 1], 100.0 * rank / n, n


def p50(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------- progress


class ProgressLog:
    """A ``StreamingQueryListener`` that keeps every progress event.

    ``recentProgress`` only holds the last 100 batches per query, so long
    runs lose batches; the listener bus delivers all of them.
    """

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log._add(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log._lock:
                    log.terminated.add(str(event.runId))
                    log._cond.notify_all()

        self._lock = threading.Lock()
        self._cond = threading.Condition(self._lock)
        self.by_run: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()
        self.listener = _Listener()

    def _add(self, progress: dict) -> None:
        # CPU ticks as the batch ends, to take steal out of its time.
        progress["ticks"] = cpu_ticks()
        with self._lock:
            self.by_run.setdefault(progress["runId"], []).append(progress)
            self._cond.notify_all()

    def attach(self, spark) -> None:
        spark.streams.addListener(self.listener)

    def batches(self, run_id: str) -> list[dict]:
        with self._lock:
            return sorted(self.by_run.get(run_id, []), key=lambda p: p["batchId"])

    def wait_terminated(self, run_id: str, timeout: float = 60.0) -> None:
        deadline = time.time() + timeout
        with self._lock:
            while run_id not in self.terminated:
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError(f"no termination event for run {run_id}")
                self._cond.wait(left)


def batch_end_epoch(progress: dict) -> float:
    """Epoch seconds at which a micro-batch finished: its trigger start
    (``timestamp``) plus ``triggerExecution``."""
    from datetime import datetime, timezone

    ts = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = ts.replace(tzinfo=timezone.utc).timestamp()
    return start + progress["durationMs"].get("triggerExecution", 0) / 1000.0


#: ``durationMs`` phases of a micro-batch, in the order they run: plan the
#: next offsets, log them, get the batch, plan it, run it, commit it.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


# ------------------------------------------------------------------ census


def job_census(spark, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks run under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group) or [])
    stages = tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numTasks == 0:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# ------------------------------------------------------------------- spans


@dataclass
class Tracer:
    """In-memory spans, written out once when the run ends."""

    trace_id: str = field(default_factory=lambda: uuid.uuid4().hex)
    spans: list[dict] = field(default_factory=list)
    hook_s: float = 0.0  # time spent inside tracing code

    def add(self, name: str, start: float, end: float, parent: str | None, **attrs) -> str:
        t0 = time.perf_counter()
        span_id = uuid.uuid4().hex[:16]
        self.spans.append(
            {
                "trace_id": self.trace_id,
                "span_id": span_id,
                "parent": parent,
                "name": name,
                "start": start,
                "end": end,
                **({"attrs": attrs} if attrs else {}),
            }
        )
        self.hook_s += time.perf_counter() - t0
        return span_id

    def add_batches(self, parent: str, batches: list[dict]) -> None:
        """One span per micro-batch, starting at its progress timestamp and
        lasting ``triggerExecution``, with its ``durationMs`` phases as
        children laid end to end in the order the micro-batch loop runs
        them."""
        for p in batches:
            end = batch_end_epoch(p)
            dur = p["durationMs"]
            start = end - dur.get("triggerExecution", 0) / 1000.0
            sid = self.add(
                "batch",
                start,
                end,
                parent,
                batch_id=p["batchId"],
                run_id=p["runId"],
                rows=p["numInputRows"],
            )
            at = start
            for phase in BATCH_PHASES:
                if phase in dur:
                    self.add(phase, at, at + dur[phase] / 1000.0, sid)
                    at += dur[phase] / 1000.0

    def write(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f)
        os.replace(tmp, path)


# ------------------------------------------------------------------ result


def metric(value: float, unit: str) -> dict:
    if not math.isfinite(value):
        raise ValueError(f"non-finite metric value {value}")
    return {"value": float(value), "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )
