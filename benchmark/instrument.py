"""Measurement plumbing: /proc readers, Spark job accounting, spans and
the timed checkpoint store.

The /proc readers are ported from the repository's ``bench.py`` (not
imported: the benchmark depends only on the engine's public modules).
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager

from graph_data_science_spark.plans.checkpoint import CheckpointStore

_TICK = os.sysconf("SC_CLK_TCK")


def _tree() -> dict[int, float]:
    """pid -> CPU seconds for this process and every live descendant: the
    driver, the JVM it launched and the Python workers the JVM forks. CPU
    includes reaped children (cutime/cstime), so a worker that exited
    still counts."""
    me = os.getpid()
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue
        # comm may hold spaces and parens: split after the last ')'
        rest = s[s.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(rest[1])
        cpu[pid] = sum(int(x) for x in rest[11:15]) / _TICK
    tree = {}
    for pid in cpu:
        p = pid
        for _ in range(64):
            if p == me:
                tree[pid] = cpu[pid]
                break
            p = parent.get(p, 0)
            if p <= 1:
                break
    return tree


def _anon_pss(pid: int) -> int:
    """Proportional anonymous memory of ``pid`` in bytes (heap, Python
    objects, numpy arrays), from ``smaps_rollup``. Pages a forked child
    still shares with its parent (the JVM forks for ``chmod``, the Python
    daemon forks workers) are split between them instead of counted
    twice; file-backed pages such as memory-mapped CSR blocks live in the
    shared page cache and are left out."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss_Anon:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    return sum(_tree().values())


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process the run started (JVM, Python worker daemon and workers) has
    exited; kill what is left at ``timeout``."""
    from pyspark import SparkContext

    started = set(_tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while started and time.monotonic() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def steal_s() -> float:
    """Machine-wide hypervisor steal in CPU seconds (/proc/stat). A
    diagnostic only: runs are never dropped for it."""
    with open("/proc/stat") as f:
        for line in f:
            parts = line.split()
            if parts and parts[0] == "cpu":
                return int(parts[8]) / _TICK if len(parts) > 8 else 0.0
    return 0.0


class RssSampler:
    """Samples the process tree's proportional anonymous memory every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the largest
    sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        rss = sum(_anon_pss(pid) for pid in _tree())
        with self._lock:
            self._peak = max(self._peak, rss)

    @property
    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak / 2**20


class Tracer:
    """Spans around public calls, kept in memory and written at exit.

    Disabled, ``span`` only yields. Enabled, each span gets its own Spark
    job group so the status tracker can count the jobs, stages, tasks and
    failed tasks it ran, and records process-tree CPU and machine steal
    across the call. ``overhead_s`` sums the time the bookkeeping itself
    took, i.e. what tracing adds to a traced job."""

    def __init__(self, spark, *, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # time spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.monotonic()
        sc = self.spark.sparkContext
        sid = len(self.spans)
        group = f"{self.run_id}-{sid}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(group, name)
        cpu0, steal0 = tree_cpu_s(), steal_s()
        rec["start"] = time.monotonic()
        self.overhead_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            rec["cpu_s"] = tree_cpu_s() - cpu0
            rec["steal_s"] = steal_s() - steal0
            self._stack.pop()
            parent = self.spans[self._stack[-1]] if self._stack else None
            sc.setJobGroup(
                f"{self.run_id}-{parent['id']}" if parent else "untraced",
                parent["name"] if parent else "untraced",
            )
            rec.update(_group_counts(sc, group))
            self.overhead_s += time.monotonic() - rec["end"]

    def reset(self) -> None:
        self.spans = []
        self.overhead_s = 0.0


def _group_counts(sc, group: str) -> dict:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            if st is None:
                continue
            stages += 1
            tasks += st.numCompletedTasks + st.numFailedTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the time its direct children
    cover (children of one span run one after another)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


class Interrupted(RuntimeError):
    """Raised by :class:`TimedCheckpointStore` to stop a job after a
    chosen superstep, as a crash would."""


class TimedCheckpointStore(CheckpointStore):
    """``CheckpointStore`` that counts and times its own calls, records a
    span around each, and can interrupt the job once lineage for
    superstep ``interrupt_after`` is written (state for that superstep is
    then complete on disk, so a second identical call resumes from it)."""

    def __init__(self, spark, base_dir: str, *, tracer: Tracer,
                 interrupt_after: int | None = None):
        super().__init__(spark, base_dir)
        self.tracer = tracer
        self.interrupt_after = interrupt_after
        self.calls = {
            name: [0, 0.0]
            for name in ("write_state", "write_lineage", "latest_complete")
        }

    @contextmanager
    def _timed(self, name: str):
        t0 = time.monotonic()
        with self.tracer.span(f"plans.checkpoint.{name}"):
            yield
        c = self.calls[name]
        c[0] += 1
        c[1] += time.monotonic() - t0

    def write_state(self, state, iteration):
        with self._timed("write_state"):
            return super().write_state(state, iteration)

    def write_lineage(self, iteration, per_partition, wall_time):
        with self._timed("write_lineage"):
            super().write_lineage(iteration, per_partition, wall_time)
        if iteration == self.interrupt_after:
            self.interrupt_after = None
            raise Interrupted(f"interrupted after superstep {iteration}")

    def latest_complete(self):
        with self._timed("latest_complete"):
            return super().latest_complete()


def dir_mb(path: str) -> float:
    """Size of the files under ``path`` in MiB."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 2**20


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
