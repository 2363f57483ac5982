"""Shared pieces of the benchmark: the run environment, the tracer, the
process-tree memory sampler, the contention probe and the statistics.

Nothing here imports ``kasper_spark``; the workload modules do.
"""

from __future__ import annotations

import ast
import contextlib
import os
import subprocess
import tempfile
import threading
import time
import uuid

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")  # scratch of one run, removed at exit
OUT = os.path.join(HERE, "out")  # trace records, kept (ignored by git)


def prepare_environment(work: str) -> None:
    """Point every writer the run starts at ``work``: Python's tempfile
    (driver and, through the JVM's environment, the Python workers),
    Spark's local dirs and, for spark-submit's launcher JVM, the JVM's
    tmpdir. The driver JVM gets the same options from
    ``session_overrides``; its heap is left to ``get_spark``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = _java_opts(work)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    tempfile.tempdir = tmp


def _java_opts(work: str) -> str:
    # -XX:-UsePerfData: no perf-data file under the system temp dir
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def session_overrides(work: str) -> dict[str, str]:
    """Session settings that only move where the run writes. The driver
    JVM is launched with the session's settings, so its options apply."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": _java_opts(work),
    }


def contention_probe() -> dict:
    """Foreign live JVMs and the load average, taken before the run's own
    JVM starts, so a contended record can be told apart."""
    out = subprocess.run(
        ["ps", "-eo", "pid=,stat=,comm="], capture_output=True, text=True, timeout=10
    ).stdout
    jvms = [
        int(parts[0])
        for parts in (line.split() for line in out.splitlines())
        if len(parts) >= 3 and parts[2] == "java" and not parts[1].startswith("Z")
    ]
    return {"foreign_live_jvms": len(jvms), "loadavg": list(os.getloadavg())}


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to others between two reads."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


# ---- tracing ---------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into the program's layers.

    A span has a name, start, end (epoch seconds, from
    ``time.perf_counter``), its own id and its parent's id; all spans of
    one run carry the tracer's ``run_id``. Spans are kept in memory and
    written out by the caller at the end. A disabled tracer records nothing
    and costs one branch.

    Callbacks from the engine (foreachBatch) run on another thread; their
    parent is the innermost span open on the main thread when they start.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.get_ident()
        self._epoch = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"run": self.run_id, "name": name, "parent": parent, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = self._epoch + time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = self._epoch + time.perf_counter()
            stack.pop()

    def durations_ms(self, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and "end" in s
        ]

    def self_time_s(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s.get("parent") is not None and "end" in s:
                children[s["parent"]] = children.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                own = (s["end"] - s["start"]) - children.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


# ---- memory ----------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int, exclude=frozenset()) -> list[int]:
    """``root`` and its live descendants, skipping the subtrees of the pids
    in ``exclude``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Resident memory of this process and its descendants (driver, JVM,
    Python workers), sampled every ``interval`` seconds: the peak over the
    run and the median over the measured window (``start_window`` to
    ``end_window``). Pids listed in ``exclude`` (the load generator) and
    their descendants are skipped."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._window: list[int] | None = None
        self.window_kb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start_window(self) -> None:
        self._window = self.window_kb  # windows of one run pool their samples

    def end_window(self) -> None:
        self._window = None

    def _sample(self) -> int:
        return sum(_rss_kb(pid) for pid in process_tree(os.getpid(), self.exclude))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            kb = self._sample()
            self.peak_kb = max(self.peak_kb, kb)
            window = self._window
            if window is not None:
                window.append(kb)

    def __enter__(self):
        self.peak_kb = self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def window_median_mb(self) -> float:
        return p50(self.window_kb) / 1024.0


# ---- statistics ------------------------------------------------------------


def weighted_percentile(values, weights, q: float) -> float:
    """Percentile ``q`` (0-100) of ``values`` where each value stands for
    ``weights`` samples (the events of one partition file share one
    latency): the smallest value whose cumulative share reaches q."""
    v = np.asarray(values, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    order = np.argsort(v, kind="mergesort")
    v, w = v[order], w[order]
    cum = np.cumsum(w)
    idx = int(np.searchsorted(cum, q / 100.0 * cum[-1], side="left"))
    return float(v[min(idx, len(v) - 1)])


def p50(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


def progress_ms(p: dict, key: str) -> float:
    return float((p.get("durationMs") or {}).get(key, 0))


def engine_counts(spark, groups) -> dict[str, int]:
    """Jobs, stages and tasks the engine ran in the given job groups (a
    streaming query run's micro-batches run in a group named by its runId)."""
    st = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0}
    for group in groups:
        for job in st.getJobIdsForGroup(str(group)):
            info = st.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    out["stages"] += 1
                    out["tasks"] += stage.numTasks
    return out


def end_offsets(src: dict) -> dict[int, int]:
    """Per-partition end offsets of one source of a progress event."""
    end = src["endOffset"]
    if isinstance(end, str):  # the progress object renders it as a dict repr
        end = ast.literal_eval(end)
    return {int(p): int(v) for p, v in (end or {}).items()}


def stop_process(proc: subprocess.Popen, timeout: float = 10.0) -> None:
    """Terminate a child and wait until it has ended."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
