"""Measurements taken from outside the program: process-tree RSS from
``/proc`` and Spark's own JSON event log; and the process-tree clean-up
that ends every process a run started."""

from __future__ import annotations

import ctypes
import glob
import json
import os
import signal
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> tuple[dict[int, tuple[int, int, int]], dict[int, list[int]]]:
    """(parent pid, virtual size, RSS in bytes) of every process, and the
    children of every process."""
    procs: dict[int, tuple[int, int, int]] = {}
    children: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                s = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces; the fields after it are fixed
        pid, fields = int(s[: s.index(" ")]), s[s.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        procs[pid] = (ppid, int(fields[20]), int(fields[21]) * _PAGE)
        children.setdefault(ppid, []).append(pid)
    return procs, children


def _below(root_pid: int, children: dict[int, list[int]]) -> list[int]:
    found, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def descendants(root_pid: int) -> list[int]:
    """Every process below ``root_pid``, zombies included."""
    return _below(root_pid, _proc_table()[1])


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants: this Python
    process, the JVM it launched and the JVM's Python workers.

    A child whose virtual size and RSS equal its parent's is skipped: it
    is a child between ``vfork`` (or ``fork``) and ``exec``, whose pages are
    its parent's.  The JVM starts every subprocess that way, and counting
    such a child once more added the JVM's whole 2.6 GB to a sample."""
    procs, children = _proc_table()
    total = procs.get(root_pid, (0, 0, 0))[2]
    for pid in _below(root_pid, children):
        ppid, vsize, rss = procs[pid]
        if (vsize, rss) != procs.get(ppid, (0, 0, 0))[1:]:
            total += rss
    return total


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so ``end_descendants`` can wait for the
    Python workers that outlive the JVM that forked them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 60.0, kill_after_s: float = 10.0) -> None:
    """Wait until every process this one started, directly or not, has
    ended and been reaped.  Processes still running after ``grace_s`` get
    SIGTERM, and SIGKILL ``kill_after_s`` later."""
    me = os.getpid()
    t_term = time.monotonic() + grace_s
    t_kill = t_term + kill_after_s
    while True:
        _reap_children()
        alive = descendants(me)
        if not alive:
            return
        now = time.monotonic()
        if now >= t_term:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL if now >= t_kill else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds while
    active; ``peak_mb`` is the largest sample seen."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        assert self._thread is not None
        self._thread.join()

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application that logged into ``log_dir``
    (call after ``spark.stop()``, which flushes the log)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _event_time(e: dict) -> float | None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        return e["Submission Time"]
    if kind == "SparkListenerJobEnd":
        return e["Completion Time"]
    if kind == "SparkListenerTaskEnd":
        return e["Task Info"]["Finish Time"]
    if kind.endswith("SQLExecutionStart") or kind.endswith("SQLExecutionEnd"):
        return e["time"]
    return None


def window(events: list[dict], t0_ms: float, t1_ms: float) -> list[dict]:
    """The events logged between wall-clock times t0_ms and t1_ms.

    The log is written in posting order, so the window is the index range
    between the first timed event at or after t0_ms and the last one at or
    before t1_ms; untimed events (block updates) inside it belong to it.
    Windows rather than job groups select the work, because the build
    submits some jobs from its own thread pool, and job-group properties
    do not follow jobs onto new Python threads."""
    lo, hi = len(events), -1
    for i, e in enumerate(events):
        t = _event_time(e)
        if t is None:
            continue
        if t >= t0_ms and i < lo:
            lo = i
        if t <= t1_ms:
            hi = i
    return events[lo : hi + 1]


def engine_metrics(events: list[dict]) -> dict[str, float]:
    """Spark engine counters over a window of events."""
    jobs = sum(e["Event"] == "SparkListenerJobStart" for e in events)
    tasks_by_stage: dict[int, list[float]] = {}
    m = dict.fromkeys(
        ("exec_run_s", "exec_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"),
        0.0,
    )
    peak_mem = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        tm = e.get("Task Metrics") or {}
        run_ms = tm.get("Executor Run Time", 0)
        tasks_by_stage.setdefault(e["Stage ID"], []).append(run_ms)
        m["exec_run_s"] += run_ms / 1e3
        m["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics", {})
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        peak_mem = max(peak_mem, tm.get("Peak Execution Memory", 0))
    # skew in the widest stage (most tasks; ties go to the most run time)
    widest = max(tasks_by_stage.values(), key=lambda ts: (len(ts), sum(ts)), default=[0])
    med = statistics.median(widest)
    m.update(
        jobs=jobs,
        tasks=sum(len(ts) for ts in tasks_by_stage.values()),
        peak_exec_mem_mb=peak_mem / (1 << 20),
        task_skew=max(widest) / med if med else 1.0,
    )
    return m


def rdd_block_bytes(events: list[dict]) -> int:
    """Bytes of RDD blocks stored (first store of each block id): what
    ``localCheckpoint`` keeps."""
    seen: set[str] = set()
    total = 0
    for e in events:
        if e["Event"] != "SparkListenerBlockUpdated":
            continue
        info = e["Block Updated Info"]
        bid = info["Block ID"]
        size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
        if bid.startswith("rdd_") and size and bid not in seen:
            seen.add(bid)
            total += size
    return total


def sql_plans(events: list[dict]) -> list[str]:
    """Physical plan descriptions of the SQL executions in a window."""
    return [e["physicalPlanDescription"] for e in events if e["Event"].endswith("SQLExecutionStart")]
