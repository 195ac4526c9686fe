"""Measurements taken from outside the program: host load, the memory of
the benchmark's process tree, and task metrics folded from the Spark
event log by job group."""

from __future__ import annotations

import glob
import json
import os
import signal
import threading
import time
from collections import defaultdict


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_fraction(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue  # the process ended while we listed it
        # the command name is parenthesised and may hold spaces
        rest = raw[raw.rindex(")") + 2 :].split()
        kids[int(rest[1])].append(int(raw.split(" ", 1)[0]))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, parents before children."""
    return _tree(root)[1:]


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] not in "ZXx"  # a zombie has ended


def end_processes(pids: list[int], grace_s: float = 10.0) -> list[int]:
    """Send SIGTERM, then SIGKILL, to each of ``pids`` still running and
    wait until every one has ended.  Returns the pids that outlived both
    signals (empty when all ended)."""
    left = [p for p in pids if _running(p)]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass  # it ended meanwhile
        deadline = time.monotonic() + grace_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = [p for p in left if _running(p)]
        if not left:
            break
    return left


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its descendants,
    including children they have reaped (stolen time is not counted)."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # the process ended while we listed it
        f = raw[raw.rindex(")") + 2 :].split()
        ticks += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue  # the process ended while we listed it
    return total


class PeakRss:
    """Samples the summed RSS of this process tree (Python driver, the
    JVM it launched and the JVM's Python workers) until stopped."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def _event_files(log_dir: str) -> list[str]:
    # plain file per application, or a rolling eventlog_v2_* directory
    files = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            files.extend(sorted(glob.glob(os.path.join(path, "events_*"))))
        else:
            files.append(path)
    return files


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per ``spark.jobGroup.id``.

    Stages map to the group of the job that submitted them; a stage
    reused by a later job stays with its first job.  Times are seconds,
    sizes bytes."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                    out[group]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "none")
                    out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "none")
                    g = out[group]
                    g["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    if reason != "Success":
                        g["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return {k: dict(v) for k, v in out.items()}


def merge_groups(folded: dict[str, dict[str, float]], prefixes: list[str]) -> dict[str, float]:
    """Sum the folded metrics of every group whose id starts with one of
    ``prefixes``."""
    total: dict[str, float] = defaultdict(float)
    for group, metrics in folded.items():
        if group.startswith(tuple(prefixes)):
            for k, v in metrics.items():
                total[k] += v
    return dict(total)
