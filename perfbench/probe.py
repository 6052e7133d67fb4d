"""Measurement helpers: process memory, spans and the Spark event log.

Everything here observes the pipeline from outside: memory is read from
``/proc``, spans wrap the benchmark's own calls into each module, and
engine totals come from the event log Spark writes when it is enabled
with ``spark.eventLog.enabled``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
import uuid


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes counted 1/n (forked Python workers share most pages)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root_pid: int) -> float:
    """Memory of ``root_pid`` and all its descendants, in MiB: the
    Spark driver JVM plus the Python worker daemons and workers."""
    total, stack, seen = 0, [root_pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _pss_kb(pid)
        stack.extend(_children(pid))
    return total / 1024.0


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters (the ``cpu`` line of
    ``/proc/stat``: user, nice, system, idle, iowait, irq, softirq,
    steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other guests (steal): how contended the host was."""
    d = [a - b for a, b in zip(after[:8], before[:8])]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


# one /proc walk per second: peaks last for whole builds, and a walk of
# the JVM plus a few Python workers costs well under a millisecond
SAMPLE_INTERVAL_S = 1.0


class MemorySampler:
    """Background sampler of :func:`tree_pss_mb`; ``peak_mb`` is the
    highest sum seen from the first :meth:`watch` until :meth:`stop`."""

    def __init__(self):
        self.peak_mb = 0.0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def watch(self, pid: int) -> None:
        """Add a process tree; sampling starts with the first one."""
        if pid in self._pids:
            return
        self._pids.append(pid)
        if self._thread is None:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(tree_pss_mb(p) for p in self._pids))

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()


class Spans:
    """In-memory span recorder: (trace, id, name, start, end, parent).
    ``enabled=False`` makes :meth:`span` a no-op so the untraced run
    pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:12]
        self.rows: list[dict] = []
        self._stack: list[str] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")

    def self_times(self) -> dict[str, float]:
        """Per-name total self time: a span's duration minus the part
        covered by its direct children."""
        child: dict[str, float] = {}
        for r in self.rows:
            if r["parent"]:
                child[r["parent"]] = child.get(r["parent"], 0.0) + r["end"] - r["start"]
        out: dict[str, float] = {}
        for r in self.rows:
            own = r["end"] - r["start"] - child.get(r["id"], 0.0)
            out[r["name"]] = out.get(r["name"], 0.0) + own
        return out


class _Span:
    def __init__(self, rec: Spans, name: str, attrs: dict):
        self.rec, self.name, self.attrs = rec, name, attrs

    def __enter__(self):
        if self.rec.enabled:
            self.id = uuid.uuid4().hex[:12]
            self.parent = self.rec._stack[-1] if self.rec._stack else None
            self.rec._stack.append(self.id)
            self.start = time.time()
        return self

    def __exit__(self, *exc):
        if self.rec.enabled:
            self.rec._stack.pop()
            self.rec.rows.append(
                {
                    "trace": self.rec.trace_id,
                    "id": self.id,
                    "name": self.name,
                    "start": self.start,
                    "end": time.time(),
                    "parent": self.parent,
                    "error": exc[0].__name__ if exc[0] else None,
                    **self.attrs,
                }
            )
        return False


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> list[dict]:
    """Every finished task in the event logs under ``log_dir``: stage,
    launch/finish (epoch seconds), shuffle bytes written and read, bytes
    spilled and JVM GC milliseconds.

    Tasks are attributed to the benchmark's actions by time window, not
    by job description: stages that adaptive execution submits on its
    own threads do not carry the caller's description."""
    tasks = []
    # rolling event logs are a directory per application
    paths = sorted(
        os.path.join(root, name)
        for root, _dirs, files in os.walk(log_dir)
        for name in files
        if not name.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                info = ev.get("Task Info") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "finish": info.get("Finish Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                    }
                )
    return tasks


def in_window(tasks: list[dict], start: float, end: float) -> list[dict]:
    """Tasks that finished inside [start, end] (epoch seconds)."""
    return [t for t in tasks if start <= t["finish"] <= end]


def shuffle_stage_skew(tasks: list[dict]) -> float:
    """max / median task time of the last stage that reads shuffle
    data (1.0 = perfectly even)."""
    stages = sorted({t["stage"] for t in tasks if t["shuffle_read"] > 0})
    if not stages:
        return 1.0
    durs = [t["finish"] - t["launch"] for t in tasks if t["stage"] == stages[-1]]
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0
