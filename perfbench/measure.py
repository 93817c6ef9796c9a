"""Measurement probes: span tracer, process-tree RSS sampler, pure-CPU
control probe, and the Spark event-log reader for engine counters."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from .stats import self_times


def cpu_control() -> float:
    """Fixed driver-side NumPy workload; its wall time shows when the
    machine itself was slow during a run. Same workload as the
    ``cpu_control`` probe of the repository's ``bench.py``."""
    arr = np.arange(2_000_000, dtype=np.int64) * 2654435761 % 1_000_003
    t0 = time.perf_counter()
    for _ in range(8):
        arr = pd.util.hash_array(arr).astype(np.int64)
    return time.perf_counter() - t0


class Tracer:
    """In-memory spans (name, start, end, parent); the caller writes them
    out once, at the end of the run, from :meth:`records`.

    ``on_enter(name)`` runs as a span opens, and again with the parent's
    name (or None) as it closes — the benchmark uses it to tag the Spark
    jobs each span submits with a job group, so the event log can be
    attributed to the innermost open span afterwards."""

    def __init__(self, on_enter=None, clock=time.perf_counter):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._on_enter = on_enter
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": None,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._on_enter is not None:
            self._on_enter(name)
        rec["start"] = self._clock()
        try:
            yield
        finally:
            rec["end"] = self._clock()
            self._stack.pop()
            if self._on_enter is not None:
                self._on_enter(
                    self.spans[self._stack[-1]]["name"] if self._stack else None
                )

    def self_time(self, name: str) -> float:
        """Summed self time of every span called ``name``."""
        st = self_times(self.spans)
        return sum(st[s["id"]] for s in self.spans if s["name"] == name)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def records(self) -> list[dict]:
        """Every span with its self time, for the trace file."""
        st = self_times(self.spans)
        return [dict(s, self_s=st[s["id"]]) for s in self.spans]


# ---------------------------------------------------------------------------
# /proc: resident memory of this process and every descendant (the JVM the
# Spark driver runs in, and the Python workers the JVM forks). psutil is not
# available, so the tree is rebuilt from /proc/<pid>/stat on every sample.
# Memory is the proportional set size: the Python workers are forked from
# one daemon and share most of their pages with it, and summing plain RSS
# would count those pages once per worker.
# ---------------------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces or parens: split after it
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(entry)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, []):
            out.append(k)
            todo.append(k)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid``; 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def tree_memory_bytes(root: int) -> int:
    return sum(_pss_bytes(p) for p in [root, *descendants(root)])


class PeakRSS:
    """Background sampler of the process tree's summed resident memory;
    ``peak`` is the largest sum seen between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.2, root: int | None = None):
        self.interval = interval
        self.root = os.getpid() if root is None else root
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRSS":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_memory_bytes(self.root))
        return self.peak


# ---------------------------------------------------------------------------
# Spark event log (spark.eventLog.enabled): per-job-group engine counters.
# ---------------------------------------------------------------------------

GROUP_KEY = "spark.jobGroup.id"


def _empty_counters() -> dict:
    return {
        "executor_run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "task_failures": 0,
        "index_records_read": 0,
    }


def read_event_log(path: str, index_tables: tuple[str, ...] = ()) -> dict[str, dict]:
    """Sum task metrics per job group over one application's event log.

    ``index_records_read`` counts input records of stages whose RDD
    lineage scans one of ``index_tables`` (matched on the scan's
    operator-scope name), i.e. rows read from those tables."""
    stage_group: dict[int, str] = {}
    stage_scans_index: dict[int, bool] = {}
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                stage_group.setdefault(info["Stage ID"], group)
                scopes = " ".join(
                    str(r.get("Scope", "")) + " " + str(r.get("Name", ""))
                    for r in info.get("RDD Info", [])
                )
                stage_scans_index[info["Stage ID"]] = any(
                    t in scopes for t in index_tables
                )
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                c = out.setdefault(group, _empty_counters())
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    c["task_failures"] += 1
                m = ev.get("Task Metrics") or {}
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000
                c["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                if stage_scans_index.get(ev["Stage ID"]):
                    c["index_records_read"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    return out


def find_event_log(log_dir: str) -> str:
    """The single application log a run wrote into ``log_dir``."""
    logs = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])
