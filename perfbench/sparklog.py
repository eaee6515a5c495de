"""Offline readers for what a Spark application leaves behind: the
JSON event log (task metrics per stage) and /proc (resident memory of
the benchmark's process tree, JVM and Python workers included).

Resident memory is summed as PSS (proportional set size): Spark forks
its Python workers from one daemon, so plain RSS would count every
copy-on-write page once per fork and swing with how many forks happen
to be alive at the sampling instant."""

from __future__ import annotations

import json
import os
import statistics
import threading
from pathlib import Path

PHASE_PROPERTY = "perfbench.phase"
# the physical operator that runs the Arrow-batch extraction kernel
_EXTRACT_SCOPE = "MapInArrow"


def event_log_conf(log_dir: Path) -> dict:
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _events(log_dir: Path):
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with path.open() as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def phase_task_metrics(log_dir: Path, phase: str) -> dict:
    """Task metrics of the jobs tagged with ``phase`` (a local property
    set around the traced call).  Task times are for the stage running
    the extraction kernel; byte and GC totals cover every stage of the
    tagged jobs."""
    stages: set[int] = set()
    extract_stages: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if (ev.get("Properties") or {}).get(PHASE_PROPERTY) == phase:
                stages.update(ev["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if any(
                _EXTRACT_SCOPE in (rdd.get("Scope") or "") or _EXTRACT_SCOPE in rdd.get("Name", "")
                for rdd in info.get("RDD Info", [])
            ):
                extract_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev))
    walls, gc_ms, shuffle_b, spill_b, out_b = [], 0, 0, 0, 0
    for stage_id, ev in tasks:
        if stage_id not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        gc_ms += m.get("JVM GC Time", 0)
        shuffle_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        if stage_id in extract_stages:
            info = ev["Task Info"]
            walls.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    if not walls:
        raise RuntimeError(f"event log has no extraction tasks for phase {phase!r}")
    mean = statistics.fmean(walls)
    return {
        "spark.extract_task_s_p50": statistics.median(walls),
        "spark.extract_task_s_max": max(walls),
        "spark.extract_task_skew": max(walls) / mean if mean else 1.0,
        "spark.shuffle_write_mb": shuffle_b / 1e6,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.spill_mb": spill_b / 1e6,
        "spark.output_mb": out_b / 1e6,
    }


def children_by_parent() -> dict[int, list[int]]:
    """Live process ids under each parent process id, from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory (PSS) of ``root`` and all its descendants."""
    kids = children_by_parent()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _pss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the process tree's summed resident memory on a
    background thread while the ``with`` block runs; ``peak_mb`` holds
    the maximum."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return False
