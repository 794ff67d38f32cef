"""Per-layer measurements read from outside the package.

- :func:`parse_event_log` folds a Spark event log (JSON lines) into
  per-job-group counts and task metrics. The harness puts every op
  phase in its own job group, so the fold splits Spark's work by op.
- :func:`walk_tree` counts what a warehouse load left on disk.
- :func:`vm_hwm_mb` reads a process's peak resident memory.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field



@dataclass
class GroupStats:
    """Spark work done under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    #: (submission, completion) of each finished job, epoch seconds.
    intervals: list[tuple[float, float]] = field(default_factory=list)


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Fold event-log lines into :class:`GroupStats` keyed by job group.

    Jobs without a group are keyed by ``""``. A stage counts once, for
    the first job that lists it, and only if it ran (skipped stages
    never complete).
    """
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job = ev["Job ID"]
            job_group[job] = group
            job_start[job] = ev["Submission Time"] / 1000.0
            for stage in ev.get("Stage IDs", []):
                stage_group.setdefault(stage, group)
            groups.setdefault(group, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_start:
                groups[job_group[job]].intervals.append((job_start[job], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"], "")
            groups.setdefault(group, GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupStats())
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            read = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return groups


def read_event_logs(log_dir: str) -> dict[str, GroupStats]:
    """Parse every event log under ``log_dir`` (one plain file per application)."""
    lines: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue  # checksums
        with open(os.path.join(log_dir, name)) as fh:
            lines.extend(fh)
    return parse_event_log(lines)


def walk_tree(path: str) -> dict[str, int]:
    """Data files, ``key=value`` partition directories and data bytes
    under ``path``; checksum and ``_``/``.``-prefixed marker files are
    not data."""
    files = partitions = size = 0
    for dirpath, _dirs, names in os.walk(path):
        if "=" in os.path.basename(dirpath):
            partitions += 1
        for name in names:
            if name.startswith(("_", ".")) or name.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return {"files": files, "partitions": partitions, "bytes": size}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB, 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
