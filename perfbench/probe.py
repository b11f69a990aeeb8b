"""Measurement helpers that observe the pipeline from outside.

* ``RssSampler``: peak resident memory of this process and every
  process it started (the driver JVM and its Python workers), read
  from ``/proc``.
* ``SinkWatcher``: when each output file of a sink first became
  visible to a reader.
* ``progress_medians``: per-micro-batch durations and state sizes from
  ``StreamingQuery.recentProgress``.
* ``fold_event_log``: task counts, CPU, GC, shuffle and spill per job
  group from an uncompressed Spark event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry.name))
    return tree


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    tree = _children()
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


class SinkWatcher:
    """Records the time each data file of a sink was first seen.

    ``raw_dir`` is a month-partitioned directory written by
    ``DataFrameWriter`` (a file is readable once it appears there);
    ``alerts_dir`` is a streaming file sink (a file is readable once a
    ``_spark_metadata`` log entry lists it).
    """

    def __init__(self, raw_dir: str, alerts_dir: str):
        self.raw_dir, self.alerts_dir = raw_dir, alerts_dir
        self.meta_dir = os.path.join(alerts_dir, "_spark_metadata")
        self.raw_seen: dict[str, float] = {}
        self.meta_seen: dict[str, float] = {}

    def poll(self) -> None:
        now = time.time()
        for part in _scandir(self.raw_dir):
            if part.name.startswith("month="):
                for f in _scandir(part.path):
                    if f.name.endswith(".parquet") and f.path not in self.raw_seen:
                        self.raw_seen[f.path] = now
        for f in _scandir(self.meta_dir):
            if not f.name.startswith(".") and f.name not in self.meta_seen:
                self.meta_seen[f.name] = now

    def alert_file_seen(self) -> dict[str, float]:
        """Alert data file path -> time its batch's log entry appeared."""
        seen: dict[str, float] = {}
        for name, t in self.meta_seen.items():
            with open(os.path.join(self.meta_dir, name)) as f:
                for line in f.read().splitlines()[1:]:
                    path = local_path(json.loads(line)["path"])
                    seen[path] = min(t, seen.get(path, t))
        return seen


def _scandir(path: str):
    try:
        return list(os.scandir(path))
    except FileNotFoundError:
        return []


def local_path(uri: str) -> str:
    """Filesystem path of a ``file:`` URI as Spark writes it."""
    from urllib.parse import unquote, urlparse

    return os.path.normpath(unquote(urlparse(uri).path))


_DURATIONS = {
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def progress_medians(progress: list[dict], since_ms: float, prefix: str) -> dict[str, float]:
    """Median per-batch durations, row counts and state sizes of the
    batches that started at or after ``since_ms`` and read rows."""
    from datetime import datetime

    def started(p):
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000

    batches = [p for p in progress if p["numInputRows"] > 0 and started(p) >= since_ms]
    out = {f"{prefix}.batches": float(len(batches))}
    if not batches:
        return out
    for name, key in _DURATIONS.items():
        out[f"{prefix}.{name}"] = statistics.median(p["durationMs"].get(key, 0) for p in batches)
    out[f"{prefix}.rows_per_batch"] = statistics.median(p["numInputRows"] for p in batches)
    out[f"{prefix}.rows_per_s"] = statistics.median(
        p["numInputRows"] / max(p["durationMs"]["triggerExecution"], 1) * 1000 for p in batches
    )
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    if ops:
        out[f"{prefix}.state_commit_ms"] = statistics.median(o.get("commitTimeMs", 0) for o in ops)
        out[f"{prefix}.state_rows"] = float(ops[-1].get("numRowsTotal", 0))
        out[f"{prefix}.state_memory_bytes"] = float(ops[-1].get("memoryUsedBytes", 0))
    return out


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            total += 0.0 if cur_e is None else cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (0.0 if cur_e is None else cur_e - cur_s)


def fold_event_log(
    log_dir: str, spans: dict[str, list[tuple[float, float]]], aliases: dict[str, str]
) -> dict[str, dict[str, float]]:
    """Fold ``SparkListenerTaskEnd`` events per job group.

    ``spans`` maps each job group to the (start, end) wall times of the
    calls it tagged; tasks launched outside them are left out. Returns,
    per group and averaged per call: tasks, task CPU seconds, GC
    seconds, shuffle-write bytes, spill bytes and ``driver_gap_s``, the
    part of the call in which no task of the group was running. ``aliases`` renames job groups, such as the run
    id a streaming query tags its jobs with.
    """
    stage_group: dict[int, str] = {}
    acc = {g: {"tasks": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0,
               "spill_bytes": 0.0} for g in spans}
    busy: dict[str, list[tuple[float, float]]] = {g: [] for g in spans}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    group = aliases.get(group, group)
                    if group in acc:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    info = ev["Task Info"]
                    launch = info["Launch Time"] / 1e3
                    if group is None or not any(s <= launch < e for s, e in spans[group]):
                        continue
                    a, m = acc[group], ev.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    busy[group].append((launch, info["Finish Time"] / 1e3))
    for group, a in acc.items():
        covered = _union_length(
            (max(s, ss), min(e, se)) for ss, se in spans[group] for s, e in busy[group]
            if min(e, se) > max(s, ss)
        )
        a["driver_gap_s"] = max(_union_length(spans[group]) - covered, 0.0)
        for field in a:
            a[field] /= len(spans[group])
    return acc
