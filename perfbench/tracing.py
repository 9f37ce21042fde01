"""Measurement plumbing: spans, the Spark event log, streaming
progress and process-tree memory.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent, shared run id), kept in memory and written
once at the end.  A span also names the Spark job group of the jobs
launched inside it, so event-log counters can be attributed to the
layer whose call launched them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
import uuid


class Tracer:
    """Span recorder.  Disabled, it only times (the untraced runs)."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"run_id": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec)
            self.spark.sparkContext.setJobGroup(f"{self.run_id}:{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if self._stack:
                    top = self._stack[-1]
                    self.spark.sparkContext.setJobGroup(
                        f"{self.run_id}:{top['id']}", top["name"])
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def group_ids(self, name: str, within: dict | None = None) -> set[str]:
        """Job-group ids of the spans called ``name`` (below ``within``)."""
        keep = {s["id"] for s in self.spans if s["name"] == name}
        if within is not None:
            keep = {i for i in keep if self._descends(i, within["id"])}
        return {f"{self.run_id}:{i}" for i in keep}

    def subtree(self, root: dict) -> list[dict]:
        return [s for s in self.spans if self._descends(s["id"], root["id"])]

    def subtree_ids(self, root: dict) -> set[str]:
        """Job-group ids of ``root`` and every span below it."""
        return {f"{self.run_id}:{s['id']}" for s in self.subtree(root)}

    def _descends(self, sid: int, root: int) -> bool:
        while sid is not None:
            if sid == root:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")


class EventLog:
    """Per-job-group counters parsed from a finished Spark event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}       # job id -> {group, stages}
        self.stage_acc: dict[int, dict] = {}  # stage id -> accumulables
        self.tasks: dict[int, list] = {}      # stage id -> task records
        # Spark 4 writes rolling logs: a directory of event files per app
        for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
            if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
                continue
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = self.stage_acc.setdefault(info["Stage ID"], {})
            for a in info.get("Accumulables", []):
                try:
                    acc[a.get("Name")] = acc.get(a.get("Name"), 0) + float(a["Value"])
                except (TypeError, ValueError, KeyError):
                    pass
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            dur = info["Finish Time"] - info["Launch Time"]
            run = m.get("Executor Run Time", 0)
            overhead = (m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0))
            self.tasks.setdefault(ev["Stage ID"], []).append({
                "dur_ms": dur,
                "run_ms": run,
                "sched_ms": max(0, dur - run - overhead),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "in_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
            })

    def stages_of(self, groups: set[str]) -> list[int]:
        return sorted({s for j in self.jobs.values() if j["group"] in groups
                       for s in j["stages"] if s in self.tasks})

    def totals(self, groups: set[str]) -> dict:
        """Job/stage/task counts and summed task counters for ``groups``."""
        stages = self.stages_of(groups)
        tasks = [t for s in stages for t in self.tasks[s]]
        out = {"jobs": sum(1 for j in self.jobs.values() if j["group"] in groups),
               "stages": len(stages), "tasks": len(tasks)}
        for k in ("run_ms", "sched_ms", "gc_ms", "shuffle_write", "spill",
                  "in_bytes", "in_rows"):
            out[k] = sum(t[k] for t in tasks)
        return out

    def python_stages(self, groups: set[str]) -> list[int]:
        """Stages that shipped rows to Python workers."""
        return [s for s in self.stages_of(groups)
                if self.stage_acc.get(s, {}).get("data sent to Python workers", 0) > 0]

    def acc_sum(self, stages: list[int], name: str) -> float:
        return sum(self.stage_acc.get(s, {}).get(name, 0) for s in stages)

    def task_skew(self, stages: list[int]) -> float:
        """max / median task duration, over the tasks of ``stages``."""
        durs = [t["dur_ms"] for s in stages for t in self.tasks[s]]
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0


def tail_percentile(values: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it.

    With fewer than 20 samples no percentile at or above the median
    leaves ten beyond it, so the maximum is reported and named so.
    """
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return f"max_of_{n}", xs[-1]
    return f"p{100 * (n - 10) // n}_of_{n}", xs[n - 11]


def _parents() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                out[int(stat.split("/")[2])] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    """The kernel's resident-set high-water mark of ``pid``."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRss:
    """Peak memory of this process and all its live descendants (the
    JVM and its Python workers), polled from /proc every ``period`` s:
    the largest sum, over one poll, of the live processes' resident-set
    high-water marks.  Each process's own peak is exact; a worker that
    has exited no longer counts, and neither does a child of the JVM
    that still runs the JVM's binary: the JVM forks itself to run shell
    commands (file permissions on the local file system), and until the
    ``exec`` that child reports the JVM's whole resident set again."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def sample(self) -> None:
        parents = _parents()
        tree, frontier = {os.getpid()}, {os.getpid()}
        while frontier:
            frontier = {p for p, pp in parents.items() if pp in frontier} - tree
            tree |= frontier
        exe = {pid: _exe(pid) for pid in tree}
        forks = {pid for pid in tree if parents.get(pid) in exe
                 and exe[pid] == exe[parents[pid]] and exe[pid].endswith("/java")}
        self.peak_kb = max(self.peak_kb, sum(_hwm_kb(pid) for pid in tree - forks))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()
